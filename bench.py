#!/usr/bin/env python3
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Execution uses the ``noop`` sink so timings cover the full distributed plan
(scan -> shuffle -> sink) without driver-collect overhead skewing results.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Headline set: every heavy execution pattern the engine exercises —
# partial-agg shuffle, join+round, global window, as-of union-window, event
# windows/sessions, vector scan, text scan, minhash LSH self-join.
BENCH_QUERIES = [
    "q_agg_pricing",
    "q_ohlc_daily",
    "q_join_convert",
    "q_sma_window",
    "q_asof_rate",
    "q_window_tumbling",
    "q_sessionize",
    "q_dedup_exact",
    "q_text_stats",
    "q_quality_score",
    "q_cosine_topk",
    "q_dedup_near_verified",
    "q_top_customers",
    "q_revenue_by_nation",
    "q_rollup_revenue",
    "q_set_ops",
    "q_rank_windows",
    "q_percentiles",
    "q_window_sliding",
    "q_embed_near_dup",
    "q_lang_id",
    "q_token_bpe",
    "q_rolling_fingerprint",
    "q_multimodal_meta",
    "q_split_assign",
    "q_source_quota",
    "q_pack_bins",
    "q_contamination",
    "q_dedup_clusters",
    "q_stratified_sample",
    "q_budget_mix",
    "q_tfidf_terms",
    "q_label_centroids",
    "q_interval_join",
    "q_quality_calibrated",
    "q_weighted_sample",
    # round-3 additions
    "q_boilerplate",
    "q_scrub_pii",
    "q_rep_ngrams",
    "q_indicators",
    "q_vwap",
    "q_corr",
    "q_title_dedup",
    "q_epoch_shuffle",
    # round-4 additions
    "q_temperature_mix",
    "q_cdc_overlap",
    "q_chunk_windows",
    "q_heavy_hitters",
    "q_inverted_index",
    "q_scd2",
    "q_dataset_diff",
    "q_anomaly_zscore",
    "q_bloom_prune",
    "q_cohort_retention",
    "q_funnel_steps",
    "q_lm_perplexity",
    "q_resample_ffill",
    "q_histogram",
    "q_winsorize",
    "q_sparse_topk",
    "q_group_trend",
    "q_temporal_split",
    "q_scd2_lookup",
    "q_transition_matrix",
    "q_image_near_dup",
    "q_dsir_weights",
    "q_pagerank",
    "q_mutual_info",
    "q_logreg",
    "q_block_dedup",
    "q_semantic_dedup",
    "q_target_encode",
    "q_discretize",
    "q_psi_drift",
    "q_linkage",
    "q_collocations",
    "q_agg_state",
    "q_acf",
    "q_session_paths",
    "q_triangles",
    "q_profile",
    "q_bm25",
    "q_basket_lift",
    "q_survival",
    "q_knn_graph",
    "q_auc",
    "q_calibration",
    "q_negative_samples",
    "q_join_profile",
    "q_random_projection",
    "q_bootstrap_ci",
    "q_change_point",
    "q_embedding_diag",
    "q_zipf",
    # round-5 additions. q_cross_split_leakage is NOT here: like
    # q_jaccard_pairs (whose verifier arithmetic it reuses) it is the
    # quadratic-by-design exact-verification mirror — production runs
    # MinHash-LSH candidates first — and is fenced from the headline set
    # per the established perf_weak convention (42.6 s at sf0.1 of
    # by-design within-block pairwise work).
    "q_vocab_coverage",
    "q_rolling_median",
    "q_attribution",
    "q_quantile_norm",
    "q_centroid_outliers",
    "q_corpus_divergence",
    "q_label_propagation",
    "q_bpe_merges",
    "q_bpe_segments",
    "q_ab_cuped",
    "q_markov_attribution",
    "q_graph_walks",
    "q_kcenter_coreset",
    "q_active_users",
    "q_conversion_latency",
    "q_rrf_fusion",
    "q_seasonal_profile",
    "q_retention_decay",
    "q_corpus_digest",
    "q_ks_test",
    # round-6 additions
    "q_mann_whitney",
    "q_chi2",
    "q_benford",
    "q_gini",
    "q_theilsen",
    "q_mann_kendall",
    "q_skew_stats",
    "q_hot_keys",
    "q_templates",
    "q_bigram_lm",
    "q_novelty",
    "q_fertility",
    "q_percentile_bands",
    "q_mad_outliers",
    "q_profile_diff",
    "q_ipw",
    "q_rfm",
    "q_label_noise",
    "q_skipgram",
    "q_weighted_median",
    "q_seasonal_anomaly",
    "q_ewma_chart",
    # round-7 additions
    "q_cusum",
    "q_kruskal",
    "q_spearman",
    "q_burstiness",
    "q_ndcg",
    "q_curriculum",
    "q_shard_balance",
    # round-8 additions
    "q_crosscorr",
    "q_avg_precision",
    "q_mrr",
    "q_silhouette",
    "q_source_overlap",
    "q_conformal",
    # late round-8 additions
    "q_kappa",
    "q_bh_fdr",
    "q_rbo",
    "q_gini_stump",
    "q_perm_test",
    # round-9 additions (web-corpus provenance)
    "q_url_canon",
    "q_domain_caps",
    "q_license_gate",
    "q_token_budget",
    "q_url_dedup",
    "q_curation_gated",
    "q_k_anonymity",
    "q_recrawl_keep",
    "q_principal_dir",
    # r10 — schema evolution & MERGE upsert (X129-X131)
    "q_schema_evolve",
    "q_schema_drift",
    "q_upsert_merge",
    "q_cdc_apply",
    "q_bradley_terry",
    "q_pref_cycles",
    # r11 — conformed ingest composition (X136) + ANN retrieval join
    "q_conformed_merge",
    "q_ann_join",
    "q_topk_diverse",
    "q_mmr_rerank",
    "q_ann_recall",
    # r11 — preference significance matrix (X143), exact k-means (X144),
    # learned-quantizer retrieval composition (X146)
    "q_winrate_ci",
    "q_kmeans_fit",
    "q_ann_join_learned",
    # r12 — persisted-IVF-index serving path (X147: save/load round-trip
    # + probe of the stored assignment table, the real retrieval shape)
    "q_ann_join_indexed",
    # r12 — index lifecycle: hot-cell split delta (X148), mini-batch
    # incremental refit (X149), reassignment-drift audit (X150)
    "q_ivf_cell_split",
    "q_kmeans_refit",
    "q_refit_moves",
    "q_refit_gated",
    # r13 — high-dim (512) narrow quantizer fit (X154), serving-only
    # probe of a session-prebuilt persisted index (X155 — the clean
    # serving number; q_ann_join_indexed keeps the full write+load
    # lifecycle cost), end-to-end index-maintenance composition (X153)
    "q_kmeans_fit_hd",
    "q_ann_serve",
    "q_index_lifecycle",
    # r13 — exact per-subspace PQ codebook fit (X156) and the IVF-PQ
    # retrieval composition served from the coded index (X157)
    "q_pq_fit",
    "q_ann_join_pq",
    # r13 — ADC shortlist -> exact rerank composition (X158), IVF-SQ8
    # integer-exact MIPS serving (X160)
    "q_pq_rerank",
    "q_ann_sq8",
    # r14 — bounded-sample high-dim quantizer fit (X161): the scale-safe
    # form of q_kmeans_fit_hd (O(sample) Lloyd iterations); PQ serving
    # from a PERSISTED coded index (X162): load + ADC probe only, the
    # q_ann_serve cost class for the PQ tier
    "q_kmeans_fit_sampled",
    "q_pq_serve",
    # r14 — SQ8 shortlist -> exact cosine rerank composition (X163)
    "q_sq8_rerank",
    # r14 — residual IVF-PQ retrieval (X164): the FAISS by_residual
    # layout in exact integer space; ingest is one pass (encode carries
    # the cell), serving is the q_ann_join_pq plan + one literal lookup
    "q_pq_residual",
    # r14 — filtered ANN from a stored materialized index (X165): the
    # metadata predicate reaches the index's parquet scan (PushedFilters)
    "q_ann_filtered",
    # r14 — tombstone-deleted coded-index serving (X166): load applies
    # the tombstone anti-join, probe only — the delete path's cost row
    "q_pq_serve_del",
    # r14 — 1-bit BQ Hamming tier (X167) + its exact-rerank composition
    # (X168): the smallest coded index (dim/8 bytes/row), bit_count(xor)
    # candidates inside one constant-width fold
    "q_ann_bq",
    "q_bq_rerank",
    # r14 — three-stage cascade funnel (X170): bit shortlist -> ADC
    # mid-rerank -> exact cosine top-k, every tier at its cheapest
    "q_ann_cascade",
    # r14 — BQ serving from a persisted bit index (X171): load +
    # Hamming probe only, the q_ann_serve cost class for the bit tier
    "q_bq_serve",
    # r14 — multi-word BQ packing oracle-exercised at dim 128 (X172)
    "q_ann_bq_wide",
]

# Deliberate non-bench registry entries. Every registered query must be in
# exactly one of BENCH_QUERIES or BENCH_EXCLUSIONS — pinned by
# tests/test_contract_queries.py::test_bench_covers_registry so a new family
# can never silently skip the bench: omitting it from both lists fails CI.
BENCH_EXCLUSIONS = [
    # Fenced quadratic exact mirrors of the LSH/banded scale paths — kept
    # out of the headline set by design (perf_weak fence, PERF.md r4/r6).
    "q_jaccard_pairs",
    "q_cross_split_leakage",
    # Rows-only sketch diagnostics: approximate outputs with no value
    # oracle; their exact stages are bench-covered via sibling queries.
    "q_cm_sketch",
    "q_distinct_sketch",
    "q_quantile_sketch",
    # Rows-only near-dup diagnostics; the benched baseline is
    # q_dedup_near_verified (MinHash LSH + exact verify), which dominates
    # the same plans.
    "q_dedup_near",
    "q_simhash",
    # Trivial reference-parity scans/filters (sub-100ms single-stage plans;
    # timing them measures session overhead, not the engine).
    "q_scan_project",
    "q_cast_types",
    "q_filter_today",
    "q_weekday_filter",
    "q_latest_row",
    "q_topn_recent",
    "q_anti_new_rows",
    "q_json_explode",
    "q_busday_gap",
    "q_incremental_merge",
    "q_doc_fingerprint",
    "q_pivot_daily",
    "q_cube_orders",
    # Partitioned-scale variants of benched single-series forms
    # (q_sma_window / q_asof_rate cover the same operators' hot plans).
    "q_sma_partitioned",
    "q_asof_partitioned",
    # Arrow mapInPandas decode path with deterministic stand-in kernels;
    # timing the stub would not represent real codec cost.
    "q_image_features",
]


def main() -> None:
    from alphavantage_etl_spark.session import get_spark
    from alphavantage_etl_spark.queries import ALL_QUERIES as QUERIES

    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warm the JVM/codegen paths once on the smallest SF so per-query times
    # measure execution, not first-run JIT.
    QUERIES["q_agg_pricing"](spark, "/root/testdata/sf0.001").write.format(
        "noop"
    ).mode("overwrite").save()

    # Per-query MIN of N_REPS runs: one-time codegen JIT and box noise are
    # not plan cost, and they dominate sub-second entries on a shared
    # machine (a mid-r3 rerun of the unchanged r2 set showed a UNIFORM
    # ~1.3x drift — see PERF.md). The cache is cleared between reps so a
    # repeat measures warm-codegen COLD-DATA execution, never a read of an
    # operator-internal persist left by the previous rep.
    n_reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2"))
    timings: dict[str, float] = {}
    for name in BENCH_QUERIES:
        best = float("inf")
        for _ in range(n_reps):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            QUERIES[name](spark, SF_DIR).write.format("noop").mode(
                "overwrite"
            ).save()
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 3)

    total = round(sum(timings.values()), 3)
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "reps": n_reps,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
