"""End-to-end training-data curation pipeline (north star): the composed
form of the X-operators, in the order a production corpus run uses them.

    raw documents
      -> PII redaction (optional)               (regexp chain, no shuffle)
      -> boilerplate segment removal (optional) (one explode + rebuild)
      -> language ID + quality scoring          (cheap, codegen, no shuffle)
      -> quality / length gate                  (filter BEFORE any shuffle)
      -> exact dedup on content fingerprint     (one shuffle on a 32B key)
      -> MinHash-LSH near-dup + exact verify    (bounded candidate join)
      -> drop the lower-quality member of each near-dup pair
      -> token accounting per language          (final small aggregate)

Ordering rationale at 100 TB: the quality gate runs first because it is
shuffle-free and typically removes the most volume; exact dedup precedes
near-dup so the LSH stage never pays for byte-identical copies; near-dup
verification is exact Jaccard, so the pair threshold is a real guarantee,
not an LSH estimate. Every stage is a lazy DataFrame; one action executes
the whole plan with AQE choosing join strategies per actual sizes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import (
    fingerprint_sha256,
    lang_id,
    token_count,
    token_count_bpe,
    with_quality_score,
)
from ..operators.dedup import minhash_verified_near_dups


def curate(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_quality: float = 0.5,
    min_chars: int = 100,
    jaccard_threshold: float = 0.6,
    resolution: str = "pairwise",
    cc_algorithm: str = "propagation",
    scrub: bool = False,
    boilerplate_min_doc_frac: float | None = None,
    boilerplate_delim: str = "\n",
) -> DataFrame:
    """The curated corpus: quality-gated, exactly and near deduplicated.

    ``scrub=True`` redacts PII (``functions.text.scrub_pii``) and
    ``boilerplate_min_doc_frac`` drops corpus-recurring segments
    (``operators.boilerplate.remove_boilerplate``) BEFORE scoring, so
    quality, fingerprints, shingles, and token budgets all see the text
    that would actually be trained on — a cookie banner must not make two
    otherwise-distinct pages near-dups, nor pad their token counts. The
    boilerplate rebuild joins the cleaned text back onto the remaining
    columns (one shuffle on the id); any upstream length column (e.g. the
    fixture's ``n_chars``) then describes the RAW text — downstream stages
    here derive everything from the cleaned text itself.

    Near-dup ``resolution`` policies (both deterministic):

    - ``"pairwise"``: drop the lower-quality member of each verified pair
      (ties: higher id). A chain A~B~C keeps BOTH A and C when A̸~C —
      faithful to the per-pair threshold, but a transitive family can
      survive as multiple members.
    - ``"cluster"``: connected components over the pair graph, then keep
      ONE max-quality member per component (``operators.graph``) — the
      aggressive policy large-corpus dedup usually wants: a duplicate
      family collapses to a single representative regardless of chain
      shape.

    No stage leaves a frame in the CacheManager (the cluster policy's
    labels are a checkpoint), so a session that re-curates repeatedly
    stays flat on storage and reads rewritten inputs afresh.
    """
    if resolution not in ("pairwise", "cluster"):
        raise ValueError(f"unknown resolution policy: {resolution!r}")
    if scrub:
        from ..functions.text import scrub_pii

        docs = docs.withColumn(text_col, scrub_pii(text_col))
    if boilerplate_min_doc_frac is not None:
        from ..operators.boilerplate import remove_boilerplate

        cleaned = remove_boilerplate(
            docs, text_col, id_col,
            delim=boilerplate_delim,
            min_doc_frac=boilerplate_min_doc_frac,
            normalize=True,
        ).select(id_col, text_col)
        docs = docs.drop(text_col).join(cleaned, id_col)
    scored = with_quality_score(docs, text_col).withColumn(
        "lang_pred", lang_id(text_col)
    )
    gated = scored.where(
        (F.col("q") >= min_quality) & (F.length(text_col) >= min_chars)
    )

    # exact dedup: one representative (min id) per content fingerprint
    fp = gated.withColumn("__fp", fingerprint_sha256(text_col))
    w_min = fp.groupBy("__fp").agg(F.min(id_col).alias(id_col))
    exact_unique = fp.join(w_min, [ "__fp", id_col ], "semi").drop("__fp")

    # near-dup: verified pairs above the Jaccard bar; drop the worse member
    pairs = minhash_verified_near_dups(
        exact_unique, text_col, id_col,
        shingle_k=9, bands=16,
        candidate_threshold=0.2, jaccard_threshold=jaccard_threshold,
    )
    if resolution == "cluster":
        from ..operators.graph import (
            cluster_representatives,
            connected_components,
            connected_components_star,
        )

        # "propagation" (default): diameter sweeps, cheapest per sweep —
        # right for clumpy dup families. "star": O(log n) rounds for
        # chain-shaped graphs (successive revisions) where propagation
        # would hit its sweep cap. Label frames are identical
        # (equivalence-tested), so this is purely a cost choice.
        cc_fn = {
            "propagation": connected_components,
            "star": connected_components_star,
        }[cc_algorithm]
        cc = cc_fn(pairs, "id_a", "id_b")
        return cluster_representatives(exact_unique, cc, id_col, "q")

    quality = exact_unique.select(F.col(id_col).alias("__qid"), F.col("q").alias("__q"))
    ranked = (
        pairs.join(quality.withColumnRenamed("__qid", "id_a").withColumnRenamed("__q", "qa"), "id_a")
        .join(quality.withColumnRenamed("__qid", "id_b").withColumnRenamed("__q", "qb"), "id_b")
        .select(
            F.when(F.col("qa") < F.col("qb"), F.col("id_a"))
            .when(F.col("qb") < F.col("qa"), F.col("id_b"))
            .otherwise(F.greatest("id_a", "id_b"))
            .alias("__drop")
        )
        .distinct()
    )
    return exact_unique.join(
        ranked, exact_unique[id_col] == ranked["__drop"], "left_anti"
    )


def compact_corpus(
    spark: SparkSession,
    sink_path: str,
    out_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    jaccard_threshold: float = 0.6,
) -> int:
    """The periodic near-dup compaction over a streaming-ingested corpus —
    the batch half of ``streaming.curation_ingest_stream``'s contract (the
    stream guarantees exact-dedup per fingerprint; near-dup state over an
    unbounded corpus is rebuilt here, not carried as stream state).

    MinHash-LSH verified pairs -> connected components -> one max-quality
    survivor per duplicate cluster, rewritten to ``out_path`` (a NEW
    directory: rewriting the input in place would corrupt the scan feeding
    the rewrite — the caller swaps directories, or on Delta/Iceberg this
    whole body becomes one transactional REPLACE). Returns the surviving
    row count.
    """
    if out_path == sink_path:
        raise ValueError(
            "compact_corpus: out_path must differ from sink_path "
            "(in-place rewrite would corrupt the scan feeding it)"
        )
    from ..operators.graph import cluster_representatives, connected_components

    docs = spark.read.parquet(sink_path)
    pairs = minhash_verified_near_dups(
        docs, text_col, id_col,
        shingle_k=9, bands=16,
        candidate_threshold=0.2, jaccard_threshold=jaccard_threshold,
    )
    cc = connected_components(pairs, "id_a", "id_b")
    kept = cluster_representatives(
        with_quality_score(docs, text_col), cc, id_col, "q"
    ).drop("q")
    kept.select(*docs.columns).write.mode("overwrite").parquet(out_path)
    return spark.read.parquet(out_path).count()


def curation_report(curated: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-language token budget of the curated corpus — the number a
    training run actually needs from this pipeline."""
    return curated.groupBy("lang_pred").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.length(text_col)).alias("total_chars"),
        F.sum(token_count(text_col)).cast("long").alias("total_tokens_ws"),
        F.sum(token_count_bpe(text_col)).cast("long").alias("total_tokens_bpe"),
        F.bround(F.avg("q"), 6).alias("avg_quality"),
    )


def curate_to_shards(
    docs: DataFrame,
    benchmark: DataFrame,
    out_path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    min_quality: float = 0.5,
    min_chars: int = 100,
    jaccard_threshold: float = 0.6,
    resolution: str = "pairwise",
    contamination_k: int = 8,
    contamination_threshold: float = 0.5,
    chunk_window: int = 64,
    chunk_stride: int = 48,
    shard_tokens: int = 100_000,
) -> dict:
    """The FULL corpus-to-trainer pipeline as one composition (VERDICT r5
    #7): curate (quality gate + exact + near dedup) -> decontaminate
    (drop documents containing benchmark items above the n-gram
    containment bar) -> chunk into overlapping token windows -> pack
    chunks into token-budget shards -> write shard-partitioned parquet +
    manifest. Returns the manifest dict (plans/export.py semantics: the
    totals a training job trusts without re-scanning).

    Everything through the shard assignment is ONE lazy plan — the only
    actions are the operators' own bounded probes (the contamination
    broadcast probe), the partitioned write, and the shard-count-sized manifest
    aggregate. Chunk ids are ``<doc_id>:<chunk_idx>`` strings (content-
    addressed, append-stable); chunk token counts feed pack_bins as the
    shard size, so a shard's ``tokens`` manifest field is the training-
    visible token budget, not a raw-document proxy.
    """
    from ..operators.chunking import chunk_documents
    from ..operators.contamination import ngram_contamination
    from .export import write_training_shards

    curated = curate(
        docs,
        text_col=text_col,
        id_col=id_col,
        min_quality=min_quality,
        min_chars=min_chars,
        jaccard_threshold=jaccard_threshold,
        resolution=resolution,
    )
    hits = ngram_contamination(
        curated,
        benchmark,
        text_col,
        id_col,
        k=contamination_k,
        threshold=contamination_threshold,
    )
    clean = curated.join(
        hits.select(id_col).distinct(), id_col, "left_anti"
    )
    chunks = chunk_documents(
        clean, text_col, id_col, window=chunk_window, stride=chunk_stride
    )
    rows = (
        chunks.join(clean.select(id_col, source_col), id_col)
        .select(
            F.concat_ws(
                ":", F.col(id_col).cast("string"), F.col("chunk_idx")
            ).alias("chunk_id"),
            F.col("chunk_text"),
            F.col(source_col),
            F.col("n_tokens"),
        )
    )
    return write_training_shards(
        rows,
        out_path,
        text_col="chunk_text",
        id_col="chunk_id",
        source_col=source_col,
        size_col="n_tokens",
        shard_tokens=shard_tokens,
    )
