from .bars import ohlcv_bars
from .incremental import high_watermark, new_rows, merge_incremental
from .asof import asof_join
from .dedup import (
    cdc_chunk_hashes,
    cdc_overlap_pairs,
    dedup_exact,
    minhash_near_dups,
    minhash_near_dups_incremental,
    minhash_signatures,
    minhash_verified_near_dups,
    ngram_jaccard_pairs,
    release,
)
from .similarity import (
    cosine_topk,
    embedding_near_dups,
    label_centroids,
    train_ivf_cells,
)
from .sampling import (
    budget_mix,
    calibrate_by_group,
    group_quota,
    hash_split,
    pack_bins,
    split_bucket,
    stratified_sample,
    temperature_mix,
    weighted_sample,
)
from .tfidf import doc_frequency, term_counts, tfidf_top_terms
from .contamination import ngram_contamination
from .graph import cluster_representatives, connected_components
from .ranges import interval_join
from .sessionize import sessionize
from .skew import salted_agg, salted_join
from .multimodal import (
    attach_media,
    decode_image_features,
    frame_sample,
    resize_media,
)

__all__ = [
    "ohlcv_bars",
    "high_watermark",
    "new_rows",
    "merge_incremental",
    "asof_join",
    "cdc_chunk_hashes",
    "cdc_overlap_pairs",
    "dedup_exact",
    "minhash_near_dups",
    "minhash_near_dups_incremental",
    "minhash_signatures",
    "minhash_verified_near_dups",
    "ngram_jaccard_pairs",
    "release",
    "cosine_topk",
    "embedding_near_dups",
    "label_centroids",
    "train_ivf_cells",
    "budget_mix",
    "calibrate_by_group",
    "group_quota",
    "hash_split",
    "pack_bins",
    "split_bucket",
    "stratified_sample",
    "temperature_mix",
    "weighted_sample",
    "doc_frequency",
    "term_counts",
    "tfidf_top_terms",
    "ngram_contamination",
    "cluster_representatives",
    "connected_components",
    "interval_join",
    "sessionize",
    "salted_agg",
    "salted_join",
    "attach_media",
    "decode_image_features",
    "frame_sample",
    "resize_media",
]
