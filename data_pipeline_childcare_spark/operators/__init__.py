"""Relational operators re-expressed Spark-first.

Each module maps a block of SURVEY.md §2 to declarative DataFrame
transformations. None of these collect to the driver; all are built to
survive a 100× scale-up (broadcast for small dims, windowed top-k
instead of global sorts where possible, map-side-combinable
aggregations).
"""

from data_pipeline_childcare_spark.operators.rrf import rrf_fuse
from data_pipeline_childcare_spark.operators.raneval import (
    ranking_eval,
    ranking_eval_summary,
)
from data_pipeline_childcare_spark.operators.claseval import (
    binary_eval_summary,
    calibration_bins,
    pr_curve,
)
from data_pipeline_childcare_spark.operators.regeval import regression_eval
from data_pipeline_childcare_spark.operators.topk import (
    top_k_per_group,
    top_k_sequential_dedup,
    top_k_with_global_dedup,
)
from data_pipeline_childcare_spark.operators.chunking import parent_child_chunk
from data_pipeline_childcare_spark.operators.cleaning import (
    remove_noise_lines,
    remove_repeated_lines,
    truncate_content,
)
from data_pipeline_childcare_spark.operators.dedup import (
    dedup_exact,
    dedup_fingerprint,
    minhash_est_pairs_portable,
    minhash_dedup_portable,
    simhash_pairs_portable,
    ngram_jaccard_pairs,
    winnowing_fingerprints,
)
from data_pipeline_childcare_spark.operators.similarity import (
    cosine_topk_bruteforce,
    lsh_cosine_topk,
    embedding_cosine_dedup,
)
from data_pipeline_childcare_spark.operators.cleaning import repetition_stats
from data_pipeline_childcare_spark.operators.hypertable import (
    time_bucket,
    hypertable_rollup,
    finalize_rollup,
    time_bucket_gapfill,
    streaming_bucket_partials,
)
from data_pipeline_childcare_spark.operators.split import (
    hash_split,
    hash_sample,
    hash_sample_flag,
    stratified_hash_sample,
    weighted_sample,
    cap_per_key,
    kfold_assign,
)
from data_pipeline_childcare_spark.operators.tfidf import tfidf_top_terms
from data_pipeline_childcare_spark.operators.profile import (
    profile_columns,
    inclusion_dependencies,
)
from data_pipeline_childcare_spark.operators.keywords import (
    cooccurrence_edges,
    textrank_keywords,
)
from data_pipeline_childcare_spark.operators.asof import asof_join, asof_join_self
from data_pipeline_childcare_spark.operators.sessions import sessionize, session_stats
from data_pipeline_childcare_spark.operators.components import (
    connected_components,
    dedup_by_components,
)

__all__ = [
    "rrf_fuse",
    "ranking_eval",
    "ranking_eval_summary",
    "binary_eval_summary",
    "calibration_bins",
    "pr_curve",
    "regression_eval",
    "top_k_per_group",
    "top_k_sequential_dedup",
    "top_k_with_global_dedup",
    "parent_child_chunk",
    "remove_noise_lines",
    "remove_repeated_lines",
    "truncate_content",
    "dedup_exact",
    "dedup_fingerprint",
    "minhash_est_pairs_portable",
    "minhash_dedup_portable",
    "simhash_pairs_portable",
    "ngram_jaccard_pairs",
    "cosine_topk_bruteforce",
    "lsh_cosine_topk",
    "asof_join",
    "asof_join_self",
    "sessionize",
    "session_stats",
    "connected_components",
    "dedup_by_components",
    "winnowing_fingerprints",
    "embedding_cosine_dedup",
    "repetition_stats",
    "time_bucket",
    "hypertable_rollup",
    "finalize_rollup",
    "time_bucket_gapfill",
    "streaming_bucket_partials",
    "hash_split",
    "hash_sample",
    "hash_sample_flag",
    "stratified_hash_sample",
    "weighted_sample",
    "kfold_assign",
    "tfidf_top_terms",
    "profile_columns",
    "inclusion_dependencies",
    "cooccurrence_edges",
    "textrank_keywords",
]
