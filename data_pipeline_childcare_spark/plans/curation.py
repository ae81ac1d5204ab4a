"""Pretraining-corpus curation — the LLM-data lifecycle as ONE plan,
composed from the engine's oracled stages the way a real 100 TB
curation run chains them:

    quality gate (Gopher/C4 metrics) →
    exact dedup (md5 fingerprint, lowest-id survivor) →
    near-dup dedup (portable banded MinHash, lowest-id survivor) →
    benchmark decontamination (3-gram overlap) →
    deterministic train/val/test split

Design choice: stage flags are computed INDEPENDENTLY over the full
corpus and the final verdict is their conjunction — each flag stays
auditable on its own (the "why did this document drop" question a
curation run must answer), the output is stable under stage
re-ordering, and every stage's SQL twin composes into one oracle.
Sequential filtering (dedup only among quality survivors) is the
cheaper production variant; feed ``docs.filter(...)`` through the
individual operators for that.

Scale shape: the expensive stage is the MinHash candidate join, which
is LSH-banded (never all-pairs); fingerprints shuffle 32-byte keys;
the benchmark shingle set broadcasts; the split is a pure projection.
Every join in the final assembly is keyed by the document id.

The input is read once: ``(id, text)`` is cut through
``io.resilient_checkpoint`` (lazy, so no job runs at build time) and
all five stages read that one frame, so an expensive upstream (a
parse, a union of sources) is evaluated once per row instead of once
per stage. The cut is per call: nothing is registered in the session
cache (the function must not leak a cached frame into the session),
and the reliable-checkpoint mode covers it like every other cut.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from data_pipeline_childcare_spark.io import resilient_checkpoint


def curate_corpus(
    docs: DataFrame,
    benchmark: DataFrame,
    stopwords: tuple[str, ...],
    id_col: str = "doc_id",
    text_col: str = "text",
    min_quality: float = 0.3,
    token_range: tuple[int, int] = (10, 100_000),
    max_dup_line_frac: float = 0.3,
    max_top_bigram_frac: float = 0.2,
    near_dup_threshold: float = 0.5,
    contamination_threshold: float = 0.5,
) -> DataFrame:
    """One row per corpus document: per-stage metrics and flags, the
    final ``kept`` verdict, and the split assignment.

    Output: (id, quality, n_tokens, dup_line_frac, top_bigram_frac,
    quality_ok, exact_dup_of, near_dup_of, contamination,
    contaminated, split, kept).
    """
    from data_pipeline_childcare_spark.functions.text import (  # noqa: PLC0415
        doc_fingerprint,
        quality_score,
        tokenize,
    )
    from data_pipeline_childcare_spark.operators.cleaning import (  # noqa: PLC0415
        repetition_stats,
    )
    from data_pipeline_childcare_spark.operators.contamination import (  # noqa: PLC0415
        benchmark_contamination,
    )
    from data_pipeline_childcare_spark.operators.dedup import (  # noqa: PLC0415
        minhash_est_pairs_portable,
    )
    from data_pipeline_childcare_spark.operators.split import hash_split  # noqa: PLC0415

    docs = resilient_checkpoint(docs.select(id_col, text_col))
    q = docs.select(
        F.col(id_col),
        quality_score(text_col, stopwords).alias("quality"),
        F.size(tokenize(F.col(text_col))).cast("long").alias("n_tokens"),
    )
    r = repetition_stats(docs, id_col=id_col, text_col=text_col).select(
        id_col, "dup_line_frac", "top_bigram_frac"
    )

    # NULL text must still produce an audit row ("why did this doc
    # drop" must be answerable for parse failures too): the sentinel
    # keeps the fingerprint join key non-null, so NULL-text docs
    # exact-dup each other (lowest id survives) instead of silently
    # vanishing through the equi-joins
    fp = docs.select(
        F.col(id_col),
        F.coalesce(doc_fingerprint(text_col), F.lit("__null_text__")).alias("_fp"),
    )
    fmin = fp.groupBy("_fp").agg(F.min(id_col).alias("_fkeep"))
    exact = fp.join(fmin, "_fp").select(
        F.col(id_col),
        F.when(F.col(id_col) != F.col("_fkeep"), F.col("_fkeep")).alias(
            "exact_dup_of"
        ),
    )

    near = (
        minhash_est_pairs_portable(
            docs, id_col=id_col, text_col=text_col, threshold=near_dup_threshold
        )
        .groupBy("id_b")
        .agg(F.min("id_a").alias("near_dup_of"))
        .withColumnRenamed("id_b", id_col)
    )

    cont = benchmark_contamination(
        docs, benchmark, id_col=id_col, text_col=text_col
    ).select(id_col, "contamination")

    joined = (
        q.join(r, id_col, "left")  # NULL/empty text may have no stats
        .join(exact, id_col)
        .join(near, id_col, "left")
        .join(cont, id_col, "left")
    )
    joined = hash_split(joined, id_col=id_col)

    # null-safe verdicts: NULL metrics (unparseable text) read as a
    # failed gate, never a NULL kept flag
    quality_ok: Column = F.coalesce(
        (F.col("quality") >= min_quality)
        & F.col("n_tokens").between(*token_range)
        & (F.col("dup_line_frac") <= max_dup_line_frac)
        & (F.col("top_bigram_frac") <= max_top_bigram_frac),
        F.lit(False),
    )
    contamination = F.round(F.coalesce(F.col("contamination"), F.lit(0.0)), 6)
    contaminated = contamination >= contamination_threshold
    kept = (
        quality_ok
        & F.col("exact_dup_of").isNull()
        & F.col("near_dup_of").isNull()
        & ~contaminated
    )
    return joined.select(
        id_col,
        "quality",
        "n_tokens",
        "dup_line_frac",
        "top_bigram_frac",
        quality_ok.alias("quality_ok"),
        "exact_dup_of",
        "near_dup_of",
        contamination.alias("contamination"),
        contaminated.alias("contaminated"),
        "split",
        kept.alias("kept"),
    )
