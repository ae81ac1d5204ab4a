"""Indexes held on the corpus handle (``io.held``): the BM25 postings and
the IVF cell assignment are built on a handle's first use and probed on
every later call with that handle.

- the held BM25 probe returns the rows of the one-shot formulation it
  replaced (kept below as the reference), edge inputs included, and no
  probe parameter is baked into the index;
- a second call on the same handle builds nothing: zero build-time
  jobs, and its executed plan scans the held frame exactly once;
- ivf_cosine_topk and ivfpq_topk at the same build key share one IVF
  index;
- another handle over the same table, or another build key, builds its
  own index.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

import data_pipeline_childcare_spark as eng
from data_pipeline_childcare_spark.functions.text import tokenize
from data_pipeline_childcare_spark.io import held, spread_partitions
from data_pipeline_childcare_spark.operators import similarity as sim
from data_pipeline_childcare_spark.operators import tfidf
from test_similarity import SF_DIR  # the sf0.001 testdata the ANN tests use


def _bm25_reference(docs, queries, k=10, k1=1.2, b=0.75, max_df=None, ndigits=6):
    """The one-shot BM25 formulation the held index replaced: every call
    tokenizes the corpus and rebuilds tf / dl / df / N / avgdl."""
    toks = spread_partitions(docs, "doc_id").select(
        F.col("doc_id"), F.explode(tokenize(F.col("text"))).alias("_t")
    )
    tf = toks.groupBy("doc_id", "_t").agg(F.count("*").alias("_tf"))
    dl = tf.groupBy("doc_id").agg(F.sum("_tf").alias("_dl"))
    stats = dl.agg(
        F.count("*").alias("_n"), F.sum("_dl").alias("_sumdl")
    ).select("_n", (F.col("_sumdl") / F.col("_n")).alias("_avgdl"))
    dfreq = tf.groupBy("_t").agg(F.count("*").alias("_df"))
    if max_df is not None:
        dfreq = dfreq.filter(F.col("_df") <= max_df)
    qterms = (
        spread_partitions(queries, "query_id")
        .select(F.col("query_id"), F.explode(tokenize(F.col("qtext"))).alias("_t"))
        .distinct()
    )
    idf = F.log(
        (F.col("_n") - F.col("_df") + F.lit(0.5)) / (F.col("_df") + F.lit(0.5))
        + F.lit(1.0)
    )
    term_score = idf * (F.col("_tf") * F.lit(k1 + 1.0)) / (
        F.col("_tf")
        + F.lit(k1) * (F.lit(1.0 - b) + (F.lit(b) * F.col("_dl")) / F.col("_avgdl"))
    )
    scored = (
        qterms.join(dfreq, "_t")
        .join(tf, "_t")
        .join(dl, "doc_id")
        .join(F.broadcast(stats))
        .groupBy("query_id", "doc_id")
        .agg(F.round(F.sum(term_score), ndigits).alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.col("doc_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "rank", "score")
    )


def _same_rows(a: DataFrame, b: DataFrame) -> bool:
    return a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


@pytest.fixture(scope="module")
def corpus(spark):
    """sf0.001 docs plus NULL text, whitespace-only text, a NULL id and
    a duplicated id."""
    docs = eng.load_table(spark, "documents", SF_DIR).select("doc_id", "text")
    edges = spark.createDataFrame(
        [
            (900001, None),
            (900002, "   \t "),
            (None, "spark join window nulls count too"),
            (7, "vector vector join extra words for a duplicated id"),
        ],
        "doc_id long, text string",
    )
    return docs.unionByName(edges)


@pytest.fixture(scope="module")
def queries(spark, corpus):
    picked = corpus.filter(
        (F.col("doc_id") % 50 == 0) & (F.col("doc_id") < 500)
    ).select(
        F.col("doc_id").alias("query_id"),
        F.concat_ws(" ", F.slice(tokenize(F.col("text")), 1, 3)).alias("qtext"),
    )
    absent = spark.createDataFrame(
        [(-1, "zzqx qqzy"), (-2, "dup zzqx")], "query_id long, qtext string"
    )
    return picked.unionByName(absent)


@pytest.mark.parametrize("max_df", [None, 385])
def test_bm25_held_probe_matches_one_shot_reference(spark, corpus, queries, max_df):
    handle = corpus.select("*")
    got = tfidf.bm25_topk(handle, queries, k=10, max_df=max_df)
    assert got.count() > 0
    if max_df is not None:  # drops the most common terms, not all
        assert got.count() < tfidf.bm25_topk(handle, queries, k=10).count()
    assert _same_rows(got, _bm25_reference(corpus, queries, k=10, max_df=max_df))
    # the absent-term query retrieves nothing; its partly-absent twin does
    ids = {r["query_id"] for r in got.select("query_id").distinct().collect()}
    assert -1 not in ids and -2 in ids
    # the NULL-id doc is never retrieved; the duplicated id is one doc
    assert got.filter(F.col("doc_id").isNull()).count() == 0


def test_bm25_held_probe_edge_frames(spark, corpus, queries):
    empty_docs = spark.createDataFrame([], "doc_id long, text string")
    empty_q = spark.createDataFrame([], "query_id long, qtext string")
    for docs, q in ((empty_docs, queries), (corpus.select("*"), empty_q)):
        got = tfidf.bm25_topk(docs, q, k=5)
        assert got.count() == 0
        assert _same_rows(got, _bm25_reference(docs, q, k=5))


def test_bm25_probe_parameters_are_not_baked_in(spark, corpus, queries):
    handle = corpus.select("*")
    a = tfidf.bm25_topk(handle, queries, k=10)
    b = tfidf.bm25_topk(handle, queries, k=4, k1=2.0, b=0.3, ndigits=4)
    assert _same_rows(a, _bm25_reference(corpus, queries, k=10))
    assert _same_rows(
        b, _bm25_reference(corpus, queries, k=4, k1=2.0, b=0.3, ndigits=4)
    )
    assert b.filter(F.col("rank") > 4).count() == 0
    assert not _same_rows(a.filter(F.col("rank") <= 4), b)
    assert list(vars(handle)["_spark_graft_held"]) == [("bm25_postings", "doc_id", "text")]


_GROUPS = iter(range(1_000_000))


def _build_jobs(spark, build) -> tuple:
    """(value, number of Spark jobs run while ``build`` constructs it)."""
    sc = spark.sparkContext
    group = f"held-index-build-{next(_GROUPS)}"
    sc.setJobGroup(group, "plan construction")
    try:
        out = build()
    finally:
        sc.setJobGroup("", "")
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _held_scans(df: DataFrame, column: str) -> int:
    """RDD scans in the executed plan that output ``column`` (AQE's
    initial-plan echo excluded)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    return len(re.findall(rf"Scan ExistingRDD\[[^\]]*\b{column}#", plan))


def test_bm25_reuse_on_one_handle_and_rebuild_on_another(spark, corpus, queries, monkeypatch):
    builds = []
    build = tfidf._bm25_postings

    def spy(docs, id_col, text_col):
        builds.append(text_col)
        return build(docs, id_col, text_col)

    monkeypatch.setattr(tfidf, "_bm25_postings", spy)
    handle = corpus.withColumn("title", F.upper(F.col("text")))
    first = tfidf.bm25_topk(handle, queries, k=10)
    rows = sorted(first.collect())
    assert builds == ["text"]
    second, jobs = _build_jobs(spark, lambda: tfidf.bm25_topk(handle, queries, k=10))
    assert jobs == 0 and builds == ["text"]
    assert sorted(second.collect()) == rows
    assert _held_scans(second, "_tf") == 1
    # another build key on the same handle, another handle on the same data
    tfidf.bm25_topk(handle, queries, k=10, text_col="title")
    assert builds == ["text", "title"]
    other = handle.select("*")
    assert sorted(tfidf.bm25_topk(other, queries, k=10).collect()) == rows
    assert builds == ["text", "title", "text"]


@pytest.fixture(scope="module")
def emb(spark):
    return eng.load_table(spark, "embeddings", SF_DIR).select("vec_id", "embedding")


def _vec_queries(emb):
    return emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


def test_ivf_reuse_on_one_handle_and_rebuild_on_another(spark, emb, monkeypatch):
    trained = []
    fit = sim.kmeans_lite

    def spy(corpus, k, iterations, *cols):
        trained.append((k, iterations))
        return fit(corpus, k, iterations, *cols)

    monkeypatch.setattr(sim, "kmeans_lite", spy)
    q = _vec_queries(emb)
    handle = emb.select("*")
    first, cold_jobs = _build_jobs(
        spark, lambda: sim.ivf_cosine_topk(handle, q, k=5, n_cells=4, n_probe=2)
    )
    rows = sorted(first.collect())
    assert cold_jobs > 0 and trained == [(4, 2)]
    second, jobs = _build_jobs(
        spark, lambda: sim.ivf_cosine_topk(handle, q, k=5, n_cells=4, n_probe=2)
    )
    assert jobs == 0 and trained == [(4, 2)]
    assert sorted(second.collect()) == rows
    assert _held_scans(second, "cell") == 1
    # n_probe and k are probe-time: no rebuild
    sim.ivf_cosine_topk(handle, q, k=3, n_cells=4, n_probe=1).collect()
    assert trained == [(4, 2)]
    # n_cells and iterations are build keys: each builds and answers as
    # a fresh handle does
    for n_cells, iterations in ((3, 2), (4, 1)):
        got = sim.ivf_cosine_topk(
            handle, q, k=5, n_cells=n_cells, n_probe=2, iterations=iterations
        )
        fresh = sim.ivf_cosine_topk(
            emb.select("*"), q, k=5, n_cells=n_cells, n_probe=2, iterations=iterations
        )
        assert _same_rows(got, fresh)
    assert trained == [(4, 2), (3, 2), (3, 2), (4, 1), (4, 1)]
    # another handle over the same table builds its own
    other = handle.select("*")
    assert sorted(sim.ivf_cosine_topk(other, q, k=5, n_cells=4, n_probe=2).collect()) == rows
    assert trained[-1] == (4, 2) and len(trained) == 6


def test_ivfpq_shares_the_held_ivf_index(spark, emb, monkeypatch):
    """ivfpq_topk probes the IVF index ivf_cosine_topk holds at the same
    (n_cells, iterations): one cell assignment per handle and key."""
    assignments = []
    checkpoint = sim.resilient_checkpoint

    def spy(df, *args, **kwargs):
        if "cell" in df.columns:
            assignments.append(df.columns)
        return checkpoint(df, *args, **kwargs)

    monkeypatch.setattr(sim, "resilient_checkpoint", spy)
    q = _vec_queries(emb)
    pq = dict(k=5, n_probe=2, dim=64, n_sub=4, n_codes=4, rerank_shortlist=20)
    handle = emb.select("*")
    sim.ivf_cosine_topk(handle, q, k=5, n_cells=4, n_probe=2).collect()
    first = sim.ivfpq_topk(handle, q, n_cells=4, **pq)
    rows = sorted(first.collect())
    assert len(assignments) == 1
    second, jobs = _build_jobs(spark, lambda: sim.ivfpq_topk(handle, q, n_cells=4, **pq))
    assert jobs == 0 and len(assignments) == 1
    assert sorted(second.collect()) == rows
    assert _held_scans(second, "cell") == 1
    # another n_cells builds its own index
    sim.ivfpq_topk(handle, q, n_cells=3, **pq).collect()
    assert len(assignments) == 2
    # another handle over the same table builds its own, with the same rows
    assert sorted(sim.ivfpq_topk(handle.select("*"), q, n_cells=4, **pq).collect()) == rows
    assert len(assignments) == 3


def test_held_builds_once_per_handle_and_key(spark):
    df = spark.range(3)
    calls = []

    def build(v):
        return lambda: calls.append(v) or v

    assert held(df, ("a", 1), build(1)) == 1
    assert held(df, ("a", 1), build(2)) == 1
    assert held(df, ("a", 2), build(3)) == 3
    assert held(df.select("*"), ("a", 1), build(4)) == 4
    assert calls == [1, 3, 4]


def test_registry_ann_queries_share_one_embeddings_handle(spark):
    """The registry hands every ANN query of a session the same
    embeddings handle, so the index and model one call builds serve the
    next call without a job (and its k-means model every other query
    that trains the same one)."""
    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    assert entry_mod._emb_double(spark, SF_DIR) is entry_mod._emb_double(spark, SF_DIR)
    first, _ = _build_jobs(spark, lambda: qs["ivf_cosine_topk_embeddings"](spark, SF_DIR))
    again, jobs = _build_jobs(spark, lambda: qs["ivf_cosine_topk_embeddings"](spark, SF_DIR))
    assert jobs == 0
    assert sorted(again.collect()) == sorted(first.collect())
    emb = entry_mod._emb_double(spark, SF_DIR)
    assert ("kmeans_lite", 8, 2, "vec_id", "embedding") in vars(emb)["_spark_graft_held"]
