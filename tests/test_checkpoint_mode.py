"""Reliable-checkpoint mode (r13 verdict #5): every lineage cut in the
package goes through ``io.resilient_checkpoint``, which defaults to
executor-local localCheckpoint; flipping
``spark.graft.checkpoint.reliable=true`` routes the SAME call sites
through DataFrame.checkpoint() into a reliable checkpoint dir —
values must be identical in both modes and the dir must actually be
used (executor-loss survivability is the point; we can't kill an
executor in local mode, so the test pins the routing)."""

from __future__ import annotations

import ast
import glob
import logging
import os
import pathlib

import pytest
from pyspark.sql import functions as F

from data_pipeline_childcare_spark import io as io_mod
from data_pipeline_childcare_spark.io import (
    RELIABLE_CKPT_CONF,
    RELIABLE_CKPT_DIR_CONF,
    resilient_checkpoint,
)
from data_pipeline_childcare_spark.operators.components import connected_components
from data_pipeline_childcare_spark.operators.graph import pagerank


@pytest.fixture()
def reliable(spark, tmp_path):
    ckpt_dir = str(tmp_path / "ckpt")
    spark.conf.set(RELIABLE_CKPT_CONF, "true")
    spark.conf.set(RELIABLE_CKPT_DIR_CONF, ckpt_dir)
    # the context-level checkpoint dir is set lazily by the first
    # resilient_checkpoint call; force it under tmp_path for the test
    spark.sparkContext.setCheckpointDir(ckpt_dir)
    yield ckpt_dir
    spark.conf.set(RELIABLE_CKPT_CONF, "false")


def test_resilient_checkpoint_routes_to_reliable_dir(spark, reliable):
    df = spark.range(100).withColumn("v", F.col("id") * 2)
    out = resilient_checkpoint(df, eager=True)
    assert out.count() == 100
    # a reliable checkpoint writes RDD partition files under the dir
    files = glob.glob(os.path.join(reliable, "**", "part-*"), recursive=True)
    assert files, "reliable mode must materialize into the checkpoint dir"
    # lineage is truncated to an RDD scan either way
    assert "LogicalRDD" in out._jdf.queryExecution().optimizedPlan().toString()


def test_iterative_loops_identical_results_in_both_modes(spark, reliable):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (3, 4)],
        "id_a long, id_b long",
    )
    nodes = spark.createDataFrame([(i,) for i in range(1, 8)], "id long")
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (4, 5), (5, 6), (6, 7), (7, 4)],
        "src long, dst long",
    )
    comp_rel = {tuple(r) for r in connected_components(pairs).collect()}
    pr_rel = {tuple(r) for r in pagerank(nodes, edges, n_iter=3).collect()}
    spark.conf.set(RELIABLE_CKPT_CONF, "false")
    comp_loc = {tuple(r) for r in connected_components(pairs).collect()}
    pr_loc = {tuple(r) for r in pagerank(nodes, edges, n_iter=3).collect()}
    assert comp_rel == comp_loc
    assert pr_rel == pr_loc


def test_default_mode_stays_local(spark):
    assert spark.conf.get(RELIABLE_CKPT_CONF, "false") != "true"
    df = spark.range(10)
    out = resilient_checkpoint(df, eager=True)
    # localCheckpoint: plan truncated, no reliable dir requirement
    assert out.count() == 10


def test_tuoyu_rule_filter_reliable_mode_same_output(spark, reliable):
    """tuoyu_rule_filter's three lineage cuts route through
    resilient_checkpoint: reliable mode writes them into the checkpoint
    dir and returns the same rows as the default local mode."""
    from data_pipeline_childcare_spark.operators.rules import RegionalRule
    from data_pipeline_childcare_spark.plans.retrieval import tuoyu_rule_filter

    inst = "机构名称：天使托育园\n统一社会信用代码：9151\n详细地址：四川省成都市\n备案及完成时间：2025-05-10"
    old = "机构名称：旧机构\n统一社会信用代码：9150\n详细地址：四川省成都市\n备案及完成时间：2019-01-01"
    schema = "database_id string, document_id string, chunk_id string, position int, content string"
    chunks = spark.createDataFrame(
        [("db1", "d1", "c1", 0, inst), ("db1", "d2", "c2", 0, old)], schema
    )
    segments = spark.createDataFrame(
        [("db1", "d1", "s1", 0, inst), ("db1", "d1", "s2", 1, inst),
         ("db1", "d2", "s3", 0, old)],
        schema,
    )
    rule = RegionalRule(scope="四川", time_filter="近两年")

    def rows():
        out = tuoyu_rule_filter(chunks, segments, rule)
        return sorted(map(str, out.collect()))

    got_reliable = rows()
    files = glob.glob(os.path.join(reliable, "**", "part-*"), recursive=True)
    assert files, "reliable mode must materialize into the checkpoint dir"
    spark.conf.set(RELIABLE_CKPT_CONF, "false")
    got_local = rows()
    assert got_reliable == got_local
    assert len(got_local) == 1 and "d1" in got_local[0]


def _part_files(ckpt_dir):
    return set(glob.glob(os.path.join(ckpt_dir, "**", "part-*"), recursive=True))


def test_dedup_ann_tokenizer_reliable_mode_same_output(spark, reliable):
    """One tiny input each for the dedup (signature boundary), ANN
    (Lloyd training cache, the held IVF cell assignment, ivfpq's
    per-call index), BM25 (the held postings) and tokenizer (per-round
    vocab cut) families: in reliable mode each writes into the
    checkpoint dir and returns the same rows as the default local
    mode."""
    from data_pipeline_childcare_spark.operators.bpe import learn_bpe_merges
    from data_pipeline_childcare_spark.operators.dedup import minhash_dedup_portable
    from data_pipeline_childcare_spark.operators.similarity import (
        ivf_cosine_topk,
        ivfpq_topk,
        kmeans_lite,
    )
    from data_pipeline_childcare_spark.operators.tfidf import bm25_topk

    base = "the quick brown fox jumps over the lazy dog near the river bank"
    docs = spark.createDataFrame(
        [(1, base), (2, base + " today"), (3, "a completely different short text here")],
        "doc_id long, text string",
    )
    vecs = spark.createDataFrame(
        [(i, [float(i % 3), float(i % 5), 1.0]) for i in range(12)],
        "vec_id long, embedding array<double>",
    )
    queries = vecs.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    qtext = spark.createDataFrame(
        [(1, "quick river"), (2, "different text today")], "query_id long, qtext string"
    )
    # each run takes fresh input handles: an index or model held on a
    # previous run's handle would skip the materializations under test
    runs = {
        "minhash_dedup_portable": lambda: minhash_dedup_portable(docs, threshold=0.5),
        "kmeans_lite": lambda: kmeans_lite(vecs.select("*"), k=3, iterations=2),
        "ivf_cosine_topk": lambda: ivf_cosine_topk(
            vecs.select("*"), queries, k=2, n_cells=3, n_probe=2
        ),
        "ivfpq_topk": lambda: ivfpq_topk(
            vecs.select("*"), queries, k=2, n_cells=3, n_probe=2, dim=3, n_sub=1, n_codes=2
        ),
        "bm25_topk": lambda: bm25_topk(docs.select("*"), qtext, k=2),
        "learn_bpe_merges": lambda: learn_bpe_merges(docs, n_merges=3),
    }

    def rows(run):
        return sorted(map(str, run().collect()))

    got_reliable = {}
    for name, run in runs.items():
        before = _part_files(reliable)
        got_reliable[name] = rows(run)
        assert _part_files(reliable) - before, f"{name} wrote nothing to the checkpoint dir"
    spark.conf.set(RELIABLE_CKPT_CONF, "false")
    for name, run in runs.items():
        assert rows(run) == got_reliable[name], name
    assert len(got_reliable["ivfpq_topk"]) == 4  # k=2 for each of 2 queries
    assert len(got_reliable["ivf_cosine_topk"]) == 4
    assert len(got_reliable["bm25_topk"]) == 4
    kept = got_reliable["minhash_dedup_portable"]
    assert len(kept) == 2 and not any("doc_id=2" in r for r in kept), kept


def test_curate_corpus_reliable_mode_same_output(spark, reliable):
    """curate_corpus cuts its input once and MinHash cuts its
    signatures: in reliable mode both land in the checkpoint dir as one
    RDD each, and the rows equal the default local mode's."""
    from data_pipeline_childcare_spark.plans.curation import curate_corpus

    base = "the quick brown fox jumps over the lazy dog near the river bank"
    docs = spark.createDataFrame(
        [(1, base), (2, base), (3, base + " today"), (4, None),
         (5, "a completely different short text about other things here")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(9, base)], "doc_id long, text string")

    def rows():
        out = curate_corpus(docs, bench, ("the", "a"), token_range=(5, 100))
        return sorted(map(str, out.collect()))

    def rdd_dirs():
        return set(glob.glob(os.path.join(reliable, "*", "rdd-*")))

    before = rdd_dirs()
    got_reliable = rows()
    assert len(rdd_dirs() - before) == 2
    spark.conf.set(RELIABLE_CKPT_CONF, "false")
    assert rows() == got_reliable
    assert len(got_reliable) == 5


def test_reliable_default_dir_warns_once(spark, tmp_path, caplog, monkeypatch):
    """Reliable mode with neither ``spark.graft.checkpoint.dir`` nor a
    context checkpoint dir falls back to the local default and warns
    once; an explicit dir does not warn."""
    assert io_mod.DEFAULT_RELIABLE_CKPT_DIR == "/tmp/spark-graft-checkpoints"
    # the fallback's dir is created by setCheckpointDir: keep it in tmp_path
    monkeypatch.setattr(io_mod, "DEFAULT_RELIABLE_CKPT_DIR", str(tmp_path / "fallback"))
    ctx = spark.sparkContext._jsc.sc()
    # the context's checkpoint dir can be set but not unset through the
    # public API; its private[spark] setter is public in the bytecode
    set_ctx_dir = getattr(ctx, "checkpointDir_$eq")
    prev_ctx_dir = ctx.checkpointDir()
    prev_conf_dir = spark.conf.get(RELIABLE_CKPT_DIR_CONF, None)

    def warnings():
        return [r for r in caplog.records if r.name == io_mod.__name__]

    spark.conf.set(RELIABLE_CKPT_CONF, "true")
    try:
        spark.conf.unset(RELIABLE_CKPT_DIR_CONF)
        set_ctx_dir(spark._jvm.scala.Option.apply(None))
        with caplog.at_level(logging.WARNING, logger=io_mod.__name__):
            for _ in range(2):
                assert resilient_checkpoint(spark.range(3)).count() == 3
        assert len(warnings()) == 1
        assert str(tmp_path / "fallback") in ctx.checkpointDir().get()

        caplog.clear()
        spark.conf.set(RELIABLE_CKPT_DIR_CONF, str(tmp_path / "explicit"))
        set_ctx_dir(spark._jvm.scala.Option.apply(None))
        with caplog.at_level(logging.WARNING, logger=io_mod.__name__):
            assert resilient_checkpoint(spark.range(3)).count() == 3
        assert warnings() == []
        assert str(tmp_path / "explicit") in ctx.checkpointDir().get()
    finally:
        spark.conf.set(RELIABLE_CKPT_CONF, "false")
        if prev_conf_dir is None:
            spark.conf.unset(RELIABLE_CKPT_DIR_CONF)
        else:
            spark.conf.set(RELIABLE_CKPT_DIR_CONF, prev_conf_dir)
        set_ctx_dir(prev_ctx_dir)


def test_no_local_checkpoint_outside_io():
    """``io.resilient_checkpoint`` is the package's only materialization
    primitive: a direct ``.localCheckpoint(`` / ``.checkpoint(`` call
    elsewhere would silently ignore reliable mode, and a ``.persist(``
    / ``.cache(`` would register the plan in the CacheManager and
    serve later identical calls from memory. Scans call nodes, so
    prose (a docstring advising ``docs.persist()``) does not count."""
    pkg = pathlib.Path(__file__).resolve().parent.parent / "data_pipeline_childcare_spark"
    banned = {"localCheckpoint", "checkpoint", "persist", "cache"}
    offenders = [
        f"{path.relative_to(pkg)}:{node.lineno} .{node.func.attr}("
        for path in sorted(pkg.rglob("*.py"))
        if path.name != "io.py" or path.parent != pkg
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in banned
    ]
    assert not offenders, offenders
