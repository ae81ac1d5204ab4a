"""Reliable-checkpoint mode (r13 verdict #5): the iterative loops'
lineage cuts default to executor-local localCheckpoint, and flipping
``spark.graft.checkpoint.reliable=true`` routes the SAME call sites
through DataFrame.checkpoint() into a reliable checkpoint dir —
values must be identical in both modes and the dir must actually be
used (executor-loss survivability is the point; we can't kill an
executor in local mode, so the test pins the routing)."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

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
