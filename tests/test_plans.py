"""Pipeline-plan tests: the three reference lifecycles end-to-end on
synthetic data (SURVEY.md §3)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from data_pipeline_childcare_spark.operators.rules import RegionalRule
from data_pipeline_childcare_spark.plans.retrieval import tuoyu_rule_filter, xpilot_retrieval
from data_pipeline_childcare_spark.plans.scrape import scrape_pipeline
from data_pipeline_childcare_spark.plans.search_plan import (
    SearchStrategy,
    assign_providers,
    build_filtered_query,
    build_search_queries,
    school_major_queries,
)

INST_OK = (
    "机构名称：成都天使托育园\n统一社会信用代码：9151\n详细地址：四川省成都市\n"
    "备案及完成时间：2025-05-10 12:00:00"
)
INST_OLD = (
    "机构名称：旧机构\n统一社会信用代码：9150\n详细地址：四川省成都市\n"
    "备案及完成时间：2019-01-01"
)
INST_OTHER = (
    "机构名称：北京机构\n统一社会信用代码：9111\n详细地址：北京市朝阳区\n"
    "备案及完成时间：2025-03-01"
)
SURVEY_BLK = "城市：成都 | 岗位：保育员 | 学历：大专\n问卷正文"

CHUNK_SCHEMA = "database_id string, document_id string, chunk_id string, position int, content string"


def chunks_df(spark):
    rows = [
        ("db1", "d1", "c1", 0, INST_OK),
        ("db1", "d1", "c1", 0, INST_OK),  # duplicate chunk (dedup target)
        ("db1", "d2", "c2", 0, INST_OLD),
        ("db1", "d3", "c3", 0, INST_OTHER),
        ("db1", "d4", "c4", 0, SURVEY_BLK),
    ]
    return spark.createDataFrame(rows, CHUNK_SCHEMA)


def segments_df(spark):
    rows = [
        ("db1", "d1", "s1", 0, INST_OK),
        ("db1", "d1", "s2", 1, INST_OK),
        ("db1", "d2", "s3", 0, INST_OLD),
        ("db1", "d4", "s4", 0, SURVEY_BLK),
    ]
    return spark.createDataFrame(rows, CHUNK_SCHEMA)


def test_tuoyu_rule_filter_flagship(spark):
    rule = RegionalRule(scope="四川", time_filter="近两年")
    out = tuoyu_rule_filter(chunks_df(spark), segments_df(spark), rule).collect()
    by_doc = {r["document_id"]: r for r in out}
    # d1 (成都, 2025) passes with both segments, ordered; d2 out by
    # time; d3 out by region; d4 (survey) exempt from time → passes
    assert set(by_doc) == {"d1", "d4"}
    assert by_doc["d1"]["n_blocks"] == 2
    assert [b["position"] for b in by_doc["d1"]["content_blocks"]] == [0, 1]
    assert by_doc["d1"]["source_type"] == "Tuoyu_institution"
    assert by_doc["d4"]["source_type"] == "Tuoyu_Questionnaire"


def test_xpilot_retrieval_path(spark):
    retrieved = spark.createDataFrame(
        [
            ("q1", "c1", 0.9, "db1", "d1", 0, "alpha"),
            ("q1", "c2", 0.8, "db1", "d1", 1, "beta"),
            ("q2", "c2", 0.95, "db1", "d1", 1, "beta"),
            ("q2", "c3", 0.5, "db1", "d2", 0, "gamma"),
        ],
        "query_id string, chunk_id string, score double, database_id string, document_id string, position int, content string",
    )
    tasks = spark.createDataFrame([("t1", "q1"), ("t2", "q2")], "task_id string, query_id string")
    out = xpilot_retrieval(retrieved, tasks, top_k=2).collect()
    # c2 ranks in both lists → highest RRF → claimed by t1 (priority);
    # every chunk lands in exactly one task
    claimed = {}
    for r in out:
        for b in r["content_blocks"]:
            assert b["chunk_id"] not in claimed, "chunk assigned twice"
            claimed[b["chunk_id"]] = r["task_id"]
    assert set(claimed) == {"c1", "c2", "c3"}
    assert claimed["c2"] == "t1"


def _xpilot_via_sequential_dedup(retrieved, tasks, rerank_scorer, rerank_cap, top_k):
    """xpilot_retrieval's former formulation: every task cross-joined
    with the capped list, then one anti-join per task in task_id order
    (top_k_sequential_dedup). The slice-based plan must match it."""
    from data_pipeline_childcare_spark.operators.rrf import rank_lists, rrf_fuse
    from data_pipeline_childcare_spark.operators.topk import top_k_sequential_dedup

    fused = rrf_fuse(
        rank_lists(retrieved, "query_id", "score", "chunk_id"),
        item_col="chunk_id",
        list_col="query_id",
        payload_cols=["database_id", "document_id", "position", "content"],
    )
    capped = fused.orderBy(F.desc("rrf_score"), "chunk_id").limit(rerank_cap)
    order_col = "rrf_score"
    if rerank_scorer is not None:
        capped, order_col = rerank_scorer(capped), "rerank_score"
    task_ids = tasks.select("task_id").distinct()
    winners = top_k_sequential_dedup(
        capped.crossJoin(task_ids),
        sorted(r["task_id"] for r in task_ids.collect()),
        task_col="task_id",
        item_col="chunk_id",
        score_col=order_col,
        k=top_k,
    )
    blocks = F.array_sort(F.collect_list(F.struct(
        (-F.col(order_col)).alias("neg_score"), "position", "content", "chunk_id"
    )))
    return winners.groupBy("task_id", "database_id", "document_id").agg(
        blocks.alias("content_blocks"), F.count("*").alias("n_blocks")
    )


def _null_nan_scorer(capped):
    """Custom scorer with heavy ties, NULL and NaN rerank scores."""
    h = F.abs(F.hash("chunk_id")) % 7
    return capped.withColumn(
        "rerank_score",
        F.when(h == 0, F.lit(None).cast("double"))
        .when(h == 1, F.lit(float("nan")))
        .otherwise((h % 3).cast("double")),
    )


def _xpilot_random_inputs(spark, n_tasks, seed):
    import random

    rnd = random.Random(seed)
    n_queries = 4
    rows = [
        # scores on a 0.1 grid: equal scores and equal RRF sums tie
        (f"q{q}", f"c{c:02d}", round(rnd.randint(1, 5) / 10, 1), f"db{c % 2}",
         f"d{c % 5}", c, f"text {c}")
        for q in range(n_queries)
        for c in rnd.sample(range(30), 12)
    ]
    retrieved = spark.createDataFrame(rows, _XPILOT_SCHEMA)
    tasks = spark.createDataFrame(
        [(f"t{t}", f"q{t % n_queries}") for t in range(n_tasks)],
        "task_id string, query_id string",
    )
    return retrieved, tasks


@pytest.mark.parametrize(
    "n_tasks,top_k,rerank_cap,scorer",
    [
        (2, 3, 20, None),
        (3, 4, 10, None),  # the third task runs off the capped list
        (4, 2, 30, _null_nan_scorer),
        (3, 5, 12, _null_nan_scorer),
    ],
)
def test_xpilot_slice_matches_sequential_dedup(spark, n_tasks, top_k, rerank_cap, scorer):
    retrieved, tasks = _xpilot_random_inputs(spark, n_tasks, seed=n_tasks * 10 + top_k)
    new = xpilot_retrieval(
        retrieved, tasks, rerank_scorer=scorer, rerank_cap=rerank_cap, top_k=top_k
    )
    old = _xpilot_via_sequential_dedup(retrieved, tasks, scorer, rerank_cap, top_k)
    assert new.schema == old.schema
    assert new.exceptAll(old).count() == 0
    assert old.exceptAll(new).count() == 0
    assert new.agg(F.sum("n_blocks")).first()[0] == min(n_tasks * top_k, rerank_cap)


def test_xpilot_task_edge_cases(spark):
    retrieved = spark.createDataFrame(_XPILOT_ROWS, _XPILOT_SCHEMA)
    task_schema = "task_id string, query_id string"
    base = xpilot_retrieval(
        retrieved, spark.createDataFrame([("t1", "q1")], task_schema), top_k=2
    )
    # top_k < 1: empty, same schema (k=0 would divide by zero in the slot)
    for k in (0, -1):
        out = xpilot_retrieval(
            retrieved, spark.createDataFrame([("t1", "q1")], task_schema), top_k=k
        )
        assert out.schema == base.schema
        assert out.count() == 0
    # no tasks: empty result (the anti-join formulation raised)
    none = xpilot_retrieval(retrieved, spark.createDataFrame([], task_schema), top_k=2)
    assert none.schema == base.schema
    assert none.count() == 0
    # duplicate task rows count once; NULL task ids take nothing; the
    # 3 capped chunks at k=2 leave t2 one chunk and t3 none
    tasks = spark.createDataFrame(
        [("t1", "q1"), ("t1", "q2"), ("t2", "q2"), ("t3", "q1"), (None, "q1")],
        task_schema,
    )
    got: dict[str, list[str]] = {}
    for r in xpilot_retrieval(retrieved, tasks, top_k=2).collect():
        got.setdefault(r["task_id"], []).extend(b["chunk_id"] for b in r["content_blocks"])
    assert {t: sorted(c) for t, c in got.items()} == {"t1": ["c1", "c2"], "t2": ["c3"]}


def test_xpilot_plan_builds_without_jobs_or_anti_joins(spark):
    from data_pipeline_childcare_spark.plans.retrieval import bm25_rerank_scorer

    retrieved = spark.createDataFrame(_XPILOT_ROWS, _XPILOT_SCHEMA)
    tasks = spark.createDataFrame([("t1", "q1"), ("t2", "q2")], "task_id string, query_id string")
    sc = spark.sparkContext
    group = "xpilot-plan-build"
    sc.setJobGroup(group, "plan construction must not execute")
    try:
        out = xpilot_retrieval(
            retrieved, tasks, rerank_scorer=bm25_rerank_scorer("beta summary"), top_k=2
        )
        assert out.columns
    finally:
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        sc.setJobGroup("", "")
    assert len(jobs) == 0
    assert out.count() > 0
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" not in plan, plan


def test_bm25_rerank_scorer_values_and_zero_hit(spark):
    """The shippable default scorer (reference retrieve.py:184-232's
    local stand-in for the hosted cross-encoder): hand-computed BM25
    over a 3-candidate set, zero-hit candidates score 0.0."""
    import math

    from data_pipeline_childcare_spark.plans.retrieval import bm25_rerank_scorer

    capped = spark.createDataFrame(
        [
            ("c1", 0.5, "apple apple banana x"),
            ("c2", 0.4, "apple x y z"),
            ("c3", 0.3, "q r s t"),
        ],
        "chunk_id string, rrf_score double, content string",
    )
    got = {
        r["chunk_id"]: r["rerank_score"]
        for r in bm25_rerank_scorer("banana apple")(capped).collect()
    }
    # N=3, avgdl=4, df(apple)=2, df(banana)=1, dl/avgdl=1 for all
    idf_a = round(math.log(1 + 1.5 / 2.5), 8)
    idf_b = round(math.log(1 + 2.5 / 1.5), 8)
    c1 = round(round(idf_a * 4.4 / 3.2, 8) + round(idf_b * 1.0, 8), 6)
    c2 = round(round(idf_a * 1.0, 8), 6)
    assert got["c1"] == pytest.approx(c1, abs=1e-9)
    assert got["c2"] == pytest.approx(c2, abs=1e-9)
    assert got["c3"] == 0.0
    # empty query degrades to the RRF order (score = rounded rrf)
    got_empty = {
        r["chunk_id"]: r["rerank_score"]
        for r in bm25_rerank_scorer("   ")(capped).collect()
    }
    assert got_empty == {"c1": 0.5, "c2": 0.4, "c3": 0.3}


def test_xpilot_rerank_scorer_failure_falls_back_to_rrf(spark):
    """W3 degradation chain: a scorer that raises must leave the
    pipeline on RRF order — byte-identical output to the no-scorer
    path (reference retrieve.py:229-232)."""
    retrieved = spark.createDataFrame(
        [
            ("q1", "c1", 0.9, "db1", "d1", 0, "alpha"),
            ("q1", "c2", 0.8, "db1", "d1", 1, "beta"),
            ("q2", "c2", 0.95, "db1", "d1", 1, "beta"),
            ("q2", "c3", 0.5, "db1", "d2", 0, "gamma"),
        ],
        "query_id string, chunk_id string, score double, database_id string, document_id string, position int, content string",
    )
    tasks = spark.createDataFrame([("t1", "q1")], "task_id string, query_id string")

    def boom(capped):
        raise RuntimeError("model endpoint down")

    plain = xpilot_retrieval(retrieved, tasks, top_k=2).collect()
    degraded = xpilot_retrieval(retrieved, tasks, rerank_scorer=boom, top_k=2).collect()
    assert sorted(map(str, plain)) == sorted(map(str, degraded))


_XPILOT_ROWS = [
    ("q1", "c1", 0.9, "db1", "d1", 0, "alpha growth report"),
    ("q1", "c2", 0.8, "db1", "d1", 1, "beta summary"),
    ("q2", "c2", 0.95, "db1", "d1", 1, "beta summary"),
    ("q2", "c3", 0.5, "db1", "d2", 0, "gamma appendix"),
]
_XPILOT_SCHEMA = (
    "query_id string, chunk_id string, score double, database_id string, "
    "document_id string, position int, content string"
)


def test_cross_encoder_scorer_fake_model_plumbing(spark):
    """The model-backed scorer's Spark plumbing (Arrow-batched pandas
    UDF, per-executor model cache, rerank_score column contract)
    exercised end-to-end through xpilot_retrieval with an injected
    deterministic fake (score = shared-token count, so ordering is
    inspectable) — no optional dependency needed. The loader is a
    self-contained local function referencing no test-module globals,
    so cloudpickle ships it BY VALUE: executor workers don't have the
    tests/ directory on their import path."""
    from data_pipeline_childcare_spark.plans.retrieval import (
        cross_encoder_rerank_scorer,
        xpilot_retrieval,
    )

    def fake_cross_encoder():
        class _M:
            def predict(self, pairs):
                out = []
                for q, c in pairs:
                    qs = set(q.lower().split())
                    cs = set((c or "").lower().split())
                    out.append(float(len(qs & cs)))
                return out

        return _M()

    retrieved = spark.createDataFrame(_XPILOT_ROWS, _XPILOT_SCHEMA)
    tasks = spark.createDataFrame([("t1", "q1")], "task_id string, query_id string")
    scorer = cross_encoder_rerank_scorer(
        "beta summary", model_loader=fake_cross_encoder
    )
    out = xpilot_retrieval(retrieved, tasks, rerank_scorer=scorer, top_k=3).collect()
    blocks = [b for r in out for b in r["content_blocks"]]
    # rerank order ≠ RRF order: c2 ("beta summary", 2 shared tokens)
    # must outrank c1 (0 shared) — block structs sort by -score first
    by_score = sorted(blocks, key=lambda b: b["neg_score"])
    assert by_score[0]["chunk_id"] == "c2"
    # direct scorer contract: rerank_score present and deterministic
    capped = spark.createDataFrame(
        [("c1", 0.5, "alpha growth report"), ("c2", 0.4, "beta summary")],
        "chunk_id string, rrf_score double, content string",
    )
    got = {r["chunk_id"]: r["rerank_score"] for r in scorer(capped).collect()}
    assert got == {"c1": 0.0, "c2": 2.0}


def test_cross_encoder_scorer_missing_dep_falls_back(spark):
    """Without sentence-transformers installed, the scorer raises at
    construction/call time — inside xpilot's try — so the pipeline
    degrades to RRF order exactly like the no-scorer path
    (reference retrieve.py:229-232's API-failure fallback)."""
    from data_pipeline_childcare_spark.plans.retrieval import (
        cross_encoder_rerank_scorer,
        xpilot_retrieval,
    )

    retrieved = spark.createDataFrame(_XPILOT_ROWS, _XPILOT_SCHEMA)
    tasks = spark.createDataFrame([("t1", "q1")], "task_id string, query_id string")

    def make_scorer_then_score(capped):
        # default loader imports sentence_transformers; absent here it
        # raises ImportError inside xpilot_retrieval's try
        return cross_encoder_rerank_scorer("beta summary")(capped)

    plain = xpilot_retrieval(retrieved, tasks, top_k=2).collect()
    degraded = xpilot_retrieval(
        retrieved, tasks, rerank_scorer=make_scorer_then_score, top_k=2
    ).collect()
    assert sorted(map(str, plain)) == sorted(map(str, degraded))


def test_chained_rerank_model_failure_degrades_to_bm25(spark):
    """The production chain (round-6 verdict #7): cross-encoder first,
    BM25 on failure, RRF only if both die — reference
    retrieve.py:229-232. A raising model loader (stands in for a
    missing dependency / unloadable weights) must hand the capped
    frame to bm25_rerank_scorer UNCHANGED: chain output ==
    direct-BM25 output, bit for bit."""
    from data_pipeline_childcare_spark.plans.retrieval import (
        bm25_rerank_scorer,
        chained_rerank_scorer,
        cross_encoder_rerank_scorer,
        xpilot_retrieval,
    )

    def broken_loader():
        raise ImportError("sentence-transformers unavailable")

    retrieved = spark.createDataFrame(_XPILOT_ROWS, _XPILOT_SCHEMA)
    tasks = spark.createDataFrame([("t1", "q1")], "task_id string, query_id string")
    chain = chained_rerank_scorer(
        lambda: cross_encoder_rerank_scorer("beta summary", model_loader=broken_loader),
        lambda: bm25_rerank_scorer("beta summary"),
    )
    chained = xpilot_retrieval(retrieved, tasks, rerank_scorer=chain, top_k=3).collect()
    direct = xpilot_retrieval(
        retrieved, tasks, rerank_scorer=bm25_rerank_scorer("beta summary"), top_k=3
    ).collect()
    assert sorted(map(str, chained)) == sorted(map(str, direct))

    # and when every tier dies, the last error reaches xpilot's own
    # try → RRF order (the final rung of the reference's ladder)
    all_dead = chained_rerank_scorer(
        lambda: cross_encoder_rerank_scorer("beta summary", model_loader=broken_loader),
    )
    rrf_only = xpilot_retrieval(retrieved, tasks, rerank_scorer=all_dead, top_k=3).collect()
    plain = xpilot_retrieval(retrieved, tasks, top_k=3).collect()
    assert sorted(map(str, rrf_only)) == sorted(map(str, plain))


def test_cross_encoder_scorer_batched_partitions(spark):
    """Arrow-batched scoring across multiple partitions: 300 capped
    candidates repartitioned 4 ways must each come back with the
    model's per-row score — per-executor model caching and batch
    boundaries cannot drop, duplicate, or misalign rows. The fake is
    defined inside the test body so cloudpickle ships it by value."""
    from pyspark.sql import functions as F

    from data_pipeline_childcare_spark.plans.retrieval import (
        cross_encoder_rerank_scorer,
    )

    def fake_loader():
        class _M:
            def predict(self, pairs):
                # deterministic per-row signature: content length +
                # shared-token count with the query
                out = []
                for q, c in pairs:
                    qs = set(q.lower().split())
                    cs = set((c or "").lower().split())
                    out.append(float(len(c or "") + 10_000 * len(qs & cs)))
                return out

        return _M()

    rows = [(f"c{i}", 1.0 / (i + 1), f"content block {i} " + "beta " * (i % 3)) for i in range(300)]
    capped = spark.createDataFrame(
        rows, "chunk_id string, rrf_score double, content string"
    ).repartition(4)
    scorer = cross_encoder_rerank_scorer("beta summary", model_loader=fake_loader)
    got = {r["chunk_id"]: r["rerank_score"] for r in scorer(capped).collect()}
    assert len(got) == 300
    for i in range(300):
        content = f"content block {i} " + "beta " * (i % 3)
        expect = float(len(content) + 10_000 * (1 if i % 3 else 0))
        assert got[f"c{i}"] == expect, (i, got[f"c{i}"], expect)


def test_cross_encoder_scorer_real_model(spark):
    """Env-gated: the REAL sentence-transformers cross-encoder through
    the same hook — model download/load happens once; skipped wherever
    the optional dependency or model weights are unavailable."""
    st = pytest.importorskip("sentence_transformers")
    from data_pipeline_childcare_spark.plans.retrieval import (
        cross_encoder_rerank_scorer,
        xpilot_retrieval,
    )

    try:
        scorer = cross_encoder_rerank_scorer("beta summary")
    except Exception as exc:  # pragma: no cover - offline weights
        pytest.skip(f"cross-encoder model unavailable: {exc}")
    retrieved = spark.createDataFrame(_XPILOT_ROWS, _XPILOT_SCHEMA)
    tasks = spark.createDataFrame([("t1", "q1")], "task_id string, query_id string")
    out = xpilot_retrieval(retrieved, tasks, rerank_scorer=scorer, top_k=3).collect()
    scores = [b["neg_score"] for r in out for b in r["content_blocks"]]
    assert scores and all(isinstance(s, float) for s in scores)


def test_build_filtered_query_modes(spark):
    df = spark.createDataFrame([("托育 政策",)], "q string")

    def run(col):
        return df.select(col.alias("v")).first()["v"]

    s_inc = SearchStrategy(includes=["site:gov.cn", "site:stats.gov.cn"])
    assert run(build_filtered_query(F.col("q"), s_inc)) == "托育 政策 (site:gov.cn OR site:stats.gov.cn)"
    s_exc = SearchStrategy(excludes=["-site:zhihu.com"])
    assert run(build_filtered_query(F.col("q"), s_exc)) == "托育 政策 -site:zhihu.com"
    # regional patterns win over includes (mutually exclusive modes)
    s_reg = SearchStrategy(includes=["site:gov.cn"], regional_patterns=["site:{scope}.gov.cn"])
    assert run(
        build_filtered_query(F.col("q"), s_reg, regional_scope_domain="sichuan")
    ) == "托育 政策 (site:sichuan.gov.cn)"
    # time suffixes compose
    got = run(
        build_filtered_query(
            F.col("q"), s_inc, after=dt.date(2023, 1, 1), before=dt.date(2024, 6, 30)
        )
    )
    assert got.endswith("after:2023-01-01 before:2024-06-30")


def test_school_major_template(spark):
    schools = spark.createDataFrame([("四川幼专",)], "school string")
    majors = spark.createDataFrame([("婴幼儿托育",)], "major string")
    got = school_major_queries(schools, majors).first()["query"]
    assert got == '"四川幼专" AND "婴幼儿托育" site:edu.cn'


def test_build_search_queries_distinct(spark):
    local = spark.createDataFrame([("政策",), ("政策",)], "query string")
    rules = spark.createDataFrame([("四川 大专",)], "rule_string string")
    got = {r["query"] for r in build_search_queries(local, rules).collect()}
    assert got == {"四川 大专 政策", "四川 大专"}


def test_assign_providers_round_robin(spark):
    tasks = spark.createDataFrame([(f"q{i}",) for i in range(5)], "query string")
    got = [r["provider"] for r in assign_providers(tasks, ["a", "b"]).orderBy("query").collect()]
    assert got == ["a", "b", "a", "b", "a"]


def test_scrape_pipeline_grouping_and_status(spark):
    fetched = spark.createDataFrame(
        [
            ("k1", "u1", "txt", bytearray("第 1 页\n正文A\n第 1 页".encode())),
            ("k1", "u2", "txt", bytearray("正文B".encode())),
            ("k2", "u3", "cap", bytearray(b"x")),
        ],
        "origin_key string, url string, fmt string, content binary",
    )
    # force an error row for k2 by oversize simulation: patch via fmt
    # 'cap' is not a parser → parsed as txt, so instead make u3 succeed
    out = {r["origin_key"]: r for r in scrape_pipeline(fetched).collect()}
    assert out["k1"]["n_total"] == 2 and out["k1"]["status"] == "success"
    texts = {r["url"]: r["content"] for r in out["k1"]["results"]}
    assert texts["u1"] == "正文A"  # noise lines cleaned
    assert out["k2"]["n_total"] == 1


def test_tuoyu_rule_filter_docs_contract(spark):
    """End-to-end P2-P8 chain over the synthesized record blocks:
    survey docs classify as Tuoyu_Questionnaire, every passing twin
    (doc_id//3 % 5 == 0) yields exactly 2 ordered blocks, every other
    survivor exactly 1, and no non-四川 institution survives."""
    import __spark_entry__ as entry_mod

    rows = entry_mod.queries()["tuoyu_rule_filter_docs"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows, "pipeline returned no survivors"
    for r in rows:
        i = r["document_id"]
        expected_type = "Tuoyu_Questionnaire" if i % 3 == 0 else "Tuoyu_institution"
        assert r["source_type"] == expected_type, r
        assert r["n_blocks"] == (2 if (i // 3) % 5 == 0 else 1), r
        assert r["block_seq"].startswith("0:"), r
        if r["n_blocks"] == 2:
            assert "#1:" in r["block_seq"], r
    # institutions only survive with a 四川 address and an in-range date
    inst = [r for r in rows if r["document_id"] % 3 == 2]
    assert all((r["document_id"] // 3) % 2 == 0 for r in inst)  # 四川 addr
    assert all((r["document_id"] // 3) % 3 == 1 for r in inst)  # 2023 date


def test_curate_corpus_every_stage_fires(spark):
    """Crafted corpus where each curation stage drops exactly its
    target: an exact duplicate, a MinHash near-duplicate, a
    benchmark-contaminated doc, a symbol-soup low-quality doc — and a
    clean document survives with a split assignment."""
    from data_pipeline_childcare_spark.plans.curation import curate_corpus

    base = (
        "the quick brown fox jumps over the lazy dog and then runs far "
        "away into the green forest to find a quiet place to rest today"
    )
    near = base.replace("quiet", "silent").replace("today", "tonight")
    bench_text = (
        "benchmark question text about history of science and the many "
        "famous experiments that changed the world in profound ways"
    )
    docs = spark.createDataFrame(
        [
            (1, base),                     # clean → kept
            (2, base),                     # exact dup of 1
            (3, near),                     # near dup of 1
            (4, bench_text),               # contaminated (== benchmark)
            (5, "@@ ## $$ %% ^^ && ** (( )) !! ?? ;; :: ~~ ++ == [[ ]]"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(100, bench_text)], "doc_id long, text string")
    got = {
        r["doc_id"]: r
        for r in curate_corpus(docs, bench, ("the", "a", "of", "and", "to"),
                               token_range=(5, 100_000)).collect()
    }
    assert got[1]["kept"] is True and got[1]["split"] in ("train", "val", "test")
    assert got[2]["exact_dup_of"] == 1 and got[2]["kept"] is False
    assert got[3]["near_dup_of"] == 1 and got[3]["exact_dup_of"] is None
    assert got[3]["kept"] is False
    assert got[4]["contaminated"] is True and got[4]["contamination"] == 1.0
    assert got[4]["kept"] is False
    assert got[5]["quality_ok"] is False and got[5]["kept"] is False


def test_curate_corpus_null_text_gets_audit_row(spark):
    """A parse-failure (NULL text) document must still appear in the
    audit table with kept=False — never silently vanish."""
    from data_pipeline_childcare_spark.plans.curation import curate_corpus

    docs = spark.createDataFrame(
        [(1, "a perfectly fine document with enough words to pass the gate here"),
         (2, None), (3, None)],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(9, "benchmark text")], "doc_id long, text string")
    got = {r["doc_id"]: r for r in
           curate_corpus(docs, bench, ("the", "a"), token_range=(5, 100)).collect()}
    assert set(got) == {1, 2, 3}
    assert got[2]["kept"] is False and got[2]["quality_ok"] is False
    # NULL-text docs exact-dup each other (sentinel fingerprint)
    assert got[3]["exact_dup_of"] == 2


def test_curate_corpus_reads_each_input_row_once(spark):
    """The five curation stages share one cut of ``(id, text)``: an
    expensive upstream (here a Python UDF that counts its calls) is
    evaluated once per input row, not once per stage, and the cut
    registers nothing in the session cache."""
    from pyspark.sql.types import StringType

    from data_pipeline_childcare_spark.plans.curation import curate_corpus

    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu".split()
    rows = [
        (i, " ".join(words[(i + j) % len(words)] for j in range(8 + i % 5)))
        for i in range(40)
    ]
    rows += [(40, rows[0][1]), (41, None)]  # an exact dup and a NULL text
    calls = spark.sparkContext.accumulator(0)

    def counted(text):
        calls.add(1)
        return text

    docs = (
        spark.sparkContext.parallelize(rows, 3)
        .toDF("doc_id long, text string")
        .withColumn("text", F.udf(counted, StringType())("text"))
    )
    bench = spark.createDataFrame([(9, rows[5][1])], "doc_id long, text string")
    got = curate_corpus(docs, bench, ("the", "a"), token_range=(5, 100)).collect()
    assert len(got) == len(rows)
    assert calls.value == len(rows)
    assert {r["doc_id"]: r["exact_dup_of"] for r in got}[40] == 0
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_purge_customers_propagation_and_partition(spark):
    """Erasure closure: kept ∪ purged partitions every table exactly;
    lineitem erasure follows the FK chain (no custkey on the row);
    kept frames contain no subject data."""
    from pyspark.sql import functions as F

    import data_pipeline_childcare_spark as eng
    from data_pipeline_childcare_spark.plans.governance import purge_customers

    sf = "/root/testdata/sf0.001"
    cust = eng.load_table(spark, "customer", sf)
    orders = eng.load_table(spark, "orders", sf)
    li = eng.load_table(spark, "lineitem", sf)
    ev = eng.load_table(spark, "events", sf)
    subjects = cust.filter(F.col("c_custkey") % 10 == 0).select("c_custkey")
    out = purge_customers(cust, orders, li, ev, subjects)
    audit = {r["table"]: (r["n_purged"], r["n_kept"]) for r in out["audit"].collect()}
    totals = {
        "customer": cust.count(),
        "orders": orders.count(),
        "lineitem": li.count(),
        "events": ev.count(),
    }
    for t, (p, k) in audit.items():
        assert p + k == totals[t], t
        assert p > 0, t  # the subject set touches every table
    # closure: no kept order belongs to a subject, no kept lineitem
    # belongs to a purged order
    subj_keys = {r.c_custkey for r in subjects.collect()}
    assert not [
        r for r in out["kept_orders"].collect() if r.o_custkey in subj_keys
    ]
    purged_orders = {
        r.o_orderkey
        for r in orders.join(
            subjects.withColumnRenamed("c_custkey", "k"),
            orders.o_custkey == F.col("k"),
            "left_semi",
        ).collect()
    }
    assert not [
        r for r in out["kept_lineitem"].collect() if r.l_orderkey in purged_orders
    ]
