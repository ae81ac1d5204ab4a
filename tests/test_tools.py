"""The timing tools: bench lists name real oracled queries, the one
min-of-N loop keeps its protocol, plan shapes count what they claim,
and only the harness opens a session. No Spark session, no data scan."""

from __future__ import annotations

import ast
import glob
import os
from collections import Counter
from types import SimpleNamespace

import pytest

import __spark_entry__ as entry_mod
import bench
from tools import bench_local, harness, scale_bench_x100, scale_bench_x100_iid

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize(
    "names",
    [
        bench.BENCH_QUERIES,
        bench_local.LOCAL_BENCH_QUERIES,
        scale_bench_x100.EXTRA,
        scale_bench_x100_iid.ER_QUERIES,
    ],
    ids=["BENCH_QUERIES", "LOCAL_BENCH_QUERIES", "EXTRA", "ER_QUERIES"],
)
def test_bench_lists_name_oracled_queries(names):
    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    assert [n for n in names if n not in qs or n not in oracles] == []


def test_min_times_warms_up_clears_and_keeps_the_min(monkeypatch):
    clock = [0.0]
    events = []
    # per job: the warm-up's duration (shorter than any timed one, so
    # a timed-in warm-up would show as the min), then the timed runs'
    durations = {
        "a": iter([0.1, 5.0, 3.0, 4.0, 7.0, 6.0, 8.0]),
        "b": iter([0.2, 2.0, 0.5, 3.0, 2.5, 1.5, 2.0]),
    }

    def job(name):
        def run():
            events.append(name)
            clock[0] += next(durations[name])

        return run

    monkeypatch.setattr(harness.time, "perf_counter", lambda: clock[0])
    monkeypatch.setattr(harness.time, "sleep", lambda s: events.append("sleep"))
    monkeypatch.setattr(harness, "fresh_tables", lambda: events.append("fresh"))
    spark = SimpleNamespace(
        sparkContext=SimpleNamespace(
            _jvm=SimpleNamespace(System=SimpleNamespace(gc=lambda: events.append("gc")))
        )
    )
    assert (harness.RUNS, harness.PASSES) == (2, 3)
    got = harness.min_times(spark, {"a": job("a"), "b": job("b")})
    assert got == {"a": 3.0, "b": 0.5}
    per_pass = ["fresh", "a"] * harness.RUNS + ["fresh", "b"] * harness.RUNS
    assert events == ["a", "b", "gc", "sleep"] + per_pass * harness.PASSES


def test_fresh_tables_renews_every_handle_over_the_same_plan(monkeypatch):
    class Handle:
        def __init__(self, jdf, session):
            self._jdf, self.sparkSession = jdf, session

    raw = Handle("jdf-docs", "session")
    memo = {"session": {("sf", "documents"): raw, ("sf", "documents", False): raw}}
    monkeypatch.setattr(harness.entry_mod, "_TABLE_MEMO", memo)
    harness.fresh_tables()
    new = memo["session"]
    assert all(h is not raw for h in new.values())
    assert {(h._jdf, h.sparkSession) for h in new.values()} == {("jdf-docs", "session")}


def test_plan_shape_drops_round_robin_and_counts_hash_exchanges():
    plan = "\n".join(
        [
            "*(3) HashAggregate(keys=[k#1L], functions=[count(1)])",
            "+- Exchange hashpartitioning(k#1L, 8), ENSURE_REQUIREMENTS, [plan_id=9]",
            "   +- *(2) HashAggregate(keys=[k#1L], functions=[partial_count(1)])",
            "      +- Exchange hashpartitioning(k#1L, 8), ENSURE_REQUIREMENTS, [plan_id=7]",
            "         +- Exchange RoundRobinPartitioning(8), REPARTITION_BY_NUM, [plan_id=5]",
            "            +- *(1) Scan ExistingRDD[k#1L]",
        ]
    )
    executed = SimpleNamespace(toString=lambda: plan)
    df = SimpleNamespace(
        _jdf=SimpleNamespace(
            queryExecution=lambda: SimpleNamespace(executedPlan=lambda: executed)
        )
    )
    assert harness.plan_shape(df) == Counter(
        {"HashAggregate": 2, "Exchange hashpartitioning": 2, "Scan": 1}
    )


def test_only_the_harness_opens_a_session():
    """bench.py and the tools/ scripts size their sessions through
    ``harness.session``; the correctness gate keeps the engine default."""
    callers = set()
    paths = [os.path.join(REPO, "bench.py")] + glob.glob(os.path.join(REPO, "tools", "*.py"))
    for path in paths:
        with open(path) as f:
            tree = ast.parse(f.read())
        for node in ast.walk(tree):
            if isinstance(node, ast.Call):
                fn = node.func
                name = fn.attr if isinstance(fn, ast.Attribute) else getattr(fn, "id", None)
                if name == "get_spark":
                    callers.add(os.path.relpath(path, REPO))
    assert callers == {"tools/harness.py", "tools/check_correctness.py"}
