"""10× relational scale-up harness (round-4 verdict item #5).

Synthesizes a 10× copy of the sf0.1 star schema — fact tables
(lineitem, orders, events, documents, embeddings) replicated with
distinct keys, dimension tables (region, nation, customer, supplier,
part) kept at size, the realistic growth shape: facts grow, dims
don't — then re-runs the full 19-query bench at both scales under
bench.py's exact session settings and reports:

- per-query best-of-N seconds at 1× and 10× and the time ratio;
- whether the PHYSICAL PLAN SHAPE changed between scales (operator
  multiset extracted from the executed plan — a broadcast join that
  silently became a sort-merge join, a new Exchange, a lost
  WholeStageCodegen span all flag here).

The point is to MEASURE the "fixed JVM floor amortizes at scale"
claim instead of asserting it: a query dominated by per-stage
scheduling overhead shows a ~1× ratio at 10× data; a scan-linear
query shows ≤10×; anything super-linear that isn't output-bound is a
plan defect.

Replication details (key-disjoint copies, FK structure preserved):
- orders/lineitem: `o_orderkey`/`l_orderkey` += copy * 10^7 — each
  customer now owns 10× orders (per-customer windows get 10× rows);
- events: `event_id` += copy * 10^7, `user_id` += copy * 10^6 — 10×
  users with the original per-user event distribution;
- documents: `doc_id` += copy * 10^6, copies > 0 get a short text
  suffix — each original spawns a 10-doc NEAR-DUP cluster, so pair
  outputs grow ~C(10,2)/pair (the true answer growing, not the plan);
- embeddings: `vec_id` += copy * 10^7, vectors unchanged.

Usage:
    python tools/scale_bench.py [--rebuild] [--queries q1,q3,...]
Writes SCALE_BENCH_x10.json at the repo root. The scaled data lands
in .scaledata/x10/ (gitignored, ~120 MB), built once and reused.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import sys
import time
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod
import data_pipeline_childcare_spark as eng
from bench import BENCH_QUERIES
from pyspark.sql import functions as F

BASE_DIR = "/root/testdata/sf0.1"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCALE_DIR = os.path.join(REPO, ".scaledata", "x10")
COPIES = 10
DIMS = ("region", "nation", "customer", "supplier", "part")
RUNS = 2
PASSES = 2


def build_scaled(spark) -> None:
    os.makedirs(SCALE_DIR, exist_ok=True)
    for t in DIMS:
        src = os.path.join(BASE_DIR, f"{t}.parquet")
        dst = os.path.join(SCALE_DIR, f"{t}.parquet")
        if os.path.isfile(src) and not os.path.exists(dst):
            shutil.copy(src, dst)

    def replicate(name: str, tweaks):
        df = eng.load_table(spark, name, BASE_DIR)
        parts = []
        for i in range(COPIES):
            c = df
            for col, fn in tweaks.items():
                c = c.withColumn(col, fn(i))
            parts.append(c)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out.write.mode("overwrite").parquet(os.path.join(SCALE_DIR, f"{name}.parquet"))

    replicate("orders", {"o_orderkey": lambda i: F.col("o_orderkey") + i * 10_000_000})
    replicate("lineitem", {"l_orderkey": lambda i: F.col("l_orderkey") + i * 10_000_000})
    replicate(
        "events",
        {
            "event_id": lambda i: F.col("event_id") + i * 10_000_000,
            "user_id": lambda i: F.col("user_id") + i * 1_000_000,
        },
    )
    replicate(
        "documents",
        {
            "doc_id": lambda i: F.col("doc_id") + i * 1_000_000,
            "text": lambda i: (
                F.col("text") if i == 0 else F.concat(F.col("text"), F.lit(f" copyv{i}"))
            ),
        },
    )
    replicate("embeddings", {"vec_id": lambda i: F.col("vec_id") + i * 10_000_000})


_NODE_RE = re.compile(r"(?m)^[\s:+\-*()0-9]*([A-Za-z][A-Za-z0-9]*)(?: (\w+))?")


def plan_shape(df) -> Counter:
    """Operator-name multiset of the executed plan (ids stripped).

    Exchange nodes are keyed by partitioning KIND, and round-robin
    exchanges are dropped: those come from the spread_partitions
    input guard, which fires on the single-file 1x layout and no-ops
    on the multi-file 10x layout — an input-layout artifact, not a
    query-plan shape. hash/range/single-partition exchanges (the real
    shuffles) still count."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    shape: Counter = Counter()
    for m in _NODE_RE.finditer(plan):
        name, arg = m.group(1), m.group(2)
        if name == "Exchange":
            if arg and arg.startswith("RoundRobin"):
                continue
            shape[f"Exchange {arg}"] += 1
        else:
            shape[name] += 1
    return shape


def time_queries(spark, sf_dir: str, names: list[str]) -> tuple[dict, dict]:
    # r14: the base-table pre-cache is gone, matching bench.py's r13
    # methodology fix — timed runs compute from parquet. Ratios from
    # runs of THIS version are not comparable with the committed
    # pre-r14 SCALE_BENCH_* artifacts (whose 1x and 10x legs were both
    # cached, so their RATIOS remain internally consistent).
    qs = entry_mod.queries()
    shapes = {n: plan_shape(qs[n](spark, sf_dir)) for n in names}
    for n in names:  # warm-up pass (JIT/codegen)
        qs[n](spark, sf_dir).count()
    spark.sparkContext._jvm.System.gc()
    time.sleep(1.0)
    best = {n: float("inf") for n in names}
    for _ in range(PASSES):
        for n in names:
            for _ in range(RUNS):
                t0 = time.perf_counter()
                qs[n](spark, sf_dir).count()
                best[n] = min(best[n], time.perf_counter() - t0)
    return {n: round(v, 3) for n, v in best.items()}, shapes


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rebuild", action="store_true")
    ap.add_argument("--queries", default="")
    args = ap.parse_args()
    names = [q for q in args.queries.split(",") if q] or list(BENCH_QUERIES)

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")
    spark = eng.get_spark(
        app_name="scale_bench",
        shuffle_partitions=8,
        extra_conf={
            "spark.sql.files.maxPartitionBytes": "512k",
            "spark.sql.adaptive.enabled": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    if args.rebuild and os.path.isdir(SCALE_DIR):
        shutil.rmtree(SCALE_DIR)
    if not os.path.isdir(os.path.join(SCALE_DIR, "lineitem.parquet")):
        print("building 10x scaled tables ...", file=sys.stderr)
        build_scaled(spark)

    base_t, base_s = time_queries(spark, BASE_DIR, names)
    scaled_t, scaled_s = time_queries(spark, SCALE_DIR, names)

    report = {}
    for n in names:
        same = base_s[n] == scaled_s[n]
        drift = (
            {}
            if same
            else {
                k: [base_s[n].get(k, 0), scaled_s[n].get(k, 0)]
                for k in set(base_s[n]) | set(scaled_s[n])
                if base_s[n].get(k, 0) != scaled_s[n].get(k, 0)
            }
        )
        report[n] = {
            "sec_1x": base_t[n],
            "sec_10x": scaled_t[n],
            "ratio": round(scaled_t[n] / base_t[n], 2) if base_t[n] else None,
            "plan_shape_same": same,
            **({"plan_drift": drift} if drift else {}),
        }
    # Merge into the existing dump: batch sweeps over --queries subsets
    # accumulate rows instead of discarding previously measured ones.
    out_path = os.path.join(REPO, "SCALE_BENCH_x10.json")
    merged = report
    if os.path.isfile(out_path):
        with open(out_path) as f:
            prior = json.load(f).get("queries", {})
        prior.update(report)
        merged = prior
    out = {
        "protocol": f"best of {RUNS * PASSES} warm runs, bench.py session settings",
        "copies": COPIES,
        "queries": dict(sorted(merged.items())),
        "total_1x": round(sum(v["sec_1x"] for v in merged.values()), 3),
        "total_10x": round(sum(v["sec_10x"] for v in merged.values()), 3),
    }
    with open(out_path, "w") as f:
        json.dump(out, f, indent=2)
    print(json.dumps(out, indent=2))
    spark.stop()


if __name__ == "__main__":
    main()
