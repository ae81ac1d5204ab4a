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
The committed SCALE_BENCH_x10.json took the best of 4 runs; the
harness takes the best of 6.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import BENCH_QUERIES
from pyspark.sql import functions as F
from tools.harness import (
    PASSES,
    REPO,
    RUNS,
    min_times,
    plan_shapes,
    query_jobs,
    query_names,
    replicate,
    session,
    write_scale_report,
)

BASE_DIR = "/root/testdata/sf0.1"
DIMS = ("region", "nation", "customer", "supplier", "part")


def build_scaled(spark, copies: int, out_dir: str) -> None:
    """The key-disjoint clone protocol above at ``copies`` copies."""
    os.makedirs(out_dir, exist_ok=True)
    for t in DIMS:
        src = os.path.join(BASE_DIR, f"{t}.parquet")
        dst = os.path.join(out_dir, f"{t}.parquet")
        if os.path.isfile(src) and not os.path.exists(dst):
            shutil.copy(src, dst)

    def offset(**steps):
        return lambda df, i: df.withColumns(
            {c: F.col(c) + i * step for c, step in steps.items()}
        )

    tweaks = {
        "orders": offset(o_orderkey=10_000_000),
        "lineitem": offset(l_orderkey=10_000_000),
        "events": offset(event_id=10_000_000, user_id=1_000_000),
        "documents": lambda df, i: offset(doc_id=1_000_000)(df, i).withColumn(
            "text",
            F.col("text") if i == 0 else F.concat(F.col("text"), F.lit(f" copyv{i}")),
        ),
        "embeddings": offset(vec_id=10_000_000),
    }
    for name, tweak in tweaks.items():
        replicate(spark, name, copies, tweak, BASE_DIR, out_dir)


def scaled_dir(spark, copies: int, rebuild: bool = False) -> str:
    """``.scaledata/x<copies>/``, built by :func:`build_scaled` unless
    a complete build (its last table) is already there."""
    out_dir = os.path.join(REPO, ".scaledata", f"x{copies}")
    if rebuild and os.path.isdir(out_dir):
        shutil.rmtree(out_dir)
    if not os.path.isdir(os.path.join(out_dir, "embeddings.parquet")):
        print(f"building {copies}x scaled tables ...", file=sys.stderr)
        build_scaled(spark, copies, out_dir)
    return out_dir


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rebuild", action="store_true")
    ap.add_argument("--queries", default="")
    args = ap.parse_args()
    names = query_names(args.queries, BENCH_QUERIES)

    spark = session("scale_bench")
    scale_dir = scaled_dir(spark, 10, args.rebuild)
    # r14: the base-table pre-cache is gone, matching bench.py's r13
    # methodology fix — timed runs compute from parquet. Ratios from
    # runs of THIS version are not comparable with the committed
    # pre-r14 SCALE_BENCH_* artifacts (whose 1x and 10x legs were both
    # cached, so their RATIOS remain internally consistent).
    legs = []
    for d in (BASE_DIR, scale_dir):
        shapes = plan_shapes(spark, d, names)
        legs.append((min_times(spark, query_jobs(spark, d, names)), shapes))
    write_scale_report(
        "SCALE_BENCH_x10.json",
        names,
        *legs,
        "sec_10x",
        {
            "protocol": f"best of {RUNS * PASSES} warm runs, bench.py session settings",
            "copies": 10,
        },
    )
    spark.stop()


if __name__ == "__main__":
    main()
