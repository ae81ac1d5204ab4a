"""sf1-scale spot-bench for the 19 headline queries (r13 verdict #2).

Why it exists: at sf0.1 every headline query is sub-second and
dominated by fixed planning/scheduling/broadcast latency — the r13
driver data showed 8 cores matching or beating 32 on every query and
two same-code runs disagreeing by more than the 10% regression
threshold. Round-over-round deltas at sf0.1 are therefore weak
evidence. This harness re-runs the SAME 19 queries on the 10×
key-disjoint clone of sf0.1 (facts grow, dims don't — built by
tools/scale_bench.py, ~1 GB of parquet) where scan-bound queries
separate by core count and deltas exceed noise.

It is an ADDITIVE tool: bench.py and its driver contract are
untouched. Methodology matches bench.py (``tools/harness.py``: honest,
uncached — every timed run computes from parquet; warm-up pass for
JIT; min of RUNS×PASSES = 6 samples, where the committed BENCH_SF1_*
dumps took 4) and honors the same env contract:

    SPARK_GRAFT_CPUS=32 python tools/bench_sf1.py --out BENCH_SF1_c32.json
    SPARK_GRAFT_CPUS=8  python tools/bench_sf1.py --out BENCH_SF1_c8.json

Session sizing is the harness's scale-adaptive ``sf1`` profile, not
the sf0.1-pinned bench one.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import BENCH_QUERIES
from tools.harness import PASSES, RUNS, min_times, query_jobs, query_names, session
from tools.scale_bench import scaled_dir


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="BENCH_SF1.json")
    ap.add_argument("--queries", default="")
    args = ap.parse_args()
    names = query_names(args.queries, BENCH_QUERIES)

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = session("bench_sf1", "sf1")
    per_query = min_times(spark, query_jobs(spark, scaled_dir(spark, 10), names))
    out = {
        "metric": "sf1_query_time",
        "value": round(sum(per_query.values()), 3),
        "unit": "sec",
        "queries": per_query,
        "sf": 1.0,
        "cpus": cpus,
        "protocol": (
            "10x key-disjoint clone of sf0.1 (tools/scale_bench.py builder); "
            f"uncached, warm-up + min of {RUNS * PASSES} samples; "
            "shuffle_partitions=64 (data-sized, fixed across core counts), splits=4m, AQE off"
        ),
    }
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
