"""Dump .explain("formatted") for the bench queries to plans/<tag>/.

Usage: python tools/dump_plans.py <tag> [suffix] [q1,q2,...]
  tag    -> plans/<tag>/<query>_<suffix>.txt   (suffix defaults to "before")

Runs in bench.py's session profile (shuffle partitions, split size,
AQE off — plan shapes depend on them) but WITHOUT caching base tables,
so the dumped plans show the real scan nodes (PushedFilters/ReadSchema)
instead of InMemoryTableScan.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod
from bench import BENCH_QUERIES
from tools.harness import REPO, SF_DIR, session


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "r13"
    suffix = sys.argv[2] if len(sys.argv) > 2 else "before"
    only = sys.argv[3].split(",") if len(sys.argv) > 3 else None
    outdir = os.path.join(REPO, "plans", tag)
    os.makedirs(outdir, exist_ok=True)
    spark = session("dump-plans")
    qs = entry_mod.queries()
    # an explicit name list may reference ANY declared query (r14: the
    # optimization targets include non-bench oracle queries like the
    # ANN family); the default sweep stays the bench set
    names = only if only else BENCH_QUERIES
    for name in names:
        df = qs[name](spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
