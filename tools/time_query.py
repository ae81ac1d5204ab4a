"""Time individual queries with the bench methodology (no table cache).

Usage: python tools/time_query.py q3_top_revenue_orders [more ...] [--runs N]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod
import data_pipeline_childcare_spark as eng

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    argv = sys.argv[1:]
    runs = 5
    if "--runs" in argv:
        i = argv.index("--runs")
        runs = int(argv[i + 1])
        argv = argv[:i] + argv[i + 2:]
    names = argv
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")
    spark = eng.get_spark(
        app_name="time-query",
        shuffle_partitions=8,
        extra_conf={
            "spark.sql.files.maxPartitionBytes": "512k",
            "spark.sql.adaptive.enabled": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry_mod.queries()
    for name in names:
        qs[name](spark, SF_DIR).count()  # warm-up (JIT), untimed
        samples = []
        for _ in range(runs):
            t0 = time.perf_counter()
            qs[name](spark, SF_DIR).count()
            samples.append(round(time.perf_counter() - t0, 3))
        print(f"{name}: min={min(samples)} samples={samples}")
    spark.stop()


if __name__ == "__main__":
    main()
