"""100× relational spot-bench (round-8 verdict item #8).

One-shot extrapolation check on top of the 10× harness: the same
key-disjoint replication protocol (facts grow, dims don't; each
original document seeds a verbatim-ish near-dup cluster — now 100
deep) at COPIES=100, run ONCE per query per scale (spot bench, not a
tracked best-of-N), with the same executed-plan-shape comparison.
The question it answers: do the ≤2× ratios measured at 10× keep
extrapolating — i.e. is the fixed JVM/stage floor still amortizing,
did any broadcast join silently flip to sort-merge, and do the
saturation caps (max_df / cap_pairs_per_doc / cap_per_id / the
verbatim-collapse stage) hold when every clone cluster is 10× deeper
than the 10× bench already made it.

Query set: the 19 driver-bench queries + the capped near-dup family.
Writes SCALE_BENCH_x100.json; scaled data lands in .scaledata/x100/
(gitignored), built once and reused.

Usage:
    python tools/scale_bench_x100.py [--rebuild] [--queries a,b,...]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod
import data_pipeline_childcare_spark as eng
from bench import BENCH_QUERIES
from pyspark.sql import functions as F

from scale_bench import BASE_DIR, DIMS, plan_shape

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCALE_DIR = os.path.join(REPO, ".scaledata", "x100")
COPIES = 100

# beyond the 19 bench queries: the guarded pair-emitting family whose
# caps exist exactly for this corpus shape
EXTRA = [
    "ngram_jaccard_prefix_docs",
    "simhash_portable_pairs_docs",
    "minhash_portable_pairs_docs",
    "winnowing_pairs_docs",
    "split_leakage_pairs_docs",
    "embedding_cosine_dedup_lsh",
]


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


def time_once(spark, sf_dir: str, names: list[str]) -> tuple[dict, dict]:
    # r14: base-table pre-cache removed (bench.py's r13 methodology
    # fix) — timed runs compute from parquet; new runs are not
    # comparable with the committed pre-r14 SCALE_BENCH_* artifacts.
    qs = entry_mod.queries()
    shapes = {n: plan_shape(qs[n](spark, sf_dir)) for n in names}
    timed = {}
    for n in names:
        t0 = time.perf_counter()
        qs[n](spark, sf_dir).count()
        timed[n] = round(time.perf_counter() - t0, 3)
        print(f"  {sf_dir.rsplit('/', 1)[-1]:5s} {n:40s} {timed[n]:8.2f}s", file=sys.stderr)
    return timed, shapes


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rebuild", action="store_true")
    ap.add_argument("--queries", default="")
    args = ap.parse_args()
    names = [q for q in args.queries.split(",") if q] or list(BENCH_QUERIES) + EXTRA

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")
    spark = eng.get_spark(
        app_name="scale_bench_x100",
        shuffle_partitions=32,
        # unlike the 10x harness this keeps AQE ON and default splits:
        # at 100x the data is big enough that runtime re-planning and
        # size-based splits are the production-correct settings the
        # engine defaults to — the 1x numbers here therefore differ
        # from bench.py's tuned-for-tiny profile by design
        extra_conf={"spark.sql.adaptive.enabled": "true"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    if args.rebuild and os.path.isdir(SCALE_DIR):
        shutil.rmtree(SCALE_DIR)
    if not os.path.isdir(os.path.join(SCALE_DIR, "lineitem.parquet")):
        print("building 100x scaled tables ...", file=sys.stderr)
        build_scaled(spark)

    base_t, base_s = time_once(spark, BASE_DIR, names)
    scaled_t, scaled_s = time_once(spark, SCALE_DIR, names)

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
            "sec_100x": scaled_t[n],
            "ratio": round(scaled_t[n] / base_t[n], 2) if base_t[n] else None,
            "plan_shape_same": same,
            **({"plan_drift": drift} if drift else {}),
        }
    # Merge into the existing dump so targeted --queries batches
    # accumulate instead of discarding previously measured rows.
    out_path = os.path.join(REPO, "SCALE_BENCH_x100.json")
    merged = report
    if os.path.isfile(out_path):
        with open(out_path) as f:
            prior = json.load(f).get("queries", {})
        prior.update(report)
        merged = prior
    out = {
        "protocol": "single warm-cache run per scale (spot bench), engine-default session",
        "copies": COPIES,
        "queries": dict(sorted(merged.items())),
        "total_1x": round(sum(v["sec_1x"] for v in merged.values()), 3),
        "total_100x": round(sum(v["sec_100x"] for v in merged.values()), 3),
    }
    with open(out_path, "w") as f:
        json.dump(out, f, indent=2)
    print(json.dumps(out, indent=2))
    spark.stop()


if __name__ == "__main__":
    main()
