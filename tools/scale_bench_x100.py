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
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import BENCH_QUERIES
from tools.harness import once_times, query_names, session, write_scale_report
from tools.scale_bench import BASE_DIR, scaled_dir

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


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rebuild", action="store_true")
    ap.add_argument("--queries", default="")
    args = ap.parse_args()
    names = query_names(args.queries, BENCH_QUERIES + EXTRA)

    # the harness's "scale" profile: engine defaults (AQE on, default
    # splits), unlike the 10x harness's bench profile
    spark = session("scale_bench_x100", "scale")
    scale_dir = scaled_dir(spark, 100, args.rebuild)
    # r14: base-table pre-cache removed (bench.py's r13 methodology
    # fix) — timed runs compute from parquet; new runs are not
    # comparable with the committed pre-r14 SCALE_BENCH_* artifacts.
    write_scale_report(
        "SCALE_BENCH_x100.json",
        names,
        once_times(spark, BASE_DIR, names),
        once_times(spark, scale_dir, names),
        "sec_100x",
        {
            "protocol": "single warm-cache run per scale (spot bench), engine-default session",
            "copies": 100,
        },
    )
    spark.stop()


if __name__ == "__main__":
    main()
