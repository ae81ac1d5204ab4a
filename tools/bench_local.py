"""Wider tracked bench (round-7 verdict item #5): ~15 heavy hitters
OUTSIDE the driver's fixed 19-query bench, timed at sf0.1 under
bench.py's exact session settings, so round-over-round perf
regressions in the round-5/6/7 families (retrieval, tokenizers, graph,
curation, ER, multimodal, streaming SCD2, the ANN quartet) become
visible instead of silently drifting.

Usage:
    python tools/bench_local.py [--out BENCH_LOCAL_rN.json]

Writes one JSON file shaped like bench.py's line ({"queries": {...},
"total": N, "sf": 0.1}) — commit the r{N} dump and compare in README.

r13 methodology change (matches bench.py's): the base-table pre-cache
is gone and the similarity model memo is cleared before every
timed invocation — each timed run computes from the parquet inputs,
so ANN rows now report build+probe (not probe-only against an index a
previous run left warm). r12-and-earlier dumps are NOT comparable for
the ANN quartet / ivfpq rows.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod
import data_pipeline_childcare_spark as eng

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

LOCAL_BENCH_QUERIES = [
    "bm25_search_docs",
    "hybrid_retrieval_docs",
    "hybrid_retrieval_ann_docs",
    "link_graph_pagerank",
    "wordpiece_vocab_docs",
    "unigram_lm_vocab_docs",
    "bpe_learned_merges",
    "doc_curation_pipeline",
    "er_golden_records",
    "image_ahash_near_dup",
    "streaming_scd2_orders",
    "lsh_cosine_topk_embeddings",
    "ivf_cosine_topk_embeddings",
    "pq_adc_topk_embeddings",
    "sq8_topk_embeddings",
    "ivfpq_topk_embeddings",
]

RUNS = 2
PASSES = 2


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="BENCH_LOCAL.json")
    ap.add_argument("--queries", default="")
    args = ap.parse_args()
    names = [q for q in args.queries.split(",") if q] or LOCAL_BENCH_QUERIES

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "48g")
    spark = eng.get_spark(
        app_name="bench_local",
        shuffle_partitions=8,
        extra_conf={
            "spark.sql.files.maxPartitionBytes": "512k",
            "spark.sql.adaptive.enabled": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    # r13 methodology (matches bench.py): no base-table pre-cache —
    # every timed run scans parquet — and the similarity module's
    # session-level model memo is cleared before EVERY timed
    # invocation, so an ANN row times build+probe from the raw inputs
    # instead of probing an index a previous run left warm (cross-run
    # result reuse). Warm-up still runs once for JIT/codegen.
    from data_pipeline_childcare_spark.operators.similarity import (
        clear_session_caches,
    )

    qs = entry_mod.queries()
    missing = [n for n in names if n not in qs]
    if missing:
        raise SystemExit(f"unknown queries: {missing}")
    for name in names:  # warm-up (JIT/codegen)
        qs[name](spark, SF_DIR).count()
    spark.sparkContext._jvm.System.gc()
    time.sleep(1.0)
    per_query: dict[str, float] = {n: float("inf") for n in names}
    for _ in range(PASSES):
        for name in names:
            for _ in range(RUNS):
                clear_session_caches()
                t0 = time.perf_counter()
                qs[name](spark, SF_DIR).count()
                per_query[name] = min(
                    per_query[name], time.perf_counter() - t0
                )
    per_query = {k: round(v, 3) for k, v in per_query.items()}
    sf = float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in SF_DIR else -1.0
    out = {
        "metric": "local_bench_total",
        "value": round(sum(per_query.values()), 3),
        "unit": "sec",
        "queries": per_query,
        "sf": sf,
    }
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
