"""Wider tracked bench (round-7 verdict item #5): ~15 heavy hitters
OUTSIDE the driver's fixed 19-query bench, timed at sf0.1 under
bench.py's exact session settings and min-of-N loop
(``tools/harness.py``), so round-over-round perf regressions in the
round-5/6/7 families (retrieval, tokenizers, graph, curation, ER,
multimodal, streaming SCD2, the ANN quartet) become visible instead of
silently drifting. ``--queries a,b`` times any registry queries the
same way.

Usage:
    python tools/bench_local.py [--out BENCH_LOCAL_rN.json] [--queries a,b]

Writes one JSON file shaped like bench.py's line ({"queries": {...},
"total": N, "sf": 0.1}) — commit the r{N} dump and compare in README.

Comparability: from r13 on every timed run computes from the parquet
inputs on fresh table handles (no index or model held from an earlier
run), so ANN and BM25 rows report build+probe; r12-and-earlier dumps are NOT comparable for the ANN
quartet / ivfpq rows. The committed BENCH_LOCAL_r* dumps took the min
of 4 samples; the harness takes the min of 6.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.harness import SF_DIR, min_times, query_jobs, query_names, session, sf_of

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


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="BENCH_LOCAL.json")
    ap.add_argument("--queries", default="")
    args = ap.parse_args()
    names = query_names(args.queries, LOCAL_BENCH_QUERIES)

    spark = session("bench_local")
    per_query = min_times(spark, query_jobs(spark, SF_DIR, names))
    out = {
        "metric": "local_bench_total",
        "value": round(sum(per_query.values()), 3),
        "unit": "sec",
        "queries": per_query,
        "sf": sf_of(SF_DIR),
    }
    with open(args.out, "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
