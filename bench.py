"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": "total_query_time", "value": N, "unit": "sec",
   "queries": {...per-query sec...}, "sf": 0.1}

Each query is forced to full execution with a count-style action and
reports the min of 6 samples taken after one untimed warm-up pass
(``tools/harness.py``: ``min_times``, which states why). Nothing is
cached before the timed loop, so every timed run scans parquet and
per-query numbers include the real read+spread cost;
OPTIMIZATION_r13.md records the older numbers taken over cached base
tables.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from tools.harness import SF_DIR, min_times, query_jobs, session, sf_of

# headline set: scan-agg, join-heavy, window, as-of, dedup, similarity,
# text analysis — the shapes that dominate a 100 TB pipeline
BENCH_QUERIES = [
    "q1_pricing_summary",
    "q3_top_revenue_orders",
    "q5_nation_revenue",
    "q6_revenue_forecast",
    "late_shipment_orders",
    "top3_orders_per_customer",
    "events_running_total",
    "sessionize_events",
    "asof_clicks_purchases",
    "rrf_suppliers",
    "topk_global_dedup_events",
    "dedup_fingerprint_docs",
    "minhash_dedup_docs",
    "simhash_pairs_docs",
    "ngram_jaccard_docs",
    "cosine_topk_embeddings",
    "doc_token_stats",
    "chunk_documents",
    "hypertable_rollup_events",
]


def main() -> None:
    spark = session("bench")
    per_query = min_times(spark, query_jobs(spark, SF_DIR, BENCH_QUERIES))
    total = round(sum(per_query.values()), 3)
    print(
        json.dumps(
            {
                "metric": "total_query_time",
                "value": total,
                "unit": "sec",
                "queries": per_query,
                "sf": sf_of(SF_DIR),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
