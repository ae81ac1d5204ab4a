"""100× IID spot-bench (round-10 verdict stretch #8).

The x100 clone protocol replicates facts with key offsets and makes
every seed document a 100-deep near-dup cluster — deliberately
adversarial for the dedup caps, but ANSWER-INFLATING for pair
emitters (a 100-clone cluster's true pair count grows ~C(100,2) per
seed), so their x100 ratios read as answer growth, not plan cost.
This harness builds a GENUINELY SAMPLED 100× corpus instead:

- orders/lineitem/events: the same key-disjoint replication, but
  VALUE columns get deterministic hash jitter (price/quantity/value
  scaled by a per-copy md5 factor, event timestamps shifted by a
  per-row hash minute offset) so windows, sessions and aggregates see
  new data rather than 100 identical distributions;
- documents: per-copy texts are BOOTSTRAP RESAMPLES of the seed
  doc's own words (position j draws word xxhash64(id, copy, j) mod n
  with replacement) — word distribution preserved, shingle ORDER
  destroyed, so no near-dup cluster structure exists by construction;
- embeddings: per-copy vectors are deterministic convex mixes of two
  corpus vectors plus hash noise — drawn from the corpus
  distribution, verbatim-identical to nothing.

Dims stay fixed (the realistic growth shape). One warm run per query
per scale (spot bench); writes SCALE_BENCH_x100_iid.json. Compare
against SCALE_BENCH_x100.json: pair emitters should fall from
answer-growth ratios (100-265×) to ~plan-cost ratios.

Usage:
    python tools/scale_bench_x100_iid.py [--rebuild] [--queries a,b,...]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import data_pipeline_childcare_spark as eng
from bench import BENCH_QUERIES
from pyspark.sql import functions as F
from tools.harness import (
    REPO,
    once_times,
    plan_drift,
    query_names,
    replicate,
    session,
    write_scale_report,
)
from tools.scale_bench import BASE_DIR, DIMS

SCALE_DIR = os.path.join(REPO, ".scaledata", "x100iid")
COPIES = 100


def _jitter(col, key_cols, lo=0.5, hi=1.5):
    """Deterministic multiplicative jitter in [lo, hi] from a row hash."""
    h = F.abs(F.xxhash64(*key_cols, F.lit("iid"))) % 1_000_000
    return col * (F.lit(lo) + (F.lit(hi - lo) * h / F.lit(1_000_000.0)))


def build_scaled(spark) -> None:
    if os.path.isdir(SCALE_DIR):
        shutil.rmtree(SCALE_DIR)
    os.makedirs(SCALE_DIR, exist_ok=True)
    for t in DIMS:
        dst = os.path.join(SCALE_DIR, f"{t}.parquet")
        eng.load_table(spark, t, BASE_DIR).write.mode("overwrite").parquet(dst)

    replicate(
        spark,
        "orders",
        COPIES,
        lambda df, i: df.select(
            (F.col("o_orderkey") + i * 10_000_000).alias("o_orderkey"),
            *[c for c in df.columns if c not in ("o_orderkey", "o_totalprice")],
            F.round(
                _jitter(F.col("o_totalprice"), [F.col("o_orderkey"), F.lit(i)]), 2
            ).alias("o_totalprice"),
        ),
        BASE_DIR,
        SCALE_DIR,
    )
    replicate(
        spark,
        "lineitem",
        COPIES,
        lambda df, i: df.select(
            (F.col("l_orderkey") + i * 10_000_000).alias("l_orderkey"),
            *[
                c
                for c in df.columns
                if c not in ("l_orderkey", "l_extendedprice", "l_quantity")
            ],
            F.round(
                _jitter(
                    F.col("l_extendedprice"),
                    [F.col("l_orderkey"), F.col("l_linenumber"), F.lit(i)],
                ),
                2,
            ).alias("l_extendedprice"),
            F.ceil(
                _jitter(
                    F.col("l_quantity"),
                    [F.col("l_orderkey"), F.col("l_linenumber"), F.lit(i), F.lit(1)],
                )
            ).cast("double").alias("l_quantity"),
        ),
        BASE_DIR,
        SCALE_DIR,
    )
    replicate(
        spark,
        "events",
        COPIES,
        lambda df, i: df.select(
            (F.col("event_id") + i * 10_000_000).alias("event_id"),
            (F.col("user_id") + i * 1_000_000).alias("user_id"),
            *[c for c in df.columns if c not in ("event_id", "user_id", "ts", "value")],
            # per-row minute shift breaks cloned session/window structure
            F.expr(
                f"timestampadd(MINUTE, cast(abs(xxhash64(event_id, {i})) % 720"
                f" - 360 as int), ts)"
            ).alias("ts"),
            F.round(
                _jitter(F.col("value"), [F.col("event_id"), F.lit(i), F.lit(2)]), 4
            ).alias("value"),
        ),
        BASE_DIR,
        SCALE_DIR,
    )
    replicate(
        spark,
        "documents",
        COPIES,
        lambda df, i: (
            df
            if i == 0
            else df.withColumn("_w", F.split(F.col("text"), " ")).select(
                (F.col("doc_id") + i * 1_000_000).alias("doc_id"),
                *[c for c in df.columns if c not in ("doc_id", "text")],
                # bootstrap resample of the doc's own words: same
                # distribution, no shared shingle order
                F.expr(
                    f"array_join(transform(sequence(1, greatest(size(_w), 1)),"
                    f" j -> element_at(_w, 1 + cast(abs(xxhash64(doc_id, {i}, j))"
                    f" % greatest(size(_w), 1) as int))), ' ')"
                ).alias("text"),
            )
        ),
        BASE_DIR,
        SCALE_DIR,
    )
    nvec = eng.load_table(spark, "embeddings", BASE_DIR).count()

    def mix(emb, i):
        if i == 0:
            return emb
        other = emb.select(F.col("vec_id").alias("_oid"), F.col("embedding").alias("_ov"))
        return (
            emb.withColumn("_oid", (F.col("vec_id") + i) % nvec)
            .join(other, "_oid")
            .select(
                (F.col("vec_id") + i * 10_000_000).alias("vec_id"),
                *[c for c in emb.columns if c not in ("vec_id", "embedding")],
                # convex mix + hash noise: sampled from the corpus
                # distribution, verbatim-identical to nothing
                F.expr(
                    f"zip_with(cast(embedding as array<double>),"
                    f" cast(_ov as array<double>), (a, b) ->"
                    f" cast(a * 0.7 + b * 0.3 +"
                    f" (abs(xxhash64(vec_id, {i})) % 1000) / 50000.0 as float))"
                ).alias("embedding"),
            )
        )

    replicate(spark, "embeddings", COPIES, mix, BASE_DIR, SCALE_DIR)


# --- entity-scaled ER corpus (round-11 verdict ask #2) ------------
# The ER family's registries derive from the CUSTOMER dim (every
# entity = one custkey with 2-3 alias/near-dup variants), so the
# standard scale protocols — which grow facts and hold dims fixed —
# measure ER fixed overhead, not growth. This mode grows the ENTITY
# population itself: customer replicated with key-disjoint offsets
# (each copy is a genuinely NEW distinct institution with the same
# alias/near-dup variant structure, because the discriminative token
# is the custkey) + hash-jittered balances; every other table copied
# as-is. Writes SCALE_BENCH_er_entity.json.

ER_QUERIES = [
    "entity_resolution_customers",
    "er_golden_records",
    "er_quality_audit",
    "er_quality_audit_idf",
    "er_bcubed_audit",
    "er_blocking_audit",
    "er_incremental_assign",
    "tuoyu_er_golden_records",
    "tuoyu_er_quality_audit",
    "tuoyu_er_quality_audit_nameonly",
]


def build_er_entities(spark, copies: int, rebuild: bool) -> str:
    dst_dir = os.path.join(REPO, ".scaledata", f"er_entities_x{copies}")
    if os.path.isdir(dst_dir) and not rebuild:
        return dst_dir
    if os.path.isdir(dst_dir):
        shutil.rmtree(dst_dir)
    os.makedirs(dst_dir, exist_ok=True)
    for t in eng.io.TESTDATA_TABLES:
        if t == "customer":
            continue
        eng.load_table(spark, t, BASE_DIR).write.mode("overwrite").parquet(
            os.path.join(dst_dir, f"{t}.parquet")
        )
    replicate(
        spark,
        "customer",
        copies,
        lambda cust, i: cust.select(
            (F.col("c_custkey") + i * 10_000_000).alias("c_custkey"),
            *[c for c in cust.columns if c not in ("c_custkey", "c_acctbal")],
            F.round(
                _jitter(F.col("c_acctbal"), [F.col("c_custkey"), F.lit(i)]), 2
            ).alias("c_acctbal"),
        ),
        BASE_DIR,
        dst_dir,
    )
    return dst_dir


def run_er_entity_bench(
    spark, scales: list[int], names: list[str], rebuild: bool,
    timing_only: bool = False, cold_base: bool = False,
) -> None:
    """``cold_base``: the base leg is this fresh session's FIRST timed
    work (no earlier query warmed JIT/codegen), so its timing is a
    COLD base — the keys become ``sec_1x_cold`` and
    ``ratio_{s}x_vs_cold_base`` to say so (the committed 30x leg was
    produced this way; the default keys imply a warmed base run)."""
    base_t, base_s = once_times(spark, BASE_DIR, names, timing_only)
    per_scale: dict[int, tuple[dict, dict]] = {}
    for s in scales:
        d = build_er_entities(spark, s, rebuild)
        per_scale[s] = once_times(spark, d, names, timing_only)
    report = {}
    for n in names:
        base_key = "sec_1x_cold" if cold_base else "sec_1x"
        row = {base_key: base_t[n]}
        for s in scales:
            st, ss = per_scale[s]
            row[f"sec_{s}x_entities"] = st[n]
            ratio_key = (
                f"ratio_{s}x_vs_cold_base" if cold_base else f"ratio_{s}x"
            )
            row[ratio_key] = (
                round(st[n] / base_t[n], 2) if base_t[n] else None
            )
            if n in base_s and n in ss:
                drift = plan_drift(base_s[n], ss[n])
                row[f"plan_shape_same_{s}x"] = not drift
                if drift:
                    row[f"plan_drift_{s}x"] = drift
        report[n] = row
    out_path = os.path.join(REPO, "SCALE_BENCH_er_entity.json")
    merged = report
    all_scales = list(scales)
    if os.path.isfile(out_path):
        with open(out_path) as f:
            prior_doc = json.load(f)
        prior = prior_doc.get("queries", {})
        # merge per-ROW so a new scale leg adds columns to existing rows
        # instead of replacing them (a 30x-only run must not drop the
        # 10x columns)
        for n, row in report.items():
            prior.setdefault(n, {}).update(row)
        merged = prior
        all_scales = sorted(set(prior_doc.get("scales", [])) | set(scales))
    out = {
        "protocol": (
            "single warm run per scale; the ENTITY dimension (customer)"
            " grows with key-disjoint copies — each copy a new distinct"
            " institution with the same alias/near-dup variant structure"
            " — so the ER family is measured under genuine entity growth,"
            " not fact replication against a fixed registry. Legs run"
            " with --er-cold-base (the 30x columns) time the base as the"
            " fresh session's FIRST work — a COLD base — and carry"
            " sec_1x_cold / ratio_{s}x_vs_cold_base keys instead of the"
            " warm-base sec_1x / ratio_{s}x"
        ),
        "scales": all_scales,
        "queries": dict(sorted(merged.items())),
    }
    with open(out_path, "w") as f:
        json.dump(out, f, indent=2)
    print(json.dumps(out, indent=2))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rebuild", action="store_true")
    ap.add_argument("--queries", default="")
    ap.add_argument(
        "--er-entities",
        action="store_true",
        help="run the ER family on entity-grown corpora instead of the IID fact corpus",
    )
    ap.add_argument("--er-scales", default="10,100")
    ap.add_argument(
        "--timing-only",
        action="store_true",
        help="skip the plan-shape pre-pass (it re-materializes checkpointed "
        "chains once per query, doubling large ER runs)",
    )
    ap.add_argument(
        "--er-cold-base",
        action="store_true",
        help="label the base leg as COLD (this fresh session's first timed "
        "work): emits sec_1x_cold / ratio_{s}x_vs_cold_base keys",
    )
    args = ap.parse_args()

    spark = session("scale_bench_x100_iid", "scale")
    if args.er_entities:
        names = query_names(args.queries, ER_QUERIES)
        scales = [int(s) for s in args.er_scales.split(",") if s]
        run_er_entity_bench(
            spark, scales, names, args.rebuild, args.timing_only,
            args.er_cold_base,
        )
        spark.stop()
        return

    names = query_names(args.queries, BENCH_QUERIES)
    if args.rebuild or not os.path.isdir(SCALE_DIR):
        print("building 100x iid tables ...", file=sys.stderr)
        build_scaled(spark)
    # r14: base-table pre-cache removed (bench.py's r13 methodology
    # fix) — timed runs compute from parquet; new runs are not
    # comparable with the committed pre-r14 SCALE_BENCH_* artifacts.
    write_scale_report(
        "SCALE_BENCH_x100_iid.json",
        names,
        once_times(spark, BASE_DIR, names),
        once_times(spark, SCALE_DIR, names),
        "sec_100x_iid",
        {
            "protocol": (
                "single warm run per scale; 100x corpus SAMPLED (hash-jittered"
                " facts, bootstrap-resampled doc words, mixed+noised embeddings)"
                " instead of cloned — separates answer growth from plan cost"
            ),
            "copies": COPIES,
        },
    )
    spark.stop()


if __name__ == "__main__":
    main()
