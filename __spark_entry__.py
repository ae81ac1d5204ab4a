"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship multi-join revenue rollup at
sf0.001. ``queries()`` exposes one callable per implemented operator
from SURVEY.md §2 (plus the LLM-data operators); ``oracle_sql()``
holds the DuckDB-equivalent SQL for every SQL-expressible one.

Column-name and value alignment rules used throughout:
- every computed column is aliased identically in Spark and SQL;
- double aggregates are rounded (2-8 dp) BEFORE any window ordering
  decision, so both engines rank on identical values;
- sums of BIGINT are cast to BIGINT in DuckDB (its native SUM yields
  HUGEINT, which Spark has no analog for).
"""

from __future__ import annotations

import weakref
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_pipeline_childcare_spark.io import load_table, spread_partitions
from data_pipeline_childcare_spark.operators import (
    asof_join,
    asof_join_self,
    cosine_topk_bruteforce,
    dedup_exact,
    dedup_fingerprint,
    ngram_jaccard_pairs,
    parent_child_chunk,
    rrf_fuse,
    session_stats,
    top_k_with_global_dedup,
)
from data_pipeline_childcare_spark.operators.cleaning import clean_documents
from data_pipeline_childcare_spark.operators.rrf import rank_lists
from data_pipeline_childcare_spark.functions.text import tokenize, doc_fingerprint


_TABLE_MEMO: "weakref.WeakKeyDictionary[SparkSession, dict[tuple[str, str], DataFrame]]" = (
    weakref.WeakKeyDictionary()
)

# Per-table spread key (r13): HASH-keyed repartition instead of round
# robin. Three wins, all guide-backed (§2.4/§2.5): (a) round-robin
# repartition first pays a binary local SORT of every input partition
# (spark.sql.execution.sortBeforeRepartition, needed so retried tasks
# reproduce their row→partition assignment) — hash partitioning on a
# deterministic key needs no such sort and is retry-safe by
# construction; (b) the spread exchange then ESTABLISHES the
# partitioning the query needs: groupBy/window on the same key (or a
# superset) is satisfied by hashpartitioning on the table's key, so
# the downstream aggregate/window loses its own exchange outright;
# (c) key choice is the table's unique id — measured skew-free (max
# key multiplicity 17 in lineitem, 99/100k in events).
# Tables NOT listed are dimension-sized broadcast sides: spreading
# them costs an exchange per query and buys nothing (their per-row
# work is trivial and they collapse into BroadcastExchange anyway).
# At real scale inputs arrive with enough row groups and
# spread_partitions is a no-op either way (no exchange inserted), so
# none of this is local-mode tuning — it is the honest cost model for
# pathological single-row-group inputs.
_SPREAD_KEYS: dict[str, tuple[str, ...]] = {
    "lineitem": ("l_orderkey",),
    "orders": ("o_orderkey",),
    "customer": ("c_custkey",),
    "part": ("p_partkey",),
    "events": ("user_id",),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
}
_NO_SPREAD = frozenset({"region", "nation", "supplier"})


def _t(spark: SparkSession, sf_dir: str, name: str, spread: bool = True) -> DataFrame:
    # Memoized per live session: load_table's read + timestamp
    # normalization is ~a dozen py4j round-trips (milliseconds each on
    # a loaded box), repeated identically by every query. DataFrames
    # are immutable plans, so reuse is safe; the weak key drops
    # entries when a session is garbage-collected.
    # ``spread=False`` skips the parallelism repartition — for callers
    # that feed the table straight into a BroadcastExchange, where an
    # upstream exchange is pure overhead.
    per_session = _TABLE_MEMO.setdefault(spark, {})
    raw_key = (sf_dir, name)
    if raw_key not in per_session:
        per_session[raw_key] = load_table(spark, name, sf_dir)
    key = (sf_dir, name, spread)
    if key not in per_session:
        # Test parquet is written as ONE row group per file, so the scan
        # is a single task no matter how small maxPartitionBytes is set
        # (splits that contain no row-group start read nothing): every
        # query's first stage — filter, projection, partial agg, shuffle
        # write — would run on one core. spread_partitions restores full
        # parallelism here and is a no-op on real lakes where files
        # carry a row group per ~128 MB. The raw read is memoized
        # SEPARATELY from the spread variants: parquet schema discovery
        # runs footer-read jobs, and before r13 a spread=False call on
        # an already-warmed table re-ran that read (second scan plan,
        # extra footer jobs at plan-build time).
        df = per_session[raw_key]
        if spread and name not in _NO_SPREAD:
            df = spread_partitions(df, *_SPREAD_KEYS.get(name, ()))
        per_session[key] = df
    return per_session[key]


def _emb_double(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embeddings table with ARRAY<DOUBLE> vectors, memoized per
    session like :func:`_t`. The ANN indexes and trained models are held
    on the handle they are built from (``io.held``), so every registry
    query of a session that trains the same model on this one handle
    (the recall audit runs five ANN families) trains it once."""
    per_session = _TABLE_MEMO.setdefault(spark, {})
    key = (sf_dir, "embeddings", "array<double>")
    if key not in per_session:
        per_session[key] = _t(spark, sf_dir, "embeddings").withColumn(
            "embedding", F.col("embedding").cast("array<double>")
        )
    return per_session[key]


def _stream_raw(spark: SparkSession, sf_dir: str, name: str):
    """File-stream over one table, returning (stream_df, raw_schema).

    ``<name>.parquet`` may be a single FILE (driver testdata) or a
    DIRECTORY of part files (Spark-written scaled corpora). The file
    stream source accepts a directory path directly but rejects a
    bare file ("basePath must be a directory"), while the
    pathGlobFilter form matches FILE names only — a directory named
    events.parquet contains part-*.parquet and matches nothing, which
    silently streams ZERO rows. Dispatch on which form the path is so
    every streaming entry reads the same rows batch queries do at any
    scale."""
    import os

    _t(spark, sf_dir, name)  # sets the nanos-parquet conf
    path = os.path.join(sf_dir, f"{name}.parquet")
    raw_schema = spark.read.parquet(path).schema
    reader = spark.readStream.schema(raw_schema)
    if os.path.isdir(path):
        return reader.parquet(path), raw_schema
    return reader.option("pathGlobFilter", f"{name}.parquet").parquet(sf_dir), raw_schema


# ---------------------------------------------------------------------------
# Relational core (TPC-H-style; exercises scan/filter/join/agg/window/sort
# — SURVEY.md §2.3 "ship them because Spark gives them for free")
# ---------------------------------------------------------------------------


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-heavy aggregate with pushed-down date filter.

    spread=False: partial aggregation collapses the scan to 6 groups
    BEFORE any exchange — inserting a spread repartition would ship
    every filtered row instead (measured 0.65 s → 0.27 s). This is the
    canonical plan at any scale: never repartition in front of a
    map-side-collapsing aggregate (guide §2.3)."""
    li = _t(spark, sf_dir, "lineitem", spread=False)
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-12-01").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "sum_disc_price"
            ),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q3_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join orders×lineitem, revenue per order, deterministic top-10.

    r13 shape: aggregate revenue FIRST (sum only — a purely numeric
    agg buffer stays a codegen HashAggregate; carrying
    max(o_orderpriority) through the agg put a STRING in the buffer,
    which falls back to SortAggregate and drags a full sort of the
    joined rows in front of it), then re-attach the functionally-
    dependent o_orderdate/o_orderpriority with a broadcast join of the
    filtered orders — o_orderkey is unique, so joining after the agg
    returns exactly the rows the old agg produced. The orders side is
    loaded WITHOUT the spread repartition: it collapses into a
    BroadcastExchange, where an upstream exchange is pure overhead."""
    orders_f = _t(spark, sf_dir, "orders", spread=False).filter(
        F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz")
    )
    # li spread=False: the broadcast join is map-side and the partial
    # agg collapses 600k lines to 150k order partials before the
    # exchange — cheaper than spreading the full rows first.
    li = _t(spark, sf_dir, "lineitem", spread=False)
    rev = (
        li.join(F.broadcast(orders_f.select("o_orderkey")), li.l_orderkey == F.col("o_orderkey"))
        .groupBy("l_orderkey")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
        )
    )
    return (
        rev.join(
            F.broadcast(orders_f.select("o_orderkey", "o_orderdate", "o_orderpriority")),
            rev.l_orderkey == F.col("o_orderkey"),
        )
        .select("l_orderkey", "o_orderdate", "o_orderpriority", "revenue")
        .orderBy(F.desc("revenue"), F.col("l_orderkey"))
        .limit(10)
    )


def q5_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: six-table join; region/nation dims broadcast."""
    region = F.broadcast(_t(spark, sf_dir, "region"))
    nation = F.broadcast(_t(spark, sf_dir, "nation"))
    # customer/orders feed BroadcastExchange builds at bench scale, so
    # the keyed spread is a wasted exchange under the broadcast (r13;
    # at real scale spread is a no-op and these joins go SMJ via AQE)
    customer = _t(spark, sf_dir, "customer", spread=False)
    supplier = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders", spread=False)
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .join(supplier, li.l_suppkey == supplier.s_suppkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(nation, F.col("c_nationkey") == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            ),
            F.count("*").alias("n_items"),
        )
        .orderBy("r_name", "n_name")
    )


def top3_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed per-group top-k (SURVEY.md §2.5 W1).

    spread=False: the window partitions by o_custkey, so the spread's
    o_orderkey exchange buys nothing — the window inserts its own
    custkey exchange either way; one exchange instead of two."""
    orders = _t(spark, sf_dir, "orders", spread=False)
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.col("o_orderkey"))
    return (
        orders.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "o_custkey",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("totalprice"),
            # row_number is int32 in Spark, BIGINT in DuckDB — cast so
            # the driver's value hash sees identical representations.
            F.col("rn").cast("long").alias("rn"),
        )
    )


def events_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative window sum (SURVEY.md §2.4 A9 — the timeline op)."""
    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        "ts",
        F.round(F.sum("value").over(w), 4).alias("running_value"),
    )


def join_advisor_orders_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured join pre-flight (operators/skew.join_strategy_advisor):
    profile BOTH sides of the orders ⋈ lineitem key (exact key stats
    via the count-of-counts rollup — no global key sort) and emit the
    audited strategy decision: broadcast when a side is
    dimension-sized, salted skew join (with the computed salt factor)
    when a celebrity key exceeds the hot threshold, sort-merge
    otherwise. The decision a planner makes from stats, made explicit
    and hash-checked."""
    from data_pipeline_childcare_spark.operators.skew import join_strategy_advisor

    orders = _t(spark, sf_dir, "orders").select(F.col("o_orderkey").alias("k"))
    lineitem = _t(spark, sf_dir, "lineitem").select(F.col("l_orderkey").alias("k"))
    return join_strategy_advisor(orders, lineitem, ["k"])


def hypertable_incremental_refresh_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance certified against full recompute:
    the corpus splits into an already-materialized base (event_id % 10
    < 8) and a new batch (the rest); each side aggregates to hourly
    partials INDEPENDENTLY, merge_rollup_partials combines them
    (count/sum add, min/min, max/max — cost |touched buckets|, no raw
    rescan), and the day level derives from the merged hourly frame.
    The oracle aggregates the raw table directly at the day level —
    hash equality proves the incremental path IS the full recompute,
    the property a 100 TB nightly refresh depends on."""
    from data_pipeline_childcare_spark.operators.hypertable import (
        bucket_partials,
        finalize_rollup,
        merge_rollup_partials,
        rollup_partials,
    )

    ev = _t(spark, sf_dir, "events")
    base = bucket_partials(ev.filter(F.col("event_id") % 10 < 8), "1 hour")
    delta = bucket_partials(ev.filter(F.col("event_id") % 10 >= 8), "1 hour")
    merged = merge_rollup_partials(base, delta)
    return finalize_rollup(rollup_partials(merged, "1 day"))


def forecast_eval_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast evaluation (operators/regeval.py — the regression leg
    of the measurement family): the persistence baseline (each event's
    value predicted by the user's PREVIOUS value — lag-1 over
    (user_id; ts, event_id), the zero-parameter forecast every model
    must beat) scored as ONE corpus aggregate → n, MAE, signed bias,
    wMAPE, MSE, R² in integer micros. Signed ratios divide as
    sign·(|num| div den) because Spark div truncates while DuckDB //
    floors — the twins agree exactly on negative R²/bias."""
    from data_pipeline_childcare_spark.operators.regeval import regression_eval

    events = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tp = events.select(
        F.col("value").alias("truth"),
        F.lag("value").over(w).alias("pred"),
    ).filter(F.col("pred").isNotNull())
    return regression_eval(tp)


def streaming_enriched_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FOURTH stream==batch contract row: STREAM-STATIC join — the
    event stream enriched against the static label dimension inside
    a real availableNow run, then counted per label (the
    dimension-enrichment shape every streaming pipeline ships;
    stream-static joins need no watermark — the static side
    broadcasts per micro-batch). Oracle is the plain batch decode +
    count."""
    import os

    from pyspark.sql.types import LongType

    ev, raw_schema = _stream_raw(spark, sf_dir, "events")
    if isinstance(raw_schema["ts"].dataType, LongType):
        ev = ev.withColumn(
            "ts",
            F.expr(
                "timestampadd(MICROSECOND, ts div 1000, TIMESTAMP_NTZ '1970-01-01 00:00:00')"
            ),
        )
    dim = spark.createDataFrame(
        [(k, v) for k, v in EVENT_TYPE_LABELS.items()],
        "event_type string, event_label string",
    )
    joined = ev.join(dim, on="event_type", how="left")
    counted = joined.groupBy("event_type", "event_label").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )
    qname = "streaming_enriched_counts_sink"
    for q in spark.streams.active:
        if q.name == qname:
            q.stop()
    query = (
        counted.writeStream.format("memory")
        .queryName(qname)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return spark.table(qname).select(
        "event_type",
        "event_label",
        F.col("n_events").cast("long").alias("n_events"),
        "total_value",
    )


def session_funnel_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-session ordered funnel (operators/funnel.session_funnel,
    30-min gap sessions): signup -> click -> purchase must happen in
    ONE sitting — the stricter conversion metric, counted in
    sessions. The twin nests the gaps-and-islands sessionizer."""
    from data_pipeline_childcare_spark.operators.funnel import session_funnel

    ev = _t(spark, sf_dir, "events")
    return session_funnel(ev, ["signup", "click", "purchase"])


def hopping_distinct_users_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per hopping window (2-hour windows every hour):
    the sliding-window COUNT DISTINCT — the stateful shape behind
    "active users in the trailing window" dashboards. Exact distinct
    per window (each event lands in window/slide windows via Spark's
    Expand — inherent to sliding windows)."""
    ev = _t(spark, sf_dir, "events")
    win = F.window(F.col("ts"), "2 hours", "1 hour")
    return (
        ev.groupBy(win.alias("w"))
        .agg(F.count_distinct("user_id").cast("long").alias("n_users"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n_users",
        )
    )


def value_histogram_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact equi-width histogram of event values (20 buckets over
    the observed [min, max]): integer bucket math against broadcast
    one-row bounds (the z-order bounds discipline) — the exact
    companion to the mergeable quantile sketch. Max value clamps
    into the last bucket."""
    ev = _t(spark, sf_dir, "events")
    v_m = F.floor(F.col("value") * 1000 + F.lit(0.5)).cast("long")
    bounds = ev.agg(
        F.min(v_m).alias("_lo"), F.max(v_m).alias("_hi")
    )
    b = ev.crossJoin(F.broadcast(bounds)).select(
        F.expr(
            "least(cast(19 as bigint), "
            "CASE WHEN _hi > _lo THEN "
            f"(({'cast(floor(value * 1000 + 0.5) as bigint)'} - _lo) * 20) div (_hi - _lo + 1) "
            "ELSE 0 END)"
        ).alias("bucket"),
        F.col("_lo"),
        F.col("_hi"),
    )
    return (
        b.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.first("_lo").alias("range_lo_m"),
            F.first("_hi").alias("range_hi_m"),
        )
        .select("bucket", "n", "range_lo_m", "range_hi_m")
    )


def gini_stump_cv_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-fold cross-validated stump (operators/claseval.gini_stump_cv)
    over the quality-vs-English problem: per fold, the threshold and
    training-majority leaf labels learned on the OTHER folds and the
    held-out accuracy — in-engine model SELECTION with the honest
    generalization estimate, all from ONE (fold, score) aggregate
    with training counts derived by subtraction."""
    from data_pipeline_childcare_spark.functions.text import quality_score
    from data_pipeline_childcare_spark.operators.claseval import gini_stump_cv

    docs = _t(spark, sf_dir, "documents")
    frame = docs.select(
        "doc_id",
        quality_score("text", _QUALITY_STOPWORDS).alias("score"),
        (F.col("lang") == "en").alias("label"),
    )
    return gini_stump_cv(frame, n_folds=5)


def ship_delay_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship delay distribution per return flag: exact
    p50/p90/p99 days (operators/robust._group_quantile over the
    bounded delay count frame) through the corpus-sized
    lineitem x orders key join — the fulfillment-SLA readout."""
    from data_pipeline_childcare_spark.operators.robust import _group_quantile

    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    delays = li.join(
        orders.select("o_orderkey", "o_orderdate"),
        li.l_orderkey == F.col("o_orderkey"),
    ).select(
        F.col("l_returnflag").alias("_g"),
        F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
        .cast("long")
        .alias("_v"),
    )
    counts = delays.groupBy("_g", "_v").agg(
        F.count(F.lit(1)).cast("long").alias("_c")
    )
    p50 = _group_quantile(counts, "_g", "_v", "_c", 500_000, "p50_days")
    p90 = _group_quantile(counts, "_g", "_v", "_c", 900_000, "p90_days")
    p99 = _group_quantile(counts, "_g", "_v", "_c", 990_000, "p99_days")
    tot = counts.groupBy("_g").agg(
        F.sum("_c").cast("long").alias("n"),
        F.max("_v").alias("max_days"),
    )
    return (
        tot.join(p50, on="_g")
        .join(p90, on="_g")
        .join(p99, on="_g")
        .select(
            F.col("_g").alias("l_returnflag"),
            "n",
            "p50_days",
            "p90_days",
            "p99_days",
            "max_days",
        )
    )


def correlation_matrix_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise signed-R2 correlation matrix over lineitem numerics
    (operators/regeval.pairwise_signed_r2): quantity x price x
    discount x tax in ONE wide aggregate — r2 is rational so the
    matrix is exact; quants chosen per column (units / cents / milli
    rates) to keep the squared cross terms inside DECIMAL(38,0)."""
    from data_pipeline_childcare_spark.operators.regeval import (
        pairwise_signed_r2,
    )

    li = _t(spark, sf_dir, "lineitem")
    # dollar / centi-rate quants: num = nΣdxdy must stay under ~1e19
    # before squaring (the 10x bench overflowed DECIMAL(38,0) at cents)
    return pairwise_signed_r2(
        li,
        {
            "l_quantity": 1,
            "l_extendedprice": 1,
            "l_discount": 100,
            "l_tax": 100,
        },
    )


def value_trend_by_type_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type OLS time trend of event value
    (operators/regeval.group_trend): exact rational slope
    (micro value per day) and R² — centered epoch-day x keeps the
    squared cross terms inside DECIMAL(38,0). The drift-direction
    readout beside the KS/CUSUM detectors."""
    from data_pipeline_childcare_spark.operators.regeval import group_trend

    ev = _t(spark, sf_dir, "events")
    return group_trend(ev, "event_type", "ts", "value")


def late_arrival_audit_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-order arrival audit: per event type, how many events
    arrived with an event-time EARLIER than the per-user running
    maximum (arrival order = event_id, the ingest sequence) and the
    worst lateness in whole seconds — the measurement that sizes
    streaming watermarks. One user-keyed window + one keyed reduce;
    microsecond-diff-floored seconds (the portable rule)."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    en = ev.withColumn("_prior_max", F.max("ts").over(w)).withColumn(
        "_late_us",
        F.when(
            F.col("_prior_max") > F.col("ts"),
            F.timestamp_diff("MICROSECOND", F.col("ts"), F.col("_prior_max")),
        ),
    )
    return en.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("_late_us").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_out_of_order"),
        F.expr(
            "cast(sum(CASE WHEN _late_us IS NOT NULL THEN 1 ELSE 0 END) * 1000000 div count(*) as bigint)"
        ).alias("ooo_frac_u"),
        F.max(F.expr("_late_us div 1000000")).alias("max_lateness_s"),
    )


def benford_first_digit_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit over order totals — the
    fraud-analytics classic: observed first-significant-digit
    frequencies vs the Benford expectation log10(1+1/d) (constants
    baked as micro literals — no transcendental math in-engine), with
    per-digit absolute deviation. One aggregate over a substring
    expression."""
    orders = _t(spark, sf_dir, "orders")
    import math

    benford = {
        d: math.floor(math.log10(1 + 1 / d) * 1_000_000 + 0.5) for d in range(1, 10)
    }
    bmap = F.create_map(
        *[F.lit(x) for d in range(1, 10) for x in (str(d), benford[d])]
    )
    # first significant digit from the integer part (all totals are
    # >= 1, so no fractional-leading-zero case; avoids number
    # formatting, whose rounding conventions differ across engines)
    digit = F.substring(
        F.floor(F.col("o_totalprice")).cast("long").cast("string"), 1, 1
    )
    counts = orders.select(digit.alias("digit")).groupBy("digit").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    w_all = Window.partitionBy(F.lit(0)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    en = counts.withColumn("_tot", F.sum("n").over(w_all))
    return en.select(
        "digit",
        "n",
        F.expr("cast(n * 1000000 div _tot as bigint)").alias("observed_u"),
        F.element_at(bmap, F.col("digit")).cast("long").alias("benford_u"),
        F.abs(
            F.expr("cast(n * 1000000 div _tot as bigint)")
            - F.element_at(bmap, F.col("digit")).cast("long")
        ).alias("abs_dev_u"),
    )


def supplier_hhi_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman supplier-concentration index per part
    from lineitem quantities: HHI = sum of squared supplier shares —
    the market-concentration / supply-risk audit (1e6 = single
    supplier). Exact integers: HHI_u = sum(qty_s^2) * 1e6 div
    (qty_total^2) in DECIMAL(38,0) — no per-share division, one
    (part, supplier) aggregate + one part rollup."""
    li = _t(spark, sf_dir, "lineitem")
    per = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.floor(F.col("l_quantity") + F.lit(0.5)).cast("long"))
        .cast("long")
        .alias("_q")
    )
    return (
        per.groupBy("l_partkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_suppliers"),
            F.sum(F.col("_q").cast("decimal(38,0)")).alias("_t"),
            F.sum(
                F.col("_q").cast("decimal(38,0)") * F.col("_q").cast("decimal(38,0)")
            ).alias("_sq"),
        )
        .select(
            "l_partkey",
            "n_suppliers",
            F.col("_t").cast("long").alias("total_qty"),
            F.expr(
                "CASE WHEN _t > 0 THEN cast(_sq * 1000000 div (_t * _t) as bigint) END"
            ).alias("hhi_u"),
        )
    )


def revenue_share_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-parent hierarchy rollup: nation revenue as a share
    of its region, region as a share of the total — the multi-level
    BI report, joined through customer -> nation -> region with the
    dims broadcast; shares are integer-micro floor divisions on the
    nation-count-sized rollup frame."""
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    rev = (
        orders.join(
            F.broadcast(customer.select("c_custkey", "c_nationkey")),
            orders.o_custkey == F.col("c_custkey"),
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name", "n_regionkey")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(region.select("r_regionkey", "r_name")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .groupBy("r_name", "n_name")
        .agg(
            F.sum(
                F.floor(F.col("o_totalprice") * 1_000_000 + F.lit(0.5)).cast(
                    "decimal(38,0)"
                )
            )
            .cast("long")
            .alias("revenue_u")
        )
    )
    w_r = Window.partitionBy("r_name").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_all = Window.partitionBy(F.lit(0)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    en = rev.withColumn(
        "_rsum", F.sum(F.col("revenue_u").cast("decimal(38,0)")).over(w_r)
    ).withColumn(
        "_tsum", F.sum(F.col("revenue_u").cast("decimal(38,0)")).over(w_all)
    )
    return en.select(
        "r_name",
        "n_name",
        "revenue_u",
        F.expr(
            "cast(cast(revenue_u as decimal(38,0)) * 1000000 div _rsum as bigint)"
        ).alias("share_of_region_u"),
        F.expr(
            "cast(_rsum * 1000000 div _tsum as bigint)"
        ).alias("region_share_of_total_u"),
    )


def impute_group_median_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-median imputation audit (operators/robust.
    impute_group_median): per event type, the exact observed-median
    fill value and the missingness mass. The testdata has no natural
    nulls, so missingness is the deterministic fixture rule
    event_id % 7 = 0 (documented; production passes the real
    nullable column)."""
    from data_pipeline_childcare_spark.operators.robust import (
        impute_group_median,
    )

    ev = _t(spark, sf_dir, "events").withColumn(
        "value_n",
        F.when(F.col("event_id") % 7 != 0, F.col("value")),
    )
    return impute_group_median(ev, "event_type", "value_n")


def source_quality_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source curation scorecard — the dashboard row a data-ops
    team reads per ingest source: doc count, mean token count, mean
    quality (integer micros over the oracled heuristic), English
    fraction, and exact-duplicate rate (docs whose md5 fingerprint
    appears more than once corpus-wide, attributed to their source).
    One doc-level pass + one fingerprint aggregate + one source
    rollup; every ratio floor-micro."""
    from data_pipeline_childcare_spark.functions.text import (
        doc_fingerprint,
        quality_score,
        tokenize,
    )

    docs = _t(spark, sf_dir, "documents")
    enriched = docs.select(
        "doc_id",
        "source",
        F.size(tokenize(F.col("text"))).cast("long").alias("_ntok"),
        F.floor(
            quality_score("text", _QUALITY_STOPWORDS) * 1_000_000 + F.lit(0.5)
        )
        .cast("long")
        .alias("_q_u"),
        (F.col("lang") == "en").cast("int").alias("_en"),
        doc_fingerprint(F.col("text")).alias("_fp"),
    )
    dup_fps = (
        enriched.groupBy("_fp")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") > 1)
        .select("_fp")
    )
    flagged = enriched.join(
        dup_fps.withColumn("_isdup", F.lit(1)), on="_fp", how="left"
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.expr("cast(sum(_ntok) * 1000000 div count(*) as bigint)").alias(
                "mean_tokens_u"
            ),
            F.expr(
                "cast(sum(cast(_q_u as decimal(38,0))) div cast(count(*) as decimal(38,0)) as bigint)"
            ).alias("mean_quality_u"),
            F.expr("cast(sum(_en) * 1000000 div count(*) as bigint)").alias(
                "en_frac_u"
            ),
            F.expr(
                "cast(sum(coalesce(_isdup, 0)) * 1000000 div count(*) as bigint)"
            ).alias("dup_frac_u"),
        )
    )


def ann_recall_audit_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN recall certification IN-ENGINE: every approximate top-k
    family (LSH, IVF, PQ-ADC, IVF-PQ, SQ8) scored against the brute
    -force exact top-5 on the same queries -> (method, n_exact,
    n_hits, recall_u). The measure-don't-guess audit that ties the
    quantization quartet together — a retrieval team reads THIS row
    before picking an index. The twin nests all six method oracles
    and replays the overlap joins.

    The exact frame feeds one count + five overlap joins; without a
    materialization the brute-force top-k chain re-executes six times
    (each broadcast probe side re-runs its upstream — no
    ReusedExchange). |queries|·k rows, materialized once per call
    through ``io.resilient_checkpoint`` (reliable mode covers it;
    nothing is reused across calls). The ANN indexes are not per call:
    the IVF and IVF-PQ legs probe one IVF index (8 cells, 2 iterations)
    held on the session's embeddings handle, built once by whichever
    leg runs first, and the trained models are held the same way."""
    from data_pipeline_childcare_spark.io import resilient_checkpoint

    exact = resilient_checkpoint(
        cosine_topk_embeddings(spark, sf_dir).select("query_id", "vec_id")
    )
    methods = [
        ("ivf", ivf_cosine_topk_embeddings),
        ("ivfpq", ivfpq_topk_embeddings),
        ("lsh", lsh_cosine_topk_embeddings),
        ("pq_adc", pq_adc_topk_embeddings),
        ("sq8", sq8_topk_embeddings),
    ]
    n_exact = exact.agg(F.count(F.lit(1)).cast("long").alias("n_exact"))
    per = []
    for name, fn in methods:
        approx = fn(spark, sf_dir).select("query_id", "vec_id")
        hits = approx.join(exact, on=["query_id", "vec_id"]).agg(
            F.count(F.lit(1)).cast("long").alias("n_hits")
        )
        per.append(
            n_exact.crossJoin(hits).select(
                F.lit(name).alias("method"),
                "n_exact",
                "n_hits",
                F.expr("cast(n_hits * 1000000 div n_exact as bigint)").alias(
                    "recall_u"
                ),
            )
        )
    out_df = per[0]
    for p in per[1:]:
        out_df = out_df.unionByName(p)
    return out_df


def events_pivot_type_by_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-tab via PIVOT: event counts as a weekday x type matrix
    (epoch-day mod 7 weekday, explicit pivot values so the schema is
    static — the dynamic-pivot two-pass is a driver roundtrip the
    engine avoids). Spark's groupBy().pivot() relational surface."""
    ev = _t(spark, sf_dir, "events").withColumn(
        "dow",
        F.expr("datediff(to_date(ts), date '1970-01-01') % 7").cast("int"),
    )
    types = ["click", "error", "purchase", "signup", "view"]
    out = (
        ev.groupBy("dow")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)).cast("long"))
    )
    return out.select(
        "dow", *[F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}") for t in types]
    )


def revenue_wow_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week revenue report: weekly order revenue (epoch
    weeks, integer micros) with previous-week delta and growth in
    micros — the lag window runs on the calendar-bounded week frame.
    Sign-safe floor division for negative growth (Spark div truncates,
    DuckDB // floors — the explicit-sign form)."""
    orders = _t(spark, sf_dir, "orders")
    wk = orders.groupBy(
        F.expr(
            "cast(datediff(o_orderdate, date '1970-01-01') div 7 as bigint)"
        ).alias("week")
    ).agg(
        F.sum(
            F.floor(F.col("o_totalprice") * 1_000_000 + F.lit(0.5)).cast(
                "decimal(38,0)"
            )
        )
        .cast("long")
        .alias("revenue_u"),
        F.count(F.lit(1)).cast("long").alias("n_orders"),
    )
    w = Window.partitionBy(F.lit(0)).orderBy("week")
    en = wk.withColumn("_prev", F.lag("revenue_u").over(w))
    return en.select(
        "week",
        "n_orders",
        "revenue_u",
        (F.col("revenue_u") - F.col("_prev")).alias("delta_u"),
        F.expr(
            "CASE WHEN _prev > 0 THEN "
            "CASE WHEN revenue_u - _prev >= 0 "
            "THEN cast((revenue_u - _prev) * 1000000 div _prev as bigint) "
            "ELSE -cast((_prev - revenue_u) * 1000000 div _prev as bigint) END END"
        ).alias("growth_u"),
    )


def seasonal_decompose_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition of the hourly series
    (operators/timeseries.seasonal_decompose, statsmodels method,
    period 24): even-period centered MA trend (endpoint-halved,
    integer-exact), phase-mean seasonal re-centered to ~0, residual —
    completing the series-diagnostics family with ACF and CUSUM.
    Calendar-bounded frame, DECIMAL(38,0)/HUGEINT fixed point."""
    from data_pipeline_childcare_spark.operators.timeseries import (
        seasonal_decompose,
    )

    ev = _t(spark, sf_dir, "events")
    return seasonal_decompose(ev, "ts", "value", "1 hour", period=24)


def journey_trigrams_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 user journey trigrams (operators/funnel.journey_ngrams):
    consecutive event-type 3-grams per user under the total
    (ts, event_id) order, counted corpus-wide with distinct-user
    support — the journey-mining primitive. Rank order
    (occurrences DESC, users DESC, path ASC) is total."""
    from data_pipeline_childcare_spark.operators.funnel import journey_ngrams

    ev = _t(spark, sf_dir, "events")
    return journey_ngrams(ev, n=3, top_k=20)


def link_graph_reciprocity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed reciprocity of the link graph
    (operators/graph.reciprocity): fraction of edges whose reverse
    exists — the link-farm health signal, one reversed-key semi-join
    + reduce, exact micro ratio."""
    from data_pipeline_childcare_spark.operators.graph import (
        reciprocity,
        synthetic_link_graph,
    )

    docs = _t(spark, sf_dir, "documents")
    return reciprocity(synthetic_link_graph(docs, n_links=3))


def link_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core nucleus of the link graph (operators/graph.kcore,
    Seidman 1983, k=4): fixed-round bulk peeling (6 rounds, unit-test
    certified converged on this graph — peeling is monotone, so
    round-stable == exact); survivors with their in-core degree. The
    twin unrolls the same 6 peel rounds as MATERIALIZED CTEs."""
    from data_pipeline_childcare_spark.operators.graph import (
        kcore,
        synthetic_link_graph,
    )

    docs = _t(spark, sf_dir, "documents")
    return kcore(synthetic_link_graph(docs, n_links=3), k=4, rounds=6)


def funnel_latency_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-latency percentiles per funnel hop
    (operators/funnel.funnel_latency): among converters, exact
    p50/p90/max seconds for signup->click and click->purchase —
    order statistics on the converted-user-bounded quantized
    duration frame; the "how fast" beside funnel's "how many"."""
    from data_pipeline_childcare_spark.operators.funnel import funnel_latency

    ev = _t(spark, sf_dir, "events")
    return funnel_latency(ev, ["signup", "click", "purchase"])


def rfm_segments_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation (operators/funnel.rfm_segments):
    exact tertile scores for recency/frequency/monetary from
    key-count-bounded count frames broadcast back — NO corpus-sized
    ntile window (the usual recipe's scale bug); boundary keys take
    the lower bucket, recency buckets invert (lower = better)."""
    from data_pipeline_childcare_spark.operators.funnel import rfm_segments

    orders = _t(spark, sf_dir, "orders")
    return rfm_segments(orders)


def winsorize_audit_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type winsorization audit (operators/robust.winsorize_audit):
    exact p1/p99 clip bounds from the quantized count frame + the
    mass a winsorizing cleaner would touch — the tail-clipping view
    beside robust_outliers' median/MAD center view."""
    from data_pipeline_childcare_spark.operators.robust import winsorize_audit

    ev = _t(spark, sf_dir, "events")
    return winsorize_audit(ev, "event_type", "value")


def chi2_type_by_dow_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square independence test: event_type x epoch-day
    weekday (operators/claseval.chi_square_independence) — is event
    mix weekday-dependent? Statistic in the all-integer
    (O*N - r*c)^2/(N*r*c) form, per-cell floor micros; weekday =
    epoch-day mod 7 (pure integer, engine-portable — both engines'
    dayofweek() conventions differ)."""
    from data_pipeline_childcare_spark.operators.claseval import (
        chi_square_independence,
    )

    ev = _t(spark, sf_dir, "events").withColumn(
        "dow",
        F.expr("datediff(to_date(ts), date '1970-01-01') % 7").cast("int"),
    )
    return chi_square_independence(ev, "event_type", "dow")


def loo_priority_encoding_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out target encoding of order priority against order
    value (operators/funnel.loo_target_encoding): each order's
    priority encoded as the mean o_totalprice of the OTHER orders in
    that priority — the leakage-safe mean encoding. One
    vocabulary-sized aggregate broadcast back; null for singleton
    categories."""
    from data_pipeline_childcare_spark.operators.funnel import (
        loo_target_encoding,
    )

    orders = _t(spark, sf_dir, "orders")
    return loo_target_encoding(
        orders, "o_orderkey", "o_orderpriority", "o_totalprice"
    )


def bootstrap_mean_ci_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap 95% CI for the mean event value
    (operators/robust.poisson_bootstrap_mean, Chamandy et al. 2012 —
    the bootstrap that distributes: per-(row, replica) Poisson(1)
    weights from the seeded md5 inverse-CDF draw, 40 replicas, one
    combinable aggregate, order statistics on the 40-row frame).
    Seeded = twin-checkable and rerun-reproducible."""
    from data_pipeline_childcare_spark.operators.robust import (
        poisson_bootstrap_mean,
    )

    ev = _t(spark, sf_dir, "events")
    return poisson_bootstrap_mean(ev, "event_id", "value", n_replicas=40)


def gini_stump_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Depth-1 CART stump trained in-engine
    (operators/claseval.gini_stump): the quality-score threshold
    minimizing weighted child Gini for separating English docs —
    the TRAINING half next to binary_eval_summary's given-threshold
    scoring. Gini is rational, so the argmin is exact
    DECIMAL(38,0)/HUGEINT integer math over the distinct-score
    frame; ties break to the smallest threshold."""
    from data_pipeline_childcare_spark.operators.claseval import gini_stump

    return gini_stump(_quality_scored(spark, sf_dir))


def hopping_window_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping (sliding) event-time windows — 1-hour windows every 30
    minutes, each event in exactly 2 windows
    (streaming/windows.windowed_event_counts with slide): the
    overlapping-window family member beside tumbling and session
    windows. The twin materializes both candidate starts per event."""
    from data_pipeline_childcare_spark.streaming.windows import (
        windowed_event_counts,
    )

    ev = _t(spark, sf_dir, "events")
    return windowed_event_counts(
        ev, "1 hour", slide="30 minutes", streaming=False
    )


def pareto_revenue_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue concentration audit (operators/skew.
    pareto_concentration): how many customers own 50/80/90% of order
    revenue — the Lorenz/Pareto question, computed with the TWO-LEVEL
    distributed cumulative sum (coarse value buckets + bounded bucket
    window + within-bucket windows; no corpus-sized single-partition
    window). Integer micros / DECIMAL(38,0) throughout."""
    from data_pipeline_childcare_spark.operators.skew import pareto_concentration

    orders = _t(spark, sf_dir, "orders")
    return pareto_concentration(orders, ["o_custkey"], "o_totalprice")


def orders_point_in_time_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time SCD2 lookup (operators/scd.scd2_point_in_time):
    every order reads the customer-status version in effect at its
    order date from the SCD2 history — the as-of formulation (one
    union + one per-key window), NOT the quadratic BETWEEN theta
    join; same-instant version flips resolve to the last version by
    the (ts, side, version) total order. The twin replays the union
    window chain with last_value IGNORE NULLS."""
    from data_pipeline_childcare_spark.operators.scd import (
        scd2_history,
        scd2_point_in_time,
    )

    orders = _t(spark, sf_dir, "orders")
    hist = scd2_history(
        orders.select("o_custkey", "o_orderstatus", "o_orderdate", "o_orderkey"),
        key_col="o_custkey",
        attr_cols=["o_orderstatus"],
        ts_col="o_orderdate",
        tiebreak_col="o_orderkey",
    ).withColumnRenamed("o_orderstatus", "status")
    facts = orders.select("o_orderkey", "o_custkey", "o_orderdate")
    return scd2_point_in_time(
        facts, hist, "o_custkey", "o_orderdate", ["status"]
    )


def fuzzy_part_name_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance fuzzy matching over part names
    (operators/er.fuzzy_matches): blocked on (last name token, first
    letter) — composite keys keep blocks small under the hot-block
    cap (noun-only blocks hit 261 members and were all dropped) —
    pairs
    within Levenshtein <= 2 — the typo/variant detector token-set
    Jaccard misses. Levenshtein is a deterministic integer in every
    engine."""
    from data_pipeline_childcare_spark.operators.er import fuzzy_matches

    part = _t(spark, sf_dir, "part").select(
        "p_partkey",
        "p_name",
        F.concat_ws(
            "|",
            F.element_at(F.split(F.col("p_name"), " "), -1),
            F.substring("p_name", 1, 1),
        ).alias("blk"),
    )
    return fuzzy_matches(part, "p_partkey", "p_name", "blk", max_distance=2)


def vocab_drift_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary drift between two document snapshots
    (operators/drift.vocab_drift): sources src0-src9 vs src10-src19
    as the A/B corpora; per-doc distinct tokens, document frequency
    >= 2 mints vocabulary, one full-outer term join -> shared / only
    counts and the vocabulary Jaccard in micros. The text-column
    drift signal the numeric snapshot report cannot see."""
    from data_pipeline_childcare_spark.operators.drift import vocab_drift

    docs = _t(spark, sf_dir, "documents")
    side = F.regexp_extract(F.col("source"), r"src(\d+)", 1).cast("int")
    return vocab_drift(
        docs.filter(side < 10), docs.filter(side >= 10), min_df=2
    )


def ngram_containment_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle containment (operators/dedup.
    ngram_containment_pairs, Broder): C(A->B) = |A∩B|/|A| — the
    excerpt/quote detector Jaccard structurally misses (a snippet
    fully inside a page has containment 1.0 but Jaccard ~ |A|/|B|).
    Same inverted-index shape as the Jaccard family. BOTH
    duplicate-saturation guards threaded and oracle-mirrored: the
    max_df=64 hot-shingle cap (fractions become lower bounds — the
    safe direction) and cap_pairs_per_doc top-20-per-side (uncapped,
    the 10x near-dup-cluster corpus measured 18.7x)."""
    from data_pipeline_childcare_spark.operators.dedup import (
        cap_pairs_per_doc,
        ngram_containment_pairs,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_containment_pairs(
        docs, n=3, threshold_u=500_000, max_df=64
    )
    return cap_pairs_per_doc(
        pairs,
        cap=20,
        order_by=[F.desc(F.greatest("containment_a_u", "containment_b_u"))],
    )


def event_transitions_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences (operators/funnel.event_transitions): consecutive
    (prev -> next) counts under the total (ts, event_id) order and
    the row-normalized P(next|prev) in integer micros — the
    journey-map / next-event-model estimate."""
    from data_pipeline_childcare_spark.operators.funnel import event_transitions

    ev = _t(spark, sf_dir, "events")
    return event_transitions(ev)


def interarrival_dispersion_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival regularity per event type
    (operators/funnel.interarrival_dispersion): same-user consecutive
    gaps in seconds -> mean, population variance and the index of
    dispersion CV^2 in integer micros (DECIMAL(38,0) sums) — the
    burstiness diagnostic for rate-limit and anomaly policies."""
    from data_pipeline_childcare_spark.operators.funnel import (
        interarrival_dispersion,
    )

    ev = _t(spark, sf_dir, "events")
    return interarrival_dispersion(ev)


def association_rules_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise association rules over per-user event-type baskets
    (operators/funnel.association_rules, the A-Priori k=2 tier):
    support/confidence/lift as exact integer ratios; the pair join is
    bounded by per-basket item-TYPE count, never event multiplicity."""
    from data_pipeline_childcare_spark.operators.funnel import association_rules

    ev = _t(spark, sf_dir, "events")
    return association_rules(ev)


def robust_outliers_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD outlier audit per event type
    (operators/robust.robust_outliers, Hampel identifier): exact
    integer order statistics over the quantized count frame (the
    skew-profile discipline — bounded by value range, not corpus),
    |x - med| > 5*MAD as a pure integer compare."""
    from data_pipeline_childcare_spark.operators.robust import robust_outliers

    ev = _t(spark, sf_dir, "events")
    return robust_outliers(ev, "event_type", "value", k=5)


def conformal_interval_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split conformal prediction interval for the persistence
    forecaster (operators/robust.conformal_interval, Vovk /
    Angelopoulos-Bates): calibration users (user_id % 5 = 0) give the
    ceil((n+1)(1-alpha))-th smallest |error| as the distribution-free
    half-width at alpha = 0.1; the row reports the EMPIRICAL test
    coverage beside the 1-alpha guarantee. Exact integer rank over
    the quantized nonconformity counts."""
    from data_pipeline_childcare_spark.operators.robust import conformal_interval

    events = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tp = events.select(
        "user_id",
        F.col("value").alias("truth"),
        F.lag("value").over(w).alias("pred"),
    ).filter(F.col("pred").isNotNull())
    calib = tp.filter(F.col("user_id") % 5 == 0)
    test = tp.filter(F.col("user_id") % 5 != 0)
    return conformal_interval(calib, test, alpha_u=100_000)


def events_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew pre-flight (operators/skew.key_skew_profile):
    one row describing the user_id key distribution — exact p50/p90/
    p99 multiplicities, hottest-1/hottest-10 row shares, Gini, and the
    max/mean reducer-overload factor — the report that decides salting
    vs broadcast vs AQE skew-join BEFORE a 100 TB shuffle launches.
    Scale shape: per-key counts (one map-side-combinable exchange) →
    count-of-counts rollup (tiny) → ordered windows over the DISTINCT-
    MULTIPLICITY table (thousands of rows at any corpus size — no
    global key sort anywhere). All ratios BIGINT/DECIMAL floor-division
    micros; the grouped Gini stays integral via
    2·Σ(i·x_i) = Σ c·k·(2·keys_before + k + 1)."""
    from data_pipeline_childcare_spark.operators.skew import key_skew_profile

    events = _t(spark, sf_dir, "events")
    return key_skew_profile(events, ["user_id"], top_n=10)


def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min gap) rolled up to session rows."""
    ev = _t(spark, sf_dir, "events")
    return session_stats(ev, gap_minutes=30).select(
        "user_id",
        "session_id",
        "session_start",
        "session_end",
        F.col("n_events").cast("long").alias("n_events"),
    )


def asof_clicks_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each click sees the user's most recent prior purchase.

    r14: single-scan form — clicks and purchases are row-disjoint
    slices of the SAME events table, so the tagged union is built from
    ONE scan with side-conditional projections (asof_join_self)
    instead of two filtered scans feeding a union (guide §6; the plan
    drops from 2 parquet scans + union to 1 scan). Identical window
    semantics, oracle-exact."""
    ev = _t(spark, sf_dir, "events")
    res = asof_join_self(
        ev,
        on="user_id",
        left_pred=F.col("event_type") == "click",
        right_pred=F.col("event_type") == "purchase",
        left_ts=F.col("ts"),
        right_ts=F.col("ts"),
        left_cols=[
            ("user_id", F.col("user_id")),
            ("click_ts", F.col("ts")),
            ("event_id", F.col("event_id")),
        ],
        right_payload=[
            ("p_value", F.round("value", 4)),
            ("p_ts", F.col("ts")),
        ],
        suffix="",
    )
    return res.select("user_id", "click_ts", "event_id", "p_value", "p_ts")


# ---------------------------------------------------------------------------
# Ranking / fusion (SURVEY.md §2.4 A1, §2.5 W2-W3)
# ---------------------------------------------------------------------------


def rrf_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RRF over two supplier rankings: by balance and by lineitem volume.

    li spread=False (r13): the volume leg collapses map-side
    (groupBy(l_suppkey).count()) to supplier-count rows BEFORE any
    exchange; spreading first shipped every raw line for nothing
    (guide §2.3 — measured 0.69 s → 0.43 s)."""
    sup = _t(spark, sf_dir, "supplier")
    li = _t(spark, sf_dir, "lineitem", spread=False)
    by_bal = sup.select(
        F.lit("balance").alias("list_id"),
        F.col("s_suppkey").alias("item_id"),
        F.round("s_acctbal", 4).alias("score"),
    )
    by_vol = (
        li.groupBy("l_suppkey")
        .agg(F.count("*").cast("double").alias("score"))
        .select(F.lit("volume").alias("list_id"), F.col("l_suppkey").alias("item_id"), "score")
    )
    ranked = rank_lists(by_bal.unionByName(by_vol), "list_id", "score", "item_id")
    fused = rrf_fuse(ranked, item_col="item_id", k=60)
    return fused.select(
        F.col("item_id").alias("s_suppkey"),
        F.round("rrf_score", 8).alias("rrf_score"),
        F.col("n_lists").cast("long").alias("n_lists"),
    )


def topk_global_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-task top-k with first-task-wins global dedup (W2): tasks are
    event types, items are users, score is total event value."""
    ev = _t(spark, sf_dir, "events")
    candidates = ev.groupBy(
        F.col("event_type").alias("task_id"), F.col("user_id").alias("item_id")
    ).agg(F.round(F.sum("value"), 4).alias("score"))
    return top_k_with_global_dedup(
        candidates, task_col="task_id", item_col="item_id", score_col="score", k=5
    )


# ---------------------------------------------------------------------------
# LLM-data operators: dedup / similarity / text analysis / chunking
# ---------------------------------------------------------------------------


def dedup_exact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return dedup_exact(docs).select("doc_id", "n_chars")


def dedup_fingerprint_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    # fp_col: reuse the fingerprint computed inside the dedup instead
    # of re-running md5(normalize(text)) over the survivors (r13)
    return dedup_fingerprint(docs, fp_col="fp").select("doc_id", "fp")


def dedup_paragraphs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide paragraph dedup, C4-style (operators/dedup.py
    dedup_paragraphs): every blank-line-separated paragraph survives
    only at its FIRST (doc_id, position) occurrence; documents are
    reassembled from their surviving paragraphs in order. The
    complement of doc_corpus_line_dedup's frequency threshold —
    boilerplate vanishes on its SECOND occurrence, deterministically.
    Text compared via md5 digest to keep the compare row narrow."""
    from data_pipeline_childcare_spark.operators.dedup import dedup_paragraphs

    docs = _t(spark, sf_dir, "documents")
    out = dedup_paragraphs(docs)
    return out.select(
        "doc_id",
        F.md5(F.col("text")).alias("text_digest"),
        "n_paragraphs",
        "n_kept",
    )


def remove_dup_spans_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate-SPAN removal (operators/dedup.py
    remove_duplicate_spans — Lee et al. 2022 ExactSubstr): every
    8-token window occurring more than once corpus-wide survives only
    at its first (doc_id, pos); later occurrences are cut and the
    documents rebuilt from surviving tokens. Detection's enforcement
    twin (doc_shared_spans detects; this removes). Rebuilt text
    compared by digest."""
    from data_pipeline_childcare_spark.operators.dedup import remove_duplicate_spans

    docs = _t(spark, sf_dir, "documents")
    out = remove_duplicate_spans(docs, k=8)
    return out.select(
        "doc_id",
        F.md5(F.col("text")).alias("text_digest"),
        "n_tokens",
        "n_removed",
    )


def corpus_export_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-CAP composition — the training-data EXPORT step: paragraph
    dedup (C4-style clean) → deterministic hash split → sequence
    packing → per-(split, shard) manifest (doc/token/bin counts), the
    summary a data loader consumes. Composes three independently
    oracled operators; the DuckDB twin nests their SQL and the
    manifest is hash-exact, so the whole export path is certified as
    one row set."""
    from data_pipeline_childcare_spark.operators.dedup import dedup_paragraphs
    from data_pipeline_childcare_spark.operators.packing import pack_sequences
    from data_pipeline_childcare_spark.operators.split import hash_split

    docs = _t(spark, sf_dir, "documents")
    cleaned = hash_split(dedup_paragraphs(docs).select("doc_id", "text"))
    packed = pack_sequences(cleaned)
    return (
        packed.join(cleaned.select("doc_id", "split"), "doc_id")
        .groupBy("split", "shard")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            # collect_set instead of count(DISTINCT): no Expand in the
            # plan; bins per (split, shard) are tokens/seq_len-bounded
            F.size(F.collect_set("bin_id")).cast("long").alias("n_bins"),
        )
    )


def minhash_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dedup, FULLY oracled: the engine-portable
    Carter–Wegman hash family (operators/dedup.py) makes the kept-doc
    set bit-identical in DuckDB — banding, candidate pairs, jaccard
    estimate and the drop-larger-id rule all hash-exact. Runs with
    cap_per_id=1 — the one-sided keep-first-dominator guard that is
    SEMANTICALLY FREE for the anti-join consumer (each dropped doc
    needs only ONE dominating pair to survive to the distinct), so
    the oracle is unchanged while pair volume into the final shuffles
    is ≤ |corpus| even on a verbatim-copy-cluster corpus."""
    from data_pipeline_childcare_spark.operators.dedup import minhash_dedup_portable

    # spread=False: the signature pipeline spreads internally (keyed on
    # doc_id); pre-spreading here only adds a redundant exchange that
    # the optimizer pulls above the final anti-join (r13 plan diff)
    docs = _t(spark, sf_dir, "documents", spread=False)
    return minhash_dedup_portable(docs, threshold=0.8, cap_per_id=1).select("doc_id")


def doc_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII inventory + redacted length per document. The synthetic
    corpus carries no real PII, so both engines append the SAME
    deterministic email/phone suffix before scrubbing — the patterns,
    counts and redaction then round-trip the RE2-compatible regexes
    (operators/redact.py)."""
    from data_pipeline_childcare_spark.operators.redact import scrub_pii

    docs = _t(spark, sf_dir, "documents").withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" 联系 user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com 电话138"),
            F.lpad(F.col("doc_id").cast("string"), 8, "0"),
        ),
    )
    return scrub_pii(docs)


def doc_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic sequence packing: (shard, bin, offset) layout of
    the corpus into 2048-token training bins (operators/packing.py)."""
    from data_pipeline_childcare_spark.operators.packing import pack_sequences

    return pack_sequences(_t(spark, sf_dir, "documents"), seq_len=2048, n_shards=4)


def doc_pack_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard packing audit (operators/packing.pack_audit): bin
    count, tail waste (the only waste a straddling stream layout has),
    straddling-doc count and integer-ppm fill over the 2048-token
    layout — one shard-keyed aggregate on top of doc_pack_sequences;
    the DuckDB twin nests the pack twin and the same arithmetic."""
    from data_pipeline_childcare_spark.operators.packing import (
        pack_audit,
        pack_sequences,
    )

    packed = pack_sequences(
        _t(spark, sf_dir, "documents"), seq_len=2048, n_shards=4
    )
    return pack_audit(packed, seq_len=2048)


def doc_benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram-overlap decontamination check: every doc_id % 10 == 0
    document plays benchmark; the rest of the corpus is scored by the
    fraction of its distinct 3-gram shingles found anywhere in the
    benchmark set (operators/contamination.py)."""
    from data_pipeline_childcare_spark.operators.contamination import (
        benchmark_contamination,
    )

    docs = _t(spark, sf_dir, "documents")
    return benchmark_contamination(
        docs.filter(F.col("doc_id") % 10 != 0), docs.filter(F.col("doc_id") % 10 == 0)
    )


def kmv_distinct_users_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-minimum-values distinct-count sketch per event_type — an
    APPROXIMATE algorithm with an EXACT oracle: the md5-derived hash
    family makes the sketch (and therefore the estimate) bit-identical
    in any engine (operators/sketches.py)."""
    from data_pipeline_childcare_spark.operators.sketches import kmv_distinct

    ev = _t(spark, sf_dir, "events")
    return kmv_distinct(ev, ("event_type",), "user_id", k=64)


def doc_corpus_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide boilerplate removal (CCNet-style): lines whose
    normalized form appears in more than 5 distinct documents are
    dropped everywhere, documents reassembled in original line order
    (operators/cleaning.py corpus_line_dedup). Complements the
    per-document repeated-line cleaner the reference ships."""
    from data_pipeline_childcare_spark.operators.cleaning import (
        corpus_line_dedup,
    )

    docs = _t(spark, sf_dir, "documents")
    return corpus_line_dedup(docs, max_df=5).orderBy("doc_id")


def salted_supplier_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation through the driver gate — the
    hot-key defense (operators/skew.py) proven semantically invisible:
    the oracle is the PLAIN groupBy sum. l_quantity is integer-valued,
    so double addition is exact and the salted partial order cannot
    change the total. At 100 TB the phase-1 (key, salt) shuffle
    spreads one hot supplier over 16 reducers; phase 2 combines 16
    partials per key."""
    from data_pipeline_childcare_spark.operators.skew import salted_sum

    li = _t(spark, sf_dir, "lineitem")
    out = salted_sum(li, ["l_suppkey"], "l_quantity", n_salts=16, out_col="total_qty")
    return out.select(
        "l_suppkey", F.round("total_qty", 2).alias("total_qty")
    ).orderBy("l_suppkey")


def user_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts — users grouped by first-activity
    week, counted per weeks-since-cohort offset: the standard
    retention triangle. Two shuffles: the per-user min (map-side
    combinable) and the (cohort, offset) count-distinct; the user set
    per cell is the distinct shuffle key, never a driver collect.
    Weeks are epoch-day based (floor(days/7)) so the bucketing is
    engine-portable without WEEK-OF-YEAR convention drift."""
    ev = _t(spark, sf_dir, "events")
    # floor, not cast('long'): cast truncates toward zero, so pre-1970
    # timestamps would bucket differently from the oracle's floor()
    epoch_week = F.floor(
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-05").cast("date")) / 7
    )
    weekly = ev.select("user_id", epoch_week.alias("week"))
    first = weekly.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        weekly.join(first, "user_id")
        .groupBy("cohort_week", (F.col("week") - F.col("cohort_week")).alias("weeks_since"))
        .agg(F.count_distinct("user_id").alias("n_users"))
        .orderBy("cohort_week", "weeks_since")
    )


def events_value_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score outlier detection per event type — population
    mean/stddev broadcast back over the stream, |z| > 3 flagged. The
    stddev uses the numerically stable two-pass form (mean first,
    then mean of squared deviations) so both engines sum the same
    well-conditioned quantities; z is rounded before the filter to
    keep the boundary engine-stable."""
    ev = _t(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.avg("value").alias("_mu"), F.count("value").alias("_n")
    )
    dev = ev.join(F.broadcast(stats), "event_type")
    var = dev.groupBy("event_type", "_mu", "_n").agg(
        F.avg((F.col("value") - F.col("_mu")) * (F.col("value") - F.col("_mu"))).alias("_var")
    )
    scored = ev.join(
        # a zero-variance group has no outliers by definition; the
        # guard also keeps the twins aligned (Spark's non-ANSI 0/0
        # is NULL, DuckDB's is NaN — which DuckDB sorts above 3)
        F.broadcast(var.filter(F.col("_var") > 0)),
        "event_type",
    ).withColumn(
        "z",
        F.round((F.col("value") - F.col("_mu")) / F.sqrt("_var"), 4),
    )
    return (
        scored.filter(F.abs(F.col("z")) > 3)
        .select("event_type", "event_id", "value", "z")
        .orderBy("event_type", "event_id")
    )


def customer_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-function family in one pass — ntile deciles,
    percent_rank, cume_dist over customer account balance within each
    market segment. The orderBy carries a unique tie-break
    (c_custkey) so every rank function is deterministic in any
    engine; one window shuffle on segment."""
    cust = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return cust.select(
        "c_mktsegment",
        "c_custkey",
        F.ntile(10).over(w).alias("decile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    ).orderBy("c_mktsegment", "c_custkey")


def revenue_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form behind the cube/rollup
    queries): revenue by (returnflag, linestatus), by returnflag
    alone, and the grand total — with grouping_id distinguishing the
    levels. One Expand + one shuffle, the canonical Spark plan."""
    li = _t(spark, sf_dir, "lineitem")
    li.createOrReplaceTempView("_li_gs")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(grouping_id(l_returnflag, l_linestatus) AS BIGINT)
                   AS gid,
               count(*) AS n_lines,
               round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM _li_gs
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                (l_returnflag), ())
        ORDER BY gid, l_returnflag, l_linestatus
        """
    )


def events_trailing_hour_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE window frame (vs the row-count frame of
    events_moving_avg): per user, the sum of value over the trailing
    hour of event time — rangeBetween on epoch seconds, the frame
    every rate-limit / rolling-exposure computation uses. One window
    shuffle on user; state per partition is the in-frame rows."""
    ev = _t(spark, sf_dir, "events")
    # pure NTZ microsecond arithmetic (timestamp_diff never consults
    # the session timezone, and whole-second truncation would define a
    # subtly different frame on sub-second timestamps than the oracle)
    micros = F.timestamp_diff(
        "MICROSECOND",
        F.to_timestamp_ntz(F.lit("1970-01-01 00:00:00")),
        F.col("ts"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(micros)
        .rangeBetween(-3_600_000_000, Window.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.round(F.sum("value").over(w), 4).alias("hour_sum"),
    ).orderBy("user_id", "event_id")


def events_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user 5-event moving average of value — the rolling-window
    smoothing every monitoring/feature pipeline needs. One window
    shuffle on user; the frame is rows-bounded so each partition
    streams with O(frame) state."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-4, Window.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.round(F.avg("value").over(w), 6).alias("moving_avg"),
    ).orderBy("user_id", "event_id")


def similar_part_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-duplicate detection over DISTINCT part
    names (exact duplicates are the dedup_exact family's job) —
    typo-level matching, the string-similarity sibling of the
    MinHash/SimHash family. Candidate pairs are BLOCKED on the name's
    noun (last token): the self-join is an equi-join per block, never
    all-pairs, and levenshtein runs only inside blocks. At corpus
    scale substitute deletion-neighborhood signatures for the block
    key; the verify-filter tail is unchanged."""
    part = _t(spark, sf_dir, "part")
    noun = F.element_at(F.split("p_name", " "), -1)
    names = part.select("p_name", noun.alias("_blk")).distinct()
    a = names.select(F.col("p_name").alias("name_a"), "_blk")
    b = names.select(F.col("p_name").alias("name_b"), "_blk")
    return (
        a.join(b, "_blk")
        .filter(F.col("name_a") < F.col("name_b"))
        .withColumn("dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("dist").between(1, 2))
        .select("name_a", "name_b", "dist")
        .orderBy("name_a", "name_b")
    )


def events_value_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-bin histogram quantile sketch (p50/p90/p99 of value per
    event_type) — the portable, exactly-oracled alternative to
    engine-opaque approx_percentile; fixed ``bins`` state per group,
    mergeable by addition (operators/sketches.py)."""
    from data_pipeline_childcare_spark.operators.sketches import (
        histogram_quantiles,
    )

    ev = _t(spark, sf_dir, "events")
    return histogram_quantiles(ev, ("event_type",), "value", bins=256)


def customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per customer, Recency (days since last order
    relative to the corpus max date), Frequency (order count) and
    Monetary (total spend), each quartiled by ntile with a unique
    tie-break — the classic CRM cut. One shuffle for the per-customer
    rollup; the corpus max date is a broadcast scalar; three ntile
    windows run over the |customers| aggregate, not the fact table."""
    orders = _t(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("_last"),
        F.count("*").alias("frequency"),
        F.round(F.sum("o_totalprice"), 2).alias("monetary"),
    )
    maxd = orders.agg(F.max("o_orderdate").alias("_maxd"))
    scored = per_cust.join(F.broadcast(maxd)).select(
        "o_custkey",
        F.datediff(F.col("_maxd").cast("date"), F.col("_last").cast("date")).alias(
            "recency_days"
        ),
        "frequency",
        "monetary",
    )
    # lower recency is better → ascending; higher freq/monetary better
    # → descending; o_custkey breaks every tie deterministically.
    # ntile NEEDS one total order (quartiles are global by
    # definition); the windows run over the |customers| aggregate,
    # never the fact table — at a scale where even that is too large,
    # swap ntile for percentile_approx cut points. lit(0) partition =
    # explicit single-partition intent, no WindowExec warning.
    wr = Window.partitionBy(F.lit(0)).orderBy("recency_days", "o_custkey")
    wf = Window.partitionBy(F.lit(0)).orderBy(F.desc("frequency"), "o_custkey")
    wm = Window.partitionBy(F.lit(0)).orderBy(F.desc("monetary"), "o_custkey")
    return scored.select(
        "o_custkey",
        "recency_days",
        "frequency",
        "monetary",
        F.ntile(4).over(wr).alias("r_quartile"),
        F.ntile(4).over(wf).alias("f_quartile"),
        F.ntile(4).over(wm).alias("m_quartile"),
    ).orderBy("o_custkey")


def brand_yoy_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year reporting shape: per brand, yearly revenue with
    the previous year's value and the delta via a lag window OVER THE
    AGGREGATE (|brands|×|years| rows) — the window never touches the
    fact table, so its cost is independent of lineitem volume.

    Revenue is summed exactly, as DECIMAL at the inputs' 2-dp scale,
    then rounded HALF_UP and cast back to double: a double sum depends
    on the summation order (input partitioning), and a group whose
    exact revenue is a half-cent tie would round either way."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    cents = "decimal(15,2)"
    yearly = (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .groupBy(
            "p_brand", F.year("l_shipdate").cast("long").alias("ship_year")
        )
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast(cents)
                    * (1 - F.col("l_discount").cast(cents))
                ),
                2,
            )
            .cast("double")
            .alias("revenue")
        )
    )
    w = Window.partitionBy("p_brand").orderBy("ship_year")
    # a gap year must yield NULL, not a 2-year delta dressed as YoY
    contiguous = F.lag("ship_year").over(w) == F.col("ship_year") - 1
    prev = F.when(contiguous, F.lag("revenue").over(w))
    return yearly.select(
        "p_brand",
        "ship_year",
        "revenue",
        F.round(prev, 2).alias("prev_revenue"),
        F.round(F.col("revenue") - prev, 2).alias("yoy_delta"),
    ).orderBy("p_brand", "ship_year")


def session_first_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch attribution: each 30-minute session's purchases are
    credited to the session's FIRST event type (the channel that
    opened the session). Composes the sessionize operator with a
    per-session first_value window and a conditional rollup — one
    user-keyed window chain (sessionize's shuffle is reused: same
    partition key) + one small aggregate."""
    from data_pipeline_childcare_spark.operators.sessions import sessionize

    ev = _t(spark, sf_dir, "events")
    s = sessionize(ev, gap_minutes=30)
    w = Window.partitionBy("user_id", "session_id").orderBy("ts", "event_id")
    tagged = s.withColumn("first_touch", F.first("event_type").over(w))
    is_buy = F.col("event_type") == "purchase"
    return (
        tagged.groupBy("first_touch")
        .agg(
            F.count_distinct("user_id", "session_id").alias("n_sessions"),
            F.sum(is_buy.cast("long")).alias("n_purchases"),
            F.round(F.sum(F.when(is_buy, F.col("value")).otherwise(0.0)), 2).alias(
                "purchase_value"
            ),
        )
        .orderBy("first_touch")
    )


def brand_basket_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: for every pair of part brands
    bought in the same order, the co-occurrence count and lift
    (support / product of marginals). The pair join is BLOCKED on the
    order key — pairs explode only within an order's distinct brands
    (≤ |brands|), never across the corpus; marginals broadcast back.
    The frequent-itemsets building block at k=2."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    ob = (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    a = ob.select(F.col("l_orderkey").alias("_o"), F.col("p_brand").alias("brand_a"))
    b = ob.select(F.col("l_orderkey").alias("_o"), F.col("p_brand").alias("brand_b"))
    pairs = (
        a.join(b, "_o")
        .filter(F.col("brand_a") < F.col("brand_b"))
        .groupBy("brand_a", "brand_b")
        .agg(F.count("*").alias("n_orders"))
    )
    marg = ob.groupBy("p_brand").agg(F.count("*").alias("_cnt"))
    # total order count enters the plan as a broadcast scalar, never a
    # driver-side action
    total = ob.agg(F.count_distinct("l_orderkey").alias("_n_total"))
    lift = F.round(
        F.col("n_orders") * F.col("_n_total").cast("double")
        / (F.col("_cnt_a") * F.col("_cnt_b")),
        4,
    )
    return (
        pairs.join(
            F.broadcast(marg.select(F.col("p_brand").alias("brand_a"), F.col("_cnt").alias("_cnt_a"))),
            "brand_a",
        )
        .join(
            F.broadcast(marg.select(F.col("p_brand").alias("brand_b"), F.col("_cnt").alias("_cnt_b"))),
            "brand_b",
        )
        .join(F.broadcast(total))
        .select("brand_a", "brand_b", "n_orders", lift.alias("lift"))
        .orderBy(F.desc("n_orders"), "brand_a", "brand_b")
    )


def user_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov transition counts between consecutive events per user —
    the path-analysis complement of the ordered funnel
    (operators/merge.py funnel_counts): one lag window over the
    user-sharded stream, then a 25-cell aggregate. The window and the
    aggregate shuffle on different keys (user vs pair) but the pair
    agg is map-side combinable down to |types|^2 rows per partition."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.select(
        "user_id",
        F.col("event_type").alias("next_type"),
        F.lag("event_type").over(w).alias("prev_type"),
    )
    return (
        pairs.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count("*").alias("n_transitions"))
        .orderBy("prev_type", "next_type")
    )


def source_token_budget_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixing under a token budget: per source, keep documents
    in deterministic priority order (most tokens first, doc_id
    tie-break) until a 20k-token budget is exhausted — the building
    block for assembling a training mix with per-domain quotas. One
    window shuffle on source; the running sum is rows-unbounded-
    preceding so each partition streams once. At 100 TB the same
    shape runs per (source, shard) with budget/shards per window to
    keep partitions bounded."""
    docs = _t(spark, sf_dir, "documents")
    n_tok = F.size(tokenize(F.col("text"))).cast("long")
    w = (
        Window.partitionBy("source")
        .orderBy(F.desc("n_tokens"), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sized = docs.select("doc_id", "source", n_tok.alias("n_tokens"))
    return (
        sized.withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .filter(F.col("cum_tokens") <= 20000)
        .select("source", "doc_id", "n_tokens", "cum_tokens")
        .orderBy("source", "cum_tokens")
    )


def bloom_filtered_building_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-year order revenue from BUILDING-segment customers, with
    the orders→customer semi join pre-pruned by a broadcast bloom
    filter (operators/bloom.py). The bloom pass must be semantically
    invisible — no false negatives — so the oracle is the PLAIN
    semi-join SQL: any dropped match fails the row/hash compare. At
    100 TB the bitmap broadcast (KB) replaces shuffling every
    non-matching order."""
    from data_pipeline_childcare_spark.operators.bloom import bloom_semi_join

    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    building = cust.filter(F.col("c_mktsegment") == "BUILDING").select(
        "c_custkey"
    )
    kept = bloom_semi_join(orders, "o_custkey", building, "c_custkey")
    return (
        kept.groupBy(F.year("o_orderdate").cast("long").alias("order_year"))
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .orderBy("order_year")
    )


def kmv_click_purchase_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV set algebra: estimated union / Jaccard / intersection of
    the click-user and purchase-user sets from two k-min sketches —
    set operations over sketches instead of datasets
    (operators/sketches.py kmv_set_estimates). Deterministic portable
    hashing makes the whole algebra exactly oracle-checkable."""
    from data_pipeline_childcare_spark.operators.sketches import (
        kmv_set_estimates,
    )

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select("user_id")
    buys = ev.filter(F.col("event_type") == "purchase").select("user_id")
    return kmv_set_estimates(clicks, buys, "user_id", k=64)


def hll_distinct_users_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-count sketch per event_type — like the KMV
    query, an APPROXIMATE algorithm with an EXACT oracle: portable
    md5 registers and a scaled-integer harmonic sum make the estimate
    bit-identical in any engine (operators/sketches.py). HLL is the
    100 TB default: fixed 2^p-integer state per group, maintained by
    a plain max aggregate, mergeable register-wise."""
    from data_pipeline_childcare_spark.operators.sketches import hll_distinct

    ev = _t(spark, sf_dir, "events")
    return hll_distinct(ev, ("event_type",), "user_id", p=8)


def funnel_click_view_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered-funnel conversion (operators/merge.py): users who
    clicked, then viewed strictly later, then purchased strictly
    later — earliest-completion chaining, one shuffle by user."""
    from data_pipeline_childcare_spark.operators.merge import funnel_counts

    ev = _t(spark, sf_dir, "events")
    return funnel_counts(ev, ("click", "view", "purchase"))


def orders_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC MERGE (operators/merge.py) driven by a synthetic change
    log derived deterministically from orders via the portable md5
    trick (so the oracle reproduces it): ~1/8 of keys get TWO updates
    (latest-wins by seq), ~1/16 get deleted, and a batch of new keys
    is inserted. Returns the merged snapshot's per-status rollup (the
    full merged table is 15k rows; the rollup keeps the driver
    comparison small while still pinning every row through the
    merge)."""
    from data_pipeline_childcare_spark.operators.merge import merge_changes

    orders = _t(spark, sf_dir, "orders")
    h = F.substring(
        F.md5(F.concat(F.lit("chg:"), F.col("o_orderkey").cast("string"))), 1, 8
    )
    base = orders.withColumn("_h", h)
    upd1 = (
        base.filter(F.col("_h") < "20000000")
        .drop("_h")
        .withColumn("o_totalprice", F.col("o_totalprice") + 100.0)
        .withColumn("op", F.lit("U"))
        .withColumn("seq", F.lit(1).cast("long"))
    )
    upd2 = (
        base.filter(F.col("_h") < "20000000")
        .drop("_h")
        .withColumn("o_totalprice", F.col("o_totalprice") + 200.0)
        .withColumn("op", F.lit("U"))
        .withColumn("seq", F.lit(2).cast("long"))
    )
    dels = (
        base.filter((F.col("_h") >= "20000000") & (F.col("_h") < "30000000"))
        .drop("_h")
        .withColumn("op", F.lit("D"))
        .withColumn("seq", F.lit(1).cast("long"))
    )
    ins = (
        base.filter(F.col("_h") >= "f0000000")
        .drop("_h")
        .withColumn("o_orderkey", F.col("o_orderkey") + F.lit(100000000))
        .withColumn("op", F.lit("I"))
        .withColumn("seq", F.lit(1).cast("long"))
    )
    changes = upd1.unionByName(upd2).unionByName(dels).unionByName(ins)
    merged = merge_changes(orders, changes, "o_orderkey")
    return (
        merged.groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
            F.max("o_orderkey").alias("max_key"),
        )
        .orderBy("o_orderstatus")
    )


def doc_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-unigram LM quality proxy per document
    (operators/tfidf.py): average log10 token probability — the
    CCNet-style score used to filter improbable/gibberish text from
    training corpora."""
    from data_pipeline_childcare_spark.operators.tfidf import unigram_logprob_scores

    docs = _t(spark, sf_dir, "documents")
    return unigram_logprob_scores(docs)


_CLF_WEIGHTS = {"scan": 0.8, "window": -0.5, "join": 0.3, "table": -0.2, "data": 0.1}
_CLF_BIAS = -0.2


def bpe_learned_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training (operators/bpe.py): the top
    5 merges learned over the corpus word-frequency table — one
    corpus pass, then vocabulary-sized rounds. The DuckDB twin
    unrolls the identical count → argmax → sentinel-replace
    trajectory, so the learned merge TABLE itself is hash-checked."""
    from data_pipeline_childcare_spark.operators.bpe import learn_bpe_merges

    docs = _t(spark, sf_dir, "documents")
    return learn_bpe_merges(docs, n_merges=5)


def bpe_doc_segment_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE application (operators/bpe.py): the learned vocab state
    joined back onto the corpus tokens → per-document word/symbol
    counts, the compression report of a tokenizer-training run."""
    from data_pipeline_childcare_spark.operators.bpe import bpe_segment_counts

    docs = _t(spark, sf_dir, "documents")
    return bpe_segment_counts(docs, n_merges=5)


_LR_ARGS = dict(n_iters=3, lr=0.5, vocab_size=32)


def _lr_examples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic labeled set for the in-engine trainer: label 1
    iff the document contains the token 'the' — content-derived, so
    the learned weights are non-trivial and SQL-replayable."""
    from data_pipeline_childcare_spark.functions.text import tokenize

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        "text",
        F.array_contains(tokenize(F.col("text")), "the").cast("int").alias("label"),
    )


def train_quality_filter_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-engine quality-filter TRAINING (operators/classifier.py
    train_logreg_weights): full-batch logistic regression as pure
    DataFrame ops — per-iteration logit → sigmoid → error → token
    gradient → weight update, everything pre-rounded so the DuckDB
    twin replays the identical 3-iteration trajectory and the learned
    weight TABLE itself is hash-checked (the train side of the
    doc_classifier_scores apply path)."""
    from data_pipeline_childcare_spark.operators.classifier import (
        train_logreg_weights,
    )

    return train_logreg_weights(_lr_examples(spark, sf_dir), **_LR_ARGS)


def trained_filter_scores_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train → apply composed: the weights learned by
    train_quality_filter_docs scored back over the corpus through
    linear_text_scores (weights leave the cluster via the guarded
    model-collect — 33 rows)."""
    from data_pipeline_childcare_spark.operators.classifier import (
        linear_text_scores,
        train_logreg_weights,
    )

    w = train_logreg_weights(_lr_examples(spark, sf_dir), **_LR_ARGS).collect()
    weights = {r["token"]: r["weight"] for r in w if r["token"] != "__bias__"}
    bias = next(r["weight"] for r in w if r["token"] == "__bias__")
    docs = _t(spark, sf_dir, "documents")
    return linear_text_scores(docs, weights, bias=bias)


_WP_ARGS = dict(vocab_size=40, n_rounds=2, max_piece_len=4, max_word_len=12)


def wordpiece_vocab_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece-style tokenizer training (operators/wordpiece.py):
    greedy longest-match segmentation with an iteratively
    re-estimated piece inventory — the BERT-tokenizer shape, the
    top-down companion to bottom-up BPE. One corpus pass, then
    word-vocabulary-sized rounds with the model as literal InSet
    predicates (guarded model-collect). The DuckDB twin unrolls the
    identical seed → segment → recount → prune trajectory, so the
    final inventory is hash-checked."""
    from data_pipeline_childcare_spark.operators.wordpiece import (
        learn_wordpiece_vocab,
    )

    docs = _t(spark, sf_dir, "documents")
    return learn_wordpiece_vocab(docs, **_WP_ARGS)


def wordpiece_fertility_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WordPiece application: the final inventory segments every
    corpus word (greedy longest-match) → per-document (n_words,
    n_pieces, n_unk) — tokenizer fertility, with over-length words
    counting one [UNK] each (BERT's max_input_chars_per_word cap)."""
    from data_pipeline_childcare_spark.operators.wordpiece import (
        wordpiece_segment_counts,
    )

    docs = _t(spark, sf_dir, "documents")
    return wordpiece_segment_counts(docs, **_WP_ARGS)


def doc_classifier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained-filter inference (operators/classifier.py): a linear
    bag-of-words model (fastText/logreg-style quality classifier)
    applied to every document — broadcast weight dim, one explode,
    one per-doc aggregate, sigmoid in column math. The DuckDB twin
    joins the same weight VALUES and replays the rounded logit →
    sigmoid chain."""
    from data_pipeline_childcare_spark.operators.classifier import linear_text_scores

    docs = _t(spark, sf_dir, "documents")
    return linear_text_scores(docs, _CLF_WEIGHTS, bias=_CLF_BIAS)


def doc_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated-bigram LM quality score per document
    (operators/tfidf.bigram_logprob_scores) — the engine-scale shape
    of CCNet's KenLM perplexity filter; the DuckDB twin replays the
    Jelinek-Mercer mixture with identical association order and the
    pre-rounded log-sum discipline."""
    from data_pipeline_childcare_spark.operators.tfidf import bigram_logprob_scores

    docs = _t(spark, sf_dir, "documents")
    return bigram_logprob_scores(docs)


def doc_trigram_backoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stupid-backoff trigram LM scoring (Brants et al. 2007,
    operators/tfidf.trigram_backoff_scores): counts come from a
    deterministic 70% md5 hash sample (salt ``lm``), every document
    is scored, so the ~30% held-out docs exercise the backoff tiers
    (trigram hit → α·bigram → α²·unigram-with-OOV-floor). The DuckDB
    twin replays the same split predicate, the same per-order count
    tables and the same association order, with the pre-rounded
    log-sum discipline."""
    from data_pipeline_childcare_spark.operators.split import hash_sample
    from data_pipeline_childcare_spark.operators.tfidf import trigram_backoff_scores

    docs = _t(spark, sf_dir, "documents")
    train = hash_sample(docs, 0.7, salt="lm")
    return trigram_backoff_scores(docs, train)


def dedup_incremental_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (ingest-time) near-dedup
    (operators/dedup.minhash_dedup_incremental): every 4th document
    plays the incoming batch, the rest the existing corpus; a new doc
    survives only if it is a near-dup (est_jaccard ≥ 0.8, portable
    MinHash) of neither any corpus doc (history wins regardless of id
    order) nor an earlier-id batch doc. The asymmetric band join
    touches only buckets containing a new doc — the plan a daily
    ingest actually wants, instead of re-paying corpus×corpus.

    The DuckDB twin reuses the portable-minhash pair chain over the
    full corpus and applies the same keep rule: drop a new id that
    appears as the larger side of any qualifying pair, or as the
    smaller side when the larger side is a corpus doc."""
    from data_pipeline_childcare_spark.operators.dedup import (
        minhash_dedup_incremental,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    new = docs.filter(F.col("doc_id") % 4 == 0)
    corpus = docs.filter(F.col("doc_id") % 4 != 0)
    return minhash_dedup_incremental(new, corpus).select("doc_id")


def bm25_search_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-scale BM25 retrieval (operators/tfidf.bm25_topk): a
    FIXED query set — the first three tokens of each of the ten docs
    with doc_id % 50 == 0 below 500 — scored against the whole corpus
    through the inverted index, Okapi k1=1.2, b=0.75, Lucene idf,
    distinct query terms, round-before-rank top-10 with
    (score desc, doc_id) tie-breaks. The query COUNT is bounded so
    scale-up measures per-query latency vs corpus size (the retrieval
    metric that matters), not query-load growth. The DuckDB twin
    replays the identical tf/df/dl tables, the exact integer-sum
    avgdl division and the same association order."""
    from data_pipeline_childcare_spark.functions.text import tokenize
    from data_pipeline_childcare_spark.operators.tfidf import bm25_topk

    docs = _t(spark, sf_dir, "documents")
    q = docs.filter(
        (F.col("doc_id") % 50 == 0) & (F.col("doc_id") < 500)
    ).select(
        F.col("doc_id").alias("query_id"),
        F.concat_ws(" ", F.slice(tokenize(F.col("text")), 1, 3)).alias("qtext"),
    )
    return bm25_topk(docs, q, k=10)


def link_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-frontier PageRank (operators/graph.pagerank): 5 power
    iterations at damping 0.85 over the deterministic 3-out link
    graph derived from the portable md5 hash family
    (operators/graph.synthetic_link_graph — the documents table has
    no hyperlink column, so the graph is closed-form like the
    multimodal fixtures; production swaps in the real (src, href)
    frame from the WARC/scrape stack). Ranks are fixed-point BIGINT
    mass (units of 1e-12), every update an integer division — the
    result is bit-exact regardless of aggregation order, which is
    what lets the DuckDB twin unroll the same five iterations and
    match hash-exact with zero float-rounding discipline needed."""
    from data_pipeline_childcare_spark.operators.graph import (
        pagerank,
        synthetic_link_graph,
    )

    docs = _t(spark, sf_dir, "documents")
    edges = synthetic_link_graph(docs, n_links=3)
    return pagerank(docs.select(F.col("doc_id").alias("id")), edges, n_iter=5).select(
        F.col("id").alias("doc_id"), "out_deg", "rank_scaled"
    )


def link_graph_trustrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seed-personalized PageRank over the deterministic link graph
    (operators/graph.trustrank, Gyöngyi et al. 2004): teleport and
    dangling mass land only on the trusted seed set (every 20th doc —
    the curated-whitelist stand-in), so trust attenuates with link
    distance and spam islands decay to zero. Same BIGINT fixed-point
    discipline as link_graph_pagerank; the DuckDB twin unrolls the
    same five seeded iterations and matches hash-exact."""
    from data_pipeline_childcare_spark.operators.graph import (
        synthetic_link_graph,
        trustrank,
    )

    docs = _t(spark, sf_dir, "documents")
    edges = synthetic_link_graph(docs, n_links=3)
    seeds = docs.filter(F.col("doc_id") % 20 == 0).select(
        F.col("doc_id").alias("id")
    )
    return trustrank(
        docs.select(F.col("doc_id").alias("id")), edges, seeds, n_iter=5
    ).select(F.col("id").alias("doc_id"), "out_deg", "is_seed", "rank_scaled")


def crawl_depth_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum hop distance from the trusted seed whitelist
    (operators/graph.bfs_distances) over the deterministic link graph
    — the crawl-budget audit that pairs with link_graph_trustrank:
    fetch policies cap at depth k, and the unreachable set is exactly
    the spam-island set TrustRank zeroes. Distributed min-distance
    propagation, 8 hops max with early exit; the DuckDB twin is a
    depth-capped recursive walk taking min(d) per node."""
    from data_pipeline_childcare_spark.operators.graph import (
        bfs_distances,
        synthetic_link_graph,
    )

    docs = _t(spark, sf_dir, "documents")
    edges = synthetic_link_graph(docs, n_links=3)
    seeds = docs.filter(F.col("doc_id") % 20 == 0).select(
        F.col("doc_id").alias("id")
    )
    return bfs_distances(edges, seeds, max_hops=8).select(
        F.col("id").alias("doc_id"), "dist"
    )


def textrank_keywords_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus keyword extraction by TextRank (operators/keywords.py,
    Mihalcea & Tarau 2004): token co-occurrence edges at window 2
    built with zip_with over shifted array slices (no positional
    self-join), one corpus-sized hash aggregate to the vocabulary
    graph, then 5 weighted-PageRank iterations in fixed-point BIGINT
    with per-source weight fractions pre-quantized to 1e-6 (overflow-
    safe for stop-token edge weights at any corpus size). Top 20
    keywords via TakeOrdered. Bit-exact vs the DuckDB twin's unrolled
    iterations — the same integer-PageRank discipline as
    link_graph_pagerank."""
    from data_pipeline_childcare_spark.operators.keywords import textrank_keywords

    docs = _t(spark, sf_dir, "documents")
    return textrank_keywords(docs, window=2, n_iter=5, top_k=20)


def fk_discovery_tpch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inclusion-dependency / FK-candidate discovery
    (operators/profile.inclusion_dependencies) over six declared
    TPC-H column pairs — five true foreign keys plus one deliberate
    non-FK control (o_custkey ⊆? s_suppkey). Each pair reduces both
    sides to DISTINCT key sets before the containment semi-join
    (distinct×distinct, parent side broadcastable), and reports
    integer-ppm containment + parent uniqueness — the referential-
    integrity evidence a pipeline needs before trusting a join key."""
    from data_pipeline_childcare_spark.operators.profile import (
        inclusion_dependencies,
    )

    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    part = _t(spark, sf_dir, "part")
    nation = _t(spark, sf_dir, "nation")
    out = inclusion_dependencies(
        [
            ("lineitem.l_orderkey->orders.o_orderkey", li, "l_orderkey", orders, "o_orderkey"),
            ("lineitem.l_partkey->part.p_partkey", li, "l_partkey", part, "p_partkey"),
            ("orders.o_custkey->customer.c_custkey", orders, "o_custkey", cust, "c_custkey"),
            ("customer.c_nationkey->nation.n_nationkey", cust, "c_nationkey", nation, "n_nationkey"),
            ("supplier.s_nationkey->nation.n_nationkey", supp, "s_nationkey", nation, "n_nationkey"),
            ("orders.o_custkey->supplier.s_suppkey", orders, "o_custkey", supp, "s_suppkey"),
        ]
    )
    return out


def tokenizer_comparison_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-family bake-off over the corpus: BPE (merge table),
    WordPiece (greedy inventory) and unigram-LM (Viterbi) each
    trained in-engine and applied, reduced to one row per family —
    (tokenizer, total_words, total_pieces, fertility_micro) with
    fertility as EXACT scaled-integer division (pieces·1e6 div
    words), so the comparison is engine-portable with zero float
    discipline. The report a tokenizer-selection run actually reads.
    The DuckDB twin nests the three family twins and reduces them
    identically."""
    from pyspark.sql import DataFrame as _DF

    def summarize(name: str, df: _DF, pieces_col: str) -> _DF:
        return df.agg(
            F.sum("n_words").alias("_w"), F.sum(pieces_col).alias("_p")
        ).select(
            F.lit(name).alias("tokenizer"),
            F.col("_w").alias("total_words"),
            F.col("_p").alias("total_pieces"),
            F.expr("(_p * 1000000) div _w").alias("fertility_micro"),
        )

    return (
        summarize("bpe", bpe_doc_segment_counts(spark, sf_dir), "n_symbols")
        .unionByName(
            summarize(
                "wordpiece", wordpiece_fertility_docs(spark, sf_dir), "n_pieces"
            )
        )
        .unionByName(
            summarize(
                "unigram", unigram_fertility_docs(spark, sf_dir), "n_pieces"
            )
        )
    )


def streaming_scd2_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream==batch certified SCD2 maintenance
    (streaming/scd2.streaming_scd2_to_path): the orders observation
    log drained by a REAL availableNow foreachBatch run that
    recomputes touched keys only and splices them into the versioned
    history store; the returned frame is the stored history read
    back. The oracle is the plain batch SCD2 SQL (same as
    customer_status_scd2) — a green row proves the incremental
    maintenance computes the batch answer. Out-of-order multi-batch
    arrival is exercised in tests/test_streaming.py."""
    import os
    import tempfile

    from pyspark.sql.types import LongType

    from data_pipeline_childcare_spark.streaming.scd2 import (
        read_scd2_history,
        streaming_scd2_to_path,
    )

    obs, raw_schema = _stream_raw(spark, sf_dir, "orders")
    if isinstance(raw_schema["o_orderdate"].dataType, LongType):
        obs = obs.withColumn(
            "o_orderdate",
            F.expr(
                "timestampadd(MICROSECOND, o_orderdate div 1000,"
                " TIMESTAMP_NTZ '1970-01-01 00:00:00')"
            ),
        )
    obs = obs.select("o_custkey", "o_orderstatus", "o_orderdate", "o_orderkey")
    tmp = tempfile.mkdtemp(prefix="scd2_stream_")
    q = streaming_scd2_to_path(
        obs,
        os.path.join(tmp, "state"),
        os.path.join(tmp, "ckpt"),
        "o_custkey",
        ["o_orderstatus"],
        "o_orderdate",
        "o_orderkey",
    )
    q.awaitTermination(300)
    hist_schema = customer_status_scd2(spark, sf_dir).schema
    return read_scd2_history(spark, os.path.join(tmp, "state"), hist_schema)


def data_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dbt-test-style expectation audit (operators/expectations): six
    contract checks — key uniqueness (customer, events), FK not-null,
    two referential-integrity anti-joins (orders→customer,
    lineitem→orders), and a value-range scan — each ONE aggregate or
    one anti-join + aggregate; the audit is one row per check. The
    DuckDB twin replays each predicate as scalar subqueries."""
    from data_pipeline_childcare_spark.operators.expectations import (
        expect_in_range,
        expect_not_null,
        expect_ref_integrity,
        expect_unique,
        expectations_audit,
    )

    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    ev = _t(spark, sf_dir, "events")
    return expectations_audit(
        expect_unique(cust, "customer", "c_custkey"),
        expect_unique(ev, "events", "event_id"),
        expect_not_null(orders, "orders", "o_custkey"),
        expect_ref_integrity(orders, "orders", "o_custkey", cust, "c_custkey"),
        expect_ref_integrity(li, "lineitem", "l_orderkey", orders, "o_orderkey"),
        expect_in_range(ev, "events", "value", 0.0, 250.0),
    )


def orders_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed generation (operators/cdc.snapshot_diff): the
    'next-day' snapshot is simulated deterministically from orders —
    every 13th key deleted, every 7th surviving key's status flipped
    to 'X', every 11th key re-inserted shifted by 1e9 — then one
    full-outer key join + null-safe struct compare emits the
    delta-sized insert/update/delete feed. The DuckDB twin builds the
    identical snapshot and replays the compare."""
    from data_pipeline_childcare_spark.operators.cdc import snapshot_diff

    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    base = orders.filter(F.col("o_orderkey") % 13 != 0)
    updated = base.withColumn(
        "o_orderstatus",
        F.when(F.col("o_orderkey") % 7 == 0, F.lit("X")).otherwise(
            F.col("o_orderstatus")
        ),
    )
    inserts = orders.filter(F.col("o_orderkey") % 11 == 0).select(
        (F.col("o_orderkey") + F.lit(1_000_000_000)).alias("o_orderkey"),
        F.lit("N").alias("o_orderstatus"),
        F.col("o_totalprice"),
    )
    new = updated.unionByName(inserts)
    return snapshot_diff(
        orders, new, ["o_orderkey"], ["o_orderstatus", "o_totalprice"]
    )


def hybrid_retrieval_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid lexical+dense retrieval with RRF fusion — the standard
    RAG search stack in one plan: the fixed 10-query set (the BM25
    query family) retrieves top-10 via Okapi BM25 through the
    inverted index AND top-10 by brute cosine over the embeddings
    (query vectors = the query docs' own embeddings, self excluded),
    then per-query reciprocal-rank fusion (k=60) re-ranks the union.
    Each (query, doc) has at most TWO 1/(60+rank) contributions, so
    the fused sum is order-independent in IEEE arithmetic — no
    rounding discipline needed beyond the output round. The DuckDB
    twin nests the BM25 twin, replays the brute cosine ranking and
    the identical fusion."""
    from data_pipeline_childcare_spark.functions.text import tokenize
    from data_pipeline_childcare_spark.operators.similarity import (
        cosine_topk_bruteforce,
    )
    from data_pipeline_childcare_spark.operators.tfidf import bm25_topk

    docs = _t(spark, sf_dir, "documents")
    qsel = (F.col("doc_id") % 50 == 0) & (F.col("doc_id") < 500)
    q = docs.filter(qsel).select(
        F.col("doc_id").alias("query_id"),
        F.concat_ws(" ", F.slice(tokenize(F.col("text")), 1, 3)).alias("qtext"),
    )
    lex = bm25_topk(docs, q, k=10).select(
        "query_id", F.col("doc_id").alias("item"), "rank"
    )
    emb = _emb_double(spark, sf_dir)
    qv = emb.filter((F.col("vec_id") % 50 == 0) & (F.col("vec_id") < 500)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    sem = cosine_topk_bruteforce(emb, qv, k=10).select(
        "query_id", F.col("vec_id").alias("item"), "rank"
    )
    fused = (
        lex.unionByName(sem)
        .groupBy("query_id", "item")
        .agg(
            F.round(F.sum(1.0 / (F.lit(60) + F.col("rank"))), 6).alias("rrf_score"),
            F.count(F.lit(1)).cast("int").alias("n_lists"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("rrf_score"), F.col("item"))
    return (
        fused.withColumn("fused_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("fused_rank") <= 10)
        .select(
            "query_id",
            F.col("item").alias("doc_id"),
            "rrf_score",
            "n_lists",
            "fused_rank",
        )
    )


def hybrid_retrieval_ann_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval with the dense leg through a CERTIFIED ANN
    index instead of brute cosine (round-11 ask: compose the engine's
    ANN families into the flagship RAG plan): same BM25 leg, dense
    leg = OR-amplified multi-table LSH (8 tables × 4-bit hyperplane
    buckets, exact re-score inside candidates —
    operators/similarity.lsh_cosine_topk), RRF fusion unchanged.
    This is the 100 TB-native shape: the corpus-side bucket arrays
    are a narrow projection, candidates come from an equi-join on
    (table, bucket) — never a corpus × queries cross join — and the
    brute variant (hybrid_retrieval_docs) stays as the recall
    yardstick, quantified by hybrid_retrieval_ann_recall. The DuckDB
    twin nests the BM25 twin and replays the identical bucketed
    candidate generation + fusion."""
    from data_pipeline_childcare_spark.functions.text import tokenize
    from data_pipeline_childcare_spark.operators.similarity import lsh_cosine_topk
    from data_pipeline_childcare_spark.operators.tfidf import bm25_topk

    docs = _t(spark, sf_dir, "documents")
    qsel = (F.col("doc_id") % 50 == 0) & (F.col("doc_id") < 500)
    q = docs.filter(qsel).select(
        F.col("doc_id").alias("query_id"),
        F.concat_ws(" ", F.slice(tokenize(F.col("text")), 1, 3)).alias("qtext"),
    )
    lex = bm25_topk(docs, q, k=10).select(
        "query_id", F.col("doc_id").alias("item"), "rank"
    )
    emb = _emb_double(spark, sf_dir)
    qv = emb.filter((F.col("vec_id") % 50 == 0) & (F.col("vec_id") < 500)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    sem = lsh_cosine_topk(
        emb, qv, dim=64, k=10, n_planes=4, n_tables=8
    ).select("query_id", F.col("vec_id").alias("item"), "rank")
    fused = (
        lex.unionByName(sem)
        .groupBy("query_id", "item")
        .agg(
            F.round(F.sum(1.0 / (F.lit(60) + F.col("rank"))), 6).alias("rrf_score"),
            F.count(F.lit(1)).cast("int").alias("n_lists"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("rrf_score"), F.col("item"))
    return (
        fused.withColumn("fused_rank", F.row_number().over(w).cast("int"))
        .filter(F.col("fused_rank") <= 10)
        .select(
            "query_id",
            F.col("item").alias("doc_id"),
            "rrf_score",
            "n_lists",
            "fused_rank",
        )
    )


def hybrid_retrieval_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured recall of the ANN-composed hybrid plan against its
    brute-force twin (the ann_recall_audit pattern applied to the
    fused USER-FACING output, not just the dense leg): one row of
    exact integer evidence — |brute fused pairs|, |overlap|, and
    recall in ppm (integer div, engine-portable). The DuckDB twin
    nests BOTH hybrid oracles and replays the same semi-join +
    division, so the recall number itself is hash-certified."""
    brute = hybrid_retrieval_docs(spark, sf_dir).select("query_id", "doc_id")
    ann = hybrid_retrieval_ann_docs(spark, sf_dir).select("query_id", "doc_id")
    overlap = brute.join(ann, ["query_id", "doc_id"], "semi")
    return (
        brute.agg(F.count(F.lit(1)).alias("n_brute"))
        .crossJoin(overlap.agg(F.count(F.lit(1)).alias("n_overlap")))
        .select(
            "n_brute",
            "n_overlap",
            F.expr("(n_overlap * 1000000L) div n_brute").alias("recall_ppm"),
        )
    )


def link_graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point HITS hubs/authorities (operators/graph.hits,
    Kleinberg 1999) over the deterministic link graph — the
    directional complement to PageRank in the crawl-audit family.
    L1-normalized integer mass (scale 1e6), five iterations; the
    DuckDB twin unrolls the identical alternating updates."""
    from data_pipeline_childcare_spark.operators.graph import (
        hits,
        synthetic_link_graph,
    )

    docs = _t(spark, sf_dir, "documents")
    edges = synthetic_link_graph(docs, n_links=3)
    return hits(docs.select(F.col("doc_id").alias("id")), edges, n_iter=5).select(
        F.col("id").alias("doc_id"), "hub_scaled", "auth_scaled"
    )


def link_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts + local clustering coefficient
    (operators/graph.triangle_counts) over the deterministic link
    graph — the community-structure signal a crawl-graph audit reads
    next to PageRank. Wedge join + closing join, each triangle
    materialized once; coefficient is EXACT fixed-point
    (2·T·1e6 div d(d−1)) so the twin matches bit-for-bit."""
    from data_pipeline_childcare_spark.operators.graph import (
        synthetic_link_graph,
        triangle_counts,
    )

    docs = _t(spark, sf_dir, "documents")
    return triangle_counts(synthetic_link_graph(docs, n_links=3)).select(
        F.col("id").alias("doc_id"), "degree", "n_triangles", "clustering_micro"
    )


def k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit over quasi-identifiers (Sweeney 2002) — the
    privacy gate a release pipeline runs before publishing: group by
    the quasi-identifier tuple (nation, market segment), count each
    equivalence class, flag classes below k=5 (their rows are
    re-identifiable) and attach the sensitive-attribute distinct
    count per class (the l-diversity signal: a class where every
    member shares one account-balance bucket leaks the attribute even
    at k). ONE grouped aggregate — the audit is class-count-sized.
    The DuckDB twin replays the same grouping."""
    cust = _t(spark, sf_dir, "customer")
    k = 5
    return (
        cust.withColumn(
            "balance_bucket", F.expr("cast(floor(c_acctbal / 1000) as bigint)")
        )
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("class_size"),
            F.countDistinct("balance_bucket").alias("l_diversity"),
        )
        .withColumn("at_risk", F.col("class_size") < k)
    )


def gdpr_purge_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-be-forgotten propagation audit
    (plans/governance.purge_customers): subjects = every 97th
    customer key; erasure semi-joins follow customer → orders →
    lineitem (FK chain — line items carry no custkey) and customer →
    events. All membership tests broadcast the erasure-batch-sized
    subject/frontier sets; the audit is one row per table
    (n_purged, n_kept). The DuckDB twin replays the same chain with
    IN/NOT IN subqueries."""
    from data_pipeline_childcare_spark.plans.governance import purge_customers

    cust = _t(spark, sf_dir, "customer")
    subjects = cust.filter(F.col("c_custkey") % 97 == 0).select("c_custkey")
    out = purge_customers(
        cust,
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "events"),
        subjects,
    )
    return out["audit"]


_UG_ARGS = dict(vocab_size=48, n_rounds=2, max_piece_len=4, max_word_len=8)


def unigram_lm_vocab_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenizer training (operators/unigram_lm, Kudo 2018
    hard-EM shape): substring-count seed → integer micro-log costs →
    Viterbi re-segmentation → usage recount → prune, two rounds.
    Costs are BIGINT micro-logs so the whole DP is integer-exact; the
    DuckDB twin unrolls the identical trajectory (forward DP and
    backtrace as chained MATERIALIZED CTEs) and hash-matches the
    final inventory."""
    from data_pipeline_childcare_spark.operators.unigram_lm import learn_unigram_lm

    return learn_unigram_lm(_t(spark, sf_dir, "documents"), **_UG_ARGS)


def unigram_fertility_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained-inventory application: per-doc Viterbi piece/word/unk
    counts under the learned unigram costs (train → apply composed in
    one plan; words over the length cap count one UNK, mirroring
    training exclusion)."""
    from data_pipeline_childcare_spark.operators.unigram_lm import (
        learn_unigram_lm,
        unigram_segment_counts,
    )

    docs = _t(spark, sf_dir, "documents")
    vocab = learn_unigram_lm(docs, **_UG_ARGS)
    return unigram_segment_counts(
        docs,
        vocab,
        max_piece_len=_UG_ARGS["max_piece_len"],
        max_word_len=_UG_ARGS["max_word_len"],
    )


def crawl_frontier_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Politeness-aware crawl scheduling composed over PageRank
    (operators/graph.frontier_schedule ∘ pagerank): the frontier is
    the document set hosted on 7 synthetic hosts (doc_id % 7 — the
    same host family the URL-canonicalization query uses); priority
    is the fixed-point PageRank mass; each host emits at most 4 URLs
    per wave under the (rank DESC, doc_id) total order. All-integer
    output. The DuckDB twin nests the unrolled PageRank twin and
    replays the identical per-host window arithmetic."""
    from data_pipeline_childcare_spark.operators.graph import (
        frontier_schedule,
        pagerank,
        synthetic_link_graph,
    )

    docs = _t(spark, sf_dir, "documents")
    edges = synthetic_link_graph(docs, n_links=3)
    ranked = pagerank(docs.select(F.col("doc_id").alias("id")), edges, n_iter=5)
    frontier = ranked.withColumn(
        "host", F.concat(F.lit("site"), (F.col("id") % 7).cast("string"))
    )
    return frontier_schedule(frontier, per_host_cap=4).select(
        F.col("id").alias("doc_id"), "host", "rank_scaled", "wave", "slot"
    )


def events_zorder_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key for 2-D data skipping
    (io.zorder_value — the Delta/Iceberg OPTIMIZE ZORDER layout pass
    in vanilla Spark, see io.write_zordered): user_id and
    day-of-epoch are min-max bucketed with EXACT integer arithmetic
    (one-row broadcast bounds, integer div — no float scaling) and
    bit-interleaved; cells = z div 64 summarize the locality the
    layout buys. The DuckDB twin replays the identical shifts, masks
    and integer divisions. File-level pruning effectiveness is
    measured in tests/test_zorder.py with real parquet zone maps."""
    from data_pipeline_childcare_spark.io import zorder_value

    ev = _t(spark, sf_dir, "events")
    day = F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date")).cast("bigint")
    stats = ev.select(
        F.col("user_id"), day.alias("_day")
    ).agg(
        F.min("user_id").alias("_mn_x"),
        F.max("user_id").alias("_mx_x"),
        F.min("_day").alias("_mn_y"),
        F.max("_day").alias("_mx_y"),
    )
    z = zorder_value(F.col("_bx"), F.col("_by"), bits=8)
    return (
        ev.select(F.col("event_id"), F.col("user_id"), day.alias("_day"))
        .join(F.broadcast(stats))
        .withColumn("_bx", F.expr("((user_id - _mn_x) * 256) div (_mx_x - _mn_x + 1)"))
        .withColumn("_by", F.expr("((_day - _mn_y) * 256) div (_mx_y - _mn_y + 1)"))
        .withColumn("_z", z)
        .groupBy(F.expr("_z div 64").alias("z_cell"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("user_id").alias("min_user"),
            F.max("user_id").alias("max_user"),
            F.min("_day").alias("min_day"),
            F.max("_day").alias("max_day"),
        )
    )


def pq_adc_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-k (Jégou et al. 2011;
    operators/similarity.pq_adc_topk) — the third ANN scale path next
    to LSH and IVF: 4 sub-blocks × 8 L2 codebook centroids trained
    with canonical k-means (shared md5 seed rows, pre-rounded means),
    corpus encoded to (block, code), queries score via a broadcast
    LUT of partial dot products, then the IVFADC-style exact re-rank
    over the ADC top-100 shortlist (the cheap pass touches 8-byte
    codes; full vectors are read for |Q|·100 rows only). FULLY
    oracled: the DuckDB twin unrolls all four per-block Lloyd chains,
    the final assignment, the LUT-sum shortlist and the exact-cosine
    re-rank, hash-exact."""
    from data_pipeline_childcare_spark.operators.similarity import pq_adc_topk

    emb = _emb_double(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return pq_adc_topk(
        emb, q, k=5, dim=64, n_sub=4, n_codes=8, iterations=2, rerank_shortlist=100
    ).select(
        "query_id",
        "vec_id",
        "adc_score",
        "cosine_sim",
        F.col("rank").cast("int").alias("rank"),
    )


def doc_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet head/middle/tail perplexity bucketing
    (operators/tfidf.perplexity_buckets over bigram_logprob_scores,
    Wenzek et al. 2020): per source domain, rank docs by interpolated
    bigram avg log-prob and ntile(3) them — head = cleanest third.
    Docs with fewer than two tokens have no LM score and emit no row
    (mirroring the scorer). The DuckDB twin nests the bigram-LM twin
    and replays the identical (score DESC, doc_id) ntile window."""
    from data_pipeline_childcare_spark.operators.tfidf import (
        bigram_logprob_scores,
        perplexity_buckets,
    )

    docs = _t(spark, sf_dir, "documents")
    scored = bigram_logprob_scores(docs).join(
        docs.select("doc_id", "source"), "doc_id"
    )
    return perplexity_buckets(scored)


def customer_status_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kimball SCD Type-2 dimension build (operators/scd.scd2_history):
    each order is an observation of its customer's then-current
    status; consecutive runs of equal status compress to validity
    intervals (valid_from, valid_to, version, is_current) under the
    total (o_orderdate, o_orderkey) in-key order. One hash exchange on
    o_custkey serves all three window passes. The DuckDB twin is the
    same lag-filter-lead-row_number chain with IS DISTINCT FROM run
    compression."""
    from data_pipeline_childcare_spark.operators.scd import scd2_history

    orders = _t(spark, sf_dir, "orders")
    return scd2_history(
        orders.select("o_custkey", "o_orderstatus", "o_orderdate", "o_orderkey"),
        key_col="o_custkey",
        attr_cols=["o_orderstatus"],
        ts_col="o_orderdate",
        tiebreak_col="o_orderkey",
    )


def nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q8 shape — market share: of all ECONOMY-type part revenue
    sold to ASIA customers, the fraction supplied by NATION_1, per
    ship year. Conditional-sum ratio over a 5-way join; every dim side
    broadcasts, lineitem shuffles once (to orders). Sums are
    pre-rounded so the share quotient is canonical."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    part = _t(spark, sf_dir, "part")
    asia_nations = (
        nation.join(
            region,
            (nation["n_regionkey"] == region["r_regionkey"])
            & (region["r_name"] == "ASIA"),
        )
        .select(F.col("n_nationkey").alias("c_nk"))
    )
    supp_nation = nation.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = (
        li.join(
            F.broadcast(part.filter(F.col("p_type") == "ECONOMY")),
            li["l_partkey"] == part["p_partkey"],
        )
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), F.col("o_custkey") == cust["c_custkey"])
        .join(F.broadcast(asia_nations), F.col("c_nationkey") == F.col("c_nk"))
        .join(F.broadcast(supp), li["l_suppkey"] == supp["s_suppkey"])
        .join(F.broadcast(supp_nation), F.col("s_nationkey") == F.col("s_nk"))
    )
    return (
        joined.groupBy(F.year("l_shipdate").cast("long").alias("ship_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_1", rev).otherwise(0.0)),
                2,
            ).alias("nation_revenue"),
            F.round(F.sum(rev), 2).alias("total_revenue"),
        )
        .select(
            "ship_year",
            "nation_revenue",
            "total_revenue",
            F.round(F.col("nation_revenue") / F.col("total_revenue"), 6).alias(
                "mkt_share"
            ),
        )
        .orderBy("ship_year")
    )


def nation_profit_by_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q9 shape — profit per supplier nation per year, for parts
    whose name mentions a color (adapted: cost = p_retailprice ·
    quantity, testdata has no partsupp.ps_supplycost; year from
    l_shipdate, avoiding a second orders join). Dims broadcast; the
    only shuffle is the final group-by."""
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    part = _t(spark, sf_dir, "part")
    # exact integer ten-thousandths: per-row profit has ≤4 decimal
    # places (price·(1−discount) and price·int-quantity), so scaling
    # by 1e4 and rounding gives an exact BIGINT whose sum is
    # order-independent — no float-summation boundary flakes at all
    profit_c = F.round(
        (
            F.col("l_extendedprice") * (1 - F.col("l_discount"))
            - F.col("p_retailprice") * F.col("l_quantity")
        )
        * 10000
    ).cast("long")
    return (
        li.join(
            F.broadcast(part.filter(F.col("p_name").contains("red"))),
            li["l_partkey"] == part["p_partkey"],
        )
        .join(F.broadcast(supp), li["l_suppkey"] == supp["s_suppkey"])
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("l_shipdate").cast("long").alias("ship_year"),
        )
        .agg(
            (F.sum(profit_c).cast("double") / 10000.0).alias("profit"),
            F.count("*").alias("n_lines"),
        )
        .orderBy("nation", F.desc("ship_year"))
    )


def events_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOCF time-weighted average of events.value per (event_type,
    day) — the hyperfunction plain avg() gets wrong on irregular
    sampling (operators/timeseries.py). One window pass + one keyed
    agg, all in codegen."""
    from data_pipeline_childcare_spark.operators.timeseries import time_weighted_avg

    ev = _t(spark, sf_dir, "events")
    return time_weighted_avg(
        ev, "ts", "value", ("event_type",), "1 day", "event_id"
    )


def events_counter_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reset-aware counter rollup (Prometheus increase semantics) of
    events.value per (event_type, day): drops mean counter restarts
    and contribute the post-reset value (operators/timeseries.py)."""
    from data_pipeline_childcare_spark.operators.timeseries import counter_agg

    ev = _t(spark, sf_dir, "events")
    return counter_agg(ev, "ts", "value", ("event_type",), "1 day", "event_id")


def cms_heavy_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch heavy hitters over events.user_id — the
    fixed-size mergeable-counter pattern for frequency on keys too
    wide to groupBy exactly at 100 TB (operators/sketches.py). The
    portable hash family makes the approximate estimate EXACTLY
    checkable by the DuckDB oracle."""
    from data_pipeline_childcare_spark.operators.sketches import cms_heavy_hitters

    ev = _t(spark, sf_dir, "events")
    return cms_heavy_hitters(ev, "user_id", depth=4, width=256, k=20)


def minhash_portable_pairs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL-oracle MinHash: the banded-LSH pipeline with an md5-derived
    hash family both engines compute bit-identically — signatures,
    band buckets, candidate pairs and the k/64 Jaccard estimate are
    all hash-exact against the DuckDB oracle. Engages cap_per_id=20
    (strongest-est_jaccard top-20-per-side windows, oracle-mirrored)
    — the duplicate-saturation guard bounding downstream pair volume
    to linear on verbatim-copy-cluster corpora."""
    from data_pipeline_childcare_spark.operators.dedup import minhash_est_pairs_portable

    docs = _t(spark, sf_dir, "documents")
    return minhash_est_pairs_portable(docs, threshold=0.5, cap_per_id=20)


def minhash_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERS, fully oracled end-to-end: portable-minhash
    candidate pairs feed iterative min-label connected components
    (operators/components.py), so chains merge transitively — A~B~C
    lands in ONE cluster even when A!~C, the semantics pair-dropping
    dedup under-merges. One row per doc: cluster id (= min doc_id in
    its component), cluster size, and whether this doc is the
    canonical keeper. The DuckDB oracle reuses the same pairs CTE
    plus a recursive min-label-reachability CTE — a full SQL oracle
    for a graph algorithm.

    Scale: pairs volume is LSH-banded (never all-pairs); each CC
    iteration is two keyed shuffles over the (tiny relative to corpus)
    edge set; the final join back to docs broadcasts the label frame
    when small. Reference parity: dedup-by-content family
    (生成行业调研报告.py writes merged unique records; SURVEY §2.7).
    """
    from data_pipeline_childcare_spark.operators.components import connected_components
    from data_pipeline_childcare_spark.operators.dedup import minhash_est_pairs_portable

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_est_pairs_portable(docs, threshold=0.5)
    comp = connected_components(pairs)
    labeled = (
        docs.select("doc_id")
        .join(comp, docs["doc_id"] == comp["id"], "left")
        .select(
            docs["doc_id"],
            F.coalesce(comp["component"], docs["doc_id"]).alias("cluster_id"),
        )
    )
    w = Window.partitionBy("cluster_id")
    return labeled.select(
        "doc_id",
        "cluster_id",
        F.count("*").over(w).alias("cluster_size"),
        (F.col("doc_id") == F.col("cluster_id")).alias("is_canonical"),
    )


def simhash_portable_pairs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL-oracle SimHash: bit votes from md5-derived hashes, 16-bit
    pigeonhole bands, hamming filter — every stage bit-exact against
    the DuckDB oracle. Engages cap_per_id=20 (nearest-hamming top-20-per-side windows,
    oracle-mirrored) — the duplicate-saturation guard."""
    from data_pipeline_childcare_spark.operators.dedup import simhash_pairs_portable

    docs = _t(spark, sf_dir, "documents")
    return simhash_pairs_portable(docs, max_hamming=3, cap_per_id=20)


def simhash_pairs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup candidate pairs on the portable hash family,
    FULLY oracled at the blocked-candidate semantics (4×16-bit
    pigeonhole bands, hamming ≤ 8). Engages cap_per_id=20 (nearest-hamming top-20-per-side windows,
    oracle-mirrored) — the duplicate-saturation guard."""
    from data_pipeline_childcare_spark.operators.dedup import simhash_pairs_portable

    # spread=False: simhash spreads internally (see minhash_dedup_docs)
    docs = _t(spark, sf_dir, "documents", spread=False)
    return simhash_pairs_portable(docs, max_hamming=8, cap_per_id=20).select(
        "id_a", "id_b", "hamming"
    )


def ngram_jaccard_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word-3-gram Jaccard pairs ≥ 0.2 via inverted shingle index,
    with BOTH duplicate-saturation guards threaded and
    oracle-mirrored (the ngram_containment_docs remediation lineage):
    the max_df=64 hot-shingle df-cap (boilerplate trigrams leave the
    index before the self-join; jaccard becomes the safe lower
    bound) and cap_pairs_per_doc top-20-per-side (strongest-neighbor
    windows — uncapped, the 10× near-dup-cluster corpus measured the
    containment twin of this shape at 18.7×)."""
    from data_pipeline_childcare_spark.operators.dedup import cap_pairs_per_doc

    # spread=False: the inverted-index builder spreads internally
    docs = _t(spark, sf_dir, "documents", spread=False)
    pairs = ngram_jaccard_pairs(docs, n=3, threshold=0.2, max_df=64)
    return cap_pairs_per_doc(pairs, cap=20, order_by=[F.desc("jaccard")])


def ivfpq_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ (FAISS IVFADC, operators/similarity.ivfpq_topk): coarse
    canonical k-means cells + PQ codes of the RESIDUALS, queries
    probe 4/8 cells and score dot(q, c_cell) + Σ LUT[block, code],
    then the standard exact re-rank over the ADC top-100 shortlist.
    FULLY oracled: the twin nests the canonical coarse chain, the
    element-exact residual subtraction, four per-block residual
    Lloyd chains, the LUT-sum scoring and the re-rank — hash-exact."""
    from data_pipeline_childcare_spark.operators.similarity import ivfpq_topk

    emb = _emb_double(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return ivfpq_topk(emb, q, k=5, rerank_shortlist=100).select(
        "query_id",
        "vec_id",
        "adc_score",
        "cosine_sim",
        F.col("rank").cast("int").alias("rank"),
    )


def sq8_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQ8 scalar-quantized top-k (operators/similarity.sq8_topk),
    completing the LSH / IVF / PQ / SQ quantization quartet: both
    sides bucket through the corpus-trained per-dimension affine map
    onto 0..255, the approximate pass scores INTEGER code dot
    products (exact BIGINT — the fixed-point discipline, bit-exact
    across engines), then the standard exact cosine re-rank over the
    SQ top-50 shortlist. Reference parity: the reference's dense
    retrieval (retrieve.py) ships raw vectors; SQ8 is the 4-8×
    cheaper index a 100 TB corpus needs."""
    from data_pipeline_childcare_spark.operators.similarity import sq8_topk

    emb = _emb_double(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return sq8_topk(emb, q, k=5, rerank_shortlist=50).select(
        "query_id",
        "vec_id",
        "sq_score",
        "cosine_sim",
        F.col("rank").cast("int").alias("rank"),
    )


def gopher_repetition_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The n-gram half of the Gopher repetition filter
    (operators/cleaning.gopher_repetition_signals, Rae et al. 2021
    Table A1): per-doc top-{2,3,4}-gram char fractions and
    duplicated-{5,10}-gram char fractions as integer micros, plus
    the OR'd threshold flag. Completes the repetition suite next to
    doc_repetition_stats' line metrics."""
    from data_pipeline_childcare_spark.operators.cleaning import (
        gopher_repetition_signals,
    )

    docs = _t(spark, sf_dir, "documents")
    return gopher_repetition_signals(docs, flag_min_tokens=15)


def join_cardinality_orders_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality pre-flight certified against the real join
    (operators/skew.join_cardinality_estimate): the histogram product
    sum c_A(k)*c_B(k) over matching keys, computed on distinct-key
    count frames, must equal the actual orders x lineitem inner-join
    row count — the certified version of what a cost-based optimizer
    estimates. Complements join_advisor_orders_lineitem."""
    from data_pipeline_childcare_spark.operators.skew import (
        join_cardinality_estimate,
    )

    orders = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("k"), "o_custkey"
    )
    lineitem = _t(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("k"), "l_quantity"
    )
    return join_cardinality_estimate(orders, lineitem, ["k"])


def funnel_signup_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (operators/funnel.funnel, Mixpanel semantics):
    a user converts to step k at the first step-k event STRICTLY
    AFTER their step-(k-1) conversion time. One user-keyed shuffle +
    co-partitioned joins; conversions are integer-micro floor
    divisions on the |steps|-row result frame."""
    from data_pipeline_childcare_spark.operators.funnel import funnel

    ev = _t(spark, sf_dir, "events")
    return funnel(ev, ["signup", "click", "purchase"])


def cohort_retention_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention (operators/funnel.cohort_retention):
    cohort = epoch-week of the user's first event; cells count users
    active week_offset weeks later; offset-0 rows pin the cohort
    sizes. Epoch-week integer math — timezone-free, engine-portable."""
    from data_pipeline_childcare_spark.operators.funnel import cohort_retention

    ev = _t(spark, sf_dir, "events")
    return cohort_retention(ev)


def ks_click_vs_purchase_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov test between click and purchase
    event-value distributions (operators/drift.ks_statistic): the
    max EDF gap as |cumA*nB - cumB*nA| in pure integers over the
    milli-quantized distinct-value frame. Nonparametric drift
    detection without binning choices — complements the PSI-style
    profile drift in snapshot_drift_report."""
    from data_pipeline_childcare_spark.operators.drift import ks_statistic

    ev = _t(spark, sf_dir, "events")
    return ks_statistic(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "purchase"),
        "value",
    )


def phrase_search_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional-index phrase search (operators/tfidf.phrase_search,
    IIR §2.4): exact consecutive-token match of "table scan" via one
    postings pass + per-term-filtered equi-joins on (doc, adjusted
    position). The lexical-exact complement to the BM25/hybrid
    retrieval family."""
    from data_pipeline_childcare_spark.operators.tfidf import phrase_search

    docs = _t(spark, sf_dir, "documents")
    return phrase_search(docs, "table scan")


def kcenter_coreset_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset (operators/similarity.kcenter_select,
    Gonzalez farthest-point 2-approximation): md5-canonical seed,
    then 5 farthest-point picks with a running min-distance fold —
    the diverse-subset selector a curation pipeline uses for
    annotation budgets. k corpus passes, only 1-row pick frames
    checkpoint. The twin unrolls the greedy as materialized CTE
    steps over the SAME l2 decomposition — hash-exact."""
    from data_pipeline_childcare_spark.operators.similarity import kcenter_select

    emb = _t(spark, sf_dir, "embeddings")
    return kcenter_select(emb, k=6)


def dp_event_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ε-DP histogram release (operators/dp.dp_noisy_counts,
    Ghosh-Roughgarden-Sundararajan two-sided geometric): exact keyed
    counts + seeded inverse-CDF noise baked into the plan as a CASE
    chain over the portable md5 draw, then the suppression
    threshold. Seeded release = reproducible and twin-checkable; a
    production run swaps the salt per release epoch."""
    from data_pipeline_childcare_spark.operators.dp import dp_noisy_counts

    ev = _t(spark, sf_dir, "events")
    return dp_noisy_counts(
        ev, ["event_type"], epsilon=1.0, suppress_below=10
    )


def dp_event_value_sums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ε-DP clipped-sum release (operators/dp.dp_noisy_sum):
    per-row values round-and-clip to [0, 10] (contribution bounding
    — the sum's sensitivity is the clip bound), the keyed sums take
    two-sided-geometric noise at parameter ε/clip. High-budget demo
    parameters keep the baked CASE chain short; the operator takes
    any (ε, clip)."""
    from data_pipeline_childcare_spark.operators.dp import dp_noisy_sum

    ev = _t(spark, sf_dir, "events")
    return dp_noisy_sum(ev, ["event_type"], "value", clip=10, epsilon=10.0)


def events_acf_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample autocorrelation of the hourly event-value series at
    lags 1..12 (operators/timeseries.acf) — the seasonality
    diagnostic a monitoring pipeline runs before picking a forecast
    window. Per-bucket milli averages aggregate map-side over any
    corpus size; the lag join runs on the calendar-bounded series
    frame; all ratios are DECIMAL(38,0)/HUGEINT fixed-point, so the
    twin hash-matches bit-exactly."""
    from data_pipeline_childcare_spark.operators.timeseries import acf

    ev = _t(spark, sf_dir, "events")
    return acf(ev, "ts", "value", "1 hour", max_lag=12)


def events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline CUSUM change-point scan over the hourly event-value
    series (operators/timeseries.cusum_changepoint, Page 1954):
    cumulative deviations from the series mean peak where the level
    shifts; one row out with the argmax bucket, peak magnitude and
    the milli means either side. Integer milli / DECIMAL(38,0)
    throughout — bit-exact across engines."""
    from data_pipeline_childcare_spark.operators.timeseries import (
        cusum_changepoint,
    )

    ev = _t(spark, sf_dir, "events")
    return cusum_changepoint(ev, "ts", "value", "1 hour")


def ngram_jaccard_prefix_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtered exact Jaccard
    (operators/dedup.ngram_jaccard_pairs_prefix, the PPJoin candidate
    principle): indexes only each set's rarest
    |s|−⌈t·|s|⌉+1 shingles, then verifies candidates exactly from the
    full shingle arrays. The oracle is the SAME SQL as the exhaustive
    inverted-index query — a green row proves the prefix filter is
    lossless at this threshold, on top of the analytic completeness
    argument in the docstring. Runs with the SAME two
    duplicate-saturation guards as ngram_jaccard_docs (max_df=64
    hot-shingle cap — prefixes built from the capped sets, lossless
    per the operator docstring — and top-20-per-side
    cap_pairs_per_doc), so the shared twin stays hash-exact."""
    from data_pipeline_childcare_spark.operators.dedup import (
        cap_pairs_per_doc,
        ngram_jaccard_pairs_prefix,
    )

    docs = _t(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs_prefix(docs, n=3, threshold=0.2, max_df=64)
    return cap_pairs_per_doc(pairs, cap=20, order_by=[F.desc("jaccard")])


def cosine_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for query vectors vec_id < 3."""
    emb = _emb_double(spark, sf_dir)
    # the query side collapses into a BroadcastExchange (3 rows) — the
    # keyed spread under it was a wasted full exchange (r13 plan diff)
    q = (
        _t(spark, sf_dir, "embeddings", spread=False)
        .filter(F.col("vec_id") < 3)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").cast("array<double>").alias("query_vec"),
        )
    )
    return cosine_topk_bruteforce(emb, q, k=5).select(
        "query_id", "vec_id", "cosine_sim", F.col("rank").cast("int").alias("rank")
    )


def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + length stats — the text-analysis fast path."""
    docs = _t(spark, sf_dir, "documents")
    toks = tokenize(F.col("text"))
    n_tok = F.size(toks).cast("long")
    return docs.select(
        "doc_id",
        n_tok.alias("n_tokens"),
        F.length("text").cast("long").alias("len_chars"),
        F.round(
            F.when(n_tok > 0, F.length(F.concat_ws("", toks)) / n_tok).otherwise(F.lit(0.0)), 6
        ).alias("avg_token_len"),
    )


def clean_documents_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Noise-line cleaning pipeline (P10-P12) over the documents table."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return clean_documents(docs, id_col="doc_id", text_col="text")


def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parent-child chunking (A7): parent 1024 / child 512."""
    docs = _t(spark, sf_dir, "documents")
    ch = parent_child_chunk(docs, parent_max=1024, child_max=512)
    return ch.select(
        "doc_id",
        F.col("parent_id").cast("long").alias("parent_id"),
        F.col("child_id").cast("long").alias("child_id"),
        "child_text",
    )


# ---------------------------------------------------------------------------
# Set ops / joins beyond equi (SURVEY.md §2.3 "ship them anyway")
# ---------------------------------------------------------------------------


def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join: customers that never placed an order."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


def custkeys_open_and_finished(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intersect: customers with both an open ('O') and finished ('F')
    order."""
    o = _t(spark, sf_dir, "orders")
    open_keys = o.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    fin_keys = o.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    return open_keys.intersect(fin_keys)


def range_join_click_to_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: purchases within 1 h after each click, same user."""
    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("click_ts"), F.col("event_id").alias("click_id")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"), F.col("value").alias("p_value")
    )
    joined = clicks.join(
        purchases,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") > F.col("click_ts"))
        & (F.col("p_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
    )
    return joined.groupBy("user_id", "click_id").agg(
        F.count("*").alias("n_purchases"),
        F.round(F.sum("p_value"), 4).alias("purchase_total"),
    )


# ---------------------------------------------------------------------------
# Aggregation breadth: pivot / rollup / percentiles
# ---------------------------------------------------------------------------

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def events_pivot_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-type counts (A4's group-and-pivot shape)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .pivot("event_type", EVENT_TYPES)
        .agg(F.count(F.lit(1)))
        .na.fill(0, EVENT_TYPES)
    )


def rollup_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (returnflag, linestatus) — subtotal + grand total."""
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.count("*").alias("n_rows"),
    )


def percentiles_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles of extended price per returnflag."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_extendedprice", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("l_extendedprice", F.lit(0.9)), 4).alias("p90"),
        F.round(F.percentile("l_extendedprice", F.lit(0.99)), 4).alias("p99"),
    )


def small_quantity_part_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q17 shape — correlated scalar subquery: revenue from
    lineitems whose quantity is below 20% of the per-part average.
    Spark plan: the correlation decorrelates to a per-part aggregate
    joined back on partkey — one map-side-combinable agg + one
    equi-join on the same key (AQE broadcasts the agg side when it is
    small). l_quantity is integer-valued, so the avg is an exact
    sum/count in both engines and the 0.2·avg comparison cannot flake
    on summation order."""
    li = _t(spark, sf_dir, "lineitem")
    per_part = li.groupBy(F.col("l_partkey").alias("ap_partkey")).agg(
        F.avg("l_quantity").alias("avg_qty")
    )
    return (
        li.join(per_part, li["l_partkey"] == per_part["ap_partkey"])
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


def customer_order_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q13 shape — distribution histogram: orders per customer
    (left join keeps zero-order customers), then customers per order
    count. Two keyed shuffles; the second input is |customers| rows,
    already tiny relative to the join."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    counts = (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"], "left")
        .groupBy(cust["c_custkey"])
        .agg(F.count(orders["o_orderkey"]).alias("c_count"))
    )
    return counts.groupBy("c_count").agg(F.count("*").alias("custdist"))


def events_cube_by_type_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (event_type, ISO weekday): all four grouping
    combinations in one pass, disambiguated by grouping flags (the
    multi-dimensional twin of ``rollup_pricing``). weekday()+1 in
    Spark == isodow() in DuckDB (Mon=1..Sun=7)."""
    ev = _t(spark, sf_dir, "events")
    with_dow = ev.withColumn("dow", (F.weekday("ts") + 1).cast("long"))
    return with_dow.cube("event_type", "dow").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
        F.grouping("event_type").cast("long").alias("g_type"),
        F.grouping("dow").cast("long").alias("g_dow"),
    )


def promo_revenue_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q14 shape — conditional-aggregate ratio: the share of 1997
    revenue coming from PROMO parts. One broadcast join (part is the
    small dim), one global agg with a CASE inside the sum; the date
    filter reaches the lineitem scan."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type").startswith("PROMO"), rev).otherwise(F.lit(0.0))
    return (
        li.filter(
            (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1998-01-01")
        )
        .join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .agg(
            # pre-round both sums: rounding to 2 canonicalizes the
            # partition-order-dependent low bits, so the quotient below
            # is the same double in any engine
            F.round(F.sum(promo), 2).alias("promo_revenue"),
            F.round(F.sum(rev), 2).alias("total_revenue"),
        )
        .select(
            "promo_revenue",
            "total_revenue",
            F.round(
                100.0 * F.col("promo_revenue") / F.col("total_revenue"), 4
            ).alias("promo_revenue_pct"),
        )
    )


def top_return_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q10 shape — revenue lost to returns per customer: filter
    returned lines, join orders (shuffle on orderkey), roll up to
    customer, decorate with the broadcast nation dim, top 20."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    per_cust = (
        li.filter(F.col("l_returnflag") == "R")
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy("o_custkey")
        .agg(F.round(F.sum(rev), 2).alias("revenue"))
    )
    return (
        per_cust.join(cust, per_cust["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .select("c_custkey", "c_name", "n_name", "c_acctbal", "revenue")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


def disjunctive_part_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q19 shape — OR-of-ANDs join predicate: three disjoint
    (brand, size-range, quantity-range) arms. The equi-join key
    (partkey) is still extracted, so this plans as a hash join with a
    residual disjunctive filter — NOT a cartesian; the arms prune at
    the part scan via the OR-ed brand/size predicate."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    joined = li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
    arm1 = (
        (F.col("p_brand") == "Brand#1")
        & (F.col("p_size").between(1, 10))
        & (F.col("l_quantity").between(1, 11))
    )
    arm2 = (
        (F.col("p_brand") == "Brand#2")
        & (F.col("p_size").between(1, 20))
        & (F.col("l_quantity").between(10, 20))
    )
    arm3 = (
        (F.col("p_brand") == "Brand#3")
        & (F.col("p_size").between(1, 30))
        & (F.col("l_quantity").between(20, 30))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return joined.filter(arm1 | arm2 | arm3).agg(
        F.round(F.sum(rev), 2).alias("revenue"),
        F.count("*").alias("n_lines"),
    )


def nation_pair_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q7 shape — shipping volume between a nation pair, both
    directions, by ship year. supplier/customer/nation are broadcast
    dims; the only shuffles are lineitem→orders on orderkey and the
    final tiny group-by. The pair filter is applied to the two
    broadcast nation copies, so the big-side scan is never widened."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    n1 = F.broadcast(
        nation.select(
            F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
        ).filter(F.col("supp_nation").isin("NATION_1", "NATION_2"))
    )
    n2 = F.broadcast(
        nation.select(
            F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
        ).filter(F.col("cust_nation").isin("NATION_1", "NATION_2"))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(supp), li["l_suppkey"] == supp["s_suppkey"])
        .join(n1, F.col("s_nationkey") == F.col("s_nk"))
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), F.col("o_custkey") == cust["c_custkey"])
        .join(n2, F.col("c_nationkey") == F.col("c_nk"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            # long, not int: DuckDB year() is BIGINT and the driver's
            # value hash sees dtype drift
            F.year("l_shipdate").cast("long").alias("ship_year"),
        )
        .agg(
            F.round(F.sum(rev), 2).alias("volume"),
            F.count("*").alias("n_lines"),
        )
        .orderBy("supp_nation", "cust_nation", "ship_year")
    )


def important_part_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q11 shape (adapted: lineitem is the part-supplier
    relation — testdata has no partsupp): parts whose total line value
    exceeds 0.1% of ALL line value. The global total is a scalar
    aggregate broadcast into the HAVING filter; both sides compare
    pre-rounded (canonical) doubles so the threshold cannot flake on
    summation order."""
    li = _t(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    per_part = li.groupBy("l_partkey").agg(F.round(F.sum(rev), 2).alias("part_value"))
    total = li.agg(F.round(F.sum(rev), 2).alias("total_value"))
    return (
        per_part.join(F.broadcast(total))
        .filter(F.col("part_value") > 0.0008 * F.col("total_value"))
        .select("l_partkey", "part_value")
        .orderBy(F.desc("part_value"), "l_partkey")
    )


def top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q15 shape — supplier(s) achieving the maximum quarterly
    revenue: per-supplier agg, scalar max broadcast back as a filter
    (the classic "create view revenue0" decorrelation). Revenue is
    rounded before the max/equality so both sides are canonical."""
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    rev = (
        li.filter(
            (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1997-04-01")
        )
        .groupBy("l_suppkey")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("total_revenue"))
    )
    mx = rev.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        rev.join(F.broadcast(mx), F.col("total_revenue") == F.col("max_revenue"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


def large_quantity_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q18 shape — orders whose total quantity exceeds 250:
    HAVING on a keyed agg, then the qualifying keys (a tiny set)
    broadcast-semi-join back to orders + customer for decoration.
    l_quantity is integer-valued so the threshold is exact."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .filter(F.col("total_qty") > 250)
    )
    return (
        orders.join(F.broadcast(big), orders["o_orderkey"] == big["l_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            "o_orderdate",
            F.round("o_totalprice", 2).alias("totalprice"),
            "total_qty",
        )
        .orderBy(F.desc("total_qty"), "o_orderkey")
    )


def suppliers_kept_waiting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q21 shape (adapted: late = shipped > 90 days after order
    date — testdata has no receipt/commit dates): suppliers who were
    the SOLE late supplier on a multi-supplier order. The reference
    formulation is EXISTS + NOT-EXISTS self-joins; the scalable Spark
    plan is a TWO-LEVEL aggregate: (order, supplier) pairs first —
    dedup happens map-side, and no multi-count_distinct Expand ever
    triples the lineitem rows — then per-order counts over the tiny
    pair relation. Two keyed shuffles instead of three lineitem
    self-joins or a 3× Expand."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    supp = _t(spark, sf_dir, "supplier")
    joined = li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
    late = F.col("l_shipdate") > F.timestamp_add(
        "DAY", F.lit(90), F.col("o_orderdate")
    )
    per_pair = joined.groupBy("l_orderkey", "l_suppkey").agg(
        F.max(late.cast("int")).alias("_late")
    )
    per_order = per_pair.groupBy("l_orderkey").agg(
        F.count("*").alias("n_supp"),
        F.sum("_late").alias("n_late_supp"),
        F.max(F.when(F.col("_late") == 1, F.col("l_suppkey"))).alias("late_supp"),
    )
    sole_late = per_order.filter(
        (F.col("n_supp") > 1) & (F.col("n_late_supp") == 1)
    )
    return (
        sole_late.groupBy("late_supp")
        .agg(F.count("*").alias("numwait"))
        .join(F.broadcast(supp), F.col("late_supp") == F.col("s_suppkey"))
        .select("s_name", F.col("late_supp").alias("s_suppkey"), "numwait")
        .orderBy(F.desc("numwait"), "s_suppkey")
        .limit(25)
    )


def idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q22 shape (adapted: grouped by nation — testdata has no
    phone column): customers with above-average positive balance and
    no orders SINCE 2000 (every sf0.01 customer has some order, so the
    classic no-orders-ever predicate is vacuous), rolled up per
    nation. The average is computed in exact integer cents and the
    threshold comparison cross-multiplies (cents·n > total_cents), so
    it is bit-deterministic in any engine and immune to float
    summation order. The anti-join's date filter is pushed to the
    orders scan before the shuffle."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    nation = _t(spark, sf_dir, "nation")
    cents = F.round(F.col("c_acctbal") * 100).cast("long")
    pos = cust.filter(F.col("c_acctbal") > 0.0).select(
        "c_custkey", "c_nationkey", "c_acctbal", cents.alias("cents")
    )
    thr = pos.agg(
        F.sum("cents").alias("total_cents"), F.count("*").alias("n_pos")
    )
    rich = pos.join(F.broadcast(thr)).filter(
        F.col("cents") * F.col("n_pos") > F.col("total_cents")
    )
    recent = orders.filter(F.col("o_orderdate") >= "2000-01-01")
    idle = rich.join(
        recent, rich["c_custkey"] == recent["o_custkey"], "left_anti"
    )
    return (
        idle.join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_custs"),
            F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
        )
        .orderBy("n_name")
    )


def min_cost_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q2 shape (adapted: lineitem is the part-supplier
    relation — unit cost = sum(extendedprice)/sum(quantity) per
    (part, supplier)): for each mid-size part, the EUROPE supplier(s)
    offering the minimum unit cost. The reference formulation is a
    correlated MIN subquery; the Spark plan decorrelates it into a
    window MIN over the part key — one shuffle on l_partkey instead
    of a re-scan per part. Part and supplier filters are broadcast
    into the lineitem scan so non-qualifying lines never reach the
    aggregate; unit cost is rounded to 4 places before the equality
    so the min-match is engine-stable."""
    li = _t(spark, sf_dir, "lineitem")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    part = _t(spark, sf_dir, "part")
    eu = (
        supp.join(
            F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
        )
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name") == "EUROPE")
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    mid = part.filter(F.col("p_size").between(10, 20)).select(
        "p_partkey", "p_name"
    )
    per_ps = (
        li.join(F.broadcast(mid), li["l_partkey"] == mid["p_partkey"])
        .join(F.broadcast(eu), li["l_suppkey"] == eu["s_suppkey"])
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.round(F.sum("l_extendedprice") / F.sum("l_quantity"), 4).alias(
                "unit_cost"
            )
        )
    )
    w = Window.partitionBy("l_partkey")
    best = per_ps.withColumn("min_cost", F.min("unit_cost").over(w)).filter(
        F.col("unit_cost") == F.col("min_cost")
    )
    return (
        best.join(F.broadcast(eu), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(mid), F.col("l_partkey") == F.col("p_partkey"))
        .select(
            F.round("s_acctbal", 2).alias("s_acctbal"),
            "s_name",
            "n_name",
            "p_partkey",
            "p_name",
            "unit_cost",
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
    )


def order_priority_late_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q4 shape (adapted: late = shipped more than 30 days
    after the order date — testdata has no commit/receipt dates):
    per-priority count of Q1-1997 orders with at least one late line.
    The EXISTS subquery is a LEFT SEMI join whose equi-key is the
    order key and whose extra predicate compares columns from both
    sides; the quarter filter is pushed to the orders scan before the
    shuffle, so only one quarter of orders ever shuffles."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    quarter = orders.filter(
        (F.col("o_orderdate") >= "1997-01-01")
        & (F.col("o_orderdate") < "1997-04-01")
    )
    late_exists = quarter.join(
        li,
        (quarter["o_orderkey"] == li["l_orderkey"])
        & (
            li["l_shipdate"]
            > F.timestamp_add("DAY", F.lit(30), quarter["o_orderdate"])
        ),
        "left_semi",
    )
    return (
        late_exists.groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
        .orderBy("o_orderpriority")
    )


def ship_delay_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q12 shape (adapted: the line attribute is a ship-delay
    bucket — testdata has no shipmode): per delay bucket, how many
    1997 lines belong to high-priority vs low-priority orders. The
    conditional counts are map-side ``sum(CASE ...)`` partials; one
    shuffle on the bucket key carries six rows per partition."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    lines = li.filter(
        (F.col("l_shipdate") >= "1997-01-01")
        & (F.col("l_shipdate") < "1998-01-01")
    )
    joined = lines.join(orders, lines["l_orderkey"] == orders["o_orderkey"])
    delay = F.datediff(
        F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
    )
    bucket = (
        F.when(delay <= 30, "fast")
        .when(delay <= 60, "medium")
        .otherwise("slow")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        joined.select(
            bucket.alias("delay_bucket"),
            F.when(high, 1).otherwise(0).alias("is_high"),
        )
        .groupBy("delay_bucket")
        .agg(
            F.sum("is_high").alias("high_line_count"),
            F.sum(1 - F.col("is_high")).alias("low_line_count"),
        )
        .orderBy("delay_bucket")
    )


def supplier_variety_by_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q16 shape (adapted: the complaint exclusion list is
    suppliers with negative balance): distinct supplier counts per
    (brand, size) over selected sizes, excluding listed suppliers.
    NOT IN decorrelates to a broadcast LEFT ANTI join (the exclusion
    list is tiny); the part filter broadcasts into the lineitem scan;
    count(DISTINCT) shuffles (brand, size, suppkey) once."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    supp = _t(spark, sf_dir, "supplier")
    sizes = [1, 4, 7, 10, 13, 16, 19, 22]
    chosen = part.filter(
        (F.col("p_type") != "ECONOMY") & F.col("p_size").isin(sizes)
    ).select("p_partkey", "p_brand", "p_size")
    excluded = supp.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        li.join(F.broadcast(chosen), li["l_partkey"] == chosen["p_partkey"])
        .join(
            F.broadcast(excluded),
            li["l_suppkey"] == excluded["s_suppkey"],
            "left_anti",
        )
        .groupBy("p_brand", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_size")
    )


def bulk_suppliers_for_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H q20 shape (adapted: availqty threshold becomes a shipped-
    quantity threshold): ASIA suppliers who moved more than 100 units
    of red parts during 1997. The reference's two nested IN
    subqueries decorrelate into (1) a broadcast semi-join of lineitem
    against qualifying part keys and (2) a HAVING aggregate whose
    surviving supplier keys semi-join back to the supplier dim —
    every subquery becomes a join the optimizer can reorder; nothing
    is re-executed per row."""
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    red = part.filter(F.col("p_name").startswith("red")).select("p_partkey")
    bulk = (
        li.filter(
            (F.col("l_shipdate") >= "1997-01-01")
            & (F.col("l_shipdate") < "1998-01-01")
        )
        .join(F.broadcast(red), li["l_partkey"] == red["p_partkey"], "left_semi")
        .groupBy("l_suppkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .filter(F.col("total_qty") > 100)
    )
    asia = (
        supp.join(
            F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey")
        )
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name") == "ASIA")
    )
    return (
        asia.join(
            F.broadcast(bulk), F.col("s_suppkey") == F.col("l_suppkey"), "left_semi"
        )
        .select("s_name", "n_name")
        .orderBy("s_name")
    )


# ---------------------------------------------------------------------------
# Scalar-layer queries: multi-format dates, label decoding, centroids
# ---------------------------------------------------------------------------

_DATE_FMT_BY_MOD = [
    ("yyyy-MM-dd", "%Y-%m-%d"),
    ("yyyy/MM/dd", "%Y/%m/%d"),
    ("yyyy.MM.dd", "%Y.%m.%d"),
    ("yyyy年MM月dd日", "%Y年%m月%d日"),
    ("yyyyMMdd", "%Y%m%d"),
]


def parse_dates_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-trip: format each order date into one of 5 formats (picked
    by orderkey mod), then recover it with the multi-format parser
    (SURVEY.md §2.8 date layer; 多数据源获取链接.py:29-58)."""
    from data_pipeline_childcare_spark.functions.dates import parse_date_multi

    o = _t(spark, sf_dir, "orders")
    mod = F.pmod(F.col("o_orderkey"), F.lit(5))
    raw = F.when(mod == 0, F.date_format("o_orderdate", _DATE_FMT_BY_MOD[0][0]))
    for i, (fmt, _) in enumerate(_DATE_FMT_BY_MOD[1:], start=1):
        raw = raw.when(mod == i, F.date_format("o_orderdate", fmt))
    df = o.select("o_orderkey", raw.alias("raw_date"))
    return df.select(
        "o_orderkey",
        "raw_date",
        # emit as ntz timestamp: pandas/duckdb render DATE as datetime64
        # anyway, and the driver hashes the materialized values
        parse_date_multi(F.col("raw_date")).cast("timestamp_ntz").alias("parsed"),
    )


EVENT_TYPE_LABELS = {
    "click": "点击",
    "view": "浏览",
    "purchase": "购买",
    "signup": "注册",
    "error": "错误",
}


def decode_event_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code→label decoding (J3) with unknown passthrough, scalar form."""
    from data_pipeline_childcare_spark.operators.labels import decode_scalar

    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .select(
            "event_type",
            decode_scalar("event_type", EVENT_TYPE_LABELS).alias("event_label"),
            "n",
        )
    )


def label_centroid_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid, exploded to (label, pos, mean_v) —
    the aggregation shape behind IVF coarse quantizers."""
    emb = _t(spark, sf_dir, "embeddings")
    exploded = emb.select(
        "label", F.posexplode(F.col("embedding").cast("array<double>")).alias("pos", "v")
    )
    return (
        exploded.groupBy(F.col("label"), F.col("pos").cast("long").alias("pos"))
        .agg(F.round(F.avg("v"), 6).alias("mean_v"))
    )


def order_line_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested rollup (A6 shape): per order, the position-ordered line
    sequence — materialized as a string so the rollup ordering itself
    is oracle-checkable."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_orderkey").agg(
        F.concat_ws(
            ",",
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("l_linenumber", F.col("l_partkey").alias("pk")))
                ),
                lambda s: s["pk"].cast("string"),
            ),
        ).alias("part_sequence"),
        F.count("*").alias("n_lines"),
    )


def events_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON column extraction (S13): props `{"k": N}` → per-type stats
    over the typed value — from_json keeps the projection JVM-side."""
    ev = _t(spark, sf_dir, "events")
    k = F.from_json(F.col("props"), "k int")["k"]
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("k").alias("n_with_k"),
            F.round(F.avg("k"), 6).alias("avg_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


def distinct_users_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact COUNT(DISTINCT) — the two-phase expand Spark plans for it
    is the shape approx_count_distinct replaces at 100 TB."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count_distinct("user_id").alias("n_users"),
        F.count("*").alias("n_events"),
    )


def lsh_cosine_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate cosine top-k via random-hyperplane LSH buckets — the
    scale path next to the brute-force baseline, FULLY oracled: the
    hyperplanes are deterministic literals from one Python source of
    truth (operators/similarity.py _hyperplane), the dot-product fold
    order matches DuckDB's list_dot_product, and the rounded rescore
    decides ties — so bucket assignment, the candidate set, and the
    final top-k are all hash-exact across engines. Recall vs the exact
    baseline is additionally asserted in tests."""
    from data_pipeline_childcare_spark.operators.similarity import lsh_cosine_topk

    emb = _emb_double(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return lsh_cosine_topk(emb, q, dim=64, k=5, n_planes=4, n_tables=4).select(
        "query_id", "vec_id", "cosine_sim", F.col("rank").cast("int").alias("rank")
    )


def embedding_cosine_dedup_lsh_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup dedup at corpus scale: LSH-bucketed candidate
    pairs → exact cosine verify → anti-join (same tail as the exact
    baseline; operators/similarity.py embedding_cosine_dedup_lsh).
    FULLY oracled: deterministic hyperplane literals shared with the
    DuckDB twin make bucket assignment — and therefore the candidate
    set and survivors — hash-exact across engines; the ≥0.95-recall +
    no-false-drops contract vs the exact baseline stays in tests."""
    from data_pipeline_childcare_spark.operators.similarity import (
        embedding_cosine_dedup_lsh,
    )

    emb = _emb_double(spark, sf_dir)
    return embedding_cosine_dedup_lsh(emb, dim=64, threshold=0.4).select("vec_id", "label")


def embedding_cosine_dedup_ivf_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Third member of the embedding-dedup family: IVF (k-means cell)
    candidate pairs with multi-assignment, same exact-cosine verify +
    anti-join tail — FULLY oracled via the canonical kmeans (see
    ivf_cosine_topk_embeddings); recall ≥0.95 vs the exact baseline
    stays asserted in tests."""
    from data_pipeline_childcare_spark.operators.similarity import (
        embedding_cosine_dedup_ivf,
    )

    emb = _emb_double(spark, sf_dir)
    return embedding_cosine_dedup_ivf(emb, threshold=0.4).select("vec_id", "label")


def image_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode end-to-end at the driver surface: synthesize
    a deterministic PNG per document (stdlib encoder, doc_id-seeded
    pixels, cycling through all five PNG scanline filters), decode
    with the REAL stdlib codec inside image_features (zlib inflate +
    unfilter, sources/imagecodec.py), then aggregate per image width.

    DuckDB-oracled WITHOUT a decoder on the oracle side: the pixel
    generator is closed-form (``pix[i] = (doc_id*31 + i*7) % 256``,
    dims from doc_id/n_chars) and PNG round-trips losslessly, so the
    oracle derives the expected Rec.601 cell-0 luminance feature
    directly from the generation formula — any decode defect (wrong
    unfilter, wrong channel order, wrong dims) breaks the hash match.
    The decode is additionally proven bit-exact against known pixels
    in tests/test_imagecodec.py."""
    import pandas as pd  # noqa: PLC0415

    from data_pipeline_childcare_spark.sources.imagecodec import encode_png
    from data_pipeline_childcare_spark.sources.multimodal import image_features

    # two narrow columns through two Python stages: 8 tasks is plenty
    # at any SF here, and avoids paying worker spawn × full core count
    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars").coalesce(8)

    def gen(batches):
        for pdf in batches:
            paths, blobs = [], []
            for doc_id, n_chars in zip(pdf["doc_id"], pdf["n_chars"]):
                w, h = 8 + int(doc_id) % 8, 4 + int(n_chars) % 4
                pix = bytes((int(doc_id) * 31 + i * 7) % 256 for i in range(w * h * 3))
                paths.append(f"doc_{int(doc_id)}.png")
                blobs.append(encode_png(w, h, pix, mode="RGB", filter_type=int(doc_id) % 5))
            yield pd.DataFrame({"path": paths, "content": blobs})

    imgs = docs.mapInPandas(gen, schema="path string, content binary")
    return (
        image_features(imgs)
        .groupBy("width")
        .agg(
            F.count("*").alias("n_images"),
            F.round(F.avg("height"), 4).alias("avg_height"),
            F.round(F.avg(F.try_element_at("feature", F.lit(1))), 6).alias("avg_f0"),
            F.max(F.col("is_stub").cast("int")).alias("any_stub"),
        )
    )


def image_ahash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image dedup end-to-end
    (operators/imagehash): synthesize a deterministic 8×8 grayscale
    PNG per document — groups of 8 docs share a base pattern, with
    per-doc tiers (identical / one-pixel-perturbed / different
    pattern) so real near-dup structure exists — then aHash through
    the REAL stdlib PNG decode and find pairs with the 4×16-bit
    pigeonhole band join (hamming ≤ 3).

    Oracled WITHOUT a decoder on the oracle side, same discipline as
    image_decode_features: the pixel formula is closed-form, PNG
    round-trips losslessly, and the aHash bit rule is exact integer
    arithmetic (cell·64 > Σcells), so DuckDB derives the bits from
    the formula and takes all-pairs hamming at oracle scale — any
    decode, hashing or blocking defect breaks the hash match. The
    blocked join must equal all-pairs exactly (pigeonhole
    completeness for hamming ≤ 3) up to the mirrored per-item cap.

    Scale guards (both mirrored in the twin): synthesis/decode runs
    at full parallelism (the table is already spread_partitions'd;
    no coalesce — a fixed tiny partition count would serialize the
    Python stage behind a few cores as the corpus grows), and
    ``cap_per_id=10`` bounds per-image candidate volume on
    duplicate-saturated corpora (rank by (hamming, other id), same
    row_number discipline as dedup_method_agreement's text cap)."""
    import pandas as pd  # noqa: PLC0415

    from data_pipeline_childcare_spark.operators.imagehash import (
        hamming_near_dup_pairs,
        image_perceptual_hashes,
    )
    from data_pipeline_childcare_spark.sources.imagecodec import encode_png

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def gen(batches):
        for pdf in batches:
            ids, paths, blobs = [], [], []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                g, p = d // 8, d % 8
                # the aHash bit rule is invariant to a constant added
                # to every pixel, so the per-group term must change
                # the pattern SHAPE, not just the offset — and linear
                # patterns only admit 256 distinct slopes in 8-bit
                # pixel space, so a quadratic term (17 classes)
                # multiplies the shape space to ~4267, keeping hash-
                # collision clusters bounded as the corpus grows
                slope = 11 + g % 251
                quad = g % 17
                pix = bytearray()
                for i in range(64):
                    if p >= 6:
                        v = (g * 37 + i * (slope + 12 + 13 * p) + i * i * quad + 97 * p) % 256
                    else:
                        v = (g * 37 + i * slope + i * i * quad) % 256
                        if p >= 4 and i == d % 64:
                            v = (v + 140) % 256
                    pix.append(v)
                ids.append(d)
                paths.append(f"img_{d}.png")
                blobs.append(encode_png(8, 8, bytes(pix), mode="L", filter_type=d % 5))
            yield pd.DataFrame({"doc_id": ids, "path": paths, "content": blobs})

    imgs = docs.mapInPandas(gen, schema="doc_id long, path string, content binary")
    hashed = image_perceptual_hashes(imgs, id_cols=("doc_id",))
    return hamming_near_dup_pairs(
        hashed, id_col="doc_id", sig_col="ahash", max_hamming=3, cap_per_id=10
    )


def video_keyframe_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video near-dup via keyframe perceptual hashes, end-to-end
    through the REAL video stack: synthesize a deterministic
    4-frame uncompressed AVI per document (imagecodec.encode_avi_dib,
    grayscale r=g=b so Rec.601 luma is exactly the closed-form pixel
    value), sample every frame with sources/multimodal.sample_frames
    (real RIFF walk + DIB→BMP), aHash each frame through the real BMP
    decode, block frame pairs with the 4×16-bit pigeonhole join, then
    roll aligned-frame matches up to video pairs: videos sharing ≥ 3
    of their 4 frame positions at hamming ≤ 3 →
    (video_a, video_b, n_frame_matches, max_hamming).

    Group structure mirrors image_ahash_near_dup (8 docs per group:
    4 identical videos, 2 one-pixel-perturbed in one frame, 2 with an
    unrelated slope family), with the per-frame SLOPE varying so
    frames within a video differ. The DuckDB twin derives the frame
    bits closed-form (lossless DIB round-trip + integer aHash rule)
    and takes all-pairs aligned-frame hamming at oracle scale.

    Scale guards (mirrored in the twin): full-parallelism synthesis/
    decode (no coalesce); the frame position is a BLOCK key of the
    band join (cross-position candidates are never materialized, not
    post-filtered); ``cap_per_id=10`` bounds per-frame candidate
    volume on duplicate-saturated corpora — capped at the frame
    level, BEFORE the ≥3-of-4 video rollup, so the rollup input is
    linear in corpus size."""
    import pandas as pd  # noqa: PLC0415

    from data_pipeline_childcare_spark.operators.imagehash import (
        hamming_near_dup_pairs,
        image_perceptual_hashes,
    )
    from data_pipeline_childcare_spark.sources.imagecodec import encode_avi_dib
    from data_pipeline_childcare_spark.sources.multimodal import sample_frames

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def gen(batches):
        for pdf in batches:
            ids, paths, blobs = [], [], []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                g, p = d // 8, d % 8
                frames = []
                for f in range(4):
                    if p >= 6:
                        slope = 11 + (g * 4 + f + 101 + 13 * p) % 251
                    else:
                        slope = 11 + (g * 4 + f) % 251
                    quad = (g * 4 + f) % 17
                    rgb = bytearray()
                    for i in range(64):
                        v = (g * 37 + i * slope + i * i * quad) % 256
                        if 4 <= p < 6 and f == d % 4 and i == d % 64:
                            v = (v + 140) % 256
                        rgb += bytes((v, v, v))
                    frames.append(bytes(rgb))
                ids.append(d)
                paths.append(f"vid_{d}.avi")
                blobs.append(encode_avi_dib(8, 8, frames, usec_per_frame=100_000))
            yield pd.DataFrame({"doc_id": ids, "path": paths, "content": blobs})

    vids = docs.mapInPandas(gen, schema="doc_id long, path string, content binary")
    frames = sample_frames(vids, every_ms=100, max_frames=4)
    # frame key packs (video, frame) into one orderable long so the
    # generic pair join applies; 16 ≫ max_frames keeps it collision-free
    keyed = frames.select(
        (
            F.regexp_extract("path", r"vid_(\d+)\.avi", 1).cast("long") * 16
            + F.col("frame_idx")
        ).alias("fkey"),
        F.col("frame_idx").alias("fpos"),
        F.col("frame").alias("content"),
        "path",
    )
    hashed = image_perceptual_hashes(keyed, id_cols=("fkey", "fpos"))
    # fpos as a band-join block key: only same-position frames ever
    # become candidates; cap_per_id ranks by (hamming, other fkey),
    # which within a fixed position is (hamming, other video) — the
    # DuckDB twin replays the identical windows on its fham CTE
    pairs = hamming_near_dup_pairs(
        hashed,
        id_col="fkey",
        sig_col="ahash",
        max_hamming=3,
        block_cols=("fpos",),
        cap_per_id=10,
    )
    aligned = pairs.select(
        F.shiftright(F.col("id_a"), 4).alias("video_a"),
        F.shiftright(F.col("id_b"), 4).alias("video_b"),
        "hamming",
    )
    return (
        aligned.groupBy("video_a", "video_b")
        .agg(
            F.count("*").alias("n_frame_matches"),
            F.max("hamming").alias("max_hamming"),
        )
        .filter(F.col("n_frame_matches") >= 3)
    )


def audio_fingerprint_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio near-dup via the windowed energy-delta sign fingerprint
    (sources/multimodal.audio_fingerprints), end-to-end through the
    REAL audio stack: synthesize a deterministic 512-sample PCM16 WAV
    per document (multimodal.encode_wav_pcm16), decode it with the
    real RIFF/fmt/data walk, fingerprint with exact integer window
    energies, and pair with the 4×16-bit pigeonhole band join
    (hamming ≤ 3) → (id_a, id_b, hamming).

    Same 8-docs-per-group tier structure as the image/video twins
    (identical / one-sample-spiked / different sample slope), with a
    per-group slope so fingerprint collisions across groups stay
    bounded. The DuckDB twin derives window energies closed-form from
    the generator (PCM16 round-trips losslessly) and takes all-pairs
    hamming at oracle scale.

    Scale guards (mirrored in the twin): full-parallelism synthesis/
    decode (no coalesce) + ``cap_per_id=10`` per-item candidate
    bound, same discipline as image_ahash_near_dup."""
    import pandas as pd  # noqa: PLC0415
    import struct  # noqa: PLC0415

    from data_pipeline_childcare_spark.operators.imagehash import (
        hamming_near_dup_pairs,
    )
    from data_pipeline_childcare_spark.sources.multimodal import (
        audio_fingerprints,
        encode_wav_pcm16,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def gen(batches):
        for pdf in batches:
            ids, paths, blobs = [], [], []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                g, p = d // 8, d % 8
                mult = (g % 89 + 14 + p) if p >= 6 else (g % 89 + 3)
                quad = g % 13
                samples = []
                for i in range(512):
                    s = ((g * 7 + i * mult + i * i * quad) % 4001) - 2000
                    if 4 <= p < 6 and i == d % 512:
                        s += 500
                    samples.append(s)
                ids.append(d)
                paths.append(f"au_{d}.wav")
                blobs.append(
                    encode_wav_pcm16(8000, 1, struct.pack("<512h", *samples))
                )
            yield pd.DataFrame({"doc_id": ids, "path": paths, "content": blobs})

    wavs = docs.mapInPandas(gen, schema="doc_id long, path string, content binary")
    fps = audio_fingerprints(wavs, id_cols=("doc_id",))
    return hamming_near_dup_pairs(
        fps, id_col="doc_id", sig_col="afp", max_hamming=3, cap_per_id=10
    )


def audio_flac_fingerprint_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAC decode certified IN the gate: the same closed-form PCM16
    signal the WAV fingerprint row synthesizes is CONTAINERIZED AS
    FLAC (sources/flaccodec.encode_flac_pcm16 — real frame headers,
    CRC-8/CRC-16, verbatim subframes), decoded back by the library-
    free FLAC decoder inside the real audio stack
    (multimodal._parse_audio), and fingerprinted with the exact
    integer window energies. The DuckDB twin derives the fingerprint
    closed-form from the sample generator — container-independent
    because the decode is lossless — so a green row proves the FLAC
    frame parser, CRC checks, and subframe reconstruction return the
    bit-exact samples. is_stub rides along: any decode failure flips
    it and the digest fingerprint hash-mismatches loudly."""
    import pandas as pd  # noqa: PLC0415
    import struct  # noqa: PLC0415

    from data_pipeline_childcare_spark.sources.flaccodec import encode_flac_pcm16
    from data_pipeline_childcare_spark.sources.multimodal import audio_fingerprints

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def gen(batches):
        for pdf in batches:
            ids, paths, blobs = [], [], []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                g, p = d // 8, d % 8
                mult = (g % 89 + 14 + p) if p >= 6 else (g % 89 + 3)
                quad = g % 13
                samples = []
                for i in range(512):
                    s = ((g * 7 + i * mult + i * i * quad) % 4001) - 2000
                    if 4 <= p < 6 and i == d % 512:
                        s += 500
                    samples.append(s)
                ids.append(d)
                paths.append(f"au_{d}.flac")
                blobs.append(
                    encode_flac_pcm16(
                        8000, 1, struct.pack("<512h", *samples), blocksize=256
                    )
                )
            yield pd.DataFrame({"doc_id": ids, "path": paths, "content": blobs})

    flacs = docs.mapInPandas(gen, schema="doc_id long, path string, content binary")
    fps = audio_fingerprints(flacs, id_cols=("doc_id",))
    return fps.select(
        "doc_id",
        F.col("sample_rate").cast("int").alias("sample_rate"),
        F.col("n_samples").cast("long").alias("n_samples"),
        F.col("afp").cast("long").alias("afp"),
        F.col("is_stub").cast("boolean").alias("is_stub"),
    )


def _tuoyu_ds_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Deterministic page→envelope fixture derived from doc_ids
    (capped at 1000; 10 records/page; the reference's wire shape),
    written to a temp file and format-registered for this session.
    Shared by the batch and streaming DataSource certification rows."""
    import json as _json  # noqa: PLC0415
    import os  # noqa: PLC0415
    import tempfile  # noqa: PLC0415

    from data_pipeline_childcare_spark.sources.spark_datasource import register

    docs = _t(spark, sf_dir, "documents")
    ids = sorted(
        r["doc_id"]
        for r in docs.select("doc_id").filter(F.col("doc_id") < 1000).collect()
    )
    page_size = 10
    n_pages = max(1, (len(ids) + page_size - 1) // page_size)
    pages = {}
    for p in range(1, n_pages + 1):
        chunk = ids[(p - 1) * page_size : p * page_size]
        pages[str(p)] = {
            "code": "000000",
            "responseData": {
                "totalRecord": len(ids),
                "totalPage": n_pages,
                "dataList": [
                    {"机构名称": f"园{d}", "区域编号": str(d % 97)} for d in chunk
                ],
            },
        }
    tmp = tempfile.mkdtemp(prefix="tuoyu_ds_fixture_")
    fx = os.path.join(tmp, "pages.json")
    with open(fx, "w", encoding="utf-8") as f:
        _json.dump(pages, f, ensure_ascii=False)
    register(spark)
    return fx


def _tuoyu_ds_project(scanned: DataFrame) -> DataFrame:
    return scanned.select(
        F.col("page").cast("int").alias("page"),
        F.get_json_object("record", "$.机构名称").alias("inst_name"),
        F.get_json_object("record", "$.区域编号").alias("region_code"),
    )


def tuoyu_datasource_scan_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The S1 paginated scan certified THROUGH Spark's Python
    DataSource API (sources/spark_datasource.py, format
    ``tuoyu_registry``): a deterministic page→envelope fixture is
    synthesized from the documents table's doc_ids (capped at 1000,
    10 records/page, the reference's wire shape), read back with
    ``spark.read.format("tuoyu_registry")`` — page-1 discovery at
    planning time, the remaining pages fetched partition-parallel on
    the executors — and the landed JSON records parsed relationally.
    The DuckDB twin derives every field closed-form from the same
    doc_ids, so a green row proves the DataSource's partition
    planning, pagination, fixture transport and record landing are
    exact. The registry connector itself (retry/backoff, real wire
    paths) keeps its replay/loopback pytest tiers; what this row adds
    is the Spark-integration layer inside the oracle gate."""
    fx = _tuoyu_ds_fixture(spark, sf_dir)
    scanned = (
        spark.read.format("tuoyu_registry")
        .option("fixture", fx)
        .option("page_size", "10")
        .option("pages_per_task", "4")
        .load()
    )
    return _tuoyu_ds_project(scanned)


def tuoyu_datasource_stream_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DataSource's STREAM reader certified in the gate: the same
    fixture crawled through ``spark.readStream.format("tuoyu_registry")``
    (page-counter offsets, one availableNow pass, memory sink) must
    land exactly the batch scan's records — the oracle is the same
    closed-form twin, so page-offset bookkeeping provably neither
    loses nor duplicates records."""
    fx = _tuoyu_ds_fixture(spark, sf_dir)
    stream = (
        spark.readStream.format("tuoyu_registry")
        .option("fixture", fx)
        .option("page_size", "10")
        .option("pages_per_task", "4")
        .load()
    )
    qname = "tuoyu_ds_stream_sink"
    for q in spark.streams.active:
        if q.name == qname:
            q.stop()
    query = (
        stream.writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return _tuoyu_ds_project(spark.table(qname))


def multimodal_dedup_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-byte vs perceptual image dedup, audited side by side —
    the multimodal edition of ``dedup_method_agreement``: the same
    deterministic image corpus as image_ahash_near_dup, except the
    PNG filter type cycles ``doc_id % 3`` so byte-identical
    re-encodes exist (same pixels + same filter) alongside
    pixel-identical-but-differently-encoded copies that defeat
    byte-level hashes. Exact pairs = equi-join on md5(blob) — the
    real thing, computed over the real encoder output; perceptual
    pairs = aHash hamming ≤ 3 through the real decode. One audit row:
    exact ⊂ perceptual-with-margin, and the perceptual-only mass is
    what re-encoding + perturbation hides from byte hashing.

    Oracle discipline: DuckDB cannot run zlib, but byte equality of a
    DETERMINISTIC encoder is pixel equality AND filter equality —
    both closed-form (same group, both p < 4, doc_id ≡ mod 3); the
    perceptual chain reuses the closed-form bit derivation.

    Scale guards (mirrored in the twin): full-parallelism synthesis
    (no coalesce); the perceptual side carries ``cap_per_id=10`` —
    the exact side needs no cap (equi-join on the fingerprint groups
    by hash, never materializing cross-bucket candidates; its pair
    output is the true duplicate count, which the audit is FOR)."""
    import pandas as pd  # noqa: PLC0415

    from data_pipeline_childcare_spark.operators.imagehash import (
        hamming_near_dup_pairs,
        image_perceptual_hashes,
    )
    from data_pipeline_childcare_spark.sources.imagecodec import encode_png

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def gen(batches):
        for pdf in batches:
            ids, paths, blobs = [], [], []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                g, p = d // 8, d % 8
                slope = 11 + g % 251
                quad = g % 17
                pix = bytearray()
                for i in range(64):
                    if p >= 6:
                        v = (g * 37 + i * (slope + 12 + 13 * p) + i * i * quad + 97 * p) % 256
                    else:
                        v = (g * 37 + i * slope + i * i * quad) % 256
                        if p >= 4 and i == d % 64:
                            v = (v + 140) % 256
                    pix.append(v)
                ids.append(d)
                paths.append(f"img_{d}.png")
                blobs.append(encode_png(8, 8, bytes(pix), mode="L", filter_type=d % 3))
            yield pd.DataFrame({"doc_id": ids, "path": paths, "content": blobs})

    # no persist: the generator is deterministic and cheap, and the two
    # consumers (md5 branch, hash branch) run in one job — recompute
    # beats carrying cached blobs across the query's lifetime
    imgs = docs.mapInPandas(gen, schema="doc_id long, path string, content binary")
    fp = imgs.select("doc_id", F.md5("content").alias("_fp"))
    a, b = fp.alias("a"), fp.alias("b")
    exact = a.join(
        b,
        (F.col("a._fp") == F.col("b._fp"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
    )
    perc = hamming_near_dup_pairs(
        image_perceptual_hashes(imgs, id_cols=("doc_id",)),
        id_col="doc_id",
        sig_col="ahash",
        max_hamming=3,
        cap_per_id=10,
    ).select("id_a", "id_b")
    joined = exact.withColumn("_e", F.lit(1)).join(
        perc.withColumn("_p", F.lit(1)), ["id_a", "id_b"], "full_outer"
    )
    out = joined.agg(
        F.count("*").alias("n_pairs_union"),
        F.sum(F.coalesce(F.col("_e"), F.lit(0))).alias("n_exact"),
        F.sum(F.coalesce(F.col("_p"), F.lit(0))).alias("n_perceptual"),
        F.sum(
            F.when(F.col("_e").isNotNull() & F.col("_p").isNotNull(), 1).otherwise(0)
        ).alias("n_both"),
        F.sum(
            F.when(F.col("_e").isNotNull() & F.col("_p").isNull(), 1).otherwise(0)
        ).alias("n_exact_only"),
        F.sum(
            F.when(F.col("_e").isNull() & F.col("_p").isNotNull(), 1).otherwise(0)
        ).alias("n_perceptual_only"),
    )
    return out


def windowed_event_counts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time windows (batch form of the streaming
    operator — same expression, no watermark)."""
    from data_pipeline_childcare_spark.streaming.windows import windowed_event_counts

    ev = _t(spark, sf_dir, "events")
    return windowed_event_counts(ev, "1 hour", streaming=False)


def events_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead window coverage: per-user inter-event gap + value delta."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    # pure NTZ arithmetic — session-timezone-independent
    gap_us = F.timestamp_diff("MICROSECOND", prev_ts, F.col("ts"))
    return ev.select(
        "user_id",
        "event_id",
        gap_us.alias("gap_us"),
        F.round(F.col("value") - F.lag("value").over(w), 4).alias("value_delta"),
    )


def custkeys_open_not_finished(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Except: customers with open orders but no finished ones."""
    o = _t(spark, sf_dir, "orders")
    # subtract = set EXCEPT; exceptAll's bag semantics would keep a
    # customer whose open orders merely outnumber their finished ones
    return (
        o.filter(F.col("o_orderstatus") == "O")
        .select("o_custkey")
        .subtract(o.filter(F.col("o_orderstatus") == "F").select("o_custkey"))
    )


_QUALITY_STOPWORDS = ["the", "a", "of", "and", "to", "in", "is"]


def doc_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring + language ID over documents — the pretraining
    corpus filter pass, both formulas replicated in the DuckDB oracle."""
    from data_pipeline_childcare_spark.functions.text import lang_guess, quality_score

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        quality_score("text", _QUALITY_STOPWORDS).alias("quality"),
        lang_guess("text").alias("lang_guess"),
    )


def kv_roundtrip_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kv-block layer check: build `key：value` blocks from customer
    rows, parse them back with the corpus parser, re-extract the
    fields. The oracle is the identity projection — any parse defect
    breaks the match."""
    from data_pipeline_childcare_spark.functions.text import kv_block_to_map

    c = _t(spark, sf_dir, "customer")
    block = F.format_string(
        "名称：%s\n账户余额：%s\n市场分类：%s",
        F.col("c_name"),
        F.col("c_acctbal").cast("string"),
        F.col("c_mktsegment"),
    )
    parsed = c.select("c_custkey", kv_block_to_map(block).alias("rec"))
    return parsed.select(
        "c_custkey",
        F.col("rec").getItem("名称").alias("name"),
        F.col("rec").getItem("账户余额").cast("double").alias("acctbal"),
        F.col("rec").getItem("市场分类").alias("mktsegment"),
    )


def q6_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan-bound filter+agg — every predicate
    must reach the parquet scan. spread=False: the global aggregate
    collapses map-side to one row; a spread would shuffle every
    filtered row for nothing (guide §2.3)."""
    li = _t(spark, sf_dir, "lineitem", spread=False)
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
        & (F.col("l_discount").between(0.05, 0.07))
        & (F.col("l_quantity") < 25)
    ).agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"),
        F.count("*").alias("n_items"),
    )


def late_shipment_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS/semi-join with date arithmetic (TPC-H Q4 shape): orders
    with any line shipped > 90 days after the order date, by priority."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    # EXISTS compiles to ONE shuffled semi-join with the date predicate
    # evaluated inside the join (semi stops at first match per order) —
    # not join→distinct→semi, which would shuffle lineitem twice.
    # r13: pin SHUFFLE_HASH. LeftSemi can only build RIGHT, so the
    # auto-broadcast planner collected the 600k-row LINEITEM side to
    # the driver and probed orders on one task (both under the 64 MB
    # threshold at sf0.1 — a plan that inverts at real scale anyway).
    # Both sides arrive hash-partitioned on the order key from the
    # spread, so the shuffled-hash join needs no extra exchange and
    # builds only per-partition tables; measured 0.77 s → 0.39 s, and
    # it is the 100 TB-correct shape (no driver collect of a fact
    # side).
    cond = (orders.o_orderkey == li.l_orderkey) & (
        li.l_shipdate > orders.o_orderdate + F.expr("INTERVAL 90 DAYS")
    )
    return (
        orders.join(li.hint("shuffle_hash"), cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
    )


def parts_with_many_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-count filter: parts supplied by ≥ 5 distinct suppliers
    with price stats."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_partkey")
        .agg(
            F.count_distinct("l_suppkey").alias("n_suppliers"),
            # avg divides the ROUNDED sum: collapses addition-order ulp
            # noise to one canonical double so the rounded quotient is
            # engine- and partitioning-independent (same discipline as
            # finalize_rollup / rollup_pricing, commit 8cd29b6).
            F.round(
                F.round(F.sum("l_extendedprice"), 4) / F.count("l_extendedprice"), 4
            ).alias("avg_price"),
        )
        .filter(F.col("n_suppliers") >= 5)
    )


def ivf_cosine_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (k-means-lite coarse quantizer) approximate top-k — the
    second ANN scale path next to LSH, FULLY oracled: canonical
    kmeans (md5 seed order + pre-rounded centroid means,
    operators/similarity.py) walks an identical centroid trajectory
    in any engine, so the DuckDB twin unrolls the two Lloyd
    iterations and hash-matches the probed top-k exactly. Recall vs
    brute force additionally asserted in tests."""
    from data_pipeline_childcare_spark.operators.similarity import ivf_cosine_topk

    emb = _emb_double(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return ivf_cosine_topk(emb, q, k=5, n_cells=8, n_probe=4, iterations=2).select(
        "query_id", "vec_id", "cosine_sim", F.col("rank").cast("int").alias("rank")
    )


def warc_ingest_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC ingestion end-to-end (sources/warc.py): synthesize one
    WARC blob per document — a warcinfo record, a request record, and
    an HTTP response record carrying the document text (every 3rd
    blob gzip-compressed, mtime=0) — then parse back through the
    Arrow-batched reader, which must keep ONLY the response records
    and split the HTTP layer. DuckDB-oracled with no WARC code on the
    oracle side: every output field is a closed-form function of
    (doc_id, text), so the twin selects them straight from the
    documents table — any parser defect (header split, payload
    length, gzip path, record filtering) breaks the hash."""
    import pandas as pd  # noqa: PLC0415

    from data_pipeline_childcare_spark.sources.warc import read_warc_responses

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text").coalesce(8)

    def gen(batches):
        import gzip as _gzip  # noqa: PLC0415

        def rec(rtype, rid, extra, payload):
            head = (
                f"WARC/1.0\r\nWARC-Type: {rtype}\r\nWARC-Record-ID: {rid}\r\n"
                + extra
                + f"Content-Length: {len(payload)}\r\n\r\n"
            ).encode()
            return head + payload + b"\r\n\r\n"

        for pdf in batches:
            paths, blobs = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                d = int(doc_id)
                body = str(text).encode("utf-8")
                uri = f"https://example.com/doc/{d}"
                http = (
                    b"HTTP/1.1 200 OK\r\nContent-Type: text/plain; charset=utf-8\r\n"
                    + f"Content-Length: {len(body)}\r\n\r\n".encode()
                    + body
                )
                blob = (
                    rec("warcinfo", f"<urn:info:{d}>", "", b"software: synthetic\r\n")
                    + rec(
                        "request",
                        f"<urn:req:{d}>",
                        f"WARC-Target-URI: {uri}\r\n",
                        b"GET / HTTP/1.1\r\n\r\n",
                    )
                    + rec(
                        "response",
                        f"<urn:resp:{d}>",
                        f"WARC-Target-URI: {uri}\r\n"
                        "Content-Type: application/http; msgtype=response\r\n",
                        http,
                    )
                )
                if d % 3 == 0:
                    blob = _gzip.compress(blob, mtime=0)
                paths.append(f"seg_{d}.warc" + (".gz" if d % 3 == 0 else ""))
                blobs.append(blob)
            yield pd.DataFrame({"path": paths, "content": blobs})

    blobs = docs.mapInPandas(gen, schema="path string, content binary")
    out = read_warc_responses(blobs)
    return out.select(
        F.regexp_extract("target_uri", r"/doc/(\d+)$", 1).cast("long").alias("doc_id"),
        "record_id",
        "target_uri",
        "http_status",
        "http_content_type",
        F.col("error").isNotNull().alias("failed"),
        F.length(F.decode(F.col("body"), "utf-8")).alias("n_body_chars"),
        F.substring(F.decode(F.col("body"), "utf-8"), 1, 40).alias("body_prefix"),
    )


_ROBOTS_RULES = [
    ("site0.com", "*", "disallow", "/private/"),
    ("site0.com", "*", "disallow", "/*.pdf$"),
    ("site1.com", "*", "disallow", "/"),
    ("site1.com", "*", "allow", "/public/"),
    ("site2.com", "googlebot", "disallow", "/files/"),  # other agent: ignored
]


def doc_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WHOLE pretraining-corpus curation lifecycle in one plan
    (plans/curation.py): quality gate + exact dedup + portable-MinHash
    near-dup dedup + benchmark decontamination + deterministic split,
    with independent per-stage flags and the conjunction verdict. The
    DuckDB twin composes the same stage oracles (quality/repetition
    fragments, the banded minhash CTE chain, the contamination
    shingle join, the md5 split CASE) into one query — the engine's
    headline end-to-end oracle."""
    from data_pipeline_childcare_spark.plans.curation import curate_corpus

    docs = _t(spark, sf_dir, "documents")
    return curate_corpus(
        docs, docs.filter(F.col("doc_id") % 10 == 0), _QUALITY_STOPWORDS
    )


def archive_ingest_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Archive-corpus ingestion end-to-end (sources/archives.py): one
    archive blob per document — ZIP for most, TAR.GZ for every 3rd —
    each holding the doc text as a .txt member plus a directory entry
    and an empty member that must be dropped; exploded back through
    read_archive_members + the parse chain. All output fields are
    closed-form in (doc_id, text), so the DuckDB twin needs no
    archive code."""
    import pandas as pd  # noqa: PLC0415

    from data_pipeline_childcare_spark.sources.archives import archive_documents

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text").coalesce(8)

    def gen(batches):
        import gzip as _gzip  # noqa: PLC0415
        import io as _io  # noqa: PLC0415
        import tarfile as _tarfile  # noqa: PLC0415
        import zipfile as _zipfile  # noqa: PLC0415

        for pdf in batches:
            paths, blobs = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                d = int(doc_id)
                body = str(text).encode("utf-8")
                member = f"docs/doc_{d}.txt"
                if d % 3 == 0:
                    tbuf = _io.BytesIO()
                    with _tarfile.open(fileobj=tbuf, mode="w") as tf:
                        info = _tarfile.TarInfo(member)
                        info.size = len(body)
                        tf.addfile(info, _io.BytesIO(body))
                        tf.addfile(_tarfile.TarInfo("docs/empty.bin"), _io.BytesIO(b""))
                    blob = _gzip.compress(tbuf.getvalue(), mtime=0)
                    paths.append(f"shard_{d}.tgz")
                else:
                    zbuf = _io.BytesIO()
                    with _zipfile.ZipFile(zbuf, "w") as zf:
                        zf.writestr(member, body)
                        zf.writestr("docs/", b"")
                        zf.writestr("docs/empty.bin", b"")
                    blob = zbuf.getvalue()
                    paths.append(f"shard_{d}.zip")
                blobs.append(blob)
            yield pd.DataFrame({"path": paths, "content": blobs})

    blobs = docs.mapInPandas(gen, schema="path string, content binary")
    parsed = archive_documents(blobs)
    return parsed.select(
        F.regexp_extract("path", r"doc_(\d+)\.txt$", 1).cast("long").alias("doc_id"),
        "path",
        "fmt",
        F.length("content").cast("int").alias("n_chars"),
        F.substring("content", 1, 40).alias("prefix"),
    )


def robots_filter_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt REP filtering (operators/robots.py): URLs
    synthesized from doc_id across 5 hosts × 4 path shapes, judged
    against a fixed rule set covering prefix rules, wildcard+anchor
    patterns (/*.pdf$), allow-overrides-disallow on longer match,
    whole-site disallow, rule-less hosts, and another agent's group
    being ignored. The DuckDB twin replays the longest-match window
    with the same precompiled regexes."""
    from data_pipeline_childcare_spark.operators.robots import (
        robots_filter,
        rules_to_df,
    )

    d = F.col("doc_id")
    urls = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("site"), (d % 5).cast("string"), F.lit(".com")).alias("host"),
        F.when(d % 4 == 0, F.concat(F.lit("/private/p"), d.cast("string")))
        .when(d % 4 == 1, F.concat(F.lit("/public/a"), d.cast("string")))
        .when(d % 4 == 2, F.concat(F.lit("/files/f"), d.cast("string"), F.lit(".pdf")))
        .otherwise(F.concat(F.lit("/index"), d.cast("string"), F.lit(".html")))
        .alias("path"),
    )
    return robots_filter(urls, rules_to_df(spark, _ROBOTS_RULES), agent="*")


def url_canonical_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + URL-level dedup (functions/urls.py) —
    the crawl-pipeline normalization pass. URLs are synthesized
    deterministically from doc_id with every messy ingredient the
    canonicalizer handles: uppercase scheme/host, default and
    non-default ports, tracking params, unsorted params, fragments,
    missing paths. Grouped by canonical form with count + first doc;
    the DuckDB twin replays every rule in SQL."""
    from data_pipeline_childcare_spark.functions.urls import canonical_url

    d = F.col("doc_id")
    scheme = F.when(d % 5 == 0, F.lit("HTTP://")).otherwise(F.lit("HTTPS://"))
    port = (
        F.when(d % 5 == 0, F.lit(":80"))
        .when(d % 4 == 0, F.lit(":8443"))
        .otherwise(F.lit(":443"))
    )
    tail = (
        F.when(d % 3 == 0, F.lit("/Path/A?utm_source=x&b=2&a=1#frag"))
        .when(d % 3 == 1, F.lit("/Path/A?b=2&a=1"))
        .otherwise(F.lit(""))
    )
    url = F.concat(
        scheme, F.lit("WWW.Site"), (d % 7).cast("string"), F.lit(".COM"), port, tail
    )
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", canonical_url(url).alias("canonical_url")
    )
    return docs.groupBy("canonical_url").agg(
        F.count("*").cast("long").alias("n_urls"),
        F.min("doc_id").alias("first_doc"),
    )


def semdedup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic dedup = canonical
    k-means clustering + within-cluster cosine shadowing
    (operators/similarity.semdedup). Threshold 0.42 sits inside this
    synthetic corpus's cosine tail so drops actually occur; the
    DuckDB twin replays the identical centroid trajectory (shared
    kmeans CTE chain with the IVF oracle) and the lowest-id-wins
    shadowing rule."""
    from data_pipeline_childcare_spark.operators.similarity import semdedup

    emb = _emb_double(spark, sf_dir)
    return semdedup(emb, n_cells=8, iterations=2, threshold=0.42).select(
        "vec_id", "cell", "kept", F.col("dup_of").cast("long").alias("dup_of")
    )


def semdedup_auto_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with the AUTO-SIZED cell structure (round-11 advice:
    the n_cells ~ √n knob is engineered, not manual):
    operators/similarity.semdedup with n_cells="auto" derives k =
    clamp(ceil(√(distinct non-NULL vectors)), 4, 4096) from an exact
    distinct-count, so within-cell candidate volume stays ~n^1.5 as
    the DISTINCT corpus grows — the regime where the verbatim
    collapse can't help. The DuckDB twin computes the identical k
    (same formula over count(DISTINCT cv)) and replays the identical
    canonical centroid trajectory, so the auto path itself is
    oracle-certified, not just the fixed-k one. The occupancy guard
    (loud Σ|cell|² bound) is exercised here too — at the generous
    audit factor it must pass on a sanely-sized layout."""
    from data_pipeline_childcare_spark.operators.similarity import semdedup

    emb = _emb_double(spark, sf_dir)
    return semdedup(
        emb,
        n_cells="auto",
        iterations=2,
        threshold=0.42,
        occupancy_guard_factor=16.0,
    ).select(
        "vec_id", "cell", "kept", F.col("dup_of").cast("long").alias("dup_of")
    )


def doc_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-pretokenizer-style token counting (LLM budget estimation)."""
    from data_pipeline_childcare_spark.functions.text import bpe_like_token_count, token_count

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        bpe_like_token_count("text").cast("long").alias("n_bpe_tokens"),
        token_count("text").cast("long").alias("n_ws_tokens"),
    )


def winnowing_fingerprints_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style winnowing fingerprints (k=8 char grams, window=4)
    with the engine-portable md5 hash so the oracle can reproduce the
    exact fingerprint sets."""
    from data_pipeline_childcare_spark.operators.dedup import winnowing_fingerprints

    docs = _t(spark, sf_dir, "documents")
    return winnowing_fingerprints(docs, k=8, window=4)


# ---------------------------------------------------------------------------
# Tuoyu rule-filter pipeline, end-to-end (P2-P8 + SURVEY §3.3)
# ---------------------------------------------------------------------------
# Deterministic record-block synthesis shared by the Spark query and
# the DuckDB oracle: every field is a pure function of doc_id, so both
# engines build byte-identical content strings and the md5-based block
# digest is hash-exact. The rule exercises region (province scope with
# gazetteer expansion), education normalization, major containment,
# the MOE vocational gate, strict time filtering with the survey
# exemption, the doc semi-join, and the segment-level re-check.
_TY_CITIES = ["成都市", "绵阳市", "长春市", "北京市", "上海市", "凉山州"]
_TY_LEVELS = ["大专", "本科", "高职（专科）", ""]
_TY_MAJORS = ["护理学", "学前教育", "婴幼儿护理"]
_TY_TS = ["2022-06-15 10:00:00", "2023-05-01 09:30:00", ""]
_TY_ADDRS = ["四川省成都市高新区", "广东省深圳市南山区"]
_TY_YEARS = ["2023", "2021"]
_TY_RULE = dict(
    scope="四川", level="大专", major="护理",
    time_filter="2023-01-01 ~ 2024-12-31", strict_time=True,
)


def _tuoyu_synth(spark: SparkSession, sf_dir: str):
    """(chunks, segments) synthesized from documents.doc_id — see the
    constants above. Block 0 is the retrieved chunk; block 1 is a
    passing twin (suffix line) when doc_id//3 % 5 == 0, else a
    per-type failing twin (wrong major / wrong city / out-of-range
    date) that the segment re-check must drop."""
    i = F.col("doc_id")
    s = i.cast("string")
    j = F.expr("doc_id div 3")

    def pick(vals):
        return F.element_at(
            F.array(*[F.lit(v) for v in vals]), (j % len(vals) + 1).cast("int")
        )

    city, lvl, major = pick(_TY_CITIES), pick(_TY_LEVELS), pick(_TY_MAJORS)
    ts, addr, year = pick(_TY_TS), pick(_TY_ADDRS), pick(_TY_YEARS)

    def survey(major_col):
        return F.concat(
            F.lit("城市："), city, F.lit(" | 岗位："), major_col,
            F.lit("\n学历："), lvl, F.lit("\n机构名称：机构"), s,
        )

    def moe(city_col):
        return F.concat(
            F.lit("机构名称：学校"), s, F.lit("\n学校标识码：S"), s,
            F.lit("\n开设专业："), major, F.lit("\n城市："), city_col,
            F.lit("\n年份："), year,
        )

    def inst(ts_col):
        return F.concat(
            F.lit("统一社会信用代码：915100"), s,
            F.lit("\n备案及完成时间："), ts_col, F.lit("\n详细地址："), addr,
        )

    t = i % 3
    content0 = F.when(t == 0, survey(major)).when(t == 1, moe(city)).otherwise(inst(ts))
    fail1 = (
        F.when(t == 0, survey(F.lit("保安")))
        .when(t == 1, moe(F.lit("西安市")))
        .otherwise(inst(F.lit("2020-01-01 00:00:00")))
    )
    content1 = F.when(j % 5 == 0, F.concat(content0, F.lit("\n备注：附记"))).otherwise(fail1)

    base = _t(spark, sf_dir, "documents").select(
        i.alias("doc_id"),
        (i % 4).alias("database_id"),
        i.alias("document_id"),
        content0.alias("_c0"),
        content1.alias("_c1"),
    )
    chunks = base.select(
        F.col("doc_id").alias("chunk_id"), "database_id", "document_id",
        F.col("_c0").alias("content"),
    )
    # duplicate retrieval rows: dropDuplicates(chunk_id) must collapse
    chunks = chunks.unionAll(chunks)
    segments = base.select(
        "database_id", "document_id",
        F.explode(
            F.array(
                F.struct(F.lit(0).alias("position"), F.col("_c0").alias("content")),
                F.struct(F.lit(1).alias("position"), F.col("_c1").alias("content")),
            )
        ).alias("_b"),
    ).select("database_id", "document_id", F.col("_b.position"), F.col("_b.content"))
    # Materialize the synthetic fixture (as a real pipeline reads a
    # concrete table): without the cut, the content-synthesis
    # expression trees are inlined into every downstream parse/rule
    # reference, multiplying the flagship plan to hundreds of KB and
    # dominating driver-side plan build + codegen time. Values are
    # identical; only lineage is cut.
    return chunks.localCheckpoint(eager=False), segments.localCheckpoint(eager=False)


def tuoyu_rule_filter_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship reference pipeline (retrieve.py:1356-1499,
    1581-1623), oracled end-to-end: dedup → kv/pipe-header parse →
    record-type dispatch → rule conjunction (region/education/major/
    MOE-gate/strict-time with survey exemption) → surviving-doc
    semi-join → segment re-check → ordered db→doc rollup. The block
    digest string makes the rollup ORDER itself hash-checkable."""
    from data_pipeline_childcare_spark.operators.rules import RegionalRule
    from data_pipeline_childcare_spark.plans.retrieval import tuoyu_rule_filter

    chunks, segments = _tuoyu_synth(spark, sf_dir)
    out = tuoyu_rule_filter(chunks, segments, RegionalRule(**_TY_RULE))
    block = lambda b: F.concat(  # noqa: E731
        b["position"].cast("string"), F.lit(":"), F.md5(b["content"]),
        F.lit(":"), b["record_type"],
    )
    return out.select(
        "database_id",
        "document_id",
        "source_type",
        F.col("n_blocks").cast("long").alias("n_blocks"),
        F.concat_ws("#", F.transform("content_blocks", block)).alias("block_seq"),
    )


def dedup_keep_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware near-dedup: within each portable-MinHash
    connected-component cluster, keep the HIGHEST-quality member
    (ties on doc_id) instead of the smallest id — the policy real
    training pipelines want (drop the worse copy, whichever arrived
    first). Composes two independently-oracled layers: cluster
    identity (minhash_dedup_clusters) and the quality score
    (doc_quality_scores); one row per kept doc with its cluster size."""
    from data_pipeline_childcare_spark.functions.text import quality_score
    from data_pipeline_childcare_spark.operators.components import connected_components
    from data_pipeline_childcare_spark.operators.dedup import minhash_est_pairs_portable

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_est_pairs_portable(docs, threshold=0.5)
    comp = connected_components(pairs)
    labeled = (
        docs.select("doc_id", quality_score("text", _QUALITY_STOPWORDS).alias("quality"))
        .join(comp, F.col("doc_id") == comp["id"], "left")
        .select(
            "doc_id",
            "quality",
            F.coalesce(comp["component"], F.col("doc_id")).alias("cluster_id"),
        )
    )
    w = Window.partitionBy("cluster_id")
    ranked = labeled.select(
        "doc_id",
        "quality",
        "cluster_id",
        F.count("*").over(w).alias("cluster_size"),
        F.row_number()
        .over(Window.partitionBy("cluster_id").orderBy(F.desc("quality"), "doc_id"))
        .alias("_rk"),
    )
    return ranked.filter(F.col("_rk") == 1).drop("_rk")


def corpus_bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The inner loop of BPE tokenizer training, distributed: the 50
    most frequent ADJACENT CHARACTER pairs inside whitespace tokens
    across the whole corpus (the merge-candidate table a BPE trainer
    ranks each round). Shapes: token explode → per-token pair explode
    (narrow; pairs of a token never cross rows) → ONE (pair)-keyed
    count aggregate, map-side combined — at 100 TB the only exchange
    carries one row per distinct pair per task. Ties broken by pair
    text so the top-50 cut is engine-deterministic."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tokenize(F.col("text"))).alias("tok")).filter(
        F.length("tok") >= 2
    )
    pairs = toks.select(
        F.explode(
            F.expr("transform(sequence(1, length(tok) - 1), i -> substr(tok, i, 2))")
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "pair")
        .limit(50)
    )


def winnowing_pairs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-doc provenance pairs (the MOSS use of winnowing): doc
    pairs sharing ≥3 window-min fingerprints — evidence of a common
    substring of length ≥ k+window-1 per shared print. Candidate
    generation is the fingerprint inverted index (equi-join), never
    all-pairs, with BOTH duplicate-saturation guards engaged and
    oracle-mirrored (the ngram_jaccard lineage): max_df=64 drops
    boilerplate fingerprints shared by more docs than any provenance
    question needs (uncapped, the sf0.1 corpus emitted 9.7 M pairs —
    Σdf² on hot prints), and cap_pairs_per_doc(20) keeps each doc's
    strongest-evidence pairs so downstream volume stays linear on
    clone-saturated corpora."""
    from data_pipeline_childcare_spark.operators.dedup import (
        cap_pairs_per_doc,
        winnowing_fingerprints,
    )
    from data_pipeline_childcare_spark.operators.skew import df_capped_index

    docs = _t(spark, sf_dir, "documents")
    fps = winnowing_fingerprints(docs, k=8, window=4)
    fps = df_capped_index(fps, "fingerprint", max_df=64)
    a = fps.select(F.col("doc_id").alias("id_a"), "fingerprint")
    b = fps.select(F.col("doc_id").alias("id_b"), "fingerprint")
    pairs = (
        a.join(b, "fingerprint")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("shared_fingerprints"))
        .filter(F.col("shared_fingerprints") >= 3)
    )
    return cap_pairs_per_doc(pairs, 20, [F.desc("shared_fingerprints")])


def events_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-stratum sampling (sampleBy semantics, but
    stable across runs/engines/partitionings): clicks at 10%,
    purchases at 50%, other event types dropped."""
    from data_pipeline_childcare_spark.operators.split import stratified_hash_sample

    ev = _t(spark, sf_dir, "events")
    return stratified_hash_sample(
        ev, {"click": 0.1, "purchase": 0.5}
    ).select("event_id", "event_type", "user_id")


def events_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-scan column profile of the events table (rows / nulls /
    exact distincts per column, long form)."""
    from data_pipeline_childcare_spark.operators.profile import profile_columns

    ev = _t(spark, sf_dir, "events")
    return profile_columns(ev, ["event_id", "user_id", "event_type", "value", "props"])


def events_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Efraimidis–Spirakis weighted sample: top-20 events drawn
    proportionally to `value`, deterministic across engines (exact
    power-of-two u, md5-keyed)."""
    from data_pipeline_childcare_spark.operators.split import weighted_sample

    ev = _t(spark, sf_dir, "events")
    return weighted_sample(ev, n=20).select("event_id", "event_type", "value", "rank")


def docs_source_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap (the domain-cap curation step every
    web-scale corpus applies): ≤10 docs per source, chosen by
    deterministic md5 order. Skew-aware two-phase operator
    (operators/split.cap_per_key): only over-cap sources pay the
    window sort; under-cap keys never sort at all."""
    from data_pipeline_childcare_spark.operators.split import cap_per_key

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "lang")
    return cap_per_key(docs, ("source",), cap=10)


def doc_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document (smoothed idf, rounded before
    ranking so the cut is engine-stable)."""
    from data_pipeline_childcare_spark.operators.tfidf import tfidf_top_terms

    return tfidf_top_terms(_t(spark, sf_dir, "documents"), k=3)


def doc_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality metrics per document."""
    from data_pipeline_childcare_spark.operators.cleaning import repetition_stats

    return repetition_stats(_t(spark, sf_dir, "documents"))


def doc_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (operators/tfidf.py): every doc_id%10==0
    document plays the target domain (same convention as the
    contamination check); the rest of the corpus is the pool, weighted
    by the target/pool unigram log-likelihood ratio."""
    from data_pipeline_childcare_spark.operators.tfidf import dsir_logratio_weights

    docs = _t(spark, sf_dir, "documents")
    return dsir_logratio_weights(
        docs.filter(F.col("doc_id") % 10 != 0), docs.filter(F.col("doc_id") % 10 == 0)
    )


def split_leakage_pairs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split contamination check — the training-data hygiene op
    the dedup + split layers exist FOR: near-dup pairs (portable
    MinHash estimate ≥ 0.5) whose members landed in DIFFERENT
    train/val/test splits. A non-empty result means evaluation-set
    leakage; the fix is dedup-before-split or split-by-cluster. Both
    building blocks are independently oracled; this row proves the
    COMPOSITION end-to-end (pairs → split join → mismatch filter).
    Engages cap_per_id=20 (strongest-est_jaccard top-20-per-side,
    oracle-mirrored) — the duplicate-saturation guard: the detector
    keeps each doc's strongest leakage evidence while bounding pair
    volume to linear on verbatim-copy-cluster corpora."""
    from data_pipeline_childcare_spark.operators.dedup import minhash_est_pairs_portable
    from data_pipeline_childcare_spark.operators.split import hash_split

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_est_pairs_portable(docs, threshold=0.5, cap_per_id=20)
    split = hash_split(docs.select("doc_id")).select("doc_id", "split")
    a = split.select(F.col("doc_id").alias("id_a"), F.col("split").alias("split_a"))
    b = split.select(F.col("doc_id").alias("id_b"), F.col("split").alias("split_b"))
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .filter(F.col("split_a") != F.col("split_b"))
        .select("id_a", "id_b", "split_a", "split_b", "est_jaccard")
    )


def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplication matrix: near-dup pairs (portable
    MinHash estimate ≥ 0.5) aggregated by UNORDERED source pair —
    which crawl sources are re-crawling each other's content. The
    curation diagnostic that tells you whether dedup budget should go
    within-source or across; diagonal rows are within-source dup mass.
    Canonical-mean discipline on the Jaccard average keeps the row
    values engine- and partition-order-exact."""
    from data_pipeline_childcare_spark.operators.dedup import minhash_est_pairs_portable

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_est_pairs_portable(docs, threshold=0.5)
    src = docs.select("doc_id", "source")
    a = src.select(F.col("doc_id").alias("id_a"), F.col("source").alias("_sa"))
    b = src.select(F.col("doc_id").alias("id_b"), F.col("source").alias("_sb"))
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .groupBy(
            F.least("_sa", "_sb").alias("source_x"),
            F.greatest("_sa", "_sb").alias("source_y"),
        )
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.round(
                F.round(F.sum("est_jaccard"), 6) / F.count("*"), 6
            ).alias("avg_est_jaccard"),
        )
    )


def doc_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed pretraining corpus gate (Gopher/C4-style): token-count
    window + repetition caps + quality-score floor, evaluated on the
    ROUNDED metric columns so the keep/drop decision is
    engine-portable. One row per doc with the metrics and the verdict
    — the shape a data pipeline materializes before filtering."""
    from data_pipeline_childcare_spark.functions.text import quality_score
    from data_pipeline_childcare_spark.operators.cleaning import repetition_stats

    docs = _t(spark, sf_dir, "documents")
    q = docs.select(
        "doc_id",
        quality_score("text", _QUALITY_STOPWORDS).alias("quality"),
        F.size(tokenize(F.col("text"))).cast("long").alias("n_tokens"),
    )
    r = repetition_stats(docs).select("doc_id", "dup_line_frac", "top_bigram_frac")
    j = q.join(r, "doc_id")
    kept = (
        (F.col("quality") >= 0.3)
        & F.col("n_tokens").between(10, 100_000)
        & (F.col("dup_line_frac") <= 0.3)
        & (F.col("top_bigram_frac") <= 0.2)
    )
    return j.select(
        "doc_id", "quality", "n_tokens", "dup_line_frac", "top_bigram_frac",
        kept.alias("kept"),
    )


def doc_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic md5-keyed train/val/test assignment + 20% sample
    flag — engine-independent (the oracle computes the identical CASE
    over DuckDB's md5), shuffle-free (pure projection)."""
    from data_pipeline_childcare_spark.operators.split import hash_sample_flag, hash_split

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return hash_sample_flag(hash_split(docs), 0.2)


def doc_kfold_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 5-fold CV assignment (operators/split.kfold_assign):
    fold = md5(salt:doc_id) mod k on the first 8 hex chars — a pure
    projection with hash_split's engine-independence; the gate hashes
    the FULL per-row assignment. The grouped (leakage-safe) mode is
    pinned by unit test: keying the same hash by a group column puts
    every member of a near-dup cluster / source domain in one fold."""
    from data_pipeline_childcare_spark.operators.split import kfold_assign

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    return kfold_assign(docs, k=5)


def embedding_cosine_dedup_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup dedup (exact all-pairs baseline; the
    LSH/IVF candidate generators are the scale path — see
    operators/similarity.py)."""
    from data_pipeline_childcare_spark.operators.similarity import embedding_cosine_dedup

    emb = _emb_double(spark, sf_dir)
    return embedding_cosine_dedup(emb, threshold=0.4).select("vec_id", "label")


def hypertable_rollup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily continuous aggregate DERIVED from hourly partials (the raw
    table is scanned once, at the hourly level; the day level
    re-aggregates those partials). The oracle aggregates the raw table
    directly at the day level — equality proves the ladder is exact."""
    from data_pipeline_childcare_spark.operators.hypertable import (
        finalize_rollup,
        hypertable_rollup,
    )

    # spread=False (r13): the hourly rung groups by the time bucket, so
    # the user_id-keyed spread satisfies nothing — its exchange shipped
    # every raw event ahead of a map-side-collapsing aggregate
    ev = _t(spark, sf_dir, "events", spread=False)
    levels = hypertable_rollup(ev, ("1 hour", "1 day"))
    return finalize_rollup(levels["1 day"])


def hypertable_rollup_events_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-level continuous aggregate via the full ladder
    hour→day→month: variable-length month buckets re-aggregate the
    fixed-width day partials (origin 2000-01-01, matching
    TimescaleDB/DuckDB month semantics). The oracle aggregates raw at
    the month level — equality proves the three-rung ladder is exact."""
    from data_pipeline_childcare_spark.operators.hypertable import (
        finalize_rollup,
        hypertable_rollup,
    )

    # spread=False: same reasoning as hypertable_rollup_events
    ev = _t(spark, sf_dir, "events", spread=False)
    levels = hypertable_rollup(ev, ("1 hour", "1 day", "1 month"))
    return finalize_rollup(levels["1 month"])


def streaming_hypertable_rollup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream==batch certified IN the contract surface: the hourly
    fine level maintained by a REAL Structured Streaming run
    (readStream over the events parquet, availableNow trigger,
    watermarked state, memory sink) finalized exactly like the batch
    ladder — the DuckDB oracle is the plain batch SQL, so a green row
    proves the incremental maintenance computes the batch answer
    (streaming/ docstrings; operators/hypertable.py
    streaming_bucket_partials)."""
    import os

    from data_pipeline_childcare_spark.operators.hypertable import (
        finalize_rollup,
        streaming_bucket_partials,
    )

    from pyspark.sql.types import LongType

    ev, raw_schema = _stream_raw(spark, sf_dir, "events")
    if isinstance(raw_schema["ts"].dataType, LongType):
        # nanos-as-long environments: same conversion load_table does
        ev = ev.withColumn(
            "ts",
            F.expr(
                "timestampadd(MICROSECOND, ts div 1000, TIMESTAMP_NTZ '1970-01-01 00:00:00')"
            ),
        )
    fine = streaming_bucket_partials(ev, "1 hour")
    qname = "streaming_hourly_partials_sink"
    for q in spark.streams.active:
        if q.name == qname:
            q.stop()
    query = (
        fine.writeStream.format("memory")
        .queryName(qname)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return finalize_rollup(spark.table(qname))


def streaming_windowed_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second stream==batch contract row: tumbling 1-hour event-time
    windows maintained by a REAL availableNow Structured Streaming run
    (watermarked window state, memory sink); the oracle is the plain
    batch SQL shared with ``windowed_event_counts``. Two independent
    stateful-operator families (window aggregate here, bucket partials
    in ``streaming_hypertable_rollup_events``) are thus certified
    inside the contract surface."""
    import os

    from pyspark.sql.types import LongType

    from data_pipeline_childcare_spark.streaming.windows import windowed_event_counts

    ev, raw_schema = _stream_raw(spark, sf_dir, "events")
    if isinstance(raw_schema["ts"].dataType, LongType):
        ev = ev.withColumn(
            "ts",
            F.expr(
                "timestampadd(MICROSECOND, ts div 1000, TIMESTAMP_NTZ '1970-01-01 00:00:00')"
            ),
        )
    counted = windowed_event_counts(ev, "1 hour")
    qname = "streaming_windowed_counts_sink"
    for q in spark.streams.active:
        if q.name == qname:
            q.stop()
    query = (
        counted.writeStream.format("memory")
        .queryName(qname)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return spark.table(qname)


def streaming_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Third stream==batch contract row: gap-merged SESSION windows
    (streaming/windows.streaming_sessions, F.session_window state
    merged under a watermark) maintained by a real availableNow run —
    the third stateful-operator family (merging session state, after
    tumbling windows and bucket partials) certified inside the
    contract surface. The oracle is the classic gaps-and-islands SQL:
    a session breaks only when the gap is STRICTLY more than 30
    minutes — exactly-gap-apart events MERGE (touching session
    windows coalesce; pinned by the boundary test) — and session_end
    is last-event + gap (Spark session_window semantics)."""
    import os

    from pyspark.sql.types import LongType

    from data_pipeline_childcare_spark.streaming.windows import streaming_sessions

    ev, raw_schema = _stream_raw(spark, sf_dir, "events")
    if isinstance(raw_schema["ts"].dataType, LongType):
        ev = ev.withColumn(
            "ts",
            F.expr(
                "timestampadd(MICROSECOND, ts div 1000, TIMESTAMP_NTZ '1970-01-01 00:00:00')"
            ),
        )
    sess = streaming_sessions(ev, gap="30 minutes")
    qname = "streaming_sessions_sink"
    for q in spark.streams.active:
        if q.name == qname:
            q.stop()
    query = (
        sess.writeStream.format("memory")
        .queryName(qname)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return spark.table(qname).select(
        "user_id",
        "session_start",
        "session_end",
        F.col("n_events").cast("long").alias("n_events"),
    )


def streaming_late_drop_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fifth stream==batch certified family: WATERMARK LATE-DATA
    DROP accounting (streaming/windows.windowed_counts_with_late_drop)
    — the one streaming behavior 100 TB operators page on. Two real
    availableNow runs share one checkpoint: phase 1 ingests the
    on-time history A (events ≤ Jan 26 with event_id % 7 != 0) and
    persists watermark W1 = floor_ms(max ts in A) − 1h; phase 2
    ingests B = the on-time tail (ts > Jan 26) PLUS deliberately late
    replays (old events with event_id % 7 == 0), whose rows are
    dropped exactly when their 1-hour window end ≤ W1 and aggregated
    when their window is still open. The oracle is plain batch SQL
    with the SAME two cutoff predicates (survive: window_end > W1;
    emit: window_end ≤ W2) — hash-equality certifies the drop rule,
    the open-window late aggregation, and the append-mode
    finalization frontier in one row."""
    import tempfile

    from data_pipeline_childcare_spark.streaming.windows import (
        windowed_counts_with_late_drop,
    )

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "event_type", "ts", "value"
    )
    cut = F.expr("TIMESTAMP_NTZ '2024-01-26 00:00:00'")
    a = ev.filter((F.col("ts") <= cut) & (F.col("event_id") % 7 != 0))
    late = ev.filter((F.col("ts") <= cut) & (F.col("event_id") % 7 == 0))
    b = ev.filter(F.col("ts") > cut).unionByName(late)
    tmp = tempfile.mkdtemp(prefix="late_drop_stream_")
    out = windowed_counts_with_late_drop(
        spark, a, b, tmp, window_duration="1 hour", watermark_delay="1 hour"
    )
    return out.select(
        "window_start",
        "window_end",
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        "total_value",
    )


def streaming_stream_stream_join_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SEVENTH stream==batch certified family: STREAM-STREAM
    event-time INTERVAL JOIN
    (streaming/dedup_join.stream_stream_click_purchase) — two REAL
    file streams (clicks, purchases) joined on user inside
    (click_ts, click_ts + 30 min] in one availableNow run. Both
    sides carry watermarks and the join predicate carries the time
    bound — exactly what lets Spark expire join state (the planner
    rejects unbounded stream-stream joins); INNER matches emit as
    they are found, so the availableNow pass yields precisely the
    batch join's pairs and the oracle is the plain batch interval
    join. Timestamps convert tz→ntz on the way out (lossless inverse
    of the operator's session-zone cast — pinned hostile under
    Asia/Shanghai, a no-DST zone)."""
    import os

    from pyspark.sql.types import LongType

    from data_pipeline_childcare_spark.streaming.dedup_join import (
        stream_stream_click_purchase,
    )

    def side(event_type: str) -> DataFrame:
        ev, raw_schema = _stream_raw(spark, sf_dir, "events")
        if isinstance(raw_schema["ts"].dataType, LongType):
            ev = ev.withColumn(
                "ts",
                F.expr(
                    "timestampadd(MICROSECOND, ts div 1000, TIMESTAMP_NTZ '1970-01-01 00:00:00')"
                ),
            )
        return ev.filter(F.col("event_type") == event_type)

    joined = stream_stream_click_purchase(
        side("click"), side("purchase"), horizon="30 minutes", watermark_delay="1 hour"
    )
    qname = "streaming_stream_stream_join_sink"
    for q in spark.streams.active:
        if q.name == qname:
            q.stop()
    query = (
        joined.writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return spark.table(qname).select(
        "user_id",
        F.col("click_ts").cast("timestamp_ntz").alias("click_ts"),
        F.col("purchase_ts").cast("timestamp_ntz").alias("purchase_ts"),
        "purchase_value",
    )


def streaming_stream_stream_left_join_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TENTH stream==batch certified family: STREAM-STREAM event-time
    LEFT-OUTER join
    (streaming/dedup_join.stream_stream_click_purchase_left) — the
    one stateful family the nine inner/agg/dedup certifications don't
    cover, and the classic correctness trap: null-extended rows for
    unmatched clicks must emit ONLY after the join window expires
    past the global watermark, never eagerly. One REAL availableNow
    run over two file streams; matched pairs emit as found (inner
    semantics) and the closing no-data batch emits the null rows for
    every click whose window is provably closed. The oracle is the
    plain batch left-outer interval join FILTERED to ``matched OR
    click_ts + 30min < W_global`` where W_global = min over sides of
    floor_ms(max side event time) − 1h — the measured (strict)
    emission frontier, so hash-equality certifies both the
    null-emission rule and its exact boundary. Timestamps convert
    tz→ntz on the way out, as in the inner family."""
    from pyspark.sql.types import LongType

    from data_pipeline_childcare_spark.streaming.dedup_join import (
        stream_stream_click_purchase_left,
    )

    def side(event_type: str) -> DataFrame:
        ev, raw_schema = _stream_raw(spark, sf_dir, "events")
        if isinstance(raw_schema["ts"].dataType, LongType):
            ev = ev.withColumn(
                "ts",
                F.expr(
                    "timestampadd(MICROSECOND, ts div 1000, TIMESTAMP_NTZ '1970-01-01 00:00:00')"
                ),
            )
        return ev.filter(F.col("event_type") == event_type)

    joined = stream_stream_click_purchase_left(
        side("click"), side("purchase"), horizon="30 minutes", watermark_delay="1 hour"
    )
    qname = "streaming_stream_stream_left_join_sink"
    for q in spark.streams.active:
        if q.name == qname:
            q.stop()
    query = (
        joined.writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return spark.table(qname).select(
        "user_id",
        F.col("click_ts").cast("timestamp_ntz").alias("click_ts"),
        F.col("purchase_ts").cast("timestamp_ntz").alias("purchase_ts"),
        "purchase_value",
    )


def streaming_stream_stream_full_join_events(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ELEVENTH stream==batch certified family: STREAM-STREAM
    event-time FULL-OUTER join
    (streaming/dedup_join.stream_stream_click_purchase_full) — the
    symmetric trap the left-outer family only half-pins: BOTH sides'
    unmatched rows gate on the global watermark, and because the
    interval is asymmetric the frontiers differ IN STRICTNESS, not
    just in value. One REAL availableNow run over two file streams;
    matched pairs emit as found; the closing batches emit null rows
    for every click whose window provably closed (click_ts + 30min <
    W_global, STRICT) and every purchase no future click can strictly
    precede (purchase_ts <= W_global, NON-strict — measured: a
    purchase exactly AT the watermark emits, 1 ms past stays). The
    oracle is the plain batch full-outer interval join filtered to
    ``matched OR expired`` with exactly those two predicates, so
    hash-equality certifies both frontiers and the strictness flip
    between them. Timestamps convert tz→ntz on the way out, as in
    the inner/left families."""
    from pyspark.sql.types import LongType

    from data_pipeline_childcare_spark.streaming.dedup_join import (
        stream_stream_click_purchase_full,
    )

    def side(event_type: str) -> DataFrame:
        ev, raw_schema = _stream_raw(spark, sf_dir, "events")
        if isinstance(raw_schema["ts"].dataType, LongType):
            ev = ev.withColumn(
                "ts",
                F.expr(
                    "timestampadd(MICROSECOND, ts div 1000, TIMESTAMP_NTZ '1970-01-01 00:00:00')"
                ),
            )
        return ev.filter(F.col("event_type") == event_type)

    joined = stream_stream_click_purchase_full(
        side("click"), side("purchase"), horizon="30 minutes", watermark_delay="1 hour"
    )
    qname = "streaming_stream_stream_full_join_sink"
    for q in spark.streams.active:
        if q.name == qname:
            q.stop()
    query = (
        joined.writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    return spark.table(qname).select(
        "user_id",
        F.col("click_ts").cast("timestamp_ntz").alias("click_ts"),
        F.col("purchase_ts").cast("timestamp_ntz").alias("purchase_ts"),
        "purchase_value",
    )


def streaming_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EIGHTH stream==batch certified family: STREAMING DEDUPLICATION
    state (``dropDuplicatesWithinWatermark`` —
    streaming/dedup_join.streaming_dedup) over a REAL availableNow
    file-stream run. The dedup keys are the FULL projected row
    (user_id, event_type, epoch day), so whichever duplicate arrives
    first the emitted row is identical and the oracle is plain
    SELECT DISTINCT — what certifies is the state machinery:
    per-key state inserted on first sight, late twins suppressed,
    state evicted once the watermark passes (bounded by keys per
    horizon, not stream length). The single-file availableNow run
    keeps every duplicate inside the watermark horizon, the regime
    the operator contracts exactness for."""
    from pyspark.sql.types import LongType

    from data_pipeline_childcare_spark.streaming.dedup_join import streaming_dedup

    ev, raw_schema = _stream_raw(spark, sf_dir, "events")
    if isinstance(raw_schema["ts"].dataType, LongType):
        ev = ev.withColumn(
            "ts",
            F.expr(
                "timestampadd(MICROSECOND, ts div 1000, TIMESTAMP_NTZ '1970-01-01 00:00:00')"
            ),
        )
    keyed = ev.select(
        "user_id",
        "event_type",
        F.expr("cast(datediff(to_date(ts), date '1970-01-01') as int)").alias(
            "day"
        ),
        "ts",
    )
    deduped = streaming_dedup(
        keyed, ["user_id", "event_type", "day"], watermark_delay="2 hours"
    )
    qname = "streaming_dedup_sink"
    for q in spark.streams.active:
        if q.name == qname:
            q.stop()
    query = (
        deduped.writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    # the retained first-arrival ts is arrival-order-dependent; the
    # certified surface is the key set, which is order-free
    return spark.table(qname).select("user_id", "event_type", "day")


def streaming_user_stats_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NINTH stream==batch certified family: CUSTOM STATEFUL operator
    via ``applyInPandasWithState``
    (streaming/stateful.running_user_stats_exact) — per-user explicit
    state (count, Σ floor(value·1e6+0.5)) mutated per micro-batch,
    Arrow-batched, the escape hatch for operator semantics Spark's
    declarative surface lacks. Integer-micros accumulation makes the
    state batch-split-invariant, so the final state equals the batch
    aggregate no matter how availableNow chops the input; update-mode
    emissions are cumulative and n_events strictly increases, so
    max(struct(n, total)) per user reads the final state. Oracle =
    the plain batch GROUP BY."""
    from data_pipeline_childcare_spark.streaming.stateful import (
        running_user_stats_exact,
    )

    ev, _ = _stream_raw(spark, sf_dir, "events")
    ev = ev.select("user_id", "value")
    stats = running_user_stats_exact(ev)
    qname = "streaming_user_stats_sink"
    for q in spark.streams.active:
        if q.name == qname:
            q.stop()
    query = (
        stats.writeStream.format("memory")
        .queryName(qname)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    query.awaitTermination()
    final = F.max(F.struct(F.col("n_events"), F.col("total_value_u"))).alias("_s")
    return (
        spark.table(qname)
        .groupBy("user_id")
        .agg(final)
        .select(
            "user_id",
            F.col("_s.n_events").alias("n_events"),
            F.col("_s.total_value_u").alias("total_value_u"),
        )
    )


def gapfill_events_6h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """6-hour buckets densified over the observed range: counts
    zero-filled, per-type avg carried forward (TimescaleDB
    time_bucket_gapfill + locf semantics)."""
    from data_pipeline_childcare_spark.operators.hypertable import (
        bucket_partials,
        time_bucket_gapfill,
    )

    ev = _t(spark, sf_dir, "events")
    # round the sum before dividing: collapses float addition order to
    # one canonical double so the avg is partition- and engine-stable
    b = bucket_partials(ev, "6 hours").select(
        "bucket",
        "event_type",
        "n_events",
        F.round(F.round("sum_value", 4) / F.col("n_events"), 4).alias("avg_value"),
    )
    filled = time_bucket_gapfill(
        b, "6 hours", zero_cols=("n_events",), locf_cols=("avg_value",)
    )
    return filled.select(
        "bucket",
        "event_type",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("avg_value").alias("avg_value_locf"),
    )


# fixed request query for the reranked X-Pilot contract: common tokens
# of the synthetic document corpus so BM25 tf/df stats are non-trivial
_XPILOT_RERANK_QUERY = "window scan sort"


def _xpilot_inputs(spark: SparkSession, sf_dir: str, real_content: bool = False):
    """Deterministic (retrieved, tasks) pair shared by both X-Pilot
    contract queries: 60 chunks, TWO retrieval lists (two-term RRF
    sums are commutative, hence bit-exact in any summation order and
    any engine), three tasks. The oracle twin's `retrieved` CTE states
    the same formulas. ``real_content=True`` carries the first 200
    chars of each document's text as the chunk content (the reranked
    variant needs real tokens for the BM25 default scorer); ``False``
    keeps the compact ``c<doc_id>`` label."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text").filter(
        F.col("doc_id") < 60
    )
    content = (
        F.substring(F.col("text"), 1, 200)
        if real_content
        else F.concat(F.lit("c"), F.col("doc_id"))
    )
    qdf = spark.range(2).select(F.col("id").cast("long").alias("q"))
    retrieved = (
        docs.crossJoin(qdf)
        .filter(((F.col("doc_id") + F.col("q")) % 3) != 0)
        .select(
            F.col("q").alias("query_id"),
            F.col("doc_id").alias("chunk_id"),
            F.round(
                ((F.col("doc_id") * 7 + F.col("q") * 13) % 101) / F.lit(101.0), 6
            ).alias("score"),
            (F.col("doc_id") % 4).alias("database_id"),
            (F.col("doc_id") % 10).alias("document_id"),
            F.col("doc_id").alias("position"),
            content.alias("content"),
        )
    )
    tasks = spark.createDataFrame([("t0",), ("t1",), ("t2",)], "task_id string")
    return retrieved, tasks


def _xpilot_flat(rolled: DataFrame, score_name: str) -> DataFrame:
    """Explode the nested rollup flat so block ORDER is hash-checked."""
    return rolled.select(
        "task_id",
        F.col("database_id").cast("long").alias("database_id"),
        F.col("document_id").cast("long").alias("document_id"),
        F.col("n_blocks").cast("long").alias("n_blocks"),
        F.posexplode("content_blocks").alias("_i", "_b"),
    ).select(
        "task_id",
        "database_id",
        "document_id",
        (F.col("_i") + 1).cast("long").alias("block_idx"),
        F.col("_b.chunk_id").alias("chunk_id"),
        F.round(-F.col("_b.neg_score"), 8).alias(score_name),
        F.col("_b.content").alias("content"),
        "n_blocks",
    )


def xpilot_retrieval_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The X-Pilot RAG lifecycle END-TO-END (SURVEY §3.3, reference
    retrieve.py:1713-1808): per-query ranking → RRF fusion (payload
    first-seen-by-best-rank) → rerank-cap → reference-faithful
    SEQUENTIAL per-task top-k with global dedup (task i's picks are
    invisible to task i+1, retrieve.py:335-387) → db→doc rollup with
    score-ordered blocks, exploded flat so the block ORDER itself is
    hash-verified. Inputs come from ``_xpilot_inputs`` (shared with
    the reranked variant), top_k=4. The DuckDB twin unrolls the three
    sequential dedup rounds."""
    from data_pipeline_childcare_spark.plans.retrieval import xpilot_retrieval

    retrieved, tasks = _xpilot_inputs(spark, sf_dir)
    return _xpilot_flat(xpilot_retrieval(retrieved, tasks, top_k=4), "rrf_score")


def xpilot_retrieval_reranked_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The X-Pilot path WITH the rerank stage engaged (W3), scored by
    the engine's REAL shippable default — ``bm25_rerank_scorer``
    (BM25 of the query terms against each capped candidate's content,
    candidate-set document frequencies; plans/retrieval.py) — standing
    where the reference calls its hosted cross-encoder
    (retrieve.py:184-232). Chunk contents are real document text (the
    first 200 chars), so term/df statistics are non-degenerate;
    distribution and rollup rank on rerank_score. The DuckDB twin
    replays the BM25 formula bit-exactly (integer-valued tf/df/len
    doubles, idf rounded post-ln)."""
    from data_pipeline_childcare_spark.plans.retrieval import (
        bm25_rerank_scorer,
        xpilot_retrieval,
    )

    retrieved, tasks = _xpilot_inputs(spark, sf_dir, real_content=True)
    scorer = bm25_rerank_scorer(_XPILOT_RERANK_QUERY)
    return _xpilot_flat(
        xpilot_retrieval(retrieved, tasks, rerank_scorer=scorer, top_k=4),
        "rerank_score",
    )


def validated_image_refs_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P13 end-to-end — HEAD-validated dead-ref removal
    (functions/markdown.validate_image_refs; reference
    多数据源获取数据.py:570-598): synthesize per-doc markdown with a
    live ref, a non-http ref (scheme guard → invalid without IO) and
    a dead ref; the checker is a DETERMINISTIC stand-in for the real
    HEAD prober (valid iff the basename starts with 'a' — the real
    prober, head_image_checker, runs under the loopback suite over
    real sockets), so the DuckDB twin can emit the post-removal
    markdown closed-form. The full distinct→check-once→join-back→
    per-doc fold pipeline is what's under test; any drift in ref
    extraction, scheme gating, verdict joins or tag removal breaks
    the hash."""
    from data_pipeline_childcare_spark.functions.markdown import validate_image_refs

    docs = _t(spark, sf_dir, "documents").select("doc_id").filter(F.col("doc_id") < 200)
    d = F.col("doc_id").cast("string")
    md = F.concat(
        F.lit("Intro "), d,
        F.lit(" ![fig](http://img.example/a"), d,
        F.lit(".png) mid ![bad](ftp://files/"), d,
        F.lit(") tail ![dead](http://img.example/c"), d,
        F.lit(".png) end"),
    )
    base = docs.select("doc_id", md.alias("text"))

    def checker(urls):
        return ["/a" in u for u in urls]

    return validate_image_refs(base, checker)


def snapshot_drift_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot drift report (operators/drift) between two
    deterministic versions of orders: B drops every 10th order,
    nulls o_custkey on the %7 lattice (null-rate drift), re-types
    o_totalprice to string (type change), drops o_orderpriority
    (removed) and adds priority_flag (added). One wide aggregate per
    side, all verdicts integer-exact (micro rates, cross-multiplied
    relative thresholds); the DuckDB twin replays the per-column
    stats as a UNION ALL and the identical status CASE."""
    from data_pipeline_childcare_spark.operators.drift import snapshot_drift_report

    orders = _t(spark, sf_dir, "orders")
    a = orders.select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority"
    )
    b = orders.filter(F.col("o_orderkey") % 10 != 0).select(
        "o_orderkey",
        F.when(F.col("o_custkey") % 7 == 0, F.lit(None).cast("long"))
        .otherwise(F.col("o_custkey"))
        .alias("o_custkey"),
        "o_orderstatus",
        F.col("o_totalprice").cast("string").alias("o_totalprice"),
        F.col("o_orderpriority").startswith("1").alias("priority_flag"),
    )
    return snapshot_drift_report(a, b)


def ranking_eval_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-evaluation metrics (operators/raneval — the trec_eval
    reduction done Spark-side): a deterministic 8-query run built
    from orders (query = o_custkey % 8, items ranked by
    (o_totalprice DESC, o_orderkey)) scored against graded gold
    (every 3rd orderkey, gain 1 + o_orderkey % 2) at k=10 →
    per-query recall/precision/MRR/nDCG in integer micros. DCG terms
    are floored to micros BEFORE summation (floor(gain·1e6/log2(r+1)
    + 0.5)), so the whole metric set is BIGINT-exact and the DuckDB
    twin replays it bit-for-bit."""
    from data_pipeline_childcare_spark.operators.raneval import ranking_eval
    from data_pipeline_childcare_spark.operators.rrf import rank_lists

    orders = _t(spark, sf_dir, "orders")
    run = rank_lists(
        orders.select(
            (F.col("o_custkey") % 8).alias("query_id"),
            F.col("o_orderkey").alias("item_id"),
            F.col("o_totalprice").alias("score"),
        ),
        "query_id",
        "score",
        "item_id",
    )
    gold = orders.filter(F.col("o_orderkey") % 3 == 0).select(
        (F.col("o_custkey") % 8).alias("query_id"),
        F.col("o_orderkey").alias("item_id"),
        (F.lit(1) + F.col("o_orderkey") % 2).alias("gain"),
    )
    return ranking_eval(run, gold, k=10)


def ranking_eval_orders_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus roll-up of ranking_eval_orders: one row of integer-micro
    means (floor-mean convention) — the headline number a retrieval
    A/B actually reads."""
    from data_pipeline_childcare_spark.operators.raneval import ranking_eval_summary

    return ranking_eval_summary(ranking_eval_orders(spark, sf_dir))


def _quality_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scored-classifier frame for the evaluation family: predictor =
    the heuristic quality score (whose stopword component is
    English-weighted), ground truth = the corpus's labeled language.
    Measures the en-bias every English-tuned quality filter carries on
    multilingual data — a non-degenerate two-class problem with real
    score overlap, and the calibration a data-quality team reads
    before applying the gate corpus-wide."""
    from data_pipeline_childcare_spark.functions.text import quality_score

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        quality_score("text", _QUALITY_STOPWORDS).alias("score"),
        (F.col("lang") == "en").alias("label"),
    )


def classifier_eval_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-classifier evaluation (operators/claseval.py — the
    measurement half of the quality-filter loop, companion to the
    ranking_eval family): quality score vs labeled language → one row
    of confusion counts at threshold 0.78 (inside the score mass, so all
    four cells populate) + accuracy/precision/recall/
    F1, ROC-AUC (Mann-Whitney with average-rank ties), and Brier
    score, all integer micros. Scale shape: ONE groupBy(score_u)
    corpus aggregate; the AUC rank window runs over the ≤1e6-row
    distinct-score table, never a global row sort; O(n²)-sized rank
    sums accumulate in DECIMAL(38,0)."""
    from data_pipeline_childcare_spark.operators.claseval import binary_eval_summary

    return binary_eval_summary(_quality_scored(spark, sf_dir), threshold=0.78)


def classifier_pr_curve_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operating-characteristic sweep (operators/claseval.pr_curve):
    one row per distinct score treated as the inclusive threshold →
    (threshold_u, tp, fp, fn, precision_u, recall_u, f1_u) — every
    possible gate threshold evaluated in ONE descending cumulative
    window over the distinct-score table (≤1e6 rows at any corpus
    size), no per-threshold re-scan. The argmax-F1 row is the
    threshold a quality-filter deployment actually picks."""
    from data_pipeline_childcare_spark.operators.claseval import pr_curve

    return pr_curve(_quality_scored(spark, sf_dir))


def classifier_calibration_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability (calibration) table for the same scored classifier:
    10 equal-width score bins → (bin, n, n_pos, mean_score_u,
    frac_pos_u) in floor-division micros. A calibrated filter has
    mean_score ≈ frac_pos per bin — the plot a data-quality team reads
    before picking the gate threshold. Same single-aggregate shape."""
    from data_pipeline_childcare_spark.operators.claseval import calibration_bins

    return calibration_bins(_quality_scored(spark, sf_dir), n_bins=10)


def scrape_pipeline_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The content-scrape lifecycle (SURVEY §3.2, reference
    多数据源获取数据.py:1716-1819) END-TO-END: binary content →
    Arrow-batched format-dispatched parse → noise-line cleaning
    (P10-P12) → per-origin grouping with the success/failed/
    partial_success status ladder (A8). Inputs synthesized from the
    documents table: 100 fetched rows (url, origin_key, fmt, utf-8
    bytes), with every 10th-ish row declared DOCX so the zip parser
    raises and the error path is exercised. Output is the grouped
    result EXPLODED flat (per-row hash check, no array-order
    dependence) with the error projected to a boolean so the oracle
    does not depend on Python exception strings."""
    from data_pipeline_childcare_spark.plans.scrape import scrape_pipeline

    fetched = (
        _t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 100)
        .select(
            F.concat(F.lit("u"), F.col("doc_id")).alias("url"),
            F.concat(F.lit("g"), (F.col("doc_id") % 5)).alias("origin_key"),
            F.when(F.col("doc_id") % 10 == 7, F.lit("docx"))
            .otherwise(F.lit("txt"))
            .alias("fmt"),
            F.encode(F.col("text"), "utf-8").alias("content"),
        )
    )
    grouped = scrape_pipeline(fetched)
    return grouped.select(
        "origin_key",
        F.col("n_total").cast("long").alias("n_total"),
        F.col("n_failed").cast("long").alias("n_failed"),
        "status",
        F.explode("results").alias("_r"),
    ).select(
        "origin_key",
        "n_total",
        "n_failed",
        "status",
        F.col("_r.url").alias("url"),
        F.col("_r.fmt").alias("fmt"),
        F.col("_r.content").alias("content"),
        F.col("_r.error").isNotNull().alias("failed"),
    )


def search_plan_queries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The search-link planning lifecycle (SURVEY §3.1, reference
    多数据源获取链接.py): distinct rule×query fan-out (A10) →
    deterministic round-robin provider assignment → filtered-query
    assembly for an include-list strategy and a regional-pattern
    strategy, both with after:/before: time suffixes. Pure string/
    window plan over dimension-sized inputs — the crossJoin IS the
    connector-stage parallelism plan."""
    import datetime as dt

    from data_pipeline_childcare_spark.plans.search_plan import (
        SearchStrategy,
        assign_providers,
        build_filtered_query,
        build_search_queries,
    )

    lq = (
        _t(spark, sf_dir, "nation")
        .filter(F.col("n_nationkey") < 8)
        .select(F.col("n_name").alias("query"))
    )
    rs = _t(spark, sf_dir, "region").select(
        F.concat(F.col("r_name"), F.lit(" childcare")).alias("rule_string")
    )
    qs = build_search_queries(lq, rs)
    tasks = assign_providers(qs, ["searchapi", "jina", "firecrawl", "tavily"])
    web = SearchStrategy(
        "web", includes=["site:gov.cn", "site:edu.cn"], supports_time=True
    )
    regional = SearchStrategy(
        "web", regional_patterns=["site:{scope}.gov.cn"], supports_time=True
    )
    after, before = dt.date(2023, 1, 1), dt.date(2024, 12, 31)
    return tasks.select(
        "query",
        "provider",
        build_filtered_query(F.col("query"), web, after=after, before=before).alias(
            "q_web"
        ),
        build_filtered_query(
            F.col("query"),
            regional,
            regional_scope_domain="sc",
            after=after,
            before=before,
        ).alias("q_regional"),
    )


def moe_html_scan_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 MOE registry HTML table scan end-to-end: synthesized pages
    (two valid table_list rows each, plus a short-row guard case and
    a class-less row that must NOT match) → regexp row/cell
    extraction with tag stripping → 7-column projection → the kv RAG
    block (moe_majors_scraper.py:55-70,149-157). All JVM regexp
    column expressions; the twin runs the same RE2-compatible
    patterns in DuckDB."""
    from data_pipeline_childcare_spark.sources.moe_html import (
        MOE_COLUMNS,
        extract_moe_rows,
        moe_rows_to_rag_blocks,
    )

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 40).select("doc_id")
    i = F.col("doc_id").cast("string")
    html = F.concat(
        F.lit("<html><table>"),
        F.lit('<tr class="table_list"><td> P'), i, F.lit(" </td><td>M0"), i,
        F.lit("</td><td><b>Major "), i, F.lit("</b></td><td>S"), i,
        F.lit("</td><td>School "), i, F.lit("</td><td>3</td><td></td></tr>"),
        F.lit('<tr class="table_list"><td>x</td></tr>'),
        F.lit("<tr><td>a</td><td>b</td><td>c</td><td>d</td><td>e</td><td>f</td><td>g</td></tr>"),
        F.lit('<tr class="table_list"><td>P'), i, F.lit("b</td><td>M1"), i,
        F.lit("</td><td>Major B"), i, F.lit("</td><td>T"), i,
        F.lit("</td><td>School B"), i, F.lit("</td><td>4</td><td>note</td></tr>"),
        F.lit("</table></html>"),
    )
    pages = docs.select("doc_id", html.alias("html"), F.lit(2024).alias("year"))
    rows = extract_moe_rows(pages)
    out = moe_rows_to_rag_blocks(rows)
    return out.select("doc_id", *MOE_COLUMNS, "block")


def markdown_image_rewrite_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S15/J6/P13 dataflow end-to-end: markdown image-ref extraction
    (reading order, ≤25 cap), the case-insensitive
    basename-sans-extension rewrite join against an uploads dim
    (uploaded 'fig_N.png' must rewrite the doc's 'images/Fig_N.PNG'
    ref), unmatched refs left intact, and the dead-ref strip column.
    The DuckDB twin states the expected rewrite INDEPENDENTLY (direct
    string construction), so a broken name-key join cannot
    hash-match."""
    from data_pipeline_childcare_spark.functions.markdown import (
        drop_image_refs,
        extract_image_refs,
        rewrite_image_refs,
    )

    base = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    i = F.col("doc_id").cast("string")
    text = F.concat(
        F.lit("Intro "), i,
        F.lit(" ![fig](images/Fig_"), i, F.lit(".PNG) middle "),
        F.lit("![x](http://ext/keep_"), i, F.lit(".jpg) "),
        F.lit("![dead](local/dead_"), i, F.lit(".png) end"),
    )
    docs = base.select("doc_id", text.alias("text"))
    uploads = base.select(
        F.concat(F.lit("fig_"), i, F.lit(".png")).alias("filename"),
        F.concat(F.lit("https://cdn/f"), i, F.lit(".png")).alias("served_url"),
    )
    rewritten = rewrite_image_refs(docs, uploads)
    return rewritten.select(
        "doc_id",
        "text",
        F.array_join(extract_image_refs(F.col("text")), ",").alias("refs_after"),
        drop_image_refs(F.col("text")).alias("text_stripped"),
    )


def chunk_doc_meta_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1 end-to-end: chunk rows enriched with the (database_id,
    document_id) metadata dim via a broadcast LEFT OUTER join —
    missing detail yields nulls (the reference's empty dict,
    retrieve.py:241-274). Chunks synthesized from documents; the meta
    dim deliberately covers only half the (db, doc) keys so the
    outer-ness itself is hash-verified."""
    from data_pipeline_childcare_spark.plans.retrieval import (
        enrich_chunks_with_doc_meta,
    )

    base = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    chunks = base.select(
        F.col("doc_id").alias("chunk_id"),
        (F.col("doc_id") % 3).alias("database_id"),
        (F.col("doc_id") % 20).alias("document_id"),
        F.substring("text", 1, 40).alias("content"),
    )
    meta = (
        base.filter(F.col("doc_id") < 30)
        .select(
            (F.col("doc_id") % 3).alias("database_id"),
            (F.col("doc_id") % 20).alias("document_id"),
        )
        .distinct()
        .withColumn(
            "doc_name",
            F.concat(F.lit("doc-"), F.col("database_id"), F.lit("-"), F.col("document_id")),
        )
    )
    return enrich_chunks_with_doc_meta(chunks, meta).select(
        "chunk_id", "database_id", "document_id", "content", "doc_name"
    )


def _video_scripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One deterministic 3-scene script JSON per doc_id < 30: scene 0
    has an estimated duration + knowledge, scene 1 is an 'ending' with
    a RELATIVE subtitle and the duration fallback, scene 2 has a
    zero estimate (fallback to duration) and a bare subtitle field —
    exercising every fallback chain in the outline/subtitle math."""
    base = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 30)
    i = F.col("doc_id")
    d0 = (i % 7 + 3).cast("double").cast("string")
    d1 = (i % 5 + 2).cast("double").cast("string")
    d2 = (i % 4 + 1).cast("double").cast("string")
    js = F.concat(
        F.lit('{"scenes": [{"id": "s0", "title": "T'), i.cast("string"),
        F.lit('", "estimated_duration_seconds": '), d0,
        F.lit(', "scene_knowledge": "k"}, '),
        F.lit('{"id": "s1", "type": "ending", "title": "", "duration": '), d1,
        F.lit(', "subtitles": [{"id": "u1", "start_time_seconds": 1.5, '
              '"end_time_seconds": 3.0, "text": "x"}], "target": "t"}, '),
        F.lit('{"id": "s2", "estimated_duration_seconds": 0, "duration": '), d2,
        F.lit(', "subtitle": "sub"}]}'),
    )
    return base.select(
        F.concat(F.lit("v"), i.cast("string")).alias("video_id"), js.alias("script")
    )


def video_timeline_outline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dify_transformation outline lifecycle (A9) end-to-end:
    script JSON → typed scenes → cumulative running-sum timeline with
    MM:SS formatting and the reference's title/description/duration
    fallback chains — against a twin that states the expected rows
    independently."""
    from data_pipeline_childcare_spark.operators.timeline import (
        outline,
        scenes_from_json,
    )

    sc = scenes_from_json(_video_scripts(spark, sf_dir), "script")
    return outline(sc).select(
        "video_id",
        "id",
        F.col("index").cast("int").alias("index"),
        "title",
        "description",
        "duration",
        "startTime",
        "endTime",
        "raw_duration",
    )


def video_subtitles_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5 subtitle absolute-time repair end-to-end: the synthesized
    scene-1 subtitle is RELATIVE (raw start 1.5 < its scene's absolute
    start), so it must shift by the scene offset and keep its
    duration."""
    from data_pipeline_childcare_spark.operators.timeline import (
        scenes_from_json,
        subtitles,
    )

    sc = scenes_from_json(_video_scripts(spark, sf_dir), "script")
    return subtitles(sc)


def rerank_positional_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 end-to-end: an external reranker returns (index,
    relevance_score) pairs POSITIONAL to the candidate ordering
    (retrieve.py:215-227); the join key is re-derived with a
    row_number over the same ordering. Scores are synthesized for the
    top-20 positions only, so the left-outer nulls verify the
    positional cutoff; candidate scores are collision-free by
    construction (37 is invertible mod 101) so the ordering is
    unambiguous."""
    from data_pipeline_childcare_spark.operators.rrf import attach_rerank_scores

    sup = _t(spark, sf_dir, "supplier").filter(F.col("s_suppkey") < 50)
    cand = sup.select(
        "s_suppkey",
        F.round(((F.col("s_suppkey") * 37) % 101) / F.lit(101.0), 6).alias("rrf_score"),
    )
    scores = spark.range(20).select(
        F.col("id").cast("int").alias("index"),
        F.round(1.0 - F.col("id") * 0.01, 6).alias("relevance_score"),
    )
    return attach_rerank_scores(cand, scores).select(
        "s_suppkey", "rrf_score", "relevance_score"
    )


def doc_shared_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level duplication: longest contiguous token span
    shared between document pairs (suffix-array-dedup signal via a
    positional inverted 5-gram index; set-level Jaccard cannot see
    contiguity). Portable md5 shingle keys — fully DuckDB-oracled."""
    from data_pipeline_childcare_spark.operators.dedup import shared_span_pairs

    docs = _t(spark, sf_dir, "documents")
    return shared_span_pairs(docs, k=5, min_span_tokens=10)


def doc_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document out-of-vocabulary rate vs the corpus top-256
    vocabulary — tokenizer-coverage check before vocab commit."""
    from data_pipeline_childcare_spark.operators.tfidf import doc_oov_rates

    docs = _t(spark, sf_dir, "documents")
    return doc_oov_rates(docs, vocab_size=256)


def source_mixture_weights_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixing weights: per-source token shares and the sampling
    multiplier that rebalances the corpus to a uniform token mixture."""
    from data_pipeline_childcare_spark.operators.split import source_mixture_weights

    docs = _t(spark, sf_dir, "documents")
    return source_mixture_weights(docs)


def dedup_method_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-method AUDIT: pairwise agreement between the engine's
    three near-dup detectors (portable MinHash ≥0.5, portable SimHash
    hamming ≤3, exact 3-gram Jaccard ≥0.2) — the cross-validation
    table a curation run inspects before trusting one method's drops.
    Pair sets are the banded detector outputs (bounded), and two
    volume guards keep the audit linear on duplicate-saturated
    corpora (a verbatim c-copy cluster otherwise emits ~c²/2 pairs
    per method): the ngram leg runs with the hot-shingle df-cap
    (max_df=64 — boilerplate trigrams leave the inverted index before
    the self-join), and every method's pair set is capped to each
    document's top-8 strongest neighbors per side
    (cap_pairs_per_doc). The DuckDB twin replays both guards
    (identical df filter + row_number windows), so the oracle stays
    hash-exact."""
    from data_pipeline_childcare_spark.operators.dedup import (
        cap_pairs_per_doc,
        minhash_est_pairs_portable,
        ngram_jaccard_pairs,
        simhash_pairs_portable,
    )

    docs = _t(spark, sf_dir, "documents")
    cap = 8
    methods = [
        (
            "minhash",
            cap_pairs_per_doc(
                minhash_est_pairs_portable(docs, threshold=0.5),
                cap,
                [F.desc("est_jaccard")],
            ),
        ),
        (
            "ngram",
            cap_pairs_per_doc(
                ngram_jaccard_pairs(docs, n=3, threshold=0.2, max_df=64),
                cap,
                [F.desc("jaccard")],
            ),
        ),
        (
            "simhash",
            cap_pairs_per_doc(
                simhash_pairs_portable(docs, max_hamming=3),
                cap,
                [F.asc("hamming")],
            ),
        ),
    ]
    tagged = None
    for name, df in methods:
        t = df.select(F.lit(name).alias("m"), "id_a", "id_b")
        tagged = t if tagged is None else tagged.unionByName(t)
    totals = tagged.groupBy("m").agg(F.count("*").alias("n"))
    a, b = tagged.alias("a"), tagged.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.id_a") == F.col("b.id_a"))
            & (F.col("a.id_b") == F.col("b.id_b"))
            & (F.col("a.m") < F.col("b.m")),
        )
        .groupBy(F.col("a.m").alias("method_a"), F.col("b.m").alias("method_b"))
        .agg(F.count("*").alias("n_common"))
    )
    t1 = totals.select(F.col("m").alias("method_a"), F.col("n").alias("_na"))
    t2 = totals.select(F.col("m").alias("method_b"), F.col("n").alias("_nb"))
    pairs = t1.crossJoin(t2).filter(F.col("method_a") < F.col("method_b"))
    nc = F.coalesce(F.col("n_common"), F.lit(0))
    return (
        pairs.join(common, ["method_a", "method_b"], "left")
        .select(
            "method_a",
            "method_b",
            F.col("_na").cast("long").alias("n_a"),
            F.col("_nb").cast("long").alias("n_b"),
            nc.cast("long").alias("n_common"),
            F.round(nc / (F.col("_na") + F.col("_nb") - nc), 6).alias("pair_jaccard"),
        )
    )


def source_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened (α=0.5) domain mixture — the mT5/XLM-R
    multilingual sampling trick (operators/split.py
    temperature_mixture_weights); pre-rounded shares before the pow
    keep the twin hash-exact."""
    from data_pipeline_childcare_spark.operators.split import (
        temperature_mixture_weights,
    )

    docs = _t(spark, sf_dir, "documents")
    return temperature_mixture_weights(docs, alpha=0.5)


def hard_negatives_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard-negative mining: for anchors vec_id < 3, the
    top-5 most-cosine-similar vectors with a DIFFERENT label."""
    from data_pipeline_childcare_spark.operators.similarity import hard_negative_topk

    emb = _emb_double(spark, sf_dir)
    anchors = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("embedding").alias("anchor_vec"),
        F.col("label").alias("anchor_label"),
    )
    out = hard_negative_topk(emb, anchors, k=5)
    return out.select(
        "anchor_id", "vec_id", "label", "cosine_sim", F.col("rank").cast("int").alias("rank")
    )


def mmr_diverse_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity-aware re-rank: cosine top-20 per anchor (vec_id < 2)
    narrowed to 5 by Maximal Marginal Relevance (lam=0.5) — greedy
    iterations unrolled identically in the DuckDB twin."""
    from data_pipeline_childcare_spark.operators.similarity import (
        cosine_topk_bruteforce,
        mmr_select,
    )

    emb = _emb_double(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    top = cosine_topk_bruteforce(emb, q, k=20)
    cand = top.join(emb.select("vec_id", "embedding"), "vec_id").select(
        "query_id",
        "vec_id",
        F.col("cosine_sim").alias("rel_score"),
        "embedding",
    )
    return mmr_select(cand, k=5, lam=0.5)


def lang_fertility_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility by detected language: BPE-pretokenizer
    tokens per whitespace word, aggregated per lang-id group — the
    per-language token-budget inflation a multilingual corpus carries
    into LLM training."""
    from data_pipeline_childcare_spark.functions.text import (
        bpe_like_token_count,
        lang_guess,
        token_count,
    )

    docs = _t(spark, sf_dir, "documents")
    per_doc = docs.select(
        lang_guess("text").alias("lang_guess"),
        token_count("text").cast("long").alias("_ws"),
        bpe_like_token_count("text").cast("long").alias("_bpe"),
    )
    sum_ws = F.sum("_ws").cast("long")
    sum_bpe = F.sum("_bpe").cast("long")
    return per_doc.groupBy("lang_guess").agg(
        F.count("*").cast("long").alias("n_docs"),
        sum_ws.alias("ws_tokens"),
        sum_bpe.alias("bpe_tokens"),
        F.round(
            F.when(sum_ws > 0, sum_bpe / sum_ws).otherwise(F.lit(0.0)), 6
        ).alias("fertility"),
    )


def _dirty_customer_registry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic dirty registry derived from customer × nation:
    every entity appears as a clean CRM row plus a token-reordered
    upper-cased billing variant, and every third entity also as a
    token-dropping legacy row. The perturbations are pure column
    expressions, so the DuckDB twin rebuilds the identical registry."""
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    base = cust.join(
        nation, cust["c_nationkey"] == nation["n_nationkey"]
    ).select(
        "c_custkey",
        "n_name",
        "c_mktsegment",
        "c_acctbal",
        F.col("c_custkey").cast("string").alias("_key_tok"),
    )
    clean = base.select(
        (F.col("c_custkey") * 10).alias("rec_id"),
        F.concat_ws(" ", "n_name", "c_mktsegment", "_key_tok").alias("rec_name"),
        F.col("c_acctbal").alias("rec_balance"),
        F.lit("crm").alias("rec_source"),
    )
    billing = base.select(
        (F.col("c_custkey") * 10 + 1).alias("rec_id"),
        F.upper(
            F.concat_ws(" ", "c_mktsegment", "n_name", "_key_tok")
        ).alias("rec_name"),
        F.col("c_acctbal").alias("rec_balance"),
        F.lit("billing").alias("rec_source"),
    )
    legacy = base.filter(F.col("c_custkey") % 3 == 0).select(
        (F.col("c_custkey") * 10 + 2).alias("rec_id"),
        F.concat_ws(" ", "n_name", "_key_tok").alias("rec_name"),
        F.floor("c_acctbal").cast("double").alias("rec_balance"),
        F.lit("legacy").alias("rec_source"),
    )
    # lazy checkpoint (r13): every ER consumer reads the registry
    # several times (blocking keys, BOTH name-token join sides, the
    # resolver's full-id frame, the survivorship join) — without the
    # cut each read re-ran the 3-leg union-of-joins build. At real
    # scale the registry is a TABLE and this materialization is the
    # scan reuse a lake gives for free. Freed on GC; never
    # CacheManager-registered (no cross-run reuse). r14: routed
    # through resilient_checkpoint so production sessions can flip
    # spark.graft.checkpoint.reliable=true and survive executor loss
    # (localCheckpoint blocks are non-recomputable — guide §5).
    from data_pipeline_childcare_spark.io import resilient_checkpoint

    return resilient_checkpoint(clean.unionByName(billing).unionByName(legacy))


def entity_resolution_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution over a dirty customer registry
    (operators/er.py): multi-pass blocking (token-set fingerprint +
    discriminative single tokens, hot-block capped at 50) → candidate
    pairs within blocks only → integer-exact token Jaccard → match at
    ≥3/5 via cross-multiplication → connected components → one
    cluster id per record. Non-discriminative tokens (nation,
    segment) form oversized blocks the cap rejects; the custkey digit
    token carries recall, so the pipeline re-unites each entity's
    variants without any all-pairs stage. Reference parity: the
    collect-unique merge in 生成行业调研报告.py generalized to fuzzy
    identity (SURVEY §2.7)."""
    from data_pipeline_childcare_spark.operators.er import resolve_entities

    reg = _dirty_customer_registry(spark, sf_dir)
    return resolve_entities(
        reg, "rec_id", "rec_name", threshold_num=3, threshold_den=5, max_block=50
    ).select(F.col("id").alias("rec_id"), "cluster_id")


def er_golden_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship on top of entity resolution: per resolved cluster
    keep the most complete name (longest, ties → lexicographically
    smallest), the max balance across source systems, and the record
    count — the canonical golden-record merge step after linkage."""
    from data_pipeline_childcare_spark.operators.er import resolve_entities

    reg = _dirty_customer_registry(spark, sf_dir)
    clusters = resolve_entities(
        reg, "rec_id", "rec_name", threshold_num=3, threshold_den=5, max_block=50
    )
    joined = reg.join(
        clusters.select(F.col("id").alias("rec_id"), "cluster_id"), "rec_id"
    )
    return joined.groupBy("cluster_id").agg(
        F.count("*").cast("long").alias("n_records"),
        F.expr(
            "min_by(rec_name, struct(-length(rec_name), rec_name))"
        ).alias("golden_name"),
        F.max("rec_balance").alias("balance_max"),
        F.countDistinct("rec_source").cast("long").alias("n_sources"),
    )


def er_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise precision/recall/F1 of the ER pipeline against the
    registry's built-in ground truth (operators/er.
    pairwise_cluster_metrics): rec_id div 10 recovers the generating
    custkey, so every resolved cluster is scored against the true
    entity partition. Pair counts come from cluster-size
    combinatorics (Σ C(n,2) over predicted / true / contingency
    cells) — three keyed count aggregates, no pair materialization,
    O(n) at any corpus size. Scores are integer ppm; F1 collapses to
    2·common/(pred+true) exactly, so the DuckDB twin matches
    bit-for-bit."""
    from data_pipeline_childcare_spark.operators.er import (
        pairwise_cluster_metrics,
        resolve_entities,
    )

    reg = _dirty_customer_registry(spark, sf_dir)
    clusters = resolve_entities(
        reg, "rec_id", "rec_name", threshold_num=3, threshold_den=5, max_block=50
    )
    assign = clusters.withColumn("entity_id", F.expr("id div 10"))
    return pairwise_cluster_metrics(assign, "cluster_id", "entity_id")


def coreset_coverage_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Facility-location coverage certificate
    (operators/similarity.coreset_coverage) for a deterministic
    FIXED-k representative subset (vec_id % 25 == 0 AND vec_id <
    2000 — a coreset is fixed-size by definition, so the audit cost
    stays corpus × k linear at any corpus scale; the oracle rebuilds
    the same set closed-form): mean/min max-cosine coverage of the
    corpus and the ≥0.9-covered count. The audit one runs AFTER
    k-center/MMR/semdedup selection to certify the subset; broadcast
    nested loop over the small rep side, one corpus-keyed max, one
    reduce."""
    from data_pipeline_childcare_spark.operators.similarity import (
        coreset_coverage,
    )

    emb = _t(spark, sf_dir, "embeddings")
    reps = emb.filter((F.col("vec_id") % 25 == 0) & (F.col("vec_id") < 2000))
    return coreset_coverage(emb, reps)


def er_incremental_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-incremental ER (operators/er.assign_to_entities): the
    crm+billing registry is resolved once (the standing 100 TB
    history), then the legacy feed arrives as a new batch and each
    legacy record either joins its best-matching existing entity
    (argmax fixed-point Jaccard, smallest cluster id on ties) or
    founds a new singleton — no re-resolution of the history. The
    DuckDB twin rebuilds both stages closed-form."""
    from data_pipeline_childcare_spark.operators.er import (
        assign_to_entities,
        resolve_entities,
    )

    reg = _dirty_customer_registry(spark, sf_dir)
    base = reg.filter(F.col("rec_source") != "legacy")
    incoming = reg.filter(F.col("rec_source") == "legacy")
    resolved = resolve_entities(
        base, "rec_id", "rec_name", threshold_num=3, threshold_den=5, max_block=50
    )
    existing = base.join(
        resolved.select(F.col("id").alias("rec_id"), "cluster_id"), "rec_id"
    ).select(F.col("rec_id").alias("id"), "cluster_id", F.col("rec_name").alias("name"))
    inc = incoming.select(
        F.col("rec_id").alias("id"), F.col("rec_name").alias("name")
    )
    return assign_to_entities(
        existing, inc, "id", "name", "cluster_id",
        threshold_num=3, threshold_den=5, max_block=50,
    )


def er_quality_audit_idf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pairwise audit re-run over the idf-weighted resolver
    (operators/er.resolve_entities_idf) — the principled fix for the
    over-merge er_quality_audit exposed: tokens weigh 1e6 div df
    (integer inverse frequency, no logarithm), so corpus-common
    nation/segment tokens can no longer carry a cross-entity pair
    over the threshold while the rare key token keeps same-entity
    pairs matched. The paired rows tell the full governance story:
    plain precision ~0.23 → idf precision ~1.0 at equal recall."""
    from data_pipeline_childcare_spark.operators.er import (
        pairwise_cluster_metrics,
        resolve_entities_idf,
    )

    reg = _dirty_customer_registry(spark, sf_dir)
    clusters = resolve_entities_idf(
        reg, "rec_id", "rec_name", threshold_num=3, threshold_den=5, max_block=50
    )
    assign = clusters.withColumn("entity_id", F.expr("id div 10"))
    return pairwise_cluster_metrics(assign, "cluster_id", "entity_id")


def _tuoyu_institution_registry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Institution-filing registry in the reference's EXACT corpus
    shape — `key：value` blocks with 机构名称/别名/统一社会信用代码/
    机构类型/详细地址/备案及完成时间/区域编号 lines
    (data/split_txts_by_year/*.txt:1-7; parse grammar
    retrieve.py:909-934) — synthesized deterministically from
    customer × nation and pushed through the REAL engine parse path
    (functions.text.kv_block_to_map → operators.rules.record_type_col
    content sniff → sources.record_blocks.institution_records typed
    projection), so the query certifies the parse AND the resolution.

    Three filings per entity (custkey): A) the canonical filing,
    alias == name — the dominant shape in the reference dump; B) a
    re-filing under a generic name whose 别名 ALONE carries the
    discriminative 机构<k> token (the alias-aware recall case: a
    name-only resolver cannot reach it); C) every third entity a
    token-reordered filing with NO 别名 line (missing-field
    handling). rec_id is recovered from the credit code
    (CC<k><A|B|C>) — the natural key, exactly as a production ingest
    would do. Truth for the audits: rec_id div 10 == custkey."""
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    base = cust.join(
        nation, cust["c_nationkey"] == nation["n_nationkey"]
    ).select(
        "c_custkey",
        F.lower("n_name").alias("_nn"),
        F.lower("c_mktsegment").alias("_seg"),
        F.col("n_nationkey").cast("string").alias("_region"),
        F.col("c_custkey").cast("string").alias("_k"),
    )
    typ = F.element_at(
        F.array(F.lit("营利性"), F.lit("非营利性"), F.lit("事业单位")),
        (F.col("c_custkey") % 3 + 1).cast("int"),
    )

    def _ts(extra_days: int):
        return F.concat(
            F.date_format(
                F.date_add(
                    F.to_date(F.lit("2018-01-01")),
                    (F.col("c_custkey") % 1461 + extra_days).cast("int"),
                ),
                "yyyy-MM-dd",
            ),
            F.lit(" 08:30:00"),
        )

    def _blk(name, alias, code_sfx: str, ts):
        lines = [F.concat(F.lit("机构名称："), name)]
        if alias is not None:
            lines.append(F.concat(F.lit("别名："), alias))
        lines.extend(
            [
                F.concat(
                    F.lit("统一社会信用代码：CC"), F.col("_k"), F.lit(code_sfx)
                ),
                F.concat(F.lit("机构类型："), typ),
                F.concat(
                    F.lit("详细地址："), F.col("_nn"),
                    F.lit(" 托育路"), F.col("_k"), F.lit("号"),
                ),
                F.concat(F.lit("备案及完成时间："), ts),
                F.concat(F.lit("区域编号："), F.col("_region")),
            ]
        )
        return F.concat_ws("\n", *lines)

    name_a = F.concat(F.lit("托育园 机构"), F.col("_k"), F.lit(" "), F.col("_nn"))
    a = base.select(_blk(name_a, name_a, "A", _ts(0)).alias("block"))
    b = base.select(
        _blk(
            F.concat(F.col("_nn"), F.lit(" 备案 托育中心")),
            F.concat(F.lit("机构"), F.col("_k"), F.lit(" 托育园")),
            "B",
            _ts(30),
        ).alias("block")
    )
    c = base.filter(F.col("c_custkey") % 3 == 0).select(
        _blk(
            F.concat(
                F.lit("机构"), F.col("_k"), F.lit(" "),
                F.col("_nn"), F.lit(" "), F.col("_seg"),
            ),
            None,
            "C",
            _ts(60),
        ).alias("block")
    )
    from data_pipeline_childcare_spark.sources.record_blocks import (
        institution_records,
        parse_blocks,
    )

    inst = institution_records(
        parse_blocks(a.unionByName(b).unionByName(c))
    )
    return inst.withColumn(
        "rec_id",
        F.regexp_extract("credit_code", r"^CC(\d+)", 1).cast("long") * 10
        + F.when(F.substring("credit_code", -1, 1) == "A", F.lit(0))
        .when(F.substring("credit_code", -1, 1) == "B", F.lit(1))
        .otherwise(F.lit(2)),
    )


def _tuoyu_er_clusters(spark: SparkSession, sf_dir: str, alias_aware: bool):
    from data_pipeline_childcare_spark.operators.er import resolve_entities_idf

    recs = _tuoyu_institution_registry(spark, sf_dir)
    key = (
        F.concat_ws(" ", "name", "alias") if alias_aware else F.col("name")
    )
    clusters = resolve_entities_idf(
        recs, "rec_id", key, threshold_num=3, threshold_den=5, max_block=50
    )
    return recs, clusters


def tuoyu_er_golden_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end ER on the reference's institution-registry corpus
    shape (round-10 verdict ask #2): KV blocks → real parse path →
    ALIAS-AWARE blocking and idf-weighted similarity (the match key
    is the name ∪ 别名 token set — concat_ws skips the missing-alias
    rows) → connected components → golden records with field
    survivorship: longest-then-smallest name and alias (the most
    complete filing wins, engine-portable tie-break), earliest
    备案及完成时间, min 区域编号, distinct credit-code count. The
    B filings are reachable ONLY through their alias tokens —
    `tuoyu_er_quality_audit` (P=R=1e6) vs `_nameonly` (recall
    200000 ppm) quantifies exactly that."""
    recs, clusters = _tuoyu_er_clusters(spark, sf_dir, alias_aware=True)
    joined = recs.join(
        clusters.select(F.col("id").alias("rec_id"), "cluster_id"), "rec_id"
    )
    return joined.groupBy("cluster_id").agg(
        F.count("*").cast("long").alias("n_records"),
        F.expr("min_by(name, struct(-length(name), name))").alias(
            "golden_name"
        ),
        F.expr(
            "nullif(min_by(coalesce(alias, ''),"
            " struct(-length(coalesce(alias, '')), coalesce(alias, ''))), '')"
        ).alias("golden_alias"),
        F.min("registered_at").cast("timestamp_ntz").alias("first_registered"),
        F.min("region_code").alias("region_code"),
        F.countDistinct("credit_code").cast("long").alias("n_filings"),
    )


def tuoyu_er_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise P/R/F1 of the ALIAS-AWARE resolver on the tuoyu
    institution registry against the generating custkey truth —
    expected exactly (1e6, 1e6, 1e6): every B filing is re-united
    through its 别名 tokens, and idf weighting keeps the corpus-hot
    tokens (托育园/备案/nation names) from merging across entities."""
    from data_pipeline_childcare_spark.operators.er import (
        pairwise_cluster_metrics,
    )

    _, clusters = _tuoyu_er_clusters(spark, sf_dir, alias_aware=True)
    assign = clusters.withColumn("entity_id", F.expr("id div 10"))
    return pairwise_cluster_metrics(assign, "cluster_id", "entity_id")


def tuoyu_er_quality_audit_nameonly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CONTROL row: the identical resolver run on 机构名称 alone.
    The B filings carry their discriminative token only in 别名, so
    name-only matching fails BOTH ways: recall collapses to the A–C
    pairs (exactly 200000 ppm: 500 of 2500 true pairs), and precision
    drops too (105263 ppm) — generic-name B filings within
    small-enough nations become IDENTICAL token sets and merge across
    entities. Paired with `tuoyu_er_quality_audit` (1e6/1e6) this is
    the measured argument for alias-aware ER on the reference's own
    corpus shape."""
    from data_pipeline_childcare_spark.operators.er import (
        pairwise_cluster_metrics,
    )

    _, clusters = _tuoyu_er_clusters(spark, sf_dir, alias_aware=False)
    assign = clusters.withColumn("entity_id", F.expr("id div 10"))
    return pairwise_cluster_metrics(assign, "cluster_id", "entity_id")


def er_bcubed_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B³ precision/recall/F1 of the ER pipeline vs the built-in
    truth (operators/er.bcubed_metrics, Bagga & Baldwin 1998) — the
    record-averaged companion to er_quality_audit's pairwise scores
    (B³ weights big-cluster mistakes linearly, pairwise
    quadratically; ER evals report both). One (pred, true) contingency
    aggregate + two side-size aggregates, fixed-point micro terms —
    no record-level or pair-level materialization."""
    from data_pipeline_childcare_spark.operators.er import (
        bcubed_metrics,
        resolve_entities,
    )

    reg = _dirty_customer_registry(spark, sf_dir)
    clusters = resolve_entities(
        reg, "rec_id", "rec_name", threshold_num=3, threshold_den=5, max_block=50
    )
    assign = clusters.withColumn("entity_id", F.expr("id div 10"))
    return bcubed_metrics(assign, "cluster_id", "entity_id")


def er_blocking_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-stage quality audit (operators/er.blocking_audit,
    Christen 2012): pair completeness of the multi-pass blocking
    (tok: + deletion-neighborhood) against the registry's built-in
    truth, plus the reduction ratio vs all-pairs C(N,2) — the recall
    ceiling and the cost saving of the blocking stage, measured
    before any similarity math runs. True-pair totals come from
    entity-size combinatorics; candidate truth labels are two
    id-keyed joins onto the hot-block-capped candidate set; C(N,2)
    is DECIMAL(38,0) (overflows BIGINT at 10¹⁰ records)."""
    from data_pipeline_childcare_spark.operators.er import (
        blocking_audit,
        blocking_keys,
        candidate_pairs,
    )

    reg = _dirty_customer_registry(spark, sf_dir)
    cand = candidate_pairs(blocking_keys(reg, "rec_id", "rec_name"), 50)
    truth = reg.select(
        F.col("rec_id").alias("id"), F.expr("rec_id div 10").alias("entity_id")
    )
    return blocking_audit(cand, truth, "id", "entity_id")


# ---------------------------------------------------------------------------
# contract surface
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q5_nation_revenue(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "q1_pricing_summary": q1_pricing_summary,
        "q3_top_revenue_orders": q3_top_revenue_orders,
        "q5_nation_revenue": q5_nation_revenue,
        "top3_orders_per_customer": top3_orders_per_customer,
        "events_running_total": events_running_total,
        "sessionize_events": sessionize_events,
        "events_key_skew_profile": events_key_skew_profile,
        "forecast_eval_events": forecast_eval_events,
        "hypertable_incremental_refresh_events": hypertable_incremental_refresh_events,
        "join_advisor_orders_lineitem": join_advisor_orders_lineitem,
        "asof_clicks_purchases": asof_clicks_purchases,
        "rrf_suppliers": rrf_suppliers,
        "topk_global_dedup_events": topk_global_dedup_events,
        "dedup_exact_docs": dedup_exact_docs,
        "dedup_paragraphs_docs": dedup_paragraphs_docs,
        "remove_dup_spans_docs": remove_dup_spans_docs,
        "corpus_export_manifest": corpus_export_manifest,
        "dedup_fingerprint_docs": dedup_fingerprint_docs,
        "minhash_dedup_docs": minhash_dedup_docs,
        "simhash_pairs_docs": simhash_pairs_docs,
        "ngram_jaccard_docs": ngram_jaccard_docs,
        "cosine_topk_embeddings": cosine_topk_embeddings,
        "doc_token_stats": doc_token_stats,
        "clean_documents": clean_documents_q,
        "chunk_documents": chunk_documents,
        "customers_without_orders": customers_without_orders,
        "custkeys_open_and_finished": custkeys_open_and_finished,
        "range_join_click_to_purchase": range_join_click_to_purchase,
        "events_pivot_by_type": events_pivot_by_type,
        "rollup_pricing": rollup_pricing,
        "small_quantity_part_revenue": small_quantity_part_revenue,
        "customer_order_histogram": customer_order_histogram,
        "events_cube_by_type_dow": events_cube_by_type_dow,
        "percentiles_by_flag": percentiles_by_flag,
        "parse_dates_multi": parse_dates_multi,
        "decode_event_labels": decode_event_labels,
        "label_centroid_components": label_centroid_components,
        "order_line_rollup": order_line_rollup,
        "events_props_extract": events_props_extract,
        "distinct_users_per_type": distinct_users_per_type,
        "minhash_portable_pairs_docs": minhash_portable_pairs_docs,
        "minhash_dedup_clusters": minhash_dedup_clusters,
        "simhash_portable_pairs_docs": simhash_portable_pairs_docs,
        "kmv_distinct_users_by_type": kmv_distinct_users_by_type,
        "hll_distinct_users_by_type": hll_distinct_users_by_type,
        "kmv_click_purchase_overlap": kmv_click_purchase_overlap,
        "bloom_filtered_building_revenue": bloom_filtered_building_revenue,
        "user_event_transitions": user_event_transitions,
        "brand_basket_affinity": brand_basket_affinity,
        "session_first_touch_attribution": session_first_touch_attribution,
        "brand_yoy_revenue": brand_yoy_revenue,
        "customer_rfm_segments": customer_rfm_segments,
        "events_value_quantile_sketch": events_value_quantile_sketch,
        "events_moving_avg": events_moving_avg,
        "events_trailing_hour_sum": events_trailing_hour_sum,
        "similar_part_names": similar_part_names,
        "customer_value_deciles": customer_value_deciles,
        "user_retention_cohorts": user_retention_cohorts,
        "salted_supplier_quantity": salted_supplier_quantity,
        "doc_corpus_line_dedup": doc_corpus_line_dedup,
        "events_value_anomalies": events_value_anomalies,
        "revenue_grouping_sets": revenue_grouping_sets,
        "source_token_budget_cap": source_token_budget_cap,
        "cms_heavy_users": cms_heavy_users,
        "events_time_weighted_avg": events_time_weighted_avg,
        "events_counter_deltas": events_counter_deltas,
        "nation_market_share": nation_market_share,
        "nation_profit_by_year": nation_profit_by_year,
        "doc_unigram_logprob": doc_unigram_logprob,
        "doc_bigram_logprob": doc_bigram_logprob,
        "doc_trigram_backoff": doc_trigram_backoff,
        "image_ahash_near_dup": image_ahash_near_dup,
        "video_keyframe_dedup": video_keyframe_dedup,
        "audio_fingerprint_near_dup": audio_fingerprint_near_dup,
        "audio_flac_fingerprint_docs": audio_flac_fingerprint_docs,
        "tuoyu_datasource_scan_docs": tuoyu_datasource_scan_docs,
        "tuoyu_datasource_stream_docs": tuoyu_datasource_stream_docs,
        "multimodal_dedup_agreement": multimodal_dedup_agreement,
        "bm25_search_docs": bm25_search_docs,
        "dedup_incremental_docs": dedup_incremental_docs,
        "link_graph_pagerank": link_graph_pagerank,
        "textrank_keywords_docs": textrank_keywords_docs,
        "link_graph_trustrank": link_graph_trustrank,
        "crawl_depth_docs": crawl_depth_docs,
        "fk_discovery_tpch": fk_discovery_tpch,
        "customer_status_scd2": customer_status_scd2,
        "doc_perplexity_buckets": doc_perplexity_buckets,
        "pq_adc_topk_embeddings": pq_adc_topk_embeddings,
        "events_zorder_cells": events_zorder_cells,
        "crawl_frontier_schedule": crawl_frontier_schedule,
        "gdpr_purge_audit": gdpr_purge_audit,
        "hybrid_retrieval_docs": hybrid_retrieval_docs,
        "hybrid_retrieval_ann_docs": hybrid_retrieval_ann_docs,
        "hybrid_retrieval_ann_recall": hybrid_retrieval_ann_recall,
        "ranking_eval_orders": ranking_eval_orders,
        "classifier_eval_docs": classifier_eval_docs,
        "classifier_pr_curve_docs": classifier_pr_curve_docs,
        "classifier_calibration_docs": classifier_calibration_docs,
        "ranking_eval_orders_summary": ranking_eval_orders_summary,
        "snapshot_drift_orders": snapshot_drift_orders,
        "validated_image_refs_docs": validated_image_refs_docs,
        "data_quality_audit": data_quality_audit,
        "orders_snapshot_diff": orders_snapshot_diff,
        "streaming_scd2_orders": streaming_scd2_orders,
        "ngram_jaccard_prefix_docs": ngram_jaccard_prefix_docs,
        "ivfpq_topk_embeddings": ivfpq_topk_embeddings,
        "sq8_topk_embeddings": sq8_topk_embeddings,
        "events_acf_hourly": events_acf_hourly,
        "events_cusum_changepoint": events_cusum_changepoint,
        "dp_event_type_counts": dp_event_type_counts,
        "kcenter_coreset_embeddings": kcenter_coreset_embeddings,
        "phrase_search_docs": phrase_search_docs,
        "gopher_repetition_docs": gopher_repetition_docs,
        "robust_outliers_events": robust_outliers_events,
        "interarrival_dispersion_events": interarrival_dispersion_events,
        "ngram_containment_docs": ngram_containment_docs,
        "streaming_enriched_event_counts": streaming_enriched_event_counts,
        "session_funnel_events": session_funnel_events,
        "hopping_distinct_users_events": hopping_distinct_users_events,
        "value_histogram_events": value_histogram_events,
        "gini_stump_cv_docs": gini_stump_cv_docs,
        "ship_delay_percentiles": ship_delay_percentiles,
        "correlation_matrix_lineitem": correlation_matrix_lineitem,
        "value_trend_by_type_events": value_trend_by_type_events,
        "late_arrival_audit_events": late_arrival_audit_events,
        "benford_first_digit_orders": benford_first_digit_orders,
        "supplier_hhi_parts": supplier_hhi_parts,
        "revenue_share_hierarchy": revenue_share_hierarchy,
        "impute_group_median_events": impute_group_median_events,
        "source_quality_scorecard": source_quality_scorecard,
        "ann_recall_audit_embeddings": ann_recall_audit_embeddings,
        "events_pivot_type_by_dow": events_pivot_type_by_dow,
        "revenue_wow_orders": revenue_wow_orders,
        "seasonal_decompose_events": seasonal_decompose_events,
        "journey_trigrams_events": journey_trigrams_events,
        "link_graph_reciprocity": link_graph_reciprocity,
        "link_graph_kcore": link_graph_kcore,
        "funnel_latency_events": funnel_latency_events,
        "rfm_segments_customers": rfm_segments_customers,
        "winsorize_audit_events": winsorize_audit_events,
        "chi2_type_by_dow_events": chi2_type_by_dow_events,
        "loo_priority_encoding_orders": loo_priority_encoding_orders,
        "bootstrap_mean_ci_events": bootstrap_mean_ci_events,
        "gini_stump_docs": gini_stump_docs,
        "hopping_window_event_counts": hopping_window_event_counts,
        "pareto_revenue_customers": pareto_revenue_customers,
        "orders_point_in_time_status": orders_point_in_time_status,
        "fuzzy_part_name_matches": fuzzy_part_name_matches,
        "vocab_drift_docs": vocab_drift_docs,
        "event_transitions_events": event_transitions_events,
        "association_rules_events": association_rules_events,
        "conformal_interval_events": conformal_interval_events,
        "join_cardinality_orders_lineitem": join_cardinality_orders_lineitem,
        "funnel_signup_click_purchase": funnel_signup_click_purchase,
        "cohort_retention_events": cohort_retention_events,
        "ks_click_vs_purchase_value": ks_click_vs_purchase_value,
        "dp_event_value_sums": dp_event_value_sums,
        "k_anonymity_audit": k_anonymity_audit,
        "link_graph_triangles": link_graph_triangles,
        "link_graph_hits": link_graph_hits,
        "doc_classifier_scores": doc_classifier_scores,
        "unigram_lm_vocab_docs": unigram_lm_vocab_docs,
        "unigram_fertility_docs": unigram_fertility_docs,
        "bpe_learned_merges": bpe_learned_merges,
        "wordpiece_vocab_docs": wordpiece_vocab_docs,
        "wordpiece_fertility_docs": wordpiece_fertility_docs,
        "train_quality_filter_docs": train_quality_filter_docs,
        "trained_filter_scores_docs": trained_filter_scores_docs,
        "bpe_doc_segment_counts": bpe_doc_segment_counts,
        # placed AFTER its three family members: the bake-off is a
        # pure combine of the bpe/wordpiece/unigram chains, so in a
        # warm engine it reuses their cached vocab passes
        "tokenizer_comparison_docs": tokenizer_comparison_docs,
        "funnel_click_view_purchase": funnel_click_view_purchase,
        "orders_merge_upsert": orders_merge_upsert,
        "doc_pii_scrub": doc_pii_scrub,
        "doc_pack_sequences": doc_pack_sequences,
        "doc_pack_audit": doc_pack_audit,
        "doc_benchmark_contamination": doc_benchmark_contamination,
        "lsh_cosine_topk_embeddings": lsh_cosine_topk_embeddings,
        "windowed_event_counts": windowed_event_counts_q,
        "events_lag_delta": events_lag_delta,
        "custkeys_open_not_finished": custkeys_open_not_finished,
        "doc_quality_scores": doc_quality_scores,
        "kv_roundtrip_customers": kv_roundtrip_customers,
        "q6_revenue_forecast": q6_revenue_forecast,
        "late_shipment_orders": late_shipment_orders,
        "parts_with_many_suppliers": parts_with_many_suppliers,
        "ivf_cosine_topk_embeddings": ivf_cosine_topk_embeddings,
        "semdedup_embeddings": semdedup_embeddings,
        "semdedup_auto_cells": semdedup_auto_cells,
        "url_canonical_dedup_docs": url_canonical_dedup_docs,
        "warc_ingest_docs": warc_ingest_docs,
        "robots_filter_docs": robots_filter_docs,
        "archive_ingest_docs": archive_ingest_docs,
        "doc_curation_pipeline": doc_curation_pipeline,
        "doc_bpe_token_counts": doc_bpe_token_counts,
        "hypertable_rollup_events": hypertable_rollup_events,
        "streaming_hypertable_rollup_events": streaming_hypertable_rollup_events,
        "streaming_windowed_event_counts": streaming_windowed_event_counts,
        "streaming_sessionize_events": streaming_sessionize_events,
        "streaming_late_drop_events": streaming_late_drop_events,
        "streaming_stream_stream_join_events": streaming_stream_stream_join_events,
        "streaming_stream_stream_left_join_events": streaming_stream_stream_left_join_events,
        "streaming_stream_stream_full_join_events": streaming_stream_stream_full_join_events,
        "streaming_dedup_events": streaming_dedup_events,
        "streaming_user_stats_events": streaming_user_stats_events,
        "hypertable_rollup_events_monthly": hypertable_rollup_events_monthly,
        "gapfill_events_6h": gapfill_events_6h,
        "embedding_cosine_dedup": embedding_cosine_dedup_q,
        "embedding_cosine_dedup_lsh": embedding_cosine_dedup_lsh_q,
        "embedding_cosine_dedup_ivf": embedding_cosine_dedup_ivf_q,
        "image_decode_features": image_decode_features,
        "doc_train_split": doc_train_split,
        "doc_kfold_assign": doc_kfold_assign,
        "split_leakage_pairs_docs": split_leakage_pairs_docs,
        "source_overlap_matrix": source_overlap_matrix,
        "doc_quality_gate": doc_quality_gate,
        "doc_dsir_weights": doc_dsir_weights,
        "tuoyu_rule_filter_docs": tuoyu_rule_filter_docs,
        "winnowing_fingerprints_docs": winnowing_fingerprints_docs,
        "winnowing_pairs_docs": winnowing_pairs_docs,
        "corpus_bpe_pair_stats": corpus_bpe_pair_stats,
        "dedup_keep_best_quality": dedup_keep_best_quality,
        "doc_repetition_stats": doc_repetition_stats,
        "doc_tfidf_top_terms": doc_tfidf_top_terms,
        "xpilot_retrieval_docs": xpilot_retrieval_docs,
        "xpilot_retrieval_reranked_docs": xpilot_retrieval_reranked_docs,
        "scrape_pipeline_docs": scrape_pipeline_docs,
        "search_plan_queries": search_plan_queries,
        "moe_html_scan_docs": moe_html_scan_docs,
        "markdown_image_rewrite_docs": markdown_image_rewrite_docs,
        "chunk_doc_meta_enrichment": chunk_doc_meta_enrichment,
        "video_timeline_outline": video_timeline_outline,
        "video_subtitles_repair": video_subtitles_repair,
        "rerank_positional_backfill": rerank_positional_backfill,
        "doc_shared_spans": doc_shared_spans,
        "doc_oov_rate": doc_oov_rate,
        "source_mixture_weights": source_mixture_weights_q,
        "source_temperature_weights": source_temperature_weights,
        "dedup_method_agreement": dedup_method_agreement,
        "hard_negatives_embeddings": hard_negatives_embeddings,
        "lang_fertility_stats": lang_fertility_stats,
        "mmr_diverse_topk_embeddings": mmr_diverse_topk_embeddings,
        "events_stratified_sample": events_stratified_sample,
        "events_weighted_sample": events_weighted_sample,
        "docs_source_capped": docs_source_capped,
        "events_column_profile": events_column_profile,
        "promo_revenue_ratio": promo_revenue_ratio,
        "top_return_customers": top_return_customers,
        "disjunctive_part_revenue": disjunctive_part_revenue,
        "nation_pair_volume": nation_pair_volume,
        "important_part_value": important_part_value,
        "top_supplier_revenue": top_supplier_revenue,
        "large_quantity_orders": large_quantity_orders,
        "suppliers_kept_waiting": suppliers_kept_waiting,
        "idle_rich_customers": idle_rich_customers,
        "min_cost_part_suppliers": min_cost_part_suppliers,
        "order_priority_late_counts": order_priority_late_counts,
        "ship_delay_priority_counts": ship_delay_priority_counts,
        "supplier_variety_by_part": supplier_variety_by_part,
        "bulk_suppliers_for_parts": bulk_suppliers_for_parts,
        "entity_resolution_customers": entity_resolution_customers,
        "er_golden_records": er_golden_records,
        "er_quality_audit": er_quality_audit,
        "er_blocking_audit": er_blocking_audit,
        "er_bcubed_audit": er_bcubed_audit,
        "er_quality_audit_idf": er_quality_audit_idf,
        "tuoyu_er_golden_records": tuoyu_er_golden_records,
        "tuoyu_er_quality_audit": tuoyu_er_quality_audit,
        "tuoyu_er_quality_audit_nameonly": tuoyu_er_quality_audit_nameonly,
        "er_incremental_assign": er_incremental_assign,
        "coreset_coverage_embeddings": coreset_coverage_embeddings,
    }


def oracle_sql() -> dict[str, str]:
    from data_pipeline_childcare_spark.operators.cleaning import NOISE_RE
    from data_pipeline_childcare_spark.operators.packing import pack_sql as _pack_sql
    from data_pipeline_childcare_spark.operators.redact import pii_sql as _pii_sql
    from data_pipeline_childcare_spark.operators.sketches import cms_sql as _cms_sql
    from data_pipeline_childcare_spark.operators.sketches import hll_sql as _hll_sql
    from data_pipeline_childcare_spark.operators.sketches import (
        histogram_quantiles_sql as _histq_sql,
    )
    from data_pipeline_childcare_spark.operators.sketches import (
        kmv_set_sql as _kmv_set_sql,
    )
    from data_pipeline_childcare_spark.operators.sketches import kmv_sql as _kmv_sql
    from data_pipeline_childcare_spark.operators.timeseries import (
        counter_agg_sql as _counter_sql,
    )
    from data_pipeline_childcare_spark.operators.timeseries import (
        time_weighted_avg_sql as _twa_sql,
    )

    from data_pipeline_childcare_spark.operators.split import (
        _threshold_hex,
        split_sql_case,
    )

    # shared SQL fragments (DuckDB dialect); NOISE_RE is RE2-compatible
    _NOISE_RE_SQL = NOISE_RE
    tokens = "list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')"
    _split_case = split_sql_case("doc_id")
    _sample_threshold = _threshold_hex(0.2)
    # portable-minhash pairs CTE chain, shared by the pairs query and
    # the connected-components clusters query built on top of it
    _minhash_ctes = f"""toks AS (
                SELECT doc_id, {tokens} AS t FROM documents
            ), grams AS (
                SELECT doc_id,
                       list_distinct(
                           list_transform(
                               range(1, greatest(len(t) - 3, 0) + 2),
                               i -> array_to_string(t[i:i+2], ' ')
                           )
                       ) AS shingles
                FROM toks
            ), inv AS (
                SELECT doc_id, unnest(shingles) AS s FROM grams
            ), hs AS (
                -- base hash: 60-bit integer from the md5 prefix
                -- (identical to Spark's conv(substring(md5,1,15),16,10))
                -- reduced mod the Mersenne prime 2^31-1
                SELECT doc_id,
                       CAST(CONCAT('0x', substring(md5(s), 1, 15)) AS BIGINT) % 2147483647 AS h
                FROM inv
            ), sigs AS (
                -- Carter-Wegman family member i = (a_i*h + b_i) mod p;
                -- constants from the same closed form Spark inlines
                -- (operators/dedup.py cw_constants, salt=0)
                SELECT doc_id, i,
                       min((((2654435761 * (i + 1) + 40503) % 2147483647) * h
                            + (2246822519 * (i + 1) + 3266489917) % 2147483647) % 2147483647) AS m
                FROM hs CROSS JOIN range(64) r(i)
                GROUP BY doc_id, i
            ), bands AS (
                -- band key = ordered polynomial fold of the 4-component
                -- slice over p (same fold Spark inlines; BIGINT-safe)
                SELECT doc_id, i // 4 AS band,
                       list_reduce(list(m ORDER BY i),
                                   (acc, x) -> (acc * 1000003 + x) % 2147483647) AS bh
                FROM sigs GROUP BY doc_id, i // 4
            ), cand AS (
                SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                FROM bands a JOIN bands b
                  ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
            ), est AS (
                SELECT c.id_a, c.id_b,
                       CAST(sum(CASE WHEN sa.m = sb.m THEN 1 ELSE 0 END) AS DOUBLE) / 64 AS est_jaccard
                FROM cand c
                JOIN sigs sa ON sa.doc_id = c.id_a
                JOIN sigs sb ON sb.doc_id = c.id_b AND sb.i = sa.i
                GROUP BY c.id_a, c.id_b
            )"""

    # portable-simhash CTE chain, shared by the hamming≤3 twin and the
    # hamming≤8 blocked-candidate query (same Carter-Wegman family as
    # Spark, salt=100 ⇒ constants use (b + 101))
    _simhash_ctes = f"""stoks AS (
                SELECT doc_id, {tokens} AS t FROM documents
            ), sgrams AS (
                -- NO list_distinct: simhash votes are weighted by
                -- shingle multiplicity, matching the Spark explode
                SELECT doc_id,
                       list_transform(
                           range(1, greatest(len(t) - 3, 0) + 2),
                           i -> array_to_string(t[i:i+2], ' ')
                       ) AS shingles
                FROM stoks
            ), sinv AS (
                SELECT doc_id, unnest(shingles) AS s FROM sgrams
            ), shs AS (
                SELECT doc_id,
                       CAST(CONCAT('0x', substring(md5(s), 1, 15)) AS BIGINT) % 2147483647 AS h
                FROM sinv
            ), votes AS (
                SELECT doc_id, b,
                       sum(CASE WHEN (((((2654435761 * (b + 101) + 40503) % 2147483647) * h
                                        + (2246822519 * (b + 101) + 3266489917) % 2147483647) % 2147483647) & 1) = 1
                           THEN 1 ELSE -1 END) AS v
                FROM shs CROSS JOIN range(64) r(b)
                GROUP BY doc_id, b
            ), bits AS (
                SELECT doc_id, b, CASE WHEN v > 0 THEN 1 ELSE 0 END AS bit FROM votes
            ), sbands AS (
                SELECT doc_id, b // 16 AS band,
                       sum(bit * (CAST(1 AS BIGINT) << CAST(b % 16 AS INT))) AS band_val
                FROM bits GROUP BY doc_id, b // 16
            ), scand AS (
                SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                FROM sbands a JOIN sbands b
                  ON a.band = b.band AND a.band_val = b.band_val AND a.doc_id < b.doc_id
            ), ham AS (
                SELECT c.id_a, c.id_b,
                       CAST(sum(CASE WHEN ba.bit <> bb.bit THEN 1 ELSE 0 END) AS INT) AS hamming
                FROM scand c
                JOIN bits ba ON ba.doc_id = c.id_a
                JOIN bits bb ON bb.doc_id = c.id_b AND bb.b = ba.b
                GROUP BY c.id_a, c.id_b
            )"""

    # Tuoyu pipeline oracle: the rule compiles driver-side in BOTH
    # engines (the Spark side builds contains-chains from the same
    # dims), so the SQL gets the identical literal predicate; the
    # DATA-side evaluation (content synthesis, predicate application,
    # semi-join, segment re-check, ordered rollup) is all DuckDB.
    from data_pipeline_childcare_spark.dims import CHINA_REGIONS, EDUCATION_MAP

    def _ty_like_any(col: str, terms: list[str]) -> str:
        return "(" + " OR ".join(f"{col} LIKE '%{t}%'" for t in terms) + ")"

    _ty_region_terms = ["四川"] + CHINA_REGIONS["四川"]

    def _ty_edu_pass(lvl: str) -> bool:
        # mirrors operators/rules.py education_predicate for literals
        req = "高等职业教育（专科）"
        norm = EDUCATION_MAP.get(lvl)
        if norm is None:
            for k in sorted(EDUCATION_MAP, key=len, reverse=True):
                if k in lvl:
                    norm = EDUCATION_MAP[k]
                    break
        return norm is not None and (norm == req or req in norm or norm in req)

    def _ty_list(vals: list[str]) -> str:
        return "[" + ",".join(f"'{v}'" for v in vals) + "]"

    _ty_pass_levels = ",".join(f"'{lv}'" for lv in _TY_LEVELS if _ty_edu_pass(lv))
    _ty_time = ("TIMESTAMP '2023-01-01 00:00:00'", "TIMESTAMP '2024-12-31 23:59:59'")
    _ty_sql = f"""tybase AS (
                SELECT doc_id AS i, CAST(doc_id AS VARCHAR) AS s,
                       doc_id // 3 AS j, doc_id % 3 AS t
                FROM documents
            ), tyf AS (
                SELECT i, s, j, t,
                       {_ty_list(_TY_CITIES)}[(j % 6) + 1] AS city,
                       {_ty_list(_TY_LEVELS)}[(j % 4) + 1] AS lvl,
                       {_ty_list(_TY_MAJORS)}[(j % 3) + 1] AS mj,
                       {_ty_list(_TY_TS)}[(j % 3) + 1] AS ts,
                       {_ty_list(_TY_ADDRS)}[(j % 2) + 1] AS addr,
                       {_ty_list(_TY_YEARS)}[(j % 2) + 1] AS yr
                FROM tybase
            ), tyc AS (
                SELECT *,
                    CASE t WHEN 0 THEN 'survey' WHEN 1 THEN 'moe'
                           ELSE 'institution' END AS rtype,
                    CASE t
                      WHEN 0 THEN '城市：' || city || ' | 岗位：' || mj || chr(10) || '学历：' || lvl || chr(10) || '机构名称：机构' || s
                      WHEN 1 THEN '机构名称：学校' || s || chr(10) || '学校标识码：S' || s || chr(10) || '开设专业：' || mj || chr(10) || '城市：' || city || chr(10) || '年份：' || yr
                      ELSE '统一社会信用代码：915100' || s || chr(10) || '备案及完成时间：' || ts || chr(10) || '详细地址：' || addr
                    END AS c0,
                    CASE t
                      WHEN 0 THEN '城市：' || city || ' | 岗位：保安' || chr(10) || '学历：' || lvl || chr(10) || '机构名称：机构' || s
                      WHEN 1 THEN '机构名称：学校' || s || chr(10) || '学校标识码：S' || s || chr(10) || '开设专业：' || mj || chr(10) || '城市：西安市' || chr(10) || '年份：' || yr
                      ELSE '统一社会信用代码：915100' || s || chr(10) || '备案及完成时间：2020-01-01 00:00:00' || chr(10) || '详细地址：' || addr
                    END AS cfail
                FROM tyf
            ), typ AS (
                -- p0: the full rule on block 0's fields. survey: region
                -- + major + education, time-EXEMPT; moe: region + major
                -- + vocational gate (TRUE for 大专) + strict time over
                -- 年份; institution: region + strict time only.
                SELECT *,
                    CASE t
                      WHEN 0 THEN {_ty_like_any("(city || ' | 岗位：' || mj)", _ty_region_terms)}
                                  AND mj LIKE '%护理%' AND lvl IN ({_ty_pass_levels})
                      -- strptime, NOT CAST: DuckDB folds a
                      -- CAST(varchar AS TIMESTAMP) <op> TIMESTAMP-literal
                      -- comparison into a VARCHAR comparison, where the
                      -- date-only string '2023-01-01' sorts BEFORE
                      -- '2023-01-01 00:00:00'
                      WHEN 1 THEN {_ty_like_any('city', _ty_region_terms)}
                                  AND mj LIKE '%护理%'
                                  AND strptime(yr || '-01-01', '%Y-%m-%d') BETWEEN {_ty_time[0]} AND {_ty_time[1]}
                      ELSE {_ty_like_any('addr', _ty_region_terms)}
                           AND ts <> ''
                           AND try_strptime(ts, '%Y-%m-%d %H:%M:%S') BETWEEN {_ty_time[0]} AND {_ty_time[1]}
                    END AS p0
                FROM tyc
            ), tyseg AS (
                -- block 1 is a passing twin (same fields + suffix line)
                -- only when j%5=0; every failing twin breaks exactly one
                -- predicate (major/region/time), so its pass is FALSE
                SELECT i, rtype, 0 AS position, c0 AS content, p0 AS pass FROM typ
                UNION ALL
                SELECT i, rtype, 1,
                       CASE WHEN j % 5 = 0 THEN c0 || chr(10) || '备注：附记' ELSE cfail END,
                       CASE WHEN j % 5 = 0 THEN p0 ELSE FALSE END
                FROM typ
            ), tyhits AS (SELECT i FROM typ WHERE p0)"""

    # LSH ANN oracle: hyperplane literals generated from the SAME
    # Python function the Spark operator inlines. Sign bits need the
    # UNROUNDED dot products to agree bit-for-bit — evidence: the
    # candidate SETS themselves (sign bits over 64 planes × the whole
    # corpus) hash-match, which holds only if DuckDB's
    # list_dot_product accumulates in the same sequential order as
    # Spark's aggregate/zip_with left fold. Residual risk: a future
    # DuckDB switching to SIMD/pairwise accumulation could flip a
    # near-zero sign; if this oracle ever fails on a boundary
    # embedding, that is the first thing to check.
    from data_pipeline_childcare_spark.operators.similarity import (
        _hyperplane as _lsh_plane,
    )

    def _lsh_bucket_duck(vec: str, dim: int, n_planes: int, table: int) -> str:
        bits = []
        for p in range(n_planes):
            arr = "[" + ",".join(repr(v) for v in _lsh_plane(dim, table * 10_007 + p)) + "]"
            bits.append(
                f"(CASE WHEN list_dot_product({vec}, {arr}) >= 0.0"
                f" THEN {1 << p} ELSE 0 END)"
            )
        return "(" + " + ".join(bits) + ")"

    def _lsh_buckets_case(vec: str, dim: int, n_planes: int, n_tables: int) -> str:
        whens = "".join(
            f" WHEN {t} THEN {_lsh_bucket_duck(vec, dim, n_planes, t)}"
            for t in range(n_tables)
        )
        return f"CASE tbl{whens} END"

    _lsh_tables_vals = ",".join(f"({t})" for t in range(4))

    # IVF oracle: kmeans-lite unrolled (2 Lloyd iterations, 8 cells,
    # 64 dims). Works because the Spark operator is CANONICAL: md5
    # seed ordering + round(round(sum,6)/n,6) centroid means, so both
    # engines walk the identical centroid trajectory.
    _ivf_cos = (
        "(list_dot_product({v}, {c}) / "
        "(sqrt(list_dot_product({v}, {v})) * sqrt(list_dot_product({c}, {c}))))"
    )

    def _ivf_assign(name: str, cent: str) -> str:
        sim = _ivf_cos.format(v="e.cv", c="c.centroid")
        return f"""{name} AS (
            SELECT vec_id, cv, cell FROM (
                SELECT e.vec_id, e.cv, c.cell,
                       row_number() OVER (PARTITION BY e.vec_id
                           ORDER BY {sim} DESC, c.cell) AS rn
                FROM emb e CROSS JOIN {cent} c
            ) WHERE rn = 1
        )"""

    def _ivf_means(name: str, assigned: str) -> str:
        return f"""{name} AS (
            SELECT cell, list(m ORDER BY pos) AS centroid FROM (
                SELECT a.cell, r.i AS pos,
                       round(round(sum(a.cv[r.i]), 6) / count(*), 6) AS m
                FROM {assigned} a CROSS JOIN range(1, 65) r(i)
                GROUP BY a.cell, r.i
            ) GROUP BY cell
        )"""

    # shared canonical-kmeans CTE chain (2 Lloyd iterations) used by
    # the IVF top-k and SemDeDup oracles; k_sql is the seed LIMIT —
    # a literal ("8") or a scalar subquery for the auto-sized variant
    def _ivf_kmeans_ctes(k_sql: str) -> str:
        return f"""emb AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings
            ), c0 AS (
                SELECT row_number() OVER (ORDER BY h) AS cell, cv AS centroid
                FROM (
                    SELECT vec_id, cv,
                           CAST(CONCAT('0x', substring(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
                    FROM emb ORDER BY h LIMIT {k_sql}
                )
            ), {_ivf_assign('a1', 'c0')}, {_ivf_means('c1', 'a1')},
               {_ivf_assign('a2', 'c1')}, {_ivf_means('c2', 'a2')},
               {_ivf_assign('afinal', 'c2')}"""

    _IVF_KMEANS_CTES = _ivf_kmeans_ctes("8")
    # the engine's auto_n_cells formula, verbatim in SQL: k =
    # clamp(ceil(sqrt(count(DISTINCT non-NULL vectors))), 4, 4096)
    _AUTO_CELLS_SQL = (
        "(SELECT least(4096, greatest(4, CAST(ceil(sqrt("
        "count(DISTINCT cv))) AS BIGINT))) FROM emb WHERE cv IS NOT NULL)"
    )

    def _jround(expr: str, d: int) -> str:
        # Round a DOUBLE the way Spark does: Spark's round() goes
        # through the shortest decimal repr (BigDecimal.valueOf) and
        # rounds HALF_UP, while DuckDB's round() works on the exact
        # binary value — they disagree when the quotient's shortest
        # repr sits exactly on a .5 boundary (e.g. 589.18/16 =
        # 36.82375). VARCHAR cast = shortest repr; DECIMAL round =
        # half away from zero.
        return f"CAST(round(CAST(CAST(({expr}) AS VARCHAR) AS DECIMAL(30,15)), {d}) AS DOUBLE)"
    out = {
        "q1_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
                   round(avg(l_quantity), 6) AS avg_qty,
                   round(avg(l_extendedprice), 6) AS avg_price,
                   round(avg(l_discount), 6) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= TIMESTAMP '2000-12-01'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus
        """,
        "q3_top_revenue_orders": """
            SELECT l_orderkey, o_orderdate, o_orderpriority,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE o_orderdate >= TIMESTAMP '1996-01-01'
            GROUP BY l_orderkey, o_orderdate, o_orderpriority
            ORDER BY revenue DESC, l_orderkey
            LIMIT 10
        """,
        "q5_nation_revenue": """
            SELECT r_name, n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   count(*) AS n_items
            FROM lineitem
            JOIN orders   ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation   ON c_nationkey = n_nationkey
            JOIN region   ON n_regionkey = r_regionkey
            WHERE c_nationkey = s_nationkey
            GROUP BY r_name, n_name
            ORDER BY r_name, n_name
        """,
        "top3_orders_per_customer": """
            SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS totalprice, rn
            FROM (
                SELECT o_custkey, o_orderkey, o_totalprice,
                       row_number() OVER (
                           PARTITION BY o_custkey
                           ORDER BY o_totalprice DESC, o_orderkey
                       ) AS rn
                FROM orders
            ) WHERE rn <= 3
        """,
        "events_running_total": """
            SELECT user_id, event_id, ts,
                   round(sum(value) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ), 4) AS running_value
            FROM events WHERE event_type = 'purchase'
        """,
        "sessionize_events": """
            WITH ordered AS (
                SELECT user_id, ts, event_id,
                       lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
                FROM events
            ), flagged AS (
                SELECT user_id, ts, event_id,
                       CASE WHEN prev_ts IS NULL
                                 OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
                            THEN 1 ELSE 0 END AS is_new
                FROM ordered
            ), assigned AS (
                SELECT user_id, ts,
                       -- DuckDB sum(INTEGER) is HUGEINT (int128), which
                       -- pandas renders as float/object and the driver
                       -- hash sees differently from Spark's BIGINT.
                       CAST(sum(is_new) OVER (
                           PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                       ) AS BIGINT) AS session_id
                FROM flagged
            )
            SELECT user_id, session_id,
                   min(ts) AS session_start, max(ts) AS session_end,
                   count(*) AS n_events
            FROM assigned GROUP BY user_id, session_id
        """,
        "asof_clicks_purchases": """
            SELECT c.user_id, c.click_ts, c.event_id, p.p_value, p.p_ts
            FROM (
                SELECT user_id, ts AS click_ts, event_id
                FROM events WHERE event_type = 'click'
            ) c
            ASOF LEFT JOIN (
                SELECT user_id, ts AS p_ts, round(value, 4) AS p_value
                FROM events WHERE event_type = 'purchase'
            ) p ON c.user_id = p.user_id AND p.p_ts <= c.click_ts
        """,
        "rrf_suppliers": """
            WITH by_bal AS (
                SELECT s_suppkey AS item_id,
                       row_number() OVER (ORDER BY round(s_acctbal, 4) DESC, s_suppkey) AS rank
                FROM supplier
            ), by_vol AS (
                SELECT l_suppkey AS item_id,
                       row_number() OVER (ORDER BY count(*) DESC, l_suppkey) AS rank
                FROM lineitem GROUP BY l_suppkey
            ), unioned AS (
                SELECT 'balance' AS list_id, item_id, rank FROM by_bal
                UNION ALL
                SELECT 'volume' AS list_id, item_id, rank FROM by_vol
            )
            SELECT item_id AS s_suppkey,
                   round(sum(1.0 / (60 + rank)), 8) AS rrf_score,
                   count(DISTINCT list_id) AS n_lists
            FROM unioned GROUP BY item_id
        """,
        "topk_global_dedup_events": """
            WITH scored AS (
                SELECT event_type AS task_id, user_id AS item_id,
                       round(sum(value), 4) AS score
                FROM events GROUP BY 1, 2
            ), claimed AS (
                SELECT task_id, item_id, score,
                       row_number() OVER (
                           PARTITION BY item_id ORDER BY task_id, score DESC
                       ) AS claim
                FROM scored
            ), winners AS (
                SELECT task_id, item_id, score FROM claimed WHERE claim = 1
            )
            SELECT task_id, item_id, score
            FROM (
                SELECT task_id, item_id, score,
                       row_number() OVER (
                           PARTITION BY task_id ORDER BY score DESC, item_id
                       ) AS rnk
                FROM winners
            ) WHERE rnk <= 5
        """,
        "dedup_exact_docs": """
            SELECT d.doc_id, d.n_chars
            FROM documents d
            JOIN (SELECT text, min(doc_id) AS doc_id FROM documents GROUP BY text) k
              ON d.text = k.text AND d.doc_id = k.doc_id
        """,
        "dedup_fingerprint_docs": """
            WITH fp AS (
                SELECT doc_id,
                       md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fp
                FROM documents
            )
            SELECT f.doc_id, f.fp
            FROM fp f
            JOIN (SELECT fp, min(doc_id) AS doc_id FROM fp GROUP BY fp) k
              ON f.fp = k.fp AND f.doc_id = k.doc_id
        """,
        "kmv_distinct_users_by_type": _kmv_sql("events", ("event_type",), "user_id", 64),
        "hll_distinct_users_by_type": _hll_sql("events", ("event_type",), "user_id", p=8),
        "events_value_quantile_sketch": _histq_sql(
            "events", ("event_type",), "value", bins=256
        ),
        "corpus_export_manifest": r"""
            WITH paras AS MATERIALIZED (
                SELECT doc_id, u.p - 1 AS pos, u.t AS para
                FROM (
                    SELECT doc_id,
                           list_transform(
                               list_filter(
                                   list_transform(
                                       regexp_split_to_array(text, '\n\s*\n'),
                                       x -> trim(x)
                                   ),
                                   x -> x <> ''
                               ),
                               (x, i) -> struct_pack(p := i, t := x)
                           ) AS ps
                    FROM documents
                ), unnest(ps) AS t(u)
            ), keyed AS MATERIALIZED (
                SELECT doc_id, pos, para,
                       md5(regexp_replace(lower(para), '\s+', ' ', 'g')) AS fp
                FROM paras
            ), ranked AS (
                SELECT *, row_number() OVER (
                    PARTITION BY fp ORDER BY doc_id, pos
                ) AS rn
                FROM keyed
            ), rebuilt AS MATERIALIZED (
                SELECT doc_id,
                       string_agg(para, chr(10) || chr(10) ORDER BY pos) AS text
                FROM ranked WHERE rn = 1 GROUP BY doc_id
            ), clean AS MATERIALIZED (
                SELECT d.doc_id, coalesce(r.text, '') AS text
                FROM documents d LEFT JOIN rebuilt r USING (doc_id)
            ), base AS (
                SELECT doc_id,
                       CAST(CONCAT('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) AS BIGINT) % 4 AS shard,
                       md5(CAST(doc_id AS VARCHAR)) AS k,
                       CAST(len({tokens}) AS BIGINT) AS n_tokens,
                       {split_case} AS split
                FROM clean
            ), pos AS (
                SELECT doc_id, shard, split, n_tokens,
                       COALESCE(CAST(sum(n_tokens) OVER (
                           PARTITION BY shard ORDER BY k
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                       ) AS BIGINT), 0) AS cum_excl
                FROM base
            )
            SELECT split, shard,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
                   CAST(count(DISTINCT cum_excl // 2048) AS BIGINT) AS n_bins
            FROM pos GROUP BY split, shard
        """.replace("{tokens}", tokens).replace("{split_case}", _split_case),
        "remove_dup_spans_docs": r"""
            WITH tk AS MATERIALIZED (
                SELECT doc_id, {tokens} AS t FROM documents
            ), grams AS MATERIALIZED (
                SELECT doc_id, i - 1 AS pos,
                       md5(array_to_string(t[i:i+7], ' ')) AS h
                FROM tk, unnest(range(1, len(t) - 8 + 2)) AS r(i)
                WHERE len(t) >= 8
            ), dup AS MATERIALIZED (
                SELECT h FROM grams GROUP BY h HAVING count(*) > 1
            ), occ AS MATERIALIZED (
                SELECT g.doc_id, g.pos,
                       row_number() OVER (
                           PARTITION BY g.h ORDER BY g.doc_id, g.pos) AS rn
                FROM grams g JOIN dup USING (h)
            ), removal AS MATERIALIZED (
                SELECT DISTINCT doc_id, pos + off AS rmpos
                FROM occ, unnest(range(0, 8)) AS o(off)
                WHERE rn > 1
            ), positions AS MATERIALIZED (
                SELECT doc_id, i - 1 AS rmpos, t[i] AS tok
                FROM tk, unnest(range(1, len(t) + 1)) AS r(i)
            ), kept AS (
                SELECT p.doc_id, p.rmpos, p.tok
                FROM positions p ANTI JOIN removal USING (doc_id, rmpos)
            ), rebuilt AS (
                SELECT doc_id,
                       string_agg(tok, ' ' ORDER BY rmpos) AS text,
                       CAST(count(*) AS BIGINT) AS nk
                FROM kept GROUP BY doc_id
            ), totals AS (
                SELECT doc_id, CAST(coalesce(len(t), 0) AS BIGINT) AS n_tokens
                FROM tk
            )
            SELECT d.doc_id,
                   md5(coalesce(r.text, '')) AS text_digest,
                   coalesce(tt.n_tokens, 0) AS n_tokens,
                   coalesce(tt.n_tokens, 0) - coalesce(r.nk, 0) AS n_removed
            FROM documents d
            LEFT JOIN totals tt USING (doc_id)
            LEFT JOIN rebuilt r USING (doc_id)
        """.replace("{tokens}", tokens),
        "dedup_paragraphs_docs": r"""
            WITH paras AS (
                SELECT doc_id, u.p - 1 AS pos, u.t AS para
                FROM (
                    SELECT doc_id,
                           list_transform(
                               list_filter(
                                   list_transform(
                                       regexp_split_to_array(text, '\n\s*\n'),
                                       x -> trim(x)
                                   ),
                                   x -> x <> ''
                               ),
                               (x, i) -> struct_pack(p := i, t := x)
                           ) AS ps
                    FROM documents
                ), unnest(ps) AS t(u)
            ), keyed AS (
                SELECT doc_id, pos, para,
                       md5(regexp_replace(lower(para), '\s+', ' ', 'g')) AS fp
                FROM paras
            ), ranked AS (
                SELECT *, row_number() OVER (
                    PARTITION BY fp ORDER BY doc_id, pos
                ) AS rn
                FROM keyed
            ), kept AS (
                SELECT doc_id, pos, para FROM ranked WHERE rn = 1
            ), rebuilt AS (
                SELECT doc_id,
                       string_agg(para, chr(10) || chr(10) ORDER BY pos) AS text,
                       CAST(count(*) AS BIGINT) AS n_kept
                FROM kept GROUP BY doc_id
            ), totals AS (
                SELECT doc_id, CAST(count(*) AS BIGINT) AS n_paragraphs
                FROM paras GROUP BY doc_id
            )
            SELECT d.doc_id,
                   md5(coalesce(r.text, '')) AS text_digest,
                   coalesce(t.n_paragraphs, 0) AS n_paragraphs,
                   coalesce(r.n_kept, 0) AS n_kept
            FROM documents d
            LEFT JOIN totals t USING (doc_id)
            LEFT JOIN rebuilt r USING (doc_id)
        """,
        "doc_corpus_line_dedup": """
            WITH lines AS (
                SELECT doc_id, u.p - 1 AS line_no, u.l AS line
                FROM (
                    SELECT doc_id,
                           list_transform(
                               string_split(text, chr(10)),
                               (x, i) -> struct_pack(p := i, l := x)
                           ) AS ls
                    FROM documents
                ), unnest(ls) AS t(u)
            ), keyed AS (
                SELECT doc_id, line_no, line, lower(trim(line)) AS k
                FROM lines
            ), hot AS (
                SELECT k FROM keyed
                WHERE k <> ''
                GROUP BY k
                HAVING count(DISTINCT doc_id) > 5
            ), kept AS (
                SELECT doc_id, line_no, line
                FROM keyed
                WHERE k NOT IN (SELECT k FROM hot)
            ), rebuilt AS (
                SELECT doc_id,
                       string_agg(line, chr(10) ORDER BY line_no) AS clean_text,
                       CAST(count(*) AS BIGINT) AS n_lines_kept
                FROM kept GROUP BY doc_id
            )
            SELECT d.doc_id,
                   coalesce(clean_text, '') AS clean_text,
                   coalesce(n_lines_kept, 0) AS n_lines_kept
            FROM documents d LEFT JOIN rebuilt USING (doc_id)
            ORDER BY doc_id
        """,
        "salted_supplier_quantity": """
            SELECT l_suppkey, round(sum(l_quantity), 2) AS total_qty
            FROM lineitem
            GROUP BY 1
            ORDER BY 1
        """,
        "user_retention_cohorts": """
            WITH weekly AS (
                SELECT user_id,
                       CAST(floor(date_diff('day', DATE '1970-01-05',
                                            CAST(ts AS DATE)) / 7) AS BIGINT) AS week
                FROM events
            ), first AS (
                SELECT user_id, min(week) AS cohort_week
                FROM weekly GROUP BY 1
            )
            SELECT cohort_week, week - cohort_week AS weeks_since,
                   count(DISTINCT w.user_id) AS n_users
            FROM weekly w JOIN first f USING (user_id)
            GROUP BY 1, 2
            ORDER BY 1, 2
        """,
        "events_value_anomalies": """
            WITH mu AS (
                SELECT event_type, avg(value) AS m, count(value) AS n
                FROM events GROUP BY 1
            ), var AS (
                SELECT e.event_type, m,
                       avg((value - m) * (value - m)) AS v
                FROM events e JOIN mu USING (event_type)
                GROUP BY 1, 2
            )
            SELECT e.event_type, event_id, value,
                   round((value - m) / sqrt(v), 4) AS z
            FROM events e JOIN var USING (event_type)
            WHERE v > 0
              AND abs(round((value - m) / sqrt(v), 4)) > 3
            ORDER BY event_type, event_id
        """,
        "customer_value_deciles": """
            SELECT c_mktsegment, c_custkey,
                   CAST(ntile(10) OVER w AS INTEGER) AS decile,
                   round(percent_rank() OVER w, 6) AS pct_rank,
                   round(cume_dist() OVER w, 6) AS cume
            FROM customer
            WINDOW w AS (PARTITION BY c_mktsegment
                         ORDER BY c_acctbal, c_custkey)
            ORDER BY c_mktsegment, c_custkey
        """,
        "revenue_grouping_sets": """
            SELECT l_returnflag, l_linestatus,
                   CAST(grouping_id(l_returnflag, l_linestatus) AS BIGINT) AS gid,
                   count(*) AS n_lines,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
                                    (l_returnflag), ())
            ORDER BY gid, l_returnflag, l_linestatus
        """,
        "events_trailing_hour_sum": """
            SELECT user_id, event_id,
                   round(sum(value) OVER (PARTITION BY user_id
                                          ORDER BY epoch_us(ts)
                                          RANGE BETWEEN 3600000000 PRECEDING
                                                    AND CURRENT ROW), 4) AS hour_sum
            FROM events
            ORDER BY user_id, event_id
        """,
        "events_moving_avg": """
            SELECT user_id, event_id,
                   round(avg(value) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id
                                          ROWS BETWEEN 4 PRECEDING
                                                   AND CURRENT ROW), 6) AS moving_avg
            FROM events
            ORDER BY user_id, event_id
        """,
        "similar_part_names": """
            WITH blocked AS (
                SELECT DISTINCT p_name,
                       list_extract(string_split(p_name, ' '), -1) AS blk
                FROM part
            )
            SELECT a.p_name AS name_a, b.p_name AS name_b,
                   CAST(levenshtein(a.p_name, b.p_name) AS INTEGER) AS dist
            FROM blocked a JOIN blocked b ON a.blk = b.blk
            WHERE a.p_name < b.p_name
              AND levenshtein(a.p_name, b.p_name) BETWEEN 1 AND 2
            ORDER BY name_a, name_b
        """,
        "customer_rfm_segments": """
            WITH per_cust AS (
                SELECT o_custkey,
                       max(o_orderdate) AS last_order,
                       count(*) AS frequency,
                       round(sum(o_totalprice), 2) AS monetary
                FROM orders GROUP BY 1
            ), scored AS (
                SELECT o_custkey,
                       CAST(date_diff('day', CAST(last_order AS DATE),
                                      (SELECT CAST(max(o_orderdate) AS DATE)
                                       FROM orders)) AS INTEGER) AS recency_days,
                       frequency, monetary
                FROM per_cust
            )
            SELECT o_custkey, recency_days, frequency, monetary,
                   CAST(ntile(4) OVER (ORDER BY recency_days, o_custkey) AS INTEGER) AS r_quartile,
                   CAST(ntile(4) OVER (ORDER BY frequency DESC, o_custkey) AS INTEGER) AS f_quartile,
                   CAST(ntile(4) OVER (ORDER BY monetary DESC, o_custkey) AS INTEGER) AS m_quartile
            FROM scored
            ORDER BY o_custkey
        """,
        "brand_yoy_revenue": """
            WITH yearly AS (
                SELECT p_brand, year(l_shipdate) AS ship_year,
                       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
                FROM lineitem JOIN part ON l_partkey = p_partkey
                GROUP BY 1, 2
            )
            SELECT p_brand, ship_year, revenue,
                   round(CASE WHEN lag(ship_year) OVER w = ship_year - 1
                              THEN lag(revenue) OVER w END, 2) AS prev_revenue,
                   round(revenue - CASE WHEN lag(ship_year) OVER w = ship_year - 1
                                        THEN lag(revenue) OVER w END, 2) AS yoy_delta
            FROM yearly
            WINDOW w AS (PARTITION BY p_brand ORDER BY ship_year)
            ORDER BY p_brand, ship_year
        """,
        "session_first_touch_attribution": """
            WITH ordered AS (
                SELECT user_id, ts, event_id, event_type, value,
                       lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
                FROM events
            ), flagged AS (
                SELECT *, CASE WHEN prev_ts IS NULL
                                    OR epoch_us(ts) - epoch_us(prev_ts) > 1800000000
                               THEN 1 ELSE 0 END AS is_new
                FROM ordered
            ), assigned AS (
                SELECT *, CAST(sum(is_new) OVER (
                            PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                          ) AS BIGINT) AS session_id
                FROM flagged
            ), tagged AS (
                SELECT *, first_value(event_type) OVER (
                            PARTITION BY user_id, session_id
                            ORDER BY ts, event_id
                          ) AS first_touch
                FROM assigned
            )
            SELECT first_touch,
                   count(DISTINCT (user_id, session_id)) AS n_sessions,
                   CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_purchases,
                   round(sum(CASE WHEN event_type = 'purchase' THEN value
                                  ELSE 0.0 END), 2) AS purchase_value
            FROM tagged
            GROUP BY 1
            ORDER BY 1
        """,
        "brand_basket_affinity": """
            WITH ob AS (
                SELECT DISTINCT l_orderkey, p_brand
                FROM lineitem JOIN part ON l_partkey = p_partkey
            ), pairs AS (
                SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
                       count(*) AS n_orders
                FROM ob a JOIN ob b ON a.l_orderkey = b.l_orderkey
                WHERE a.p_brand < b.p_brand
                GROUP BY 1, 2
            ), marg AS (
                SELECT p_brand, CAST(count(*) AS BIGINT) AS cnt
                FROM ob GROUP BY 1
            ), total AS (
                SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_total
                FROM ob
            )
            SELECT brand_a, brand_b, n_orders,
                   round(n_orders * CAST(n_total AS DOUBLE)
                         / (ma.cnt * mb.cnt), 4) AS lift
            FROM pairs
            JOIN marg ma ON ma.p_brand = brand_a
            JOIN marg mb ON mb.p_brand = brand_b
            CROSS JOIN total
            ORDER BY n_orders DESC, brand_a, brand_b
        """,
        "user_event_transitions": """
            WITH seq AS (
                SELECT user_id, event_type AS next_type,
                       lag(event_type) OVER (PARTITION BY user_id
                                             ORDER BY ts, event_id) AS prev_type
                FROM events
            )
            SELECT prev_type, next_type, count(*) AS n_transitions
            FROM seq
            WHERE prev_type IS NOT NULL
            GROUP BY 1, 2
            ORDER BY 1, 2
        """,
        "source_token_budget_cap": f"""
            WITH sized AS (
                SELECT doc_id, source, CAST(len({tokens}) AS BIGINT) AS n_tokens
                FROM documents
            ), run AS (
                SELECT source, doc_id, n_tokens,
                       CAST(sum(n_tokens) OVER (PARTITION BY source
                                           ORDER BY n_tokens DESC, doc_id
                                           ROWS BETWEEN UNBOUNDED PRECEDING
                                                    AND CURRENT ROW) AS BIGINT) AS cum_tokens
                FROM sized
            )
            SELECT source, doc_id, n_tokens, cum_tokens
            FROM run WHERE cum_tokens <= 20000
            ORDER BY source, cum_tokens
        """,
        "kmv_click_purchase_overlap": _kmv_set_sql(
            "(SELECT user_id FROM events WHERE event_type = 'click')",
            "(SELECT user_id FROM events WHERE event_type = 'purchase')",
            "user_id",
            k=64,
        ),
        "bloom_filtered_building_revenue": """
            SELECT year(o_orderdate) AS order_year,
                   count(*) AS n_orders,
                   round(sum(o_totalprice), 2) AS revenue
            FROM orders
            WHERE o_custkey IN (SELECT c_custkey FROM customer
                                WHERE c_mktsegment = 'BUILDING')
            GROUP BY 1
            ORDER BY 1
        """,
        "cms_heavy_users": _cms_sql("events", "user_id", depth=4, width=256, k=20),
        "funnel_click_view_purchase": """
            WITH s0 AS (
                SELECT user_id,
                       min(CASE WHEN event_type = 'click' THEN ts END) AS t0
                FROM events GROUP BY 1
            ), s1 AS (
                SELECT e.user_id, p.t0,
                       min(CASE WHEN e.event_type = 'view' AND e.ts > p.t0
                                THEN e.ts END) AS t1
                FROM events e JOIN s0 p USING (user_id) GROUP BY 1, 2
            ), s2 AS (
                SELECT e.user_id, q.t1,
                       min(CASE WHEN e.event_type = 'purchase' AND e.ts > q.t1
                                THEN e.ts END) AS t2
                FROM events e JOIN s1 q USING (user_id) GROUP BY 1, 2
            )
            SELECT CAST(0 AS INTEGER) AS step_idx, 'click' AS step,
                   (SELECT count(t0) FROM s0) AS n_users
            UNION ALL
            SELECT 1, 'view', (SELECT count(t1) FROM s1)
            UNION ALL
            SELECT 2, 'purchase', (SELECT count(t2) FROM s2)
        """,
        "orders_merge_upsert": """
            WITH h AS (
                SELECT *, substring(md5('chg:' || CAST(o_orderkey AS VARCHAR)), 1, 8) AS hx
                FROM orders
            ), latest AS (
                -- seq-2 update wins over seq-1 for updated keys
                SELECT o_orderkey, o_custkey, o_orderstatus,
                       o_totalprice + 200.0 AS o_totalprice, o_orderdate,
                       o_orderpriority, 'U' AS op
                FROM h WHERE hx < '20000000'
                UNION ALL
                SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                       o_orderdate, o_orderpriority, 'D'
                FROM h WHERE hx >= '20000000' AND hx < '30000000'
                UNION ALL
                SELECT o_orderkey + 100000000, o_custkey, o_orderstatus,
                       o_totalprice, o_orderdate, o_orderpriority, 'I'
                FROM h WHERE hx >= 'f0000000'
            ), merged AS (
                SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
                WHERE o_orderkey NOT IN (SELECT o_orderkey FROM latest)
                UNION ALL
                SELECT o_orderkey, o_orderstatus, o_totalprice FROM latest
                WHERE op <> 'D'
            )
            SELECT o_orderstatus, count(*) AS n_orders,
                   round(sum(o_totalprice), 2) AS total_price,
                   max(o_orderkey) AS max_key
            FROM merged GROUP BY 1 ORDER BY 1
        """,
        "doc_unigram_logprob": f"""
            WITH toks AS (
                SELECT doc_id, unnest({tokens}) AS tok FROM documents
            ), freq AS (
                SELECT tok, CAST(count(*) AS BIGINT) AS c FROM toks GROUP BY 1
            ), tot AS (
                SELECT CAST(sum(c) AS BIGINT) AS total FROM freq
            ), lp AS (
                SELECT doc_id, log10(CAST(c AS DOUBLE) / total) AS l
                FROM toks JOIN freq USING (tok) CROSS JOIN tot
            ), agg AS (
                SELECT doc_id, count(*) AS n_tokens, round(sum(l), 6) AS num
                FROM lp GROUP BY 1
            )
            SELECT doc_id, n_tokens,
                   {_jround('num / n_tokens', 6)} AS avg_logprob
            FROM agg
        """,
        "nation_market_share": f"""
            WITH agg AS (
                SELECT year(l_shipdate) AS ship_year,
                       round(sum(CASE WHEN ns.n_name = 'NATION_1'
                                      THEN l_extendedprice * (1 - l_discount)
                                      ELSE 0 END), 2) AS nation_revenue,
                       round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
                FROM lineitem
                JOIN part      ON l_partkey = p_partkey AND p_type = 'ECONOMY'
                JOIN orders    ON l_orderkey = o_orderkey
                JOIN customer  ON o_custkey = c_custkey
                JOIN nation nc ON c_nationkey = nc.n_nationkey
                JOIN region    ON nc.n_regionkey = r_regionkey AND r_name = 'ASIA'
                JOIN supplier  ON l_suppkey = s_suppkey
                JOIN nation ns ON s_nationkey = ns.n_nationkey
                GROUP BY 1
            )
            SELECT ship_year, nation_revenue, total_revenue,
                   {_jround('nation_revenue / total_revenue', 6)} AS mkt_share
            FROM agg ORDER BY ship_year
        """,
        "nation_profit_by_year": """
            SELECT n_name AS nation, year(l_shipdate) AS ship_year,
                   CAST(sum(CAST(round((l_extendedprice * (1 - l_discount)
                                        - p_retailprice * l_quantity) * 10000)
                                 AS BIGINT)) AS DOUBLE) / 10000.0 AS profit,
                   count(*) AS n_lines
            FROM lineitem
            JOIN part     ON l_partkey = p_partkey AND p_name LIKE '%red%'
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation   ON s_nationkey = n_nationkey
            GROUP BY 1, 2
            ORDER BY nation, ship_year DESC
        """,
        "events_time_weighted_avg": _twa_sql(
            "events", "ts", "value", ("event_type",), "1 day", "event_id"
        ),
        "events_counter_deltas": _counter_sql(
            "events", "ts", "value", ("event_type",), "1 day", "event_id"
        ),
        "doc_pii_scrub": _pii_sql(
            "(SELECT doc_id, text || ' 联系 user' || CAST(doc_id AS VARCHAR)"
            " || '@example.com 电话138' || lpad(CAST(doc_id AS VARCHAR), 8, '0')"
            " AS text FROM documents) aug"
        ),
        "doc_pack_sequences": _pack_sql("documents", f"len({tokens})"),
        "doc_pack_audit": f"""
            WITH packed AS ({_pack_sql("documents", f"len({tokens})")}),
            agg AS (
                SELECT shard,
                       CAST(count(*) AS BIGINT) AS n_docs,
                       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
                       CAST(sum(CASE WHEN bin_offset + n_tokens > 2048
                                     THEN 1 ELSE 0 END) AS BIGINT)
                           AS n_straddling,
                       CAST(coalesce(max(CASE WHEN n_tokens > 0
                                THEN bin_id + (bin_offset + n_tokens - 1)
                                              // 2048
                                END), -1) + 1 AS BIGINT) AS n_bins
                FROM packed GROUP BY shard
            )
            SELECT shard, n_docs, total_tokens, n_bins,
                   CAST(n_bins * 2048 - total_tokens AS BIGINT) AS tail_waste,
                   n_straddling,
                   CAST(CASE WHEN n_bins = 0 THEN 0
                        ELSE (total_tokens * 1000000) // (n_bins * 2048)
                        END AS BIGINT) AS fill_ppm
            FROM agg
        """,
        "doc_benchmark_contamination": f"""
            WITH toks AS (
                SELECT doc_id, {tokens} AS t FROM documents
            ), grams AS (
                SELECT doc_id,
                       list_distinct(
                           list_transform(
                               range(1, greatest(len(t) - 3, 0) + 2),
                               i -> array_to_string(t[i:i+2], ' ')
                           )
                       ) AS sh
                FROM toks
            ), docsh AS (
                SELECT doc_id, unnest(sh) AS s FROM grams WHERE doc_id % 10 <> 0
            ), bench AS (
                SELECT DISTINCT s FROM (
                    SELECT unnest(sh) AS s FROM grams WHERE doc_id % 10 = 0
                )
            ), m AS (
                SELECT doc_id, count(*) AS matched
                FROM docsh JOIN bench USING (s) GROUP BY doc_id
            ), sz AS (
                SELECT doc_id, count(*) AS set_size FROM docsh GROUP BY doc_id
            )
            SELECT sz.doc_id,
                   CAST(set_size AS BIGINT) AS set_size,
                   CAST(COALESCE(matched, 0) AS BIGINT) AS matched,
                   CAST(COALESCE(matched, 0) AS DOUBLE) / set_size AS contamination
            FROM sz LEFT JOIN m ON sz.doc_id = m.doc_id
        """,
        "minhash_portable_pairs_docs": f"""
            WITH {_minhash_ctes}, thr AS (
                SELECT id_a, id_b, est_jaccard FROM est WHERE est_jaccard >= 0.5
            )
            SELECT id_a, id_b, est_jaccard FROM (
                SELECT id_a, id_b, est_jaccard,
                       row_number() OVER (PARTITION BY id_a
                           ORDER BY est_jaccard DESC, id_b) AS ra,
                       row_number() OVER (PARTITION BY id_b
                           ORDER BY est_jaccard DESC, id_a) AS rb
                FROM thr
            ) WHERE ra <= 20 AND rb <= 20
        """,
        "minhash_dedup_clusters": f"""
            WITH RECURSIVE {_minhash_ctes}, pairs AS (
                SELECT id_a, id_b FROM est WHERE est_jaccard >= 0.5
            ), edges AS (
                SELECT id_a AS src, id_b AS dst FROM pairs
                UNION ALL
                SELECT id_b AS src, id_a AS dst FROM pairs
            ), reach AS (
                -- min-label reachability: lbl flows along (symmetric)
                -- edges; min over labels reaching a node = min doc_id
                -- of its connected component
                SELECT doc_id AS id, doc_id AS lbl FROM documents
                UNION
                SELECT e.dst AS id, r.lbl AS lbl
                FROM reach r JOIN edges e ON e.src = r.id
            ), comp AS (
                SELECT id AS doc_id, min(lbl) AS cluster_id
                FROM reach GROUP BY id
            )
            SELECT doc_id, cluster_id,
                   CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size,
                   doc_id = cluster_id AS is_canonical
            FROM comp
        """,
        "simhash_portable_pairs_docs": f"""
            WITH {_simhash_ctes}, thr AS (
                SELECT id_a, id_b, hamming FROM ham WHERE hamming <= 3
            )
            SELECT id_a, id_b, hamming FROM (
                SELECT id_a, id_b, hamming,
                       row_number() OVER (PARTITION BY id_a
                           ORDER BY hamming ASC, id_b) AS ra,
                       row_number() OVER (PARTITION BY id_b
                           ORDER BY hamming ASC, id_a) AS rb
                FROM thr
            ) WHERE ra <= 20 AND rb <= 20
        """,
        "simhash_pairs_docs": f"""
            WITH {_simhash_ctes}, thr AS (
                SELECT id_a, id_b, hamming FROM ham WHERE hamming <= 8
            )
            SELECT id_a, id_b, hamming FROM (
                SELECT id_a, id_b, hamming,
                       row_number() OVER (PARTITION BY id_a
                           ORDER BY hamming ASC, id_b) AS ra,
                       row_number() OVER (PARTITION BY id_b
                           ORDER BY hamming ASC, id_a) AS rb
                FROM thr
            ) WHERE ra <= 20 AND rb <= 20
        """,
        "minhash_dedup_docs": f"""
            WITH {_minhash_ctes}
            SELECT doc_id FROM documents
            WHERE doc_id NOT IN (
                SELECT id_b FROM est WHERE est_jaccard >= 0.8
            )
        """,
        "ngram_jaccard_docs": f"""
            WITH toks AS (
                SELECT doc_id, {tokens} AS t FROM documents
            ), grams AS (
                SELECT doc_id,
                       list_distinct(
                           list_transform(
                               range(1, greatest(len(t) - 3, 0) + 2),
                               i -> array_to_string(t[i:i+2], ' ')
                           )
                       ) AS shingles
                FROM toks
            ), inv AS (
                SELECT doc_id, unnest(shingles) AS shingle FROM grams
            ), sizes AS (
                -- FULL set sizes (pre-cap): the capped jaccard keeps
                -- exact denominators, mirroring the Spark operator
                SELECT doc_id, count(*) AS set_size FROM inv GROUP BY doc_id
            ), hot AS (
                SELECT shingle FROM inv GROUP BY shingle HAVING count(*) > 64
            ), invc AS (
                SELECT inv.* FROM inv ANTI JOIN hot USING (shingle)
            ), common AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
                FROM invc a JOIN invc b
                  ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY a.doc_id, b.doc_id
            ), scored AS (
                SELECT id_a, id_b,
                       round(common * 1.0
                             / (sa.set_size + sb.set_size - common), 6) AS jaccard
                FROM common
                JOIN sizes sa ON sa.doc_id = id_a
                JOIN sizes sb ON sb.doc_id = id_b
                WHERE common * 1.0 / (sa.set_size + sb.set_size - common) >= 0.2
            )
            SELECT id_a, id_b, jaccard FROM (
                SELECT id_a, id_b, jaccard,
                       row_number() OVER (PARTITION BY id_a
                           ORDER BY jaccard DESC, id_b) AS ra,
                       row_number() OVER (PARTITION BY id_b
                           ORDER BY jaccard DESC, id_a) AS rb
                FROM scored
            ) WHERE ra <= 20 AND rb <= 20
        """,
        "cosine_topk_embeddings": """
            WITH q AS (
                SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
                FROM embeddings WHERE vec_id < 3
            ), c AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings
            ), scored AS (
                SELECT q.query_id, c.vec_id,
                       round(
                           list_dot_product(c.cv, q.qv) /
                           (sqrt(list_dot_product(c.cv, c.cv)) *
                            sqrt(list_dot_product(q.qv, q.qv))), 6
                       ) AS cosine_sim
                FROM c CROSS JOIN q
                WHERE q.query_id <> c.vec_id
            )
            SELECT query_id, vec_id, cosine_sim, CAST(rank AS INT) AS rank
            FROM (
                SELECT query_id, vec_id, cosine_sim,
                       row_number() OVER (
                           PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id
                       ) AS rank
                FROM scored
            ) WHERE rank <= 5
        """,
        "embedding_cosine_dedup_lsh": f"""
            WITH c AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings
            ), b AS (
                SELECT vec_id, tbl, {_lsh_buckets_case('cv', 64, 3, 24)} AS bucket
                FROM c CROSS JOIN (VALUES {",".join(f"({t})" for t in range(24))}) t(tbl)
            ), cand AS (
                SELECT DISTINCT a.vec_id AS ia, b2.vec_id AS ib
                FROM b a JOIN b b2
                  ON a.tbl = b2.tbl AND a.bucket = b2.bucket AND a.vec_id < b2.vec_id
            ), dups AS (
                SELECT DISTINCT cand.ib
                FROM cand
                JOIN c ca ON ca.vec_id = cand.ia
                JOIN c cb ON cb.vec_id = cand.ib
                WHERE round(
                          list_dot_product(ca.cv, cb.cv) /
                          (sqrt(list_dot_product(ca.cv, ca.cv)) *
                           sqrt(list_dot_product(cb.cv, cb.cv))), 6
                      ) >= 0.4
            )
            SELECT vec_id, label FROM embeddings
            WHERE vec_id NOT IN (SELECT ib FROM dups)
        """,
        "embedding_cosine_dedup_ivf": f"""
            WITH emb AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings
            ), c0 AS (
                SELECT row_number() OVER (ORDER BY h) AS cell, cv AS centroid
                FROM (
                    SELECT vec_id, cv,
                           CAST(CONCAT('0x', substring(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
                    FROM emb ORDER BY h LIMIT 16
                )
            ), {_ivf_assign('a1', 'c0')}, {_ivf_means('c1', 'a1')},
               {_ivf_assign('a2', 'c1')}, {_ivf_means('c2', 'a2')},
            multi AS (
                SELECT vec_id, cv, cell FROM (
                    SELECT e.vec_id, e.cv, c.cell,
                           row_number() OVER (PARTITION BY e.vec_id
                               ORDER BY {_ivf_cos.format(v='e.cv', c='c.centroid')} DESC, c.cell) AS rn
                    FROM emb e CROSS JOIN c2 c
                ) WHERE rn <= 4
            ), cpairs AS (
                SELECT DISTINCT a.vec_id AS ia, b.vec_id AS ib
                FROM multi a JOIN multi b
                  ON a.cell = b.cell AND a.vec_id < b.vec_id
            ), dups AS (
                SELECT DISTINCT p.ib
                FROM cpairs p
                JOIN emb x ON x.vec_id = p.ia
                JOIN emb y ON y.vec_id = p.ib
                WHERE round({_ivf_cos.format(v='x.cv', c='y.cv')}, 6) >= 0.4
            )
            SELECT vec_id, label FROM embeddings
            WHERE vec_id NOT IN (SELECT ib FROM dups)
        """,
        "ivf_cosine_topk_embeddings": f"""
            WITH {_IVF_KMEANS_CTES},
            q AS (
                SELECT vec_id AS query_id, cv AS qv FROM emb WHERE vec_id < 3
            ), probes AS (
                SELECT query_id, qv, cell FROM (
                    SELECT q.query_id, q.qv, c.cell,
                           row_number() OVER (PARTITION BY q.query_id
                               ORDER BY {_ivf_cos.format(v='q.qv', c='c.centroid')} DESC, c.cell) AS rn
                    FROM q CROSS JOIN c2 c
                ) WHERE rn <= 4
            ), cand AS (
                SELECT p.query_id, p.qv, a.vec_id, a.cv
                FROM afinal a JOIN probes p USING (cell)
                WHERE p.query_id <> a.vec_id
            ), scored AS (
                SELECT query_id, vec_id,
                       round({_ivf_cos.format(v='cv', c='qv')}, 6) AS cosine_sim
                FROM cand
            )
            SELECT query_id, vec_id, cosine_sim, CAST(rank AS INT) AS rank
            FROM (
                SELECT query_id, vec_id, cosine_sim,
                       row_number() OVER (PARTITION BY query_id
                           ORDER BY cosine_sim DESC, vec_id) AS rank
                FROM scored
            ) WHERE rank <= 5
        """,
        "lsh_cosine_topk_embeddings": f"""
            WITH c AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings
            ), q AS (
                SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
                FROM embeddings WHERE vec_id < 3
            ), cb AS (
                SELECT vec_id, tbl, {_lsh_buckets_case('cv', 64, 4, 4)} AS bucket
                FROM c CROSS JOIN (VALUES {_lsh_tables_vals}) t(tbl)
            ), qb AS (
                SELECT query_id, tbl, {_lsh_buckets_case('qv', 64, 4, 4)} AS bucket
                FROM q CROSS JOIN (VALUES {_lsh_tables_vals}) t(tbl)
            ), cand AS (
                SELECT DISTINCT qb.query_id, cb.vec_id
                FROM cb JOIN qb ON cb.tbl = qb.tbl AND cb.bucket = qb.bucket
                WHERE qb.query_id <> cb.vec_id
            ), scored AS (
                SELECT cand.query_id, cand.vec_id,
                       round(
                           list_dot_product(c.cv, q.qv) /
                           (sqrt(list_dot_product(c.cv, c.cv)) *
                            sqrt(list_dot_product(q.qv, q.qv))), 6
                       ) AS cosine_sim
                FROM cand
                JOIN c ON c.vec_id = cand.vec_id
                JOIN q ON q.query_id = cand.query_id
            )
            SELECT query_id, vec_id, cosine_sim, CAST(rank AS INT) AS rank
            FROM (
                SELECT query_id, vec_id, cosine_sim,
                       row_number() OVER (
                           PARTITION BY query_id ORDER BY cosine_sim DESC, vec_id
                       ) AS rank
                FROM scored
            ) WHERE rank <= 5
        """,
        "doc_token_stats": f"""
            WITH toks AS (
                SELECT doc_id, text, {tokens} AS t FROM documents
            )
            SELECT doc_id,
                   len(t) AS n_tokens,
                   length(text) AS len_chars,
                   round(
                       CASE WHEN len(t) > 0
                            THEN length(array_to_string(t, '')) * 1.0 / len(t)
                            ELSE 0.0 END, 6
                   ) AS avg_token_len
            FROM toks
        """,
        "clean_documents": f"""
            WITH lines AS (
                SELECT doc_id, u.p - 1 AS line_no, u.l AS line
                FROM (
                    SELECT doc_id,
                           list_transform(
                               string_split(text, chr(10)),
                               (x, i) -> struct_pack(p := i, l := x)
                           ) AS ls
                    FROM documents
                ), unnest(ls) AS t(u)
            ), denoised AS (
                SELECT * FROM lines
                WHERE NOT (
                    regexp_matches(line, '{_NOISE_RE_SQL}')
                    OR (
                        len(string_split_regex(line, 'https?://')) - 1 > 2
                        AND length(line) * 1.0 /
                            greatest(len(string_split_regex(line, 'https?://')) - 1, 1) < 30
                    )
                )
            ), counted AS (
                SELECT *,
                       count(*) OVER (PARTITION BY doc_id, line) AS line_freq,
                       count(*) OVER (PARTITION BY doc_id) AS doc_lines
                FROM denoised
            ), kept AS (
                SELECT doc_id, line_no, line FROM counted
                WHERE NOT (doc_lines >= 20 AND length(line) < 100 AND line_freq >= 3)
            )
            SELECT doc_id,
                   substring(string_agg(line, chr(10) ORDER BY line_no), 1, 80000) AS text
            FROM kept GROUP BY doc_id
        """,
        "chunk_documents": """
            WITH parents AS (
                SELECT doc_id, u.p - 1 AS parent_id, u.l AS parent_text
                FROM (
                    SELECT doc_id,
                           list_transform(
                               flatten(list_transform(
                                   list_filter(
                                       list_transform(
                                           string_split_regex(text, '\\n\\n'),
                                           x -> trim(x)
                                       ), p -> p <> ''
                                   ),
                                   p -> list_transform(
                                       range(0, (length(p) - 1) // 1024 + 1),
                                       i -> substring(p, CAST(i AS INT) * 1024 + 1, 1024)
                                   )
                               )),
                               (x, i) -> struct_pack(p := i, l := x)
                           ) AS ps
                    FROM documents
                ), unnest(ps) AS t(u)
            )
            SELECT doc_id, CAST(parent_id AS BIGINT) AS parent_id,
                   CAST(u.p - 1 AS BIGINT) AS child_id, u.l AS child_text
            FROM (
                SELECT doc_id, parent_id,
                       list_transform(
                           flatten(list_transform(
                               list_filter(
                                   list_transform(
                                       string_split_regex(parent_text, '\\.\\s'),
                                       x -> trim(x)
                                   ), p -> p <> ''
                               ),
                               p -> list_transform(
                                   range(0, (length(p) - 1) // 512 + 1),
                                   i -> substring(p, CAST(i AS INT) * 512 + 1, 512)
                               )
                           )),
                           (x, i) -> struct_pack(p := i, l := x)
                       ) AS cs
                FROM parents
            ), unnest(cs) AS t(u)
        """,
        "customers_without_orders": """
            SELECT c_custkey, c_name, c_mktsegment
            FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        """,
        "custkeys_open_and_finished": """
            SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
            INTERSECT
            SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        """,
        "range_join_click_to_purchase": """
            SELECT c.user_id, c.click_id,
                   count(*) AS n_purchases,
                   round(sum(p.p_value), 4) AS purchase_total
            FROM (
                SELECT user_id, ts AS click_ts, event_id AS click_id
                FROM events WHERE event_type = 'click'
            ) c
            JOIN (
                SELECT user_id AS p_user, ts AS p_ts, value AS p_value
                FROM events WHERE event_type = 'purchase'
            ) p ON c.user_id = p.p_user
               AND p.p_ts > c.click_ts
               AND p.p_ts <= c.click_ts + INTERVAL 1 HOUR
            GROUP BY c.user_id, c.click_id
        """,
        "events_pivot_by_type": """
            -- count(*) FILTER is BIGINT; sum(CASE...) would be HUGEINT
            -- (int128), which pandas/driver hashing sees differently
            -- from Spark's BIGINT counts.
            SELECT user_id,
                   count(*) FILTER (WHERE event_type = 'click') AS click,
                   count(*) FILTER (WHERE event_type = 'error') AS error,
                   count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
                   count(*) FILTER (WHERE event_type = 'signup') AS signup,
                   count(*) FILTER (WHERE event_type = 'view') AS view
            FROM events GROUP BY user_id
        """,
        "rollup_pricing": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   count(*) AS n_rows
            FROM lineitem
            GROUP BY ROLLUP (l_returnflag, l_linestatus)
        """,
        "small_quantity_part_revenue": """
            SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_yearly
            FROM lineitem l JOIN (
                SELECT l_partkey AS ap_partkey, avg(l_quantity) AS avg_qty
                FROM lineitem GROUP BY l_partkey
            ) a ON l.l_partkey = a.ap_partkey
            WHERE l.l_quantity < 0.2 * a.avg_qty
        """,
        "customer_order_histogram": """
            SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
            FROM (
                SELECT c.c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS c_count
                FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
                GROUP BY c.c_custkey
            )
            GROUP BY c_count
        """,
        "events_cube_by_type_dow": """
            SELECT event_type, dow,
                   CAST(count(*) AS BIGINT) AS n_events,
                   round(sum(value), 2) AS total_value,
                   CAST(GROUPING(event_type) AS BIGINT) AS g_type,
                   CAST(GROUPING(dow) AS BIGINT) AS g_dow
            FROM (SELECT event_type, CAST(isodow(ts) AS BIGINT) AS dow, value FROM events)
            GROUP BY CUBE (event_type, dow)
        """,
        "percentiles_by_flag": """
            SELECT l_returnflag,
                   round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
                   round(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
                   round(quantile_cont(l_extendedprice, 0.99), 4) AS p99
            FROM lineitem GROUP BY l_returnflag
        """,
        "parse_dates_multi": """
            WITH raw AS (
                SELECT o_orderkey,
                       CASE o_orderkey % 5
                           WHEN 0 THEN strftime(o_orderdate, '%Y-%m-%d')
                           WHEN 1 THEN strftime(o_orderdate, '%Y/%m/%d')
                           WHEN 2 THEN strftime(o_orderdate, '%Y.%m.%d')
                           WHEN 3 THEN strftime(o_orderdate, '%Y年%m月%d日')
                           WHEN 4 THEN strftime(o_orderdate, '%Y%m%d')
                       END AS raw_date
                FROM orders
            )
            SELECT o_orderkey, raw_date,
                   CAST(coalesce(
                       try_strptime(raw_date, '%Y-%m-%d'),
                       try_strptime(raw_date, '%Y/%m/%d'),
                       try_strptime(raw_date, '%Y.%m.%d'),
                       try_strptime(raw_date, '%Y年%m月%d日'),
                       try_strptime(raw_date, '%Y%m%d')
                   ) AS TIMESTAMP) AS parsed
            FROM raw
        """,
        "decode_event_labels": """
            SELECT event_type,
                   CASE event_type
                       WHEN 'click' THEN '点击'
                       WHEN 'view' THEN '浏览'
                       WHEN 'purchase' THEN '购买'
                       WHEN 'signup' THEN '注册'
                       WHEN 'error' THEN '错误'
                       ELSE event_type
                   END AS event_label,
                   count(*) AS n
            FROM events GROUP BY event_type
        """,
        "label_centroid_components": """
            SELECT label, u.p - 1 AS pos, round(avg(u.v), 6) AS mean_v
            FROM (
                SELECT label,
                       list_transform(
                           CAST(embedding AS DOUBLE[]),
                           (x, i) -> struct_pack(p := i, v := x)
                       ) AS comps
                FROM embeddings
            ), unnest(comps) AS t(u)
            GROUP BY label, u.p - 1
        """,
        "order_line_rollup": """
            SELECT l_orderkey,
                   string_agg(CAST(l_partkey AS VARCHAR), ',' ORDER BY l_linenumber, l_partkey) AS part_sequence,
                   count(*) AS n_lines
            FROM lineitem GROUP BY l_orderkey
        """,
        "events_props_extract": """
            SELECT event_type,
                   count(k) AS n_with_k,
                   round(avg(k), 6) AS avg_k,
                   min(k) AS min_k,
                   max(k) AS max_k
            FROM (
                SELECT event_type,
                       CAST(json_extract(props, '$.k') AS INT) AS k
                FROM events
            ) GROUP BY event_type
        """,
        "distinct_users_per_type": """
            SELECT event_type,
                   count(DISTINCT user_id) AS n_users,
                   count(*) AS n_events
            FROM events GROUP BY event_type
        """,
        "windowed_event_counts": """
            SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
                   time_bucket(INTERVAL 1 HOUR, ts) + INTERVAL 1 HOUR AS window_end,
                   event_type,
                   count(*) AS n_events,
                   round(sum(value), 4) AS total_value
            FROM events
            GROUP BY 1, 2, 3
        """,
        "streaming_late_drop_events": """
            -- two-phase watermark replay: A = on-time history,
            -- B = tail + late replays. Watermarks are ms-floored
            -- (Spark EventTimeStats), delay 1h. Survive: window_end
            -- > W1 (open windows aggregate late rows); emit:
            -- window_end <= W2 (append-mode finalization frontier).
            WITH a AS (
                SELECT * FROM events
                WHERE ts <= TIMESTAMP '2024-01-26 00:00:00'
                  AND event_id % 7 <> 0
            ), b AS (
                SELECT * FROM events WHERE ts > TIMESTAMP '2024-01-26 00:00:00'
                UNION ALL
                SELECT * FROM events
                WHERE ts <= TIMESTAMP '2024-01-26 00:00:00'
                  AND event_id % 7 = 0
            ), w1 AS (
                SELECT (epoch_us(max(ts)) // 1000) * 1000 - 3600000000 AS wm_us
                FROM a
            ), w2 AS (
                SELECT (epoch_us(max(ts)) // 1000) * 1000 - 3600000000 AS wm_us
                FROM events
            ), surv AS (
                SELECT event_type, ts, value FROM a
                UNION ALL
                SELECT b.event_type, b.ts, b.value FROM b, w1
                WHERE epoch_us(time_bucket(INTERVAL 1 HOUR, b.ts)
                               + INTERVAL 1 HOUR) > w1.wm_us
            )
            SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
                   time_bucket(INTERVAL 1 HOUR, ts) + INTERVAL 1 HOUR AS window_end,
                   event_type,
                   CAST(count(*) AS BIGINT) AS n_events,
                   round(sum(value), 4) AS total_value
            FROM surv, w2
            WHERE epoch_us(time_bucket(INTERVAL 1 HOUR, ts)
                           + INTERVAL 1 HOUR) <= w2.wm_us
            GROUP BY 1, 2, 3
        """,
        "streaming_stream_stream_join_events": """
            -- inner interval join emits matches immediately, so the
            -- availableNow stream-stream run equals the batch join
            SELECT c.user_id,
                   c.ts AS click_ts,
                   p.ts AS purchase_ts,
                   p.value AS purchase_value
            FROM events c
            JOIN events p
              ON p.user_id = c.user_id
             AND p.ts > c.ts
             AND p.ts <= c.ts + INTERVAL 30 MINUTE
            WHERE c.event_type = 'click' AND p.event_type = 'purchase'
        """,
        "streaming_stream_stream_left_join_events": """
            -- left-outer interval join: matches emit immediately;
            -- an UNMATCHED click's null row emits only once its join
            -- window provably closed — measured frontier (strict):
            -- click_ts + horizon < W_global, with W_global = min over
            -- sides of floor_ms(max side event time) - delay (Spark
            -- EventTimeStats is ms-floored; default min-policy across
            -- the two input watermarks). delay 1h, horizon 30min.
            WITH c AS (
                SELECT user_id, ts FROM events WHERE event_type = 'click'
            ), p AS (
                SELECT user_id, ts, value FROM events
                WHERE event_type = 'purchase'
            ), wm AS (
                -- NULL-strict min (DuckDB least() SKIPS NULLs; Spark's
                -- min-policy global watermark stays at 0 until BOTH
                -- sides have seen data, so an empty side must yield a
                -- NULL frontier = no null-row emission)
                SELECT CASE WHEN mc IS NULL OR mp IS NULL THEN NULL
                       ELSE least(mc, mp) - 3600000000 END AS wm_us
                FROM (SELECT
                    (SELECT (epoch_us(max(ts)) // 1000) * 1000 FROM c) AS mc,
                    (SELECT (epoch_us(max(ts)) // 1000) * 1000 FROM p) AS mp)
            ), j AS (
                SELECT c.user_id, c.ts AS click_ts,
                       p.ts AS purchase_ts, p.value AS purchase_value
                FROM c LEFT JOIN p
                  ON p.user_id = c.user_id
                 AND p.ts > c.ts
                 AND p.ts <= c.ts + INTERVAL 30 MINUTE
            )
            SELECT user_id, click_ts, purchase_ts, purchase_value
            FROM j, wm
            WHERE purchase_ts IS NOT NULL
               OR epoch_us(click_ts) + 1800000000 < wm.wm_us
        """,
        "streaming_stream_stream_full_join_events": """
            -- full-outer interval join: matches emit immediately;
            -- unmatched rows gate on the global watermark with
            -- ASYMMETRIC measured frontiers — click-side null rows:
            -- click_ts + horizon < W_global (STRICT; a later
            -- purchase at exactly W still satisfies purchase_ts <=
            -- click_ts + horizon at equality); purchase-side null
            -- rows: purchase_ts <= W_global (NON-strict; a purchase
            -- exactly AT W emits — no future click, all >= W, can
            -- STRICTLY precede it). W_global = min over sides of
            -- floor_ms(max side event time) - delay; delay 1h,
            -- horizon 30min.
            WITH c AS (
                SELECT user_id, ts FROM events WHERE event_type = 'click'
            ), p AS (
                SELECT user_id, ts, value FROM events
                WHERE event_type = 'purchase'
            ), wm AS (
                -- NULL-strict min (an empty side pins the global
                -- watermark at its epoch-0 floor: no null emission)
                SELECT CASE WHEN mc IS NULL OR mp IS NULL THEN NULL
                       ELSE least(mc, mp) - 3600000000 END AS wm_us
                FROM (SELECT
                    (SELECT (epoch_us(max(ts)) // 1000) * 1000 FROM c) AS mc,
                    (SELECT (epoch_us(max(ts)) // 1000) * 1000 FROM p) AS mp)
            ), j AS (
                SELECT COALESCE(c.user_id, p.user_id) AS user_id,
                       c.ts AS click_ts,
                       p.ts AS purchase_ts, p.value AS purchase_value
                FROM c FULL OUTER JOIN p
                  ON p.user_id = c.user_id
                 AND p.ts > c.ts
                 AND p.ts <= c.ts + INTERVAL 30 MINUTE
            )
            SELECT user_id, click_ts, purchase_ts, purchase_value
            FROM j, wm
            WHERE (click_ts IS NOT NULL AND purchase_ts IS NOT NULL)
               OR (purchase_ts IS NULL
                   AND epoch_us(click_ts) + 1800000000 < wm.wm_us)
               OR (click_ts IS NULL
                   AND epoch_us(purchase_ts) <= wm.wm_us)
        """,
        "streaming_dedup_events": """
            -- dropDuplicatesWithinWatermark keyed on the full
            -- projected row == DISTINCT when every duplicate arrives
            -- inside the watermark horizon (single-file availableNow)
            SELECT DISTINCT
                   user_id,
                   event_type,
                   CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS INTEGER) AS day
            FROM events
        """,
        "streaming_user_stats_events": """
            -- batch twin of the applyInPandasWithState accumulator:
            -- integer-micros quantization BEFORE summation makes the
            -- stream state and this GROUP BY bit-identical
            -- NULL/NaN values contribute 0 micros but still count as
            -- events (the stream side maps them through nan_to_num)
            SELECT user_id,
                   CAST(count(*) AS BIGINT) AS n_events,
                   CAST(sum(CAST(CASE WHEN value IS NULL OR isnan(value)
                                      THEN 0
                                      ELSE floor(value * 1000000 + 0.5)
                                 END AS BIGINT)) AS BIGINT) AS total_value_u
            FROM events
            GROUP BY user_id
        """,
        "streaming_sessionize_events": """
            WITH m AS (
                SELECT user_id, ts,
                       CASE WHEN lag(ts) OVER w IS NULL
                                 OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE
                            THEN 1 ELSE 0 END AS brk
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts)
            ), s AS (
                SELECT user_id, ts,
                       sum(brk) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
                FROM m
            )
            SELECT user_id,
                   min(ts) AS session_start,
                   max(ts) + INTERVAL 30 MINUTE AS session_end,
                   CAST(count(*) AS BIGINT) AS n_events
            FROM s GROUP BY user_id, sid
        """,
        "streaming_windowed_event_counts": """
            SELECT time_bucket(INTERVAL 1 HOUR, ts) AS window_start,
                   time_bucket(INTERVAL 1 HOUR, ts) + INTERVAL 1 HOUR AS window_end,
                   event_type,
                   count(*) AS n_events,
                   round(sum(value), 4) AS total_value
            FROM events
            GROUP BY 1, 2, 3
        """,
        "events_lag_delta": """
            SELECT user_id, event_id,
                   epoch_us(ts) - epoch_us(lag(ts) OVER w) AS gap_us,
                   round(value - lag(value) OVER w, 4) AS value_delta
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        """,
        "custkeys_open_not_finished": """
            SELECT DISTINCT o_custkey FROM (
                SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
                EXCEPT
                SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
            )
        """,
        "doc_quality_scores": f"""
            WITH toks AS (
                SELECT doc_id, text, {tokens} AS t FROM documents
            ), feats AS (
                SELECT doc_id, text, t,
                       len(t) AS n_tok,
                       CASE WHEN len(t) > 0
                            THEN length(array_to_string(t, '')) * 1.0 / len(t)
                            ELSE 0.0 END AS mean_tok_len,
                       CASE WHEN len(t) > 0
                            THEN len(list_filter(t, x -> x IN ('the','a','of','and','to','in','is'))) * 1.0 / len(t)
                            ELSE 0.0 END AS sw_ratio,
                       CASE WHEN length(text) > 0
                            THEN 1 - length(regexp_replace(text, '[^\\p{{L}}\\p{{N}}\\s]', '', 'g')) * 1.0 / length(text)
                            ELSE 1.0 END AS sym_ratio
                FROM toks
            ), langs AS (
                SELECT doc_id,
                       list_max([
                           struct_pack(h := len(list_filter(t, x -> x IN ('the','and','of','to','is','in','that','it'))), l := 'en'),
                           struct_pack(h := len(list_filter(t, x -> x IN ('der','die','das','und','ist','nicht','ein','zu'))), l := 'de'),
                           struct_pack(h := len(list_filter(t, x -> x IN ('le','la','les','et','est','un','une','dans'))), l := 'fr'),
                           struct_pack(h := len(list_filter(t, x -> x IN ('el','la','los','y','es','un','una','que'))), l := 'es')
                       ]) AS best,
                       regexp_matches(text, '[一-鿿]') AS has_cjk
                FROM toks
            )
            SELECT f.doc_id,
                   round((
                       (CASE WHEN mean_tok_len >= 3 AND mean_tok_len <= 10 THEN 1.0 ELSE 0.5 END)
                       + least(sw_ratio * 5, 1.0)
                       + greatest(0.0, 1 - sym_ratio * 2)
                   ) / 3, 4) AS quality,
                   CASE WHEN l.has_cjk THEN 'zh'
                        WHEN l.best.h > 0 THEN l.best.l
                        ELSE 'und' END AS lang_guess
            FROM feats f JOIN langs l ON f.doc_id = l.doc_id
        """,
        "kv_roundtrip_customers": """
            SELECT c_custkey,
                   c_name AS name,
                   CAST(CAST(c_acctbal AS VARCHAR) AS DOUBLE) AS acctbal,
                   c_mktsegment AS mktsegment
            FROM customer
        """,
        "q6_revenue_forecast": """
            SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
                   count(*) AS n_items
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1997-01-01'
              AND l_shipdate < TIMESTAMP '1998-01-01'
              AND l_discount BETWEEN 0.05 AND 0.07
              AND l_quantity < 25
        """,
        "late_shipment_orders": """
            SELECT o_orderpriority, count(*) AS n_orders
            FROM orders o
            WHERE EXISTS (
                SELECT 1 FROM lineitem l
                WHERE l.l_orderkey = o.o_orderkey
                  AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
            )
            GROUP BY o_orderpriority
        """,
        "parts_with_many_suppliers": f"""
            SELECT l_partkey,
                   count(DISTINCT l_suppkey) AS n_suppliers,
                   {_jround("round(sum(l_extendedprice), 4) / count(l_extendedprice)", 4)} AS avg_price
            FROM lineitem
            GROUP BY l_partkey
            HAVING count(DISTINCT l_suppkey) >= 5
        """,
        "doc_bpe_token_counts": """
            SELECT doc_id,
                   len(regexp_extract_all(text,
                       '( ?[\\p{L}]+| ?[\\p{N}]+| ?[^\\s\\p{L}\\p{N}]+)', 1)) AS n_bpe_tokens,
                   len(list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '')) AS n_ws_tokens
            FROM documents
        """,
        "streaming_hypertable_rollup_events": f"""
            SELECT time_bucket(INTERVAL '1 hour', ts) AS bucket,
                   event_type,
                   count(*) AS n_events,
                   round(sum(value), 4) AS sum_value,
                   round(min(value), 4) AS min_value,
                   round(max(value), 4) AS max_value,
                   {_jround("round(sum(value), 4) / count(*)", 4)} AS avg_value
            FROM events
            GROUP BY 1, 2
        """,
        "hypertable_rollup_events": f"""
            SELECT time_bucket(INTERVAL '1 day', ts) AS bucket,
                   event_type,
                   count(*) AS n_events,
                   round(sum(value), 4) AS sum_value,
                   round(min(value), 4) AS min_value,
                   round(max(value), 4) AS max_value,
                   {_jround("round(sum(value), 4) / count(*)", 4)} AS avg_value
            FROM events
            GROUP BY 1, 2
        """,
        "hypertable_rollup_events_monthly": f"""
            SELECT time_bucket(INTERVAL '1 month', ts) AS bucket,
                   event_type,
                   count(*) AS n_events,
                   round(sum(value), 4) AS sum_value,
                   round(min(value), 4) AS min_value,
                   round(max(value), 4) AS max_value,
                   {_jround("round(sum(value), 4) / count(*)", 4)} AS avg_value
            FROM events
            GROUP BY 1, 2
        """,
        "gapfill_events_6h": f"""
            WITH b AS (
                SELECT time_bucket(INTERVAL '6 hours', ts) AS bucket,
                       event_type,
                       count(*) AS n_events,
                       {_jround("round(sum(value), 4) / count(*)", 4)} AS avg_value
                FROM events
                GROUP BY 1, 2
            ), bounds AS (
                SELECT min(bucket) AS lo, max(bucket) AS hi FROM b
            ), dense AS (
                SELECT unnest(generate_series(lo, hi, INTERVAL '6 hours')) AS bucket
                FROM bounds
            ), grid AS (
                SELECT dense.bucket, g.event_type
                FROM dense CROSS JOIN (SELECT DISTINCT event_type FROM b) g
            )
            SELECT grid.bucket, grid.event_type,
                   coalesce(b.n_events, 0) AS n_events,
                   last_value(b.avg_value IGNORE NULLS) OVER (
                       PARTITION BY grid.event_type ORDER BY grid.bucket
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS avg_value_locf
            FROM grid LEFT JOIN b USING (bucket, event_type)
        """,
        "embedding_cosine_dedup": """
            WITH e AS (
                SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label
                FROM embeddings
            ), dups AS (
                SELECT DISTINCT b.vec_id
                FROM e a JOIN e b ON a.vec_id < b.vec_id
                WHERE round(
                          list_dot_product(a.v, b.v) /
                          (sqrt(list_dot_product(a.v, a.v)) *
                           sqrt(list_dot_product(b.v, b.v))), 6
                      ) >= 0.4
            )
            SELECT vec_id, label FROM e
            WHERE vec_id NOT IN (SELECT vec_id FROM dups)
        """,
        "doc_train_split": f"""
            SELECT doc_id,
                   {_split_case} AS split,
                   substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 8)
                       < '{_sample_threshold}' AS in_sample
            FROM documents
        """,
        "doc_kfold_assign": """
            SELECT doc_id,
                   CAST(CAST(concat('0x',
                            substr(md5('fold:' || CAST(doc_id AS VARCHAR)), 1, 8))
                        AS BIGINT) % 5 AS INT) AS fold
            FROM documents
        """,
        "tuoyu_rule_filter_docs": f"""
            WITH {_ty_sql}
            SELECT i % 4 AS database_id, i AS document_id,
                   CASE WHEN max(CASE WHEN rtype = 'survey' THEN 1 ELSE 0 END) = 1
                        THEN 'Tuoyu_Questionnaire' ELSE 'Tuoyu_institution' END AS source_type,
                   CAST(count(*) AS BIGINT) AS n_blocks,
                   string_agg(position || ':' || md5(content) || ':' || rtype,
                              '#' ORDER BY position) AS block_seq
            FROM tyseg JOIN tyhits USING (i)
            WHERE pass
            GROUP BY i
        """,
        "winnowing_fingerprints_docs": """
            WITH t AS (
                SELECT doc_id, lower(text) AS s,
                       length(lower(text)) - 8 + 1 AS ng
                FROM documents
                WHERE length(lower(text)) - 8 + 1 >= 4
            ), g AS (
                SELECT doc_id, ng, s,
                       unnest(generate_series(1, ng)) AS pos
                FROM t
            ), h AS (
                SELECT doc_id, ng, pos,
                       substr(md5(substr(s, pos, 8)), 1, 8) AS hh
                FROM g
            ), m AS (
                SELECT doc_id, pos, ng,
                       min(hh) OVER (PARTITION BY doc_id ORDER BY pos
                                     ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING)
                           AS fingerprint
                FROM h
            )
            SELECT DISTINCT doc_id, fingerprint
            FROM m WHERE pos <= ng - 4 + 1
        """,
        "doc_repetition_stats": f"""
            WITH lines AS (
                SELECT doc_id,
                       unnest(list_filter(
                           list_transform(string_split(text, chr(10)), x -> trim(x)),
                           x -> x <> '')) AS line
                FROM documents
            ), pl AS (
                SELECT doc_id, line, count(*) AS c, length(line) AS len
                FROM lines GROUP BY doc_id, line
            ), ls AS (
                SELECT doc_id, sum(c) AS n_lines, count(*) AS dist,
                       sum(c * len) AS chars,
                       sum(CASE WHEN c > 1 THEN c * len ELSE 0 END) AS dup_chars
                FROM pl GROUP BY doc_id
            ), toks AS (
                SELECT doc_id, {tokens} AS t FROM documents
            ), bgs AS (
                SELECT doc_id,
                       unnest(list_transform(
                           generate_series(1, greatest(len(t) - 1, 1)),
                           i -> array_to_string(t[i:i+1], ' '))) AS bg
                FROM toks
            ), pb AS (
                SELECT doc_id, bg, count(*) AS c FROM bgs GROUP BY doc_id, bg
            ), bs AS (
                SELECT doc_id, max(c) AS top_bg, sum(c) AS total_bg
                FROM pb GROUP BY doc_id
            )
            SELECT d.doc_id,
                   CAST(coalesce(ls.n_lines, 0) AS BIGINT) AS n_lines,
                   round(CASE WHEN ls.n_lines > 0
                              THEN 1 - ls.dist * 1.0 / ls.n_lines
                              ELSE 0.0 END, 4) AS dup_line_frac,
                   round(CASE WHEN ls.chars > 0
                              THEN ls.dup_chars * 1.0 / ls.chars
                              ELSE 0.0 END, 4) AS dup_line_char_frac,
                   round(CASE WHEN bs.total_bg > 0
                              THEN bs.top_bg * 1.0 / bs.total_bg
                              ELSE 0.0 END, 4) AS top_bigram_frac
            FROM documents d
            LEFT JOIN ls ON d.doc_id = ls.doc_id
            LEFT JOIN bs ON d.doc_id = bs.doc_id
        """,
        "doc_tfidf_top_terms": f"""
            WITH toks AS (
                SELECT doc_id, unnest({tokens}) AS tok FROM documents
            ), tf AS (
                SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY doc_id, tok
            ), dl AS (
                SELECT doc_id, sum(c) AS n_toks FROM tf GROUP BY doc_id
            ), dfreq AS (
                SELECT tok, count(*) AS df FROM tf GROUP BY tok
            ), n AS (
                SELECT count(*) AS n_docs FROM documents
            ), scored AS (
                SELECT tf.doc_id, tf.tok,
                       round((tf.c * 1.0 / dl.n_toks)
                             * (ln((n.n_docs + 1.0) / (dfreq.df + 1.0)) + 1), 6)
                           AS tfidf
                FROM tf
                JOIN dl USING (doc_id)
                JOIN dfreq USING (tok)
                CROSS JOIN n
            )
            SELECT doc_id, tok, tfidf, CAST(rank AS INT) AS rank
            FROM (
                SELECT doc_id, tok, tfidf,
                       row_number() OVER (
                           PARTITION BY doc_id ORDER BY tfidf DESC, tok
                       ) AS rank
                FROM scored
            ) WHERE rank <= 3
        """,
        "events_stratified_sample": f"""
            SELECT event_id, event_type, user_id
            FROM events
            WHERE substr(md5('sample:' || CAST(event_id AS VARCHAR)), 1, 8) <
                  CASE WHEN event_type = 'click' THEN '{_threshold_hex(0.1)}'
                       WHEN event_type = 'purchase' THEN '{_threshold_hex(0.5)}'
                       ELSE '00000000' END
        """,
        "events_weighted_sample": """
            WITH w AS (
                SELECT event_id, event_type, value,
                       -ln((CAST(concat('0x',
                               substr(md5('es:' || CAST(event_id AS VARCHAR)), 1, 8))
                            AS BIGINT) + 1) / 4294967296.0) / value AS r
                FROM events
                WHERE value > 0
            )
            SELECT event_id, event_type, value, CAST(rank AS INT) AS rank
            FROM (
                SELECT event_id, event_type, value,
                       row_number() OVER (ORDER BY r, event_id) AS rank
                FROM w
            ) WHERE rank <= 20
        """,
        "docs_source_capped": """
            SELECT doc_id, source, lang FROM (
                SELECT doc_id, source, lang,
                       row_number() OVER (
                           PARTITION BY source
                           ORDER BY substr(md5('cap:' || CAST(doc_id AS VARCHAR)), 1, 8), doc_id
                       ) AS rn
                FROM documents
            ) WHERE rn <= 10
        """,
        "events_column_profile": """
            SELECT u.column_name,
                   (SELECT count(*) FROM events) AS n_rows,
                   u.n_nulls, u.n_distinct
            FROM (
                SELECT 'event_id' AS column_name,
                       count(*) - count(event_id) AS n_nulls,
                       count(DISTINCT event_id) AS n_distinct FROM events
                UNION ALL
                SELECT 'user_id', count(*) - count(user_id),
                       count(DISTINCT user_id) FROM events
                UNION ALL
                SELECT 'event_type', count(*) - count(event_type),
                       count(DISTINCT event_type) FROM events
                UNION ALL
                SELECT 'value', count(*) - count(value),
                       count(DISTINCT value) FROM events
                UNION ALL
                SELECT 'props', count(*) - count(props),
                       count(DISTINCT props) FROM events
            ) u
        """,
        "promo_revenue_ratio": f"""
            WITH agg AS (
                SELECT round(sum(CASE WHEN p_type LIKE 'PROMO%'
                                      THEN l_extendedprice * (1 - l_discount)
                                      ELSE 0 END), 2) AS promo_revenue,
                       round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
                FROM lineitem JOIN part ON l_partkey = p_partkey
                WHERE l_shipdate >= TIMESTAMP '1997-01-01'
                  AND l_shipdate <  TIMESTAMP '1998-01-01'
            )
            SELECT promo_revenue, total_revenue,
                   {_jround('100.0 * promo_revenue / total_revenue', 4)} AS promo_revenue_pct
            FROM agg
        """,
        "top_return_customers": """
            SELECT c_custkey, c_name, n_name, c_acctbal, revenue
            FROM (
                SELECT o_custkey,
                       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
                FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                WHERE l_returnflag = 'R'
                GROUP BY o_custkey
            ) pc
            JOIN customer ON pc.o_custkey = c_custkey
            JOIN nation   ON c_nationkey = n_nationkey
            ORDER BY revenue DESC, c_custkey
            LIMIT 20
        """,
        "disjunctive_part_revenue": """
            SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   count(*) AS n_lines
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
                   AND l_quantity BETWEEN 1 AND 11)
               OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 20
                   AND l_quantity BETWEEN 10 AND 20)
               OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 30
                   AND l_quantity BETWEEN 20 AND 30)
        """,
        "nation_pair_volume": """
            SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
                   year(l_shipdate) AS ship_year,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS volume,
                   count(*) AS n_lines
            FROM lineitem
            JOIN supplier  ON l_suppkey = s_suppkey
            JOIN nation ns ON s_nationkey = ns.n_nationkey
            JOIN orders    ON l_orderkey = o_orderkey
            JOIN customer  ON o_custkey = c_custkey
            JOIN nation nc ON c_nationkey = nc.n_nationkey
            WHERE ns.n_name IN ('NATION_1', 'NATION_2')
              AND nc.n_name IN ('NATION_1', 'NATION_2')
              AND ns.n_name <> nc.n_name
            GROUP BY 1, 2, 3
            ORDER BY 1, 2, 3
        """,
        "important_part_value": """
            WITH pp AS (
                SELECT l_partkey,
                       round(sum(l_extendedprice * (1 - l_discount)), 2) AS part_value
                FROM lineitem GROUP BY 1
            ), tot AS (
                SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_value
                FROM lineitem
            )
            SELECT l_partkey, part_value
            FROM pp, tot
            WHERE part_value > 0.0008 * total_value
            ORDER BY part_value DESC, l_partkey
        """,
        "top_supplier_revenue": """
            WITH rev AS (
                SELECT l_suppkey,
                       round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
                FROM lineitem
                WHERE l_shipdate >= TIMESTAMP '1997-01-01'
                  AND l_shipdate <  TIMESTAMP '1997-04-01'
                GROUP BY 1
            )
            SELECT s_suppkey, s_name, total_revenue
            FROM rev JOIN supplier ON l_suppkey = s_suppkey
            WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
            ORDER BY s_suppkey
        """,
        "large_quantity_orders": """
            WITH big AS (
                SELECT l_orderkey, round(sum(l_quantity), 2) AS total_qty
                FROM lineitem GROUP BY 1
                HAVING round(sum(l_quantity), 2) > 250
            )
            SELECT c_custkey, c_name, o_orderkey, o_orderdate,
                   round(o_totalprice, 2) AS totalprice, total_qty
            FROM orders
            JOIN big      ON o_orderkey = l_orderkey
            JOIN customer ON o_custkey = c_custkey
            ORDER BY total_qty DESC, o_orderkey
        """,
        "suppliers_kept_waiting": """
            WITH per_order AS (
                SELECT l_orderkey,
                       count(DISTINCT l_suppkey) AS n_supp,
                       count(DISTINCT CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
                                           THEN l_suppkey END) AS n_late_supp,
                       max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 90 DAY
                                THEN l_suppkey END) AS late_supp
                FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                GROUP BY 1
            )
            SELECT s_name, late_supp AS s_suppkey, count(*) AS numwait
            FROM per_order JOIN supplier ON late_supp = s_suppkey
            WHERE n_supp > 1 AND n_late_supp = 1
            GROUP BY 1, 2
            ORDER BY numwait DESC, s_suppkey
            LIMIT 25
        """,
        "idle_rich_customers": """
            WITH pos AS (
                SELECT c_custkey, c_nationkey, c_acctbal,
                       CAST(round(c_acctbal * 100) AS BIGINT) AS cents
                FROM customer WHERE c_acctbal > 0.0
            ), thr AS (
                SELECT CAST(sum(cents) AS BIGINT) AS total_cents,
                       count(*) AS n_pos
                FROM pos
            ), idle AS (
                SELECT c_custkey, c_nationkey, c_acctbal
                FROM pos, thr
                WHERE cents * n_pos > total_cents
                  AND NOT EXISTS (SELECT 1 FROM orders
                                  WHERE o_custkey = c_custkey
                                    AND o_orderdate >= TIMESTAMP '2000-01-01')
            )
            SELECT n_name, count(*) AS n_custs,
                   round(sum(c_acctbal), 2) AS total_acctbal
            FROM idle JOIN nation ON c_nationkey = n_nationkey
            GROUP BY 1
            ORDER BY 1
        """,
        "min_cost_part_suppliers": """
            WITH eu AS (
                SELECT s_suppkey, s_name, round(s_acctbal, 2) AS s_acctbal, n_name
                FROM supplier
                JOIN nation ON s_nationkey = n_nationkey
                JOIN region ON n_regionkey = r_regionkey
                WHERE r_name = 'EUROPE'
            ), mid AS (
                SELECT p_partkey, p_name FROM part WHERE p_size BETWEEN 10 AND 20
            ), ps AS (
                SELECT l_partkey, l_suppkey,
                       round(sum(l_extendedprice) / sum(l_quantity), 4) AS unit_cost
                FROM lineitem
                JOIN mid ON l_partkey = p_partkey
                JOIN eu  ON l_suppkey = s_suppkey
                GROUP BY 1, 2
            ), best AS (
                SELECT l_partkey, l_suppkey, unit_cost,
                       min(unit_cost) OVER (PARTITION BY l_partkey) AS min_cost
                FROM ps
            )
            SELECT s_acctbal, s_name, n_name, p_partkey, p_name, unit_cost
            FROM best
            JOIN eu  ON l_suppkey = s_suppkey
            JOIN mid ON l_partkey = p_partkey
            WHERE unit_cost = min_cost
            ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
        """,
        "order_priority_late_counts": """
            SELECT o_orderpriority, count(*) AS n_orders
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1997-01-01'
              AND o_orderdate <  TIMESTAMP '1997-04-01'
              AND EXISTS (SELECT 1 FROM lineitem
                          WHERE l_orderkey = o_orderkey
                            AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
            GROUP BY 1
            ORDER BY 1
        """,
        "ship_delay_priority_counts": """
            SELECT CASE WHEN date_diff('day', CAST(o_orderdate AS DATE),
                                       CAST(l_shipdate AS DATE)) <= 30 THEN 'fast'
                        WHEN date_diff('day', CAST(o_orderdate AS DATE),
                                       CAST(l_shipdate AS DATE)) <= 60 THEN 'medium'
                        ELSE 'slow' END AS delay_bucket,
                   CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                            THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
                   CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                            THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            WHERE l_shipdate >= TIMESTAMP '1997-01-01'
              AND l_shipdate <  TIMESTAMP '1998-01-01'
            GROUP BY 1
            ORDER BY 1
        """,
        "supplier_variety_by_part": """
            SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE p_type <> 'ECONOMY'
              AND p_size IN (1, 4, 7, 10, 13, 16, 19, 22)
              AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                                    WHERE s_acctbal < 0)
            GROUP BY 1, 2
            ORDER BY supplier_cnt DESC, p_brand, p_size
        """,
        "bulk_suppliers_for_parts": """
            WITH bulk AS (
                SELECT l_suppkey, round(sum(l_quantity), 2) AS total_qty
                FROM lineitem
                WHERE l_shipdate >= TIMESTAMP '1997-01-01'
                  AND l_shipdate <  TIMESTAMP '1998-01-01'
                  AND l_partkey IN (SELECT p_partkey FROM part
                                    WHERE p_name LIKE 'red%')
                GROUP BY 1
                HAVING round(sum(l_quantity), 2) > 100
            )
            SELECT s_name, n_name
            FROM supplier
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'
              AND s_suppkey IN (SELECT l_suppkey FROM bulk)
            ORDER BY s_name
        """,
    }
    # Composed entries built FROM other oracles (CTE bodies may carry
    # their own WITH clauses in DuckDB) — one source of truth for the
    # shared metric formulas.
    out["split_leakage_pairs_docs"] = f"""
        WITH {_minhash_ctes}, splits AS (
            SELECT doc_id, {_split_case} AS split FROM documents
        ), thr AS (
            SELECT id_a, id_b, est_jaccard FROM est WHERE est_jaccard >= 0.5
        ), capped AS (
            SELECT id_a, id_b, est_jaccard FROM (
                SELECT id_a, id_b, est_jaccard,
                       row_number() OVER (PARTITION BY id_a
                           ORDER BY est_jaccard DESC, id_b) AS ra,
                       row_number() OVER (PARTITION BY id_b
                           ORDER BY est_jaccard DESC, id_a) AS rb
                FROM thr
            ) WHERE ra <= 20 AND rb <= 20
        )
        SELECT e.id_a, e.id_b, sa.split AS split_a, sb.split AS split_b,
               e.est_jaccard
        FROM capped e
        JOIN splits sa ON sa.doc_id = e.id_a
        JOIN splits sb ON sb.doc_id = e.id_b
        WHERE sa.split <> sb.split
    """
    out["source_overlap_matrix"] = f"""
        WITH {_minhash_ctes}, prs AS (
            SELECT e.id_a, e.id_b, e.est_jaccard,
                   least(da.source, db.source) AS source_x,
                   greatest(da.source, db.source) AS source_y
            FROM est e
            JOIN documents da ON da.doc_id = e.id_a
            JOIN documents db ON db.doc_id = e.id_b
            WHERE e.est_jaccard >= 0.5
        )
        SELECT source_x, source_y,
               CAST(count(*) AS BIGINT) AS n_pairs,
               round(round(sum(est_jaccard), 6) / count(*), 6) AS avg_est_jaccard
        FROM prs GROUP BY source_x, source_y
    """
    out["dedup_keep_best_quality"] = f"""
        WITH RECURSIVE {_minhash_ctes}, prs AS (
            SELECT id_a, id_b FROM est WHERE est_jaccard >= 0.5
        ), edges AS (
            SELECT id_a AS src, id_b AS dst FROM prs
            UNION ALL
            SELECT id_b AS src, id_a AS dst FROM prs
        ), reach AS (
            SELECT doc_id AS id, doc_id AS lbl FROM documents
            UNION
            SELECT e.dst AS id, r.lbl AS lbl
            FROM reach r JOIN edges e ON e.src = r.id
        ), comp AS (
            SELECT id AS doc_id, min(lbl) AS cluster_id
            FROM reach GROUP BY id
        ), q AS ({out['doc_quality_scores']})
        SELECT doc_id, quality, cluster_id, cluster_size FROM (
            SELECT c.doc_id, q.quality, c.cluster_id,
                   CAST(count(*) OVER (PARTITION BY c.cluster_id) AS BIGINT) AS cluster_size,
                   row_number() OVER (PARTITION BY c.cluster_id
                                      ORDER BY q.quality DESC, c.doc_id) AS rk
            FROM comp c JOIN q ON q.doc_id = c.doc_id
        ) WHERE rk = 1
    """
    out["corpus_bpe_pair_stats"] = f"""
        WITH toks AS (
            SELECT unnest({tokens}) AS tok FROM documents
        ), pairs AS (
            SELECT unnest(list_transform(
                       range(1, length(tok)),
                       i -> substr(tok, i, 2)
                   )) AS pair
            FROM toks WHERE length(tok) >= 2
        )
        SELECT pair, CAST(count(*) AS BIGINT) AS n
        FROM pairs GROUP BY pair
        ORDER BY n DESC, pair
        LIMIT 50
    """
    out["winnowing_pairs_docs"] = f"""
        WITH wfp AS ({out['winnowing_fingerprints_docs']}),
        keepfp AS (
            SELECT fingerprint FROM wfp
            GROUP BY fingerprint HAVING count(*) <= 64
        ),
        wfpc AS (
            SELECT w.* FROM wfp w JOIN keepfp USING (fingerprint)
        ),
        p AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(count(*) AS BIGINT) AS shared_fingerprints
            FROM wfpc a JOIN wfpc b
              ON a.fingerprint = b.fingerprint AND a.doc_id < b.doc_id
            GROUP BY 1, 2
            HAVING count(*) >= 3
        )
        SELECT id_a, id_b, shared_fingerprints FROM (
            SELECT id_a, id_b, shared_fingerprints,
                   row_number() OVER (PARTITION BY id_a
                       ORDER BY shared_fingerprints DESC, id_b) AS ra,
                   row_number() OVER (PARTITION BY id_b
                       ORDER BY shared_fingerprints DESC, id_a) AS rb
            FROM p
        ) WHERE ra <= 20 AND rb <= 20
    """
    out["doc_dsir_weights"] = f"""
        WITH pool AS (
            SELECT doc_id, {tokens} AS t FROM documents WHERE doc_id % 10 <> 0
        ), tgt AS (
            SELECT doc_id, {tokens} AS t FROM documents WHERE doc_id % 10 = 0
        ), ptoks AS (
            SELECT doc_id, unnest(t) AS tok FROM pool
        ), ttoks AS (
            SELECT unnest(t) AS tok FROM tgt
        ), fp AS (
            SELECT tok, count(*) AS cp FROM ptoks GROUP BY tok
        ), ft AS (
            SELECT tok, count(*) AS ct FROM ttoks GROUP BY tok
        ), scalars AS (
            SELECT (SELECT count(*) FROM (SELECT tok FROM fp UNION SELECT tok FROM ft)) AS v,
                   (SELECT sum(cp) FROM fp) AS tp,
                   (SELECT sum(ct) FROM ft) AS tt
        ), lr AS (
            SELECT p.doc_id,
                   log10((coalesce(ft.ct, 0) + 1) * 1.0 / (s.tt + s.v))
                   - log10((fp.cp + 1) * 1.0 / (s.tp + s.v)) AS lr
            FROM ptoks p
            JOIN fp ON fp.tok = p.tok
            LEFT JOIN ft ON ft.tok = p.tok
            CROSS JOIN scalars s
        )
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
               -- plain round, NOT _jround: the DECIMAL(30,15)
               -- intermediate ROUNDS AWAY significant digits of
               -- small-magnitude quotients (log-ratios ~1e-3 carry 17
               -- significant digits past 15 decimal PLACES),
               -- manufacturing a .5 tie Spark's shortest-repr round
               -- never sees. Binary-value rounding only diverges from
               -- Spark when the shortest repr lands exactly on a
               -- 7-digit tie — essentially impossible for these
               -- non-terminating quotients, and _jround's money-style
               -- inputs (short decimal quotients) are the opposite case.
               round(round(sum(lr), 6) / count(*), 6) AS dsir_weight
        FROM lr GROUP BY doc_id
    """
    out["doc_quality_gate"] = f"""
        WITH q AS ({out['doc_quality_scores']}),
             r AS ({out['doc_repetition_stats']}),
             tk AS (SELECT doc_id, CAST(len({tokens}) AS BIGINT) AS n_tokens
                    FROM documents)
        SELECT q.doc_id, q.quality, tk.n_tokens,
               r.dup_line_frac, r.top_bigram_frac,
               (q.quality >= 0.3
                AND tk.n_tokens BETWEEN 10 AND 100000
                AND r.dup_line_frac <= 0.3
                AND r.top_bigram_frac <= 0.2) AS kept
        FROM q
        JOIN r ON r.doc_id = q.doc_id
        JOIN tk ON tk.doc_id = q.doc_id
    """
    # Shared CTE prefix for the classifier-eval family: quality score
    # vs labeled language → integer-micro scores → ONE distinct-score
    # group table (the same single-aggregate shape the Spark operator
    # uses).
    _claseval_prefix = f"""
        WITH q AS ({out['doc_quality_scores']}),
        s AS (
            SELECT CAST(floor(q.quality * 1000000 + 0.5) AS BIGINT) AS score_u,
                   CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
            FROM q JOIN documents d ON d.doc_id = q.doc_id
        ),
        grp AS (
            SELECT score_u, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(y) AS BIGINT) AS n_pos
            FROM s GROUP BY score_u
        )"""
    out["classifier_eval_docs"] = f"""
        {_claseval_prefix},
        rk AS (
            SELECT score_u, n, n_pos,
                   CAST(coalesce(sum(n) OVER (
                       ORDER BY score_u
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS BIGINT) AS cum_before
            FROM grp
        ),
        agg AS (
            SELECT CAST(sum(n) AS BIGINT) AS n,
                   CAST(sum(n_pos) AS BIGINT) AS n_pos,
                   CAST(sum(n - n_pos) AS BIGINT) AS n_neg,
                   CAST(sum(CASE WHEN score_u >= 780000 THEN n_pos ELSE 0 END) AS BIGINT) AS tp,
                   CAST(sum(CASE WHEN score_u >= 780000 THEN n - n_pos ELSE 0 END) AS BIGINT) AS fp,
                   CAST(sum(CASE WHEN score_u < 780000 THEN n - n_pos ELSE 0 END) AS BIGINT) AS tn,
                   CAST(sum(CASE WHEN score_u < 780000 THEN n_pos ELSE 0 END) AS BIGINT) AS fn,
                   -- O(n^2)-sized rank sums in HUGEINT (Spark side:
                   -- DECIMAL(38,0)) -- exact past 1e15 rows
                   sum(CAST(n_pos AS HUGEINT) * (2 * cum_before + n + 1)) AS s2,
                   sum(CAST(n_pos AS HUGEINT) * (score_u - 1000000) * (score_u - 1000000)
                       + CAST(n - n_pos AS HUGEINT) * score_u * score_u) AS brier_num
            FROM rk
        )
        SELECT n, n_pos, n_neg, tp, fp, tn, fn,
               CAST((tp + tn) * 1000000 // n AS BIGINT) AS accuracy_u,
               CAST(CASE WHEN tp + fp > 0
                    THEN tp * 1000000 // (tp + fp) END AS BIGINT) AS precision_u,
               CAST(CASE WHEN n_pos > 0
                    THEN tp * 1000000 // n_pos END AS BIGINT) AS recall_u,
               CAST(CASE WHEN 2*tp + fp + fn > 0
                    THEN 2 * tp * 1000000 // (2*tp + fp + fn) END AS BIGINT) AS f1_u,
               CAST(CASE WHEN n_pos > 0 AND n_neg > 0
                    THEN (s2 - CAST(n_pos AS HUGEINT) * (n_pos + 1)) * 1000000
                         // (CAST(2 AS HUGEINT) * n_pos * n_neg) END AS BIGINT) AS auc_u,
               CAST(brier_num // (CAST(n AS HUGEINT) * 1000000) AS BIGINT) AS brier_u
        FROM agg
    """
    out["events_key_skew_profile"] = """
        WITH counts AS (
            SELECT user_id, CAST(count(*) AS BIGINT) AS c
            FROM events GROUP BY user_id
        ),
        cc AS (SELECT c, CAST(count(*) AS BIGINT) AS k FROM counts GROUP BY c),
        en AS (
            SELECT c, k,
                   CAST(coalesce(sum(k) OVER (
                       ORDER BY c ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS BIGINT) AS kb,
                   CAST(coalesce(sum(k) OVER (
                       ORDER BY c DESC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS BIGINT) AS kbd,
                   CAST(sum(k) OVER () AS BIGINT) AS tk
            FROM cc
        ),
        agg AS (
            SELECT sum(CAST(c AS HUGEINT) * k) AS rows_,
                   CAST(sum(k) AS BIGINT) AS n_keys,
                   CAST(max(c) AS BIGINT) AS max_count,
                   CAST(min(CASE WHEN (kb + k) * 100 >= 50 * tk THEN c END) AS BIGINT) AS p50_count,
                   CAST(min(CASE WHEN (kb + k) * 100 >= 90 * tk THEN c END) AS BIGINT) AS p90_count,
                   CAST(min(CASE WHEN (kb + k) * 100 >= 99 * tk THEN c END) AS BIGINT) AS p99_count,
                   sum(CAST(c AS HUGEINT) * k * (2 * kb + k + 1)) AS s2,
                   sum(CAST(c AS HUGEINT) * least(k, greatest(0, 10 - kbd))) AS topn
            FROM en
        )
        SELECT CAST(rows_ AS BIGINT) AS n_rows, n_keys, max_count,
               p50_count, p90_count, p99_count,
               CAST(CAST(max_count AS HUGEINT) * 1000000 // rows_ AS BIGINT) AS top1_share_u,
               CAST(topn * 1000000 // rows_ AS BIGINT) AS topn_share_u,
               CAST((s2 - CAST(n_keys + 1 AS HUGEINT) * rows_) * 1000000
                    // (CAST(n_keys AS HUGEINT) * rows_) AS BIGINT) AS gini_u,
               CAST(CAST(max_count AS HUGEINT) * n_keys * 1000000 // rows_ AS BIGINT) AS hot_key_factor_u
        FROM agg
    """
    out["forecast_eval_events"] = """
        WITH tp AS (
            SELECT value AS truth,
                   lag(value) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS pred
            FROM events
        ),
        s AS (
            SELECT CAST(floor(truth * 1000000 + 0.5) AS BIGINT) AS y,
                   CAST(floor(pred * 1000000 + 0.5) AS BIGINT) AS p
            FROM tp WHERE pred IS NOT NULL
        ),
        agg AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   sum(CAST(p - y AS HUGEINT)) AS s_err,
                   sum(abs(CAST(p - y AS HUGEINT))) AS s_abs,
                   sum(CAST(p - y AS HUGEINT) * CAST(p - y AS HUGEINT)) AS s_sq,
                   sum(CAST(y AS HUGEINT)) AS s_y,
                   sum(CAST(y AS HUGEINT) * CAST(y AS HUGEINT)) AS s_y2,
                   sum(abs(CAST(y AS HUGEINT))) AS s_ay
            FROM s
        )
        SELECT n,
               CAST(s_abs // n AS BIGINT) AS mae_u,
               CASE WHEN s_err >= 0 THEN CAST(s_err // n AS BIGINT)
                    ELSE -CAST((-s_err) // n AS BIGINT) END AS bias_u,
               CASE WHEN s_ay > 0
                    THEN CAST(s_abs * 1000000 // s_ay AS BIGINT) END AS wmape_u,
               CAST(s_sq // (CAST(n AS HUGEINT) * 1000000) AS BIGINT) AS mse_u,
               CASE WHEN (CAST(n AS HUGEINT) * s_y2 - s_y * s_y) > 0 THEN
                   CASE WHEN ((CAST(n AS HUGEINT) * s_y2 - s_y * s_y)
                              - CAST(n AS HUGEINT) * s_sq) >= 0
                        THEN CAST(((CAST(n AS HUGEINT) * s_y2 - s_y * s_y)
                                   - CAST(n AS HUGEINT) * s_sq) * 1000000
                                  // (CAST(n AS HUGEINT) * s_y2 - s_y * s_y) AS BIGINT)
                        ELSE -CAST((CAST(n AS HUGEINT) * s_sq
                                    - (CAST(n AS HUGEINT) * s_y2 - s_y * s_y)) * 1000000
                                   // (CAST(n AS HUGEINT) * s_y2 - s_y * s_y) AS BIGINT)
                   END
               END AS r2_u
        FROM agg
    """
    out["hypertable_incremental_refresh_events"] = out["hypertable_rollup_events"]
    out["join_advisor_orders_lineitem"] = """
        WITH
        l_counts AS (SELECT o_orderkey AS k, CAST(count(*) AS BIGINT) AS c FROM orders GROUP BY o_orderkey),
        l_cc AS (SELECT c, CAST(count(*) AS BIGINT) AS k FROM l_counts GROUP BY c),
        l_en AS (
            SELECT c, k,
                   CAST(coalesce(sum(k) OVER (ORDER BY c ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS kb
            FROM l_cc
        ),
        l_p AS (
            SELECT CAST(sum(CAST(c AS HUGEINT) * k) AS BIGINT) AS n_rows,
                   CAST(sum(k) AS BIGINT) AS n_keys,
                   CAST(max(c) AS BIGINT) AS max_count,
                   CAST(CAST(max(c) AS HUGEINT) * sum(k) * 1000000
                        // sum(CAST(c AS HUGEINT) * k) AS BIGINT) AS hot_key_factor_u,
                   CAST((sum(CAST(c AS HUGEINT) * k * (2 * kb + k + 1))
                         - CAST(sum(k) + 1 AS HUGEINT) * sum(CAST(c AS HUGEINT) * k)) * 1000000
                        // (CAST(sum(k) AS HUGEINT) * sum(CAST(c AS HUGEINT) * k)) AS BIGINT) AS gini_u
            FROM l_en
        ),
        r_counts AS (SELECT l_orderkey AS k, CAST(count(*) AS BIGINT) AS c FROM lineitem GROUP BY l_orderkey),
        r_cc AS (SELECT c, CAST(count(*) AS BIGINT) AS k FROM r_counts GROUP BY c),
        r_en AS (
            SELECT c, k,
                   CAST(coalesce(sum(k) OVER (ORDER BY c ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS kb
            FROM r_cc
        ),
        r_p AS (
            SELECT CAST(sum(CAST(c AS HUGEINT) * k) AS BIGINT) AS n_rows,
                   CAST(sum(k) AS BIGINT) AS n_keys,
                   CAST(max(c) AS BIGINT) AS max_count,
                   CAST(CAST(max(c) AS HUGEINT) * sum(k) * 1000000
                        // sum(CAST(c AS HUGEINT) * k) AS BIGINT) AS hot_key_factor_u,
                   CAST((sum(CAST(c AS HUGEINT) * k * (2 * kb + k + 1))
                         - CAST(sum(k) + 1 AS HUGEINT) * sum(CAST(c AS HUGEINT) * k)) * 1000000
                        // (CAST(sum(k) AS HUGEINT) * sum(CAST(c AS HUGEINT) * k)) AS BIGINT) AS gini_u
            FROM r_en
        )
        SELECT l_p.n_rows AS left_n_rows, l_p.n_keys AS left_n_keys,
               l_p.max_count AS left_max_count,
               l_p.hot_key_factor_u AS left_hot_key_factor_u,
               l_p.gini_u AS left_gini_u,
               r_p.n_rows AS right_n_rows, r_p.n_keys AS right_n_keys,
               r_p.max_count AS right_max_count,
               r_p.hot_key_factor_u AS right_hot_key_factor_u,
               r_p.gini_u AS right_gini_u,
               CASE WHEN l_p.n_rows <= 1000000 THEN 'broadcast_left'
                    WHEN r_p.n_rows <= 1000000 THEN 'broadcast_right'
                    WHEN greatest(l_p.hot_key_factor_u, r_p.hot_key_factor_u) >= 16000000
                        THEN 'salted_skew_join'
                    ELSE 'sort_merge_join' END AS recommendation,
               CASE WHEN l_p.n_rows > 1000000 AND r_p.n_rows > 1000000
                         AND greatest(l_p.hot_key_factor_u, r_p.hot_key_factor_u) >= 16000000
                    THEN least(CAST((greatest(l_p.hot_key_factor_u, r_p.hot_key_factor_u) + 999999)
                               // 1000000 AS BIGINT), 64)
                    ELSE CAST(1 AS BIGINT) END AS salt_factor
        FROM l_p CROSS JOIN r_p
    """
    out["classifier_pr_curve_docs"] = f"""
        {_claseval_prefix},
        cum AS (
            SELECT score_u AS threshold_u,
                   CAST(sum(n_pos) OVER (
                       ORDER BY score_u DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS BIGINT) AS tp,
                   CAST(sum(n - n_pos) OVER (
                       ORDER BY score_u DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS BIGINT) AS fp
            FROM grp
        ),
        tot AS (SELECT CAST(sum(n_pos) AS BIGINT) AS n1 FROM grp)
        SELECT threshold_u, tp, fp,
               CAST(n1 - tp AS BIGINT) AS fn,
               CAST(tp * 1000000 // (tp + fp) AS BIGINT) AS precision_u,
               CAST(CASE WHEN n1 > 0 THEN tp * 1000000 // n1 END AS BIGINT) AS recall_u,
               CAST(CASE WHEN 2*tp + fp + (n1 - tp) > 0
                    THEN 2 * tp * 1000000 // (2*tp + fp + (n1 - tp)) END AS BIGINT) AS f1_u
        FROM cum CROSS JOIN tot
        ORDER BY threshold_u
    """
    out["classifier_calibration_docs"] = f"""
        {_claseval_prefix},
        b AS (
            SELECT CAST(least(score_u * 10 // 1000000, 9) AS BIGINT) AS bin,
                   n, n_pos, score_u
            FROM grp
        ),
        agg AS (
            SELECT bin, CAST(sum(n) AS BIGINT) AS n,
                   CAST(sum(n_pos) AS BIGINT) AS n_pos,
                   sum(CAST(score_u AS HUGEINT) * n) AS score_sum
            FROM b GROUP BY bin
        )
        SELECT bin, n, n_pos,
               CAST(score_sum // CAST(n AS HUGEINT) AS BIGINT) AS mean_score_u,
               CAST(n_pos * 1000000 // n AS BIGINT) AS frac_pos_u
        FROM agg ORDER BY bin
    """
    def _xpilot_ctes(content_expr: str) -> str:
        return f"""retrieved AS (
            SELECT q.q AS query_id, d.doc_id AS chunk_id,
                   round(((d.doc_id * 7 + q.q * 13) % 101) / 101.0, 6) AS score,
                   d.doc_id % 4 AS database_id, d.doc_id % 10 AS document_id,
                   d.doc_id AS position, {content_expr} AS content
            FROM (SELECT doc_id, text FROM documents WHERE doc_id < 60) d
            CROSS JOIN (VALUES (0), (1)) q(q)
            WHERE (d.doc_id + q.q) % 3 <> 0
        ), ranked AS (
            SELECT *, row_number() OVER (
                       PARTITION BY query_id ORDER BY score DESC, chunk_id
                   ) AS rank
            FROM retrieved
        ), fused AS (
            -- payload cols are functions of chunk_id (constant across
            -- lists), so min() == first-seen-by-best-rank
            SELECT chunk_id, sum(1.0 / (60 + rank)) AS rrf_score,
                   min(database_id) AS database_id,
                   min(document_id) AS document_id,
                   min(position) AS position, min(content) AS content
            FROM ranked GROUP BY chunk_id
        )"""

    def _xpilot_tail(inv: str, score: str) -> str:
        # three sequential dedup rounds unrolled over inventory CTE
        # `inv` ranked on `score`, then the flat block-order output
        return f""", s0 AS (
            SELECT * FROM {inv}
            QUALIFY row_number() OVER (ORDER BY {score} DESC, chunk_id) <= 4
        ), r1 AS (
            SELECT * FROM {inv}
            WHERE chunk_id NOT IN (SELECT chunk_id FROM s0)
        ), s1 AS (
            SELECT * FROM r1
            QUALIFY row_number() OVER (ORDER BY {score} DESC, chunk_id) <= 4
        ), r2 AS (
            SELECT * FROM r1
            WHERE chunk_id NOT IN (SELECT chunk_id FROM s1)
        ), s2 AS (
            SELECT * FROM r2
            QUALIFY row_number() OVER (ORDER BY {score} DESC, chunk_id) <= 4
        ), win AS (
            SELECT 't0' AS task_id, * FROM s0
            UNION ALL SELECT 't1' AS task_id, * FROM s1
            UNION ALL SELECT 't2' AS task_id, * FROM s2
        )
        SELECT task_id,
               CAST(database_id AS BIGINT) AS database_id,
               CAST(document_id AS BIGINT) AS document_id,
               CAST(row_number() OVER (
                   PARTITION BY task_id, database_id, document_id
                   ORDER BY {score} DESC, position, content, chunk_id
               ) AS BIGINT) AS block_idx,
               chunk_id,
               round({score}, 8) AS {score},
               content,
               CAST(count(*) OVER (
                   PARTITION BY task_id, database_id, document_id
               ) AS BIGINT) AS n_blocks
        FROM win"""

    _xp_plain = _xpilot_ctes("'c' || d.doc_id")
    out["xpilot_retrieval_docs"] = (
        f"WITH {_xp_plain}" + _xpilot_tail("fused", "rrf_score")
    )
    # BM25 default-scorer twin (plans/retrieval.bm25_rerank_scorer):
    # tf/df/len are integer-valued doubles (exact in any sum order),
    # idf rounded to 8 right after ln, per-term contribution to 8,
    # final score to 6 — bit-equal replay of the Spark scorer
    _bm25_terms = ", ".join(
        f"'{t}'" for t in sorted(set(_XPILOT_RERANK_QUERY.lower().split()))
    )
    out["xpilot_retrieval_reranked_docs"] = (
        f"""WITH {_xpilot_ctes("substring(d.text, 1, 200)")}, ftoks AS (
            SELECT chunk_id,
                   list_filter(string_split_regex(lower(content), '\\s+'),
                               x -> x <> '') AS t
            FROM fused
        ), lens AS (
            SELECT chunk_id, CAST(len(t) AS DOUBLE) AS dl, t FROM ftoks
        ), bstats AS (
            SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM lens
        ), bhits AS (
            SELECT chunk_id, dl, unnest(t) AS term FROM lens
        ), btf AS (
            SELECT chunk_id, term, CAST(count(*) AS DOUBLE) AS tf, min(dl) AS dl
            FROM bhits WHERE term IN ({_bm25_terms})
            GROUP BY chunk_id, term
        ), bdf AS (
            SELECT term, CAST(count(*) AS DOUBLE) AS df FROM btf GROUP BY term
        ), bcontrib AS (
            SELECT btf.chunk_id,
                   round(round(ln(1.0 + (s.n - bdf.df + 0.5) / (bdf.df + 0.5)), 8)
                         * (btf.tf * 2.2)
                         / (btf.tf + 1.2 * (0.25 + (0.75 * btf.dl) / s.avgdl)),
                         8) AS c
            FROM btf JOIN bdf USING (term) CROSS JOIN bstats s
        ), bscore AS (
            SELECT chunk_id, round(sum(c), 6) AS rerank_score
            FROM bcontrib GROUP BY chunk_id
        ), rr AS (
            SELECT f.chunk_id, f.database_id, f.document_id, f.position,
                   f.content, coalesce(b.rerank_score, 0.0) AS rerank_score
            FROM fused f LEFT JOIN bscore b ON b.chunk_id = f.chunk_id
        )"""
        + _xpilot_tail("rr", "rerank_score")
    )
    out["scrape_pipeline_docs"] = f"""
        WITH fetched AS (
            SELECT doc_id, 'u' || doc_id AS url,
                   'g' || (doc_id % 5) AS origin_key,
                   CASE WHEN doc_id % 10 = 7 THEN 'docx' ELSE 'txt' END AS fmt,
                   text
            FROM documents WHERE doc_id < 100
        ), parsed AS (
            -- txt parse = decode + the 80k MAX_OUT_CHARS cap applied
            -- BEFORE cleaning (sources/documents._parse_partition);
            -- DOCX over plain text bytes raises in the zip layer
            SELECT doc_id, url, origin_key, fmt,
                   substring(text, 1, 80000) AS text,
                   (fmt = 'docx') AS failed
            FROM fetched
        ), lines AS (
            SELECT doc_id, u.p - 1 AS line_no, u.l AS line
            FROM (
                SELECT doc_id,
                       list_transform(
                           string_split(text, chr(10)),
                           (x, i) -> struct_pack(p := i, l := x)
                       ) AS ls
                FROM parsed WHERE NOT failed
            ), unnest(ls) AS t(u)
        ), denoised AS (
            SELECT * FROM lines
            WHERE NOT (
                regexp_matches(line, '{_NOISE_RE_SQL}')
                OR (
                    len(string_split_regex(line, 'https?://')) - 1 > 2
                    AND length(line) * 1.0 /
                        greatest(len(string_split_regex(line, 'https?://')) - 1, 1) < 30
                )
            )
        ), counted AS (
            SELECT *,
                   count(*) OVER (PARTITION BY doc_id, line) AS line_freq,
                   count(*) OVER (PARTITION BY doc_id) AS doc_lines
            FROM denoised
        ), kept AS (
            SELECT doc_id, line_no, line FROM counted
            WHERE NOT (doc_lines >= 20 AND length(line) < 100 AND line_freq >= 3)
        ), cleaned AS (
            SELECT doc_id,
                   substring(string_agg(line, chr(10) ORDER BY line_no), 1, 80000) AS ctext
            FROM kept GROUP BY doc_id
        ), enriched AS (
            SELECT p.origin_key, p.url, p.fmt,
                   coalesce(c.ctext, '') AS content, p.failed
            FROM parsed p LEFT JOIN cleaned c ON c.doc_id = p.doc_id
        ), stats AS (
            SELECT origin_key, count(*) AS n_total,
                   sum(CASE WHEN failed THEN 1 ELSE 0 END) AS n_failed
            FROM enriched GROUP BY origin_key
        )
        SELECT e.origin_key,
               CAST(s.n_total AS BIGINT) AS n_total,
               CAST(s.n_failed AS BIGINT) AS n_failed,
               CASE WHEN s.n_failed = 0 THEN 'success'
                    WHEN s.n_failed = s.n_total THEN 'failed'
                    ELSE 'partial_success' END AS status,
               e.url, e.fmt, e.content, e.failed
        FROM enriched e JOIN stats s USING (origin_key)
    """
    out["search_plan_queries"] = """
        WITH lq AS (
            SELECT n_name AS query FROM nation WHERE n_nationkey < 8
        ), rs AS (
            SELECT r_name || ' childcare' AS rule_string FROM region
        ), u AS (
            SELECT DISTINCT q FROM (
                SELECT trim(rule_string || ' ' || query) AS q
                FROM lq CROSS JOIN rs
                UNION ALL
                SELECT rule_string AS q FROM rs
            )
        ), prov AS (
            SELECT q AS query,
                   row_number() OVER (ORDER BY q) - 1 AS idx
            FROM u
        )
        SELECT query,
               CASE idx % 4 WHEN 0 THEN 'searchapi' WHEN 1 THEN 'jina'
                            WHEN 2 THEN 'firecrawl' ELSE 'tavily' END AS provider,
               query || ' (site:gov.cn OR site:edu.cn)'
                     || ' after:2023-01-01' || ' before:2024-12-31' AS q_web,
               query || ' (site:sc.gov.cn)'
                     || ' after:2023-01-01' || ' before:2024-12-31' AS q_regional
        FROM prov
    """
    out["markdown_image_rewrite_docs"] = """
        WITH base AS (
            SELECT doc_id FROM documents WHERE doc_id < 50
        ), expected AS (
            -- the rewrite expectation stated INDEPENDENTLY: the
            -- uploaded fig ref becomes the served URL, the external
            -- and dead refs stay verbatim
            SELECT doc_id,
                   'Intro ' || doc_id
                   || ' ![fig](https://cdn/f' || doc_id || '.png) middle '
                   || '![x](http://ext/keep_' || doc_id || '.jpg) '
                   || '![dead](local/dead_' || doc_id || '.png) end' AS text
            FROM base
        )
        SELECT doc_id, text,
               array_to_string(
                   list_transform(
                       regexp_extract_all(
                           text, '!\\[[^\\]]*\\]\\(([^)\\s]+)[^)]*\\)', 1
                       )[1:25],
                       x -> x
                   ), ','
               ) AS refs_after,
               regexp_replace(
                   text, '!\\[[^\\]]*\\]\\([^)]*\\)', '', 'g'
               ) AS text_stripped
        FROM expected
    """
    out["rerank_positional_backfill"] = """
        WITH cand AS (
            SELECT s_suppkey,
                   round(((s_suppkey * 37) % 101) / 101.0, 6) AS rrf_score
            FROM supplier WHERE s_suppkey < 50
        ), indexed AS (
            SELECT s_suppkey, rrf_score,
                   row_number() OVER (ORDER BY rrf_score DESC) - 1 AS idx
            FROM cand
        )
        SELECT s_suppkey, rrf_score,
               CASE WHEN idx < 20 THEN round(1.0 - idx * 0.01, 6) END
                   AS relevance_score
        FROM indexed
    """
    out["video_timeline_outline"] = """
        WITH base AS (
            SELECT doc_id,
                   CAST(doc_id % 7 + 3 AS DOUBLE) AS d0,
                   CAST(doc_id % 5 + 2 AS DOUBLE) AS d1,
                   CAST(doc_id % 4 + 1 AS DOUBLE) AS d2
            FROM documents WHERE doc_id < 30
        ), sc AS (
            SELECT 'v' || doc_id AS video_id, 1 AS idx, 's0' AS id,
                   'T' || doc_id AS title, 'k' AS description,
                   d0 AS dur, 0.0 AS start_s
            FROM base
            UNION ALL
            SELECT 'v' || doc_id, 2, 's1', 'Ending', 't', d1, d0 FROM base
            UNION ALL
            SELECT 'v' || doc_id, 3, 's2', '场景 3', 'sub', d2, d0 + d1
            FROM base
        )
        SELECT video_id, id, CAST(idx AS INT) AS "index", title,
               description,
               CAST(dur AS VARCHAR) || 's' AS duration,
               printf('%02d:%02d',
                      CAST(floor(start_s) AS INT) // 60,
                      CAST(floor(start_s) AS INT) % 60) AS startTime,
               printf('%02d:%02d',
                      CAST(floor(start_s + dur) AS INT) // 60,
                      CAST(floor(start_s + dur) AS INT) % 60) AS endTime,
               dur AS raw_duration
        FROM sc
    """
    out["video_subtitles_repair"] = """
        WITH base AS (
            SELECT doc_id, CAST(doc_id % 7 + 3 AS DOUBLE) AS d0
            FROM documents WHERE doc_id < 30
        )
        -- the only subtitle lives in scene 1 (absolute start = d0);
        -- raw 1.5 < d0 so it is relative: start = d0 + 1.5, and the
        -- positive raw duration (1.5s) is preserved
        SELECT 'v' || doc_id AS video_id, 'u1' AS id,
               printf('%02d:%02d',
                      CAST(floor(d0 + 1.5) AS INT) // 60,
                      CAST(floor(d0 + 1.5) AS INT) % 60) AS startTime,
               printf('%02d:%02d',
                      CAST(floor(d0 + 3.0) AS INT) // 60,
                      CAST(floor(d0 + 3.0) AS INT) % 60) AS endTime,
               'x' AS text
        FROM base
    """
    out["chunk_doc_meta_enrichment"] = """
        WITH base AS (
            SELECT doc_id, substring(text, 1, 40) AS content
            FROM documents WHERE doc_id < 200
        ), chunks AS (
            SELECT doc_id AS chunk_id, doc_id % 3 AS database_id,
                   doc_id % 20 AS document_id, content
            FROM base
        ), meta AS (
            SELECT DISTINCT doc_id % 3 AS database_id,
                            doc_id % 20 AS document_id
            FROM documents WHERE doc_id < 30
        ), named AS (
            SELECT database_id, document_id,
                   'doc-' || database_id || '-' || document_id AS doc_name
            FROM meta
        )
        SELECT c.chunk_id, c.database_id, c.document_id, c.content,
               n.doc_name
        FROM chunks c
        LEFT JOIN named n
          ON n.database_id = c.database_id
         AND n.document_id = c.document_id
    """
    out["moe_html_scan_docs"] = """
        WITH pages AS (
            SELECT doc_id,
                   '<html><table>'
                   || '<tr class="table_list"><td> P' || doc_id
                   || ' </td><td>M0' || doc_id
                   || '</td><td><b>Major ' || doc_id
                   || '</b></td><td>S' || doc_id
                   || '</td><td>School ' || doc_id
                   || '</td><td>3</td><td></td></tr>'
                   || '<tr class="table_list"><td>x</td></tr>'
                   || '<tr><td>a</td><td>b</td><td>c</td><td>d</td><td>e</td><td>f</td><td>g</td></tr>'
                   || '<tr class="table_list"><td>P' || doc_id
                   || 'b</td><td>M1' || doc_id
                   || '</td><td>Major B' || doc_id
                   || '</td><td>T' || doc_id
                   || '</td><td>School B' || doc_id
                   || '</td><td>4</td><td>note</td></tr>'
                   || '</table></html>' AS html,
                   2024 AS year
            FROM documents WHERE doc_id < 40
        ), rows_ AS (
            SELECT doc_id, year,
                   unnest(regexp_extract_all(
                       html, '(?s)<tr[^>]*class="table_list"[^>]*>(.*?)</tr>', 1
                   )) AS row_html
            FROM pages
        ), cells AS (
            SELECT doc_id, year,
                   list_transform(
                       regexp_extract_all(row_html, '(?s)<td[^>]*>(.*?)</td>', 1),
                       c -> trim(regexp_replace(c, '<[^>]+>', '', 'g'))
                   ) AS cs
            FROM rows_
        ), recs AS (
            SELECT doc_id, year,
                   cs[1] AS province, cs[2] AS major_code, cs[3] AS major_name,
                   cs[4] AS school_code, cs[5] AS school_name,
                   cs[6] AS duration, cs[7] AS remark
            FROM cells WHERE len(cs) >= 7
        )
        SELECT doc_id, province, major_code, major_name, school_code,
               school_name, duration, remark,
               '机构名称：' || school_name || chr(10)
               || '省份：' || province || chr(10)
               || '学校标识码：' || school_code || chr(10)
               || '开设专业：' || major_name || ' (' || major_code || ')' || chr(10)
               || '修业年限：' || duration || chr(10)
               || '年份：' || year || chr(10)
               || '备注：' || coalesce(remark, '无') AS block
        FROM recs
    """
    out["doc_shared_spans"] = f"""
        WITH toks AS (
            -- sub-k-token docs are excluded (no k-gram can attest a span)
            SELECT doc_id, {tokens} AS t FROM documents
            WHERE len({tokens}) >= 5
        ), grams AS (
            SELECT doc_id,
                   list_transform(
                       range(1, greatest(len(t) - 5, 0) + 2),
                       i -> struct_pack(
                           pos := i,
                           h := substring(md5(array_to_string(t[i:i+4], ' ')), 1, 16)
                       )
                   ) AS g
            FROM toks
        ), posg AS (
            SELECT doc_id, unnest(g, recursive := true) FROM grams
        ), bset AS (
            SELECT DISTINCT doc_id, h FROM posg
        ), hits AS (
            SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.pos AS pos
            FROM posg a JOIN bset b
              ON a.h = b.h AND a.doc_id < b.doc_id
        ), isl AS (
            SELECT id_a, id_b, pos,
                   pos - row_number() OVER (
                       PARTITION BY id_a, id_b ORDER BY pos
                   ) AS grp
            FROM hits
        ), runs AS (
            SELECT id_a, id_b, grp, count(*) AS run
            FROM isl GROUP BY 1, 2, 3
        )
        SELECT id_a, id_b,
               CAST(sum(run) AS BIGINT) AS shared_positions,
               CAST(max(run) + 4 AS BIGINT) AS longest_span_tokens
        FROM runs GROUP BY 1, 2
        HAVING max(run) + 4 >= 10
    """
    out["semdedup_embeddings"] = f"""
        WITH {_IVF_KMEANS_CTES},
        pairs AS (
            SELECT b.vec_id AS id_b, a.vec_id AS id_a
            FROM afinal a JOIN afinal b
              ON a.cell = b.cell AND a.vec_id < b.vec_id
            WHERE round({_ivf_cos.format(v='a.cv', c='b.cv')}, 6) >= 0.42
        ), shadows AS (
            SELECT id_b, min(id_a) AS dup_of FROM pairs GROUP BY id_b
        )
        SELECT f.vec_id, CAST(f.cell AS BIGINT) AS cell,
               s.dup_of IS NULL AS kept, s.dup_of
        FROM afinal f LEFT JOIN shadows s ON s.id_b = f.vec_id
    """
    # auto-sized twin: identical chain, but the seed LIMIT is the
    # engine's auto_n_cells formula as a scalar subquery over the
    # same distinct-count the Spark side measures
    out["semdedup_auto_cells"] = f"""
        WITH {_ivf_kmeans_ctes(_AUTO_CELLS_SQL)},
        pairs AS (
            SELECT b.vec_id AS id_b, a.vec_id AS id_a
            FROM afinal a JOIN afinal b
              ON a.cell = b.cell AND a.vec_id < b.vec_id
            WHERE round({_ivf_cos.format(v='a.cv', c='b.cv')}, 6) >= 0.42
        ), shadows AS (
            SELECT id_b, min(id_a) AS dup_of FROM pairs GROUP BY id_b
        )
        SELECT f.vec_id, CAST(f.cell AS BIGINT) AS cell,
               s.dup_of IS NULL AS kept, s.dup_of
        FROM afinal f LEFT JOIN shadows s ON s.id_b = f.vec_id
    """
    # dedup-audit twin: the three oracled pair queries nested as
    # subqueries (their internal CTE names stay scoped), then the
    # same volume guards the Spark side applies — the ngram leg's
    # hot-shingle df-cap (max_df=64) and the per-doc top-8-per-side
    # candidate cap (cap_pairs_per_doc's two row_number windows,
    # identical strength ordering + id tiebreak) — then the same
    # tag → totals → pair-overlap join
    out["dedup_method_agreement"] = f"""
        WITH mh0 AS (
                -- UNCAPPED portable-minhash pairs (the Spark side of
                -- this audit calls the operator uncapped and applies
                -- its OWN cap of 8 below; nesting the standalone
                -- twin's cap-20 would compose caps differently)
                WITH {_minhash_ctes}
                SELECT id_a, id_b, est_jaccard FROM est
                WHERE est_jaccard >= 0.5
             ),
             ng0 AS (
                WITH toks AS (
                    SELECT doc_id, {tokens} AS t FROM documents
                ), grams AS (
                    SELECT doc_id,
                           list_distinct(
                               list_transform(
                                   range(1, greatest(len(t) - 3, 0) + 2),
                                   i -> array_to_string(t[i:i+2], ' ')
                               )
                           ) AS shingles
                    FROM toks
                ), inv AS (
                    SELECT doc_id, unnest(shingles) AS shingle FROM grams
                ), sizes AS (
                    SELECT doc_id, count(*) AS set_size FROM inv GROUP BY doc_id
                ), hot AS (
                    -- df-cap: shingles in > 64 docs leave the index
                    -- BEFORE the self-join (set sizes stay exact, so
                    -- jaccard is the same lower bound Spark computes)
                    SELECT shingle FROM inv GROUP BY shingle
                    HAVING count(*) > 64
                ), invc AS (
                    SELECT inv.* FROM inv ANTI JOIN hot USING (shingle)
                ), common AS (
                    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                           count(*) AS common
                    FROM invc a JOIN invc b
                      ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                    GROUP BY a.doc_id, b.doc_id
                )
                SELECT id_a, id_b,
                       round(common * 1.0
                             / (sa.set_size + sb.set_size - common), 6) AS jaccard
                FROM common
                JOIN sizes sa ON sa.doc_id = id_a
                JOIN sizes sb ON sb.doc_id = id_b
                WHERE common * 1.0 / (sa.set_size + sb.set_size - common) >= 0.2
             ),
             sh0 AS (
                WITH {_simhash_ctes}
                SELECT id_a, id_b, hamming FROM ham WHERE hamming <= 3
             ),
        mh AS (
            SELECT id_a, id_b FROM (
                SELECT id_a, id_b,
                       row_number() OVER (PARTITION BY id_a
                           ORDER BY est_jaccard DESC, id_b) AS ra,
                       row_number() OVER (PARTITION BY id_b
                           ORDER BY est_jaccard DESC, id_a) AS rb
                FROM mh0)
            WHERE ra <= 8 AND rb <= 8
        ), ng AS (
            SELECT id_a, id_b FROM (
                SELECT id_a, id_b,
                       row_number() OVER (PARTITION BY id_a
                           ORDER BY jaccard DESC, id_b) AS ra,
                       row_number() OVER (PARTITION BY id_b
                           ORDER BY jaccard DESC, id_a) AS rb
                FROM ng0)
            WHERE ra <= 8 AND rb <= 8
        ), sh AS (
            SELECT id_a, id_b FROM (
                SELECT id_a, id_b,
                       row_number() OVER (PARTITION BY id_a
                           ORDER BY hamming ASC, id_b) AS ra,
                       row_number() OVER (PARTITION BY id_b
                           ORDER BY hamming ASC, id_a) AS rb
                FROM sh0)
            WHERE ra <= 8 AND rb <= 8
        ),
        tagged AS (
            SELECT 'minhash' AS m, id_a, id_b FROM mh
            UNION ALL SELECT 'ngram', id_a, id_b FROM ng
            UNION ALL SELECT 'simhash', id_a, id_b FROM sh
        ), totals AS (
            SELECT m, count(*) AS n FROM tagged GROUP BY m
        ), common AS (
            SELECT a.m AS method_a, b.m AS method_b, count(*) AS n_common
            FROM tagged a JOIN tagged b
              ON a.id_a = b.id_a AND a.id_b = b.id_b AND a.m < b.m
            GROUP BY a.m, b.m
        )
        SELECT t1.m AS method_a, t2.m AS method_b,
               CAST(t1.n AS BIGINT) AS n_a,
               CAST(t2.n AS BIGINT) AS n_b,
               CAST(COALESCE(c.n_common, 0) AS BIGINT) AS n_common,
               round(COALESCE(c.n_common, 0) * 1.0
                     / (t1.n + t2.n - COALESCE(c.n_common, 0)), 6) AS pair_jaccard
        FROM totals t1
        JOIN totals t2 ON t1.m < t2.m
        LEFT JOIN common c ON c.method_a = t1.m AND c.method_b = t2.m
    """
    # BPE twins: the sentinel-replace training loop unrolled — both
    # engines walk the identical count → argmax → replace trajectory
    def _bpe_round(i: int) -> str:
        return f"""p{i} AS (
            SELECT pair, CAST(sum(freq) AS BIGINT) AS c FROM (
                SELECT freq, unnest(list_transform(
                    range(1, len(string_split(s, ' '))),
                    j -> string_split(s, ' ')[j] || ' ' || string_split(s, ' ')[j + 1]
                )) AS pair
                FROM s{i - 1}
            ) GROUP BY pair
        ), b{i} AS (
            SELECT pair, c FROM p{i} ORDER BY c DESC, pair LIMIT 1
        ), s{i} AS (
            SELECT freq, replace(s, b.pair, replace(b.pair, ' ' || chr(1), '')) AS s
            FROM s{i - 1}, b{i} b
        )"""

    _bpe_ctes = (
        f"""w0 AS (
            SELECT w, CAST(count(*) AS BIGINT) AS freq FROM (
                SELECT unnest({tokens}) AS w FROM documents
            ) GROUP BY w
        ), s0 AS (
            SELECT freq,
                   array_to_string(list_transform(range(1, len(w) + 1),
                                   i -> chr(1) || w[i]), ' ') AS s
            FROM w0
        ), """
        + ", ".join(_bpe_round(i) for i in range(1, 6))
    )
    _bpe_row = (
        "SELECT CAST({i} AS INT) AS round, "
        "replace(string_split(pair, ' ')[1], chr(1), '') AS left, "
        "replace(string_split(pair, ' ')[2], chr(1), '') AS right, "
        "replace(replace(pair, ' ', ''), chr(1), '') AS merged, "
        "c AS pair_count FROM b{i}"
    )
    out["bpe_learned_merges"] = (
        f"WITH {_bpe_ctes} "
        + " UNION ALL ".join(_bpe_row.format(i=i) for i in range(1, 6))
    )
    out["bpe_doc_segment_counts"] = f"""
        WITH {_bpe_ctes},
        vocab AS (
            SELECT replace(replace(s, ' ', ''), chr(1), '') AS w,
                   CAST(len(string_split(s, ' ')) AS BIGINT) AS nsym
            FROM s5
        ), tok AS (
            SELECT doc_id, unnest({tokens}) AS w FROM documents
        )
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
               CAST(sum(nsym) AS BIGINT) AS n_symbols
        FROM tok JOIN vocab USING (w) GROUP BY doc_id
    """
    # Logistic-regression trainer twins: the 3-iteration full-batch GD
    # trajectory unrolled — dots → errors → gradients → update per
    # iteration, every quantity pre-rounded exactly as the Spark side
    _LRI, _LRLR, _LRV = (
        _LR_ARGS["n_iters"], _LR_ARGS["lr"], _LR_ARGS["vocab_size"],
    )

    def _lr_iter(i: int) -> str:
        return f"""dots{i} AS MATERIALIZED (
            SELECT doc_id, round(sum(cnt * w), 6) AS dot
            FROM lrfeats JOIN w{i - 1} USING (tok) GROUP BY doc_id
        ), errs{i} AS MATERIALIZED (
            SELECT l.doc_id,
                   round(round(1.0 / (1.0 + exp(-round(
                       (SELECT b FROM b{i - 1}) + coalesce(dot, 0.0), 6))), 6)
                       - y, 6) AS err
            FROM lrlab l LEFT JOIN dots{i} USING (doc_id)
        ), grads{i} AS MATERIALIZED (
            SELECT tok, round(sum(cnt * err) / (SELECT n FROM lrnd), 8) AS g
            FROM lrfeats JOIN errs{i} USING (doc_id) GROUP BY tok
        ), w{i} AS MATERIALIZED (
            SELECT w{i - 1}.tok,
                   round(w - {_LRLR} * coalesce(g, 0.0), 6) AS w
            FROM w{i - 1} LEFT JOIN grads{i} USING (tok)
        ), b{i} AS MATERIALIZED (
            SELECT round((SELECT b FROM b{i - 1}) - {_LRLR} * coalesce(
                (SELECT round(sum(err) / (SELECT n FROM lrnd), 8)
                 FROM errs{i}), 0.0), 6) AS b
        )"""

    _lr_base = f"""lrex AS MATERIALIZED (
            SELECT doc_id, {tokens} AS t FROM documents
        ), lrlab AS MATERIALIZED (
            SELECT doc_id,
                   CASE WHEN list_contains(t, 'the') THEN 1.0 ELSE 0.0 END AS y
            FROM lrex
        ), lrtk AS MATERIALIZED (
            SELECT doc_id, unnest(t) AS tok FROM lrex
        ), lrvoc AS MATERIALIZED (
            SELECT tok FROM (
                SELECT tok, row_number() OVER (ORDER BY count(*) DESC, tok) AS rn
                FROM lrtk GROUP BY tok)
            WHERE rn <= {_LRV}
        ), lrfeats AS MATERIALIZED (
            SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS cnt
            FROM lrtk JOIN lrvoc USING (tok) GROUP BY doc_id, tok
        ), lrnd AS MATERIALIZED (SELECT count(*) * 1.0 AS n FROM documents),
        w0 AS MATERIALIZED (SELECT tok, 0.0 AS w FROM lrvoc),
        b0 AS MATERIALIZED (SELECT 0.0 AS b),
        """ + ", ".join(_lr_iter(i) for i in range(1, _LRI + 1))
    out["train_quality_filter_docs"] = f"""
        WITH {_lr_base}
        SELECT tok AS token, w AS weight,
               CAST(CASE WHEN tok = '__bias__' THEN 0
                    ELSE row_number() OVER (
                        PARTITION BY tok = '__bias__'
                        ORDER BY w DESC, tok) END AS INT) AS rank
        FROM (SELECT tok, w FROM w{_LRI}
              UNION ALL SELECT '__bias__', b FROM b{_LRI})
    """
    out["trained_filter_scores_docs"] = f"""
        WITH {_lr_base},
        sdots AS MATERIALIZED (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits,
                   round(sum(w), 6) AS dot
            FROM lrtk JOIN w{_LRI} USING (tok)
            GROUP BY doc_id
        )
        SELECT d.doc_id,
               coalesce(s.n_hits, 0) AS n_hits,
               round((SELECT b FROM b{_LRI}) + coalesce(s.dot, 0.0), 6) AS logit,
               round(1.0 / (1.0 + exp(-round(
                   (SELECT b FROM b{_LRI}) + coalesce(s.dot, 0.0), 6))), 6)
                   AS score,
               round(1.0 / (1.0 + exp(-round(
                   (SELECT b FROM b{_LRI}) + coalesce(s.dot, 0.0), 6))), 6)
                   >= 0.5 AS positive
        FROM documents d LEFT JOIN sdots s USING (doc_id)
    """

    # WordPiece twins: the seed → segment → recount → prune trajectory
    # unrolled — greedy longest-match per word as max_word_len chained
    # CTE steps (each a coalesce of correlated inventory lookups, the
    # SQL mirror of the Spark side's per-step withColumns projections)
    _WPV, _WPR, _WPP, _WPW = (
        _WP_ARGS["vocab_size"], _WP_ARGS["n_rounds"],
        _WP_ARGS["max_piece_len"], _WP_ARGS["max_word_len"],
    )

    def _wp_seg_ctes(rnd: int, inv: str) -> str:
        lookups = ", ".join(
            f"(SELECT v.piece FROM {inv} v WHERE v.piece = substr(w, off, {L}))"
            for L in range(_WPP, 1, -1)
        )
        ctes = [
            f"s{rnd}_0 AS MATERIALIZED (SELECT w, freq, 1 AS off,"
            f" CAST([] AS VARCHAR[]) AS ps FROM wpwords)"
        ]
        for k in range(1, _WPW + 1):
            ctes.append(f"""s{rnd}_{k} AS MATERIALIZED (
                SELECT w, freq,
                       CASE WHEN off <= len(w) THEN off + len(pc)
                            ELSE off END AS off,
                       CASE WHEN off <= len(w) THEN list_append(ps, pc)
                            ELSE ps END AS ps
                FROM (
                    SELECT w, freq, off, ps,
                           coalesce({lookups}, substr(w, off, 1)) AS pc
                    FROM s{rnd}_{k - 1})
            )""")
        return ", ".join(ctes)

    def _wp_round_ctes(rnd: int) -> str:
        return f"""{_wp_seg_ctes(rnd, f"inv{rnd - 1}")},
        cnt{rnd} AS MATERIALIZED (
            SELECT piece, CAST(sum(freq) AS BIGINT) AS c
            FROM (SELECT freq, unnest(ps) AS piece FROM s{rnd}_{_WPW})
            GROUP BY piece
        ), minv{rnd} AS (
            SELECT piece FROM (
                SELECT piece, row_number() OVER (ORDER BY c DESC, piece) AS rn
                FROM cnt{rnd} WHERE len(piece) >= 2)
            WHERE rn <= {_WPV} - (SELECT n FROM nch)
        ), inv{rnd} AS MATERIALIZED (
            SELECT piece FROM chars UNION SELECT piece FROM minv{rnd}
        )"""

    _wp_subs = " UNION ALL ".join(
        f"SELECT freq, substr(w, i, {L}) AS piece FROM wpwords,"
        f" unnest(range(1, len(w) - {L} + 2)) AS t(i)"
        for L in range(2, _WPP + 1)
    )
    _wp_base = f"""wpwords AS MATERIALIZED (
            SELECT w, CAST(count(*) AS BIGINT) AS freq FROM (
                SELECT unnest({tokens}) AS w FROM documents
            ) WHERE w <> '' AND len(w) <= {_WPW} GROUP BY w
        ), chars AS MATERIALIZED (
            SELECT DISTINCT substr(w, i, 1) AS piece
            FROM wpwords, unnest(range(1, len(w) + 1)) AS t(i)
        ), nch AS MATERIALIZED (SELECT count(*) AS n FROM chars),
        seedc AS (
            SELECT piece, CAST(sum(freq) AS BIGINT) AS c
            FROM ({_wp_subs}) GROUP BY piece
        ), minv0 AS (
            SELECT piece FROM (
                SELECT piece, row_number() OVER (ORDER BY c DESC, piece) AS rn
                FROM seedc)
            WHERE rn <= {_WPV} - (SELECT n FROM nch)
        ), inv0 AS MATERIALIZED (
            SELECT piece FROM chars UNION SELECT piece FROM minv0
        ), """ + ", ".join(_wp_round_ctes(r) for r in range(1, _WPR + 1))
    # expectations twin: each check as scalar subqueries
    out["data_quality_audit"] = """
        SELECT 'unique' AS "check", 'customer' AS "table", 'c_custkey' AS "column",
               (SELECT count(*) - count(DISTINCT c_custkey) FROM customer) AS n_violations,
               (SELECT count(*) - count(DISTINCT c_custkey) FROM customer) = 0 AS passed
        UNION ALL
        SELECT 'unique', 'events', 'event_id',
               (SELECT count(*) - count(DISTINCT event_id) FROM events),
               (SELECT count(*) - count(DISTINCT event_id) FROM events) = 0
        UNION ALL
        SELECT 'not_null', 'orders', 'o_custkey',
               (SELECT count(*) FROM orders WHERE o_custkey IS NULL),
               (SELECT count(*) FROM orders WHERE o_custkey IS NULL) = 0
        UNION ALL
        SELECT 'ref_integrity', 'orders', 'o_custkey',
               (SELECT count(*) FROM orders WHERE o_custkey IS NOT NULL
                  AND o_custkey NOT IN (SELECT c_custkey FROM customer)),
               (SELECT count(*) FROM orders WHERE o_custkey IS NOT NULL
                  AND o_custkey NOT IN (SELECT c_custkey FROM customer)) = 0
        UNION ALL
        SELECT 'ref_integrity', 'lineitem', 'l_orderkey',
               (SELECT count(*) FROM lineitem WHERE l_orderkey IS NOT NULL
                  AND l_orderkey NOT IN (SELECT o_orderkey FROM orders)),
               (SELECT count(*) FROM lineitem WHERE l_orderkey IS NOT NULL
                  AND l_orderkey NOT IN (SELECT o_orderkey FROM orders)) = 0
        UNION ALL
        SELECT 'in_range', 'events', 'value',
               (SELECT count(*) FROM events
                 WHERE value IS NOT NULL AND (value < 0.0 OR value > 250.0)),
               (SELECT count(*) FROM events
                 WHERE value IS NOT NULL AND (value < 0.0 OR value > 250.0)) = 0
    """
    # snapshot-diff twin: identical simulated next-day snapshot, full
    # outer key join, null-safe compare, unchanged rows dropped
    out["orders_snapshot_diff"] = """
        WITH old AS (
            SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        ), upd AS (
            SELECT o_orderkey,
                   CASE WHEN o_orderkey % 7 = 0 THEN 'X'
                        ELSE o_orderstatus END AS o_orderstatus,
                   o_totalprice
            FROM old WHERE o_orderkey % 13 <> 0
        ), ins AS (
            SELECT o_orderkey + 1000000000 AS o_orderkey,
                   'N' AS o_orderstatus, o_totalprice
            FROM old WHERE o_orderkey % 11 = 0
        ), neww AS (
            SELECT * FROM upd UNION ALL SELECT * FROM ins
        ), j AS (
            SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
                   CASE WHEN o.o_orderkey IS NULL THEN 'insert'
                        WHEN n.o_orderkey IS NULL THEN 'delete'
                        WHEN o.o_orderstatus IS DISTINCT FROM n.o_orderstatus
                          OR o.o_totalprice IS DISTINCT FROM n.o_totalprice
                        THEN 'update' END AS change_type,
                   o.o_orderstatus AS old_o_orderstatus,
                   n.o_orderstatus AS new_o_orderstatus,
                   o.o_totalprice AS old_o_totalprice,
                   n.o_totalprice AS new_o_totalprice
            FROM old o FULL OUTER JOIN neww n USING (o_orderkey)
        )
        SELECT * FROM j WHERE change_type IS NOT NULL
    """
    # k-anonymity twin: same quasi-identifier grouping
    out["k_anonymity_audit"] = """
        SELECT c_nationkey, c_mktsegment,
               count(*) AS class_size,
               count(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT))
                   AS l_diversity,
               count(*) < 5 AS at_risk
        FROM customer
        GROUP BY c_nationkey, c_mktsegment
    """
    # GDPR purge twin: IN/NOT IN replay of the erasure chain
    out["gdpr_purge_audit"] = """
        WITH subj AS (SELECT c_custkey AS k FROM customer WHERE c_custkey % 97 = 0),
        pord AS (SELECT o_orderkey FROM orders WHERE o_custkey IN (SELECT k FROM subj))
        SELECT 'customer' AS "table",
               (SELECT count(*) FROM customer WHERE c_custkey IN (SELECT k FROM subj)) AS n_purged,
               (SELECT count(*) FROM customer WHERE c_custkey NOT IN (SELECT k FROM subj)) AS n_kept
        UNION ALL
        SELECT 'orders',
               (SELECT count(*) FROM orders WHERE o_custkey IN (SELECT k FROM subj)),
               (SELECT count(*) FROM orders WHERE o_custkey NOT IN (SELECT k FROM subj))
        UNION ALL
        SELECT 'lineitem',
               (SELECT count(*) FROM lineitem WHERE l_orderkey IN (SELECT o_orderkey FROM pord)),
               (SELECT count(*) FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM pord))
        UNION ALL
        SELECT 'events',
               (SELECT count(*) FROM events WHERE user_id IN (SELECT k FROM subj)),
               (SELECT count(*) FROM events WHERE user_id NOT IN (SELECT k FROM subj))
    """
    # unigram-LM twin: substring-count seed, add-one-smoothed INTEGER
    # micro-log costs (floor(x·1e6 + 0.5) pins half-up in every
    # engine), Viterbi forward DP + backtrace unrolled as chained
    # MATERIALIZED CTEs (the DP is all-BIGINT — the fixed-point
    # PageRank discipline — so no float ties exist), usage recount,
    # alphabet-preserving prune, two rounds
    _UGV, _UGR, _UGP, _UGW = (
        _UG_ARGS["vocab_size"], _UG_ARGS["n_rounds"],
        _UG_ARGS["max_piece_len"], _UG_ARGS["max_word_len"],
    )
    _UG_BIG = 1 << 50

    def _ug_cost_cte(rnd: int) -> str:
        return f"""ucw{rnd} AS MATERIALIZED (
            SELECT i.piece, CAST(coalesce(c.c, 0) AS BIGINT) AS wc
            FROM uinv{rnd} i LEFT JOIN ucnt{rnd} c USING (piece)
        ), ucst{rnd} AS MATERIALIZED (
            SELECT piece, wc,
                   CAST(floor((log10(t.total + t.v) - log10(wc + 1))
                              * 1000000 + 0.5) AS BIGINT) AS cost
            FROM ucw{rnd} CROSS JOIN (
                SELECT CAST(sum(wc) AS BIGINT) AS total,
                       count(*) AS v
                FROM ucw{rnd}
            ) t
        )"""

    def _ug_inv_cte(rnd: int) -> str:
        return f"""uinv{rnd} AS MATERIALIZED (
            SELECT piece FROM ualph
            UNION ALL
            SELECT piece FROM (
                SELECT piece, row_number() OVER (ORDER BY c DESC, piece) AS rn
                FROM ucnt{rnd} WHERE len(piece) >= 2)
            WHERE rn <= {_UGV} - (SELECT n FROM unch)
        )"""

    def _ug_viterbi_ctes(rnd: int, cst: str) -> str:
        ctes = [
            f"uv{rnd}_0 AS MATERIALIZED (SELECT w, freq,"
            f" CAST(0 AS BIGINT) AS c0 FROM uwords)"
        ]
        for i in range(1, _UGW + 1):
            joins, cands = [], []
            for plen in range(1, min(_UGP, i) + 1):
                al = f"l{plen}"
                joins.append(
                    f"LEFT JOIN {cst} {al}"
                    f" ON {al}.piece = substr(v.w, {i - plen + 1}, {plen})"
                )
                cands.append(
                    f"coalesce((v.c{i - plen} + {al}.cost) * 8"
                    f" + {_UGP - plen}, {_UG_BIG})"
                )
            best = cands[0] if len(cands) == 1 else f"least({', '.join(cands)})"
            ctes.append(f"""uv{rnd}_{i} AS MATERIALIZED (
                SELECT *, m{i} // 8 AS c{i},
                       CAST({_UGP} - (m{i} % 8) AS INT) AS bp{i}
                FROM (
                    SELECT v.*, {best} AS m{i}
                    FROM uv{rnd}_{i - 1} v {' '.join(joins)})
            )""")
        ctes.append(
            f"uvb{rnd}_0 AS MATERIALIZED (SELECT *, len(w) AS p0"
            f" FROM uv{rnd}_{_UGW})"
        )
        for j in range(1, _UGW + 1):
            sel = "CASE p%d %s END" % (
                j - 1,
                " ".join(f"WHEN {i} THEN bp{i}" for i in range(1, _UGW + 1)),
            )
            ctes.append(f"""uvb{rnd}_{j} AS MATERIALIZED (
                SELECT *, CASE WHEN p{j - 1} > 0
                               THEN substr(w, p{j - 1} - sel{j} + 1, sel{j})
                          END AS q{j},
                       greatest(p{j - 1} - coalesce(sel{j}, 0), 0) AS p{j}
                FROM (SELECT *, {sel} AS sel{j} FROM uvb{rnd}_{j - 1})
            )""")
        return ", ".join(ctes)

    def _ug_round_ctes(rnd: int) -> str:
        usage = " UNION ALL ".join(
            f"SELECT q{j} AS piece, freq FROM uvb{rnd}_{_UGW}"
            f" WHERE q{j} IS NOT NULL"
            for j in range(1, _UGW + 1)
        )
        return f"""{_ug_viterbi_ctes(rnd, f"ucst{rnd - 1}")},
        ucnt{rnd} AS MATERIALIZED (
            SELECT piece, CAST(sum(freq) AS BIGINT) AS c
            FROM ({usage}) GROUP BY piece
        ), {_ug_inv_cte(rnd)}, {_ug_cost_cte(rnd)}"""

    _ug_subs = " UNION ALL ".join(
        f"SELECT freq, substr(w, i, {L}) AS piece FROM uwords,"
        f" unnest(range(1, len(w) - {L} + 2)) AS t(i)"
        for L in range(1, _UGP + 1)
    )
    _ug_base = f"""uwords AS MATERIALIZED (
            SELECT w, CAST(count(*) AS BIGINT) AS freq FROM (
                SELECT unnest({tokens}) AS w FROM documents
            ) WHERE w <> '' AND len(w) <= {_UGW} GROUP BY w
        ), ucnt0 AS MATERIALIZED (
            SELECT piece, CAST(sum(freq) AS BIGINT) AS c
            FROM ({_ug_subs}) GROUP BY piece
        ), ualph AS MATERIALIZED (
            SELECT piece FROM ucnt0 WHERE len(piece) = 1
        ), unch AS MATERIALIZED (SELECT count(*) AS n FROM ualph),
        {_ug_inv_cte(0)}, {_ug_cost_cte(0)},
        """ + ", ".join(_ug_round_ctes(r) for r in range(1, _UGR + 1))
    out["unigram_lm_vocab_docs"] = f"""
        WITH {_ug_base}
        SELECT piece, CAST(len(piece) AS INT) AS piece_len,
               wc AS weighted_count, cost AS cost_micro,
               CAST(row_number() OVER (ORDER BY wc DESC, piece) AS INT)
                   AS rank,
               len(piece) = 1 AS is_char
        FROM ucst{_UGR}
    """
    _ug_np = " + ".join(
        f"(CASE WHEN q{j} IS NOT NULL THEN 1 ELSE 0 END)"
        for j in range(1, _UGW + 1)
    )
    out["unigram_fertility_docs"] = f"""
        WITH {_ug_base},
        {_ug_viterbi_ctes(_UGR + 1, f"ucst{_UGR}")},
        uperw AS MATERIALIZED (
            SELECT w, CAST({_ug_np} AS BIGINT) AS np FROM uvb{_UGR + 1}_{_UGW}
        ), utok AS (
            SELECT doc_id, w FROM (
                SELECT doc_id, unnest({tokens}) AS w FROM documents
            ) WHERE w <> ''
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_words,
               CAST(sum(coalesce(np, 1)) AS BIGINT) AS n_pieces,
               CAST(sum(CASE WHEN np IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_unk
        FROM utok LEFT JOIN uperw USING (w) GROUP BY doc_id
    """
    out["wordpiece_vocab_docs"] = f"""
        WITH {_wp_base}
        SELECT piece, CAST(len(piece) AS INT) AS piece_len,
               c AS weighted_count,
               CAST(row_number() OVER (ORDER BY c DESC, piece) AS INT) AS rank,
               len(piece) = 1 AS is_char
        FROM cnt{_WPR}
        WHERE piece IN (SELECT piece FROM inv{_WPR})
    """
    out["wordpiece_fertility_docs"] = f"""
        WITH {_wp_base},
        {_wp_seg_ctes(_WPR + 1, f"inv{_WPR}")},
        perw AS (
            SELECT w, CAST(len(ps) AS BIGINT) AS np FROM s{_WPR + 1}_{_WPW}
        ), tok AS (
            SELECT doc_id, w FROM (
                SELECT doc_id, unnest({tokens}) AS w FROM documents
            ) WHERE w <> ''
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_words,
               CAST(sum(coalesce(np, 1)) AS BIGINT) AS n_pieces,
               CAST(sum(CASE WHEN np IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_unk
        FROM tok LEFT JOIN perw USING (w) GROUP BY doc_id
    """
    # tokenizer bake-off twin: the three family twins nested and
    # reduced with the exact scaled-integer fertility
    def _tok_cmp_leg(name: str, sql: str, pieces_col: str) -> str:
        return f"""SELECT '{name}' AS tokenizer,
               CAST(sum(n_words) AS BIGINT) AS total_words,
               CAST(sum({pieces_col}) AS BIGINT) AS total_pieces,
               (CAST(sum({pieces_col}) AS BIGINT) * 1000000)
                   // CAST(sum(n_words) AS BIGINT) AS fertility_micro
        FROM ({sql})"""

    out["tokenizer_comparison_docs"] = (
        _tok_cmp_leg("bpe", out["bpe_doc_segment_counts"], "n_symbols")
        + " UNION ALL "
        + _tok_cmp_leg("wordpiece", out["wordpiece_fertility_docs"], "n_pieces")
        + " UNION ALL "
        + _tok_cmp_leg("unigram", out["unigram_fertility_docs"], "n_pieces")
    )
    _clf_vals = ", ".join(
        f"('{t}', {round(w, 6)})" for t, w in sorted(_CLF_WEIGHTS.items())
    )
    out["doc_classifier_scores"] = f"""
        WITH w(tok, wt) AS (VALUES {_clf_vals}),
        toks AS (
            SELECT doc_id, unnest({tokens}) AS tok FROM documents
        ), dots AS (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits,
                   round(sum(wt), 6) AS dot
            FROM toks JOIN w USING (tok) GROUP BY doc_id
        ), scored AS (
            SELECT d.doc_id,
                   COALESCE(dots.n_hits, 0) AS n_hits,
                   round({_CLF_BIAS} + COALESCE(dots.dot, 0.0), 6) AS logit
            FROM documents d LEFT JOIN dots ON dots.doc_id = d.doc_id
        )
        SELECT doc_id, n_hits, logit,
               round(1.0 / (1.0 + exp(-logit)), 6) AS score,
               round(1.0 / (1.0 + exp(-logit)), 6) >= 0.5 AS positive
        FROM scored
    """
    # bigram-LM twin: same mixture association order as the Spark
    # expression (0.75*(cpw/cp) + 0.25*(cw/N)), log10 both engines,
    # per-doc log sum pre-rounded before the division
    out["doc_bigram_logprob"] = f"""
        WITH toks AS (
            SELECT doc_id, {tokens} AS t FROM documents
        ), bigr AS (
            SELECT doc_id, bg,
                   string_split(bg, ' ')[1] AS prev,
                   string_split(bg, ' ')[2] AS w
            FROM (
                SELECT doc_id,
                       unnest(list_transform(range(1, len(t)),
                              i -> t[i] || ' ' || t[i + 1])) AS bg
                FROM toks WHERE len(t) >= 2
            )
        ), bgf AS (
            SELECT bg, count(*) AS cpw FROM bigr GROUP BY bg
        ), ctx AS (
            SELECT prev, count(*) AS cp FROM bigr GROUP BY prev
        ), uni AS (
            SELECT tok, count(*) AS cw FROM (
                SELECT unnest(t) AS tok FROM toks
            ) GROUP BY tok
        ), tot AS (
            SELECT sum(cw) AS n FROM uni
        ), lp AS (
            SELECT b.doc_id,
                   log10(0.75 * (bgf.cpw * 1.0 / ctx.cp)
                         + 0.25 * (uni.cw * 1.0 / tot.n)) AS l
            FROM bigr b
            JOIN bgf ON bgf.bg = b.bg
            JOIN ctx ON ctx.prev = b.prev
            JOIN uni ON uni.tok = b.w
            CROSS JOIN tot
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_bigrams,
               round(round(sum(l), 6) / count(*), 6) AS avg_logprob
        FROM lp GROUP BY doc_id
    """
    # CCNet bucketing twin: nests the bigram-LM twin verbatim, joins
    # the source domain back and replays the identical
    # (avg_logprob DESC, doc_id) ntile(3) window per source
    out["doc_perplexity_buckets"] = f"""
        WITH lm AS ({out['doc_bigram_logprob']}),
        j AS (
            SELECT lm.doc_id, lm.n_bigrams, lm.avg_logprob, d.source
            FROM lm JOIN documents d USING (doc_id)
        ), b AS (
            SELECT doc_id, n_bigrams, avg_logprob, source,
                   CAST(ntile(3) OVER (
                       PARTITION BY source
                       ORDER BY avg_logprob DESC, doc_id) AS INT) AS bucket
            FROM j
        )
        SELECT doc_id, n_bigrams, avg_logprob, source, bucket,
               CASE WHEN bucket = 1 THEN 'head'
                    WHEN bucket = 3 THEN 'tail'
                    ELSE 'middle' END AS bucket_name
        FROM b
    """
    # Z-order twin: identical integer min-max bucketing and the same
    # shift/mask interleave — BIGINT ops end to end, bit-exact
    _z_interleave = " + ".join(
        f"(((bx >> {b}) & 1) * {1 << (2 * b)})"
        f" + (((by >> {b}) & 1) * {1 << (2 * b + 1)})"
        for b in range(8)
    )
    out["events_zorder_cells"] = f"""
        WITH ed AS (
            SELECT event_id, user_id,
                   date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS d
            FROM events
        ), st AS (
            SELECT min(user_id) AS mn_x, max(user_id) AS mx_x,
                   min(d) AS mn_y, max(d) AS mx_y
            FROM ed
        ), bz AS (
            SELECT event_id, user_id, d,
                   ((user_id - mn_x) * 256) // (mx_x - mn_x + 1) AS bx,
                   ((d - mn_y) * 256) // (mx_y - mn_y + 1) AS by
            FROM ed CROSS JOIN st
        ), zz AS (
            SELECT event_id, user_id, d,
                   CAST({_z_interleave} AS BIGINT) AS z
            FROM bz
        )
        SELECT z // 64 AS z_cell,
               count(*) AS n_events,
               min(user_id) AS min_user, max(user_id) AS max_user,
               min(d) AS min_day, max(d) AS max_day
        FROM zz GROUP BY z // 64
    """
    # PQ-ADC twin: four per-block canonical-kmeans chains (shared md5
    # seed rows, L2 assignment via the dot-product decomposition —
    # identical association order to the Spark fold — pre-rounded
    # centroid means), final per-block assignment, LUT of partial
    # dots, summed and ranked exactly like the operator
    def _pq_l2(sv: str, cent: str) -> str:
        return (
            f"(list_dot_product({sv}, {sv})"
            f" - 2*list_dot_product({sv}, {cent})"
            f" + list_dot_product({cent}, {cent}))"
        )

    def _pq_assign(name: str, eb: str, cb: str) -> str:
        return f"""{name} AS (
            SELECT vec_id, sv, code FROM (
                SELECT e.vec_id, e.sv, c.code,
                       row_number() OVER (PARTITION BY e.vec_id
                           ORDER BY {_pq_l2('e.sv', 'c.centroid')} ASC,
                                    c.code) AS rn
                FROM {eb} e CROSS JOIN {cb} c
            ) WHERE rn = 1
        )"""

    def _pq_means(name: str, assigned: str, sub: int) -> str:
        return f"""{name} AS (
            SELECT code, list(m ORDER BY pos) AS centroid FROM (
                SELECT a.code, r.i AS pos,
                       round(round(sum(a.sv[r.i]), 6) / count(*), 6) AS m
                FROM {assigned} a CROSS JOIN range(1, {sub + 1}) r(i)
                GROUP BY a.code, r.i
            ) GROUP BY code
        )"""

    _pq_sub = 16
    _pq_blocks = []
    for _b in range(1, 5):
        _lo, _hi = (_b - 1) * _pq_sub + 1, _b * _pq_sub
        _pq_blocks.append(
            f"""eb{_b} AS (
                SELECT vec_id, cv[{_lo}:{_hi}] AS sv FROM pemb
            ), cb{_b}0 AS (
                SELECT code, cv[{_lo}:{_hi}] AS centroid FROM pseeds
            ), {_pq_assign(f'pa{_b}1', f'eb{_b}', f'cb{_b}0')},
               {_pq_means(f'cb{_b}1', f'pa{_b}1', _pq_sub)},
               {_pq_assign(f'pa{_b}2', f'eb{_b}', f'cb{_b}1')},
               {_pq_means(f'cb{_b}2', f'pa{_b}2', _pq_sub)},
               {_pq_assign(f'paf{_b}', f'eb{_b}', f'cb{_b}2')}"""
        )
    _pq_union_codes = " UNION ALL ".join(
        f"SELECT vec_id, {b} AS block, code FROM paf{b}" for b in range(1, 5)
    )
    _pq_union_books = " UNION ALL ".join(
        f"SELECT {b} AS block, code, centroid FROM cb{b}2" for b in range(1, 5)
    )
    _pq_union_qb = " UNION ALL ".join(
        f"SELECT vec_id AS query_id, {b} AS block,"
        f" cv[{(b - 1) * _pq_sub + 1}:{b * _pq_sub}] AS qv"
        f" FROM pemb WHERE vec_id < 3"
        for b in range(1, 5)
    )
    out["pq_adc_topk_embeddings"] = f"""
        WITH pemb AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings
        ), pseeds AS (
            SELECT row_number() OVER (ORDER BY h) AS code, cv FROM (
                SELECT vec_id, cv,
                       CAST(CONCAT('0x', substring(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
                FROM pemb ORDER BY h LIMIT 8
            )
        ), {', '.join(_pq_blocks)},
        pcodes AS ({_pq_union_codes}),
        pbooks AS ({_pq_union_books}),
        pqb AS ({_pq_union_qb}),
        plut AS (
            SELECT q.query_id, bk.block, bk.code,
                   round(list_dot_product(q.qv, bk.centroid), 6) AS pd
            FROM pqb q JOIN pbooks bk USING (block)
        ), pscored AS (
            SELECT l.query_id, c.vec_id, round(sum(l.pd), 6) AS adc_score
            FROM pcodes c
            JOIN plut l ON l.block = c.block AND l.code = c.code
            WHERE l.query_id <> c.vec_id
            GROUP BY l.query_id, c.vec_id
        ), pshort AS (
            SELECT query_id, vec_id, adc_score FROM (
                SELECT query_id, vec_id, adc_score,
                       row_number() OVER (
                           PARTITION BY query_id
                           ORDER BY adc_score DESC, vec_id) AS rank
                FROM pscored
            ) WHERE rank <= 100
        ), prerank AS (
            SELECT s.query_id, s.vec_id, s.adc_score,
                   round(
                       list_dot_product(c.cv, q.cv) /
                       (sqrt(list_dot_product(c.cv, c.cv)) *
                        sqrt(list_dot_product(q.cv, q.cv))), 6
                   ) AS cosine_sim
            FROM pshort s
            JOIN pemb c ON c.vec_id = s.vec_id
            JOIN pemb q ON q.vec_id = s.query_id
        )
        SELECT query_id, vec_id, adc_score, cosine_sim,
               CAST(rank AS INT) AS rank
        FROM (
            SELECT query_id, vec_id, adc_score, cosine_sim,
                   row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY cosine_sim DESC, vec_id) AS rank
            FROM prerank
        ) WHERE rank <= 5
    """
    # IVF-PQ twin: canonical coarse chain (the shared kmeans CTEs) +
    # element-exact residuals + four per-block residual Lloyd chains
    # (the PQ helpers) + probe/coarse/LUT scoring + exact re-rank
    _rpq_blocks = []
    for _b in range(1, 5):
        _lo, _hi = (_b - 1) * _pq_sub + 1, _b * _pq_sub
        _rpq_blocks.append(
            f"""reb{_b} AS (
                SELECT vec_id, rv[{_lo}:{_hi}] AS sv FROM rres
            ), rcb{_b}0 AS (
                SELECT code, rv[{_lo}:{_hi}] AS centroid FROM rseeds
            ), {_pq_assign(f'rpa{_b}1', f'reb{_b}', f'rcb{_b}0')},
               {_pq_means(f'rcb{_b}1', f'rpa{_b}1', _pq_sub)},
               {_pq_assign(f'rpa{_b}2', f'reb{_b}', f'rcb{_b}1')},
               {_pq_means(f'rcb{_b}2', f'rpa{_b}2', _pq_sub)},
               {_pq_assign(f'rpaf{_b}', f'reb{_b}', f'rcb{_b}2')}"""
        )
    _rpq_codes = " UNION ALL ".join(
        f"SELECT vec_id, {b} AS block, code FROM rpaf{b}" for b in range(1, 5)
    )
    _rpq_books = " UNION ALL ".join(
        f"SELECT {b} AS block, code, centroid FROM rcb{b}2" for b in range(1, 5)
    )
    _rpq_qb = " UNION ALL ".join(
        f"SELECT query_id, {b} AS block,"
        f" qv[{(b - 1) * _pq_sub + 1}:{b * _pq_sub}] AS bqv FROM vq"
        for b in range(1, 5)
    )
    out["ivfpq_topk_embeddings"] = f"""
        WITH {_IVF_KMEANS_CTES},
        rres AS (
            SELECT a.vec_id, a.cell,
                   list_transform(range(1, 65),
                                  i -> a.cv[i] - c.centroid[i]) AS rv
            FROM afinal a JOIN c2 c USING (cell)
        ), rseeds AS (
            SELECT row_number() OVER (ORDER BY h) AS code, rv FROM (
                SELECT vec_id, rv,
                       CAST(CONCAT('0x', substring(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT) AS h
                FROM rres ORDER BY h LIMIT 8
            )
        ), {', '.join(_rpq_blocks)},
        rcodes AS ({_rpq_codes}),
        rbooks AS ({_rpq_books}),
        vq AS (
            SELECT vec_id AS query_id, cv AS qv FROM emb WHERE vec_id < 3
        ), vprobes AS (
            SELECT query_id, qv, cell FROM (
                SELECT q.query_id, q.qv, c.cell,
                       row_number() OVER (PARTITION BY q.query_id
                           ORDER BY {_ivf_cos.format(v='q.qv', c='c.centroid')} DESC, c.cell) AS rn
                FROM vq q CROSS JOIN c2 c
            ) WHERE rn <= 4
        ), vcoarse AS (
            SELECT p.query_id, p.cell,
                   round(list_dot_product(p.qv, c.centroid), 6) AS coarse
            FROM vprobes p JOIN c2 c USING (cell)
        ), vqb AS ({_rpq_qb}),
        vlut AS (
            SELECT q.query_id, bk.block, bk.code,
                   round(list_dot_product(q.bqv, bk.centroid), 6) AS pd
            FROM vqb q JOIN rbooks bk USING (block)
        ), vcand AS (
            SELECT p.query_id, a.vec_id, p.cell
            FROM afinal a JOIN vprobes p USING (cell)
            WHERE p.query_id <> a.vec_id
        ), vs1 AS (
            SELECT c.query_id, c.vec_id, c.cell, round(sum(l.pd), 6) AS s1
            FROM vcand c
            JOIN rcodes rc USING (vec_id)
            JOIN vlut l ON l.query_id = c.query_id
                       AND l.block = rc.block AND l.code = rc.code
            GROUP BY c.query_id, c.vec_id, c.cell
        ), vscored AS (
            SELECT s.query_id, s.vec_id,
                   round(co.coarse + s.s1, 6) AS adc_score
            FROM vs1 s JOIN vcoarse co
              ON co.query_id = s.query_id AND co.cell = s.cell
        ), vshort AS (
            SELECT query_id, vec_id, adc_score FROM (
                SELECT query_id, vec_id, adc_score,
                       row_number() OVER (
                           PARTITION BY query_id
                           ORDER BY adc_score DESC, vec_id) AS rank
                FROM vscored
            ) WHERE rank <= 100
        ), vrer AS (
            SELECT s.query_id, s.vec_id, s.adc_score,
                   round(
                       list_dot_product(c.cv, q.cv) /
                       (sqrt(list_dot_product(c.cv, c.cv)) *
                        sqrt(list_dot_product(q.cv, q.cv))), 6
                   ) AS cosine_sim
            FROM vshort s
            JOIN emb c ON c.vec_id = s.vec_id
            JOIN emb q ON q.vec_id = s.query_id
        )
        SELECT query_id, vec_id, adc_score, cosine_sim,
               CAST(rank AS INT) AS rank
        FROM (
            SELECT query_id, vec_id, adc_score, cosine_sim,
                   row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY cosine_sim DESC, vec_id) AS rank
            FROM vrer
        ) WHERE rank <= 5
    """
    # SQ8 twin (asymmetric/ADC form): the affine bucket map is
    # one-association-order IEEE math, the reconstruction
    # lo + code·(hi−lo)/255 mirrors the Spark transform verbatim, and
    # list_dot_product accumulates in _dot's sequential order, so the
    # rounded scores hash-match; the re-rank reuses the brute-force
    # cosine formula
    out["sq8_topk_embeddings"] = """
        WITH
        corpus AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ),
        e AS (
            SELECT vec_id, unnest(v) AS x,
                   unnest(range(1, len(v) + 1)) AS pos
            FROM corpus
        ),
        st AS (SELECT pos, min(x) AS lo, max(x) AS hi FROM e GROUP BY pos),
        cp AS (
            SELECT vec_id, pos, lo, hi,
                   CASE WHEN hi > lo THEN
                            least(CAST(255 AS BIGINT),
                                  greatest(CAST(0 AS BIGINT),
                                           CAST(floor((x - lo) * 255.0 / (hi - lo) + 0.5) AS BIGINT)))
                        ELSE CAST(0 AS BIGINT) END AS code
            FROM e JOIN st USING (pos)
        ),
        codes AS (
            SELECT vec_id,
                   list(lo + CAST(code AS DOUBLE) * (hi - lo) / 255.0
                        ORDER BY pos) AS rv
            FROM cp GROUP BY vec_id
        ),
        q AS (SELECT vec_id AS query_id, v AS qv FROM corpus WHERE vec_id < 3),
        sc AS (
            SELECT q.query_id, c.vec_id,
                   round(list_dot_product(q.qv, c.rv), 6) AS sq_score
            FROM codes c CROSS JOIN q
            WHERE c.vec_id <> q.query_id
        ),
        shortlist AS (
            SELECT query_id, vec_id, sq_score,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY sq_score DESC, vec_id) AS rn
            FROM sc
        ),
        rr AS (
            SELECT s.query_id, s.vec_id, s.sq_score,
                   round(list_dot_product(c.v, qv.v) /
                         (sqrt(list_dot_product(c.v, c.v)) *
                          sqrt(list_dot_product(qv.v, qv.v))), 6) AS cosine_sim
            FROM shortlist s
            JOIN corpus c ON c.vec_id = s.vec_id
            JOIN corpus qv ON qv.vec_id = s.query_id
            WHERE s.rn <= 50
        )
        SELECT query_id, vec_id, sq_score, cosine_sim, CAST(rank AS INT) AS rank
        FROM (
            SELECT query_id, vec_id, sq_score, cosine_sim,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cosine_sim DESC, vec_id) AS rank
            FROM rr
        ) WHERE rank <= 5
    """
    from data_pipeline_childcare_spark.operators.similarity import (
        kcenter_sql as _kcenter_sql,
    )

    out["kcenter_coreset_embeddings"] = _kcenter_sql(k=6)
    from data_pipeline_childcare_spark.operators.tfidf import (
        phrase_search_sql as _phrase_sql,
    )

    out["phrase_search_docs"] = _phrase_sql("table scan")
    from data_pipeline_childcare_spark.operators.cleaning import (
        gopher_repetition_sql as _gopher_sql,
    )

    out["gopher_repetition_docs"] = _gopher_sql(tokens, flag_min_tokens=15)
    from data_pipeline_childcare_spark.operators.robust import (
        _poisson_case as _pb_case,
    )
    from data_pipeline_childcare_spark.operators.dp import (
        uniform_draw_duckdb as _pb_draw,
    )

    _pb_w = _pb_case(
        _pb_draw(
            "concat(CAST(event_id AS VARCHAR), ':', CAST(b AS VARCHAR))",
            "boot-1",
        )
    )
    out["streaming_enriched_event_counts"] = """
        SELECT event_type,
               CASE event_type WHEN 'click' THEN '点击' WHEN 'view' THEN '浏览' WHEN 'purchase' THEN '购买' WHEN 'signup' THEN '注册' WHEN 'error' THEN '错误' END AS event_label,
               CAST(count(*) AS BIGINT) AS n_events,
               round(sum(value), 4) AS total_value
        FROM events GROUP BY 1, 2
    """
    out["session_funnel_events"] = """
        WITH m AS (
            SELECT user_id, ts, event_id, event_type,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR date_diff('microsecond', lag(ts) OVER w, ts)
                                > 30 * 60 * 1000000
                        THEN 1 ELSE 0 END AS brk
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sess AS (
            SELECT user_id AS u, event_type AS ty, ts,
                   sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
            FROM m
        ),
        s1 AS (
            SELECT u, sid, min(ts) AS t FROM sess
            WHERE ty = 'signup' GROUP BY u, sid
        ),
        s2 AS (
            SELECT e.u, e.sid, min(e.ts) AS t
            FROM sess e JOIN s1 ON e.u = s1.u AND e.sid = s1.sid
            WHERE e.ty = 'click' AND e.ts > s1.t
            GROUP BY e.u, e.sid
        ),
        s3 AS (
            SELECT e.u, e.sid, min(e.ts) AS t
            FROM sess e JOIN s2 ON e.u = s2.u AND e.sid = s2.sid
            WHERE e.ty = 'purchase' AND e.ts > s2.t
            GROUP BY e.u, e.sid
        ),
        counts AS (
            SELECT 1 AS step, 'signup' AS step_name, CAST(count(*) AS BIGINT) AS n_sessions FROM s1
            UNION ALL SELECT 2, 'click', CAST(count(*) AS BIGINT) FROM s2
            UNION ALL SELECT 3, 'purchase', CAST(count(*) AS BIGINT) FROM s3
        ),
        en AS (
            SELECT step, step_name, n_sessions,
                   max(CASE WHEN step = 1 THEN n_sessions END) OVER () AS top,
                   lag(n_sessions) OVER (ORDER BY step) AS prev
            FROM counts
        )
        SELECT step, step_name, n_sessions,
               CASE WHEN prev IS NOT NULL AND prev > 0
                    THEN CAST(n_sessions * 1000000 // prev AS BIGINT) END AS conv_from_prev_u,
               CASE WHEN top > 0
                    THEN CAST(n_sessions * 1000000 // top AS BIGINT) END AS conv_from_top_u
        FROM en ORDER BY step
    """
    out["hopping_distinct_users_events"] = """
        WITH c AS (
            SELECT user_id,
                   unnest([time_bucket(INTERVAL 1 HOUR, ts) - INTERVAL 1 HOUR,
                           time_bucket(INTERVAL 1 HOUR, ts)]) AS window_start
            FROM events
        )
        SELECT window_start,
               window_start + INTERVAL 2 HOUR AS window_end,
               CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        FROM c GROUP BY 1, 2
    """
    out["value_histogram_events"] = """
        WITH b AS (
            SELECT CAST(min(CAST(floor(value * 1000 + 0.5) AS BIGINT)) AS BIGINT) AS lo,
                   CAST(max(CAST(floor(value * 1000 + 0.5) AS BIGINT)) AS BIGINT) AS hi
            FROM events
        ),
        t AS (
            SELECT least(CAST(19 AS BIGINT),
                     CASE WHEN b.hi > b.lo THEN
                         ((CAST(floor(value * 1000 + 0.5) AS BIGINT) - b.lo) * 20)
                         // (b.hi - b.lo + 1)
                     ELSE 0 END) AS bucket,
                   b.lo, b.hi
            FROM events CROSS JOIN b
        )
        SELECT bucket, CAST(count(*) AS BIGINT) AS n,
               CAST(min(lo) AS BIGINT) AS range_lo_m,
               CAST(min(hi) AS BIGINT) AS range_hi_m
        FROM t GROUP BY bucket
    """
    out["gini_stump_cv_docs"] = f"""
        WITH q AS ({out['doc_quality_scores']}),
        s AS (
            SELECT CAST(d.doc_id % 5 AS INT) AS fold,
                   CAST(floor(q.quality * 1000000 + 0.5) AS BIGINT) AS score_u,
                   CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
            FROM q JOIN documents d ON d.doc_id = q.doc_id
        ),
        g AS (
            SELECT fold, score_u, CAST(count(*) AS BIGINT) AS n_f,
                   CAST(sum(y) AS BIGINT) AS p_f
            FROM s GROUP BY fold, score_u
        ),
        tot AS (
            SELECT score_u, CAST(sum(n_f) AS BIGINT) AS n_t,
                   CAST(sum(p_f) AS BIGINT) AS p_t
            FROM g GROUP BY score_u
        ),
        grid AS (
            SELECT f.fold, t.score_u,
                   CAST(t.n_t - coalesce(g.n_f, 0) AS HUGEINT) AS tn,
                   CAST(t.p_t - coalesce(g.p_f, 0) AS HUGEINT) AS tp
            FROM (SELECT CAST(unnest(range(0, 5)) AS INT) AS fold) f
            CROSS JOIN tot t
            LEFT JOIN g ON g.fold = f.fold AND g.score_u = t.score_u
        ),
        cum AS (
            SELECT fold, score_u,
                   CAST(coalesce(sum(tn) OVER (PARTITION BY fold ORDER BY score_u
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS HUGEINT) AS tl,
                   CAST(coalesce(sum(tp) OVER (PARTITION BY fold ORDER BY score_u
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS HUGEINT) AS pl,
                   CAST(sum(tn) OVER (PARTITION BY fold) AS HUGEINT) AS t,
                   CAST(sum(tp) OVER (PARTITION BY fold) AS HUGEINT) AS p
            FROM grid
        ),
        cand AS (
            SELECT fold, score_u, tl, pl, t, p,
                   tl - pl AS nl, t - tl AS tr, p - pl AS pr,
                   (t - tl) - (p - pl) AS nr
            FROM cum WHERE tl > 0 AND t - tl > 0
        ),
        scoredc AS (
            SELECT *,
                   CAST(((tl * tl - pl * pl - nl * nl) * tr
                         + (tr * tr - pr * pr - nr * nr) * tl) * 1000000
                        // (tl * tr * t) AS BIGINT) AS child_gini_u
            FROM cand
        ),
        best AS (
            SELECT fold, score_u AS threshold_u,
                   CAST(CASE WHEN pl * 2 > tl THEN 1 ELSE 0 END AS INT) AS left_label,
                   CAST(CASE WHEN pr * 2 > tr THEN 1 ELSE 0 END AS INT) AS right_label
            FROM (
                SELECT *, row_number() OVER (PARTITION BY fold
                    ORDER BY child_gini_u, score_u) AS rn
                FROM scoredc
            ) WHERE rn = 1
        ),
        oof AS (
            SELECT g.fold, b.threshold_u, b.left_label, b.right_label,
                   CAST(sum(g.n_f) AS BIGINT) AS oof_n,
                   CAST(sum(CASE WHEN (CASE WHEN g.score_u < b.threshold_u
                                       THEN b.left_label ELSE b.right_label END) = 1
                            THEN g.p_f ELSE g.n_f - g.p_f END) AS BIGINT) AS oof_correct
            FROM g JOIN best b ON g.fold = b.fold
            GROUP BY g.fold, b.threshold_u, b.left_label, b.right_label
        )
        SELECT fold, threshold_u, left_label, right_label, oof_n, oof_correct,
               CAST(oof_correct * 1000000 // oof_n AS BIGINT) AS oof_acc_u
        FROM oof
    """
    out["ship_delay_percentiles"] = """
        WITH delays AS (
            SELECT l.l_returnflag AS g,
                   CAST(date_diff('day', o.o_orderdate, l.l_shipdate) AS BIGINT) AS v
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        ),
        counts AS (SELECT g, v, CAST(count(*) AS BIGINT) AS c FROM delays GROUP BY g, v),
        cum AS (
            SELECT g, v, c,
                   sum(c) OVER (PARTITION BY g ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm,
                   sum(c) OVER (PARTITION BY g) AS n
            FROM counts
        ),
        q AS (
            SELECT g,
                   min(CASE WHEN cm >= greatest(1, (n * 500000 + 999999) // 1000000) THEN v END) AS p50_days,
                   min(CASE WHEN cm >= greatest(1, (n * 900000 + 999999) // 1000000) THEN v END) AS p90_days,
                   min(CASE WHEN cm >= greatest(1, (n * 990000 + 999999) // 1000000) THEN v END) AS p99_days
            FROM cum GROUP BY g
        ),
        t AS (
            SELECT g, CAST(sum(c) AS BIGINT) AS n, max(v) AS max_days
            FROM counts GROUP BY g
        )
        SELECT t.g AS l_returnflag, t.n, q.p50_days, q.p90_days, q.p99_days, t.max_days
        FROM t JOIN q ON t.g = q.g
    """
    out["correlation_matrix_lineitem"] = """
        WITH m AS (
            SELECT (CASE WHEN s0_l_quantity >= 0 THEN CAST(s0_l_quantity // n AS BIGINT) ELSE -CAST((-s0_l_quantity) // n AS BIGINT) END) AS m_l_quantity, (CASE WHEN s0_l_extendedprice >= 0 THEN CAST(s0_l_extendedprice // n AS BIGINT) ELSE -CAST((-s0_l_extendedprice) // n AS BIGINT) END) AS m_l_extendedprice, (CASE WHEN s0_l_discount >= 0 THEN CAST(s0_l_discount // n AS BIGINT) ELSE -CAST((-s0_l_discount) // n AS BIGINT) END) AS m_l_discount, (CASE WHEN s0_l_tax >= 0 THEN CAST(s0_l_tax // n AS BIGINT) ELSE -CAST((-s0_l_tax) // n AS BIGINT) END) AS m_l_tax
            FROM (SELECT CAST(count(*) AS HUGEINT) AS n,
                   sum(CAST(CAST(floor(l_quantity * 1 + 0.5) AS BIGINT) AS HUGEINT)) AS s0_l_quantity,
                   sum(CAST(CAST(floor(l_extendedprice * 1 + 0.5) AS BIGINT) AS HUGEINT)) AS s0_l_extendedprice,
                   sum(CAST(CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS HUGEINT)) AS s0_l_discount,
                   sum(CAST(CAST(floor(l_tax * 100 + 0.5) AS BIGINT) AS HUGEINT)) AS s0_l_tax FROM lineitem)
        ),
        dev AS (
            SELECT CAST(CAST(floor(l_quantity * 1 + 0.5) AS BIGINT) AS HUGEINT) - m.m_l_quantity AS d_l_quantity,
                   CAST(CAST(floor(l_extendedprice * 1 + 0.5) AS BIGINT) AS HUGEINT) - m.m_l_extendedprice AS d_l_extendedprice,
                   CAST(CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS HUGEINT) - m.m_l_discount AS d_l_discount,
                   CAST(CAST(floor(l_tax * 100 + 0.5) AS BIGINT) AS HUGEINT) - m.m_l_tax AS d_l_tax
            FROM lineitem CROSS JOIN m
        ),
        agg AS (
            SELECT CAST(count(*) AS HUGEINT) AS n,
                   sum(d_l_quantity) AS s_l_quantity,
                   sum(d_l_quantity * d_l_quantity) AS ss_l_quantity,
                   sum(d_l_extendedprice) AS s_l_extendedprice,
                   sum(d_l_extendedprice * d_l_extendedprice) AS ss_l_extendedprice,
                   sum(d_l_discount) AS s_l_discount,
                   sum(d_l_discount * d_l_discount) AS ss_l_discount,
                   sum(d_l_tax) AS s_l_tax,
                   sum(d_l_tax * d_l_tax) AS ss_l_tax,
                   sum(d_l_quantity * d_l_extendedprice) AS sp_l_quantity_l_extendedprice,
                   sum(d_l_quantity * d_l_discount) AS sp_l_quantity_l_discount,
                   sum(d_l_quantity * d_l_tax) AS sp_l_quantity_l_tax,
                   sum(d_l_extendedprice * d_l_discount) AS sp_l_extendedprice_l_discount,
                   sum(d_l_extendedprice * d_l_tax) AS sp_l_extendedprice_l_tax,
                   sum(d_l_discount * d_l_tax) AS sp_l_discount_l_tax
            FROM dev
        )
        SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b, CAST(n AS BIGINT) AS n,
               CASE WHEN (ss_l_quantity - (CASE WHEN (s_l_quantity * s_l_quantity) >= 0 THEN (s_l_quantity * s_l_quantity) // CAST(n AS HUGEINT) ELSE -((-((s_l_quantity * s_l_quantity))) // CAST(n AS HUGEINT)) END)) > 0 AND (ss_l_extendedprice - (CASE WHEN (s_l_extendedprice * s_l_extendedprice) >= 0 THEN (s_l_extendedprice * s_l_extendedprice) // CAST(n AS HUGEINT) ELSE -((-((s_l_extendedprice * s_l_extendedprice))) // CAST(n AS HUGEINT)) END)) > 0 THEN
                   CASE WHEN (sp_l_quantity_l_extendedprice - (CASE WHEN (s_l_quantity * s_l_extendedprice) >= 0 THEN (s_l_quantity * s_l_extendedprice) // CAST(n AS HUGEINT) ELSE -((-((s_l_quantity * s_l_extendedprice))) // CAST(n AS HUGEINT)) END)) >= 0 THEN CAST(((((sp_l_quantity_l_extendedprice - (CASE WHEN (s_l_quantity * s_l_extendedprice) >= 0 THEN (s_l_quantity * s_l_extendedprice) // CAST(n AS HUGEINT) ELSE -((-((s_l_quantity * s_l_extendedprice))) // CAST(n AS HUGEINT)) END))) * ((sp_l_quantity_l_extendedprice - (CASE WHEN (s_l_quantity * s_l_extendedprice) >= 0 THEN (s_l_quantity * s_l_extendedprice) // CAST(n AS HUGEINT) ELSE -((-((s_l_quantity * s_l_extendedprice))) // CAST(n AS HUGEINT)) END)))) // ((ss_l_quantity - (CASE WHEN (s_l_quantity * s_l_quantity) >= 0 THEN (s_l_quantity * s_l_quantity) // CAST(n AS HUGEINT) ELSE -((-((s_l_quantity * s_l_quantity))) // CAST(n AS HUGEINT)) END)))) * 1000000 // ((ss_l_extendedprice - (CASE WHEN (s_l_extendedprice * s_l_extendedprice) >= 0 THEN (s_l_extendedprice * s_l_extendedprice) // CAST(n AS HUGEINT) ELSE -((-((s_l_extendedprice * s_l_extendedprice))) // CAST(n AS HUGEINT)) END))) AS BIGINT) ELSE -CAST(((((sp_l_quantity_l_extendedprice - (CASE WHEN (s_l_quantity * s_l_extendedprice) >= 0 THEN (s_l_quantity * s_l_extendedprice) // CAST(n AS HUGEINT) ELSE -((-((s_l_quantity * s_l_extendedprice))) // CAST(n AS HUGEINT)) END))) * ((sp_l_quantity_l_extendedprice - (CASE WHEN (s_l_quantity * s_l_extendedprice) >= 0 THEN (s_l_quantity * s_l_extendedprice) // CAST(n AS HUGEINT) ELSE -((-((s_l_quantity * s_l_extendedprice))) // CAST(n AS HUGEINT)) END)))) // ((ss_l_quantity - (CASE WHEN (s_l_quantity * s_l_quantity) >= 0 THEN (s_l_quantity * s_l_quantity) // CAST(n AS HUGEINT) ELSE -((-((s_l_quantity * s_l_quantity))) // CAST(n AS HUGEINT)) END)))) * 1000000 // ((ss_l_extendedprice - (CASE WHEN (s_l_extendedprice * s_l_extendedprice) >= 0 THEN (s_l_extendedprice * s_l_extendedprice) // CAST(n AS HUGEINT) ELSE -((-((s_l_extendedprice * s_l_extendedprice))) // CAST(n AS HUGEINT)) END))) AS BIGINT) END
               END AS signed_r2_u
        FROM agg
        UNION ALL SELECT 'l_quantity' AS col_a, 'l_discount' AS col_b, CAST(n AS BIGINT) AS n,
               CASE WHEN (ss_l_quantity - (CASE WHEN (s_l_quantity * s_l_quantity) >= 0 THEN (s_l_quantity * s_l_quantity) // CAST(n AS HUGEINT) ELSE -((-((s_l_quantity * s_l_quantity))) // CAST(n AS HUGEINT)) END)) > 0 AND (ss_l_discount - (CASE WHEN (s_l_discount * s_l_discount) >= 0 THEN (s_l_discount * s_l_discount) // CAST(n AS HUGEINT) ELSE -((-((s_l_discount * s_l_discount))) // CAST(n AS HUGEINT)) END)) > 0 THEN
                   CASE WHEN (sp_l_quantity_l_discount - (CASE WHEN (s_l_quantity * s_l_discount) >= 0 THEN (s_l_quantity * s_l_discount) // CAST(n AS HUGEINT) ELSE -((-((s_l_quantity * s_l_discount))) // CAST(n AS HUGEINT)) END)) >= 0 THEN CAST(((((sp_l_quantity_l_discount - (CASE WHEN (s_l_quantity * s_l_discount) >= 0 THEN (s_l_quantity * s_l_discount) // CAST(n AS HUGEINT) ELSE -((-((s_l_quantity * s_l_discount))) // CAST(n AS HUGEINT)) END))) * ((sp_l_quantity_l_discount - (CASE WHEN (s_l_quantity * s_l_discount) >= 0 THEN (s_l_quantity * s_l_discount) // CAST(n AS HUGEINT) ELSE -((-((s_l_quantity * s_l_discount))) // CAST(n AS HUGEINT)) END)))) // ((ss_l_quantity - (CASE WHEN (s_l_quantity * s_l_quantity) >= 0 THEN (s_l_quantity * s_l_quantity) // CAST(n AS HUGEINT) ELSE -((-((s_l_quantity * s_l_quantity))) // CAST(n AS HUGEINT)) END)))) * 1000000 // ((ss_l_discount - (CASE WHEN (s_l_discount * s_l_discount) >= 0 THEN (s_l_discount * s_l_discount) // CAST(n AS HUGEINT) ELSE -((-((s_l_discount * s_l_discount))) // CAST(n AS HUGEINT)) END))) AS BIGINT) ELSE -CAST(((((sp_l_quantity_l_discount - (CASE WHEN (s_l_quantity * s_l_discount) >= 0 THEN (s_l_quantity * s_l_discount) // CAST(n AS HUGEINT) ELSE -((-((s_l_quantity * s_l_discount))) // CAST(n AS HUGEINT)) END))) * ((sp_l_quantity_l_discount - (CASE WHEN (s_l_quantity * s_l_discount) >= 0 THEN (s_l_quantity * s_l_discount) // CAST(n AS HUGEINT) ELSE -((-((s_l_quantity * s_l_discount))) // CAST(n AS HUGEINT)) END)))) // ((ss_l_quantity - (CASE WHEN (s_l_quantity * s_l_quantity) >= 0 THEN (s_l_quantity * s_l_quantity) // CAST(n AS HUGEINT) ELSE -((-((s_l_quantity * s_l_quantity))) // CAST(n AS HUGEINT)) END)))) * 1000000 // ((ss_l_discount - (CASE WHEN (s_l_discount * s_l_discount) >= 0 THEN (s_l_discount * s_l_discount) // CAST(n AS HUGEINT) ELSE -((-((s_l_discount * s_l_discount))) // CAST(n AS HUGEINT)) END))) AS BIGINT) END
               END AS signed_r2_u
        FROM agg
        UNION ALL SELECT 'l_quantity' AS col_a, 'l_tax' AS col_b, CAST(n AS BIGINT) AS n,
               CASE WHEN (ss_l_quantity - (CASE WHEN (s_l_quantity * s_l_quantity) >= 0 THEN (s_l_quantity * s_l_quantity) // CAST(n AS HUGEINT) ELSE -((-((s_l_quantity * s_l_quantity))) // CAST(n AS HUGEINT)) END)) > 0 AND (ss_l_tax - (CASE WHEN (s_l_tax * s_l_tax) >= 0 THEN (s_l_tax * s_l_tax) // CAST(n AS HUGEINT) ELSE -((-((s_l_tax * s_l_tax))) // CAST(n AS HUGEINT)) END)) > 0 THEN
                   CASE WHEN (sp_l_quantity_l_tax - (CASE WHEN (s_l_quantity * s_l_tax) >= 0 THEN (s_l_quantity * s_l_tax) // CAST(n AS HUGEINT) ELSE -((-((s_l_quantity * s_l_tax))) // CAST(n AS HUGEINT)) END)) >= 0 THEN CAST(((((sp_l_quantity_l_tax - (CASE WHEN (s_l_quantity * s_l_tax) >= 0 THEN (s_l_quantity * s_l_tax) // CAST(n AS HUGEINT) ELSE -((-((s_l_quantity * s_l_tax))) // CAST(n AS HUGEINT)) END))) * ((sp_l_quantity_l_tax - (CASE WHEN (s_l_quantity * s_l_tax) >= 0 THEN (s_l_quantity * s_l_tax) // CAST(n AS HUGEINT) ELSE -((-((s_l_quantity * s_l_tax))) // CAST(n AS HUGEINT)) END)))) // ((ss_l_quantity - (CASE WHEN (s_l_quantity * s_l_quantity) >= 0 THEN (s_l_quantity * s_l_quantity) // CAST(n AS HUGEINT) ELSE -((-((s_l_quantity * s_l_quantity))) // CAST(n AS HUGEINT)) END)))) * 1000000 // ((ss_l_tax - (CASE WHEN (s_l_tax * s_l_tax) >= 0 THEN (s_l_tax * s_l_tax) // CAST(n AS HUGEINT) ELSE -((-((s_l_tax * s_l_tax))) // CAST(n AS HUGEINT)) END))) AS BIGINT) ELSE -CAST(((((sp_l_quantity_l_tax - (CASE WHEN (s_l_quantity * s_l_tax) >= 0 THEN (s_l_quantity * s_l_tax) // CAST(n AS HUGEINT) ELSE -((-((s_l_quantity * s_l_tax))) // CAST(n AS HUGEINT)) END))) * ((sp_l_quantity_l_tax - (CASE WHEN (s_l_quantity * s_l_tax) >= 0 THEN (s_l_quantity * s_l_tax) // CAST(n AS HUGEINT) ELSE -((-((s_l_quantity * s_l_tax))) // CAST(n AS HUGEINT)) END)))) // ((ss_l_quantity - (CASE WHEN (s_l_quantity * s_l_quantity) >= 0 THEN (s_l_quantity * s_l_quantity) // CAST(n AS HUGEINT) ELSE -((-((s_l_quantity * s_l_quantity))) // CAST(n AS HUGEINT)) END)))) * 1000000 // ((ss_l_tax - (CASE WHEN (s_l_tax * s_l_tax) >= 0 THEN (s_l_tax * s_l_tax) // CAST(n AS HUGEINT) ELSE -((-((s_l_tax * s_l_tax))) // CAST(n AS HUGEINT)) END))) AS BIGINT) END
               END AS signed_r2_u
        FROM agg
        UNION ALL SELECT 'l_extendedprice' AS col_a, 'l_discount' AS col_b, CAST(n AS BIGINT) AS n,
               CASE WHEN (ss_l_extendedprice - (CASE WHEN (s_l_extendedprice * s_l_extendedprice) >= 0 THEN (s_l_extendedprice * s_l_extendedprice) // CAST(n AS HUGEINT) ELSE -((-((s_l_extendedprice * s_l_extendedprice))) // CAST(n AS HUGEINT)) END)) > 0 AND (ss_l_discount - (CASE WHEN (s_l_discount * s_l_discount) >= 0 THEN (s_l_discount * s_l_discount) // CAST(n AS HUGEINT) ELSE -((-((s_l_discount * s_l_discount))) // CAST(n AS HUGEINT)) END)) > 0 THEN
                   CASE WHEN (sp_l_extendedprice_l_discount - (CASE WHEN (s_l_extendedprice * s_l_discount) >= 0 THEN (s_l_extendedprice * s_l_discount) // CAST(n AS HUGEINT) ELSE -((-((s_l_extendedprice * s_l_discount))) // CAST(n AS HUGEINT)) END)) >= 0 THEN CAST(((((sp_l_extendedprice_l_discount - (CASE WHEN (s_l_extendedprice * s_l_discount) >= 0 THEN (s_l_extendedprice * s_l_discount) // CAST(n AS HUGEINT) ELSE -((-((s_l_extendedprice * s_l_discount))) // CAST(n AS HUGEINT)) END))) * ((sp_l_extendedprice_l_discount - (CASE WHEN (s_l_extendedprice * s_l_discount) >= 0 THEN (s_l_extendedprice * s_l_discount) // CAST(n AS HUGEINT) ELSE -((-((s_l_extendedprice * s_l_discount))) // CAST(n AS HUGEINT)) END)))) // ((ss_l_extendedprice - (CASE WHEN (s_l_extendedprice * s_l_extendedprice) >= 0 THEN (s_l_extendedprice * s_l_extendedprice) // CAST(n AS HUGEINT) ELSE -((-((s_l_extendedprice * s_l_extendedprice))) // CAST(n AS HUGEINT)) END)))) * 1000000 // ((ss_l_discount - (CASE WHEN (s_l_discount * s_l_discount) >= 0 THEN (s_l_discount * s_l_discount) // CAST(n AS HUGEINT) ELSE -((-((s_l_discount * s_l_discount))) // CAST(n AS HUGEINT)) END))) AS BIGINT) ELSE -CAST(((((sp_l_extendedprice_l_discount - (CASE WHEN (s_l_extendedprice * s_l_discount) >= 0 THEN (s_l_extendedprice * s_l_discount) // CAST(n AS HUGEINT) ELSE -((-((s_l_extendedprice * s_l_discount))) // CAST(n AS HUGEINT)) END))) * ((sp_l_extendedprice_l_discount - (CASE WHEN (s_l_extendedprice * s_l_discount) >= 0 THEN (s_l_extendedprice * s_l_discount) // CAST(n AS HUGEINT) ELSE -((-((s_l_extendedprice * s_l_discount))) // CAST(n AS HUGEINT)) END)))) // ((ss_l_extendedprice - (CASE WHEN (s_l_extendedprice * s_l_extendedprice) >= 0 THEN (s_l_extendedprice * s_l_extendedprice) // CAST(n AS HUGEINT) ELSE -((-((s_l_extendedprice * s_l_extendedprice))) // CAST(n AS HUGEINT)) END)))) * 1000000 // ((ss_l_discount - (CASE WHEN (s_l_discount * s_l_discount) >= 0 THEN (s_l_discount * s_l_discount) // CAST(n AS HUGEINT) ELSE -((-((s_l_discount * s_l_discount))) // CAST(n AS HUGEINT)) END))) AS BIGINT) END
               END AS signed_r2_u
        FROM agg
        UNION ALL SELECT 'l_extendedprice' AS col_a, 'l_tax' AS col_b, CAST(n AS BIGINT) AS n,
               CASE WHEN (ss_l_extendedprice - (CASE WHEN (s_l_extendedprice * s_l_extendedprice) >= 0 THEN (s_l_extendedprice * s_l_extendedprice) // CAST(n AS HUGEINT) ELSE -((-((s_l_extendedprice * s_l_extendedprice))) // CAST(n AS HUGEINT)) END)) > 0 AND (ss_l_tax - (CASE WHEN (s_l_tax * s_l_tax) >= 0 THEN (s_l_tax * s_l_tax) // CAST(n AS HUGEINT) ELSE -((-((s_l_tax * s_l_tax))) // CAST(n AS HUGEINT)) END)) > 0 THEN
                   CASE WHEN (sp_l_extendedprice_l_tax - (CASE WHEN (s_l_extendedprice * s_l_tax) >= 0 THEN (s_l_extendedprice * s_l_tax) // CAST(n AS HUGEINT) ELSE -((-((s_l_extendedprice * s_l_tax))) // CAST(n AS HUGEINT)) END)) >= 0 THEN CAST(((((sp_l_extendedprice_l_tax - (CASE WHEN (s_l_extendedprice * s_l_tax) >= 0 THEN (s_l_extendedprice * s_l_tax) // CAST(n AS HUGEINT) ELSE -((-((s_l_extendedprice * s_l_tax))) // CAST(n AS HUGEINT)) END))) * ((sp_l_extendedprice_l_tax - (CASE WHEN (s_l_extendedprice * s_l_tax) >= 0 THEN (s_l_extendedprice * s_l_tax) // CAST(n AS HUGEINT) ELSE -((-((s_l_extendedprice * s_l_tax))) // CAST(n AS HUGEINT)) END)))) // ((ss_l_extendedprice - (CASE WHEN (s_l_extendedprice * s_l_extendedprice) >= 0 THEN (s_l_extendedprice * s_l_extendedprice) // CAST(n AS HUGEINT) ELSE -((-((s_l_extendedprice * s_l_extendedprice))) // CAST(n AS HUGEINT)) END)))) * 1000000 // ((ss_l_tax - (CASE WHEN (s_l_tax * s_l_tax) >= 0 THEN (s_l_tax * s_l_tax) // CAST(n AS HUGEINT) ELSE -((-((s_l_tax * s_l_tax))) // CAST(n AS HUGEINT)) END))) AS BIGINT) ELSE -CAST(((((sp_l_extendedprice_l_tax - (CASE WHEN (s_l_extendedprice * s_l_tax) >= 0 THEN (s_l_extendedprice * s_l_tax) // CAST(n AS HUGEINT) ELSE -((-((s_l_extendedprice * s_l_tax))) // CAST(n AS HUGEINT)) END))) * ((sp_l_extendedprice_l_tax - (CASE WHEN (s_l_extendedprice * s_l_tax) >= 0 THEN (s_l_extendedprice * s_l_tax) // CAST(n AS HUGEINT) ELSE -((-((s_l_extendedprice * s_l_tax))) // CAST(n AS HUGEINT)) END)))) // ((ss_l_extendedprice - (CASE WHEN (s_l_extendedprice * s_l_extendedprice) >= 0 THEN (s_l_extendedprice * s_l_extendedprice) // CAST(n AS HUGEINT) ELSE -((-((s_l_extendedprice * s_l_extendedprice))) // CAST(n AS HUGEINT)) END)))) * 1000000 // ((ss_l_tax - (CASE WHEN (s_l_tax * s_l_tax) >= 0 THEN (s_l_tax * s_l_tax) // CAST(n AS HUGEINT) ELSE -((-((s_l_tax * s_l_tax))) // CAST(n AS HUGEINT)) END))) AS BIGINT) END
               END AS signed_r2_u
        FROM agg
        UNION ALL SELECT 'l_discount' AS col_a, 'l_tax' AS col_b, CAST(n AS BIGINT) AS n,
               CASE WHEN (ss_l_discount - (CASE WHEN (s_l_discount * s_l_discount) >= 0 THEN (s_l_discount * s_l_discount) // CAST(n AS HUGEINT) ELSE -((-((s_l_discount * s_l_discount))) // CAST(n AS HUGEINT)) END)) > 0 AND (ss_l_tax - (CASE WHEN (s_l_tax * s_l_tax) >= 0 THEN (s_l_tax * s_l_tax) // CAST(n AS HUGEINT) ELSE -((-((s_l_tax * s_l_tax))) // CAST(n AS HUGEINT)) END)) > 0 THEN
                   CASE WHEN (sp_l_discount_l_tax - (CASE WHEN (s_l_discount * s_l_tax) >= 0 THEN (s_l_discount * s_l_tax) // CAST(n AS HUGEINT) ELSE -((-((s_l_discount * s_l_tax))) // CAST(n AS HUGEINT)) END)) >= 0 THEN CAST(((((sp_l_discount_l_tax - (CASE WHEN (s_l_discount * s_l_tax) >= 0 THEN (s_l_discount * s_l_tax) // CAST(n AS HUGEINT) ELSE -((-((s_l_discount * s_l_tax))) // CAST(n AS HUGEINT)) END))) * ((sp_l_discount_l_tax - (CASE WHEN (s_l_discount * s_l_tax) >= 0 THEN (s_l_discount * s_l_tax) // CAST(n AS HUGEINT) ELSE -((-((s_l_discount * s_l_tax))) // CAST(n AS HUGEINT)) END)))) // ((ss_l_discount - (CASE WHEN (s_l_discount * s_l_discount) >= 0 THEN (s_l_discount * s_l_discount) // CAST(n AS HUGEINT) ELSE -((-((s_l_discount * s_l_discount))) // CAST(n AS HUGEINT)) END)))) * 1000000 // ((ss_l_tax - (CASE WHEN (s_l_tax * s_l_tax) >= 0 THEN (s_l_tax * s_l_tax) // CAST(n AS HUGEINT) ELSE -((-((s_l_tax * s_l_tax))) // CAST(n AS HUGEINT)) END))) AS BIGINT) ELSE -CAST(((((sp_l_discount_l_tax - (CASE WHEN (s_l_discount * s_l_tax) >= 0 THEN (s_l_discount * s_l_tax) // CAST(n AS HUGEINT) ELSE -((-((s_l_discount * s_l_tax))) // CAST(n AS HUGEINT)) END))) * ((sp_l_discount_l_tax - (CASE WHEN (s_l_discount * s_l_tax) >= 0 THEN (s_l_discount * s_l_tax) // CAST(n AS HUGEINT) ELSE -((-((s_l_discount * s_l_tax))) // CAST(n AS HUGEINT)) END)))) // ((ss_l_discount - (CASE WHEN (s_l_discount * s_l_discount) >= 0 THEN (s_l_discount * s_l_discount) // CAST(n AS HUGEINT) ELSE -((-((s_l_discount * s_l_discount))) // CAST(n AS HUGEINT)) END)))) * 1000000 // ((ss_l_tax - (CASE WHEN (s_l_tax * s_l_tax) >= 0 THEN (s_l_tax * s_l_tax) // CAST(n AS HUGEINT) ELSE -((-((s_l_tax * s_l_tax))) // CAST(n AS HUGEINT)) END))) AS BIGINT) END
               END AS signed_r2_u
        FROM agg
    """
    out["value_trend_by_type_events"] = """
        WITH d0 AS (SELECT min(CAST(ts AS DATE)) AS d0 FROM events),
        base AS (
            SELECT event_type AS g,
                   CAST(date_diff('day', d0.d0, CAST(ts AS DATE)) AS BIGINT) AS x,
                   CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS y
            FROM events CROSS JOIN d0
        ),
        agg AS (
            SELECT g, CAST(count(*) AS BIGINT) AS n,
                   sum(CAST(x AS HUGEINT)) AS sx,
                   sum(CAST(y AS HUGEINT)) AS sy,
                   sum(CAST(x AS HUGEINT) * x) AS sxx,
                   sum(CAST(y AS HUGEINT) * y) AS syy,
                   sum(CAST(x AS HUGEINT) * y) AS sxy
            FROM base GROUP BY g
        )
        SELECT g AS event_type, n,
               CASE WHEN (n * sxx - sx * sx) > 0 THEN
                   CASE WHEN (n * sxy - sx * sy) >= 0
                        THEN CAST((n * sxy - sx * sy) // (n * sxx - sx * sx) AS BIGINT)
                        ELSE -CAST((-(n * sxy - sx * sy)) // (n * sxx - sx * sx) AS BIGINT) END
               END AS slope_u_per_day,
               CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0 THEN
                   CAST((n * sxy - sx * sy) * (n * sxy - sx * sy) * 1000000
                        // ((n * sxx - sx * sx) * (n * syy - sy * sy)) AS BIGINT)
               END AS r2_u
        FROM agg
    """
    out["late_arrival_audit_events"] = """
        WITH en AS (
            SELECT event_type,
                   CASE WHEN max(ts) OVER (PARTITION BY user_id ORDER BY event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) > ts
                        THEN CAST(date_diff('microsecond', ts,
                             max(ts) OVER (PARTITION BY user_id ORDER BY event_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)) AS BIGINT)
                   END AS late_us
            FROM events
        )
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN late_us IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_out_of_order,
               CAST(sum(CASE WHEN late_us IS NOT NULL THEN 1 ELSE 0 END) * 1000000
                    // count(*) AS BIGINT) AS ooo_frac_u,
               max(late_us // 1000000) AS max_lateness_s
        FROM en GROUP BY event_type
    """
    import math as _math

    _benford_case = "CASE digit " + " ".join(
        f"WHEN '{d}' THEN {_math.floor(_math.log10(1 + 1 / d) * 1_000_000 + 0.5)}"
        for d in range(1, 10)
    ) + " END"
    out["benford_first_digit_orders"] = f"""
        WITH c AS (
            SELECT substring(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS digit,
                   CAST(count(*) AS BIGINT) AS n
            FROM orders GROUP BY 1
        ),
        en AS (SELECT *, sum(n) OVER () AS tot FROM c)
        SELECT digit, n,
               CAST(n * 1000000 // tot AS BIGINT) AS observed_u,
               CAST({_benford_case} AS BIGINT) AS benford_u,
               abs(CAST(n * 1000000 // tot AS BIGINT)
                   - CAST({_benford_case} AS BIGINT)) AS abs_dev_u
        FROM en
    """
    out["supplier_hhi_parts"] = """
        WITH per AS (
            SELECT l_partkey, l_suppkey,
                   CAST(sum(CAST(floor(l_quantity + 0.5) AS BIGINT)) AS BIGINT) AS q
            FROM lineitem GROUP BY l_partkey, l_suppkey
        )
        SELECT l_partkey,
               CAST(count(*) AS BIGINT) AS n_suppliers,
               CAST(sum(CAST(q AS HUGEINT)) AS BIGINT) AS total_qty,
               CASE WHEN sum(CAST(q AS HUGEINT)) > 0 THEN
                   CAST(sum(CAST(q AS HUGEINT) * q) * 1000000
                        // (sum(CAST(q AS HUGEINT)) * sum(CAST(q AS HUGEINT))) AS BIGINT)
               END AS hhi_u
        FROM per GROUP BY l_partkey
    """
    out["revenue_share_hierarchy"] = """
        WITH rev AS (
            SELECT r.r_name, n.n_name,
                   CAST(sum(CAST(floor(o.o_totalprice * 1000000 + 0.5) AS HUGEINT)) AS BIGINT) AS revenue_u
            FROM orders o
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            JOIN region r ON n.n_regionkey = r.r_regionkey
            GROUP BY r.r_name, n.n_name
        ),
        en AS (
            SELECT *,
                   sum(CAST(revenue_u AS HUGEINT)) OVER (PARTITION BY r_name) AS rsum,
                   sum(CAST(revenue_u AS HUGEINT)) OVER () AS tsum
            FROM rev
        )
        SELECT r_name, n_name, revenue_u,
               CAST(CAST(revenue_u AS HUGEINT) * 1000000 // rsum AS BIGINT) AS share_of_region_u,
               CAST(rsum * 1000000 // tsum AS BIGINT) AS region_share_of_total_u
        FROM en
    """
    out["impute_group_median_events"] = """
        WITH vals AS (
            SELECT event_type AS g,
                   CASE WHEN event_id % 7 <> 0
                        THEN CAST(floor(value * 1000 + 0.5) AS BIGINT) END AS v
            FROM events
        ),
        counts AS (
            SELECT g, v, CAST(count(*) AS BIGINT) AS c
            FROM vals WHERE v IS NOT NULL GROUP BY g, v
        ),
        cum AS (
            SELECT g, v, c,
                   sum(c) OVER (PARTITION BY g ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm,
                   sum(c) OVER (PARTITION BY g) AS n
            FROM counts
        ),
        med AS (
            SELECT g, min(CASE WHEN cm >= (n + 1) // 2 THEN v END) AS fill_value_m
            FROM cum GROUP BY g
        ),
        stats AS (
            SELECT g, CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_missing
            FROM vals GROUP BY g
        )
        SELECT s.g AS event_type, s.n, s.n_missing, med.fill_value_m,
               CAST(s.n_missing * 1000000 // s.n AS BIGINT) AS missing_frac_u
        FROM stats s LEFT JOIN med ON s.g = med.g
    """
    out["source_quality_scorecard"] = f"""
        WITH q AS ({out['doc_quality_scores']}),
        enr AS (
            SELECT d.doc_id, d.source,
                   len(list_filter(string_split_regex(lower(d.text), '\\s+'),
                                   x -> x <> '')) AS ntok,
                   CAST(floor(q.quality * 1000000 + 0.5) AS BIGINT) AS q_u,
                   CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS en,
                   md5(d.text) AS fp
            FROM documents d JOIN q ON q.doc_id = d.doc_id
        ),
        dups AS (
            SELECT fp FROM enr GROUP BY fp HAVING count(*) > 1
        ),
        fl AS (
            SELECT enr.*, CASE WHEN dups.fp IS NOT NULL THEN 1 ELSE 0 END AS isdup
            FROM enr LEFT JOIN dups ON enr.fp = dups.fp
        )
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(ntok) * 1000000 // count(*) AS BIGINT) AS mean_tokens_u,
               CAST(sum(CAST(q_u AS HUGEINT)) // CAST(count(*) AS HUGEINT) AS BIGINT) AS mean_quality_u,
               CAST(sum(en) * 1000000 // count(*) AS BIGINT) AS en_frac_u,
               CAST(sum(isdup) * 1000000 // count(*) AS BIGINT) AS dup_frac_u
        FROM fl GROUP BY source
    """
    _ann_methods = [
        ("ivf", "ivf_cosine_topk_embeddings"),
        ("ivfpq", "ivfpq_topk_embeddings"),
        ("lsh", "lsh_cosine_topk_embeddings"),
        ("pq_adc", "pq_adc_topk_embeddings"),
        ("sq8", "sq8_topk_embeddings"),
    ]
    _ann_ctes = ",\n        ".join(
        f"""m_{m} AS MATERIALIZED (
            SELECT query_id, vec_id FROM ({out[q]})
        ),
        h_{m} AS MATERIALIZED (
            SELECT CAST(count(*) AS BIGINT) AS n_hits
            FROM m_{m} JOIN ex USING (query_id, vec_id)
        )"""
        for m, q in _ann_methods
    )
    _ann_parts = "\n        UNION ALL ".join(
        f"""SELECT '{m}' AS method, ne.n_exact, h_{m}.n_hits,
               CAST(h_{m}.n_hits * 1000000 // ne.n_exact AS BIGINT) AS recall_u
        FROM h_{m} CROSS JOIN ne"""
        for m, _ in _ann_methods
    )
    out["ann_recall_audit_embeddings"] = f"""
        WITH ex AS MATERIALIZED (
            SELECT query_id, vec_id FROM ({out['cosine_topk_embeddings']})
        ),
        ne AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n_exact FROM ex),
        {_ann_ctes}
        {_ann_parts}
    """
    out["events_pivot_type_by_dow"] = """
        SELECT CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) % 7 AS INT) AS dow,
               CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
               CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
               CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
               CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view
        FROM events GROUP BY 1
    """
    out["revenue_wow_orders"] = """
        WITH wk AS (
            SELECT CAST(date_diff('day', DATE '1970-01-01', o_orderdate) // 7 AS BIGINT) AS week,
                   CAST(sum(CAST(floor(o_totalprice * 1000000 + 0.5) AS HUGEINT)) AS BIGINT) AS revenue_u,
                   CAST(count(*) AS BIGINT) AS n_orders
            FROM orders GROUP BY 1
        ),
        en AS (
            SELECT week, n_orders, revenue_u,
                   lag(revenue_u) OVER (ORDER BY week) AS prev
            FROM wk
        )
        SELECT week, n_orders, revenue_u,
               revenue_u - prev AS delta_u,
               CASE WHEN prev > 0 THEN
                   CASE WHEN revenue_u - prev >= 0
                        THEN CAST((revenue_u - prev) * 1000000 // prev AS BIGINT)
                        ELSE -CAST((prev - revenue_u) * 1000000 // prev AS BIGINT) END
               END AS growth_u
        FROM en
    """
    out["seasonal_decompose_events"] = f"""
        WITH ser0 AS (
            SELECT time_bucket(INTERVAL 1 HOUR, ts) AS bucket,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CAST(floor(value * 1000 + 0.5) AS BIGINT)) AS HUGEINT) AS s
            FROM events GROUP BY 1
        ),
        ser AS (
            SELECT bucket,
                   CASE WHEN s >= 0 THEN CAST(s // CAST(n AS HUGEINT) AS BIGINT)
                        ELSE -CAST((-s) // CAST(n AS HUGEINT) AS BIGINT) END AS y_m,
                   CAST(row_number() OVER (ORDER BY bucket) AS BIGINT) AS t
            FROM ser0
        ),
        win AS (
            SELECT bucket, t, y_m,
                   sum(CAST(y_m AS HUGEINT)) OVER (ORDER BY t
                       ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING) AS ws,
                   count(*) OVER (ORDER BY t
                       ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING) AS wc,
                   lag(y_m, 12) OVER (ORDER BY t) AS ylo,
                   lead(y_m, 12) OVER (ORDER BY t) AS yhi
            FROM ser
        ),
        based AS (
            SELECT bucket, t, y_m,
                   CASE WHEN wc = 25 THEN
                       CASE WHEN (ws * 2 - ylo - yhi) >= 0
                            THEN CAST((ws * 2 - ylo - yhi) // 48 AS BIGINT)
                            ELSE -CAST((-(ws * 2 - ylo - yhi)) // 48 AS BIGINT) END
                   END AS trend_m,
                   (t - 1) % 24 AS phase
            FROM win
        ),
        ph AS (
            SELECT phase,
                   CASE WHEN sum(CAST(y_m - trend_m AS HUGEINT)) >= 0
                        THEN CAST(sum(CAST(y_m - trend_m AS HUGEINT))
                                  // CAST(count(*) AS HUGEINT) AS BIGINT)
                        ELSE -CAST((-sum(CAST(y_m - trend_m AS HUGEINT)))
                                  // CAST(count(*) AS HUGEINT) AS BIGINT) END AS s_raw
            FROM based WHERE trend_m IS NOT NULL GROUP BY phase
        ),
        ctr AS (
            SELECT CASE WHEN sum(CAST(s_raw AS HUGEINT)) >= 0
                        THEN CAST(sum(CAST(s_raw AS HUGEINT))
                                  // CAST(count(*) AS HUGEINT) AS BIGINT)
                        ELSE -CAST((-sum(CAST(s_raw AS HUGEINT)))
                                  // CAST(count(*) AS HUGEINT) AS BIGINT) END AS adj
            FROM ph
        ),
        seas AS (
            SELECT phase, s_raw - ctr.adj AS seasonal_m FROM ph CROSS JOIN ctr
        )
        SELECT b.bucket, CAST(b.t AS INT) AS t, b.y_m, b.trend_m,
               seas.seasonal_m,
               CASE WHEN b.trend_m IS NOT NULL
                    THEN b.y_m - b.trend_m - seas.seasonal_m END AS residual_m
        FROM based b LEFT JOIN seas ON b.phase = seas.phase
    """
    out["journey_trigrams_events"] = """
        WITH p AS (
            SELECT user_id,
                   event_type AS a,
                   lead(event_type, 1) OVER w AS b,
                   lead(event_type, 2) OVER w AS c
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        paths AS (
            SELECT user_id, concat_ws('>', a, b, c) AS path
            FROM p WHERE c IS NOT NULL
        ),
        counts AS (
            SELECT path,
                   CAST(count(*) AS BIGINT) AS n_occurrences,
                   CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
            FROM paths GROUP BY path
        )
        SELECT path, n_users, n_occurrences, CAST(rank AS INT) AS rank
        FROM (
            SELECT *, row_number() OVER (ORDER BY n_occurrences DESC,
                                         n_users DESC, path) AS rank
            FROM counts
        ) WHERE rank <= 20
    """
    out["link_graph_reciprocity"] = """
        WITH nn AS (SELECT count(*) AS n FROM documents),
        links AS (
            SELECT DISTINCT doc_id AS src,
                CAST(CONCAT('0x', substring(md5(CAST(doc_id AS VARCHAR)
                    || '#' || CAST(t.j AS VARCHAR)), 1, 15)) AS BIGINT)
                % (SELECT n FROM nn) AS dst
            FROM documents CROSS JOIN (VALUES (1),(2),(3)) t(j)
        ), edges AS (SELECT src, dst FROM links WHERE src <> dst),
        e AS (SELECT DISTINCT src, dst FROM edges),
        r AS (
            SELECT count(*) AS n_reciprocal FROM e
            WHERE EXISTS (SELECT 1 FROM e e2 WHERE e2.src = e.dst AND e2.dst = e.src)
        ),
        t AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM e)
        SELECT t.n_edges, CAST(r.n_reciprocal AS BIGINT) AS n_reciprocal,
               CASE WHEN t.n_edges > 0 THEN
                   CAST(r.n_reciprocal * 1000000 // t.n_edges AS BIGINT) END AS reciprocity_u
        FROM t CROSS JOIN r
    """
    out["link_graph_kcore"] = """
        WITH nn AS (SELECT count(*) AS n FROM documents),
        links AS (
            SELECT DISTINCT doc_id AS src,
                CAST(CONCAT('0x', substring(md5(CAST(doc_id AS VARCHAR)
                    || '#' || CAST(t.j AS VARCHAR)), 1, 15)) AS BIGINT)
                % (SELECT n FROM nn) AS dst
            FROM documents CROSS JOIN (VALUES (1),(2),(3)) t(j)
        ), edges AS (SELECT src, dst FROM links WHERE src <> dst),
        sym AS MATERIALIZED (
            SELECT DISTINCT src, dst FROM (
                SELECT src, dst FROM edges
                UNION ALL
                SELECT dst AS src, src AS dst FROM edges
            ) WHERE src <> dst
        ),
        a0 AS MATERIALIZED (SELECT DISTINCT src AS id FROM sym),
        a1 AS MATERIALIZED (
            SELECT d.id FROM (
                SELECT e.src AS id, count(*) AS d
                FROM sym e
                JOIN a0 x ON e.dst = x.id
                JOIN a0 y ON e.src = y.id
                GROUP BY e.src
            ) d WHERE d.d >= 4
        ),a2 AS MATERIALIZED (
            SELECT d.id FROM (
                SELECT e.src AS id, count(*) AS d
                FROM sym e
                JOIN a1 x ON e.dst = x.id
                JOIN a1 y ON e.src = y.id
                GROUP BY e.src
            ) d WHERE d.d >= 4
        ),a3 AS MATERIALIZED (
            SELECT d.id FROM (
                SELECT e.src AS id, count(*) AS d
                FROM sym e
                JOIN a2 x ON e.dst = x.id
                JOIN a2 y ON e.src = y.id
                GROUP BY e.src
            ) d WHERE d.d >= 4
        ),a4 AS MATERIALIZED (
            SELECT d.id FROM (
                SELECT e.src AS id, count(*) AS d
                FROM sym e
                JOIN a3 x ON e.dst = x.id
                JOIN a3 y ON e.src = y.id
                GROUP BY e.src
            ) d WHERE d.d >= 4
        ),a5 AS MATERIALIZED (
            SELECT d.id FROM (
                SELECT e.src AS id, count(*) AS d
                FROM sym e
                JOIN a4 x ON e.dst = x.id
                JOIN a4 y ON e.src = y.id
                GROUP BY e.src
            ) d WHERE d.d >= 4
        ),a6 AS MATERIALIZED (
            SELECT d.id FROM (
                SELECT e.src AS id, count(*) AS d
                FROM sym e
                JOIN a5 x ON e.dst = x.id
                JOIN a5 y ON e.src = y.id
                GROUP BY e.src
            ) d WHERE d.d >= 4
        )
        SELECT e.src AS id, CAST(count(*) AS BIGINT) AS core_degree
        FROM sym e
        JOIN a6 x ON e.dst = x.id
        JOIN a6 y ON e.src = y.id
        GROUP BY e.src
    """
    out["funnel_latency_events"] = """
        WITH
        s1 AS (
            SELECT user_id, min(ts) AS t
            FROM events WHERE event_type = 'signup' GROUP BY user_id
        ),
        s2 AS (
            SELECT e.user_id, min(e.ts) AS t
            FROM events e JOIN s1 ON e.user_id = s1.user_id
            WHERE e.event_type = 'click' AND e.ts > s1.t
            GROUP BY e.user_id
        ),
        s3 AS (
            SELECT e.user_id, min(e.ts) AS t
            FROM events e JOIN s2 ON e.user_id = s2.user_id
            WHERE e.event_type = 'purchase' AND e.ts > s2.t
            GROUP BY e.user_id
        ),
        hops AS (
            SELECT 2 AS step,
                   CAST(date_diff('microsecond', s1.t, s2.t) AS BIGINT) // 1000000 AS d
            FROM s2 JOIN s1 ON s2.user_id = s1.user_id
            UNION ALL
            SELECT 3,
                   CAST(date_diff('microsecond', s2.t, s3.t) AS BIGINT) // 1000000
            FROM s3 JOIN s2 ON s3.user_id = s2.user_id
        ),
        counts AS (
            SELECT step, d AS v, CAST(count(*) AS BIGINT) AS c
            FROM hops GROUP BY step, d
        ),
        cum AS (
            SELECT step, v, c,
                   sum(c) OVER (PARTITION BY step ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm,
                   sum(c) OVER (PARTITION BY step) AS n
            FROM counts
        ),
        p50 AS (
            SELECT step, min(CASE WHEN cm >= greatest(1, (n * 500000 + 999999) // 1000000)
                             THEN v END) AS p50_s
            FROM cum GROUP BY step
        ),
        p90 AS (
            SELECT step, min(CASE WHEN cm >= greatest(1, (n * 900000 + 999999) // 1000000)
                             THEN v END) AS p90_s
            FROM cum GROUP BY step
        ),
        tops AS (
            SELECT step, CAST(sum(c) AS BIGINT) AS n_converted, max(v) AS max_s
            FROM counts GROUP BY step
        )
        SELECT t.step,
               CASE t.step WHEN 2 THEN 'signup' ELSE 'click' END AS from_name,
               CASE t.step WHEN 2 THEN 'click' ELSE 'purchase' END AS to_name,
               t.n_converted, p50.p50_s, p90.p90_s, t.max_s
        FROM tops t JOIN p50 ON t.step = p50.step JOIN p90 ON t.step = p90.step
    """
    out["rfm_segments_customers"] = """
        WITH per0 AS (
            SELECT o_custkey,
                   max(o_orderdate) AS last_d,
                   CAST(count(*) AS BIGINT) AS frequency,
                   CAST(sum(CAST(floor(o_totalprice * 1000000 + 0.5) AS HUGEINT)) AS BIGINT) AS monetary_u
            FROM orders GROUP BY o_custkey
        ),
        g AS (SELECT max(o_orderdate) AS gmax FROM orders),
        per AS (
            SELECT o_custkey,
                   CAST(date_diff('day', last_d, g.gmax) AS BIGINT) AS recency_days,
                   frequency, monetary_u
            FROM per0 CROSS JOIN g
        ),
        rt AS (
            SELECT min(CASE WHEN cum * 3 >= n THEN v END) AS t1,
                   min(CASE WHEN cum * 3 >= n * 2 THEN v END) AS t2
            FROM (
                SELECT v, sum(c) OVER (ORDER BY v
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                       sum(c) OVER () AS n
                FROM (SELECT recency_days AS v, CAST(count(*) AS BIGINT) AS c
                      FROM per GROUP BY 1)
            )
        ),
        ft AS (
            SELECT min(CASE WHEN cum * 3 >= n THEN v END) AS t1,
                   min(CASE WHEN cum * 3 >= n * 2 THEN v END) AS t2
            FROM (
                SELECT v, sum(c) OVER (ORDER BY v
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                       sum(c) OVER () AS n
                FROM (SELECT frequency AS v, CAST(count(*) AS BIGINT) AS c
                      FROM per GROUP BY 1)
            )
        ),
        mt AS (
            SELECT min(CASE WHEN cum * 3 >= n THEN v END) AS t1,
                   min(CASE WHEN cum * 3 >= n * 2 THEN v END) AS t2
            FROM (
                SELECT v, sum(c) OVER (ORDER BY v
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                       sum(c) OVER () AS n
                FROM (SELECT monetary_u AS v, CAST(count(*) AS BIGINT) AS c
                      FROM per GROUP BY 1)
            )
        ),
        scored AS (
            SELECT per.o_custkey, per.recency_days, per.frequency, per.monetary_u,
                   CAST(CASE WHEN per.recency_days <= rt.t1 THEN 3
                             WHEN per.recency_days <= rt.t2 THEN 2
                             ELSE 1 END AS INT) AS r_score,
                   CAST(CASE WHEN per.frequency <= ft.t1 THEN 1
                             WHEN per.frequency <= ft.t2 THEN 2
                             ELSE 3 END AS INT) AS f_score,
                   CAST(CASE WHEN per.monetary_u <= mt.t1 THEN 1
                             WHEN per.monetary_u <= mt.t2 THEN 2
                             ELSE 3 END AS INT) AS m_score
            FROM per CROSS JOIN rt CROSS JOIN ft CROSS JOIN mt
        )
        SELECT *, concat(r_score, f_score, m_score) AS segment FROM scored
    """
    out["winsorize_audit_events"] = """
        WITH vals AS (
            SELECT event_type AS g,
                   CAST(floor(value * 1000 + 0.5) AS BIGINT) AS v
            FROM events
        ),
        counts AS (SELECT g, v, CAST(count(*) AS BIGINT) AS c FROM vals GROUP BY g, v),
        cum AS (
            SELECT g, v, c,
                   sum(c) OVER (PARTITION BY g ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cm,
                   sum(c) OVER (PARTITION BY g) AS n
            FROM counts
        ),
        lo AS (
            SELECT g, min(CASE WHEN cm >= greatest(1, (n * 10000 + 999999) // 1000000)
                          THEN v END) AS p_lo_m
            FROM cum GROUP BY g
        ),
        hi AS (
            SELECT g, min(CASE WHEN cm >= greatest(1, (n * 990000 + 999999) // 1000000)
                          THEN v END) AS p_hi_m
            FROM cum GROUP BY g
        )
        SELECT c.g AS event_type,
               CAST(sum(c.c) AS BIGINT) AS n,
               lo.p_lo_m, hi.p_hi_m,
               CAST(sum(CASE WHEN c.v < lo.p_lo_m THEN c.c ELSE 0 END) AS BIGINT) AS n_clipped_lo,
               CAST(sum(CASE WHEN c.v > hi.p_hi_m THEN c.c ELSE 0 END) AS BIGINT) AS n_clipped_hi,
               CAST((sum(CASE WHEN c.v < lo.p_lo_m THEN c.c ELSE 0 END)
                     + sum(CASE WHEN c.v > hi.p_hi_m THEN c.c ELSE 0 END)) * 1000000
                    // sum(c.c) AS BIGINT) AS clipped_frac_u
        FROM counts c JOIN lo ON c.g = lo.g JOIN hi ON c.g = hi.g
        GROUP BY c.g, lo.p_lo_m, hi.p_hi_m
    """
    out["chi2_type_by_dow_events"] = """
        WITH e AS (
            SELECT event_type AS r,
                   CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) % 7 AS INT) AS c
            FROM events
        ),
        cells AS (SELECT r, c, CAST(count(*) AS BIGINT) AS o FROM e GROUP BY r, c),
        rt AS (SELECT r, CAST(sum(o) AS BIGINT) AS rt FROM cells GROUP BY r),
        ct AS (SELECT c, CAST(sum(o) AS BIGINT) AS ct FROM cells GROUP BY c),
        tot AS (
            SELECT CAST(sum(o) AS BIGINT) AS n,
                   CAST(count(DISTINCT r) AS BIGINT) AS n_rows,
                   CAST(count(DISTINCT c) AS BIGINT) AS n_cols
            FROM cells
        ),
        fl AS (
            SELECT CAST(coalesce(cells.o, 0) AS HUGEINT) AS o,
                   CAST(rt.rt AS HUGEINT) AS rt,
                   CAST(ct.ct AS HUGEINT) AS ct,
                   CAST(tot.n AS HUGEINT) AS nn,
                   tot.n, tot.n_rows, tot.n_cols
            FROM rt CROSS JOIN ct
            LEFT JOIN cells ON cells.r = rt.r AND cells.c = ct.c
            CROSS JOIN tot
        )
        SELECT n, n_rows, n_cols,
               CAST((n_rows - 1) * (n_cols - 1) AS BIGINT) AS dof,
               CAST(sum(CAST((o * nn - rt * ct) * (o * nn - rt * ct) * 1000000
                             // (nn * rt * ct) AS BIGINT)) AS BIGINT) AS chi2_u
        FROM fl
        GROUP BY n, n_rows, n_cols
    """
    out["loo_priority_encoding_orders"] = """
        WITH t AS (
            SELECT o_orderkey, o_orderpriority AS cat,
                   CAST(floor(o_totalprice * 1000000 + 0.5) AS BIGINT) AS y
            FROM orders
        ),
        st AS (
            SELECT cat, sum(CAST(y AS HUGEINT)) AS s,
                   CAST(count(*) AS BIGINT) AS n_category
            FROM t GROUP BY cat
        )
        SELECT t.o_orderkey, t.cat AS o_orderpriority, st.n_category,
               CASE WHEN st.n_category > 1 THEN
                   CASE WHEN st.s - t.y >= 0 THEN
                       CAST((st.s - t.y) // CAST(st.n_category - 1 AS HUGEINT) AS BIGINT)
                   ELSE -CAST((-(st.s - t.y)) // CAST(st.n_category - 1 AS HUGEINT) AS BIGINT) END
               END AS loo_enc_u
        FROM t JOIN st ON t.cat = st.cat
    """
    out["bootstrap_mean_ci_events"] = f"""
        WITH rep AS (
            SELECT event_id,
                   CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS v,
                   unnest(range(0, 40)) AS b
            FROM events
        ),
        wd AS (SELECT b, v, {_pb_w} AS w FROM rep),
        means AS (
            SELECT b,
                   CASE WHEN sum(CAST(w AS HUGEINT)) > 0 THEN
                       CASE WHEN sum(CAST(w AS HUGEINT) * v) >= 0
                            THEN CAST(sum(CAST(w AS HUGEINT) * v)
                                      // sum(CAST(w AS HUGEINT)) AS BIGINT)
                            ELSE -CAST((-sum(CAST(w AS HUGEINT) * v))
                                      // sum(CAST(w AS HUGEINT)) AS BIGINT) END
                   END AS m
            FROM wd GROUP BY b
        ),
        mm AS (SELECT m, b FROM means WHERE m IS NOT NULL),
        ranked AS (
            SELECT m, row_number() OVER (ORDER BY m, b) AS r,
                   count(*) OVER () AS nb
            FROM mm
        ),
        ci AS (
            SELECT max(CASE WHEN r = 2 THEN m END) AS ci_lo_u,
                   max(CASE WHEN r = nb - 1 THEN m END) AS ci_hi_u,
                   CAST(max(nb) AS BIGINT) AS n_replicas
            FROM ranked
        ),
        pt AS (
            SELECT CAST(count(*) AS BIGINT) AS n,
                   CASE WHEN count(*) > 0 THEN
                       CASE WHEN sum(CAST(CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS HUGEINT)) >= 0
                            THEN CAST(sum(CAST(CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS HUGEINT))
                                      // CAST(count(*) AS HUGEINT) AS BIGINT)
                            ELSE -CAST((-sum(CAST(CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS HUGEINT)))
                                      // CAST(count(*) AS HUGEINT) AS BIGINT) END
                   END AS mean_u
            FROM events
        )
        SELECT pt.n, pt.mean_u, ci.ci_lo_u, ci.ci_hi_u, ci.n_replicas,
               CAST(50000 AS BIGINT) AS alpha_u
        FROM pt CROSS JOIN ci
    """
    out["gini_stump_docs"] = f"""
        {_claseval_prefix},
        cum AS (
            SELECT score_u,
                   CAST(coalesce(sum(n) OVER (ORDER BY score_u
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS HUGEINT) AS tl,
                   CAST(coalesce(sum(n_pos) OVER (ORDER BY score_u
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS HUGEINT) AS pl,
                   CAST(sum(n) OVER () AS HUGEINT) AS t,
                   CAST(sum(n_pos) OVER () AS HUGEINT) AS p
            FROM grp
        ),
        cand AS (
            SELECT score_u, tl, pl, t, p,
                   tl - pl AS nl, t - tl AS tr,
                   p - pl AS pr, (t - tl) - (p - pl) AS nr
            FROM cum WHERE tl > 0
        ),
        scoredc AS (
            SELECT *,
                   CAST(((tl * tl - pl * pl - nl * nl) * tr
                         + (tr * tr - pr * pr - nr * nr) * tl) * 1000000
                        // (tl * tr * t) AS BIGINT) AS child_gini_u
            FROM cand
        ),
        best AS (
            SELECT * FROM scoredc ORDER BY child_gini_u, score_u LIMIT 1
        )
        SELECT CAST(t AS BIGINT) AS n,
               CAST(p AS BIGINT) AS n_pos,
               CAST((t * t - p * p - (t - p) * (t - p)) * 1000000 // (t * t) AS BIGINT) AS parent_gini_u,
               score_u AS best_threshold_u,
               CAST(tl AS BIGINT) AS left_n,
               CAST(pl AS BIGINT) AS left_pos,
               CAST(tr AS BIGINT) AS right_n,
               CAST(pr AS BIGINT) AS right_pos,
               child_gini_u,
               CAST((t * t - p * p - (t - p) * (t - p)) * 1000000 // (t * t) AS BIGINT)
                   - child_gini_u AS gain_u
        FROM best
    """
    out["hopping_window_event_counts"] = """
        WITH c AS (
            SELECT ts, event_type, value,
                   unnest([time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE,
                           time_bucket(INTERVAL 30 MINUTE, ts)]) AS window_start
            FROM events
        )
        SELECT window_start,
               window_start + INTERVAL 1 HOUR AS window_end,
               event_type,
               count(*) AS n_events,
               round(sum(value), 4) AS total_value
        FROM c
        GROUP BY 1, 2, 3
    """
    out["pareto_revenue_customers"] = """
        WITH per AS (
            SELECT o_custkey,
                   CAST(sum(CAST(floor(o_totalprice * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS v
            FROM orders GROUP BY o_custkey
        ),
        tot AS (
            SELECT sum(CAST(v AS HUGEINT)) AS total,
                   CAST(count(*) AS BIGINT) AS n_keys,
                   max(v) AS maxv
            FROM per
        ),
        cum AS (
            SELECT v,
                   sum(CAST(v AS HUGEINT)) OVER (ORDER BY v DESC, o_custkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       - CAST(v AS HUGEINT) AS bef
            FROM per
        )
        SELECT tot.n_keys,
               CAST(tot.total AS BIGINT) AS total_u,
               CAST(CAST(tot.maxv AS HUGEINT) * 1000000 // tot.total AS BIGINT) AS top1_share_u,
               CAST(sum(CASE WHEN bef * 1000000 < 500000 * tot.total THEN 1 ELSE 0 END) AS BIGINT) AS n_for_50,
               CAST(sum(CASE WHEN bef * 1000000 < 800000 * tot.total THEN 1 ELSE 0 END) AS BIGINT) AS n_for_80,
               CAST(sum(CASE WHEN bef * 1000000 < 900000 * tot.total THEN 1 ELSE 0 END) AS BIGINT) AS n_for_90
        FROM cum CROSS JOIN tot
        GROUP BY tot.n_keys, tot.total, tot.maxv
    """
    out["orders_point_in_time_status"] = """
        WITH obs AS (
            SELECT o_custkey, o_orderstatus AS status, o_orderdate, o_orderkey,
                   lag(o_orderstatus) OVER (PARTITION BY o_custkey
                       ORDER BY o_orderdate, o_orderkey) AS prev
            FROM orders
        ),
        changes AS (
            SELECT o_custkey, status, o_orderdate, o_orderkey
            FROM obs WHERE prev IS DISTINCT FROM status
        ),
        hist AS (
            SELECT o_custkey, status,
                   CAST(o_orderdate AS TIMESTAMP) AS valid_from,
                   CAST(row_number() OVER (PARTITION BY o_custkey
                       ORDER BY o_orderdate, o_orderkey) AS INT) AS version
            FROM changes
        ),
        u AS (
            SELECT o_custkey,
                   CAST(o_orderdate AS TIMESTAMP) AS ts, 1 AS side,
                   CAST(NULL AS INT) AS ver,
                   o_orderkey, o_orderdate,
                   CAST(NULL AS VARCHAR) AS h_status,
                   CAST(NULL AS INT) AS h_version
            FROM orders
            UNION ALL
            SELECT o_custkey, valid_from AS ts, 0 AS side, version AS ver,
                   CAST(NULL AS BIGINT), CAST(NULL AS DATE),
                   status, version
            FROM hist
        ),
        filled AS (
            SELECT *,
                   last_value(h_status IGNORE NULLS) OVER (
                       PARTITION BY o_custkey ORDER BY ts, side, ver
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS status_asof,
                   last_value(h_version IGNORE NULLS) OVER (
                       PARTITION BY o_custkey ORDER BY ts, side, ver
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS version_asof
            FROM u
        )
        SELECT o_orderkey, o_custkey, o_orderdate, status_asof, version_asof
        FROM filled WHERE side = 1
    """
    out["fuzzy_part_name_matches"] = """
        WITH p AS (
            SELECT p_partkey, p_name,
                   concat_ws('|', string_split(p_name, ' ')[-1],
                             substring(p_name, 1, 1)) AS blk
            FROM part
        ),
        sized AS (
            SELECT p.* FROM p
            JOIN (SELECT blk, count(*) AS bs FROM p GROUP BY blk) s USING (blk)
            WHERE s.bs <= 200
        )
        SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
               a.p_name AS text_a, b.p_name AS text_b,
               CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS distance
        FROM sized a JOIN sized b ON a.blk = b.blk
            AND a.p_partkey < b.p_partkey
        WHERE levenshtein(a.p_name, b.p_name) <= 2
    """
    out["vocab_drift_docs"] = f"""
        WITH
        sides AS (
            SELECT CAST(regexp_extract(source, 'src(\\d+)', 1) AS INT) AS sd,
                   {tokens} AS t
            FROM documents
        ),
        ta AS (
            SELECT tok, count(*) AS df FROM (
                SELECT unnest(list_distinct(t)) AS tok FROM sides WHERE sd < 10
            ) GROUP BY tok HAVING count(*) >= 2
        ),
        tb AS (
            SELECT tok, count(*) AS df FROM (
                SELECT unnest(list_distinct(t)) AS tok FROM sides WHERE sd >= 10
            ) GROUP BY tok HAVING count(*) >= 2
        ),
        m AS (
            SELECT ta.tok AS a, tb.tok AS b
            FROM ta FULL OUTER JOIN tb ON ta.tok = tb.tok
        ),
        agg AS (
            SELECT CAST(count(a) AS BIGINT) AS n_vocab_a,
                   CAST(count(b) AS BIGINT) AS n_vocab_b,
                   CAST(sum(CASE WHEN a IS NOT NULL AND b IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_shared,
                   CAST(sum(CASE WHEN a IS NOT NULL AND b IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_only_a,
                   CAST(sum(CASE WHEN a IS NULL AND b IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_only_b
            FROM m
        )
        SELECT n_vocab_a, n_vocab_b, n_shared, n_only_a, n_only_b,
               CASE WHEN n_vocab_a + n_vocab_b - n_shared > 0 THEN
                   CAST(n_shared * 1000000 // (n_vocab_a + n_vocab_b - n_shared) AS BIGINT)
               END AS vocab_jaccard_u
        FROM agg
    """
    out["ngram_containment_docs"] = f"""
        WITH toks AS (
            SELECT doc_id, {tokens} AS t FROM documents
        ), grams AS (
            SELECT doc_id,
                   list_distinct(
                       list_transform(
                           range(1, greatest(len(t) - 3, 0) + 2),
                           i -> array_to_string(t[i:i+2], ' ')
                       )
                   ) AS shingles
            FROM toks
        ), inv AS (
            SELECT doc_id, unnest(shingles) AS shingle FROM grams
        ), sizes AS (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS set_size
            FROM inv GROUP BY doc_id
        ), hot AS (
            SELECT shingle FROM inv GROUP BY shingle HAVING count(*) > 64
        ), invc AS (
            SELECT inv.* FROM inv ANTI JOIN hot USING (shingle)
        ), common AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   CAST(count(*) AS BIGINT) AS common
            FROM invc a JOIN invc b
              ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        ), scored AS (
            SELECT id_a, id_b, common,
                   sa.set_size AS size_a, sb.set_size AS size_b,
                   CAST(common * 1000000 // sa.set_size AS BIGINT) AS containment_a_u,
                   CAST(common * 1000000 // sb.set_size AS BIGINT) AS containment_b_u
            FROM common
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b
            WHERE greatest(common * 1000000 // sa.set_size,
                           common * 1000000 // sb.set_size) >= 500000
        )
        SELECT id_a, id_b, common, size_a, size_b,
               containment_a_u, containment_b_u
        FROM (
            SELECT *,
                   row_number() OVER (PARTITION BY id_a
                       ORDER BY greatest(containment_a_u, containment_b_u) DESC,
                                id_b) AS ra,
                   row_number() OVER (PARTITION BY id_b
                       ORDER BY greatest(containment_a_u, containment_b_u) DESC,
                                id_a) AS rb
            FROM scored
        ) WHERE ra <= 20 AND rb <= 20
    """
    out["event_transitions_events"] = """
        WITH p AS (
            SELECT lag(event_type) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id) AS from_type,
                   event_type AS to_type
            FROM events
        ),
        counts AS (
            SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
            FROM p WHERE from_type IS NOT NULL
            GROUP BY from_type, to_type
        )
        SELECT from_type, to_type, n,
               CAST(sum(n) OVER (PARTITION BY from_type) AS BIGINT) AS row_total,
               CAST(n * 1000000 // sum(n) OVER (PARTITION BY from_type) AS BIGINT) AS p_u
        FROM counts
    """
    out["interarrival_dispersion_events"] = """
        WITH
        gaps AS (
            SELECT event_type AS g,
                   CAST(date_diff('microsecond',
                        lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                        ts) AS BIGINT) // 1000000 AS d
            FROM events
        ),
        agg AS (
            SELECT g, CAST(count(*) AS BIGINT) AS n_gaps,
                   sum(CAST(d AS HUGEINT)) AS s,
                   sum(CAST(d AS HUGEINT) * d) AS s2
            FROM gaps WHERE d IS NOT NULL GROUP BY g
        )
        SELECT g AS event_type, n_gaps,
               CAST(s * 1000000 // CAST(n_gaps AS HUGEINT) AS BIGINT) AS mean_gap_s_u,
               CAST((CAST(n_gaps AS HUGEINT) * s2 - s * s) * 1000000
                    // (CAST(n_gaps AS HUGEINT) * n_gaps) AS BIGINT) AS var_gap_s2_u,
               CASE WHEN s > 0 THEN
                   CAST((CAST(n_gaps AS HUGEINT) * s2 - s * s) * 1000000
                        // (s * s) AS BIGINT) END AS dispersion_u
        FROM agg
    """
    out["association_rules_events"] = """
        WITH
        bi AS (SELECT DISTINCT user_id AS b, event_type AS i FROM events),
        nb AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_baskets FROM events),
        ic AS (SELECT i, CAST(count(*) AS BIGINT) AS ni FROM bi GROUP BY i),
        pairs AS (
            SELECT x.i, y.i AS j, CAST(count(*) AS BIGINT) AS n_both
            FROM bi x JOIN bi y ON x.b = y.b AND x.i <> y.i
            GROUP BY x.i, y.i
        )
        SELECT p.i AS antecedent, p.j AS consequent,
               p.n_both, a.ni AS n_ante, nb.n_baskets,
               CAST(p.n_both * 1000000 // nb.n_baskets AS BIGINT) AS support_u,
               CAST(p.n_both * 1000000 // a.ni AS BIGINT) AS confidence_u,
               CAST(CAST(p.n_both AS HUGEINT) * nb.n_baskets * 1000000
                    // (CAST(a.ni AS HUGEINT) * c.ni) AS BIGINT) AS lift_u
        FROM pairs p
        JOIN ic a ON p.i = a.i
        JOIN ic c ON p.j = c.i
        CROSS JOIN nb
    """
    out["robust_outliers_events"] = """
        WITH
        vals AS (
            SELECT event_type AS g,
                   CAST(floor(value * 1000 + 0.5) AS BIGINT) AS v
            FROM events
        ),
        counts AS (
            SELECT g, v, CAST(count(*) AS BIGINT) AS c
            FROM vals GROUP BY g, v
        ),
        medc AS (
            SELECT g, v, c,
                   sum(c) OVER (PARTITION BY g ORDER BY v
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                   sum(c) OVER (PARTITION BY g) AS n
            FROM counts
        ),
        med AS (
            SELECT g, min(CASE WHEN cum >= (n + 1) // 2 THEN v END) AS median_m
            FROM medc GROUP BY g
        ),
        devc0 AS (
            SELECT c.g, abs(c.v - m.median_m) AS d, sum(c.c) AS c
            FROM counts c JOIN med m ON c.g = m.g GROUP BY c.g, 2
        ),
        madc AS (
            SELECT g, d, c,
                   sum(c) OVER (PARTITION BY g ORDER BY d
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                   sum(c) OVER (PARTITION BY g) AS n
            FROM devc0
        ),
        mad AS (
            SELECT g, min(CASE WHEN cum >= (n + 1) // 2 THEN d END) AS mad_m
            FROM madc GROUP BY g
        )
        SELECT c.g AS event_type,
               CAST(sum(c.c) AS BIGINT) AS n,
               m.median_m, a.mad_m,
               CAST(sum(CASE WHEN abs(c.v - m.median_m) > 5 * a.mad_m
                        THEN c.c ELSE 0 END) AS BIGINT) AS n_outliers,
               CAST(sum(CASE WHEN abs(c.v - m.median_m) > 5 * a.mad_m
                        THEN c.c ELSE 0 END) * 1000000
                    // sum(c.c) AS BIGINT) AS outlier_frac_u
        FROM counts c
        JOIN med m ON c.g = m.g
        JOIN mad a ON c.g = a.g
        GROUP BY c.g, m.median_m, a.mad_m
    """
    out["conformal_interval_events"] = """
        WITH
        p AS (
            SELECT user_id, value AS truth,
                   lag(value) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS pred
            FROM events
        ),
        tp AS (SELECT * FROM p WHERE pred IS NOT NULL),
        nc AS (
            SELECT CAST(floor(abs(pred - truth) * 1000 + 0.5) AS BIGINT) AS e
            FROM tp WHERE user_id % 5 = 0
        ),
        counts AS (SELECT e, CAST(count(*) AS BIGINT) AS c FROM nc GROUP BY e),
        cum AS (
            SELECT e, c,
                   sum(c) OVER (ORDER BY e
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                   sum(c) OVER () AS n
            FROM counts
        ),
        qh AS (
            SELECT CAST(max(n) AS BIGINT) AS n_calib,
                   min(CASE WHEN cum >= n + 1 - ((n + 1) * 100000) // 1000000
                       THEN e END) AS qhat_m
            FROM cum
        ),
        te AS (
            SELECT CAST(floor(abs(pred - truth) * 1000 + 0.5) AS BIGINT) AS e
            FROM tp WHERE user_id % 5 <> 0
        )
        SELECT qh.n_calib,
               CAST(count(*) AS BIGINT) AS n_test,
               CAST(100000 AS BIGINT) AS alpha_u,
               qh.qhat_m,
               CAST(sum(CASE WHEN te.e <= qh.qhat_m THEN 1 ELSE 0 END)
                    * 1000000 // count(*) AS BIGINT) AS coverage_u,
               CAST(900000 AS BIGINT) AS guarantee_u
        FROM te CROSS JOIN qh
        GROUP BY qh.n_calib, qh.qhat_m
    """
    out["join_cardinality_orders_lineitem"] = """
        WITH
        ca AS (SELECT o_orderkey AS k, CAST(count(*) AS BIGINT) AS c FROM orders GROUP BY 1),
        cb AS (SELECT l_orderkey AS k, CAST(count(*) AS BIGINT) AS c FROM lineitem GROUP BY 1),
        pred AS (
            SELECT CAST(count(*) AS BIGINT) AS matching_keys,
                   CAST(sum(CAST(ca.c AS HUGEINT) * cb.c) AS BIGINT) AS predicted_rows
            FROM ca JOIN cb USING (k)
        ),
        sides AS (
            SELECT (SELECT CAST(sum(c) AS BIGINT) FROM ca) AS left_rows,
                   (SELECT CAST(sum(c) AS BIGINT) FROM cb) AS right_rows,
                   (SELECT CAST(count(*) AS BIGINT) FROM ca) AS left_keys,
                   (SELECT CAST(count(*) AS BIGINT) FROM cb) AS right_keys
        ),
        act AS (
            SELECT CAST(count(*) AS BIGINT) AS actual_rows
            FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
        )
        SELECT left_rows, right_rows, left_keys, right_keys,
               coalesce(matching_keys, 0) AS matching_keys,
               coalesce(predicted_rows, 0) AS predicted_rows,
               actual_rows
        FROM sides CROSS JOIN pred CROSS JOIN act
    """
    out["funnel_signup_click_purchase"] = """
        WITH
        s1 AS (
            SELECT user_id, min(ts) AS t
            FROM events WHERE event_type = 'signup' GROUP BY user_id
        ),
        s2 AS (
            SELECT e.user_id, min(e.ts) AS t
            FROM events e JOIN s1 ON e.user_id = s1.user_id
            WHERE e.event_type = 'click' AND e.ts > s1.t
            GROUP BY e.user_id
        ),
        s3 AS (
            SELECT e.user_id, min(e.ts) AS t
            FROM events e JOIN s2 ON e.user_id = s2.user_id
            WHERE e.event_type = 'purchase' AND e.ts > s2.t
            GROUP BY e.user_id
        ),
        counts AS (
            SELECT 1 AS step, 'signup' AS step_name, CAST(count(*) AS BIGINT) AS n_users FROM s1
            UNION ALL
            SELECT 2, 'click', CAST(count(*) AS BIGINT) FROM s2
            UNION ALL
            SELECT 3, 'purchase', CAST(count(*) AS BIGINT) FROM s3
        ),
        en AS (
            SELECT step, step_name, n_users,
                   max(CASE WHEN step = 1 THEN n_users END) OVER () AS top,
                   lag(n_users) OVER (ORDER BY step) AS prev
            FROM counts
        )
        SELECT step, step_name, n_users,
               CASE WHEN prev IS NOT NULL AND prev > 0
                    THEN CAST(n_users * 1000000 // prev AS BIGINT) END AS conv_from_prev_u,
               CASE WHEN top > 0
                    THEN CAST(n_users * 1000000 // top AS BIGINT) END AS conv_from_top_u
        FROM en ORDER BY step
    """
    out["cohort_retention_events"] = """
        WITH
        wk AS (
            SELECT DISTINCT user_id AS u,
                   CAST(date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7 AS BIGINT) AS w
            FROM events
        ),
        first AS (SELECT u, min(w) AS cohort_week FROM wk GROUP BY u),
        cells AS (
            SELECT f.cohort_week, wk.w - f.cohort_week AS week_offset,
                   CAST(count(*) AS BIGINT) AS n_users
            FROM wk JOIN first f ON wk.u = f.u
            GROUP BY 1, 2
        ),
        en AS (
            SELECT cohort_week, week_offset, n_users,
                   max(CASE WHEN week_offset = 0 THEN n_users END)
                       OVER (PARTITION BY cohort_week) AS cohort_size
            FROM cells
        )
        SELECT cohort_week, week_offset, n_users, cohort_size,
               CAST(n_users * 1000000 // cohort_size AS BIGINT) AS retention_u
        FROM en
    """
    out["ks_click_vs_purchase_value"] = """
        WITH
        a AS (
            SELECT CAST(floor(value * 1000 + 0.5) AS BIGINT) AS v_m,
                   CAST(count(*) AS BIGINT) AS ca
            FROM events WHERE event_type = 'click' GROUP BY 1
        ),
        b AS (
            SELECT CAST(floor(value * 1000 + 0.5) AS BIGINT) AS v_m,
                   CAST(count(*) AS BIGINT) AS cb
            FROM events WHERE event_type = 'purchase' GROUP BY 1
        ),
        m AS (
            SELECT coalesce(a.v_m, b.v_m) AS v_m,
                   coalesce(ca, 0) AS ca, coalesce(cb, 0) AS cb
            FROM a FULL OUTER JOIN b ON a.v_m = b.v_m
        ),
        cum AS (
            SELECT v_m,
                   sum(CAST(ca AS HUGEINT)) OVER (ORDER BY v_m
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_a,
                   sum(CAST(cb AS HUGEINT)) OVER (ORDER BY v_m
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_b,
                   sum(CAST(ca AS HUGEINT)) OVER () AS n_a,
                   sum(CAST(cb AS HUGEINT)) OVER () AS n_b
            FROM m
        ),
        g AS (
            SELECT v_m, n_a, n_b, abs(cum_a * n_b - cum_b * n_a) AS gap
            FROM cum
        )
        SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
               CAST(gap * 1000000 // (n_a * n_b) AS BIGINT) AS ks_u,
               v_m AS ks_at_value_m
        FROM g ORDER BY gap DESC, v_m LIMIT 1
    """
    # DP twins: the noise CASE chain is generated by the SAME Python
    # function that bakes it into the Spark plan; only the md5-draw
    # spelling differs (DuckDB hex-prefix cast vs Spark conv())
    from data_pipeline_childcare_spark.operators.dp import (
        noise_case_sql as _dp_case,
        uniform_draw_duckdb as _dp_draw,
    )

    _dpc_z = _dp_case(
        _dp_draw("concat_ws('|#|', CAST(event_type AS VARCHAR))", "dp-release-1"),
        1.0,
    )
    out["dp_event_type_counts"] = f"""
        WITH agg AS (
            SELECT event_type, CAST(count(*) AS BIGINT) AS c
            FROM events GROUP BY event_type
        )
        SELECT event_type,
               CAST(c + {_dpc_z} AS BIGINT) AS noisy_count,
               CAST(1000000 AS BIGINT) AS epsilon_u
        FROM agg
        WHERE c + {_dpc_z} >= 10
    """
    _dps_z = _dp_case(
        _dp_draw(
            "concat_ws('|#|', CAST(event_type AS VARCHAR))", "dp-release-1:sum"
        ),
        10.0 / 10,
    )
    out["dp_event_value_sums"] = f"""
        WITH agg AS (
            SELECT event_type,
                   CAST(sum(least(CAST(10 AS BIGINT),
                                  greatest(CAST(0 AS BIGINT),
                                           CAST(floor(value + 0.5) AS BIGINT)))) AS BIGINT) AS s
            FROM events GROUP BY event_type
        )
        SELECT event_type,
               CAST(s + {_dps_z} AS BIGINT) AS noisy_sum,
               CAST(10 AS BIGINT) AS clip_bound,
               CAST(10000000 AS BIGINT) AS epsilon_u
        FROM agg
    """
    # ACF / CUSUM twins: the shared milli series (per-bucket sign-safe
    # floor average, contiguous re-index), HUGEINT products/sums
    # mirroring Spark's DECIMAL(38,0), explicit-sign floor divisions
    _ts_milli_series = """
        ser0 AS (
            SELECT time_bucket(INTERVAL 1 HOUR, ts) AS bucket,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CAST(floor(value * 1000 + 0.5) AS BIGINT)) AS HUGEINT) AS s
            FROM events GROUP BY 1
        ),
        ser AS (
            SELECT bucket,
                   CASE WHEN s >= 0 THEN CAST(s // CAST(n AS HUGEINT) AS BIGINT)
                        ELSE -CAST((-s) // CAST(n AS HUGEINT) AS BIGINT) END AS y_m,
                   CAST(row_number() OVER (ORDER BY bucket) AS BIGINT) AS t
            FROM ser0
        ),
        st AS (
            SELECT CASE WHEN sum(CAST(y_m AS HUGEINT)) >= 0
                        THEN CAST(sum(CAST(y_m AS HUGEINT)) // CAST(count(*) AS HUGEINT) AS BIGINT)
                        ELSE -CAST((-sum(CAST(y_m AS HUGEINT))) // CAST(count(*) AS HUGEINT) AS BIGINT)
                   END AS ybar
            FROM ser
        )"""
    out["events_acf_hourly"] = f"""
        WITH {_ts_milli_series},
        d AS (
            SELECT t, CAST(y_m - ybar AS HUGEINT) AS d
            FROM ser CROSS JOIN st
        ),
        den AS (SELECT sum(d * d) AS den FROM d),
        lags AS (SELECT unnest(range(1, 13)) AS lag),
        num AS (
            SELECT l.lag, CAST(count(*) AS BIGINT) AS n_pairs,
                   sum(a.d * b.d) AS num
            FROM lags l
            JOIN d a ON TRUE
            JOIN d b ON a.t = b.t + l.lag
            GROUP BY l.lag
        )
        SELECT CAST(lag AS INT) AS lag, n_pairs,
               CASE WHEN den > 0 THEN
                   CASE WHEN num >= 0 THEN CAST(num * 1000000 // den AS BIGINT)
                        ELSE -CAST((-num) * 1000000 // den AS BIGINT) END
               END AS acf_u
        FROM num CROSS JOIN den
        ORDER BY lag
    """
    out["events_cusum_changepoint"] = f"""
        WITH {_ts_milli_series},
        cum AS (
            SELECT bucket, t, y_m,
                   sum(CAST(y_m - ybar AS HUGEINT))
                       OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS c
            FROM ser CROSS JOIN st
        ),
        peak AS (
            SELECT bucket AS change_bucket, t AS tstar, CAST(c AS BIGINT) AS cm
            FROM cum ORDER BY abs(c) DESC, t LIMIT 1
        ),
        nb AS (SELECT CAST(count(*) AS BIGINT) AS n_buckets FROM ser),
        sides AS (
            SELECT CASE WHEN cum.t <= peak.tstar THEN 1 ELSE 2 END AS side,
                   sum(CAST(y_m AS HUGEINT)) AS ss,
                   CAST(count(*) AS HUGEINT) AS sn
            FROM cum CROSS JOIN peak GROUP BY 1
        ),
        sm AS (
            SELECT max(CASE WHEN side = 1 THEN
                       CASE WHEN ss >= 0 THEN CAST(ss // sn AS BIGINT)
                            ELSE -CAST((-ss) // sn AS BIGINT) END END) AS mean_before_m,
                   max(CASE WHEN side = 2 THEN
                       CASE WHEN ss >= 0 THEN CAST(ss // sn AS BIGINT)
                            ELSE -CAST((-ss) // sn AS BIGINT) END END) AS mean_after_m
            FROM sides
        )
        SELECT nb.n_buckets, peak.change_bucket,
               abs(peak.cm) AS cusum_max_abs_m,
               sm.mean_before_m, sm.mean_after_m,
               sm.mean_after_m - sm.mean_before_m AS shift_m
        FROM nb CROSS JOIN peak CROSS JOIN sm
    """
    # incremental-dedup twin: the portable-minhash pair chain over the
    # full corpus + the incremental keep rule (drop a new id that is
    # the larger side of any qualifying pair, or the smaller side when
    # the larger side is a corpus doc — history wins either way)
    out["dedup_incremental_docs"] = f"""
        WITH {_minhash_ctes}
        SELECT doc_id FROM documents
        WHERE doc_id % 4 = 0
          AND doc_id NOT IN (
            SELECT id_b FROM est
            WHERE est_jaccard >= 0.8 AND id_b % 4 = 0
            UNION
            SELECT id_a FROM est
            WHERE est_jaccard >= 0.8 AND id_a % 4 = 0 AND id_b % 4 <> 0
          )
    """
    # prefix-filtered jaccard: the oracle IS the exhaustive
    # inverted-index twin — equality certifies the filter lossless
    out["ngram_jaccard_prefix_docs"] = out["ngram_jaccard_docs"]
    # PageRank twin: the Spark side is fixed-point BIGINT throughout
    # (operators/graph.pagerank), so the five unrolled iterations here
    # are plain integer arithmetic — bit-exact by construction, no
    # float-rounding discipline involved
    _pr_iter = """
        , c{i} AS (
            SELECT e.dst AS id,
                   CAST(sum(r.r // r.out_deg) AS BIGINT) AS contrib
            FROM edges e JOIN r{p} r ON r.id = e.src AND r.out_deg > 0
            GROUP BY e.dst
        ), d{i} AS (
            SELECT CAST(coalesce(sum(CASE WHEN out_deg = 0 THEN r END), 0)
                        AS BIGINT) AS dang
            FROM r{p}
        ), r{i} AS (
            SELECT b.id, b.out_deg,
                   CAST(((15 * 1000000000000) // (100 * (SELECT n FROM nn)))
                   + ((85 * (coalesce(c.contrib, 0)
                             + ((SELECT dang FROM d{i})
                                // (SELECT n FROM nn)))) // 100)
                   AS BIGINT) AS r
            FROM r0 b LEFT JOIN c{i} c ON c.id = b.id
        )"""
    out["link_graph_pagerank"] = (
        """
        WITH nn AS (SELECT count(*) AS n FROM documents),
        links AS (
            SELECT DISTINCT doc_id AS src,
                CAST(CONCAT('0x', substring(md5(CAST(doc_id AS VARCHAR)
                    || '#' || CAST(t.j AS VARCHAR)), 1, 15)) AS BIGINT)
                % (SELECT n FROM nn) AS dst
            FROM documents CROSS JOIN (VALUES (1),(2),(3)) t(j)
        ), edges AS (SELECT src, dst FROM links WHERE src <> dst),
        deg AS (SELECT src, count(*) AS out_deg FROM edges GROUP BY src),
        base AS (
            SELECT doc_id AS id, coalesce(deg.out_deg, 0) AS out_deg
            FROM documents LEFT JOIN deg ON deg.src = doc_id
        ),
        r0 AS (
            SELECT id, out_deg,
                   1000000000000 // (SELECT n FROM nn) AS r
            FROM base
        )"""
        + "".join(_pr_iter.format(i=i, p=i - 1) for i in range(1, 6))
        + """
        SELECT id AS doc_id, out_deg, r AS rank_scaled FROM r5
    """
    )
    # TrustRank twin: same link graph and integer discipline as the
    # pagerank twin; teleport + dangling mass credit ONLY the seed
    # set (doc_id % 20 = 0), zero-initialized elsewhere.
    _tr_rank_iter = """
        , gc{i} AS MATERIALIZED (
            SELECT e.dst AS id,
                   CAST(sum(r.r // r.out_deg) AS BIGINT) AS contrib
            FROM edges e JOIN g{p} r ON r.id = e.src AND r.out_deg > 0
            GROUP BY e.dst
        ), gd{i} AS MATERIALIZED (
            SELECT CAST(coalesce(sum(CASE WHEN out_deg = 0 THEN r END), 0)
                        AS BIGINT) AS dang
            FROM g{p}
        ), g{i} AS MATERIALIZED (
            SELECT b.id, b.out_deg, b.is_seed,
                   CAST(CASE WHEN b.is_seed
                        THEN (15 * 1000000000000)
                             // (100 * (SELECT ns FROM nseed))
                        ELSE 0 END
                   + ((85 * (coalesce(c.contrib, 0)
                             + CASE WHEN b.is_seed
                               THEN (SELECT dang FROM gd{i})
                                    // (SELECT ns FROM nseed)
                               ELSE 0 END)) // 100)
                   AS BIGINT) AS r
            FROM g0 b LEFT JOIN gc{i} c ON c.id = b.id
        )"""
    out["link_graph_trustrank"] = (
        """
        WITH nn AS (SELECT count(*) AS n FROM documents),
        links AS (
            SELECT DISTINCT doc_id AS src,
                CAST(CONCAT('0x', substring(md5(CAST(doc_id AS VARCHAR)
                    || '#' || CAST(t.j AS VARCHAR)), 1, 15)) AS BIGINT)
                % (SELECT n FROM nn) AS dst
            FROM documents CROSS JOIN (VALUES (1),(2),(3)) t(j)
        ), edges AS (SELECT src, dst FROM links WHERE src <> dst),
        deg AS (SELECT src, count(*) AS out_deg FROM edges GROUP BY src),
        nseed AS (
            SELECT count(*) AS ns FROM documents WHERE doc_id % 20 = 0
        ),
        g0 AS (
            SELECT doc_id AS id,
                   coalesce(deg.out_deg, 0) AS out_deg,
                   doc_id % 20 = 0 AS is_seed,
                   CAST(CASE WHEN doc_id % 20 = 0
                        THEN 1000000000000 // (SELECT ns FROM nseed)
                        ELSE 0 END AS BIGINT) AS r
            FROM documents LEFT JOIN deg ON deg.src = doc_id
        )"""
        + "".join(_tr_rank_iter.format(i=i, p=i - 1) for i in range(1, 6))
        + """
        SELECT id AS doc_id, out_deg, is_seed, r AS rank_scaled FROM g5
    """
    )
    # Crawl-depth twin: depth-capped recursive walk from the seed
    # set over the same md5 link graph; min(d) per reached node.
    out["crawl_depth_docs"] = """
        WITH RECURSIVE nn AS (SELECT count(*) AS n FROM documents),
        links AS (
            SELECT DISTINCT doc_id AS src,
                CAST(CONCAT('0x', substring(md5(CAST(doc_id AS VARCHAR)
                    || '#' || CAST(t.j AS VARCHAR)), 1, 15)) AS BIGINT)
                % (SELECT n FROM nn) AS dst
            FROM documents CROSS JOIN (VALUES (1),(2),(3)) t(j)
        ), edges AS (SELECT src, dst FROM links WHERE src <> dst),
        walk AS (
            SELECT doc_id AS id, CAST(0 AS BIGINT) AS d
            FROM documents WHERE doc_id % 20 = 0
            UNION
            SELECT e.dst AS id, CAST(w.d + 1 AS BIGINT) AS d
            FROM walk w JOIN edges e ON e.src = w.id
            WHERE w.d < 8
        )
        SELECT id AS doc_id, CAST(min(d) AS BIGINT) AS dist
        FROM walk GROUP BY id
    """
    # TextRank twin: window-2 co-occurrence pairs by positional range
    # join, per-source weight fractions quantized to 1e-6, then five
    # unrolled weighted-PageRank iterations — all-BIGINT, bit-exact
    # (mirrors operators/keywords.py + graph.weighted_pagerank).
    _tr_iter = """
        , tc{i} AS MATERIALIZED (
            SELECT f.dst AS id,
                   CAST(sum((r.r * f.frac) // 1000000) AS BIGINT) AS contrib
            FROM fr f JOIN tr{p} r ON r.id = f.src GROUP BY f.dst
        ), tr{i} AS MATERIALIZED (
            SELECT b.id,
                   CAST(((15 * 1000000000000) // (100 * (SELECT n FROM tn)))
                        + ((85 * coalesce(c.contrib, 0)) // 100)
                   AS BIGINT) AS r
            FROM tr0 b LEFT JOIN tc{i} c ON c.id = b.id
        )"""
    out["textrank_keywords_docs"] = (
        f"""
        WITH toks AS MATERIALIZED (
            SELECT doc_id, {tokens} AS t FROM documents
        ),
        pos AS MATERIALIZED (
            SELECT doc_id, u.p AS pos, u.x AS tok
            FROM (
                SELECT doc_id,
                       list_transform(t, (x, i) -> struct_pack(p := i, x := x)) AS ls
                FROM toks
            ), UNNEST(ls) AS r(u)
        ),
        co AS MATERIALIZED (
            SELECT least(a.tok, b.tok) AS token_a,
                   greatest(a.tok, b.tok) AS token_b,
                   CAST(count(*) AS BIGINT) AS w
            FROM pos a JOIN pos b
                 ON a.doc_id = b.doc_id
                AND b.pos - a.pos BETWEEN 1 AND 2
                AND a.tok <> b.tok
            GROUP BY 1, 2
        ),
        dirs AS MATERIALIZED (
            SELECT token_a AS src, token_b AS dst, w FROM co
            UNION ALL
            SELECT token_b AS src, token_a AS dst, w FROM co
        ),
        wdeg AS MATERIALIZED (
            SELECT src, CAST(sum(w) AS BIGINT) AS wdeg FROM dirs GROUP BY src
        ),
        fr AS MATERIALIZED (
            SELECT d.src, d.dst,
                   CAST((CAST(d.w AS HUGEINT) * 1000000) // g.wdeg
                        AS BIGINT) AS frac
            FROM dirs d JOIN wdeg g USING (src)
        ),
        tn AS MATERIALIZED (SELECT count(*) AS n FROM wdeg),
        tr0 AS MATERIALIZED (
            SELECT src AS id,
                   CAST(1000000000000 // (SELECT n FROM tn) AS BIGINT) AS r
            FROM wdeg
        )"""
        + "".join(_tr_iter.format(i=i, p=i - 1) for i in range(1, 6))
        + """
        SELECT token, wdeg, rank_scaled, rank FROM (
            SELECT r.id AS token, g.wdeg AS wdeg, r.r AS rank_scaled,
                   CAST(row_number() OVER (ORDER BY r.r DESC, r.id) AS INT) AS rank
            FROM tr5 r JOIN wdeg g ON g.src = r.id
        ) WHERE rank <= 20
    """
    )
    _ind_pair = """
        SELECT pair_label, n_child_distinct, n_contained,
               CAST(CASE WHEN n_child_distinct = 0 THEN 1000000
                    ELSE (n_contained * 1000000) // n_child_distinct
                    END AS BIGINT) AS containment_ppm,
               parent_unique
        FROM (
            SELECT '{label}' AS pair_label,
                   (SELECT CAST(count(DISTINCT {ccol}) AS BIGINT) FROM {ctab}
                    WHERE {ccol} IS NOT NULL) AS n_child_distinct,
                   (SELECT CAST(count(*) AS BIGINT) FROM
                       (SELECT DISTINCT {ccol} AS v FROM {ctab}
                        WHERE {ccol} IS NOT NULL) c
                    WHERE EXISTS (SELECT 1 FROM {ptab} p
                                  WHERE p.{pcol} = c.v)) AS n_contained,
                   (SELECT count({pcol}) = count(DISTINCT {pcol})
                    FROM {ptab}) AS parent_unique
        )"""
    _ind_pairs = [
        ("lineitem.l_orderkey->orders.o_orderkey", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem.l_partkey->part.p_partkey", "lineitem", "l_partkey", "part", "p_partkey"),
        ("orders.o_custkey->customer.c_custkey", "orders", "o_custkey", "customer", "c_custkey"),
        ("customer.c_nationkey->nation.n_nationkey", "customer", "c_nationkey", "nation", "n_nationkey"),
        ("supplier.s_nationkey->nation.n_nationkey", "supplier", "s_nationkey", "nation", "n_nationkey"),
        ("orders.o_custkey->supplier.s_suppkey", "orders", "o_custkey", "supplier", "s_suppkey"),
    ]
    out["fk_discovery_tpch"] = " UNION ALL ".join(
        _ind_pair.format(label=lb, ctab=ct, ccol=cc, ptab=pt, pcol=pc)
        for lb, ct, cc, pt, pc in _ind_pairs
    )
    # HITS twin: unrolled alternating auth/hub updates with the same
    # integer L1 normalization — all-BIGINT, bit-exact
    _hits_iter = """
        , ha{i} AS MATERIALIZED (
            SELECT e.dst AS id, CAST(sum(s.hub) AS BIGINT) AS a
            FROM edges e JOIN hs{p} s ON s.id = e.src GROUP BY e.dst
        ), hsa{i} AS MATERIALIZED (
            SELECT s.id, s.hub, CAST(coalesce(a.a, 0) AS BIGINT) AS auth
            FROM hs{p} s LEFT JOIN ha{i} a USING (id)
        ), hsan{i} AS MATERIALIZED (
            SELECT id, hub,
                   CAST((auth * 1000000)
                        // (SELECT CAST(sum(auth) AS BIGINT) FROM hsa{i})
                        AS BIGINT) AS auth
            FROM hsa{i}
        ), hh{i} AS MATERIALIZED (
            SELECT e.src AS id, CAST(sum(s.auth) AS BIGINT) AS h
            FROM edges e JOIN hsan{i} s ON s.id = e.dst GROUP BY e.src
        ), hsh{i} AS MATERIALIZED (
            SELECT s.id, CAST(coalesce(h.h, 0) AS BIGINT) AS hub, s.auth
            FROM hsan{i} s LEFT JOIN hh{i} h USING (id)
        ), hs{i} AS MATERIALIZED (
            SELECT id,
                   CAST((hub * 1000000)
                        // (SELECT CAST(sum(hub) AS BIGINT) FROM hsh{i})
                        AS BIGINT) AS hub,
                   auth
            FROM hsh{i}
        )"""
    out["link_graph_hits"] = (
        """
        WITH nn AS MATERIALIZED (SELECT count(*) AS n FROM documents),
        links AS MATERIALIZED (
            SELECT DISTINCT doc_id AS src,
                CAST(CONCAT('0x', substring(md5(CAST(doc_id AS VARCHAR)
                    || '#' || CAST(t.j AS VARCHAR)), 1, 15)) AS BIGINT)
                % (SELECT n FROM nn) AS dst
            FROM documents CROSS JOIN (VALUES (1),(2),(3)) t(j)
        ), edges AS MATERIALIZED (SELECT src, dst FROM links WHERE src <> dst),
        hs0 AS MATERIALIZED (
            SELECT doc_id AS id,
                   1000000 // (SELECT n FROM nn) AS hub,
                   1000000 // (SELECT n FROM nn) AS auth
            FROM documents
        )"""
        + "".join(_hits_iter.format(i=i, p=i - 1) for i in range(1, 6))
        + """
        SELECT id AS doc_id, hub AS hub_scaled, auth AS auth_scaled FROM hs5
    """
    )
    # triangle twin: same symmetrize → orient → wedge → close chain,
    # same exact fixed-point coefficient
    out["link_graph_triangles"] = """
        WITH nn AS (SELECT count(*) AS n FROM documents),
        links AS (
            SELECT DISTINCT doc_id AS src,
                CAST(CONCAT('0x', substring(md5(CAST(doc_id AS VARCHAR)
                    || '#' || CAST(t.j AS VARCHAR)), 1, 15)) AS BIGINT)
                % (SELECT n FROM nn) AS dst
            FROM documents CROSS JOIN (VALUES (1),(2),(3)) t(j)
        ), edges AS (SELECT src, dst FROM links WHERE src <> dst),
        und AS (
            SELECT DISTINCT a, b FROM (
                SELECT src AS a, dst AS b FROM edges
                UNION ALL SELECT dst AS a, src AS b FROM edges
            ) WHERE a <> b
        ), oriented AS (SELECT a, b FROM und WHERE a < b),
        wedges AS (
            SELECT e1.a AS x, e1.b AS y, e2.b AS z
            FROM oriented e1 JOIN oriented e2 ON e1.b = e2.a
        ), tris AS (
            SELECT w.x, w.y, w.z
            FROM wedges w JOIN oriented c ON c.a = w.x AND c.b = w.z
        ), per_node AS (
            SELECT id, CAST(count(*) AS BIGINT) AS n_triangles FROM (
                SELECT x AS id FROM tris
                UNION ALL SELECT y FROM tris
                UNION ALL SELECT z FROM tris
            ) GROUP BY id
        ), deg AS (
            SELECT a AS id, CAST(count(*) AS BIGINT) AS degree
            FROM und GROUP BY a
        )
        SELECT d.id AS doc_id, d.degree,
               coalesce(p.n_triangles, 0) AS n_triangles,
               CASE WHEN d.degree >= 2
                    THEN CAST((2 * coalesce(p.n_triangles, 0) * 1000000)
                              // (d.degree * (d.degree - 1)) AS BIGINT)
                    ELSE 0 END AS clustering_micro
        FROM deg d LEFT JOIN per_node p USING (id)
    """
    # frontier-schedule twin: nests the PageRank twin, same synthetic
    # host family and the identical per-host window arithmetic
    out["crawl_frontier_schedule"] = f"""
        WITH pr AS ({out['link_graph_pagerank']}),
        f AS (
            SELECT doc_id,
                   'site' || CAST(doc_id % 7 AS VARCHAR) AS host,
                   rank_scaled
            FROM pr
        ), s AS (
            SELECT doc_id, host, rank_scaled,
                   row_number() OVER (
                       PARTITION BY host
                       ORDER BY rank_scaled DESC, doc_id) AS rn
            FROM f
        )
        SELECT doc_id, host, rank_scaled,
               CAST((rn - 1) // 4 AS BIGINT) AS wave,
               CAST((rn - 1) % 4 + 1 AS INT) AS slot
        FROM s
    """
    # SCD2 twin: same lag run-compression (IS DISTINCT FROM = Spark's
    # eqNullSafe negation) and the same total in-key order
    out["customer_status_scd2"] = """
        WITH obs AS (
            SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
                   lag(o_orderstatus) OVER (
                       PARTITION BY o_custkey
                       ORDER BY o_orderdate, o_orderkey) AS prev
            FROM orders
        ), changes AS (
            SELECT * FROM obs WHERE prev IS DISTINCT FROM o_orderstatus
        )
        SELECT o_custkey, o_orderstatus,
               o_orderdate AS valid_from,
               lead(o_orderdate) OVER w AS valid_to,
               CAST(row_number() OVER w AS INT) AS version,
               (lead(o_orderdate) OVER w) IS NULL AS is_current
        FROM changes
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """
    # streaming SCD2: the oracle IS the batch SCD2 twin — equality
    # certifies the incremental maintenance
    out["streaming_scd2_orders"] = out["customer_status_scd2"]
    # BM25 twin: identical tf/df/dl count tables, exact integer-sum
    # avgdl division, Lucene idf, same association order, round
    # before the rank window
    out["bm25_search_docs"] = f"""
        WITH lt AS (
            SELECT doc_id, {tokens} AS t FROM documents
        ), tf AS (
            SELECT doc_id, tok, count(*) AS tf FROM (
                SELECT doc_id, unnest(t) AS tok FROM lt
            ) GROUP BY doc_id, tok
        ), dl AS (
            SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id
        ), stats AS (
            SELECT count(*) AS n, sum(dl) * 1.0 / count(*) AS avgdl FROM dl
        ), dfreq AS (
            SELECT tok, count(*) AS df FROM tf GROUP BY tok
        ), qt AS (
            SELECT DISTINCT doc_id AS query_id, unnest(t[1:3]) AS tok
            FROM lt WHERE doc_id % 50 = 0 AND doc_id < 500
        ), scored AS (
            SELECT qt.query_id, tf.doc_id,
                   round(sum(
                       ln((stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5) + 1)
                       * (tf.tf * (1.2 + 1))
                       / (tf.tf + 1.2 * (1 - 0.75
                                         + (0.75 * dl.dl) / stats.avgdl))
                   ), 6) AS score
            FROM qt
            JOIN dfreq USING (tok)
            JOIN tf USING (tok)
            JOIN dl ON dl.doc_id = tf.doc_id
            CROSS JOIN stats
            GROUP BY qt.query_id, tf.doc_id
        )
        SELECT query_id, doc_id, CAST(rank AS INT) AS rank, score FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY score DESC, doc_id
            ) AS rank FROM scored
        ) WHERE rank <= 10
    """
    # hybrid-retrieval twin: nests the BM25 twin, brute-cosine ranks
    # the same 10 query vectors (self excluded, round-before-rank),
    # then the identical per-query RRF fusion — ≤ 2 contributions per
    # (query, doc), so the float sum is order-independent
    # P13 twin: the checker rule is deterministic and the markdown is
    # constructed in-query, so the post-removal text is closed-form —
    # the kept tag survives verbatim, the non-http and dead tags
    # vanish leaving their flanking spaces
    out["validated_image_refs_docs"] = """
        SELECT doc_id,
               'Intro ' || CAST(doc_id AS VARCHAR)
               || ' ![fig](http://img.example/a' || CAST(doc_id AS VARCHAR)
               || '.png) mid  tail  end' AS text
        FROM documents WHERE doc_id < 200
    """
    # snapshot-drift twin: snapshot B rebuilt in SQL, per-column stats
    # as a UNION ALL (one block per (side, column)), the full-outer
    # profile join and the identical status CASE with integer micro
    # rates and cross-multiplied relative thresholds
    _drift_cols_a = [
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority",
    ]
    _drift_cols_b = [
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "priority_flag",
    ]
    _drift_types_a = {
        "o_orderkey": "bigint", "o_custkey": "bigint", "o_orderstatus": "string",
        "o_totalprice": "double", "o_orderpriority": "string",
    }
    _drift_types_b = {
        "o_orderkey": "bigint", "o_custkey": "bigint", "o_orderstatus": "string",
        "o_totalprice": "string", "priority_flag": "boolean",
    }

    def _drift_stats_block(side: str, col: str) -> str:
        return f"""
            SELECT '{col}' AS column_name,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(sum(CASE WHEN {col} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_nulls,
                   CAST(count(DISTINCT {col}) AS BIGINT) AS n_distinct
            FROM snap_{side}"""

    _drift_type_case = lambda m, alias: (  # noqa: E731
        "CASE column_name "
        + " ".join(f"WHEN '{c}' THEN '{t}'" for c, t in m.items())
        + f" END AS {alias}"
    )
    out["snapshot_drift_orders"] = f"""
        WITH snap_a AS (
            SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
                   o_orderpriority
            FROM orders
        ), snap_b AS (
            SELECT o_orderkey,
                   CASE WHEN o_custkey % 7 = 0 THEN NULL ELSE o_custkey END
                       AS o_custkey,
                   o_orderstatus,
                   CAST(o_totalprice AS VARCHAR) AS o_totalprice,
                   o_orderpriority LIKE '1%' AS priority_flag
            FROM orders WHERE o_orderkey % 10 <> 0
        ), stats_a AS ({' UNION ALL '.join(_drift_stats_block('a', c) for c in _drift_cols_a)}
        ), stats_b AS ({' UNION ALL '.join(_drift_stats_block('b', c) for c in _drift_cols_b)}
        ), prof AS (
            SELECT COALESCE(a.column_name, b.column_name) AS column_name,
                   a.n_rows AS n_rows_a, b.n_rows AS n_rows_b,
                   a.n_nulls AS n_nulls_a, b.n_nulls AS n_nulls_b,
                   CASE WHEN a.n_rows > 0 THEN a.n_nulls * 1000000 // a.n_rows
                        WHEN a.n_rows IS NULL THEN NULL ELSE 0 END
                       AS null_rate_micro_a,
                   CASE WHEN b.n_rows > 0 THEN b.n_nulls * 1000000 // b.n_rows
                        WHEN b.n_rows IS NULL THEN NULL ELSE 0 END
                       AS null_rate_micro_b,
                   a.n_distinct AS n_distinct_a, b.n_distinct AS n_distinct_b
            FROM stats_a a FULL OUTER JOIN stats_b b USING (column_name)
        ), typed AS (
            SELECT *,
                   {_drift_type_case(_drift_types_a, 'type_a')},
                   {_drift_type_case(_drift_types_b, 'type_b')},
                   CAST(COALESCE(null_rate_micro_b, 0)
                        - COALESCE(null_rate_micro_a, 0) AS BIGINT)
                       AS null_rate_delta_micro
            FROM prof
        )
        SELECT column_name,
               CASE WHEN type_a IS NULL THEN 'added'
                    WHEN type_b IS NULL THEN 'removed'
                    WHEN type_a <> type_b THEN 'type_changed'
                    WHEN abs(null_rate_delta_micro) > 10000
                         OR (n_distinct_a IS NOT NULL AND n_distinct_b IS NOT NULL
                             AND n_distinct_a > 0
                             AND abs(n_distinct_b - n_distinct_a) * 1000000
                                 > 200000 * n_distinct_a)
                        THEN 'drift'
                    ELSE 'ok' END AS status,
               type_a, type_b, n_rows_a, n_rows_b, n_nulls_a, n_nulls_b,
               null_rate_micro_a, null_rate_micro_b, null_rate_delta_micro,
               n_distinct_a, n_distinct_b
        FROM typed
    """
    # ranking-eval twins: identical run/gold construction, DCG terms
    # floored to micros BEFORE the BIGINT sums (CAST back from
    # DuckDB's HUGEINT), integer // for every ratio
    _raneval_ctes = """run AS (
            SELECT o_custkey % 8 AS query, o_orderkey AS item,
                   row_number() OVER (PARTITION BY o_custkey % 8
                                      ORDER BY o_totalprice DESC, o_orderkey)
                       AS rnk
            FROM orders
        ), gold AS (
            SELECT o_custkey % 8 AS query, o_orderkey AS item,
                   1 + o_orderkey % 2 AS gain
            FROM orders WHERE o_orderkey % 3 = 0
        ), capped AS (
            SELECT query, item, rnk FROM run WHERE rnk <= 10
        ), ideal AS (
            SELECT query,
                   CAST(sum(CAST(floor(gain * 1000000.0 / log2(ir + 1.0) + 0.5)
                                 AS BIGINT)) AS BIGINT) AS idcg
            FROM (SELECT query, gain,
                         row_number() OVER (PARTITION BY query
                                            ORDER BY gain DESC, item) AS ir
                  FROM gold)
            WHERE ir <= 10 GROUP BY query
        ), ng AS (
            SELECT query, CAST(count(*) AS BIGINT) AS n_gold FROM gold GROUP BY query
        ), nr AS (
            SELECT query, CAST(count(*) AS BIGINT) AS n_retrieved
            FROM capped GROUP BY query
        ), hit AS (
            SELECT c.query,
                   CAST(count(*) AS BIGINT) AS hits,
                   min(c.rnk) AS first_rank,
                   CAST(sum(CAST(floor(g.gain * 1000000.0 / log2(c.rnk + 1.0) + 0.5)
                                 AS BIGINT)) AS BIGINT) AS dcg
            FROM capped c JOIN gold g ON g.query = c.query AND g.item = c.item
            GROUP BY c.query
        ), per_query AS (
            SELECT ng.query AS query_id,
                   ng.n_gold,
                   COALESCE(nr.n_retrieved, 0) AS n_retrieved,
                   COALESCE(hit.hits, 0) AS hits,
                   COALESCE(hit.hits, 0) * 1000000 // ng.n_gold AS recall_micro,
                   COALESCE(hit.hits, 0) * 1000000 // 10 AS precision_micro,
                   COALESCE(1000000 // hit.first_rank, 0) AS rr_micro,
                   COALESCE(hit.dcg * 1000000 // ideal.idcg, 0) AS ndcg_micro
            FROM ng
            JOIN ideal ON ideal.query = ng.query
            LEFT JOIN nr ON nr.query = ng.query
            LEFT JOIN hit ON hit.query = ng.query
        )"""
    out["ranking_eval_orders"] = f"""
        WITH {_raneval_ctes}
        SELECT query_id, n_gold, n_retrieved, hits, recall_micro,
               precision_micro, rr_micro, ndcg_micro
        FROM per_query
    """
    out["ranking_eval_orders_summary"] = f"""
        WITH {_raneval_ctes}
        SELECT CAST(count(*) AS BIGINT) AS n_queries,
               CAST(sum(recall_micro) // count(*) AS BIGINT) AS mean_recall_micro,
               CAST(sum(precision_micro) // count(*) AS BIGINT)
                   AS mean_precision_micro,
               CAST(sum(rr_micro) // count(*) AS BIGINT) AS mrr_micro,
               CAST(sum(ndcg_micro) // count(*) AS BIGINT) AS mean_ndcg_micro
        FROM per_query
    """
    out["hybrid_retrieval_docs"] = f"""
        WITH lex AS ({out['bm25_search_docs']}),
        hemb AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings
        ), hq AS (
            SELECT vec_id AS query_id, cv AS qv FROM hemb
            WHERE vec_id % 50 = 0 AND vec_id < 500
        ), sem AS (
            SELECT query_id, vec_id, rank FROM (
                SELECT q.query_id, c.vec_id,
                       row_number() OVER (
                           PARTITION BY q.query_id
                           ORDER BY round(
                               list_dot_product(c.cv, q.qv) /
                               (sqrt(list_dot_product(c.cv, c.cv)) *
                                sqrt(list_dot_product(q.qv, q.qv))), 6
                           ) DESC, c.vec_id) AS rank
                FROM hemb c CROSS JOIN hq q
                WHERE q.query_id <> c.vec_id
            ) WHERE rank <= 10
        ), unioned AS (
            SELECT query_id, doc_id AS item, rank FROM lex
            UNION ALL
            SELECT query_id, vec_id AS item, rank FROM sem
        ), fused AS (
            SELECT query_id, item,
                   round(sum(1.0 / (60 + rank)), 6) AS rrf_score,
                   CAST(count(*) AS INT) AS n_lists
            FROM unioned GROUP BY query_id, item
        )
        SELECT query_id, item AS doc_id, rrf_score, n_lists,
               CAST(fused_rank AS INT) AS fused_rank
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id
                ORDER BY rrf_score DESC, item) AS fused_rank
            FROM fused
        ) WHERE fused_rank <= 10
    """
    # ANN-composed hybrid twin: BM25 leg unchanged; dense leg replays
    # the 8-table × 4-bit hyperplane bucketing (same deterministic
    # plane family as the Spark operator), candidates from the
    # (table, bucket) equi-join, exact re-score, then the identical
    # fusion
    out["hybrid_retrieval_ann_docs"] = f"""
        WITH lex AS ({out['bm25_search_docs']}),
        hemb AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings
        ), hq AS (
            SELECT vec_id AS query_id, cv AS qv FROM hemb
            WHERE vec_id % 50 = 0 AND vec_id < 500
        ), cb AS (
            SELECT vec_id, tbl, {_lsh_buckets_case('cv', 64, 4, 8)} AS bucket
            FROM hemb CROSS JOIN (VALUES {",".join(f"({t})" for t in range(8))}) t(tbl)
        ), qb AS (
            SELECT query_id, qv, tbl, {_lsh_buckets_case('qv', 64, 4, 8)} AS bucket
            FROM hq CROSS JOIN (VALUES {",".join(f"({t})" for t in range(8))}) t(tbl)
        ), cand AS (
            SELECT DISTINCT qb.query_id, cb.vec_id
            FROM cb JOIN qb ON cb.tbl = qb.tbl AND cb.bucket = qb.bucket
            WHERE qb.query_id <> cb.vec_id
        ), sem AS (
            SELECT query_id, vec_id, rank FROM (
                SELECT cand.query_id, cand.vec_id,
                       row_number() OVER (
                           PARTITION BY cand.query_id
                           ORDER BY round(
                               list_dot_product(c.cv, q.qv) /
                               (sqrt(list_dot_product(c.cv, c.cv)) *
                                sqrt(list_dot_product(q.qv, q.qv))), 6
                           ) DESC, cand.vec_id) AS rank
                FROM cand
                JOIN hemb c ON c.vec_id = cand.vec_id
                JOIN hq q ON q.query_id = cand.query_id
            ) WHERE rank <= 10
        ), unioned AS (
            SELECT query_id, doc_id AS item, rank FROM lex
            UNION ALL
            SELECT query_id, vec_id AS item, rank FROM sem
        ), fused AS (
            SELECT query_id, item,
                   round(sum(1.0 / (60 + rank)), 6) AS rrf_score,
                   CAST(count(*) AS INT) AS n_lists
            FROM unioned GROUP BY query_id, item
        )
        SELECT query_id, item AS doc_id, rrf_score, n_lists,
               CAST(fused_rank AS INT) AS fused_rank
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id
                ORDER BY rrf_score DESC, item) AS fused_rank
            FROM fused
        ) WHERE fused_rank <= 10
    """
    # recall audit twin: both hybrid oracles nested, semi-join on the
    # fused (query, doc) pairs, integer-ppm division
    out["hybrid_retrieval_ann_recall"] = f"""
        WITH b AS ({out['hybrid_retrieval_docs']}),
        a AS ({out['hybrid_retrieval_ann_docs']}),
        o AS (
            SELECT b.query_id, b.doc_id FROM b
            WHERE EXISTS (SELECT 1 FROM a
                          WHERE a.query_id = b.query_id
                            AND a.doc_id = b.doc_id)
        )
        SELECT (SELECT count(*) FROM b) AS n_brute,
               (SELECT count(*) FROM o) AS n_overlap,
               ((SELECT count(*) FROM o) * 1000000)
                   // (SELECT count(*) FROM b) AS recall_ppm
    """
    # stupid-backoff twin: same 70% md5 split (salt 'lm'), per-order
    # count tables over the train subset only (each order filtered to
    # docs long enough for it, mirroring the operator), identical
    # CASE tiers and association order
    out["doc_trigram_backoff"] = f"""
        WITH lt AS (
            SELECT doc_id, {tokens} AS t FROM documents
        ), train AS (
            SELECT * FROM lt
            WHERE substr(md5('lm:' || CAST(doc_id AS VARCHAR)), 1, 8)
                  < 'b3333333'
        ), tri_c AS (
            SELECT tg, count(*) AS c3 FROM (
                SELECT unnest(list_transform(range(1, len(t) - 1),
                       i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS tg
                FROM train WHERE len(t) >= 3
            ) GROUP BY tg
        ), bi_c AS (
            SELECT bg, count(*) AS c2 FROM (
                SELECT unnest(list_transform(range(1, len(t)),
                       i -> t[i] || ' ' || t[i + 1])) AS bg
                FROM train WHERE len(t) >= 2
            ) GROUP BY bg
        ), uni_c AS (
            SELECT tok, count(*) AS c1 FROM (
                SELECT unnest(t) AS tok FROM train
            ) GROUP BY tok
        ), tot AS (
            SELECT sum(c1) AS n FROM uni_c
        ), pos AS (
            SELECT doc_id, tg,
                   string_split(tg, ' ')[1] || ' ' || string_split(tg, ' ')[2]
                       AS ctx,
                   string_split(tg, ' ')[2] || ' ' || string_split(tg, ' ')[3]
                       AS bg2,
                   string_split(tg, ' ')[2] AS w2,
                   string_split(tg, ' ')[3] AS w3
            FROM (
                SELECT doc_id,
                       unnest(list_transform(range(1, len(t) - 1),
                       i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS tg
                FROM lt WHERE len(t) >= 3
            )
        ), lp AS (
            SELECT p.doc_id,
                   log10(CASE
                       WHEN tri_c.c3 IS NOT NULL
                           THEN tri_c.c3 * 1.0 / cx.c2
                       WHEN b2.c2 IS NOT NULL
                           THEN 0.4 * (b2.c2 * 1.0 / u2.c1)
                       ELSE 0.4 * 0.4 * (COALESCE(u3.c1, 0.5) * 1.0 / tot.n)
                   END) AS l
            FROM pos p
            LEFT JOIN tri_c ON tri_c.tg = p.tg
            LEFT JOIN bi_c cx ON cx.bg = p.ctx
            LEFT JOIN bi_c b2 ON b2.bg = p.bg2
            LEFT JOIN uni_c u2 ON u2.tok = p.w2
            LEFT JOIN uni_c u3 ON u3.tok = p.w3
            CROSS JOIN tot
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_trigrams,
               round(round(sum(l), 6) / count(*), 6) AS avg_logprob
        FROM lp GROUP BY doc_id
    """
    # perceptual-hash twin: bits derived closed-form from the pixel
    # generator (no decoder needed — PNG round-trips losslessly and
    # the aHash bit rule is exact integer arithmetic); all-pairs
    # hamming is affordable at oracle scale and must equal the Spark
    # side's pigeonhole-blocked join exactly. The CTE chain is shared
    # with the multimodal agreement audit below.
    _ahash_ctes = """ids AS (
            SELECT doc_id, doc_id // 8 AS g, doc_id % 8 AS p
            FROM documents
        ), pix AS (
            SELECT doc_id,
                   CAST(i AS INT) AS b,
                   CASE WHEN p >= 6
                            THEN (g * 37 + i * (23 + g % 251 + 13 * p)
                                  + i * i * (g % 17) + 97 * p) % 256
                        WHEN p >= 4 AND i = doc_id % 64
                            THEN (g * 37 + i * (11 + g % 251)
                                  + i * i * (g % 17) + 140) % 256
                        ELSE (g * 37 + i * (11 + g % 251)
                              + i * i * (g % 17)) % 256
                   END AS v
            FROM ids CROSS JOIN range(64) r(i)
        ), tot AS (
            SELECT doc_id, sum(v) AS s FROM pix GROUP BY doc_id
        ), bits AS (
            SELECT p.doc_id, p.b,
                   CASE WHEN p.v * 64 > t.s THEN 1 ELSE 0 END AS bit
            FROM pix p JOIN tot t USING (doc_id)
        ), ham AS (
            SELECT ba.doc_id AS id_a, bb.doc_id AS id_b,
                   CAST(sum(CASE WHEN ba.bit <> bb.bit THEN 1 ELSE 0 END)
                        AS INT) AS hamming
            FROM bits ba
            JOIN bits bb ON bb.b = ba.b AND ba.doc_id < bb.doc_id
            GROUP BY ba.doc_id, bb.doc_id
        )"""
    # per-item candidate cap twin: identical two-row_number discipline
    # as the Spark side's cap_per_id (rank by (hamming, other id) on
    # each pair side; pair keys are unique so the order is total)
    _ham_capped = """hamf AS (
            SELECT id_a, id_b, hamming FROM ham WHERE hamming <= 3
        ), capped AS (
            SELECT id_a, id_b, hamming FROM (
                SELECT id_a, id_b, hamming,
                       row_number() OVER (PARTITION BY id_a
                                          ORDER BY hamming, id_b) AS ra,
                       row_number() OVER (PARTITION BY id_b
                                          ORDER BY hamming, id_a) AS rb
                FROM hamf)
            WHERE ra <= 10 AND rb <= 10
        )"""
    out["image_ahash_near_dup"] = f"""
        WITH {_ahash_ctes}, {_ham_capped}
        SELECT id_a, id_b, hamming FROM capped
    """
    # multimodal agreement twin: byte equality of a deterministic
    # encoder IS pixel equality + filter equality — same group, both
    # unperturbed (p < 4), doc_id ≡ mod 3 (the filter cycle); the
    # perceptual side reuses the closed-form bit chain
    out["multimodal_dedup_agreement"] = f"""
        WITH {_ahash_ctes}, {_ham_capped}, perc AS (
            SELECT id_a, id_b FROM capped
        ), exact AS (
            SELECT a.doc_id AS id_a, b.doc_id AS id_b
            FROM ids a JOIN ids b
              ON a.g = b.g AND a.p < 4 AND b.p < 4
             AND a.doc_id % 3 = b.doc_id % 3
             AND a.doc_id < b.doc_id
        ), u AS (
            SELECT e.id_a IS NOT NULL AS has_e,
                   p.id_a IS NOT NULL AS has_p
            FROM exact e
            FULL OUTER JOIN perc p
              ON e.id_a = p.id_a AND e.id_b = p.id_b
        )
        SELECT CAST(count(*) AS BIGINT) AS n_pairs_union,
               CAST(sum(CASE WHEN has_e THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_exact,
               CAST(sum(CASE WHEN has_p THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_perceptual,
               CAST(sum(CASE WHEN has_e AND has_p THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_both,
               CAST(sum(CASE WHEN has_e AND NOT has_p THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_exact_only,
               CAST(sum(CASE WHEN has_p AND NOT has_e THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_perceptual_only
        FROM u
    """
    # video twin: same closed-form bit derivation with a frame
    # dimension (the DIB frames round-trip losslessly and r=g=b makes
    # Rec.601 luma the pixel value itself); aligned-frame all-pairs
    # hamming, rolled up to video pairs with the >= 3-of-4 gate
    out["video_keyframe_dedup"] = """
        WITH ids AS (
            SELECT doc_id, doc_id // 8 AS g, doc_id % 8 AS p
            FROM documents
        ), fr AS (
            SELECT doc_id, g, p, CAST(f AS INT) AS f
            FROM ids CROSS JOIN range(4) rf(f)
        ), pix AS (
            SELECT doc_id, f, CAST(i AS INT) AS b,
                   CASE WHEN p >= 6
                            THEN (g * 37
                                  + i * (11 + (g * 4 + f + 101 + 13 * p) % 251)
                                  + i * i * ((g * 4 + f) % 17)) % 256
                        WHEN p >= 4 AND f = doc_id % 4 AND i = doc_id % 64
                            THEN (g * 37 + i * (11 + (g * 4 + f) % 251)
                                  + i * i * ((g * 4 + f) % 17) + 140) % 256
                        ELSE (g * 37 + i * (11 + (g * 4 + f) % 251)
                              + i * i * ((g * 4 + f) % 17)) % 256
                   END AS v
            FROM fr CROSS JOIN range(64) r(i)
        ), tot AS (
            SELECT doc_id, f, sum(v) AS s FROM pix GROUP BY doc_id, f
        ), bits AS (
            SELECT p.doc_id, p.f, p.b,
                   CASE WHEN p.v * 64 > t.s THEN 1 ELSE 0 END AS bit
            FROM pix p JOIN tot t ON t.doc_id = p.doc_id AND t.f = p.f
        ), fham AS (
            SELECT ba.doc_id AS va, bb.doc_id AS vb, ba.f,
                   CAST(sum(CASE WHEN ba.bit <> bb.bit THEN 1 ELSE 0 END)
                        AS INT) AS hamming
            FROM bits ba
            JOIN bits bb ON bb.b = ba.b AND bb.f = ba.f
                        AND ba.doc_id < bb.doc_id
            GROUP BY ba.doc_id, bb.doc_id, ba.f
        ), fhamf AS (
            SELECT va, vb, f, hamming FROM fham WHERE hamming <= 3
        ), capped AS (
            -- frame-level cap twin: Spark partitions by fkey =
            -- video*16 + f, i.e. (video, position); within a fixed
            -- position, ordering by the other fkey IS ordering by
            -- the other video id
            SELECT va, vb, hamming FROM (
                SELECT va, vb, f, hamming,
                       row_number() OVER (PARTITION BY va, f
                                          ORDER BY hamming, vb) AS ra,
                       row_number() OVER (PARTITION BY vb, f
                                          ORDER BY hamming, va) AS rb
                FROM fhamf)
            WHERE ra <= 10 AND rb <= 10
        )
        SELECT va AS video_a, vb AS video_b,
               CAST(count(*) AS BIGINT) AS n_frame_matches,
               max(hamming) AS max_hamming
        FROM capped
        GROUP BY va, vb HAVING count(*) >= 3
    """
    # audio twin: window energies derived closed-form from the PCM
    # generator (integer s², 8 samples per window), delta-sign bits,
    # all-pairs hamming at oracle scale
    out["audio_fingerprint_near_dup"] = f"""
        WITH ids AS (
            SELECT doc_id, doc_id // 8 AS g, doc_id % 8 AS p
            FROM documents
        ), samp AS (
            SELECT doc_id, CAST(i AS INT) AS i,
                   CASE WHEN p >= 4 AND p < 6 AND i = doc_id % 512
                        THEN ((g * 7 + i * (g % 89 + 3) + i * i * (g % 13))
                              % 4001) - 2000 + 500
                        WHEN p >= 6
                        THEN ((g * 7 + i * (g % 89 + 14 + p) + i * i * (g % 13))
                              % 4001) - 2000
                        ELSE ((g * 7 + i * (g % 89 + 3) + i * i * (g % 13))
                              % 4001) - 2000
                   END AS s
            FROM ids CROSS JOIN range(512) r(i)
        ), en AS (
            SELECT doc_id, i // 8 AS w, sum(s * s) AS e
            FROM samp GROUP BY doc_id, i // 8
        ), bits AS (
            SELECT a.doc_id, CAST(a.w AS INT) AS b,
                   CASE WHEN nx.e > a.e THEN 1 ELSE 0 END AS bit
            FROM en a JOIN en nx
              ON nx.doc_id = a.doc_id AND nx.w = a.w + 1
        ), ham AS (
            SELECT ba.doc_id AS id_a, bb.doc_id AS id_b,
                   CAST(sum(CASE WHEN ba.bit <> bb.bit THEN 1 ELSE 0 END)
                        AS INT) AS hamming
            FROM bits ba
            JOIN bits bb ON bb.b = ba.b AND ba.doc_id < bb.doc_id
            GROUP BY ba.doc_id, bb.doc_id
        ), {_ham_capped}
        SELECT id_a, id_b, hamming FROM capped
    """
    # FLAC container parity: the identical closed-form signal, so the
    # fingerprint (and thus the FLAC decode) must be bit-exact; the
    # oracle is container-free math
    out["audio_flac_fingerprint_docs"] = """
        WITH ids AS (
            SELECT doc_id, doc_id // 8 AS g, doc_id % 8 AS p
            FROM documents
        ), samp AS (
            SELECT doc_id, CAST(i AS INT) AS i,
                   CASE WHEN p >= 4 AND p < 6 AND i = doc_id % 512
                        THEN ((g * 7 + i * (g % 89 + 3) + i * i * (g % 13))
                              % 4001) - 2000 + 500
                        WHEN p >= 6
                        THEN ((g * 7 + i * (g % 89 + 14 + p) + i * i * (g % 13))
                              % 4001) - 2000
                        ELSE ((g * 7 + i * (g % 89 + 3) + i * i * (g % 13))
                              % 4001) - 2000
                   END AS s
            FROM ids CROSS JOIN range(512) r(i)
        ), en AS (
            SELECT doc_id, i // 8 AS w, sum(s * s) AS e
            FROM samp GROUP BY doc_id, i // 8
        ), bits AS (
            SELECT a.doc_id, CAST(a.w AS INT) AS b,
                   CASE WHEN nx.e > a.e THEN 1 ELSE 0 END AS bit
            FROM en a JOIN en nx
              ON nx.doc_id = a.doc_id AND nx.w = a.w + 1
        )
        SELECT doc_id,
               CAST(8000 AS INT) AS sample_rate,
               CAST(512 AS BIGINT) AS n_samples,
               CAST(sum(bit * (CAST(1 AS BIGINT) << b)) AS BIGINT) AS afp,
               FALSE AS is_stub
        FROM bits GROUP BY doc_id
    """
    # the DataSource row: page/fields derive closed-form from doc_ids
    out["tuoyu_datasource_scan_docs"] = """
        WITH ids AS (
            SELECT doc_id,
                   row_number() OVER (ORDER BY doc_id) AS rn
            FROM documents WHERE doc_id < 1000
        )
        SELECT CAST((rn - 1) // 10 + 1 AS INT) AS page,
               '园' || CAST(doc_id AS VARCHAR) AS inst_name,
               CAST(doc_id % 97 AS VARCHAR) AS region_code
        FROM ids
    """
    out["tuoyu_datasource_stream_docs"] = out["tuoyu_datasource_scan_docs"]
    # curation twin: the stage oracles composed into one query — the
    # quality/repetition fragments, the banded minhash chain (est CTE
    # from _minhash_ctes), the contamination shingle join over the
    # full corpus, and the md5 split CASE
    out["doc_curation_pipeline"] = f"""
        WITH {_minhash_ctes},
        q AS ({out['doc_quality_scores']}),
        r AS ({out['doc_repetition_stats']}),
        tk AS (SELECT doc_id, CAST(len({tokens}) AS BIGINT) AS n_tokens
               FROM documents),
        fp AS (SELECT doc_id,
                      -- mirror the Spark side's __null_text__ sentinel:
                      -- md5(NULL) is NULL and would drop the row at the
                      -- fmin join, silently diverging on NULL-text docs
                      COALESCE(
                          md5(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                          '__null_text__') AS f
               FROM documents),
        fmin AS (SELECT f, min(doc_id) AS fkeep FROM fp GROUP BY f),
        exact AS (
            SELECT fp.doc_id,
                   CASE WHEN fp.doc_id <> fmin.fkeep THEN fmin.fkeep END
                       AS exact_dup_of
            FROM fp JOIN fmin USING (f)
        ),
        near AS (
            SELECT id_b AS doc_id, min(id_a) AS near_dup_of
            FROM est WHERE est_jaccard >= 0.5 GROUP BY id_b
        ),
        ctoks AS (SELECT doc_id, {tokens} AS t FROM documents),
        cgrams AS (
            SELECT doc_id,
                   list_distinct(list_transform(
                       range(1, greatest(len(t) - 3, 0) + 2),
                       i -> array_to_string(t[i:i+2], ' '))) AS sh
            FROM ctoks
        ),
        docsh AS (SELECT doc_id, unnest(sh) AS s FROM cgrams),
        bench AS (SELECT DISTINCT s FROM
                  (SELECT unnest(sh) AS s FROM cgrams WHERE doc_id % 10 = 0)),
        cm AS (SELECT doc_id, count(*) AS matched
               FROM docsh JOIN bench USING (s) GROUP BY doc_id),
        csz AS (SELECT doc_id, count(*) AS set_size FROM docsh GROUP BY doc_id),
        cont AS (
            SELECT csz.doc_id,
                   round(CAST(COALESCE(matched, 0) AS DOUBLE) / set_size, 6)
                       AS contamination
            FROM csz LEFT JOIN cm ON csz.doc_id = cm.doc_id
        ),
        sp AS (SELECT doc_id, {_split_case} AS split FROM documents),
        flags AS (
            -- LEFT JOIN r + null-safe gate mirror the Spark side's
            -- parse-failure handling (NULL metrics = failed gate)
            SELECT q.doc_id, q.quality, tk.n_tokens,
                   r.dup_line_frac, r.top_bigram_frac,
                   COALESCE(q.quality >= 0.3 AND tk.n_tokens BETWEEN 10 AND 100000
                    AND r.dup_line_frac <= 0.3 AND r.top_bigram_frac <= 0.2,
                    FALSE) AS quality_ok,
                   e.exact_dup_of, n.near_dup_of,
                   COALESCE(c.contamination, 0.0) AS contamination,
                   COALESCE(c.contamination, 0.0) >= 0.5 AS contaminated,
                   sp.split
            FROM q
            LEFT JOIN r ON r.doc_id = q.doc_id
            JOIN tk ON tk.doc_id = q.doc_id
            JOIN exact e ON e.doc_id = q.doc_id
            LEFT JOIN near n ON n.doc_id = q.doc_id
            LEFT JOIN cont c ON c.doc_id = q.doc_id
            JOIN sp ON sp.doc_id = q.doc_id
        )
        SELECT doc_id, quality, n_tokens, dup_line_frac, top_bigram_frac,
               quality_ok, exact_dup_of, near_dup_of, contamination,
               contaminated, split,
               (quality_ok AND exact_dup_of IS NULL AND near_dup_of IS NULL
                AND NOT contaminated) AS kept
        FROM flags
    """
    # archive twin: all output fields closed-form in (doc_id, text)
    out["archive_ingest_docs"] = """
        SELECT doc_id,
               'shard_' || CAST(doc_id AS VARCHAR)
               || (CASE WHEN doc_id % 3 = 0 THEN '.tgz' ELSE '.zip' END)
               || '::docs/doc_' || CAST(doc_id AS VARCHAR) || '.txt' AS path,
               'txt' AS fmt,
               CAST(length(text) AS INT) AS n_chars,
               substring(text, 1, 40) AS prefix
        FROM documents
    """
    # robots twin: the '*'-agent rules with precompiled regexes; the
    # longest-match window mirrors operators/robots.robots_filter
    out["robots_filter_docs"] = """
        WITH urls AS (
            SELECT 'site' || CAST(doc_id % 5 AS VARCHAR) || '.com' AS host,
                   CASE doc_id % 4
                     WHEN 0 THEN '/private/p' || CAST(doc_id AS VARCHAR)
                     WHEN 1 THEN '/public/a' || CAST(doc_id AS VARCHAR)
                     WHEN 2 THEN '/files/f' || CAST(doc_id AS VARCHAR) || '.pdf'
                     ELSE '/index' || CAST(doc_id AS VARCHAR) || '.html'
                   END AS path
            FROM documents
        ), rules AS (
            SELECT * FROM (VALUES
                ('site0.com', 'disallow', '/private/', '^/private/', 9),
                ('site0.com', 'disallow', '/*.pdf$', '^/.*\\.pdf$', 7),
                ('site1.com', 'disallow', '/', '^/', 1),
                ('site1.com', 'allow', '/public/', '^/public/', 8)
            ) r(host, directive, pattern, regex, plen)
        ), matched AS (
            SELECT u.host, u.path, r.directive, r.pattern,
                   row_number() OVER (
                       PARTITION BY u.host, u.path
                       ORDER BY r.plen DESC,
                                CASE WHEN r.directive = 'allow' THEN 0 ELSE 1 END,
                                r.pattern
                   ) AS rn
            FROM urls u LEFT JOIN rules r
              ON u.host = r.host AND regexp_matches(u.path, r.regex)
        )
        SELECT host, path,
               (directive IS NULL OR directive = 'allow') AS allowed,
               directive AS matched_directive,
               pattern AS matched_pattern
        FROM matched WHERE rn = 1
    """
    # WARC twin: every output field is a closed-form function of the
    # generation inputs (see warc_ingest_docs docstring)
    out["warc_ingest_docs"] = """
        SELECT doc_id,
               '<urn:resp:' || CAST(doc_id AS VARCHAR) || '>' AS record_id,
               'https://example.com/doc/' || CAST(doc_id AS VARCHAR) AS target_uri,
               CAST(200 AS INT) AS http_status,
               'text/plain; charset=utf-8' AS http_content_type,
               FALSE AS failed,
               CAST(length(text) AS INT) AS n_body_chars,
               substring(text, 1, 40) AS body_prefix
        FROM documents
    """
    out["url_canonical_dedup_docs"] = """
        WITH urls AS (
            SELECT doc_id,
                   (CASE WHEN doc_id % 5 = 0 THEN 'HTTP://' ELSE 'HTTPS://' END)
                   || 'WWW.Site' || CAST(doc_id % 7 AS VARCHAR) || '.COM'
                   || (CASE WHEN doc_id % 5 = 0 THEN ':80'
                            WHEN doc_id % 4 = 0 THEN ':8443'
                            ELSE ':443' END)
                   || (CASE WHEN doc_id % 3 = 0 THEN '/Path/A?utm_source=x&b=2&a=1#frag'
                            WHEN doc_id % 3 = 1 THEN '/Path/A?b=2&a=1'
                            ELSE '' END) AS url
            FROM documents
        ), parts AS (
            SELECT doc_id,
                   lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
                   regexp_replace(regexp_replace(url, '^[A-Za-z][A-Za-z0-9+.-]*://', ''), '#.*', '') AS rest
            FROM urls
        ), comps AS (
            SELECT doc_id, scheme,
                   lower(regexp_extract(regexp_extract(rest, '^([^/?]*)', 1), '^([^:]*)', 1)) AS host,
                   regexp_extract(regexp_extract(rest, '^([^/?]*)', 1), ':([0-9]+)$', 1) AS port,
                   regexp_extract(rest, '^[^/?]*(/[^?]*)?', 1) AS path,
                   regexp_extract(rest, '\\?(.*)$', 1) AS qraw
            FROM parts
        ), canon AS (
            SELECT doc_id,
                   scheme || '://' || host
                   || (CASE WHEN port <> '' AND NOT (
                              (scheme = 'http' AND port = '80') OR
                              (scheme = 'https' AND port = '443'))
                        THEN ':' || port ELSE '' END)
                   || (CASE WHEN path = '' THEN '/' ELSE path END)
                   || (CASE WHEN len(ps) > 0 THEN '?' || array_to_string(ps, '&') ELSE '' END)
                   AS canonical_url
            FROM (
                SELECT *, list_sort(list_filter(string_split(qraw, '&'),
                           x -> x <> '' AND NOT regexp_matches(x,
                               '^(utm_[^=]*|gclid|fbclid|ref)(=|$)'))) AS ps
                FROM comps
            )
        )
        SELECT canonical_url, CAST(count(*) AS BIGINT) AS n_urls,
               min(doc_id) AS first_doc
        FROM canon GROUP BY canonical_url
    """
    # expected features derived from the PNG generator's closed form
    # (see image_decode_features docstring): per-image cell-0 box-mean
    # of Rec.601 integer luma over x<w//4, y<h//2, float32-quantized
    # exactly like the operator's array<float> feature column
    out["image_decode_features"] = """
        WITH params AS (
            SELECT doc_id, 8 + doc_id % 8 AS w, 4 + n_chars % 4 AS h
            FROM documents
        ), offs AS (
            SELECT doc_id, w, h,
                   unnest(flatten(list_transform(range(0, h // 2),
                          y -> list_transform(range(0, w // 4),
                          x -> (y * w + x) * 3)))) AS o
            FROM params
        ), lum AS (
            SELECT doc_id, w, h,
                   (299 * ((doc_id * 31 + o * 7) % 256)
                  + 587 * ((doc_id * 31 + (o + 1) * 7) % 256)
                  + 114 * ((doc_id * 31 + (o + 2) * 7) % 256)
                  + 500) // 1000 AS l
            FROM offs
        ), f0 AS (
            SELECT doc_id, w, h,
                   CAST(sum(l) * 1.0 / count(*) / 255.0 AS FLOAT) AS f0
            FROM lum GROUP BY doc_id, w, h
        )
        SELECT CAST(w AS INT) AS width,
               CAST(count(*) AS BIGINT) AS n_images,
               round(avg(h), 4) AS avg_height,
               round(avg(f0), 6) AS avg_f0,
               CAST(0 AS INT) AS any_stub
        FROM f0 GROUP BY w
    """
    out["doc_oov_rate"] = f"""
        WITH toks AS (
            SELECT doc_id, {tokens} AS t FROM documents
        ), tok AS (
            SELECT doc_id, unnest(t) AS token FROM toks
        ), freq AS (
            SELECT token, count(*) AS freq FROM tok GROUP BY token
        ), vocab AS (
            SELECT token FROM freq ORDER BY freq DESC, token ASC LIMIT 256
        ), agg AS (
            SELECT tok.doc_id, count(*) AS n_tokens,
                   sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS n_oov
            FROM tok LEFT JOIN vocab v USING (token)
            GROUP BY tok.doc_id
        )
        SELECT d.doc_id,
               CAST(coalesce(a.n_tokens, 0) AS BIGINT) AS n_tokens,
               CAST(coalesce(a.n_oov, 0) AS BIGINT) AS n_oov,
               round(CASE WHEN coalesce(a.n_tokens, 0) > 0
                          THEN a.n_oov * 1.0 / a.n_tokens
                          ELSE 0.0 END, 6) AS oov_rate
        FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
    """
    from data_pipeline_childcare_spark.operators.similarity import mmr_sql as _mmr_sql

    _mmr_cand = """
        WITH qv AS (
            SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
            FROM embeddings WHERE vec_id < 2
        ), cvv AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings
        ), sc AS (
            SELECT qv.query_id, cvv.vec_id,
                   round(
                       list_dot_product(cvv.cv, qv.qv) /
                       (sqrt(list_dot_product(cvv.cv, cvv.cv)) *
                        sqrt(list_dot_product(qv.qv, qv.qv))), 6
                   ) AS rel
            FROM cvv CROSS JOIN qv
            WHERE qv.query_id <> cvv.vec_id
        ), topn AS (
            SELECT query_id, vec_id, rel,
                   row_number() OVER (
                       PARTITION BY query_id ORDER BY rel DESC, vec_id
                   ) AS rk
            FROM sc
        )
        SELECT t.query_id AS q, t.vec_id AS id, t.rel AS rel, c2.cv AS v
        FROM topn t JOIN cvv c2 ON c2.vec_id = t.vec_id
        WHERE t.rk <= 20
    """
    out["mmr_diverse_topk_embeddings"] = _mmr_sql(_mmr_cand, k=5, lam=0.5)
    out["hard_negatives_embeddings"] = """
        WITH q AS (
            SELECT vec_id AS anchor_id, CAST(embedding AS DOUBLE[]) AS qv,
                   label AS alabel
            FROM embeddings WHERE vec_id < 3
        ), c AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv, label
            FROM embeddings
        ), scored AS (
            SELECT q.anchor_id, c.vec_id, c.label,
                   round(
                       list_dot_product(c.cv, q.qv) /
                       (sqrt(list_dot_product(c.cv, c.cv)) *
                        sqrt(list_dot_product(q.qv, q.qv))), 6
                   ) AS cosine_sim
            FROM c CROSS JOIN q
            WHERE c.label <> q.alabel AND c.vec_id <> q.anchor_id
        )
        SELECT anchor_id, vec_id, label, cosine_sim, CAST(rank AS INT) AS rank
        FROM (
            SELECT anchor_id, vec_id, label, cosine_sim,
                   row_number() OVER (
                       PARTITION BY anchor_id ORDER BY cosine_sim DESC, vec_id
                   ) AS rank
            FROM scored
        ) WHERE rank <= 5
    """
    out["lang_fertility_stats"] = f"""
        WITH q AS ({out['doc_quality_scores']}),
        t AS (
            SELECT doc_id,
                   len({tokens}) AS ws,
                   len(regexp_extract_all(text,
                       '( ?[\\p{{L}}]+| ?[\\p{{N}}]+| ?[^\\s\\p{{L}}\\p{{N}}]+)', 1)) AS bpe
            FROM documents
        )
        SELECT q.lang_guess,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(t.ws) AS BIGINT) AS ws_tokens,
               CAST(sum(t.bpe) AS BIGINT) AS bpe_tokens,
               round(CASE WHEN sum(t.ws) > 0
                          THEN sum(t.bpe) * 1.0 / sum(t.ws)
                          ELSE 0.0 END, 6) AS fertility
        FROM q JOIN t ON t.doc_id = q.doc_id
        GROUP BY q.lang_guess
    """
    out["source_temperature_weights"] = f"""
        WITH per AS (
            SELECT source, count(*) AS n_docs,
                   sum(len({tokens})) AS n_tok
            FROM documents GROUP BY source
        ), tot AS (
            SELECT sum(n_tok) * 1.0 AS total FROM per
        ), sh AS (
            SELECT source, n_docs, n_tok,
                   round(n_tok / total, 6) AS share
            FROM per, tot
        ), tt AS (
            -- mirror the Spark side's one-ulp clamp: a share that
            -- rounds to 0 is up-sampled from the grid floor, never
            -- zeroed or divided into Inf/NaN
            SELECT *, round(pow(greatest(share, 0.000001), 0.5), 8) AS t
            FROM sh
        ), ts AS (
            SELECT round(sum(t), 8) AS tsum FROM tt
        )
        SELECT source,
               CAST(n_docs AS BIGINT) AS n_docs,
               CAST(n_tok AS BIGINT) AS n_tokens,
               share AS token_share,
               round(t / tsum, 6) AS target_share,
               round(round(t / tsum, 6) / greatest(share, 0.000001), 6)
                   AS mix_weight  -- same clamp as the Spark divisor
        FROM tt, ts
    """
    out["source_mixture_weights"] = f"""
        WITH per AS (
            SELECT source, count(*) AS n_docs,
                   sum(len({tokens})) AS n_tok
            FROM documents GROUP BY source
        ), tot AS (
            SELECT sum(n_tok) * 1.0 AS total, count(*) AS ns FROM per
        )
        SELECT source,
               CAST(n_docs AS BIGINT) AS n_docs,
               CAST(n_tok AS BIGINT) AS n_tokens,
               round(n_tok / total, 6) AS token_share,
               round((1.0 / ns) / (n_tok / total), 6) AS mix_weight
        FROM per, tot
    """
    # ER twin: identical registry perturbations, blocking passes,
    # hot-block cap, integer cross-multiplied Jaccard threshold, and
    # the recursive min-label reachability CC used by the minhash
    # clusters twin.
    _er_ctes = """
        reg AS (
            SELECT c_custkey * 10 AS rec_id,
                   concat_ws(' ', n_name, c_mktsegment,
                             CAST(c_custkey AS VARCHAR)) AS rec_name,
                   c_acctbal AS rec_balance, 'crm' AS rec_source
            FROM customer JOIN nation ON c_nationkey = n_nationkey
            UNION ALL
            SELECT c_custkey * 10 + 1,
                   upper(concat_ws(' ', c_mktsegment, n_name,
                                   CAST(c_custkey AS VARCHAR))),
                   c_acctbal, 'billing'
            FROM customer JOIN nation ON c_nationkey = n_nationkey
            UNION ALL
            SELECT c_custkey * 10 + 2,
                   concat_ws(' ', n_name, CAST(c_custkey AS VARCHAR)),
                   CAST(floor(c_acctbal) AS DOUBLE), 'legacy'
            FROM customer JOIN nation ON c_nationkey = n_nationkey
            WHERE c_custkey % 3 = 0
        ), toks AS (
            SELECT rec_id,
                   list_distinct(string_split(trim(regexp_replace(
                       regexp_replace(lower(rec_name),
                                      '[^a-z0-9一-鿿]+', ' ', 'g'),
                       '\\s+', ' ', 'g')), ' ')) AS tl
            FROM reg
        ), sorted_toks AS (
            SELECT rec_id, list_sort(tl) AS ls FROM toks
        ), blocks AS (
            SELECT DISTINCT rec_id, block_key FROM (
                SELECT rec_id, 'tok:' || t AS block_key
                FROM (SELECT rec_id, unnest(tl) AS t FROM toks)
                UNION ALL
                SELECT rec_id,
                       'del:' || md5(array_to_string(ls, ' ')) AS block_key
                FROM sorted_toks
                UNION ALL
                SELECT rec_id, 'del:' || h AS block_key
                FROM (
                    SELECT rec_id,
                           unnest(list_transform(
                               range(1, len(ls) + 1),
                               i -> md5(array_to_string(
                                   list_concat(ls[1:i-1], ls[i+1:len(ls)]),
                                   ' '))
                           )) AS h
                    FROM sorted_toks
                )
            )
        ), keep AS (
            SELECT block_key FROM blocks
            GROUP BY block_key HAVING count(*) <= 50
        ), cand AS (
            SELECT DISTINCT a.rec_id AS id_a, b.rec_id AS id_b
            FROM blocks a
            JOIN keep k ON k.block_key = a.block_key
            JOIN blocks b ON b.block_key = a.block_key
            WHERE a.rec_id < b.rec_id
        ), inv AS (
            SELECT rec_id, unnest(tl) AS t FROM toks
        ), sizes AS (
            SELECT rec_id, count(*) AS sz FROM inv GROUP BY rec_id
        ), inter AS (
            SELECT p.id_a, p.id_b, count(*) AS inter
            FROM cand p
            JOIN inv a ON a.rec_id = p.id_a
            JOIN inv b ON b.rec_id = p.id_b AND b.t = a.t
            GROUP BY p.id_a, p.id_b
        ), matched AS (
            SELECT i.id_a, i.id_b
            FROM inter i
            JOIN sizes sa ON sa.rec_id = i.id_a
            JOIN sizes sb ON sb.rec_id = i.id_b
            WHERE i.inter * 5 >= 3 * (sa.sz + sb.sz - i.inter)
        ), edges AS (
            SELECT id_a AS src, id_b AS dst FROM matched
            UNION ALL
            SELECT id_b AS src, id_a AS dst FROM matched
        ), reach AS (
            SELECT rec_id AS id, rec_id AS lbl FROM reg
            UNION
            SELECT e.dst AS id, r.lbl AS lbl
            FROM reach r JOIN edges e ON e.src = r.id
        ), comp AS (
            SELECT id AS rec_id, min(lbl) AS cluster_id
            FROM reach GROUP BY id
        )
    """
    out["entity_resolution_customers"] = f"""
        WITH RECURSIVE {_er_ctes}
        SELECT rec_id, cluster_id FROM comp
    """
    out["er_golden_records"] = f"""
        WITH RECURSIVE {_er_ctes}, gold AS (
            SELECT r.rec_id, r.rec_name, r.rec_balance, r.rec_source,
                   c.cluster_id
            FROM reg r JOIN comp c ON c.rec_id = r.rec_id
        ), named AS (
            SELECT cluster_id, rec_name,
                   row_number() OVER (
                       PARTITION BY cluster_id
                       ORDER BY length(rec_name) DESC, rec_name ASC
                   ) AS rn
            FROM gold
        )
        SELECT g.cluster_id,
               CAST(count(*) AS BIGINT) AS n_records,
               min(n.rec_name) AS golden_name,
               max(g.rec_balance) AS balance_max,
               CAST(count(DISTINCT g.rec_source) AS BIGINT) AS n_sources
        FROM gold g
        JOIN named n ON n.cluster_id = g.cluster_id AND n.rn = 1
        GROUP BY g.cluster_id
    """
    out["er_quality_audit"] = f"""
        WITH RECURSIVE {_er_ctes}, lab AS (
            SELECT c.cluster_id AS p, r.rec_id // 10 AS t
            FROM reg r JOIN comp c ON c.rec_id = r.rec_id
        ), pp AS (
            SELECT CAST(coalesce(sum((CAST(n AS HUGEINT) * (n - 1)) // 2), 0) AS BIGINT)
                   AS n_pred_pairs
            FROM (SELECT count(*) AS n FROM lab GROUP BY p)
        ), tp AS (
            SELECT CAST(coalesce(sum((CAST(n AS HUGEINT) * (n - 1)) // 2), 0) AS BIGINT)
                   AS n_true_pairs
            FROM (SELECT count(*) AS n FROM lab GROUP BY t)
        ), cp AS (
            SELECT CAST(coalesce(sum((CAST(n AS HUGEINT) * (n - 1)) // 2), 0) AS BIGINT)
                   AS n_common_pairs
            FROM (SELECT count(*) AS n FROM lab GROUP BY p, t)
        ), nr AS (
            SELECT CAST(count(*) AS BIGINT) AS n_records FROM lab
        )
        SELECT n_records, n_pred_pairs, n_true_pairs, n_common_pairs,
               CAST(CASE WHEN n_pred_pairs = 0 THEN 1000000
                    ELSE (CAST(n_common_pairs AS HUGEINT) * 1000000) // n_pred_pairs
                    END AS BIGINT) AS precision_ppm,
               CAST(CASE WHEN n_true_pairs = 0 THEN 1000000
                    ELSE (CAST(n_common_pairs AS HUGEINT) * 1000000) // n_true_pairs
                    END AS BIGINT) AS recall_ppm,
               CAST(CASE WHEN n_pred_pairs + n_true_pairs = 0 THEN 1000000
                    ELSE (CAST(n_common_pairs AS HUGEINT) * 2000000)
                         // (n_pred_pairs + n_true_pairs)
                    END AS BIGINT) AS f1_ppm
        FROM nr, pp, tp, cp
    """
    out["coreset_coverage_embeddings"] = """
        WITH c AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings
        ), reps AS (
            SELECT vec_id AS rep_id, cv AS rv FROM c
            WHERE vec_id % 25 = 0 AND vec_id < 2000
        ), per_point AS (
            SELECT c.vec_id,
                   max(CAST(round(
                       list_dot_product(c.cv, r.rv) /
                       (sqrt(list_dot_product(c.cv, c.cv)) *
                        sqrt(list_dot_product(r.rv, r.rv))) * 1000000
                   ) AS BIGINT)) AS cov
            FROM c CROSS JOIN reps r
            GROUP BY c.vec_id
        ), nrep AS (
            SELECT CAST(count(*) AS BIGINT) AS n_reps FROM reps
        )
        SELECT n_reps,
               CAST(count(*) AS BIGINT) AS n_corpus,
               CAST(CASE WHEN count(*) = 0 THEN 0
                    ELSE sum(cov) // count(*) END AS BIGINT)
                   AS mean_coverage_micro,
               CAST(min(cov) AS BIGINT) AS min_coverage_micro,
               CAST(sum(CASE WHEN cov >= 900000 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_covered_900k
        FROM per_point, nrep
        GROUP BY n_reps
    """
    # Incremental-assign twin: crm+billing resolved exactly as the
    # full twin (blocking → jaccard → recursive reachability), then
    # the legacy feed blocks against the base side only, scores the
    # same integer jaccard, and takes the (sim DESC, cluster ASC)
    # argmax per incoming record.
    def _ind_blocking(prefix: str, src: str) -> str:
        return f"""
        {prefix}toks AS (
            SELECT rec_id,
                   list_distinct(string_split(trim(regexp_replace(
                       regexp_replace(lower(rec_name),
                                      '[^a-z0-9一-鿿]+', ' ', 'g'),
                       '\\s+', ' ', 'g')), ' ')) AS tl
            FROM {src}
        ), {prefix}sorted AS (
            SELECT rec_id, list_sort(tl) AS ls FROM {prefix}toks
        ), {prefix}blocks AS (
            SELECT DISTINCT rec_id, block_key FROM (
                SELECT rec_id, 'tok:' || t AS block_key
                FROM (SELECT rec_id, unnest(tl) AS t FROM {prefix}toks)
                UNION ALL
                SELECT rec_id,
                       'del:' || md5(array_to_string(ls, ' ')) AS block_key
                FROM {prefix}sorted
                UNION ALL
                SELECT rec_id, 'del:' || h AS block_key
                FROM (
                    SELECT rec_id,
                           unnest(list_transform(
                               range(1, len(ls) + 1),
                               i -> md5(array_to_string(
                                   list_concat(ls[1:i-1], ls[i+1:len(ls)]),
                                   ' '))
                           )) AS h
                    FROM {prefix}sorted
                )
            )
        )"""

    out["er_incremental_assign"] = (
        """
        WITH RECURSIVE breg AS (
            SELECT c_custkey * 10 AS rec_id,
                   concat_ws(' ', n_name, c_mktsegment,
                             CAST(c_custkey AS VARCHAR)) AS rec_name
            FROM customer JOIN nation ON c_nationkey = n_nationkey
            UNION ALL
            SELECT c_custkey * 10 + 1,
                   upper(concat_ws(' ', c_mktsegment, n_name,
                                   CAST(c_custkey AS VARCHAR)))
            FROM customer JOIN nation ON c_nationkey = n_nationkey
        ), lreg AS (
            SELECT c_custkey * 10 + 2 AS rec_id,
                   concat_ws(' ', n_name, CAST(c_custkey AS VARCHAR))
                       AS rec_name
            FROM customer JOIN nation ON c_nationkey = n_nationkey
            WHERE c_custkey % 3 = 0
        ),"""
        + _ind_blocking("b", "breg")
        + ""","""
        + _ind_blocking("l", "lreg")
        + """, bkeep AS (
            SELECT block_key FROM bblocks
            GROUP BY block_key HAVING count(*) <= 50
        ), bcand AS (
            SELECT DISTINCT a.rec_id AS id_a, b.rec_id AS id_b
            FROM bblocks a
            JOIN bkeep k ON k.block_key = a.block_key
            JOIN bblocks b ON b.block_key = a.block_key
            WHERE a.rec_id < b.rec_id
        ), binv AS (
            SELECT rec_id, unnest(tl) AS t FROM btoks
        ), bsizes AS (
            SELECT rec_id, count(*) AS sz FROM binv GROUP BY rec_id
        ), binter AS (
            SELECT p.id_a, p.id_b, count(*) AS inter
            FROM bcand p
            JOIN binv a ON a.rec_id = p.id_a
            JOIN binv b ON b.rec_id = p.id_b AND b.t = a.t
            GROUP BY p.id_a, p.id_b
        ), bmatched AS (
            SELECT i.id_a, i.id_b
            FROM binter i
            JOIN bsizes sa ON sa.rec_id = i.id_a
            JOIN bsizes sb ON sb.rec_id = i.id_b
            WHERE i.inter * 5 >= 3 * (sa.sz + sb.sz - i.inter)
        ), bedges AS (
            SELECT id_a AS src, id_b AS dst FROM bmatched
            UNION ALL
            SELECT id_b AS src, id_a AS dst FROM bmatched
        ), breach AS (
            SELECT rec_id AS id, rec_id AS lbl FROM breg
            UNION
            SELECT e.dst AS id, r.lbl AS lbl
            FROM breach r JOIN bedges e ON e.src = r.id
        ), bcomp AS (
            SELECT id AS rec_id, min(lbl) AS cluster_id
            FROM breach GROUP BY id
        ), icand AS (
            SELECT DISTINCT l.rec_id AS in_id, b.rec_id AS ex_id
            FROM lblocks l
            JOIN bkeep k ON k.block_key = l.block_key
            JOIN bblocks b ON b.block_key = l.block_key
        ), linv AS (
            SELECT rec_id, unnest(tl) AS t FROM ltoks
        ), lsizes AS (
            SELECT rec_id, count(*) AS sz FROM linv GROUP BY rec_id
        ), iinter AS (
            SELECT p.in_id, p.ex_id, count(*) AS inter
            FROM icand p
            JOIN linv a ON a.rec_id = p.in_id
            JOIN binv b ON b.rec_id = p.ex_id AND b.t = a.t
            GROUP BY p.in_id, p.ex_id
        ), iscored AS (
            SELECT i.in_id, c.cluster_id AS cl,
                   (i.inter * 1000000)
                       // greatest(sa.sz + sb.sz - i.inter, 1) AS s
            FROM iinter i
            JOIN lsizes sa ON sa.rec_id = i.in_id
            JOIN bsizes sb ON sb.rec_id = i.ex_id
            JOIN bcomp c ON c.rec_id = i.ex_id
            WHERE i.inter * 5 >= 3 * (sa.sz + sb.sz - i.inter)
        ), ibest AS (
            SELECT in_id, cl FROM (
                SELECT in_id, cl,
                       row_number() OVER (
                           PARTITION BY in_id ORDER BY s DESC, cl ASC
                       ) AS rn
                FROM iscored
            ) WHERE rn = 1
        )
        SELECT l.rec_id AS id,
               coalesce(b.cl, l.rec_id) AS cluster_id,
               b.in_id IS NOT NULL AS matched
        FROM lreg l LEFT JOIN ibest b ON b.in_id = l.rec_id
    """
    )
    out["er_quality_audit_idf"] = (
        """
        WITH RECURSIVE wreg AS (
            SELECT c_custkey * 10 AS rec_id,
                   concat_ws(' ', n_name, c_mktsegment,
                             CAST(c_custkey AS VARCHAR)) AS rec_name
            FROM customer JOIN nation ON c_nationkey = n_nationkey
            UNION ALL
            SELECT c_custkey * 10 + 1,
                   upper(concat_ws(' ', c_mktsegment, n_name,
                                   CAST(c_custkey AS VARCHAR)))
            FROM customer JOIN nation ON c_nationkey = n_nationkey
            UNION ALL
            SELECT c_custkey * 10 + 2,
                   concat_ws(' ', n_name, CAST(c_custkey AS VARCHAR))
            FROM customer JOIN nation ON c_nationkey = n_nationkey
            WHERE c_custkey % 3 = 0
        ),"""
        + _ind_blocking("w", "wreg")
        + """, wkeep AS (
            SELECT block_key FROM wblocks
            GROUP BY block_key HAVING count(*) <= 50
        ), wcand AS (
            SELECT DISTINCT a.rec_id AS id_a, b.rec_id AS id_b
            FROM wblocks a
            JOIN wkeep k ON k.block_key = a.block_key
            JOIN wblocks b ON b.block_key = a.block_key
            WHERE a.rec_id < b.rec_id
        ), winv AS (
            SELECT rec_id, unnest(tl) AS t FROM wtoks
        ), wdf AS (
            SELECT t, CAST(1000000 // count(*) AS BIGINT) AS w
            FROM winv GROUP BY t
        ), wtot AS (
            SELECT i.rec_id, CAST(sum(d.w) AS BIGINT) AS tot
            FROM winv i JOIN wdf d USING (t) GROUP BY i.rec_id
        ), winter AS (
            SELECT p.id_a, p.id_b, CAST(sum(d.w) AS BIGINT) AS iw
            FROM wcand p
            JOIN winv a ON a.rec_id = p.id_a
            JOIN winv b ON b.rec_id = p.id_b AND b.t = a.t
            JOIN wdf d ON d.t = a.t
            GROUP BY p.id_a, p.id_b
        ), wmatched AS (
            SELECT x.id_a, x.id_b FROM (
                SELECT p.id_a, p.id_b,
                       coalesce(i.iw, 0) AS iw,
                       ta.tot + tb.tot - coalesce(i.iw, 0) AS uw
                FROM wcand p
                LEFT JOIN winter i
                       ON i.id_a = p.id_a AND i.id_b = p.id_b
                JOIN wtot ta ON ta.rec_id = p.id_a
                JOIN wtot tb ON tb.rec_id = p.id_b
            ) x WHERE x.iw * 5 >= 3 * x.uw
        ), wedges AS (
            SELECT id_a AS src, id_b AS dst FROM wmatched
            UNION ALL
            SELECT id_b AS src, id_a AS dst FROM wmatched
        ), wreach AS (
            SELECT rec_id AS id, rec_id AS lbl FROM wreg
            UNION
            SELECT e.dst AS id, r.lbl AS lbl
            FROM wreach r JOIN wedges e ON e.src = r.id
        ), wcomp AS (
            SELECT id AS rec_id, min(lbl) AS cluster_id
            FROM wreach GROUP BY id
        ), lab AS (
            SELECT c.cluster_id AS p, r.rec_id // 10 AS t
            FROM wreg r JOIN wcomp c ON c.rec_id = r.rec_id
        ), pp AS (
            SELECT CAST(coalesce(sum((CAST(n AS HUGEINT) * (n - 1)) // 2), 0) AS BIGINT)
                   AS n_pred_pairs
            FROM (SELECT count(*) AS n FROM lab GROUP BY p)
        ), tp AS (
            SELECT CAST(coalesce(sum((CAST(n AS HUGEINT) * (n - 1)) // 2), 0) AS BIGINT)
                   AS n_true_pairs
            FROM (SELECT count(*) AS n FROM lab GROUP BY t)
        ), cp AS (
            SELECT CAST(coalesce(sum((CAST(n AS HUGEINT) * (n - 1)) // 2), 0) AS BIGINT)
                   AS n_common_pairs
            FROM (SELECT count(*) AS n FROM lab GROUP BY p, t)
        ), nr AS (
            SELECT CAST(count(*) AS BIGINT) AS n_records FROM lab
        )
        SELECT n_records, n_pred_pairs, n_true_pairs, n_common_pairs,
               CAST(CASE WHEN n_pred_pairs = 0 THEN 1000000
                    ELSE (CAST(n_common_pairs AS HUGEINT) * 1000000) // n_pred_pairs
                    END AS BIGINT) AS precision_ppm,
               CAST(CASE WHEN n_true_pairs = 0 THEN 1000000
                    ELSE (CAST(n_common_pairs AS HUGEINT) * 1000000) // n_true_pairs
                    END AS BIGINT) AS recall_ppm,
               CAST(CASE WHEN n_pred_pairs + n_true_pairs = 0 THEN 1000000
                    ELSE (CAST(n_common_pairs AS HUGEINT) * 2000000)
                         // (n_pred_pairs + n_true_pairs)
                    END AS BIGINT) AS f1_ppm
        FROM nr, pp, tp, cp
    """
    )

    # ---- tuoyu institution-registry ER (reference corpus shape) ----
    # Registry twin of _tuoyu_institution_registry: the KV-block
    # round-trip is lossless by construction, so the twin builds the
    # typed fields directly; the resolution chain (blocking → idf
    # jaccard → recursive reachability) is the idf-oracle chain
    # re-instantiated on the name∪alias (or name-only) match key.
    _treg = """
        tbase AS (
            SELECT c_custkey AS k,
                   lower(n_name) AS nn,
                   lower(c_mktsegment) AS seg,
                   CAST(n_nationkey AS VARCHAR) AS region,
                   CAST(c_custkey AS VARCHAR) AS ks
            FROM customer JOIN nation ON c_nationkey = n_nationkey
        ), treg AS (
            SELECT k * 10 AS rec_id,
                   '托育园 机构' || ks || ' ' || nn AS name,
                   '托育园 机构' || ks || ' ' || nn AS alias,
                   'CC' || ks || 'A' AS credit_code,
                   CAST(strftime(DATE '2018-01-01' + CAST(k % 1461 AS INTEGER),
                        '%Y-%m-%d') || ' 08:30:00' AS TIMESTAMP)
                       AS registered_at,
                   region
            FROM tbase
            UNION ALL
            SELECT k * 10 + 1,
                   nn || ' 备案 托育中心',
                   '机构' || ks || ' 托育园',
                   'CC' || ks || 'B',
                   CAST(strftime(DATE '2018-01-01' + CAST(k % 1461 + 30 AS INTEGER),
                        '%Y-%m-%d') || ' 08:30:00' AS TIMESTAMP),
                   region
            FROM tbase
            UNION ALL
            SELECT k * 10 + 2,
                   '机构' || ks || ' ' || nn || ' ' || seg,
                   NULL,
                   'CC' || ks || 'C',
                   CAST(strftime(DATE '2018-01-01' + CAST(k % 1461 + 60 AS INTEGER),
                        '%Y-%m-%d') || ' 08:30:00' AS TIMESTAMP),
                   region
            FROM tbase WHERE k % 3 = 0
        )"""
    _tchain = """, wkeep AS (
            SELECT block_key FROM wblocks
            GROUP BY block_key HAVING count(*) <= 50
        ), wcand AS (
            SELECT DISTINCT a.rec_id AS id_a, b.rec_id AS id_b
            FROM wblocks a
            JOIN wkeep k ON k.block_key = a.block_key
            JOIN wblocks b ON b.block_key = a.block_key
            WHERE a.rec_id < b.rec_id
        ), winv AS (
            SELECT rec_id, unnest(tl) AS t FROM wtoks
        ), wdf AS (
            SELECT t, CAST(1000000 // count(*) AS BIGINT) AS w
            FROM winv GROUP BY t
        ), wtot AS (
            SELECT i.rec_id, CAST(sum(d.w) AS BIGINT) AS tot
            FROM winv i JOIN wdf d USING (t) GROUP BY i.rec_id
        ), winter AS (
            SELECT p.id_a, p.id_b, CAST(sum(d.w) AS BIGINT) AS iw
            FROM wcand p
            JOIN winv a ON a.rec_id = p.id_a
            JOIN winv b ON b.rec_id = p.id_b AND b.t = a.t
            JOIN wdf d ON d.t = a.t
            GROUP BY p.id_a, p.id_b
        ), wmatched AS (
            SELECT x.id_a, x.id_b FROM (
                SELECT p.id_a, p.id_b,
                       coalesce(i.iw, 0) AS iw,
                       ta.tot + tb.tot - coalesce(i.iw, 0) AS uw
                FROM wcand p
                LEFT JOIN winter i
                       ON i.id_a = p.id_a AND i.id_b = p.id_b
                JOIN wtot ta ON ta.rec_id = p.id_a
                JOIN wtot tb ON tb.rec_id = p.id_b
            ) x WHERE x.iw * 5 >= 3 * x.uw
        ), wedges AS (
            SELECT id_a AS src, id_b AS dst FROM wmatched
            UNION ALL
            SELECT id_b AS src, id_a AS dst FROM wmatched
        ), wreach AS (
            SELECT rec_id AS id, rec_id AS lbl FROM wreg
            UNION
            SELECT e.dst AS id, r.lbl AS lbl
            FROM wreach r JOIN wedges e ON e.src = r.id
        ), wcomp AS (
            SELECT id AS rec_id, min(lbl) AS cluster_id
            FROM wreach GROUP BY id
        )"""
    _taudit = """, lab AS (
            SELECT c.cluster_id AS p, r.rec_id // 10 AS t
            FROM treg r JOIN wcomp c ON c.rec_id = r.rec_id
        ), pp AS (
            SELECT CAST(coalesce(sum((CAST(n AS HUGEINT) * (n - 1)) // 2), 0)
                        AS BIGINT) AS n_pred_pairs
            FROM (SELECT count(*) AS n FROM lab GROUP BY p)
        ), tp AS (
            SELECT CAST(coalesce(sum((CAST(n AS HUGEINT) * (n - 1)) // 2), 0)
                        AS BIGINT) AS n_true_pairs
            FROM (SELECT count(*) AS n FROM lab GROUP BY t)
        ), cp AS (
            SELECT CAST(coalesce(sum((CAST(n AS HUGEINT) * (n - 1)) // 2), 0)
                        AS BIGINT) AS n_common_pairs
            FROM (SELECT count(*) AS n FROM lab GROUP BY p, t)
        ), nr AS (
            SELECT CAST(count(*) AS BIGINT) AS n_records FROM lab
        )
        SELECT n_records, n_pred_pairs, n_true_pairs, n_common_pairs,
               CAST(CASE WHEN n_pred_pairs = 0 THEN 1000000
                    ELSE (CAST(n_common_pairs AS HUGEINT) * 1000000)
                         // n_pred_pairs
                    END AS BIGINT) AS precision_ppm,
               CAST(CASE WHEN n_true_pairs = 0 THEN 1000000
                    ELSE (CAST(n_common_pairs AS HUGEINT) * 1000000)
                         // n_true_pairs
                    END AS BIGINT) AS recall_ppm,
               CAST(CASE WHEN n_pred_pairs + n_true_pairs = 0 THEN 1000000
                    ELSE (CAST(n_common_pairs AS HUGEINT) * 2000000)
                         // (n_pred_pairs + n_true_pairs)
                    END AS BIGINT) AS f1_ppm
        FROM nr, pp, tp, cp
    """

    def _tuoyu_sql(alias_aware: bool, final: str) -> str:
        key = (
            "t.name || COALESCE(' ' || t.alias, '')"
            if alias_aware
            else "t.name"
        )
        wreg = f""", wreg AS (
            SELECT rec_id, {key} AS rec_name FROM treg t
        ),"""
        return (
            "\n        WITH RECURSIVE "
            + _treg
            + wreg
            + _ind_blocking("w", "wreg")
            + _tchain
            + final
        )

    out["tuoyu_er_golden_records"] = _tuoyu_sql(
        True,
        """, g AS (
            SELECT t.rec_id, t.name, t.alias, t.credit_code,
                   t.registered_at, t.region, c.cluster_id
            FROM treg t JOIN wcomp c ON c.rec_id = t.rec_id
        ), agg AS (
            SELECT cluster_id,
                   CAST(count(*) AS BIGINT) AS n_records,
                   min(registered_at) AS first_registered,
                   min(region) AS region_code,
                   CAST(count(DISTINCT credit_code) AS BIGINT) AS n_filings
            FROM g GROUP BY cluster_id
        ), nm AS (
            SELECT cluster_id, name,
                   row_number() OVER (PARTITION BY cluster_id
                       ORDER BY length(name) DESC, name) AS rn
            FROM g
        ), al AS (
            SELECT cluster_id, coalesce(alias, '') AS a,
                   row_number() OVER (PARTITION BY cluster_id
                       ORDER BY length(coalesce(alias, '')) DESC,
                                coalesce(alias, '')) AS rn
            FROM g
        )
        SELECT agg.cluster_id, agg.n_records, nm.name AS golden_name,
               NULLIF(al.a, '') AS golden_alias, agg.first_registered,
               agg.region_code, agg.n_filings
        FROM agg
        JOIN nm ON nm.cluster_id = agg.cluster_id AND nm.rn = 1
        JOIN al ON al.cluster_id = agg.cluster_id AND al.rn = 1
    """,
    )
    out["tuoyu_er_quality_audit"] = _tuoyu_sql(True, _taudit)
    out["tuoyu_er_quality_audit_nameonly"] = _tuoyu_sql(False, _taudit)
    out["er_bcubed_audit"] = f"""
        WITH RECURSIVE {_er_ctes}, lab AS (
            SELECT c.cluster_id AS p, r.rec_id // 10 AS t
            FROM reg r JOIN comp c ON c.rec_id = r.rec_id
        ), cells AS (
            SELECT p, t, CAST(count(*) AS BIGINT) AS n
            FROM lab GROUP BY p, t
        ), psz AS (
            SELECT p, CAST(count(*) AS BIGINT) AS np FROM lab GROUP BY p
        ), tsz AS (
            SELECT t, CAST(count(*) AS BIGINT) AS nt FROM lab GROUP BY t
        ), terms AS (
            SELECT CAST(sum((CAST(c.n AS HUGEINT) * c.n * 1000000) // s.np)
                        AS BIGINT) AS sp,
                   CAST(sum((CAST(c.n AS HUGEINT) * c.n * 1000000) // z.nt)
                        AS BIGINT) AS sr
            FROM cells c JOIN psz s USING (p) JOIN tsz z USING (t)
        ), nr AS (
            SELECT CAST(count(*) AS BIGINT) AS n_records FROM lab
        ), pr AS (
            SELECT n_records,
                   CAST(CASE WHEN n_records = 0 THEN 1000000
                        ELSE coalesce(sp, 0) // n_records END AS BIGINT)
                       AS bcubed_precision_ppm,
                   CAST(CASE WHEN n_records = 0 THEN 1000000
                        ELSE coalesce(sr, 0) // n_records END AS BIGINT)
                       AS bcubed_recall_ppm
            FROM nr, terms
        )
        SELECT n_records, bcubed_precision_ppm, bcubed_recall_ppm,
               CAST(CASE WHEN bcubed_precision_ppm + bcubed_recall_ppm = 0
                    THEN 0
                    ELSE (2 * bcubed_precision_ppm * bcubed_recall_ppm)
                         // (bcubed_precision_ppm + bcubed_recall_ppm)
                    END AS BIGINT) AS bcubed_f1_ppm
        FROM pr
    """
    out["er_blocking_audit"] = f"""
        WITH RECURSIVE {_er_ctes}, tr AS (
            SELECT rec_id AS id, rec_id // 10 AS t FROM reg
        ), nr AS (
            SELECT CAST(count(*) AS BIGINT) AS n_records FROM tr
        ), ncp AS (
            SELECT CAST(count(*) AS BIGINT) AS n_cand_pairs FROM cand
        ), tp AS (
            SELECT CAST(coalesce(sum((CAST(n AS HUGEINT) * (n - 1)) // 2), 0) AS BIGINT)
                   AS n_true_pairs
            FROM (SELECT count(*) AS n FROM tr GROUP BY t)
        ), ctp AS (
            SELECT CAST(count(*) AS BIGINT) AS n_cand_true_pairs
            FROM cand c
            JOIN tr a ON a.id = c.id_a
            JOIN tr b ON b.id = c.id_b
            WHERE a.t = b.t
        )
        SELECT n_records, n_cand_pairs, n_true_pairs, n_cand_true_pairs,
               CAST(CASE WHEN n_true_pairs = 0 THEN 1000000
                    ELSE (CAST(n_cand_true_pairs AS HUGEINT) * 1000000)
                         // n_true_pairs
                    END AS BIGINT) AS pair_completeness_ppm,
               CAST(CASE WHEN n_records < 2 THEN 1000000
                    ELSE 1000000 - (CAST(n_cand_pairs AS HUGEINT) * 2000000)
                         // (CAST(n_records AS HUGEINT) * (n_records - 1))
                    END AS BIGINT) AS reduction_ratio_ppm
        FROM nr, ncp, tp, ctp
    """
    return out
