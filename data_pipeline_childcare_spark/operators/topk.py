"""Per-group top-k and the reference's order-dependent global dedup.

Reference semantics (retrieve.py:335-387): tasks are processed in
order; each takes its top-k candidates by score, skipping chunk_ids
already claimed by an earlier task. That is order-dependent imperative
logic; the Spark restatement is two stacked windows (SURVEY.md §2.5 W2):

  1. rank candidates per item by task priority (first task wins a
     contested item),
  2. rank the surviving candidates per task by score and keep k.

Windowed row_number is the scalable top-k shape: no global sort, each
partition key sorts independently, AQE balances skew.

``top_k_sequential_dedup`` is the literal task-by-task restatement.
When every task ranks the SAME candidates by the same score (X-Pilot's
reranked list), sequential dedup reduces to slicing one ranking —
``plans.retrieval.xpilot_retrieval`` does that instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _orderable(dt: T.DataType) -> bool:
    """Whether a type admits binary comparison (MapType does not)."""
    if isinstance(dt, T.MapType):
        return False
    if isinstance(dt, T.ArrayType):
        return _orderable(dt.elementType)
    if isinstance(dt, T.StructType):
        return all(_orderable(f.dataType) for f in dt.fields)
    return True


def _fixed_width(dt: T.DataType) -> bool:
    """Whether a type is fixed-width (cheap to build and compare inside
    a struct-min agg key). Var-length fields (strings, binaries,
    arrays) make each struct comparison walk bytes and the aggregate
    buffer non-mutable — measured slower than the row_number window
    they were meant to replace (r13)."""
    return isinstance(
        dt,
        (
            T.NumericType,
            T.BooleanType,
            T.DateType,
            T.TimestampType,
            T.TimestampNTZType,
        ),
    )


def top_k_per_group(
    df: DataFrame,
    group_col: str,
    order_col: str,
    k: int,
    ascending: bool = False,
    tie_col: str | None = None,
) -> DataFrame:
    """Keep the top k rows per group (deterministic via tie_col)."""
    order = [F.col(order_col).asc() if ascending else F.col(order_col).desc()]
    if tie_col:
        order.append(F.col(tie_col))
    w = Window.partitionBy(group_col).orderBy(*order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def top_k_with_global_dedup(
    candidates: DataFrame,
    task_col: str = "task_id",
    item_col: str = "item_id",
    score_col: str = "score",
    priority_col: str | None = None,
    k: int = 20,
) -> DataFrame:
    """Per-task top-k where each item may be claimed by only one task.

    ``priority_col`` defines task precedence (defaults to task id order,
    making the reference's implicit iteration order explicit and
    deterministic). Returns the winning (task, item, score) rows.
    """
    prio = F.col(priority_col) if priority_col else F.col(task_col)
    # Stage 1: an item contested by several tasks goes to the
    # highest-priority task. The claim is a k=1 top — an ARGMIN
    # aggregate, not a window: min(struct(prio, key, payload)) over
    # the item group replaces sort + WindowGroupLimit with a map-side-
    # combinable hash aggregate (same exchange on item, two fewer
    # sorts). The key must reproduce the window's `desc(score)`
    # ordering exactly, including the edges struct-min would otherwise
    # invert: desc puts NaN FIRST (Spark orders NaN above every
    # number) and NULL LAST (desc defaults to NULLS LAST), while a
    # bare -score struct field sorts NULL first and -NaN(=NaN) last.
    # A (class, -score) pair restores it: NaN→0, value→1, NULL→2.
    other = [c for c in candidates.columns if c != item_col]
    score_dt = candidates.schema[score_col].dataType
    floating = isinstance(score_dt, (T.FloatType, T.DoubleType))
    prio_dt = (
        candidates.schema[priority_col].dataType
        if priority_col
        else candidates.schema[task_col].dataType
    )
    if (
        not isinstance(score_dt, T.NumericType)
        or not all(_orderable(candidates.schema[c].dataType) for c in other)
        or not _fixed_width(prio_dt)
        or not all(_fixed_width(candidates.schema[c].dataType) for c in other)
    ):
        # Struct comparison needs every field orderable and the key
        # negation needs a numeric score; and the argmin only beats the
        # window when every struct field is fixed-width — a string
        # task id in the buffer forces SortAggregate (same sort as the
        # window, plus per-row struct construction; measured 0.33 s →
        # 0.29 s at sf0.1 by taking the window path instead, r13).
        # Fall back to the original window claim (identical ordering
        # semantics, test-pinned for NULL/NaN/LONG_MIN edges).
        w_claim = Window.partitionBy(item_col).orderBy(prio, F.desc(score_col))
        claimed = (
            candidates.withColumn("_claim", F.row_number().over(w_claim))
            .filter(F.col("_claim") == 1)
            .drop("_claim")
        )
        return top_k_per_group(claimed, task_col, score_col, k, tie_col=item_col)
    score = F.col(score_col)
    cls = F.when(score.isNull(), F.lit(2))
    if floating:
        cls = cls.when(F.isnan(score), F.lit(0))
    cls = cls.otherwise(F.lit(1))
    # integral scores negate through DECIMAL: -LONG_MIN overflows the
    # long domain (ANSI mode throws, legacy mode wraps so the WORST
    # score would win the claim); decimal(20,0) covers the full long
    # range exactly and orders identically. Float/decimal negation is
    # already symmetric-safe.
    integral = isinstance(
        score_dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
    )
    neg = (-score.cast("decimal(20,0)")) if integral else (-score)
    win = F.min(
        F.struct(
            prio.alias("_p"),
            cls.alias("_c"),
            neg.alias("_ns"),
            *[F.col(c).alias(c) for c in other],
        )
    ).alias("_w")
    claimed = (
        candidates.groupBy(item_col)
        .agg(win)
        .select(item_col, *[F.col(f"_w.{c}").alias(c) for c in other])
    )
    # Stage 2: per-task top-k by score.
    return top_k_per_group(claimed, task_col, score_col, k, tie_col=item_col)


def top_k_sequential_dedup(
    candidates: DataFrame,
    task_order: list[str],
    task_col: str = "task_id",
    item_col: str = "item_id",
    score_col: str = "score",
    k: int = 20,
) -> DataFrame:
    """Reference-faithful sequential dedup (retrieve.py:335-387): task
    i takes its top-k, LATER tasks only see what remains. Differs from
    ``top_k_with_global_dedup`` when tasks share an inventory — there
    the claim stage hands a contested item to the top task even beyond
    its k, starving later tasks.

    ``task_order`` is plan metadata (a handful of tasks per request in
    the reference), so the loop composes ~len(task_order) anti-joins
    into one lazy plan — still fully distributed per stage; the used-
    set never leaves the cluster. Each anti-join re-derives the earlier
    tasks' picks, so use this only when tasks have DIFFERENT candidate
    sets or scores; when all tasks share one scored list, task j's
    picks are ranks j*k+1 .. (j+1)*k of it (see xpilot_retrieval).
    """
    if not task_order:
        raise ValueError("task_order must be non-empty")
    used: DataFrame | None = None
    outs: list[DataFrame] = []
    for t in task_order:
        cand_t = candidates.filter(F.col(task_col) == t)
        if used is not None:
            cand_t = cand_t.join(used, [item_col], "left_anti")
        take = top_k_per_group(cand_t, task_col, score_col, k, tie_col=item_col)
        outs.append(take)
        taken_items = take.select(item_col)
        used = taken_items if used is None else used.unionByName(taken_items)
    result = outs[0]
    for o in outs[1:]:
        result = result.unionByName(o)
    return result
