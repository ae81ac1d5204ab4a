"""Connected components over near-duplicate pair graphs.

``minhash_dedup_portable`` drops a doc that is near-dup of ANY
smaller id — "connected-component-lite". That under-merges chains
(A~B, B~C, but A!~C leaves C keyed to B which is gone). The correct
cluster id is the connected component, computed here by iterative
min-label propagation — the standard large-graph formulation
(alternating small/large-star in spirit), expressed entirely as
DataFrame joins:

  label(v) ← min(label(v), min over neighbors u of label(u))

iterated to a fixed point. Each iteration is two shuffles (join +
groupBy); near-dup graphs converge in O(log diameter) iterations and
dup-cluster diameters are tiny in practice, so ``max_iter`` defaults
low with an early-exit convergence check (an AGGREGATE over the label
frame — cheap relative to the iteration itself).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_pipeline_childcare_spark.io import resilient_checkpoint


def connected_components(
    pairs: DataFrame,
    max_iter: int = 10,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """(id_a, id_b) edges → (id, component) with component = min member
    id of the connected component.

    Each iteration materializes the label frame with a
    ``resilient_checkpoint`` — iterative DataFrame loops otherwise
    grow the lineage (and planning time) linearly with the iteration count.
    """
    n_part = int(pairs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    # dst-keyed layout + LAZY checkpoint (r13): the loop's first join
    # keys edges on dst against labels keyed on id, so a dst-
    # partitioned edge frame joins every iteration with NO exchange
    # (the checkpoint scan advertises its hash partitioning). Lazy:
    # the first consumer materializes it — an eager checkpoint here
    # was one extra job of pure scheduling latency.
    edges = resilient_checkpoint(
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        .repartition(n_part, F.col("dst"))
    )
    # 1-hop initialization: label(v) = min(v, min direct neighbor).
    # This is iteration 1 of min-label propagation computed as a bare
    # aggregate over the symmetrized edges — the SAME single shuffle
    # the old `distinct` node-set build paid, but it saves one full
    # join+aggregate+checkpoint round from the loop (the dominant
    # per-round cost on billion-edge graphs; dup-cluster graphs with
    # diameter 1 now converge at the first in-loop stability check).
    # the groupBy leaves labels hash-partitioned on id, the SAME layout
    # every later iteration re-establishes, so both loop joins
    # (edges.dst = labels.id, then labels.id = neighbor_min.src) are
    # exchange-free: the only shuffle per iteration is the groupBy(src)
    labels = resilient_checkpoint(
        edges.groupBy(F.col("src").alias("id"))
        .agg(F.min("dst").alias("_m"))
        .select("id", F.least(F.col("id"), F.col("_m")).alias("component"))
    )
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("component").alias("nbr_component"))
        )
        # The convergence flag rides the SAME join that computes the
        # new label (a label only ever decreases, so "changed" is
        # exactly "a neighbor offered something smaller") — the old
        # separate new⋈old comparison join cost one extra two-sided
        # shuffle per iteration for information this join already has.
        # Lazy checkpoint: the changed-count below materializes it in
        # the same job (the old eager checkpoint + count pair cost two
        # jobs per iteration of pure scheduling latency).
        new_labels = resilient_checkpoint(
            labels.join(neighbor_min, labels.id == neighbor_min.src, "left")
            .select(
                "id",
                F.least(
                    F.col("component"), F.coalesce(F.col("nbr_component"), F.col("component"))
                ).alias("component"),
                (F.coalesce(F.col("nbr_component"), F.col("component")) < F.col("component")).alias(
                    "_changed"
                ),
            )
        )
        changed = new_labels.filter(F.col("_changed")).limit(1).count()
        labels = new_labels.drop("_changed")
        if changed == 0:
            break
    return labels


def dedup_by_components(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 10,
) -> DataFrame:
    """Keep one representative (the min id) per near-dup component;
    rows not in any pair survive untouched."""
    comps = connected_components(pairs, max_iter)
    drop = comps.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col)
    )
    return df.join(drop, id_col, "left_anti")
