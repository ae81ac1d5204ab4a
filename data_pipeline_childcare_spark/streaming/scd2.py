"""Streaming SCD Type-2 maintenance: the dimension-history twin of
``operators/scd.scd2_history``, kept current by a ``foreachBatch``
head — each micro-batch of observations recomputes history for the
TOUCHED KEYS ONLY and splices it into the stored history.

Why observation-store + recompute-touched, not append-only interval
patching: an observation may arrive OUT OF ORDER (a backfill dated
before intervals already closed). Patching intervals in place under
out-of-order arrival is the classic SCD2 bug factory; recomputing the
touched keys from their full observation log is idempotent, order-
insensitive, and — because a micro-batch touches few keys — cheap:
per batch the recompute cost is (batch keys) × (observations per
key), never the whole dimension.

State layout reuses the versioned-snapshot commit convention of
``streaming/merge.py`` (new ``v{batch}`` directory per batch,
``_SUCCESS``-gated reads, crash-replay safe): one store for raw
observations, one for the spliced history. At 100 TB both stores are
key-partitioned so the splice rewrites only partitions containing
touched keys (or the same body targets a MERGE-capable format).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from data_pipeline_childcare_spark.io import resilient_checkpoint
from data_pipeline_childcare_spark.operators.scd import scd2_history
from data_pipeline_childcare_spark.streaming.merge import (
    _complete_versions,
    _prune_versions,
    _publish_version,
    _read_state,
)


def streaming_scd2_to_path(
    observations: DataFrame,
    target: str,
    checkpoint: str,
    key_col: str,
    attr_cols: list[str],
    ts_col: str,
    tiebreak_col: str,
) -> StreamingQuery:
    """Maintain SCD2 history under ``target`` from an observation
    stream (availableNow trigger — drain, then stop; the checkpoint
    resumes successive runs). ``target/obs/v*`` stores the
    observation log, ``target/hist/v*`` the current history; read the
    live view with :func:`read_scd2_history`."""
    schema = observations.schema
    obs_dir = os.path.join(target, "obs")
    hist_dir = os.path.join(target, "hist")

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_df = resilient_checkpoint(batch_df, eager=True)
        stored_obs = _read_state(spark, obs_dir, schema, before_batch=batch_id)
        new_obs = stored_obs.unionByName(batch_df)
        _publish_version(new_obs, obs_dir, batch_id)
        # recompute ONLY touched keys from their full observation log
        new_obs = _read_state(spark, obs_dir, schema, before_batch=batch_id + 1)
        touched = batch_df.select(F.col(key_col)).distinct()
        touched_hist = scd2_history(
            new_obs.join(F.broadcast(touched), key_col, "left_semi"),
            key_col,
            attr_cols,
            ts_col,
            tiebreak_col,
        )
        hist_schema = touched_hist.schema
        prev_hist = _read_state(spark, hist_dir, hist_schema, before_batch=batch_id)
        spliced = prev_hist.join(
            F.broadcast(touched), key_col, "left_anti"
        ).unionByName(touched_hist)
        _publish_version(spliced, hist_dir, batch_id)
        for d in (obs_dir, hist_dir):
            _prune_versions(d)

    return (
        observations.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def read_scd2_history(spark, target: str, schema) -> DataFrame:
    """Latest complete history snapshot."""
    hist_dir = os.path.join(target, "hist")
    vs = _complete_versions(hist_dir)
    if not vs:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(os.path.join(hist_dir, f"v{vs[-1]}"))
