"""Table IO: parquet star-schema loader + partitioned writers.

Mirrors the reference's sinks (SURVEY.md §2.1 S20/S21: per-province/
year partitioned text files, JSON dumps) with Spark-native writers:
``partitionBy`` parquet and ``df.write.json``. At 100 TB the reader
path matters most — we always load through ``spark.read.parquet`` so
column pruning and predicate pushdown reach the scan.
"""

from __future__ import annotations

import logging
import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# Columns stored as parquet TIMESTAMP(NANOS): with
# spark.sql.legacy.parquet.nanosAsLong they arrive as LongType
# epoch-nanos and are normalized here to TIMESTAMP_NTZ (micro
# truncation — the same thing the DuckDB oracle does on read).
NANOS_TS_COLS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


def load_table(spark: SparkSession, name: str, sf_dir: str = DEFAULT_SF_DIR) -> DataFrame:
    """Load one star-schema table from a scale-factor directory.

    Works under ANY caller-provided SparkSession: the nanos-parquet
    legacy conf is a runtime SQL conf, set here defensively (the
    harness may hand us a session built without our factory), and the
    nanos→ntz conversion goes through a timezone-independent
    timestampadd so a non-UTC session timezone cannot shift values.
    """
    if name in NANOS_TS_COLS:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    for col in NANOS_TS_COLS.get(name, ()):
        if col in df.columns and isinstance(df.schema[col].dataType, LongType):
            # integer `div`, NOT `/`: double division of epoch-nanos
            # (~1.7e18) rounds in the 53-bit mantissa and shifts
            # timestamps by ±1 µs. timestampadd over an NTZ epoch base
            # never consults the session timezone.
            df = df.withColumn(
                col,
                F.expr(
                    f"timestampadd(MICROSECOND, `{col}` div 1000, "
                    "TIMESTAMP_NTZ '1970-01-01 00:00:00')"
                ),
            )
    return df


def load_tables(
    spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR, names: tuple[str, ...] = TESTDATA_TABLES
) -> dict[str, DataFrame]:
    """Load all tables; also registers each as a temp view for spark.sql."""
    out: dict[str, DataFrame] = {}
    for name in names:
        df = load_table(spark, name, sf_dir)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def spread_partitions(df: DataFrame, *key_cols: str) -> DataFrame:
    """Ensure at least default-parallelism partitions before CPU-bound
    per-row work (tokenization, hashing, decode).

    A small parquet file arrives as ONE partition and serializes the
    whole pipeline behind one core; at real scale inputs already carry
    enough partitions and this is a no-op (no shuffle inserted).

    Scope: this guard exists for RAW SCANS — call it on the loaded
    table BEFORE composing joins/aggregations (every in-engine caller
    does). For any plan that already contains an exchange (shuffle,
    broadcast, or a cached relation), the decision is made STATICALLY
    and the function is a no-op:

    - probing ``df.rdd`` on such plans is not a metadata read —
      materializing the RDD under AQE EXECUTES the upstream
      shuffle/broadcast eagerly at plan-build time and throws the
      result away (observed as phantom Spark jobs during pure plan
      construction);
    - post-shuffle partition count is OWNED by
      ``spark.sql.shuffle.partitions`` — a session configured to 1
      partition has asked for 1 partition, and second-guessing it
      with an extra repartition would double-shuffle every pipeline.

    The RDD partition probe therefore runs only for exchange-free
    plans (bare scans/projections), where ``df.rdd`` is job-free.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    plan = df._jdf.queryExecution().executedPlan().toString()
    # anchor to node-name positions (line-leading operator names after
    # tree-drawing/codegen prefixes) so a column or path whose NAME
    # contains "Exchange" can't spuriously disable the spread
    if re.search(
        r"(?m)^[\s:+\-*()0-9]*"
        r"(Exchange|BroadcastExchange|ReusedExchange|AQEShuffleRead|InMemoryTableScan)\b",
        plan,
    ):
        return df
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target, *key_cols) if key_cols else df.repartition(target)


RELIABLE_CKPT_CONF = "spark.graft.checkpoint.reliable"
RELIABLE_CKPT_DIR_CONF = "spark.graft.checkpoint.dir"
DEFAULT_RELIABLE_CKPT_DIR = "/tmp/spark-graft-checkpoints"


def resilient_checkpoint(df: DataFrame, eager: bool = False) -> DataFrame:
    """The package's one lineage cut / materialization primitive —
    iterative loops (graph, ANN, tokenizer training), shared
    signature frames (dedup) and ER token sets all go through it — with
    a deployment escape hatch. ``tests/test_checkpoint_mode.py`` fails
    if ``.localCheckpoint(`` appears anywhere else in the package.

    Default: executor-local ``localCheckpoint`` — the fast path, but
    its blocks live on executors and the truncated lineage is
    non-recomputable, so on a real cluster with dynamic allocation or
    spot executors losing ONE executor mid-loop kills the job with no
    recovery (guide §5; r13 verdict #3). Setting the session conf
    ``spark.graft.checkpoint.reliable=true`` routes the SAME call
    sites through ``DataFrame.checkpoint()`` into a reliable
    checkpoint directory (``spark.graft.checkpoint.dir``, or the
    context's already-configured ``setCheckpointDir``; defaults to a
    local ``/tmp`` dir so the flag works out of the box on one box —
    point it at durable shared storage in production). Falling back to
    that default logs one warning: the fallback sets the context's
    checkpoint dir, so later calls find it set. Values are unchanged
    either way: both forms materialize the same rows; only where the
    blocks live differs."""
    spark = df.sparkSession
    if str(spark.conf.get(RELIABLE_CKPT_CONF, "false")).lower() != "true":
        return df.localCheckpoint(eager=eager)
    sc = spark.sparkContext
    if sc._jsc.sc().checkpointDir().isEmpty():
        ckpt_dir = spark.conf.get(RELIABLE_CKPT_DIR_CONF, None)
        if ckpt_dir is None:
            ckpt_dir = DEFAULT_RELIABLE_CKPT_DIR
            logging.getLogger(__name__).warning(
                "%s=true but neither %s nor the context's checkpoint dir "
                "is set: checkpointing to the local default %s, which does "
                "not survive the loss of this host. Point %s at durable "
                "shared storage.",
                RELIABLE_CKPT_CONF, RELIABLE_CKPT_DIR_CONF, ckpt_dir,
                RELIABLE_CKPT_DIR_CONF,
            )
        sc.setCheckpointDir(ckpt_dir)
    return df.checkpoint(eager=eager)


def held(df: DataFrame, key: tuple, build):
    """The package's one cross-call reuse: ``build()``'s value, kept on
    the ``df`` handle under ``key`` — built on the handle's first use,
    returned on every later call with that handle and key, freed with
    the handle. Indexes and trained models are held here and probed per
    call. A held value is a SNAPSHOT of the handle's inputs at the
    first build (the immutable-input contract); another handle over the
    same data (``df.select("*")``) builds its own. ``key`` names every
    build parameter and no probe-time one. Kept in the instance
    ``__dict__`` so a lookup never reaches ``DataFrame.__getattr__``'s
    column resolution (a JVM call)."""
    store = vars(df).setdefault("_spark_graft_held", {})
    if key not in store:
        store[key] = build()
    return store[key]


def write_partitioned(
    df: DataFrame, path: str, partition_cols: list[str], fmt: str = "parquet", mode: str = "overwrite"
) -> None:
    """Per-key partitioned sink.

    Spark-native restatement of the reference's per-province/year text
    sink (moe_majors_scraper.py:138-171): one directory per partition
    value instead of one hand-assembled file per key.
    """
    df.write.mode(mode).partitionBy(*partition_cols).format(fmt).save(path)


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """JSON dump sink (reference: tuoyu_scraper.py:92-96)."""
    df.write.mode(mode).json(path)


def write_table(
    df: DataFrame, path: str, fmt: str = "parquet", mode: str = "overwrite"
) -> None:
    """Format-generic sink: parquet / orc (columnar, schema carried in
    the files), json lines, or csv (header row; schema must be
    supplied on read). One write API so pipelines swap storage formats
    without code changes; columnar formats keep predicate pushdown and
    column pruning, the text formats exist for interchange."""
    writer = df.write.mode(mode)
    if fmt == "csv":
        # exact round-trip options: a sentinel nullValue keeps NULL
        # distinguishable from '' (Spark's CSV default reads empty as
        # null), and readers must set multiLine for embedded newlines
        writer = writer.option("header", "true").option("nullValue", "\\N")
    writer.format(fmt).save(path)


def read_table_format(
    spark: SparkSession, path: str, fmt: str = "parquet", schema=None
) -> DataFrame:
    """Format-generic reader paired with :func:`write_table`. For the
    self-describing formats (parquet/orc) ``schema`` is optional; for
    json/csv pass the schema to avoid a type-inference scan AND to
    keep types exact (inference reads longs where the writer had ints,
    strings where it had timestamps...)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    if fmt == "csv":
        reader = (
            reader.option("header", "true")
            .option("multiLine", "true")  # quoted embedded newlines
            .option("nullValue", "\\N")  # write_table's NULL sentinel
        )
    return reader.format(fmt).load(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed table for co-located joins.

    Two tables bucketed by the same key into the same bucket count
    join WITHOUT a shuffle — the physical plan reads bucket i of both
    sides into the same task. At 100 TB this is the difference between
    re-shuffling the fact table per query and paying the layout cost
    once at write time. (Bucket pruning also applies to equality
    filters on the bucket key.)
    """
    writer = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def zorder_value(x: Column, y: Column, bits: int = 8) -> Column:
    """Morton (Z-order) interleave of two ``bits``-wide non-negative
    integer bucket ids — pure JVM bit expressions, engine-portable
    (the oracle replays the same shifts/masks).

    Sorting by the interleaved value gives files locality in BOTH
    dimensions at once, so file-level min/max zone maps prune
    two-dimensional range predicates — the property linear sort keys
    lack (sorting by x alone leaves y spread across every file)."""
    terms = []
    for b in range(bits):
        terms.append(
            (F.shiftright(x, b).bitwiseAND(F.lit(1))) * F.lit(1 << (2 * b))
        )
        terms.append(
            (F.shiftright(y, b).bitwiseAND(F.lit(1))) * F.lit(1 << (2 * b + 1))
        )
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def write_zordered(
    df: DataFrame,
    path: str,
    x_col: str,
    y_col: str,
    bits: int = 8,
    n_files: int = 32,
    mode: str = "overwrite",
) -> None:
    """Z-order-clustered parquet sink: bucket both integral dimensions
    by exact min-max scaling, interleave to a Morton key, range-
    partition + sort by it, write ``n_files``-ish files. Readers with
    2-D range predicates then skip most files on parquet zone maps
    (see tests/test_zorder.py for the measured file-overlap win).

    At 100 TB this is the Delta/Iceberg OPTIMIZE ZORDER layout pass
    expressed in vanilla Spark: one agg for the bounds, one range
    exchange keyed by the Morton value, one in-partition sort."""
    stats = df.agg(
        F.min(x_col).alias("_mn_x"),
        F.max(x_col).alias("_mx_x"),
        F.min(y_col).alias("_mn_y"),
        F.max(y_col).alias("_mx_y"),
    )
    with_z = (
        df.join(F.broadcast(stats))
        .withColumn(
            "_bx",
            F.expr(
                f"(( {x_col} - _mn_x) * {1 << bits}) div (_mx_x - _mn_x + 1)"
            ),
        )
        .withColumn(
            "_by",
            F.expr(
                f"(( {y_col} - _mn_y) * {1 << bits}) div (_mx_y - _mn_y + 1)"
            ),
        )
        .withColumn("_z", zorder_value(F.col("_bx"), F.col("_by"), bits))
        .drop("_mn_x", "_mx_x", "_mn_y", "_mx_y", "_bx", "_by")
    )
    (
        with_z.repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode(mode)
        .parquet(path)
    )


def zorder_value_n(cols: list[Column], bits: int = 8) -> Column:
    """N-dimensional Morton interleave: bit b of column d lands at
    position ``b·N + d``. Generalizes :func:`zorder_value` (which is
    the N=2 case with x=d0, y=d1) for layouts clustered on three or
    more range-predicate dimensions; beyond ~4 dimensions the bits
    per dimension (and the pruning power) drop fast — prefer
    partitioning on the extra dimensions instead."""
    n = len(cols)
    terms = []
    for b in range(bits):
        for d, c in enumerate(cols):
            terms.append(
                (F.shiftright(c, b).bitwiseAND(F.lit(1))) * F.lit(1 << (b * n + d))
            )
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


def parquet_file_inventory(spark: SparkSession, path: str) -> list[tuple[str, int]]:
    """(file_path, bytes) for every data file under ``path`` — the
    planning input for :func:`compact_parquet_dir`. Goes through the
    Hadoop FileSystem API (so HDFS/S3A/local all answer) and touches
    ONLY metadata; no data is read."""
    jvm = spark.sparkContext._jvm
    jsc = spark.sparkContext._jsc
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(jsc.hadoopConfiguration())
    out: list[tuple[str, int]] = []
    it = fs.listFiles(hpath, True)
    while it.hasNext():
        st = it.next()
        name = st.getPath().getName()
        if name.startswith("_") or name.startswith("."):
            continue
        out.append((st.getPath().toString(), int(st.getLen())))
    return sorted(out)


def compact_parquet_dir(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    min_files_to_compact: int = 2,
) -> dict:
    """Small-files compaction — the OPTIMIZE/maintenance pass every
    long-running ingest needs: streaming sinks, per-key sinks and
    incremental merges all accrete files far below the scan-efficient
    size, and at 100 TB a million 1 MB files costs more in task
    scheduling and footer reads than the data itself.

    Plan: the file inventory (metadata only) sizes the output —
    ``n_out = ceil(total_bytes / target_file_bytes)`` — then ONE job
    reads the directory and writes ``n_out`` files via
    ``repartition`` (a round-robin exchange: outputs land uniformly
    at ~target size regardless of input skew). The rewrite goes to a
    sibling temp dir first and swaps in with two FS renames — a
    reader never sees a PARTIAL MIX of old and new files, but the
    swap is NOT atomic for concurrent readers: between the two
    renames the path briefly does not exist (a reader listing at
    that instant errors and should retry), and a crash in the window
    leaves the data whole under ``<path>__compact_old`` (recovered
    automatically by the stale-swap sweep at the start of the next
    compact call). Run compaction when no readers race the swap, or
    front it with a catalog/manifest pointer swap. Rows —
    not their order — are preserved: parquet directories are
    unordered by contract (same as every OPTIMIZE implementation).

    Returns {files_before, files_after, bytes_before, bytes_after,
    compacted} — ``compacted`` False means the directory was already
    within policy (fewer than ``min_files_to_compact`` data files or
    every file already ≥ half the target) and NOTHING was touched.
    """
    import math  # noqa: PLC0415

    jvm = spark.sparkContext._jvm
    jsc = spark.sparkContext._jsc
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(jsc.hadoopConfiguration())
    tmp = jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + "__compact_tmp")
    bak = jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + "__compact_old")
    # Stale-swap sweep FIRST — before the inventory read: a prior
    # crash can strand __compact_old with ``path`` itself missing
    # (data moved aside, new files never swapped in); reading the
    # inventory before recovering would throw FileNotFoundException
    # and the promised automatic recovery would never run. The sweep
    # also discards a half-written __compact_tmp (rename into a live
    # destination would otherwise fail or NEST on HDFS semantics).
    if fs.exists(bak):
        if not fs.exists(hpath):
            if not fs.rename(bak, hpath):
                raise IOError(
                    f"compact recovery failed: could not restore {bak} to {path}"
                )
        else:
            # both exist: the prior run crashed after the second
            # rename but before deleting the backup — old copy is dead
            fs.delete(bak, True)
    if fs.exists(tmp):
        fs.delete(tmp, True)

    inv = parquet_file_inventory(spark, path)
    total = sum(sz for _, sz in inv)
    if len(inv) < min_files_to_compact or all(
        sz >= target_file_bytes // 2 for _, sz in inv
    ):
        return {
            "files_before": len(inv),
            "files_after": len(inv),
            "bytes_before": total,
            "bytes_after": total,
            "compacted": False,
        }
    n_out = max(1, math.ceil(total / target_file_bytes))
    spark.read.parquet(path).repartition(n_out).write.mode("overwrite").parquet(
        tmp.toString()
    )
    if not fs.rename(hpath, bak):
        raise IOError(f"compact swap failed: could not move {path} aside")
    if not fs.rename(tmp, hpath):
        fs.rename(bak, hpath)  # roll back — the directory is whole again
        raise IOError(f"compact swap failed: could not move new files into {path}")
    fs.delete(bak, True)
    after = parquet_file_inventory(spark, path)
    return {
        "files_before": len(inv),
        "files_after": len(after),
        "bytes_before": total,
        "bytes_after": sum(sz for _, sz in after),
        "compacted": True,
    }


def rowgroup_stats(
    spark: SparkSession,
    path: str,
    columns: list[str] | None = None,
) -> DataFrame:
    """Distributed parquet ROW-GROUP statistics profile — the
    zone-map inspection a layout pass (:func:`write_zordered`,
    :func:`compact_parquet_dir`) is judged by:

        (file, row_group, column, n_rows, null_count,
         min_value, max_value, compressed_bytes)

    min/max land as strings (parquet stats are per-type; stringifying
    keeps one schema over mixed columns — numeric consumers cast
    back). The file LIST comes from the metadata-only inventory; the
    footers are read in parallel on executors via pyarrow in an
    Arrow-batched stage — no data pages are touched, so profiling a
    100 TB table costs one footer read per file. Each executor
    resolves a pyarrow filesystem FROM THE FILE URI
    (``pyarrow.fs.FileSystem.from_uri`` — hdfs://, s3a:///s3://,
    file:/ and bare local paths all open through the right FS), so
    the profile works wherever the executors can reach the storage,
    not only on a shared local filesystem. Clustering quality
    falls out directly: tight per-group [min, max] spans on the sort/
    z-order key mean scans prune; spans covering the whole domain
    mean the layout is doing nothing.
    """
    import pandas as pd  # noqa: PLC0415

    files = [p for p, _ in parquet_file_inventory(spark, path)]
    fdf = spark.createDataFrame([(f,) for f in files], "file string").repartition(
        min(len(files), spark.sparkContext.defaultParallelism) or 1
    )
    want = columns

    def read_footers(batches):
        import pyarrow.fs as pafs  # noqa: PLC0415
        import pyarrow.parquet as pq  # noqa: PLC0415

        def open_metadata(fpath):
            # hdfs://... / s3://... / file:/... → the URI names the
            # filesystem; s3a:// is Hadoop spelling for S3. Hadoop
            # emits single-slash file:/x URIs pyarrow's parser
            # rejects, so local URIs are normalized by hand; bare
            # paths fall back to the local FS.
            if fpath.startswith("file:"):
                rel = fpath[len("file:"):]
                while rel.startswith("//"):
                    rel = rel[1:]
                fs = pafs.LocalFileSystem()
            else:
                uri = fpath.replace("s3a://", "s3://", 1)
                try:
                    fs, rel = pafs.FileSystem.from_uri(uri)
                except Exception:  # bare local path, no scheme
                    fs, rel = pafs.LocalFileSystem(), fpath
            with fs.open_input_file(rel) as f:
                # FileMetaData is fully parsed at open; safe past close
                return pq.ParquetFile(f).metadata

        for pdf in batches:
            out = {
                "file": [], "row_group": [], "column": [], "n_rows": [],
                "null_count": [], "min_value": [], "max_value": [],
                "compressed_bytes": [],
            }
            for fpath in pdf["file"]:
                md = open_metadata(fpath)
                for g in range(md.num_row_groups):
                    rg = md.row_group(g)
                    for c in range(rg.num_columns):
                        col = rg.column(c)
                        name = col.path_in_schema
                        if want and name not in want:
                            continue
                        st = col.statistics
                        out["file"].append(fpath)
                        out["row_group"].append(g)
                        out["column"].append(name)
                        out["n_rows"].append(rg.num_rows)
                        out["null_count"].append(
                            st.null_count if st is not None else None
                        )
                        out["min_value"].append(
                            str(st.min) if st is not None and st.has_min_max else None
                        )
                        out["max_value"].append(
                            str(st.max) if st is not None and st.has_min_max else None
                        )
                        out["compressed_bytes"].append(col.total_compressed_size)
            yield pd.DataFrame(out)

    return fdf.mapInPandas(
        read_footers,
        schema=(
            "file string, row_group int, column string, n_rows long, "
            "null_count long, min_value string, max_value string, "
            "compressed_bytes long"
        ),
    )
