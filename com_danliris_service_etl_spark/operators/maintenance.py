"""Data-layout maintenance: the table-keeping a 100 TB deployment needs
between query runs.

The reference never compacts — each nightly run INSERTs its batch and SQL
Server's storage engine hides the layout (`Pembelian/run.js:313`). On a
parquet/object-store lake the layout IS the performance: a nightly
incremental MERGE leaves one small file per micro-batch per partition,
and a year of nightlies turns every scan into an open-file storm (listing
+ footer reads dominate, row-group skipping stops working). These
operators keep the layout healthy with Spark-native building blocks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from com_danliris_service_etl_spark.sources import fsutil

DEFAULT_TARGET_FILE_BYTES = 128 * 1024 * 1024


def fact_layout_stats(spark: SparkSession, path: str) -> dict:
    """File-level layout report for a parquet fact: file count, total
    bytes, mean file size. Hadoop-FS metadata listing only (never data,
    any scheme — `sources/fsutil.py`) — the signal `compact_small_files`
    acts on, and the number an
    operator alerts on (mean_bytes far below the target ⇒ compact)."""
    sizes = fsutil.parquet_file_sizes(spark, path)
    return {
        "n_files": len(sizes),
        "total_bytes": sum(sizes),
        "mean_bytes": (sum(sizes) // len(sizes)) if sizes else 0,
    }


def compact_small_files(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES,
    partition_by: tuple[str, ...] = (),
) -> dict:
    """Rewrite a parquet fact into ~target-sized files.

    The partition count is sized from the data (total_bytes /
    target_file_bytes), not the core count, and applied with
    `repartition` — a round-robin full shuffle that equalizes output file
    sizes regardless of input skew. `coalesce` would be shuffle-free but
    inherits upstream skew and caps parallelism of the read stage, so it
    is the wrong tool for a layout rewrite whose entire point is uniform
    files. With ``partition_by`` the repartition keys on the partition
    columns so each output directory is written by few tasks (no
    N-files-per-partition-per-task explosion).

    The rewrite replaces the fact crash-safely (`fsutil.replace_store`,
    whose docstring states the protocol: a crash leaves either the old or
    the new layout intact; one writer per fact at a time, which the
    nightly DAG's per-fact serialization already gives). On Delta/Iceberg
    deployments this whole operator is `OPTIMIZE`; this is the
    plain-parquet equivalent. Returns {before, after} layout stats."""
    report = {}

    def write(committed: bool, tmp: str) -> bool:
        # stats are taken after replace_store's crash recovery, so a
        # half-swapped layout is measured as restored
        report["before"] = before = fact_layout_stats(spark, path)
        n_parts = max(1, -(-before["total_bytes"] // target_file_bytes))
        # no partition columns: a round-robin repartition
        df = spark.read.parquet(path).repartition(n_parts, *[F.col(c) for c in partition_by])
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(tmp)
        return True

    fsutil.replace_store(spark, path, write)
    report["after"] = fact_layout_stats(spark, path)
    return report


def write_partitioned_fact(
    df: DataFrame,
    path: str,
    date_col: str,
    max_records_per_file: int = 5_000_000,
) -> None:
    """Date-partitioned fact layout: `PARTITIONED BY (date)` directories so
    incremental readers (watermark scans, per-day reprocessing) prune at
    the DIRECTORY level — zero I/O for untouched days, which is the
    difference between a nightly job reading one day and reading the whole
    100 TB fact. `maxRecordsPerFile` bounds the largest file a hot day can
    produce; the per-day repartition keeps each directory written by one
    task under normal volume."""
    dated = df.withColumn("__p_date", F.to_date(F.col(date_col)))
    (
        dated.repartition(F.col("__p_date"))
        .write.mode("overwrite")
        .option("maxRecordsPerFile", max_records_per_file)
        .partitionBy("__p_date")
        .parquet(path)
    )


ZORDER_BITS = 8


def zorder_value(
    df: DataFrame, col_x: str, col_y: str, bits: int = ZORDER_BITS
) -> DataFrame:
    """Two-dimensional Z-order (Morton) key over numeric columns: each
    column is linearly bucketed to ``bits`` bits against its global
    min/max (one tiny 1-row aggregate, broadcast back — never a sort),
    then the bucket bits are interleaved so points close in BOTH
    dimensions get close z-values. Pure integer arithmetic — identical
    on any engine — emitted as (`__bx`, `__by`, `zvalue`).

    Value-based bucketing (vs rank/ntile) is the deliberate scale
    choice: ntile needs a global total order (a single-partition window
    or a full range shuffle per dimension); min/max bucketing is one
    broadcast row. The cost is bucket skew under heavily non-uniform
    value distributions — acceptable for a LAYOUT key, where skewed
    buckets only mean some files cover narrower value ranges."""
    mm = df.agg(
        F.min(col_x).cast("double").alias("__minx"),
        F.max(col_x).cast("double").alias("__maxx"),
        F.min(col_y).cast("double").alias("__miny"),
        F.max(col_y).cast("double").alias("__maxy"),
    )
    n_buckets = 1 << bits
    def bucket(c, lo, hi):
        # min-max normalize to [0,1] then scale: the full bucket range
        # is used for ANY value span (a +1 fudge in the denominator
        # would collapse float columns with span < 1 — e.g. scores in
        # [0, 0.003] — into bucket 0 and defeat the clustering); the max
        # value is clamped into the top bucket, degenerate hi==lo
        # collapses to bucket 0.
        span = F.col(hi) - F.col(lo)
        frac = F.when(
            span > 0, (F.col(c).cast("double") - F.col(lo)) / span
        ).otherwise(F.lit(0.0))
        return F.least(
            F.floor(frac * F.lit(float(n_buckets))).cast("long"),
            F.lit(n_buckets - 1),
        )

    z = None
    for i in range(bits):
        bit_x = F.shiftrightunsigned(F.col("__bx"), i).bitwiseAND(F.lit(1))
        bit_y = F.shiftrightunsigned(F.col("__by"), i).bitwiseAND(F.lit(1))
        term = bit_x * F.lit(1 << (2 * i + 1)) + bit_y * F.lit(1 << (2 * i))
        z = term if z is None else z + term
    return (
        df.join(F.broadcast(mm))
        .withColumn("__bx", bucket(col_x, "__minx", "__maxx"))
        .withColumn("__by", bucket(col_y, "__miny", "__maxy"))
        .withColumn("zvalue", z.cast("long"))
        .drop("__minx", "__maxx", "__miny", "__maxy")
    )


def write_zordered(
    df: DataFrame,
    path: str,
    col_x: str,
    col_y: str,
    n_files: int = 8,
    bits: int = ZORDER_BITS,
) -> None:
    """Z-order-clustered parquet layout (plain-parquet `OPTIMIZE ZORDER
    BY`): range-partition on the Morton key and sort within partitions,
    so every output file covers a tight range in BOTH clustering
    columns and parquet min/max stats prune files for predicates on
    EITHER — the multi-dimensional generalization of sorting by one
    column (which leaves the second column unclustered).
    `test_zorder_layout_tightens_file_spans` measures the per-file span
    shrink against an unclustered write from the real file footers."""
    zdf = zorder_value(df, col_x, col_y, bits)
    (
        zdf.repartitionByRange(n_files, F.col("zvalue"))
        .sortWithinPartitions("zvalue")
        .drop("__bx", "__by", "zvalue")
        .write.mode("overwrite")
        .parquet(path)
    )
