"""Write-once physical layouts: pay a shuffle at write time, not per query.

- :func:`ensure_group_items` stores a fact's per-group item arrays
  (``(group_col, items)``, ``items = sort_array(collect_set(item))``) as
  plain parquet under ``spark.sql.warehouse.dir``. The co-occurrence graph
  family (g9/g11/g13/g16/g17) reads them, so no query pass re-runs the
  per-group aggregate: the fact is grouped once per source version, by
  whichever session needs it first, and every later pass scans arrays.
- :func:`write_bucketed` / :func:`bucketed_join`: SCALE.md's bucketing
  lever. Both sides of a repeatedly-joined pair written bucketed (and
  sorted) by the join key plan a SortMergeJoin with no Exchange on either
  side.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
import warnings
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession

from com_danliris_service_etl_spark.operators.graph import group_items
from com_danliris_service_etl_spark.sources import fsutil

# Stale-sibling GC defers entries younger than this: a parallel session
# that adopted the layout just before the source regenerated may still
# be scanning it (see ensure_group_items).
_GC_MIN_AGE_SECONDS = 300.0


def _tag(text: str, n: int = 6) -> str:
    return hashlib.sha1(text.encode()).hexdigest()[:n]


def ensure_group_items(
    spark: SparkSession, sf_dir: str, table: str, group_col: str, item_col: str
) -> DataFrame:
    """``{sf_dir}/{table}.parquet`` as per-group item arrays, the frame
    :func:`~com_danliris_service_etl_spark.operators.graph.group_items`
    computes, read from a layout written on first use.

    The layout is a directory ``items_<table>_<srctag>_<stattag>_<spec>``
    in the warehouse: ``srctag`` hashes the source path, ``stattag`` its
    mtime and size, ``spec`` both plus the two columns. A later session
    over the same warehouse adopts a completed directory (it holds
    ``_SUCCESS``) instead of rewriting it, and a regenerated source can
    never alias a stale layout. Nothing downstream depends on how the
    arrays are partitioned, so the name holds no session setting and
    every session shares one layout per source version.

    Write protocol: the arrays go to a pid-salted sibling, which is then
    renamed onto the canonical name. The rename is atomic; when another
    writer installed the directory first, the rename fails, the loser
    drops its copy and reads the winner's. Readers only see complete
    directories.

    Lifecycle: before a write, layouts of the same source path with a
    different ``stattag`` (the source was regenerated, so no session can
    adopt them again) are deleted once older than ``_GC_MIN_AGE_SECONDS``;
    a younger one may still be under a scan and waits for a later write.
    Other source paths (another copy of the table) are never touched.
    When the warehouse cannot be written, the arrays are computed from
    the plain scan with a RuntimeWarning: the layout is a performance
    lever, never a correctness dependency."""
    src = f"{sf_dir}/{table}.parquet"
    st = os.stat(src)
    version = f"{st.st_mtime_ns}|{st.st_size}"
    prefix = f"items_{table}_{_tag(src)}_"
    live = f"{prefix}{_tag(version)}_"
    name = live + _tag(f"{src}|{version}|{group_col}|{item_col}", 10)
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    path = os.path.join(wh, name)
    tmp = f"{path}__w{os.getpid()}"

    def arrays() -> DataFrame:
        rows = fsutil.read_parquet(spark, src).select(group_col, item_col)
        return group_items(rows, group_col, item_col)

    try:
        if not os.path.exists(os.path.join(path, "_SUCCESS")):
            for entry in os.listdir(wh) if os.path.isdir(wh) else ():
                if entry.startswith(prefix) and not entry.startswith(live):
                    try:
                        age = time.time() - os.path.getmtime(os.path.join(wh, entry))
                    except OSError:
                        continue  # vanished under us: another GC won
                    if age >= _GC_MIN_AGE_SECONDS:
                        shutil.rmtree(os.path.join(wh, entry), ignore_errors=True)
            shutil.rmtree(tmp, ignore_errors=True)
            arrays().write.parquet(tmp)
            try:
                os.rename(tmp, path)
            except OSError:
                shutil.rmtree(tmp, ignore_errors=True)
                if not os.path.exists(os.path.join(path, "_SUCCESS")):
                    raise  # a real failure, not a lost race
        return fsutil.read_parquet(spark, path)
    except Exception as exc:  # noqa: BLE001 — a read-only FS raises OSError,
        # an uncreatable warehouse a JVM-side error; both degrade
        shutil.rmtree(tmp, ignore_errors=True)
        warnings.warn(
            f"ensure_group_items: falling back to per-pass arrays from {src}: "
            f"{type(exc).__name__}: {exc}", RuntimeWarning, stacklevel=2,
        )
        return arrays()


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: Sequence[str],
    n_buckets: int = 8,
    sort_cols: Sequence[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist ``df`` as a bucketed (+sorted) managed table. Sorting within
    buckets additionally removes the per-task Sort under SortMergeJoin."""
    writer = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def bucketed_join(
    spark: SparkSession, left_table: str, right_table: str, on: Sequence[str] | str,
    how: str = "inner",
) -> DataFrame:
    """Join two identically-bucketed tables; with matching bucket specs Catalyst
    plans the join with zero Exchange operators."""
    return spark.table(left_table).join(spark.table(right_table), on, how)
