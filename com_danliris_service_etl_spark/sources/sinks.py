"""Sinks: MERGE-style upsert and batched writes (SURVEY.md §2.1 S5/S6/S7/S9).

The reference stages rows into `*_Temp` tables with chunked INSERTs inside a
transaction, then runs an opaque `DL_UPSERT_FACT_*` stored proc
(`Pembelian/run.js:299-360`). The engine's contract is the defensible
reading of that proc: key-based upsert (update-or-insert on the fact's
natural key). Delta Lake's `MERGE INTO` is the production target; this
module also provides a pure-parquet emulation (anti-join + union, then
`fsutil.replace_store`, whose docstring states the crash-safe replace
protocol) because the test image has no Delta jars.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from com_danliris_service_etl_spark.sources import fsutil


def _delta_available(spark: SparkSession) -> bool:
    # NB: plain `spark._jvm.io.delta.tables.DeltaTable` attribute access
    # NEVER raises — py4j silently returns a JavaPackage stub for any
    # missing class — so probe with an actual JVM class lookup. The
    # PYTHON package must be probed too: with jars but no pip
    # `delta-spark`, the fresh-fact branch would commit the fact to Delta
    # format and every later merge would die on the `from delta.tables`
    # import — with no parquet fallback able to read the fact.
    import importlib.util

    if importlib.util.find_spec("delta") is None:
        return False
    try:
        spark._jvm.java.lang.Class.forName(  # type: ignore[union-attr]
            "io.delta.tables.DeltaTable"
        )
        return True
    except Exception:
        return False


def has_committed_data(spark: SparkSession, target: str) -> bool:
    """Committed data at a fact target: a Delta log, or parquet files
    Spark's reader sees (a killed first write leaves a directory with
    none) — the probe behind `run_job`'s empty-fact ⇒ full-extract rule."""
    target = target.rstrip("/")
    return fsutil.exists(spark, f"{target}/_delta_log") or fsutil.has_committed_parquet(
        spark, target
    )


def merge_upsert(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    keys: Sequence[str],
    order_col: str | None = None,
    replace_group: bool = False,
    rows: int | None = None,
) -> None:
    """S6 — upsert ``updates`` into the fact at ``target_path`` on ``keys``.

    Idempotence: running the same batch twice leaves the fact unchanged
    (SURVEY.md §5.4). When the batch itself carries duplicate keys (the
    re-extracted + updated rows case), ``order_col`` picks the winner
    (latest), matching MERGE's requirement of a unique source per key.

    ``replace_group=True`` is the DETAIL-GRAIN mode: ``keys`` identify a
    replace group (e.g. an intern note whose fact rows are its N details),
    not a unique row. All fact rows for the batch's keys are deleted and
    ALL batch rows inserted — the reference's stage-then-
    ``DL_UPSERT_FACT_*`` shape for 1:N facts (`GarmentTotalHutang/
    run.js:257-283` stages every detail row of each re-extracted note).
    No dedupe runs, so the detail grain survives the load.

    On Delta: compiles to ``MERGE INTO`` (row grain) or MERGE-delete +
    append (group grain). On plain parquet (test image): target anti-join
    updates, union, and a crash-safe replace of the whole fact
    (`fsutil.replace_store`). That full rewrite is the only non-scalable
    piece and exists solely because the local image lacks Delta; on a
    real cluster the Delta branch runs and touches only matching files
    (data-skipping on merge keys).

    An EMPTY batch into a fact holding committed data is a no-op by
    definition (the anti-join keeps every row, the union adds none), so
    it returns before reading the fact. ``rows``, the batch's row count
    when the caller already took one (`plans.jobs._load` counts every
    target), answers that test; without it the test is one limit-1 job
    on the caller's already-persisted increment (r13,
    PIPELINE_BENCH.json). A first-night empty extract still CREATES the
    fact, or the empty-fact ⇒ full-extract rule would re-extract every
    night.

    The parquet branch reads the fact through `fsutil.read_parquet` over
    `replace_store`'s listing: the fact is listed once per MERGE and its
    read launches no Spark job.
    """
    key_list = list(keys)
    # Kept BEFORE the dedupe rewrite: the quiet-night emptiness probe
    # below is equivalent on the raw frame (dedupe maps empty to empty
    # and never empties a non-empty batch) and skips the dropDuplicates
    # exchange the deduped frame would pay just to answer limit-1 (r14).
    raw_updates = updates

    def empty_batch() -> bool:
        return rows == 0 if rows is not None else raw_updates.isEmpty()

    if not replace_group:
        if order_col:
            updates = (
                updates.groupBy(*key_list)
                .agg(F.max_by(F.struct(*updates.columns), order_col).alias("__s"))
                .select("__s.*")
            )
        else:
            updates = updates.dropDuplicates(key_list)

    target_path = target_path.rstrip("/")
    if fsutil.exists(spark, f"{target_path}/_delta_log"):
        if not _delta_available(spark):
            # HARD STOP, not a fallback: spark.read.parquet over a Delta
            # dir ignores the transaction log and reads every data file
            # ever written — logically-removed rows resurrect — and the
            # parquet swap would then delete `_delta_log`, irreversibly
            # converting the fact to parquet with corrupted contents. A
            # missing pip `delta-spark` (or missing jars) on a Delta fact
            # is an environment error, never a reason to rewrite the fact.
            raise RuntimeError(
                f"Delta fact at {target_path} (_delta_log present) but the "
                "delta-spark python package/jars are unavailable in this "
                "session; refusing the parquet fallback, which would read "
                "logically-removed files and destroy the transaction log. "
                "Install delta-spark + jars, or restore the environment."
            )
        if empty_batch():
            return
        from delta.tables import DeltaTable  # type: ignore

        tgt = DeltaTable.forPath(spark, target_path)
        cond = " AND ".join(f"t.{k} <=> s.{k}" for k in key_list)
        if replace_group:
            # Delete every fact row whose group key appears in the batch,
            # then append the batch: detail rows never collapse. NB this
            # is TWO Delta transactions — a crash (or a concurrent
            # reader) between them sees the batch's groups deleted but
            # not yet re-inserted. The watermark not advancing heals it
            # on the re-run, but unlike the parquet swap there is a
            # visible window; readers needing a consistent view should
            # read a pinned Delta version (time travel) or gate on the
            # migration log's Successful row.
            (
                tgt.alias("t")
                .merge(updates.select(*key_list).distinct().alias("s"), cond)
                .whenMatchedDelete()
                .execute()
            )
            updates.write.format("delta").mode("append").save(target_path)
            return
        (
            tgt.alias("t")
            .merge(updates.alias("s"), cond)
            .whenMatchedUpdateAll()
            .whenNotMatchedInsertAll()
            .execute()
        )
        return

    def write(files: list, tmp: str) -> bool:
        if not files:
            if _delta_available(spark):
                # Fresh fact: create it in Delta format, or every later
                # merge would miss the `_delta_log` check and run the
                # full-rewrite parquet emulation forever. Delta's own log
                # commits it in place, so nothing is swapped; the delete
                # clears a killed first write's wreckage.
                fsutil.delete(spark, target_path)
                updates.write.format("delta").mode("overwrite").save(target_path)
                return False
            updates.write.mode("overwrite").parquet(tmp)
            return True
        if empty_batch():
            return False
        target = fsutil.read_parquet(spark, target_path, files)
        # Null-safe key equality (<=>): merge keys can legitimately be
        # NULL (e.g. a kanban with no steps), and a plain equi-anti-join
        # would never match those rows — re-runs would duplicate them.
        # This mirrors the Delta branch's `t.k <=> s.k` condition. No
        # distinct on the keys: a left-anti join keeps a fact row iff ANY
        # batch key matches it, so duplicate keys (group grain) change
        # nothing, and a distinct would cost a shuffle stage per MERGE.
        upd_keys = updates.select(*key_list)
        for k in key_list:
            upd_keys = upd_keys.withColumnRenamed(k, f"__u_{k}")
        cond = None
        for k in key_list:
            eq = F.col(k).eqNullSafe(F.col(f"__u_{k}"))
            cond = eq if cond is None else (cond & eq)
        kept = target.join(upd_keys, cond, "left_anti")
        kept.unionByName(updates.select(*target.columns)).write.mode("overwrite").parquet(tmp)
        return True

    fsutil.replace_store(spark, target_path, write)


def write_fact(
    df: DataFrame,
    path: str,
    partition_by: Sequence[str] | None = None,
    mode: str = "overwrite",
    dynamic_overwrite: bool = False,
) -> None:
    """S5 — bulk load. The reference's 200/500/1000/4000-row INSERT chunking
    (`Pembelian/run.js:313`) is Spark partition-level parallel write here;
    ``partition_by`` (typically a date column) is the 100 TB layout knob —
    partition pruning replaces full scans for incremental readers.

    ``dynamic_overwrite``: with a partitioned target, a plain
    ``mode="overwrite")`` TRUNCATES THE WHOLE TABLE even when the batch
    holds one day — the incremental-nightly hazard. Dynamic mode (the
    per-write ``partitionOverwriteMode`` option, no session conf touched)
    replaces only the partitions present in ``df`` and leaves the rest of
    the 100 TB layout untouched."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
        if dynamic_overwrite and mode == "overwrite":
            writer = writer.option("partitionOverwriteMode", "dynamic")
    writer.parquet(path)


def date_dimension(spark: SparkSession, facts: DataFrame, date_col: str) -> DataFrame:
    """S7 — derive the date dimension rows the `DL_INSERT_DIMTIME` proc
    maintains (`Pembelian/run.js:331`): distinct dates with calendar
    attributes, computed set-at-a-time."""
    d = F.col("date")
    return (
        facts.select(F.to_date(date_col).alias("date"))
        .where(d.isNotNull())
        .distinct()
        .select(
            d,
            F.year(d).alias("year"),
            F.quarter(d).alias("quarter"),
            F.month(d).alias("month"),
            F.dayofmonth(d).alias("day"),
            F.dayofweek(d).alias("day_of_week"),
            F.weekofyear(d).alias("week_of_year"),
            F.date_format(d, "MMMM").alias("month_name"),
            F.date_format(d, "EEEE").alias("day_name"),
        )
    )
