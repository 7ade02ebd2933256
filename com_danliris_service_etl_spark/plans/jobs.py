"""Declarative job runner: the reference's 5-stage pipeline shape
(`Pembelian/run.js:10-13` — watermark → extract → join → transform → load,
bracketed by migration-log bookkeeping `run.js:41-63`) as a reusable spec.

Each of the reference's 22 jobs becomes a JobSpec: a `build` function that
declares the extract+join+transform plan (given the session, a Catalog of
sources, and the watermark), plus merge keys and a target. The runner owns
the control-plane protocol: read watermark → run plan → MERGE → advance
watermark only on success (exactly-once at the job level, idempotent
re-runs — replacing the reference's staging-table + `DL_UPSERT_FACT_*`
stored-proc transaction `Pembelian/run.js:303-360`).
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Callable, Sequence
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession

from com_danliris_service_etl_spark.sources.catalog import Catalog
from com_danliris_service_etl_spark.sources.sinks import has_committed_data, merge_upsert
from com_danliris_service_etl_spark.sources.watermark import EPOCH, WatermarkStore

BuildFn = Callable[[SparkSession, Catalog, dt.datetime], DataFrame]


@dataclass
class JobSpec:
    name: str
    build: BuildFn
    merge_keys: Sequence[str]
    target: str
    order_col: str | None = None  # winner-picking column for duplicate keys in a batch
    grain: str = "row"
    """``row``: merge_keys uniquely identify a fact row (dedupe + upsert).
    ``group``: the fact is 1:N per key (e.g. intern-note details) — the load
    replaces every fact row of each batch key with ALL the batch's rows for
    it, so the detail grain survives (see sinks.merge_upsert replace_group).
    """
    extra_targets: dict[str, tuple] = field(default_factory=dict)
    """S9 dual-target loads (`DailyOperation/run.js:249,273`): extra
    ``target -> (build, merge_keys)`` pairs committed in the same run. An
    optional third element — a dict of `merge_upsert` kwargs
    (``order_col``, ``replace_group``) — lets an extra load declare the
    same winner-picking / group-grain semantics the main target gets, so
    a duplicate-key extra batch is never silently resolved by an
    arbitrary ``dropDuplicates`` winner.

    Every target must be distinct (compared without trailing slashes):
    `run_job` loads them concurrently, and two loads into one path would
    race the MERGE's swap."""

    def __post_init__(self):
        seen = {self.target.rstrip("/")}
        for t in self.extra_targets:
            if t.rstrip("/") in seen:
                raise ValueError(f"{self.name}: duplicate load target {t!r}")
            seen.add(t.rstrip("/"))


@dataclass
class JobResult:
    job: str
    rows: int
    status: str
    started: dt.datetime
    finished: dt.datetime


def _load(
    spark: SparkSession,
    catalog: Catalog,
    wm: dt.datetime,
    target: str,
    build: BuildFn,
    keys: Sequence[str],
    opts: dict,
    count: bool,
) -> int | None:
    """build → persist → (count) → MERGE for one target; returns the row
    count when ``count`` is set, and hands it to the MERGE, whose
    empty-batch test then takes no Spark action of its own.

    Persist the increment across the telemetry count and the MERGE:
    without it the whole extract+join+transform plan re-executes for each
    action (the count, then the merge's reads — the parquet merge alone
    references the batch twice: anti-join keys + the union write). The
    increment is watermark-bounded — one night's delta, not the fact — so
    MEMORY_AND_DISK is safe at any corpus size. unpersist in finally: a
    raising MERGE must not leak the cache for the rest of the session."""
    df = build(spark, catalog, wm).persist()
    try:
        rows = df.count() if count else None
        merge_upsert(spark, target, df, keys, rows=rows, **opts)
        return rows
    finally:
        df.unpersist()


def run_job(
    spark: SparkSession,
    spec: JobSpec,
    catalog: Catalog,
    store: WatermarkStore,
    now: Callable[[], dt.datetime] = dt.datetime.utcnow,
) -> JobResult:
    """Execute one pipeline run. Failures are recorded in the run log and
    re-raised; the watermark does not advance, so the next run re-extracts
    the same window and the MERGE keeps the fact consistent.

    Each target (the main one and every ``extra_targets`` entry) is one
    load, and the loads run concurrently on a thread pool: no load reads
    another's output, and `JobSpec` rejects duplicate targets, so no two
    loads race one swap. Worker threads inherit the caller's Spark local
    properties (job group, description) and session tags. The run waits
    for EVERY load to return before it writes its log row; the first
    failure in target order is re-raised, so a Failed row is never
    written while a load is still writing, and Successful only after every
    target committed.

    Partial commits: when the main load fails, an extra target may
    already have committed, just as the main target may have committed
    when an extra load fails. Either way the watermark stays put, so the
    next run re-extracts the same window into every target and the
    idempotent MERGE heals it."""
    started = now()
    try:
        wm = store.read_watermark(spec.name)
        # Empty fact ⇒ full extract, whatever the log says: an advanced
        # watermark with NO committed target data means the fact was
        # redirected (run_nightly's target_dir against a shared store),
        # deleted, or lost — loading only the delta into an empty fact
        # would silently drop all history with a "Successful" status.
        # Falling back to EPOCH re-extracts everything; the MERGE makes
        # that idempotent. (One metadata probe per target per run.) The
        # probe covers EVERY target the job commits — an extra_targets
        # fact deleted/redirected while the main target still holds data
        # is the same silent-history-loss class, because all targets
        # share the one per-job watermark.
        if wm != EPOCH:
            all_targets = [spec.target, *spec.extra_targets]
            if any(not has_committed_data(spark, t) for t in all_targets):
                wm = EPOCH
        main_opts = {"order_col": spec.order_col, "replace_group": spec.grain == "group"}
        loads = [(spec.target, spec.build, spec.merge_keys, main_opts, True)]
        for target, (build_fn, keys, *rest) in spec.extra_targets.items():
            loads.append((target, build_fn, keys, dict(rest[0]) if rest else {}, False))
        with ThreadPoolExecutor(max_workers=len(loads)) as pool:
            futures = [
                pool.submit(inheritable_thread_target(spark)(_load), spark, catalog, wm, *load)
                for load in loads
            ]
        # Leaving the pool joined every load; result() re-raises the first
        # failure in target order.
        rows = [f.result() for f in futures][0]
        finished = now()
        store.commit_run(spec.name, started, finished, "Successful", rows)
        return JobResult(spec.name, rows, "Successful", started, finished)
    except Exception as exc:  # noqa: BLE001 — mirror of run.js error-to-log behavior
        finished = now()
        store.commit_run(spec.name, started, finished, f"Failed: {exc}"[:500], None)
        raise
