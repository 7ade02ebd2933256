"""Nightly schedule: the reference's 22 cron timers as an explicit DAG.

The reference staggers its timers every 10 minutes from 22:00 to 01:20
(`PembelianTimer/function.json:5` et al., SURVEY.md §3.2) with NO
dependency enforcement — ordering is implicit in the clock. Here the
ordering is explicit: a run layer only starts after the previous layer
committed, and jobs inside a layer are independent (a scheduler may run
them concurrently — on a cluster as parallel applications or
pool-scheduled jobs). `run_nightly` runs layers, and the jobs inside a
layer, one after another; only a job's own targets load concurrently
(`run_job`: its main and extra targets, each on its own thread).

Within-layer concurrency REQUIRES distinct targets: two jobs merging
into the same fact path race the parquet emulation's read→rewrite→swap
(and a Delta MERGE would still interleave), so jobs sharing a target are
placed in SEPARATE layers below (the three sales-contract jobs — one
shared dl_fact_sales_contract — mirror the reference's separate 10-min
timer slots). Concurrent jobs may share one WatermarkStore path: each
log append is its own uniquely named file, renamed into place (see
`sources/watermark.py`).
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Callable, Sequence

from pyspark.sql import SparkSession

from com_danliris_service_etl_spark.plans.jobs import JobResult, run_job
from com_danliris_service_etl_spark.sources.catalog import Catalog
from com_danliris_service_etl_spark.sources.watermark import WatermarkStore

# Layers ordered by data dependency (upstream facts before facts that a
# BI layer joins against them), mirroring the reference's 22:00→01:20
# stagger; within a layer there is no cross-read.
NIGHTLY_LAYERS: tuple[tuple[str, ...], ...] = (
    # dimensions-ish / independent facts
    (
        "Fact Inventory Summary from MongoDB to Azure DWH",
        "Fact Inventory Movement From MongoDB to Azure DWH",
        "Fact Production Order from MongoDB to Azure DWH",
        "Fact Kanban from MongoDB to Azure DWH",
    ),
    # production-floor facts reading kanban/machine context
    (
        "Fact Daily Operation from MongoDB to Azure DWH",
        "Fact Monitoring Event from MongoDB to Azure DWH",
        "Fact Packing from MongoDB to Azure DWH",
        "Fact Packing Receipt from MongoDB to Azure DWH",
        "Fact Shipment Document from MongoDB to Azure DWH",
        "Fact Fabric QC from MongoDB to Azure DWH",
    ),
    # status rollup reads PO + kanban + daily op + QC
    ("Fact Production Order Status from MongoDB to Azure DWH",),
    # sales contracts (independent of production) — one layer EACH: all
    # three merge into dl_fact_sales_contract, and same-target jobs must
    # never run concurrently (see module docstring).
    ("Fact Sales Contract Spinning from MongoDB to Azure DWH",),
    ("Fact Sales Contract Weaving from MongoDB to Azure DWH",),
    ("Fact Sales Contract Finishing Printing from MongoDB to Azure DWH",),
    # purchasing chains
    (
        "Fact Pembelian from MongoDB to Azure DWH",
        "Fact Total Hutang from MongoDB to Azure DWH",
        "Fact Garment Pembelian from MongoDB to Azure DWH",
        "Fact Total Hutang Garment from MongoDB to Azure DWH",
    ),
    # deal tracking
    (
        "Fact Deal Tracking Board from MongoDB to Azure DWH",
        "Fact Deal Tracking Stage from MongoDB to Azure DWH",
        "Fact Deal Tracking Deal from MongoDB to Azure DWH",
        "Fact Deal Tracking Activity from MongoDB to Azure DWH",
    ),
    # control-plane sync last (logs every run above)
    ("Migration Log from MongoDB to Azure DWH",),
)


def run_nightly(
    spark: SparkSession,
    catalog: Catalog,
    store: WatermarkStore,
    layers: Sequence[Sequence[str]] = NIGHTLY_LAYERS,
    target_dir: str | None = None,
    now: Callable[[], dt.datetime] = dt.datetime.utcnow,
    continue_on_error: bool = True,
) -> list[JobResult]:
    """Run the nightly DAG layer by layer. A failed job logs its failure
    (a Failed row in the migration log AND a Failed JobResult in the
    returned list — callers can see what broke without reading the log)
    and, matching the reference's independent-timer behavior, does NOT
    stop sibling or downstream jobs unless ``continue_on_error=False`` —
    its own watermark simply doesn't advance, so the next night
    re-extracts the same window idempotently.

    ``target_dir`` redirects every fact target under one base dir.
    Watermarks stay keyed by job name on the SHARED store, so redirected
    (empty) targets trigger `run_job`'s empty-fact ⇒ full-extract
    fallback — a redirect against a store with history re-loads
    everything instead of silently writing only the post-watermark delta.

    Unknown job names are rejected UP FRONT (before any job runs): a typo
    in a custom ``layers`` must not half-run the night and then abort
    mid-DAG past ``continue_on_error``."""
    import dataclasses

    from com_danliris_service_etl_spark.jobs import ALL_SPECS

    unknown = [n for layer in layers for n in layer if n not in ALL_SPECS]
    if unknown:
        raise ValueError(
            f"unknown job name(s) in layers: {unknown!r} — "
            f"known specs: {sorted(ALL_SPECS)}"
        )

    results: list[JobResult] = []
    for layer in layers:
        for name in layer:
            spec = ALL_SPECS[name]
            if target_dir is not None:
                base = target_dir.rstrip("/")
                spec = dataclasses.replace(
                    spec,
                    target=f"{base}/{spec.target}",
                    extra_targets={
                        f"{base}/{t}": v for t, v in spec.extra_targets.items()
                    },
                )
            try:
                results.append(run_job(spark, spec, catalog, store, now=now))
            except Exception as exc:  # noqa: BLE001 — per-job failure isolation
                t = now()
                results.append(JobResult(name, 0, f"Failed: {exc}"[:500], t, t))
                if not continue_on_error:
                    raise
    return results
