"""``nightly_upsert``: the engine's ``run_nightly`` DAG over generated
parquet sources, with a real delta every night.

Sources are the schemas and rows of the 23-job catalog fixture in
``tests/test_reference_jobs.py``, replicated into a history: replica ``r``
offsets every id column by ``r * ID_OFFSET`` and suffixes every code-like
string (``DO-1`` -> ``DO-1-r``), so each replica is a complete, joinable
copy of the fixture's key graph. Dimension tables stay single copies.

A bootstrap night over the history builds the warm warehouse (facts and
migration log); it is snapshotted and restored before every night, so
nights do not drift as the log grows. Before the nights, a seeded share
of the driving table's rows is re-stamped past the watermark with its
measures changed (updates to existing keys) and new replicas are appended
(new keys); every night extracts that delta and runs the parquet MERGE's
anti-join, union, full rewrite and swap. Every run does the same set-up,
untimed warm-up nights included, so every run times equally warm nights.
"""

from __future__ import annotations

import datetime as dt
import importlib.util
import os
import re
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

import harness
import tracing

# One of the 23 jobs. A job costs 5-15 s per warm night and ~3x that on
# a cold JVM (the Pembelian chain spends ~9 s building its plan alone),
# and every run pays a session start, a bootstrap night, a full
# recompute for the gate and warm-up nights; one job per night is what
# fits a run's time budget. Fact Daily Operation exercises every layer: a
# 5-table extract that reads its driving table twice, a detail-grain MERGE
# and a second target loaded by the same job.
JOBS = ("Fact Daily Operation from MongoDB to Azure DWH",)
# The table the job's watermark filter reads: the only one re-stamped.
DRIVERS = ("dailyoperation",)
# Every source table the job reads.
SOURCES = DRIVERS + ("dailyoperationbadoutputreasons", "kanbans", "kanbaninstructions", "machine")
# History size: see perfbench/DESIGN.md for the MERGE's share of the
# night it gives. The 2% update / 1% new-key mix is arbitrary, not taken
# from the reference.
HISTORY_REPLICAS = 2500
UPDATE_SHARE = 0.02  # of each driving table's history rows, per night
NEW_REPLICAS = HISTORY_REPLICAS // 100  # new keys per night
# Untimed upsert nights after set-up, before the timed ones: the first
# upsert night in a JVM runs the MERGE path cold.
WARMUP_NIGHTS = 1
# Timed nights per run, at least: a host slowdown that covers one of them
# does not move their median.
TIMED_NIGHTS = 4
ID_OFFSET = 10**7
DIMS = ("machine",)
DIM_KEYS = ("machineid",)
STAMP_COLS = ("lastmodifiedutc", "_lastmodifiedutc")
_CODE = re.compile(r"^[A-Za-z]+-\d+$")
_TYPES = {
    "string": pa.string(),
    "double": pa.float64(),
    "boolean": pa.bool_(),
    "timestamp": pa.timestamp("us", tz="UTC"),
    "long": pa.int64(),
    "int": pa.int32(),
}


class _RowsOnly:
    """Stands in for the SparkSession the fixture builds frames with."""

    def createDataFrame(self, rows, schema):  # noqa: N802 — SparkSession's name
        return schema, rows


def fixture_tables() -> dict[str, pa.Table]:
    path = os.path.join(harness.ROOT, "tests", "test_reference_jobs.py")
    spec = importlib.util.spec_from_file_location("_perfbench_fixture", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    frames = mod.catalog.__wrapped__(_RowsOnly()).frames
    out = {}
    for name, (ddl, rows) in frames.items():
        fields = [f.strip().split(None, 1) for f in ddl.split(",")]
        schema = pa.schema([(n, _TYPES[t.strip()]) for n, t in fields])
        cols = list(zip(*rows)) if rows else [[] for _ in fields]
        out[name] = pa.table(
            [pa.array(list(c), type=f.type) for c, f in zip(cols, schema)], schema=schema
        )
    return out


def replicate(t: pa.Table, name: str, first: int, count: int) -> pa.Table:
    """Replicas ``first .. first+count-1`` of fixture table ``t``."""
    if name in DIMS:
        return t
    n0 = t.num_rows
    take = pa.array(np.tile(np.arange(n0), count))
    rep = np.repeat(np.arange(first, first + count, dtype=np.int64), n0)
    rep_str = None
    cols = []
    for f in t.schema:
        col = t.column(f.name).take(take)
        key = f.name.lower()
        if pa.types.is_int64(f.type) and key.endswith("id") and key not in DIM_KEYS:
            col = pc.add(col, pa.array(rep * ID_OFFSET))
        elif pa.types.is_string(f.type):
            codes = [v is not None and bool(_CODE.match(v)) for v in t.column(f.name).to_pylist()]
            if any(codes):
                if rep_str is None:
                    rep_str = pa.array(rep.astype(str))
                mask = pa.array(np.tile(codes, count))
                col = pc.if_else(mask, pc.binary_join_element_wise(col, rep_str, "-"), col)
        cols.append(col)
    return pa.table(cols, schema=t.schema)


def _stamp_col(t: pa.Table) -> str | None:
    return next((c for c in STAMP_COLS if c in t.column_names), None)


def night_delta(base: pa.Table, fixture: pa.Table, name: str, rng, stamp) -> pa.Table:
    """``base`` with one night's changes: driving tables get a seeded
    share of rows re-stamped to ``stamp`` with every measure +1, and every
    replicated table gets NEW_REPLICAS new replicas stamped ``stamp``."""
    if name in DIMS:
        return base
    stamp_arr = pa.scalar(stamp, type=pa.timestamp("us", tz="UTC"))
    if name in DRIVERS:
        col = _stamp_col(base)
        mask = pa.array(rng.random(base.num_rows) < UPDATE_SHARE)
        cols = []
        for f in base.schema:
            c = base.column(f.name)
            if f.name == col:
                c = pc.if_else(mask, stamp_arr, c)
            elif pa.types.is_float64(f.type):
                c = pc.if_else(mask, pc.add(c, 1.0), c)
            cols.append(c)
        base = pa.table(cols, schema=base.schema)
    new = replicate(fixture, name, HISTORY_REPLICAS, NEW_REPLICAS)
    col = _stamp_col(new)
    if col is not None:
        i = new.schema.get_field_index(col)
        new = new.set_column(i, col, pa.array([stamp] * new.num_rows, type=new.schema.field(i).type))
    return pa.concat_tables([base, new])


def write_tables(tables: dict[str, pa.Table], dirpath: str) -> dict[str, str]:
    os.makedirs(dirpath, exist_ok=True)
    paths = {}
    for name, t in tables.items():
        p = os.path.join(dirpath, f"{name}.parquet")
        pq.write_table(t, p)
        paths[name] = p
    return paths


def targets() -> list[str]:
    from com_danliris_service_etl_spark.jobs import ALL_SPECS

    out = []
    for job in JOBS:
        spec = ALL_SPECS[job]
        out.append(spec.target)
        out.extend(spec.extra_targets)
    return out


def facts_equal(con, a: str, b: str) -> bool:
    """Order-independent equality of two parquet facts (row multisets)."""
    ra, rb = (f"read_parquet('{d}/*.parquet')" for d in (a, b))
    q = (
        f"SELECT (SELECT count(*) FROM {ra}), (SELECT count(*) FROM {rb}),"
        f" (SELECT count(*) FROM (SELECT * FROM {ra} EXCEPT ALL SELECT * FROM {rb})),"
        f" (SELECT count(*) FROM (SELECT * FROM {rb} EXCEPT ALL SELECT * FROM {ra}))"
    )
    na, nb, da, db = con.execute(q).fetchone()
    return na == nb and da == 0 and db == 0


def _copy(src: str, dst: str) -> None:
    shutil.rmtree(dst, ignore_errors=True)
    shutil.copytree(src, dst)


def run(spark, work: harness.Workdir, workload: str, seed: int, seconds: float,
        trace: bool, t_start: float) -> dict:
    """Set up, measure and check nightly_upsert; returns the raw
    measurements for run.py to report."""
    import duckdb

    from com_danliris_service_etl_spark.plans.schedule import NIGHTLY_LAYERS, run_nightly
    from com_danliris_service_etl_spark.sources.catalog import Catalog
    from com_danliris_service_etl_spark.sources.watermark import WatermarkStore

    layers = [tuple(n for n in layer if n in JOBS) for layer in NIGHTLY_LAYERS]
    layers = [layer for layer in layers if layer]

    failed = attempted = 0
    notes: list[str] = []

    def check(results, night: str, need_rows: bool = True):
        nonlocal failed, attempted
        for r in results:
            attempted += 1
            if r.status != "Successful" or (need_rows and r.rows <= 0):
                failed += 1
                notes.append(f"{night}: {r.job}: {r.status} rows={r.rows}")

    fixture = fixture_tables()

    def generate():
        base = {n: replicate(fixture[n], n, 0, HISTORY_REPLICAS) for n in SOURCES}
        return base, write_tables(base, work.sub("src"))

    (base, base_paths), repeated_s = harness.repeat_setup(generate)
    catalog = Catalog(spark=spark, tables=dict(base_paths))
    # The warm warehouse: a bootstrap night over the history. It is also
    # the first warm-up unit, which costs three to four times a steady one.
    snap = work.sub("warm")
    t0 = time.perf_counter()
    check(
        run_nightly(spark, catalog, WatermarkStore(spark, os.path.join(snap, "log")),
                    layers=layers, target_dir=os.path.join(snap, "dwh")),
        "bootstrap",
    )
    harness.log(f"bootstrap: {time.perf_counter() - t0:.2f}s")
    dwh, log_dir = os.path.join(work.path, "dwh"), os.path.join(work.path, "log")
    store = WatermarkStore(spark, log_dir)
    # One seeded night of changes; every night below replays it over the
    # restored warehouse.
    rng = np.random.default_rng(seed)
    stamp = dt.datetime.utcnow()
    changed = {n: night_delta(base[n], fixture[n], n, rng, stamp) for n in SOURCES}
    changed_paths = write_tables(changed, work.sub("src-night"))
    catalog.tables.update(changed_paths)
    # The reference for the correctness gate: a full recompute over the
    # same sources, i.e. a bootstrap into a fresh warehouse.
    ref_dwh = os.path.join(work.path, "ref", "dwh")
    ref_store = WatermarkStore(spark, os.path.join(work.path, "ref", "log"))
    t0 = time.perf_counter()
    check(run_nightly(spark, catalog, ref_store, layers=layers, target_dir=ref_dwh), "reference")
    harness.log(f"reference: {time.perf_counter() - t0:.2f}s")

    nights = 0

    def night(tracer=None, counters=None, quiet=False):
        nonlocal nights
        nights += 1
        _copy(os.path.join(snap, "dwh"), dwh)
        _copy(os.path.join(snap, "log"), log_dir)
        log_files = sum(f.endswith(".parquet") for f in os.listdir(log_dir))
        unit = f"night{nights}"
        if counters is not None:
            counters.delta()
        if tracer is not None:
            tracer.unit = unit
            tracing.patch_nightly(tracer)
        try:
            t0 = time.perf_counter()
            results = run_nightly(spark, catalog, store, layers=layers, target_dir=dwh)
            wall = time.perf_counter() - t0
        finally:
            if tracer is not None:
                tracer.unpatch()
                tracer.unit = None
        check(results, unit, need_rows=not quiet)
        harness.log(f"{unit}: {wall:.2f}s")
        out = {
            "unit": unit,
            "wall": wall,
            "items": {r.job: (r.finished - r.started).total_seconds() for r in results},
            "rows": sum(r.rows for r in results),
            "log_files": log_files,
        }
        if counters is not None:
            out["spark"] = counters.delta()
        return out

    # The upsert path (anti-join, union, rewrite, swap) is not run by the
    # bootstrap night and the recompute above.
    for _ in range(WARMUP_NIGHTS):
        night()
    setup_s = time.perf_counter() - t_start - repeated_s
    units = harness.measure(seconds, night, TIMED_NIGHTS)
    traced = None
    if trace:
        tracer = tracing.Tracer()
        counters = tracing.SparkCounters(spark)
        # The quiet floor: the same night over the unchanged history (empty
        # delta, MERGE skipped), for its wall time and Spark counters.
        catalog.tables.update(base_paths)
        quiet = night(counters=counters, quiet=True)
        catalog.tables.update(changed_paths)
        pair, overhead = tracing.abba(night, lambda: night(tracer, counters))
        traced = {
            "layers": {
                **tracing.mean_layers([nightly_layers(tracer, u, dwh) for u in pair]),
                "trace.overhead_s": overhead,
                "quiet.night_s": quiet["wall"],
                "quiet.spark.core_busy_frac": tracing.spark_layers(quiet["spark"], quiet["wall"])[
                    "spark.core_busy_frac"
                ],
            }
        }
        tracer.write(os.path.join(harness.WORK_ROOT, f"spans-{workload}-seed{seed}.json"))

    t_gate = time.perf_counter()
    # Correctness gate (untimed): the warehouse after the last night must
    # equal the full recompute.
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{work.sub('duckdb')}'")
    for t in targets():
        attempted += 1
        if not facts_equal(con, os.path.join(dwh, t), os.path.join(ref_dwh, t)):
            failed += 1
            notes.append(f"gate: {t} differs from a full recompute")
    con.close()
    harness.log(f"correctness gate: {time.perf_counter() - t_gate:.2f}s")
    return {
        "setup_s": setup_s,
        "units": units,
        "traced": traced,
        "attempted": attempted,
        "failed": failed,
        "notes": notes,
    }


def _parquet_rows(d: str) -> int:
    return sum(
        pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
        for f in os.listdir(d) if f.endswith(".parquet")
    )


def nightly_layers(tracer, unit: dict, dwh: str) -> dict[str, float]:
    name = unit["unit"]
    secs, calls = tracer.layer_totals(name)
    selfs = tracer.self_times(name)
    spans = [tracer.spans[i] for i in tracer.unit_spans(name)]
    tables = {s[5] for s in spans if s[0] == "catalog.read"}
    # A MERGE that swapped its target rewrote the whole fact.
    rewritten = {s[5].rstrip("/") for s in spans if s[0] == "fsutil.swap"}
    rewrites = sum(1 for s in spans if s[0] == "sinks.merge" and s[5].rstrip("/") in rewritten)
    # Per target: JobResult.rows counts the main target's delta only, so
    # the ratio is the main target's rewritten rows over its delta rows.
    main = os.path.join(dwh, targets()[0])
    # Every night replays the same delta over the same snapshot, so the
    # fact on disk now has the rows every traced night rewrote.
    rows_rewritten = _parquet_rows(main) if main in rewritten else 0
    spark = unit["spark"]
    return {
        "watermark.read_s": secs["watermark.read"],
        "watermark.read_calls": calls["watermark.read"],
        "watermark.commit_s": secs["watermark.commit"],
        "watermark.commit_calls": calls["watermark.commit"],
        "watermark.log_files": unit["log_files"],
        "fsutil.probe_s": secs["fsutil.probe"],
        "fsutil.probe_calls": calls["fsutil.probe"],
        "fsutil.swap_s": secs["fsutil.swap"],
        "fsutil.swap_calls": calls["fsutil.swap"],
        "catalog.read_s": secs["catalog.read"],
        "catalog.read_calls": calls["catalog.read"],
        "catalog.tables_distinct": len(tables),
        "sinks.merge_s": secs["sinks.merge"],
        "sinks.merge_calls": calls["sinks.merge"],
        "sinks.merge_rewrites": rewrites,
        "sinks.rows_rewritten_per_delta_row": rows_rewritten / unit["rows"] if unit["rows"] else 0.0,
        "sinks.merge_share": secs["sinks.merge"] / unit["wall"],
        "jobs.build_s": secs["jobs.build"],
        "jobs.execute_s": selfs["runner.run_job"],
        "jobs.delta_rows_per_s": unit["rows"] / unit["wall"],
        **tracing.spark_layers(spark, unit["wall"]),
    }
