"""``registry_sf0.1``: a frozen subset of registry queries over an sf0.1
dataset, each materialised through the noop sink as bench.py does.

The subset: the three operator families with the largest summed time in
BENCH_FULL.json (min-of-3 seconds per query at sf0.1) and, in each, the
costliest query of at most 1.0 s. A query's first run in a fresh JVM
costs several times its steady time, and every run pays a warm-up pass,
the timed passes and the correctness gate, so three such queries are what
fits a run's time budget. The dataset is the fixed seed-42 output of
datagen.py; the run seed only shuffles the query order of each pass. The
data plane only: no sink, catalog or watermark.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd

import datagen
import harness
import tracing

SF = 0.1
DATA_SEED = 42
QUERIES = (
    "dd3_simhash",
    "g11_adamic_adar",
    "txt6_repetition_stats",
)
TIMED_PASSES = 3
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings")


def family(query: str) -> str:
    return query.split("_", 1)[0].rstrip("0123456789")


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    """The repository's oracle comparison: sorted columns and rows,
    timestamps at microsecond precision."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
    return df.sort_values(by=list(df.columns), na_position="last", kind="mergesort").reset_index(
        drop=True
    )


def matches_oracle(sdf: pd.DataFrame, odf: pd.DataFrame) -> bool:
    a, b = _canon(sdf), _canon(odf)
    if len(a) != len(b) or list(a.columns) != list(b.columns):
        return False
    try:
        pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=True)
    except AssertionError:
        return False
    return True


def run(spark, work: harness.Workdir, workload: str, seed: int, seconds: float,
        trace: bool, t_start: float) -> dict:
    import duckdb

    from com_danliris_service_etl_spark.plans.registry import load_all

    registry = load_all()
    sf_dir = work.sub("sf0.1")
    rng = np.random.default_rng(seed)
    passes = 0

    def one_pass(tracer=None, counters=None):
        nonlocal passes
        passes += 1
        unit = f"pass{passes}"
        per_query = {}
        if tracer is not None:
            tracer.unit = unit
            counters.delta()
        t_pass = time.perf_counter()
        for i in rng.permutation(len(QUERIES)):
            name = QUERIES[i]
            fn = registry[name][0]
            t0 = time.perf_counter()
            if tracer is None:
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            else:
                with tracer.span("plans.build", name):
                    df = fn(spark, sf_dir)
                with tracer.span("plans.optimize", name):
                    df._jdf.queryExecution().executedPlan()  # noqa: SLF001
                with tracer.span("plans.execute", name):
                    df.write.format("noop").mode("overwrite").save()
            per_query[name] = time.perf_counter() - t0
        wall = time.perf_counter() - t_pass
        if tracer is not None:
            tracer.unit = None
        harness.log(f"{unit}: {wall:.2f}s", {k: round(v, 2) for k, v in per_query.items()})
        out = {"unit": unit, "wall": wall, "items": per_query}
        if counters is not None:
            out["spark"] = counters.delta()
        return out

    def generate() -> None:
        datagen.write(sf_dir, SF, DATA_SEED)

    # A query's first run in a JVM costs three to four times a steady one
    # (class loading, JIT, code generation) and later passes are flat, so
    # set-up runs one untimed pass. It collects each query's result for
    # the correctness gate.
    _, repeated_s = harness.repeat_setup(generate)
    results = {}
    t0 = time.perf_counter()
    for name in QUERIES:
        try:
            results[name] = registry[name][0](spark, sf_dir).toPandas()
        except Exception as exc:  # noqa: BLE001 — a failing query is a counted failure
            results[name] = exc
    harness.log(f"warm-up pass: {time.perf_counter() - t0:.2f}s")
    setup_s = time.perf_counter() - t_start - repeated_s
    units = harness.measure(seconds, one_pass, TIMED_PASSES)
    traced = None
    if trace:
        tracer = tracing.Tracer()
        counters = tracing.SparkCounters(spark)
        pair, overhead = tracing.abba(one_pass, lambda: one_pass(tracer, counters))
        layers = []
        for u in pair:
            secs, _ = tracer.layer_totals(u["unit"])
            n = len(QUERIES)
            layers.append({
                "plans.build_s": secs["plans.build"] / n,
                "plans.optimize_s": secs["plans.optimize"] / n,
                "plans.execute_s": secs["plans.execute"] / n,
                **{f"operators.{family(q)}.s": u["items"][q] for q in QUERIES},
                **tracing.spark_layers(u["spark"], u["wall"]),
            })
        traced = {"layers": {**tracing.mean_layers(layers), "trace.overhead_s": overhead}}
        tracer.write(os.path.join(harness.WORK_ROOT, f"spans-{workload}-seed{seed}.json"))

    t_gate = time.perf_counter()
    # Correctness gate (untimed): every query's result from the warm-up
    # pass against its DuckDB oracle.
    con = duckdb.connect()
    con.execute(f"SET temp_directory='{work.sub('duckdb')}'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    failed, notes = 0, []
    for name in QUERIES:
        got = results[name]
        if isinstance(got, Exception):
            notes.append(f"{name}: {type(got).__name__}: {str(got)[:200]}")
        elif matches_oracle(got, con.execute(registry[name][1]).df()):
            continue
        else:
            notes.append(f"{name}: result differs from its DuckDB oracle")
        failed += 1
    con.close()
    harness.log(f"correctness gate: {time.perf_counter() - t_gate:.2f}s")
    return {
        "setup_s": setup_s,
        "units": units,
        "traced": traced,
        "attempted": len(QUERIES) * (len(units) + (4 if trace else 0)) + len(QUERIES),
        "failed": failed,
        "notes": notes,
    }
