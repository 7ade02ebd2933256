"""Traced runs: spans recorded from the benchmark's own files around calls
into the engine's public functions, plus per-unit Spark counters.

No engine code changes. Each public function is wrapped where its callers
look it up: names imported with ``from x import f`` are patched in the
importing module, methods on their class, ``fsutil`` helpers on the
module. Spans stay in memory (name, start, end, parent, unit, detail) and
are written out when the run ends.
"""

from __future__ import annotations

import contextlib
import dataclasses
import functools
import json
import time
from collections import Counter, defaultdict

import harness


class Tracer:
    def __init__(self):
        self.spans: list[list] = []  # [name, start, end, parent, unit, detail]
        self.stack: list[int] = []
        self.unit: str | None = None
        self._undo: list = []  # callables restoring what patch() replaced

    @contextlib.contextmanager
    def span(self, name: str, detail=None):
        idx = len(self.spans)
        parent = self.stack[-1] if self.stack else None
        self.spans.append([name, time.perf_counter(), None, parent, self.unit, detail])
        self.stack.append(idx)
        try:
            yield
        finally:
            self.stack.pop()
            self.spans[idx][2] = time.perf_counter()

    def wrap(self, name: str, fn, detail_arg: int | None = None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            detail = args[detail_arg] if detail_arg is not None and len(args) > detail_arg else None
            with self.span(name, detail):
                return fn(*args, **kwargs)

        return traced

    def patch(self, owner, attr: str, name: str, detail_arg: int | None = None) -> None:
        orig = getattr(owner, attr)
        self._undo.append(lambda: setattr(owner, attr, orig))
        setattr(owner, attr, self.wrap(name, orig, detail_arg))

    def unpatch(self) -> None:
        while self._undo:
            self._undo.pop()()

    # -- aggregation -------------------------------------------------------
    def unit_spans(self, unit: str) -> list[int]:
        return [i for i, s in enumerate(self.spans) if s[4] == unit]

    def layer_totals(self, unit: str) -> tuple[dict, Counter]:
        """Per span name: summed duration and call count, counting only
        spans not nested inside another span of the same layer (the
        prefix before the first dot), so a probe made by a swap is part
        of the swap, not a second probe."""
        secs: dict[str, float] = defaultdict(float)
        calls: Counter = Counter()
        for i in self.unit_spans(unit):
            name, t0, t1, parent = self.spans[i][:4]
            layer = name.split(".", 1)[0]
            p = parent
            nested = False
            while p is not None:
                if self.spans[p][0].split(".", 1)[0] == layer:
                    nested = True
                    break
                p = self.spans[p][3]
            if not nested:
                secs[name] += t1 - t0
                calls[name] += 1
        return secs, calls

    def self_times(self, unit: str) -> dict[str, float]:
        """Per span name: summed self time (duration minus direct children)."""
        idx = self.unit_spans(unit)
        child = defaultdict(float)
        for i in idx:
            p = self.spans[i][3]
            if p is not None:
                child[p] += self.spans[i][2] - self.spans[i][1]
        out: dict[str, float] = defaultdict(float)
        for i in idx:
            name, t0, t1 = self.spans[i][:3]
            out[name] += (t1 - t0) - child[i]
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                [
                    {"name": n, "start": a, "end": b, "parent": p, "unit": u,
                     "detail": None if d is None else str(d)}
                    for n, a, b, p, u, d in self.spans
                ],
                f,
            )


def patch_nightly(tracer: Tracer) -> None:
    """Wrap the nightly DAG's layers: job runner, build functions, MERGE,
    watermark store, catalog reads and filesystem probes/swaps."""
    from com_danliris_service_etl_spark import jobs as jobs_pkg
    from com_danliris_service_etl_spark.plans import jobs as plans_jobs
    from com_danliris_service_etl_spark.plans import schedule
    from com_danliris_service_etl_spark.sources import fsutil
    from com_danliris_service_etl_spark.sources.catalog import Catalog
    from com_danliris_service_etl_spark.sources.watermark import WatermarkStore

    tracer.patch(schedule, "run_job", "runner.run_job")
    tracer.patch(plans_jobs, "merge_upsert", "sinks.merge", detail_arg=1)
    tracer.patch(WatermarkStore, "read_watermark", "watermark.read")
    tracer.patch(WatermarkStore, "commit_run", "watermark.commit")
    tracer.patch(Catalog, "read", "catalog.read", detail_arg=1)
    for fn in ("exists", "is_dir", "child_names", "has_committed_parquet",
               "parquet_file_sizes", "recover_interrupted_swap"):
        tracer.patch(fsutil, fn, "fsutil.probe")
    tracer.patch(fsutil, "swap_with_backup", "fsutil.swap", detail_arg=2)

    specs = jobs_pkg.ALL_SPECS
    originals = dict(specs)
    for name, spec in originals.items():
        specs[name] = dataclasses.replace(
            spec,
            build=tracer.wrap("jobs.build", spec.build),
            extra_targets={
                t: (tracer.wrap("jobs.build", v[0]), *v[1:])
                for t, v in spec.extra_targets.items()
            },
        )
    tracer._undo.append(lambda: (specs.clear(), specs.update(originals)))


def abba(untraced, traced) -> tuple[list, float]:
    """Run untraced and traced units in the order U T T U, so a linear
    drift in unit time (the JIT still settling, the host's speed) cancels
    out of the overhead. Returns the two traced units and the tracing
    overhead: traced minus untraced wall time, per unit."""
    u1, t1, t2, u2 = untraced(), traced(), traced(), untraced()
    return [t1, t2], (t1["wall"] + t2["wall"] - u1["wall"] - u2["wall"]) / 2


def mean_layers(per_unit: list[dict]) -> dict[str, float]:
    return {k: sum(d[k] for d in per_unit) / len(per_unit) for k in per_unit[0]}


class SparkCounters:
    """Spark work done since the last call, read from the driver's status
    store: jobs, executed stages, tasks, executor run time, bytes read
    and shuffled. Works with the UI disabled."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()  # noqa: SLF001
        jvm = self.sc._jvm  # noqa: SLF001
        self._empty_list = jvm.java.util.ArrayList
        self._no_quantiles = self.sc._gateway.new_array(jvm.double, 0)  # noqa: SLF001
        self.seen_jobs = set(self.sc.statusTracker().getJobIdsForGroup(None))

    def delta(self) -> dict[str, float]:
        tracker = self.sc.statusTracker()
        new_jobs = set(tracker.getJobIdsForGroup(None)) - self.seen_jobs
        self.seen_jobs |= new_jobs
        stage_ids = set()
        for j in new_jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = dict.fromkeys(
            ("jobs", "stages", "tasks", "executor_run_s", "shuffle_write_bytes", "input_bytes"), 0.0
        )
        out["jobs"] = float(len(new_jobs))
        for sid in stage_ids:
            attempts = self.store.stageData(
                sid, False, self._empty_list(), False, self._no_quantiles
            )
            for k in range(attempts.size()):
                st = attempts.apply(k)
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numTasks()
                out["executor_run_s"] += st.executorRunTime() / 1000.0
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["input_bytes"] += st.inputBytes()
        return out


def spark_layers(spark: dict, wall: float) -> dict[str, float]:
    """Per-unit Spark counters, plus executor busy time over the unit's
    wall time times the cores Spark runs on."""
    return {
        "spark.jobs": spark["jobs"],
        "spark.stages": spark["stages"],
        "spark.tasks": spark["tasks"],
        "spark.executor_run_s": spark["executor_run_s"],
        "spark.core_busy_frac": spark["executor_run_s"] / (wall * harness.cores()),
        "spark.shuffle_write_bytes": spark["shuffle_write_bytes"],
        "spark.input_bytes": spark["input_bytes"],
    }
