"""Plumbing shared by every workload: the run's work directory, the Spark
session's lifecycle, process-tree memory, and the statistics reported.

Everything a run writes lives under ``.perfbench_work/`` in the checkout
(ignored by git) and the run's own subdirectory is removed when it ends.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")

# bench.py's setting for sf0.1-sized inputs; recorded in BENCHMARK.json.
SHUFFLE_PARTITIONS = 8
# The JVM runs its C1 compiler only. Under the default tiered JIT, C2 keeps
# recompiling a run's code for minutes, each unit is faster than the last
# (nightly, one run: 6.9, 4.9, 4.7, 4.4, 4.3, 4.0 s), and where the timed
# units sit on that curve, and the code C2 settles on, vary from run to
# run. Under C1 only, units are flat from the second one on (6.2, 5.0,
# 5.4, 5.3, 5.5, 5.2 s). perfbench/DESIGN.md has the measurements.
JAVA_OPTIONS = "-XX:TieredStopAtLevel=1"


def cores() -> int:
    """Cores this process may run on (what `nproc` prints)."""
    return len(os.sched_getaffinity(0))


class Workdir:
    """Per-run scratch directory; also hosts Spark's local dirs and every
    temporary file of the run, so nothing is written outside the checkout."""

    def __init__(self, name: str):
        self.path = os.path.join(WORK_ROOT, f"{name}-{os.getpid()}")
        shutil.rmtree(self.path, ignore_errors=True)
        self.tmp = self.sub("tmp")
        os.environ["TMPDIR"] = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = self.sub("spark-local")

    def sub(self, *parts: str) -> str:
        p = os.path.join(self.path, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


def start_session(work: Workdir, trace: bool):
    """The engine's own session factory on local[nproc]. The traced run
    raises the status store's job/stage retention so the per-unit Spark
    counters see every stage; the untraced run keeps Spark's defaults."""
    from com_danliris_service_etl_spark.session import get_session

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": work.sub("spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work.tmp} {JAVA_OPTIONS}",
    }
    if trace:
        conf.update(
            {
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.sql.ui.retainedExecutions": "100000",
            }
        )
    t0 = time.perf_counter()
    spark = get_session(
        app_name="perfbench",
        master=f"local[{cores()}]",
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf=conf,
    )
    log(f"session started in {time.perf_counter() - t0:.1f}s")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM to exit: it ends on EOF of its stdin."""
    gateway = spark.sparkContext._gateway  # noqa: SLF001
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def peak_rss_mb() -> float:
    """Sum of each live process's peak resident set (VmHWM) over this
    process and its descendants: the Python driver, the JVM, and any
    Python workers still running."""
    kb = 0
    for pid in _descendants(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024.0


def median(xs) -> float:
    return float(statistics.median(xs))


# Input generations per run; setup_s counts their median.
SETUP_ROUNDS = 3


def repeat_setup(generate) -> tuple:
    """Generate and write a workload's inputs SETUP_ROUNDS times, each
    overwriting the last. Returns ``generate()``'s last result and the
    seconds the rounds took beyond their median, which the caller
    subtracts so that ``setup_s`` counts one median round."""
    times, out = [], None
    for _ in range(SETUP_ROUNDS):
        t0 = time.perf_counter()
        out = generate()
        times.append(time.perf_counter() - t0)
    log("input generation:", " ".join(f"{t:.2f}s" for t in times))
    return out, sum(times) - median(times)


def measure(seconds: float, unit, min_units: int) -> list:
    """Closed loop: run ``unit()`` back to back until ``seconds`` have
    passed and at least ``min_units`` ran; return the units' results."""
    out = []
    deadline = time.perf_counter() + seconds
    while len(out) < min_units or time.perf_counter() < deadline:
        out.append(unit())
    return out


def log(*args) -> None:
    print(*args, file=sys.stderr, flush=True)


def emit(correct: bool, attempted: int, failed: int, metrics: dict) -> None:
    """Human-readable lines first, then the one JSON result line."""
    for name, (value, unit) in metrics.items():
        print(f"{name:40s} {value:.6g} {unit}")
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": attempted,
                "failed": failed,
                "metrics": {
                    n: {"value": v, "unit": u} for n, (v, u) in metrics.items()
                },
            }
        )
    )
