"""Benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Runs from the root of a checkout. Sets up the workload (its set-up time is
reported as ``setup_s``), runs measured units in a closed loop for
``--seconds`` (at least four units), checks the outputs, and prints one
line per metric followed by one JSON line: the end-to-end metrics
untraced, or the per-layer metrics with ``--trace 1``. BENCHMARK.json
names the metrics; perfbench/DESIGN.md records the design.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

T_START = time.perf_counter()

import harness  # noqa: E402

WORKLOADS = ("nightly_upsert", "registry_sf0.1")


def end_to_end(res: dict) -> dict[str, float]:
    """A unit is a night or a query pass; an item a job or a query. Each
    item's time is its median over the units; a unit holds too few items
    for a percentile tail, so the tail is the slowest item."""
    units = res["units"]
    per_item = [harness.median([u["items"][k] for u in units]) for k in units[0]["items"]]
    return {
        "setup_s": res["setup_s"],
        "pass_s": harness.median([u["wall"] for u in units]),
        "item_p50_s": harness.median(per_item),
        "item_tail_s": max(per_item),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, harness.ROOT)
    import com_danliris_service_etl_spark  # noqa: F401 — fail fast outside a checkout

    work = harness.Workdir(args.workload)
    spark = None
    try:
        spark = harness.start_session(work, bool(args.trace))
        if args.workload == "nightly_upsert":
            import nightly as wl
        else:
            import registry as wl
        res = wl.run(spark, work, args.workload, args.seed, args.seconds,
                     bool(args.trace), T_START)
        res["peak_rss_mb"] = harness.peak_rss_mb()
    finally:
        if spark is not None:
            harness.stop_session(spark)
        work.close()

    for note in res["notes"]:
        harness.log("CHECK FAILED:", note)
    units = res["units"]
    harness.log(
        f"{args.workload}: {len(units)} measured units, "
        f"{len(units[0]['items'])} items each; "
        f"failed_frac={res['failed'] / res['attempted']:.4f} "
        f"({res['failed']}/{res['attempted']}); {time.perf_counter() - T_START:.1f}s in all"
    )
    # BENCHMARK.json names every metric and its unit. A traced run reports
    # 0 for a layer its workload never reaches.
    with open(os.path.join(harness.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.trace:
        values = {**res["traced"]["layers"], "process.peak_rss_mb": res["peak_rss_mb"]}
        declared = spec["per_layer"]
    else:
        values, declared = end_to_end(res), spec["end_to_end"]
    metrics = {m["name"]: (float(values.get(m["name"], 0.0)), m["unit"]) for m in declared}
    harness.emit(res["failed"] == 0, res["attempted"], res["failed"], metrics)
    return 0


if __name__ == "__main__":
    sys.exit(main())
