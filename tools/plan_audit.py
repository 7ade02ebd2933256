"""Plan-shape snapshot for every registry query → PLAN_AUDIT.json.

Records, per query, the static physical-plan counts that define its
scale behavior: data exchanges (shuffles), sort-merge joins, broadcast
joins, and cartesian products. `tests/test_plan_audit.py` compares every
query's CURRENT counts against this committed snapshot and fails if any
query gained a shuffle, a sort-merge join, or a cartesian product — the
regressions that silently turn a 100 TB plan into a re-shuffle storm.

Regenerate (after an INTENTIONAL plan change, with the diff reviewed):
    python tools/plan_audit.py                 # every query
    python tools/plan_audit.py NAME [NAME ...] # only these entries

With names, only those entries are re-derived; every other entry is
written back exactly as it was read, so the diff shows the named
queries alone.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLAN_AUDIT.json")


def plan_counts(df) -> dict[str, int]:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    # "BroadcastExchange (" contains "Exchange (" — subtract (verify-skill
    # gotcha); tree lines only ("Node (") so detail repeats don't double.
    broadcast_ex = plan.count("BroadcastExchange (")
    return {
        "shuffles": plan.count("Exchange (") - broadcast_ex,
        "broadcast_exchanges": broadcast_ex,
        "sort_merge_joins": plan.count("SortMergeJoin ("),
        "cartesian_products": plan.count("CartesianProduct ("),
        # Exchange SinglePartition funnels its input relation through
        # ONE task — fine only when map-side partial aggregation has
        # already reduced the stream to a scalar/bounded row set (global
        # count, broadcast stat row). tests/test_plan_audit.py pins the
        # exact allowlist; any new occurrence fails CI.
        "single_partition_exchanges": plan.count("SinglePartition"),
    }


def main(names: list[str]) -> int:
    from com_danliris_service_etl_spark.plans.registry import load_all
    from com_danliris_service_etl_spark.session import get_session

    registry = load_all()
    unknown = sorted(set(names) - set(registry))
    if unknown:
        print(f"not registry queries: {unknown}", file=sys.stderr)
        return 2
    audit: dict[str, dict[str, int]] = {}
    if names:
        with open(OUT) as f:
            audit = json.load(f)
    # Pin the cores as well as the shuffle width: some plans depend on
    # both (spread sizes to the core count, triangle_counts repartitions
    # when shuffle partitions < cores), and the snapshot must not change
    # with the host it is taken on.
    spark = get_session(app_name="plan-audit", master="local[4]", shuffle_partitions=4)
    for name in sorted(names or registry):
        audit[name] = plan_counts(registry[name][0](spark, SF_DIR))
        print(name, audit[name])
    with open(OUT, "w") as f:
        json.dump(audit, f, indent=1, sort_keys=True)
    print(f"wrote {OUT} ({len(names or registry)} of {len(audit)} queries re-derived)")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
