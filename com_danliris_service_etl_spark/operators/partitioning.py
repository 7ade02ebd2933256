"""Conditional repartitioning of under-partitioned scans.

A one-file parquet fixture scans as ONE partition, so any CPU-bound
per-row projection over it (hashing, shingling, vector scoring) runs
single-threaded. `spread` redistributes such inputs across the cluster
and passes well-partitioned or composed plans through untouched.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Input bytes per task that `spread` sizes its target partition count to.
SPREAD_BYTES = 16384


def spread(df: DataFrame) -> DataFrame:
    """Small corpora often arrive as one parquet file = one partition; the
    per-token/shingle hashing downstream is CPU-bound, so spread rows across
    the cluster first (one cheap shuffle of the compact doc rows buys full
    parallelism for the expensive explode+hash stages). CONDITIONAL: a
    well-partitioned input (≥ the cluster's parallelism) is passed through
    untouched — an unconditional repartition(defaultParallelism) would
    DOWN-partition a 100 TB input into a handful of giant partitions, the
    opposite of its purpose.

    The probe REPLAYS Spark's own split planning over the analyzed plan's
    size statistic instead of converting to an RDD:
    `df.rdd.getNumPartitions()` is correct but costs 30-900 ms of
    driver-side plan conversion per FRESH plan (measured r12) — a floor
    tax paid by every spread call site on every benched run — while
    `analyzed().stats().sizeInBytes()` is the already-computed file-index
    size (1-30 ms). The estimate mirrors FilePartition planning:
    maxSplit = min(maxPartitionBytes, max(openCostInBytes, size/par)),
    estParts = ceil(size/maxSplit); for big inputs Spark targets `par`
    splits by construction so the estimate saturates exactly when the
    real planner does, and for one-small-file inputs both give 1. The
    probe is still GUARDED by `_is_scan_rooted`: a composed plan
    (join/aggregate/window/sort upstream) is passed through untouched —
    its exchange already partitioned it to `spark.sql.shuffle.partitions`,
    and a caller wanting different layout repartitions explicitly. Any
    stats failure falls back to the exact RDD probe."""
    sc = df.sparkSession.sparkContext
    if not _is_scan_rooted(df):
        return df
    par = sc.defaultParallelism
    try:
        # FilePartition planning splits the RELATION'S raw bytes, but the
        # ROOT's sizeInBytes is scaled through Project/Filter by the basic
        # stats visitor (a narrow projection over a wide scan can
        # underestimate 10x and trigger a spurious repartition of an
        # already well-split input) — so read the LEAF relation's own
        # stats, which for a scan-rooted plan IS the file-index size the
        # split planner sees.
        leaves = df._jdf.queryExecution().analyzed().collectLeaves()
        size = sum(
            int(leaves.apply(i).stats().sizeInBytes())
            for i in range(leaves.size())
        )
        conf = df.sparkSession.conf

        def _bytes(key: str, default: int) -> int:
            raw = str(conf.get(key, str(default))).strip().lower()
            for suf, mult in (("kb", 2**10), ("mb", 2**20), ("gb", 2**30),
                              ("k", 2**10), ("m", 2**20), ("g", 2**30),
                              ("b", 1)):
                if raw.endswith(suf):
                    return int(raw[: -len(suf)]) * mult
            return int(raw)

        max_split = min(
            _bytes("spark.sql.files.maxPartitionBytes", 128 * 2**20),
            max(_bytes("spark.sql.files.openCostInBytes", 4 * 2**20),
                max(size // par, 1)),
        )
        est_parts = -(-size // max_split)
    except Exception:  # noqa: BLE001 — stats missing on exotic relations
        est_parts = df.rdd.getNumPartitions()
        size = None
    # Target partition count is sized to the DATA, capped by the core
    # count (r15; guide §2.5 + the r14 driver's scaling block, which read
    # 32-core anti-scaling ratios of 0.45-0.78 on the dd family). The r15
    # adjudication, measured both in-process interleaved AND as separate
    # 8-vs-32-core processes: the anti-scaling does NOT reproduce outside
    # r14's contended window (current ratios 0.9-1.1), and capping the
    # spread to >= 64 KB/task regresses the CPU-heavy consumers 2x at 32
    # cores (txt4's Horner explode does ~200 window hashes per input KB —
    # per-task CPU, not bytes, is what needs splitting). So the budget
    # is SPREAD_BYTES = 16 KB/task: behavior at the measured corpus sizes is
    # unchanged (594 KB documents → ceil = 37 ≥ par), while genuinely
    # tiny inputs (a few KB) no longer pay a par-way shuffle for one
    # task's worth of rows, and tgt<=1 skips the exchange entirely.
    tgt = par if size is None else min(par, max(1, -(-size // SPREAD_BYTES)))
    if est_parts >= tgt or tgt <= 1:
        return df
    # HASH-partition on a deterministic synthetic key instead of the old
    # keyless round-robin `repartition(tgt)`. Round-robin pays a local
    # SORT of the map side first (spark.sql.execution.sortBeforeRepartition,
    # needed so task retries reproduce the row→partition assignment —
    # SPARK-23207) and that sort runs on the very under-partitioned input
    # spread exists to fix: measured 0.75 s vs 0.37 s for the same 600k-row
    # one-partition redistribution (r14). xxhash64 over the whole row is
    # deterministic under retries (guide §2.5: derive synthetic keys
    # deterministically, never from rand()), and 100×tgt distinct values
    # spread evenly across tgt partitions. Exact-duplicate rows co-locate,
    # which every downstream here tolerates (their keyed exchanges re-hash).
    par_key = F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(100 * tgt))
    return df.repartition(tgt, par_key)


# Analyzed-plan node CLASSES that cannot introduce an exchange: for these
# the `.rdd` partition probe is pure metadata even under AQE. Matched on
# the JVM class simple name (getClass().getSimpleName()), not the plan's
# string rendering — rendering drifts across Spark versions; class names
# are the tree itself.
_NARROW_CLASSES = frozenset(
    {
        "LogicalRelation",  # DataSource V1 scan (parquet here)
        "DataSourceV2Relation",
        "DataSourceV2ScanRelation",
        "HiveTableRelation",
        "LogicalRDD",
        "LocalRelation",
        "Range",
        "Project",
        "Filter",
        "SubqueryAlias",
        "Generate",
        "GlobalLimit",
        "LocalLimit",
        "View",
    }
)


def _walk_is_narrow(jplan) -> bool:
    """Walk the analyzed LogicalPlan tree via py4j: every node's JVM class
    simple name must be in _NARROW_CLASSES. Raises on py4j failures —
    callers decide the safe default."""
    stack = [jplan]
    while stack:
        node = stack.pop()
        if node.getClass().getSimpleName() not in _NARROW_CLASSES:
            return False
        children = node.children()
        for i in range(children.size()):
            stack.append(children.apply(i))
    return True


_SCAN_ROOT_SELF_CHECKED = False


def _is_scan_rooted(df: DataFrame) -> bool:
    """True iff every node of the analyzed logical plan is narrow (no
    join/aggregate/window/sort/repartition anywhere) — the condition under
    which `.rdd.getNumPartitions()` runs no jobs. Unknown node classes and
    probe failures default to False (treat as composed: skip the probe —
    the safe direction, but see the self-check below).

    SELF-CHECK (once per process): a silently-miscategorizing probe would
    disable `spread` for every scan input — a silent perf regression, not
    a correctness bug — so on first use assert the walk classifies a plain
    scan as narrow and an aggregate as composed; Spark-version drift in
    the plan representation then fails LOUDLY instead of quietly."""
    global _SCAN_ROOT_SELF_CHECKED
    if not _SCAN_ROOT_SELF_CHECKED:
        spark = df.sparkSession
        scan_ok = _walk_is_narrow(spark.range(1)._jdf.queryExecution().analyzed())
        agg_composed = not _walk_is_narrow(
            spark.range(1).groupBy().count()._jdf.queryExecution().analyzed()
        )
        if not (scan_ok and agg_composed):
            raise RuntimeError(
                "_is_scan_rooted self-check failed on this Spark version: "
                f"plain scan narrow={scan_ok}, aggregate composed={agg_composed}. "
                "Update _NARROW_CLASSES for the new analyzed-plan node classes."
            )
        _SCAN_ROOT_SELF_CHECKED = True
    try:
        return _walk_is_narrow(df._jdf.queryExecution().analyzed())
    except Exception:
        return False
