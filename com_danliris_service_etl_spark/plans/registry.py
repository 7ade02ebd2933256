"""Query registry shared by all query-family modules.

Each entry pairs a Spark query function (spark, sf_dir) -> DataFrame with a
DuckDB oracle SQL string (or None for non-SQL-expressible ops, which get the
driver's weaker rows-only check). Every query lives in the family module
named for its name prefix (`queries_<family>.py`); `load_all` imports
them all.

Conventions (the correctness gate hashes values with columns sorted by
name — BASELINE.md):
- every computed column is aliased identically in Spark and SQL;
- double *aggregates* are rounded (sum→2dp, avg→4-6dp) because summation
  order differs across engines; raw IEEE arithmetic (products, subtractions)
  is bit-deterministic and left unrounded;
- every window/first-match/top-k has a total-order tiebreak (SURVEY §7.4).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from com_danliris_service_etl_spark.functions.dates import epoch_micros
from com_danliris_service_etl_spark.sources import fsutil

QueryFn = Callable[[SparkSession, str], DataFrame]

REGISTRY: dict[str, tuple[QueryFn, str | None]] = {}


def register(name: str, oracle: str | None):
    def deco(fn: QueryFn) -> QueryFn:
        REGISTRY[name] = (fn, oracle)
        return fn

    return deco


# Table-handle cache: one pinned read (`fsutil.read_parquet`) per
# (session, dir, table) — what a metastore gives a real deployment.
# DataFrames are immutable plans, so reuse is safe; keyed on a stable
# session identity (applicationId + startTime) so a fresh session (tests)
# never sees stale handles and a recycled CPython object id can never
# collide.
_TABLE_CACHE: dict[tuple[str, int, str, str], DataFrame] = {}


def _session_key(spark: SparkSession) -> tuple[str, int]:
    sc = spark.sparkContext
    return (sc.applicationId, sc.startTime)


def _t(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    app_id, start = _session_key(spark)
    key = (app_id, start, sf_dir, table)
    df = _TABLE_CACHE.get(key)
    if df is None:
        # Evict dead sessions' handles so the cache is bounded by the
        # LIVE session's (dir, table) working set, not process history.
        for k in [k for k in _TABLE_CACHE if k[:2] != (app_id, start)]:
            del _TABLE_CACHE[k]
        df = fsutil.read_parquet(spark, f"{sf_dir}/{table}.parquet")
        _TABLE_CACHE[key] = df
    return df


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events with `ts` replaced by `ts_us` (epoch MICROS long) and `ts_utc`
    (micros TimestampType) — epoch-micros is the representation Spark and
    DuckDB agree on exactly (oracle side: ``epoch_us(ts)``), whatever the
    parquet generation's physical type (`functions.dates.epoch_micros`
    dispatches on the pinned `ts` type, as the streaming read does)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.withColumn("ts_us", epoch_micros(ev))
        .withColumn("ts_utc", F.timestamp_micros(F.col("ts_us")))
        .drop("ts")
    )


def load_all() -> dict[str, tuple[QueryFn, str | None]]:
    """Import every query-family module (side effect: registration)."""
    from com_danliris_service_etl_spark.plans import (  # noqa: F401
        queries_aggregates,
        queries_dedup,
        queries_graph,
        queries_joins,
        queries_llm,
        queries_quality,
        queries_relational,
        queries_scalars,
        queries_similarity,
        queries_sketches,
        queries_streaming,
        queries_text,
        queries_warehouse,
        queries_windows,
    )

    return REGISTRY
