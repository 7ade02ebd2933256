"""Shared test fixtures: one SparkSession per test run, a DuckDB oracle
runner mirroring the driver's correctness gate (BASELINE.md: row-count +
schema + order-insensitive value comparison at a given scale factor).
"""

from __future__ import annotations

import os

import duckdb
import pandas as pd
import pytest

from com_danliris_service_etl_spark.session import get_session

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    s = get_session(app_name="tests", shuffle_partitions=4)
    yield s


@pytest.fixture
def spark_jobs(spark):
    """Factory of counters: each call returns a callable giving how many
    Spark jobs ran since that call (read from the status tracker after
    draining the listener bus, since job-start events reach it
    asynchronously)."""
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()  # noqa: SLF001

    def job_ids() -> set[int]:
        bus.waitUntilEmpty()
        return set(sc.statusTracker().getJobIdsForGroup(None))

    def counter():
        before = job_ids()
        return lambda: len(job_ids() - before)

    return counter


@pytest.fixture(scope="session")
def oracle():
    con = duckdb.connect()
    for t in TABLES:
        p = f"{SF_DIR}/{t}.parquet"
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    yield con
    con.close()


def canonicalize(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name and rows by all values — order-insensitive form."""
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("float64") if df[c].isna().any() else df[c].astype("int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
    if len(df.columns):
        df = df.sort_values(by=list(df.columns), na_position="last", kind="mergesort")
    return df.reset_index(drop=True)


def assert_frames_match(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame, name: str) -> None:
    a, b = canonicalize(spark_pdf), canonicalize(oracle_pdf)
    assert len(a) == len(b), f"{name}: row count {len(a)} (spark) vs {len(b)} (oracle)"
    assert list(a.columns) == list(b.columns), (
        f"{name}: columns {list(a.columns)} vs {list(b.columns)}"
    )
    pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=True, obj=name)
