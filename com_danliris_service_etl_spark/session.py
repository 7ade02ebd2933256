"""SparkSession factory.

The reference executes everything in a single Node.js process
(`Pembelian/run.js` promise chain); our engine replaces that with a Spark
driver + executors. Session defaults are chosen for oracle comparability
(UTC timestamps) and local[N] benchmarking, but every knob scales to a real
cluster: AQE handles skew/coalesce at 100 TB, shuffle partitions are set
from the environment rather than hard-coded.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_session(
    app_name: str = "com_danliris_service_etl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    - ``spark.sql.session.timeZone=UTC``: the reference applies an explicit
      +7h Jakarta shift when formatting (SURVEY.md §2.9 D3); keeping the
      session in UTC makes that shift the only timezone logic in the engine
      and keeps parquet timestamps bit-identical with the DuckDB oracle.
    - AQE on: runtime coalescing + skew-join handling — the scale story for
      joins the reference did app-side.
    - Arrow on: fast Pandas-UDF path for the (few) operators that need it.
    - DataFrame debugging off (``spark.python.sql.dataFrameDebugging.
      enabled=false``, a static conf): PySpark 4 otherwise wraps every
      Column/DataFrame call to capture its Python call site, ~4 of every 5
      py4j round trips while a plan is built (Fact Daily Operation's
      build: ~5,600 → ~1,250). The cost is that an error's DataFrame query
      context no longer names the Python ``file:line`` that built the
      failing expression; the message and JVM stack are unchanged. Pass
      ``extra_conf={"spark.python.sql.dataFrameDebugging.enabled":
      "true"}`` to turn the capture back on when debugging a plan.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", cpus))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Older events.parquet generations carried TIMESTAMP(NANOS); Spark
        # has no nanos timestamp, so read those as raw nanos longs. No-op
        # for the current MICROS fixtures — plans/registry.py:_events
        # adapts to whichever physical type it finds.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
