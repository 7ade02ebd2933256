"""Table catalog: name → DataFrame, over parquet dirs or JDBC (S1/S2).

The reference opens seven SQL Server connections (`Connection/*/`) and
queries each with raw SQL; here every source is registered once and read
declaratively, so Catalyst sees one plan spanning all sources (cross-DB
joins J8 become ordinary joins).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from com_danliris_service_etl_spark.sources import fsutil


@dataclass
class JdbcSource:
    """JDBC source descriptor (SQL Server in the reference,
    `Connection/Purchasing/purchasing-connection.js:3-12`).

    At scale: always pass ``partition_column/num_partitions`` so the read
    parallelizes; the reference's OFFSET/FETCH pagination (O4,
    `FabricQC/run.js:75-77`) is replaced by partitioned range reads.
    """

    url: str
    table: str
    partition_column: str | None = None
    num_partitions: int = 8
    lower_bound: str | None = None
    upper_bound: str | None = None
    options: dict[str, str] = field(default_factory=dict)


def mssql_source(
    host: str,
    database: str,
    username: str,
    password: str,
    table: str,
    encrypt: bool = True,
    partition_column: str | None = None,
    num_partitions: int = 8,
) -> JdbcSource:
    """SQL Server JdbcSource with the reference's connection contract
    (`Connection/Purchasing/purchasing-connection.js:3-12`: host/database/
    username/password from the environment, mssql dialect, encrypt=true).
    Spark ships no tedious; the MS JDBC driver is the cluster-side
    equivalent and takes the same options — `encrypt` maps to the JDBC
    property of the same name, credentials ride as reader options so they
    never appear in the URL (and never in plans/logs)."""
    return JdbcSource(
        url=f"jdbc:sqlserver://{host};databaseName={database}",
        table=table,
        partition_column=partition_column,
        num_partitions=num_partitions,
        options={
            "user": username,
            "password": password,
            "encrypt": "true" if encrypt else "false",
            # Azure SQL's cert chains validate on a real deployment; a
            # local smoke container usually has a self-signed cert
            "trustServerCertificate": os.environ.get(
                "SPARK_GRAFT_MSSQL_TRUST_CERT", "false"
            ),
            "driver": "com.microsoft.sqlserver.jdbc.SQLServerDriver",
        },
    )


@dataclass
class MongoSource:
    """MongoDB source descriptor (S3 — the reference's MigrationLogFunc
    reads Mongo directly with an aggregation pipeline,
    `MigrationLogFunc/index.js:14-45`).

    Reads through the official Spark connector
    (`spark.read.format("mongodb")`), which must be on the classpath
    (`org.mongodb.spark:mongo-spark-connector`); this image does not ship
    it, so `Catalog.read` raises a clear error here and the semantics are
    covered by the DataFrame twin (`jobs/control.py` models the log sync
    as an argmax over the log table). ``pipeline`` pushes the reference's
    aggregation (match/sort/group) INTO Mongo — the connector's
    `aggregation.pipeline` option — so only the reduced result crosses
    the wire, exactly like the reference's server-side aggregate."""

    uri: str
    database: str
    collection: str
    pipeline: str | None = None  # JSON aggregation pipeline, pushed down
    options: dict[str, str] = field(default_factory=dict)


@dataclass
class Catalog:
    """name → parquet path (test/bench) or JdbcSource (production shape).

    A parquet read is pinned (`fsutil.read_parquet`): its schema is the
    footer of the first file Spark's reader sees under the path, in path
    order, which is the file Spark's own inference reads with
    ``mergeSchema`` off, so reading a table launches no Spark job. A path
    holding no such file raises FileNotFoundError. JDBC and Mongo reads
    are unchanged."""

    spark: SparkSession
    tables: dict[str, str | JdbcSource] = field(default_factory=dict)

    def read(self, name: str) -> DataFrame:
        src = self.tables[name]
        if isinstance(src, JdbcSource):
            reader = (
                self.spark.read.format("jdbc")
                .option("url", src.url)
                .option("dbtable", src.table)
            )
            if src.partition_column:
                reader = (
                    reader.option("partitionColumn", src.partition_column)
                    .option("numPartitions", str(src.num_partitions))
                    .option("lowerBound", src.lower_bound or "0")
                    .option("upperBound", src.upper_bound or str(1 << 31))
                )
            for k, v in src.options.items():
                reader = reader.option(k, v)
            return reader.load()
        if isinstance(src, MongoSource):
            reader = (
                self.spark.read.format("mongodb")
                .option("connection.uri", src.uri)
                .option("database", src.database)
                .option("collection", src.collection)
            )
            if src.pipeline:
                reader = reader.option("aggregation.pipeline", src.pipeline)
            for k, v in src.options.items():
                reader = reader.option(k, v)
            try:
                return reader.load()
            except Exception as exc:
                # Only translate the MISSING-CONNECTOR class of error; an
                # auth/URI/network failure on a connector-equipped cluster
                # must surface unchanged, not masquerade as a classpath
                # problem.
                msg = str(exc)
                if (
                    "Failed to find data source: mongodb" in msg
                    or "DATA_SOURCE_NOT_FOUND" in msg
                    or "ClassNotFoundException" in msg
                ):
                    raise RuntimeError(
                        f"MongoSource {name!r} needs the mongo-spark-connector "
                        "on the classpath (org.mongodb.spark:mongo-spark-connector); "
                        f"underlying error: {exc}"
                    ) from exc
                raise
        return fsutil.read_parquet(self.spark, src)


@dataclass
class MemoryCatalog(Catalog):
    """Catalog over in-memory DataFrames (tests / notebooks)."""

    frames: dict = field(default_factory=dict)

    def read(self, name: str) -> DataFrame:
        if name in self.frames:
            return self.frames[name]
        return super().read(name)
