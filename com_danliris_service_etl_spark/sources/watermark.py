"""Incremental watermark protocol (SURVEY.md §2.1 S4/S8).

The reference reads `select top(1) start from [migration-log] where
description=? and status='Successful' order by finish desc`
(`Pembelian/run.js:41-50`, identical in all 22 jobs), falls back to
1970-01-01 (`Pembelian/run.js:121`), and appends a telemetry row per run
(`Pembelian/run.js:52-63`). Here the log is a parquet-backed control table;
the watermark only advances when a run commits as successful — giving
idempotent re-runs when paired with the MERGE sink.

The log is kept on the driver, off the Spark job path: neither
:meth:`WatermarkStore.commit_run` nor :meth:`WatermarkStore.read_watermark`
launches a Spark job. Every byte still goes through the Hadoop
`FileSystem` of the log's path (`fsutil`), never the driver's local
filesystem — `os.path` is blind to `hdfs://`, `s3a://`, `abfss://` and
would make every nightly read EPOCH, silently degrading the incremental
protocol to full re-extracts.

- **Append.** A row is encoded with pyarrow and written to
  `<log>/.part-<uuid>.parquet`, then renamed to `part-<uuid>.parquet`.
  Spark, Hadoop and this reader skip names starting with `.` or `_`, so a
  crash before the rename leaves nothing visible, and uuid names let
  concurrent writers append to one log without a committer `_temporary`
  directory. The rename is atomic on local/HDFS/ABFS; on S3A it is a
  copy+delete (see `fsutil`): S3 publishes the copied object only once
  complete, but a crash between copy and delete leaves the hidden
  original behind (skipped by every reader, never cleaned up).
- **Timestamps.** New rows store `start`/`finish` as parquet
  TIMESTAMP(MICROS, UTC). Rows appended by earlier versions through
  `spark.createDataFrame(...).write.parquet` hold Spark's historical
  INT96. Both encodings name the same UTC instant; the reader normalises
  each to epoch micros. Naive datetimes are process-local time on the way
  in and out, exactly as PySpark's `TimestampType` converts them, so a
  log written either way reads back to the same naive datetime, to the
  microsecond. `spark.read.schema(LOG_SCHEMA).parquet(log)` reads the
  mixed log as one table. DuckDB's `read_parquet` does too, but it
  unifies TIMESTAMP (INT96) and TIMESTAMPTZ files through its session
  zone: set `TimeZone='UTC'` before comparing values.
- **Read.** One listing of the log directory; every committed
  `*.parquet` file is read through py4j and parsed with pyarrow, one file
  after another on the driver. The cost grows with the file count: on a
  4-core host with a local disk, a fresh read took 2.8-3.0 s over 690
  one-row files (a month of 23 nightly jobs) and 34-41 s over 8,395 (a
  year), where Spark's parallel read took 0.6-0.9 s and 4.0-4.8 s. On an
  object store every file is a round trip more. So the log is kept to a
  few files:
- **Compaction.** Once an append leaves more than `COMPACT_AT` committed
  files, `commit_run` folds them into one (:meth:`WatermarkStore.compact`):
  it publishes their distinct rows as a new file, hidden-then-rename,
  and only then deletes the files it read. A read therefore parses at
  most `COMPACT_AT` files, one of them holding the history (~150 KB for
  a year of 23 nightly jobs, ~60 ms through py4j; fresh reads of such a
  log took 0.05-0.10 s on the host above). A log written before the fold
  existed is folded by the first append; that one append costs a full
  read plus one delete per file (53-59 s for 8,395 files on that host).
  The fold never replaces the directory (an appender racing a directory
  swap would lose its row), so concurrent writers stay safe. A crash, or a
  second writer folding the same files, between publish and delete
  leaves rows visible twice until the next fold removes the duplicates:
  harmless to the watermark (an argmax), but a raw Spark or DuckDB
  reader may count a row twice meanwhile. The log is a set of rows;
  two identical rows (same job, status, row count and times to the
  microsecond) fold into one. A reader that finds a listed file gone
  (folded since the listing) lists again.
"""

from __future__ import annotations

import datetime as dt
import uuid

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import SparkSession
from pyspark.sql import types as T

from com_danliris_service_etl_spark.sources import fsutil

EPOCH = dt.datetime(1970, 1, 1)

LOG_SCHEMA = T.StructType(
    [
        T.StructField("description", T.StringType(), False),
        T.StructField("start", T.TimestampType(), False),
        T.StructField("finish", T.TimestampType(), False),
        T.StructField("executionTime", T.StringType(), True),
        T.StructField("status", T.StringType(), False),
        T.StructField("rowCount", T.LongType(), True),
    ]
)

# Committed files above which an append folds the log into one file.
COMPACT_AT = 8
# Listings a read may retry when concurrent folds keep deleting its files.
_READ_ATTEMPTS = 5

_ARROW_TYPES = {
    T.StringType(): pa.string(),
    T.TimestampType(): pa.timestamp("us", tz="UTC"),
    T.LongType(): pa.int64(),
}
_ARROW_SCHEMA = pa.schema(
    [pa.field(f.name, _ARROW_TYPES[f.dataType], f.nullable) for f in LOG_SCHEMA]
)
# PySpark's own naive-datetime <-> epoch-micros conversion (process-local
# time), so driver-written rows match what createDataFrame/collect gave.
_TS = T.TimestampType()


def _conform(t: pa.Table) -> pa.Table:
    """``t``'s log columns cast to `_ARROW_SCHEMA`, in its order. Spark's
    INT96 reads back naive but holds the UTC instant, so the cast to UTC
    keeps it."""
    return pa.Table.from_arrays(
        [t[f.name].cast(f.type) for f in _ARROW_SCHEMA], schema=_ARROW_SCHEMA
    )


def _decode(data: bytes) -> pa.Table:
    """One log file's rows."""
    return _conform(pq.read_table(pa.BufferReader(data), coerce_int96_timestamp_unit="us"))


class WatermarkStore:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def _file(self, name: str) -> str:
        return f"{self.path.rstrip('/')}/{name}"

    def _committed(self) -> list[str]:
        """Names of the committed log files: `*.parquet`, skipping
        directories such as a crashed Spark append's `_temporary`,
        `_SUCCESS`-style markers and hidden in-flight appends."""
        return [
            n
            for n in fsutil.child_names(self.spark, self.path)
            if n.endswith(".parquet") and not n.startswith(("_", "."))
        ]

    def _snapshot(self) -> tuple[list[str], pa.Table]:
        """(names, rows) of the committed log files, from one listing."""
        for _ in range(_READ_ATTEMPTS):
            names = self._committed()
            try:
                tables = [_decode(fsutil.read_bytes(self.spark, self._file(n))) for n in names]
            except FileNotFoundError:
                continue  # folded since the listing; the fold published first
            return names, pa.concat_tables([_ARROW_SCHEMA.empty_table(), *tables])
        raise OSError(f"migration log {self.path} kept changing across {_READ_ATTEMPTS} listings")

    def _publish(self, rows: pa.Table) -> None:
        """Write ``rows`` as a new log file: hidden name first, then rename."""
        sink = pa.BufferOutputStream()
        pq.write_table(rows, sink)
        name = f"part-{uuid.uuid4().hex}.parquet"
        fsutil.write_bytes(self.spark, self._file(f".{name}"), sink.getvalue().to_pybytes())
        fsutil.rename(self.spark, self._file(f".{name}"), self._file(name))

    def read_watermark(self, job: str) -> dt.datetime:
        """Last successful run's `start` for the job; epoch when absent.

        The `top(1) ... order by finish desc` is a driver-side argmax over
        the log's rows; ties on `finish` go to the later `start`, so the
        result does not depend on file order."""
        _, rows = self._snapshot()
        won = rows.filter((pc.field("description") == job) & (pc.field("status") == "Successful"))
        if won.num_rows == 0:
            return EPOCH
        top = won.sort_by([("finish", "descending"), ("start", "descending")])
        return _TS.fromInternal(top["start"].cast(pa.int64())[0].as_py())

    def commit_run(
        self,
        job: str,
        start: dt.datetime,
        finish: dt.datetime,
        status: str = "Successful",
        row_count: int | None = None,
    ) -> None:
        """S8 — append one telemetry row (hidden write, then rename), then
        fold the log if it now holds more than `COMPACT_AT` committed
        files (module docstring). Status may embed a row count like the
        reference's `"Successful-50-Part34-" + dataCount`
        (`FabricQC/run.js:22`); we keep it a typed column instead."""
        minutes = max(0.0, (finish - start).total_seconds() / 60.0)
        row = {
            "description": [job],
            "start": [_TS.toInternal(start)],
            "finish": [_TS.toInternal(finish)],
            "executionTime": [f"{minutes:.2f} minutes"],
            "status": [status],
            "rowCount": [row_count],
        }
        self._publish(pa.Table.from_pydict(row, schema=_ARROW_SCHEMA))
        if len(self._committed()) > COMPACT_AT:
            self.compact()

    def compact(self) -> None:
        """Fold every committed log file into one holding their distinct
        rows; publish it before deleting the files read (module
        docstring). A no-op on a log of at most one file."""
        names, rows = self._snapshot()
        if len(names) < 2:
            return
        self._publish(_conform(rows.group_by(rows.column_names, use_threads=False).aggregate([])))
        for name in names:
            fsutil.delete(self.spark, self._file(name))
