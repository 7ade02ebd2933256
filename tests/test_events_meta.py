"""The events `ts` column across its three parquet generations (legacy
NANOS, MICROS-NTZ, MICROS-UTC): the pinned schema (`fsutil.parquet_schema`)
decides its Spark type, and the batch (`_events`) and streaming
(`streaming_events`) reads both turn it into the same epoch micros
(`functions.dates.epoch_micros`). Each test builds a tiny fixture of EACH
generation with pyarrow.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from com_danliris_service_etl_spark.sources import fsutil

# one known instant: 2024-03-01 12:30:45.123456 UTC
_EPOCH_US = 1_709_296_245_123_456


def _write_events(tmp_path, ts_array: pa.Array) -> str:
    sf_dir = str(tmp_path)
    table = pa.table(
        {
            "event_id": pa.array([1], pa.int64()),
            "ts": ts_array,
            "user_id": pa.array([7], pa.int64()),
            "event_type": pa.array(["click"], pa.string()),
            "value": pa.array([1.5], pa.float64()),
            "props": pa.array(["{}"], pa.string()),
        }
    )
    pq.write_table(table, f"{sf_dir}/events.parquet")
    return sf_dir


_GENERATIONS = {
    "nanos": pa.array([_EPOCH_US * 1000], pa.timestamp("ns")),
    "ntz": pa.array([_EPOCH_US], pa.timestamp("us")),
    "micros": pa.array([_EPOCH_US], pa.timestamp("us", tz="UTC")),
}


# the Spark type each generation's `ts` reads as (nanos: raw nanos longs
# under the session's nanosAsLong conf)
_TS_TYPES = {"nanos": T.LongType(), "ntz": T.TimestampNTZType(), "micros": T.TimestampType()}


@pytest.mark.parametrize("kind", sorted(_GENERATIONS))
def test_kind_detected_from_footer(spark, tmp_path, kind):
    sf_dir = _write_events(tmp_path, _GENERATIONS[kind])
    path = f"{sf_dir}/events.parquet"
    pinned = fsutil.parquet_schema(spark, path)
    assert pinned["ts"].dataType == _TS_TYPES[kind]
    # the pinned schema is Spark's own inference, field for field
    assert pinned == spark.read.parquet(path).schema
    # the stream source reads with the same schema
    from com_danliris_service_etl_spark.streaming.jobs import _stream_table

    assert _stream_table(spark, sf_dir, "events").schema == pinned


@pytest.mark.parametrize("kind", sorted(_GENERATIONS))
def test_batch_read_normalizes_to_epoch_micros(spark, tmp_path, kind):
    sf_dir = _write_events(tmp_path, _GENERATIONS[kind])
    from com_danliris_service_etl_spark.plans.registry import _events

    row = _events(spark, sf_dir).select("event_id", "ts_us").collect()[0]
    assert row.ts_us == _EPOCH_US, kind


@pytest.mark.parametrize("kind", sorted(_GENERATIONS))
def test_streaming_read_normalizes_to_epoch_micros(spark, tmp_path, kind):
    from com_danliris_service_etl_spark.streaming.jobs import streaming_events

    sf_dir = _write_events(tmp_path, _GENERATIONS[kind])
    ev = streaming_events(spark, sf_dir).select("event_id", "ts_us")
    q = (
        ev.writeStream.outputMode("append")
        .format("memory")
        .queryName(f"ev_meta_{kind}")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.table(f"ev_meta_{kind}").collect()
    assert len(rows) == 1 and rows[0].ts_us == _EPOCH_US, kind
