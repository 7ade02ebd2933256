"""Structured Streaming jobs over the events and documents tables.

Pattern: file source → event-time watermark → stateful operator → sink.
Every job is BOUNDED: `Trigger.AvailableNow` drains whatever the source
holds and stops — the shape a nightly incremental job uses in production
(SURVEY.md §2.12); on a real cluster the same plans run against
Kafka/Delta CDC unchanged. Two drains serve every job:

- `_drain(df, mode, query_name)` runs the stream into an in-memory sink
  and returns that sink as a batch table. The output mode per job:
  - ``complete`` for the aggregations (windowed counts, dedup stats,
    count-min, source divergence, stream-static enrichment). Complete
    mode is the BOUNDED-REPLAY form: append mode would hold back every
    window the watermark has not passed when the source runs dry,
    including the final ones, and break stream ≡ batch. Complete mode
    never evicts state; an unbounded deployment runs the same
    aggregations in append mode, where the watermark evicts.
  - ``append`` for the interval joins and the watermark dedup, whose
    rows are final when emitted.
  - ``update`` for the `applyInPandasWithState` operators
    (`_stateful`). The memory sink RETAINS every batch's emissions, so
    a job whose operator re-emits a key keeps each key's latest
    emission (`_latest_emission`).
- `_drain_batches(df, fn, checkpoint_dir)` hands each micro-batch to
  ``fn(batch_df, batch_id)`` (foreachBatch). Delivery is AT-LEAST-ONCE:
  a batch can re-run after its writes landed, so every fold is
  idempotent by itself — a key MERGE, per-batch_id partitions, an
  applied-batch high-water mark, or a MIN merge.

Each job's batch twin is in `plans/queries_streaming.py`;
tests/test_streaming.py pins stream ≡ batch.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Sequence

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.group import GroupedData
from pyspark.sql.streaming.state import GroupStateTimeout

from com_danliris_service_etl_spark.functions.dates import epoch_micros
from com_danliris_service_etl_spark.operators.dedup import (
    incremental_minhash_lsh_pairs,
    minhash_lsh_pairs,
    minhash_signatures,
)
from com_danliris_service_etl_spark.operators.rollup import bucket_aggregate, merge_rollup
from com_danliris_service_etl_spark.operators.sketches import countmin_sketch, tokens_of
from com_danliris_service_etl_spark.operators.text import tv_distance_from_counts
from com_danliris_service_etl_spark.operators.windows import running_distinct
from com_danliris_service_etl_spark.sources import fsutil
from com_danliris_service_etl_spark.sources.sinks import merge_upsert


def _drain(df: DataFrame, mode: str, query_name: str) -> DataFrame:
    """Run the streaming ``df`` to completion into the in-memory sink
    ``query_name`` and return the sink as a batch table."""
    (
        df.writeStream.outputMode(mode)
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    return df.sparkSession.table(query_name)


def _drain_batches(
    df: DataFrame, fn: Callable[[DataFrame, int], None], checkpoint_dir: str
) -> None:
    """Run the streaming ``df`` to completion through
    ``foreachBatch(fn)``, checkpointed at ``checkpoint_dir``."""
    (
        df.writeStream.foreachBatch(fn)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def _stateful(
    grouped: GroupedData, fn: Callable, out_schema: str, state_schema: str
) -> DataFrame:
    """``applyInPandasWithState`` as every operator here runs it: each
    invocation emits the key's current rows (update mode), and no key
    times out — a bounded drain ends with its source."""
    return grouped.applyInPandasWithState(
        fn,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _latest_emission(sink: DataFrame, keys: Sequence[str], monotone: str) -> DataFrame:
    """Each key's latest emission from an update-mode memory sink.

    ``monotone`` never decreases across a key's emissions, so the latest
    emission carries the key's max; every row of it is kept (top-k and
    quota emit K rows per key). A row re-emitted unchanged — a closed
    session re-sent in the batch whose gap closes it — ties on the max
    and comes out once."""
    return (
        sink.withColumn("__latest", F.max(monotone).over(Window.partitionBy(*keys)))
        .filter(F.col(monotone) == F.col("__latest"))
        .drop("__latest")
        .dropDuplicates()
    )


def _stream_table(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    """File-source readStream for one fixture table. Its schema is the
    table's footer schema (`fsutil.parquet_schema`, the batch reads'
    rule), so a regenerated fixture's types are followed, never assumed.
    It is robust to BOTH physical forms the generator has produced:
    `<table>.parquet` as a directory of part files (streamed directly —
    the source's basePath must be a directory) and as a single file
    (streamed via the parent dir + a pathGlobFilter, which matches leaf
    FILE names; using the filter against the directory form would
    silently stream zero rows, and streaming a file path directly fails
    the basePath check).

    The directory probe goes through the Hadoop FileSystem resolved from
    the path's own scheme (`sources/fsutil.py`) — a driver-local
    `os.path.isdir` is always False for hdfs://s3a://abfss:// fixtures,
    which would misroute the directory form to the glob-filter fallback
    and silently stream zero rows."""
    path = f"{sf_dir.rstrip('/')}/{table}.parquet"
    reader = spark.readStream.schema(fsutil.parquet_schema(spark, path))
    if fsutil.is_dir(spark, path):
        return reader.parquet(path)
    return reader.option("pathGlobFilter", f"{table}.parquet").parquet(sf_dir)


def streaming_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events fixture with event-time normalized to
    epoch micros and a micros TimestampType (`functions.dates.epoch_micros`
    on the pinned `ts` type, as the batch `_events` does)."""
    raw = _stream_table(spark, sf_dir, "events")
    return raw.withColumn("ts_us", epoch_micros(raw)).withColumn(
        "ts_utc", F.timestamp_micros(F.col("ts_us"))
    )


def windowed_counts(events: DataFrame, window: str = "1 hour", watermark: str = "2 hours") -> DataFrame:
    """Tumbling-window counts+sums with a late-data watermark: the canonical
    streaming aggregation. State store holds one row per (window, type);
    in the production form — `outputMode("append")`, each window emitted
    once the watermark passes its end — the watermark also EVICTS state,
    which is what makes this viable on an unbounded 100 TB/day stream.
    (The bounded drain below uses complete mode; see the module
    docstring.)"""
    return (
        events.withWatermark("ts_utc", watermark)
        .groupBy(F.window("ts_utc", window), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.unix_micros(F.col("window.start")).alias("window_start_us"),
            F.unix_micros(F.col("window.end")).alias("window_end_us"),
            "event_type",
            "n",
            "sum_value",
        )
    )


def run_streaming_windowed_counts(
    spark: SparkSession, sf_dir: str, query_name: str = "stream_out"
) -> DataFrame:
    """Drive the streaming aggregation to completion over the fixture via
    the in-memory sink; returns the result as a (batch) DataFrame."""
    return _drain(windowed_counts(streaming_events(spark, sf_dir)), "complete", query_name)


# ---------------------------------------------------------------------------
# Custom stateful operator: streaming sessionization (applyInPandasWithState)
# ---------------------------------------------------------------------------

SESSION_OUT_SCHEMA = (
    "user_id bigint, session_id bigint, n_events bigint,"
    " session_start_us bigint, session_end_us bigint"
)
SESSION_STATE_SCHEMA = "session_id bigint, last_ts bigint, start_ts bigint, n bigint"
SESSION_GAP_US = 30 * 60 * 1_000_000


def _sessionize_fn(key, pdf_iter, state):
    """Per-user session assembly (30-min inactivity gap), arbitrary-stateful
    form: state carries the open session (id, last/start ts, count) across
    micro-batches; each closed session is emitted as soon as the gap that
    closes it arrives, and the still-open session is emitted too so a
    bounded replay reproduces the batch sessionizer exactly (the production
    variant would emit open sessions only on event-time timeout).

    The group's Arrow chunks are CONCATENATED before the single sort:
    `applyInPandasWithState` guarantees no ordering ACROSS chunks, so
    sorting each chunk independently mis-assembles sessions for any user
    whose batch slice exceeds one Arrow batch (~10k rows). Memory per
    group is therefore bounded by the user's rows IN THIS MICRO-BATCH —
    the same bound the sort itself needs.
    """
    if state.exists:
        session_id, last_ts, start_ts, n = state.get
    else:
        session_id, last_ts, start_ts, n = 0, None, None, 0

    out = []
    chunks = [pdf for pdf in pdf_iter]
    pdf = pd.concat(chunks) if chunks else pd.DataFrame(columns=["ts_us", "event_id"])
    pdf = pdf.sort_values(["ts_us", "event_id"])
    for ts in pdf["ts_us"]:
        ts = int(ts)
        if last_ts is None or ts - last_ts > SESSION_GAP_US:
            if last_ts is not None:
                out.append((key[0], session_id, n, start_ts, last_ts))
            session_id += 1
            start_ts, n = ts, 0
        n += 1
        last_ts = ts
    state.update((session_id, last_ts, start_ts, n))
    if last_ts is not None:
        out.append((key[0], session_id, n, start_ts, last_ts))
    yield pd.DataFrame(
        out,
        columns=["user_id", "session_id", "n_events", "session_start_us", "session_end_us"],
    )


def run_streaming_sessionize(
    spark: SparkSession, sf_dir: str, query_name: str = "stream_sessions"
) -> DataFrame:
    """Streaming sessionization via ``applyInPandasWithState`` — the custom
    stateful operator surface (SURVEY.md §2.12 extension). State is one
    small tuple per user (bounded by the active-user set, not the event
    volume); Arrow batches carry the rows, so the Python crossing is
    columnar. A session that stays open across micro-batches is emitted
    once per batch it grew in; n_events only grows, so its latest
    emission is the batch sessionizer's row."""
    ev = streaming_events(spark, sf_dir).select("user_id", "event_id", "ts_us")
    sessions = _stateful(
        ev.groupBy("user_id"), _sessionize_fn, SESSION_OUT_SCHEMA, SESSION_STATE_SCHEMA
    )
    return _latest_emission(
        _drain(sessions, "update", query_name), ["user_id", "session_id"], "n_events"
    )


# ---------------------------------------------------------------------------
# Incremental micro-batch → MERGE (the reference's nightly loop as a stream)
# ---------------------------------------------------------------------------


def run_incremental_merge(
    spark: SparkSession,
    sf_dir: str,
    target_path: str,
    checkpoint_dir: str,
) -> None:
    """`readStream → foreachBatch(merge_upsert)`: the Structured-Streaming
    form of the reference's watermark→extract→MERGE nightly loop (S4/S6).
    Each run drains whatever arrived since the last checkpoint; a
    re-delivered row upserts to the same key, so redelivery is a no-op."""
    ev = streaming_events(spark, sf_dir).select(
        "event_id", "user_id", "event_type", "value", "ts_us"
    )

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        merge_upsert(batch_df.sparkSession, target_path, batch_df, keys=["event_id"])

    _drain_batches(ev, _merge, checkpoint_dir)


def fold_incremental_lsh(
    batch_df: DataFrame,
    sig_store_path: str,
    pairs_out_path: str,
    batch_id: int | None = None,
) -> None:
    """One micro-batch of the streaming dedup loop: near-dup-check the
    batch against the persisted MinHash signature store, append the
    candidate pairs to the output, then advance the store by appending
    the batch's signatures. Only the batch ever pays signature cost; the
    store is the compact per-document state (id + 16 longs) a 100 TB
    deployment keeps. Factored out of the foreachBatch closure so tests
    drive multiple batches through the EXACT production fold.

    IDEMPOTENCY: a retried micro-batch re-runs this fold after its writes
    may already have landed, and blind appends would double both outputs
    (duplicate store signatures then compound: they emit self-pairs and
    duplicate pairs on every later batch). With ``batch_id`` given (the
    streaming path always passes it), each output lands in a
    ``batch_id=N`` partition subdirectory written with mode=overwrite — a
    redelivery replaces its own partition instead of appending — and a
    batch whose signature partition already committed (its ``_SUCCESS``
    marker exists; the signatures are written LAST, so that marker proves
    the pairs landed too) is skipped outright. ``batch_id=None`` keeps
    the plain append contract for non-streaming callers that manage
    delivery themselves."""
    sess = batch_df.sparkSession
    sig_dst, pairs_dst, mode = sig_store_path, pairs_out_path, "append"
    if batch_id is not None:
        sig_dst = f"{sig_store_path.rstrip('/')}/batch_id={batch_id}"
        pairs_dst = f"{pairs_out_path.rstrip('/')}/batch_id={batch_id}"
        mode = "overwrite"
        if fsutil.exists(sess, f"{sig_dst}/_SUCCESS"):
            return  # batch already fully folded — redelivery is a no-op

    try:
        store = fsutil.read_parquet(sess, sig_store_path)
    except FileNotFoundError:
        # first batch: no prior corpus — all pairs are batch-internal.
        # "No store" means no COMMITTED file, not no directory: a crash
        # mid-way through the first batch's signature write leaves the
        # root dir with only _temporary content, and a bare exists()
        # would send the retry down the incremental path into an
        # unreadable empty store — wedging the stream.
        pairs = minhash_lsh_pairs(batch_df)
    else:
        pairs = incremental_minhash_lsh_pairs(store, batch_df)
    pairs.write.mode(mode).parquet(pairs_dst)
    minhash_signatures(batch_df).write.mode(mode).parquet(sig_dst)


def run_streaming_incremental_lsh(
    spark: SparkSession,
    sf_dir: str,
    sig_store_path: str,
    pairs_out_path: str,
    checkpoint_dir: str,
) -> None:
    """The nightly near-dup loop as a stream: `readStream(documents) →
    foreachBatch(fold_incremental_lsh)`, effectively-once through the
    fold's per-batch_id partitions. Across batches the emitted pair set
    equals the full-corpus `minhash_lsh_pairs` (each pair appears in the
    batch where its LATER document arrives — pinned by
    `test_streaming_incremental_lsh_folds_to_full`)."""
    docs = _stream_table(spark, sf_dir, "documents")

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        fold_incremental_lsh(
            batch_df, sig_store_path, pairs_out_path, batch_id=batch_id
        )

    _drain_batches(docs, _fold, checkpoint_dir)


_APPLIED = "_applied_"


def fold_rollup(
    batch_df: DataFrame,
    state_path: str,
    bucket_us: int = 3600 * 1_000_000,
    batch_id: int | None = None,
) -> None:
    """One micro-batch of the streaming rollup: aggregate the batch to
    mergeable partials and combine them into the stored state with a
    marker-guarded atomic swap. Factored out of the foreachBatch closure
    so tests can drive crash/redelivery scenarios through the EXACT
    production fold (the `fold_incremental_lsh` discipline).

    Idempotency & crash safety: the state is replaced by
    `fsutil.replace_store` (its docstring states the protocol:
    interrupted-swap recovery first, one listing of the state (empty on
    the first batch), sibling temp dir, swap with backup; atomic only on
    an atomic-rename store — not S3A). The count/sum combine is NOT
    idempotent, so the state directory carries ONE ``_applied_<max_id>``
    marker, the highest batch id folded into it, written into the temp
    dir BEFORE the swap:
    "state updated" and "batch recorded" are installed together. A batch
    whose id is at or below the live mark is a no-op. That high-water
    mark equals the set of applied ids because foreachBatch ids run
    contiguously from 0 within one checkpoint, and batch N+1 starts only
    after batch N's fold returned — a redelivery is always of an id at or
    below the mark. The mark is the max over every ``_applied_*`` name,
    so a state dir that holds one marker per batch reads the same. The
    check runs inside the replace, after recovery, so a batch applied
    just before a torn swap is seen in the restored state."""
    sess = batch_df.sparkSession

    def write(files: list, tmp: str) -> bool:
        mark = max(
            (
                int(name[len(_APPLIED):])
                for name in fsutil.child_names(sess, state_path)
                if name.startswith(_APPLIED)
            ),
            default=-1,
        )
        if batch_id is not None:
            if batch_id <= mark:
                return False  # redelivered batch already folded into the live state
            mark = batch_id
        delta = bucket_aggregate(batch_df, "ts_us", bucket_us, ["event_type"], "value")
        if files:
            state = fsutil.read_parquet(sess, state_path, files)
            delta = merge_rollup(state, delta, ["bucket_us", "event_type"])
        delta.write.mode("overwrite").parquet(tmp)
        # underscore-prefixed files are invisible to parquet readers
        if mark >= 0:
            fsutil.touch(sess, f"{tmp}/{_APPLIED}{mark}")
        return True

    fsutil.replace_store(sess, state_path, write)


def run_streaming_rollup(
    spark: SparkSession,
    sf_dir: str,
    state_path: str,
    checkpoint_dir: str,
    bucket_us: int = 3600 * 1_000_000,
) -> None:
    """Continuous aggregate maintained BY the stream: each micro-batch
    folds its mergeable partials into the stored rollup state via
    `foreachBatch(fold_rollup)` — the Structured-Streaming form of the
    hypertable rollup (`operators/rollup.py`). Per batch the work is one
    map-side-combinable aggregation of the batch plus an
    O(touched-buckets) combine with the state; raw history is never
    rescanned. Read-side consumers see (bucket, group) →
    count/sum/min/max and derive avg at query time."""
    ev = streaming_events(spark, sf_dir).select("event_type", "value", "ts_us")

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        fold_rollup(batch_df, state_path, bucket_us=bucket_us, batch_id=batch_id)

    _drain_batches(ev, _fold, checkpoint_dir)


# ---------------------------------------------------------------------------
# Streaming exact-dedup monitoring (st5's streaming twin)
# ---------------------------------------------------------------------------


def run_streaming_dedup_stats(
    spark: SparkSession, sf_dir: str, query_name: str = "dedup_stats_stream"
) -> DataFrame:
    """Live corpus-ingest duplication monitor: maintain (source, digest)
    counts as Structured Streaming state over the document stream, then
    finalize the per-source profile (docs / uniques / dups / max group)
    in batch over the state table. The streaming stage is ONE
    map-side-combinable stateful aggregation — state is one row per
    distinct (source, digest), the minimum any exact-dedup monitor can
    hold — and the finalize runs over the compact state, never the raw
    stream. Batch twin: `plans/queries_streaming.py::st5_dedup_stats`.

    (Chained streaming aggregations are unsupported, which is why the
    per-source finalize is a batch query over the in-memory sink — on a
    cluster the same finalize reads the state-backed compacted sink.)"""
    raw = _stream_table(spark, sf_dir, "documents")
    g = raw.groupBy("source", F.md5(F.col("text")).alias("h")).agg(
        F.count(F.lit(1)).alias("n")
    )
    state = _drain(g, "complete", query_name)
    return state.groupBy("source").agg(
        F.sum("n").cast("long").alias("n_docs"),
        F.count(F.lit(1)).alias("n_unique"),
        (F.sum("n") - F.count(F.lit(1))).cast("long").alias("n_dup"),
        F.max("n").cast("long").alias("max_group"),
    )


def run_streaming_countmin(
    spark: SparkSession,
    sf_dir: str,
    width: int = 256,
    depth: int = 2,
    query_name: str = "countmin_stream",
) -> DataFrame:
    """Live heavy-hitter tracking with BOUNDED state: maintain the
    count-min grid (operators/sketches.py) as Structured Streaming state
    over the document token stream. State is at most depth×width rows —
    constant in the corpus — where an exact token-count monitor's state
    grows with the vocabulary; that bounded-vs-unbounded trade is the
    whole reason a production ingest monitor runs the sketch. Cell sums
    are associative, so the streaming fold over micro-batches lands on
    the IDENTICAL grid as the batch build (batch twin
    `plans/queries_streaming.py::st8_countmin_sketch`); estimates for any
    candidate set come from `countmin_estimate` over the drained grid."""
    raw = _stream_table(spark, sf_dir, "documents")
    grid = countmin_sketch(tokens_of(raw), width=width, depth=depth)
    return _drain(grid, "complete", query_name)


def run_streaming_interval_join(
    spark: SparkSession, sf_dir: str, query_name: str = "interval_join_stream"
) -> DataFrame:
    """Stream-stream view→purchase attribution (`_interval_join_frame`).
    Batch twin: `plans/queries_streaming.py::st6_interval_join`."""
    return _drain(_interval_join_frame(spark, sf_dir), "append", query_name)


def _interval_join_frame(spark: SparkSession, sf_dir: str, how: str = "inner") -> DataFrame:
    """The watermarked stream-stream interval join plan shared by the
    inner memory drain, its MERGE sink and the left-outer drain. Both
    event streams carry watermarks and the join condition bounds
    purchase time to (view, view+1h], so Spark can expire view state
    older than the interval + watermark — the state-cleanup contract that
    makes a stream-stream join viable on an unbounded stream (without
    the time bound, state grows forever).

    The inner columns are the MERGE target's schema; the outer form adds
    the view's event time, which places an unmatched view against the
    final watermark."""

    def side(event_type: str, prefix: str) -> DataFrame:
        return (
            streaming_events(spark, sf_dir)
            .filter(F.col("event_type") == event_type)
            .withWatermark("ts_utc", "2 hours")
            .select(
                F.col("event_id").alias(f"{event_type}_id"),
                F.col("user_id").alias(f"{prefix}_user"),
                F.col("ts_utc").alias(f"{prefix}_ts"),
                F.col("ts_us").alias(f"{prefix}_ts_us"),
            )
        )

    return side("view", "v").join(
        side("purchase", "p"),
        (F.col("v_user") == F.col("p_user"))
        & (F.col("p_ts") > F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 1 HOUR")),
        how,
    ).select(
        "view_id",
        "purchase_id",
        F.col("v_user").alias("user_id"),
        (F.col("p_ts_us") - F.col("v_ts_us")).cast("long").alias("lag_us"),
        *([] if how == "inner" else ["v_ts_us"]),
    )


def run_streaming_interval_join_merge(
    spark: SparkSession, sf_dir: str, target_path: str, checkpoint_dir: str
) -> None:
    """The interval join's PRODUCTION sink: `foreachBatch(merge_upsert)`
    keyed on the join identity (view_id, purchase_id). A crash-replayed
    micro-batch re-delivers rows the sink already holds, and the key
    MERGE makes that a no-op (upsert-to-same-key), giving end-to-end
    effectively-once: the same S6 story the batch jobs rely on, now at
    the stream boundary. Idempotence under full replay is pinned by
    `test_interval_join_merge_sink_replay_idempotent`."""

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        merge_upsert(
            batch_df.sparkSession,
            target_path,
            batch_df,
            keys=["view_id", "purchase_id"],
        )

    _drain_batches(_interval_join_frame(spark, sf_dir), _merge, checkpoint_dir)


def run_streaming_watermark_dedup(
    spark: SparkSession,
    sf_dir: str,
    query_name: str = "wm_dedup_stream",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Exactly-once event admission under at-least-once delivery:
    `dropDuplicatesWithinWatermark` on the event id keeps the FIRST
    arrival of each id and holds per-id state only until the event-time
    watermark passes it — the bounded-state dedup an unbounded ingest
    needs (plain dropDuplicates would hold every id ever seen). The
    deduped stream lands in an append sink; the per-type profile is a
    batch aggregate over the sink (chained stateful ops avoided the
    st5 way). Exactness contract: duplicates arriving WITHIN the delay
    of their first occurrence are dropped; a re-arrival after the
    watermark passes the id is re-admitted — the delay is the declared
    redelivery bound, and state stays bounded by it. Batch twin:
    `plans/queries_streaming.py::st9_watermark_dedup` (replayed rows are
    bit-identical, so batch DISTINCT is the same admission rule);
    tests/test_streaming.py pins stream ≡ batch on a
    duplicate-injected fixture with the delay spanning the replay."""
    # streaming_events normalizes event time to ts_utc (TimestampType
    # micros) — the raw fixture's TIMESTAMP_NTZ is not a valid
    # watermark column (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE)
    raw = streaming_events(spark, sf_dir)
    deduped = raw.withWatermark("ts_utc", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    sink = _drain(deduped, "append", query_name)
    return sink.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


# ---------------------------------------------------------------------------
# Streaming running-distinct (w9's streaming twin): first-seen state
# ---------------------------------------------------------------------------


def fold_first_seen(
    batch_df: DataFrame,
    state_path: str,
    batch_id: int | None = None,
) -> None:
    """One micro-batch of the first-seen (debut) state: reduce the batch
    to per-(event_type, user_id) minimum day, keep-min merge into the
    stored state, atomic swap (the `fold_rollup` protocol). Unlike the
    rollup's count/sum combine, MIN-merge is IDEMPOTENT — a redelivered
    batch re-merges to the identical state — so no ``_applied_<id>``
    marker is needed; the crash-safe replace (`fsutil.replace_store`)
    still applies because the swap itself can be interrupted. State size
    is bounded by |distinct (group, entity)| — the dimension a
    distinct-count must hold anyway; at 100 TB the same fold runs
    per-partition-parallel (groupBy merge), never a driver funnel."""
    sess = batch_df.sparkSession

    def write(files: list, tmp: str) -> bool:
        debuts = batch_df.groupBy("event_type", "user_id").agg(F.min("d").alias("d"))
        if files:
            debuts = (
                fsutil.read_parquet(sess, state_path, files)
                .unionByName(debuts)
                .groupBy("event_type", "user_id")
                .agg(F.min("d").alias("d"))
            )
        debuts.write.mode("overwrite").parquet(tmp)
        return True

    fsutil.replace_store(sess, state_path, write)


def run_streaming_running_distinct(
    spark: SparkSession,
    sf_dir: str,
    state_path: str,
    checkpoint_dir: str,
) -> DataFrame:
    """Users-ever-seen growth curve maintained BY the stream: each
    micro-batch folds its debut candidates (per-(type, user) min day)
    into a keyed first-seen state via foreachBatch — an entity's debut
    can only move EARLIER under late data, and the keep-min merge
    absorbs that without reprocessing history. The read-side summary
    (per-day new users + cumulative distinct) is
    `operators/windows.py::running_distinct` over the state — identical
    output to the one-shot batch form (`w9_running_distinct`) once the
    stream has drained, which tests/test_streaming.py pins."""
    ev = streaming_events(spark, sf_dir).select(
        "event_type",
        "user_id",
        (F.col("ts_us") / F.lit(86400000000)).cast("long").alias("d"),
    )

    def _fold(batch_df: DataFrame, batch_id: int) -> None:
        fold_first_seen(batch_df, state_path, batch_id=batch_id)

    _drain_batches(ev, _fold, checkpoint_dir)
    state = fsutil.read_parquet(spark, state_path)
    return running_distinct(state, ["event_type"], "user_id", "d")


def run_streaming_interval_join_outer(
    spark: SparkSession, sf_dir: str, query_name: str = "interval_join_outer_stream"
) -> DataFrame:
    """LEFT OUTER stream-stream interval join: views that convert within
    the hour emit with their purchase; views that DON'T convert emit
    with NULLs — but only once the watermark has passed their eviction
    point, because "no purchase arrived" is unknowable before then.
    That emission rule is the semantic difference from the inner join
    (st6): under `availableNow` over a finite fixture, unmatched views
    whose eviction time lies beyond the final committed watermark are
    legitimately NOT emitted — they are still open. The stream≡batch
    test therefore compares the EMITTABLE region (v_ts ≤ max event time
    − watermark − interval) and checks the matched subset equals the
    inner join everywhere; the batch twin
    (`plans/queries_streaming.py::st11_outer_interval_join`) computes the
    full left outer, which is what a drained production stream
    converges to."""
    return _drain(_interval_join_frame(spark, sf_dir, "leftOuter"), "append", query_name)


# ---------------------------------------------------------------------------
# Stream-static dimension enrichment (st12 twin)
# ---------------------------------------------------------------------------


def run_streaming_static_enrich(
    spark: SparkSession, sf_dir: str, query_name: str = "stream_enrich_out"
) -> DataFrame:
    """Drive the stream-static enrichment (events stream ⋈ customer dim →
    segment/type rollup) as a REAL readStream and drain it through the
    in-memory sink; returns the result as a batch DataFrame.

    The stream-static inner join is STATELESS: each microbatch probes
    the broadcast dim build and emits immediately — no watermark, no
    join state store, nothing to evict. The static side is resolved per
    microbatch, which on a live deployment is exactly how dimension
    updates become visible mid-stream without a restart. The aggregation
    state is bounded by |segments| x |event types|, so the complete-mode
    drain holds a dimension-sized result, never the stream."""
    ev = streaming_events(spark, sf_dir).select("user_id", "event_type", "value")
    dim = fsutil.read_parquet(spark, f"{sf_dir.rstrip('/')}/customer.parquet").select(
        "c_custkey", "c_mktsegment"
    )
    agg = (
        ev.join(F.broadcast(dim), ev["user_id"] == dim["c_custkey"])
        .groupBy("c_mktsegment", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )
    return _drain(agg, "complete", query_name)


# ---------------------------------------------------------------------------
# Custom stateful operator #2: exact running top-k (applyInPandasWithState)
# ---------------------------------------------------------------------------

TOPK_OUT_SCHEMA = (
    "event_type string, rank int, user_id bigint, n_events bigint,"
    " type_total bigint"
)
TOPK_STATE_SCHEMA = "users array<bigint>, counts array<bigint>, total bigint"
TOPK_K = 3


def _topk_fn(key, pdf_iter, state):
    """Exact running top-K heavy users per event type. State carries the
    FULL per-user count map for the type (as parallel arrays — Arrow-
    friendly, no MapType conversion edge cases): exact top-k is not
    mergeable from partial heaps, so whoever wants the exact answer
    must keep the counts; the state is bounded by the DISTINCT
    (type, user) set, never by event volume. The bounded-memory
    alternative when the key universe is huge is the count-min
    heavy-hitter sketch (run_streaming_countmin / st8) — this operator
    is its exact dual, and the pair documents the tradeoff.

    Emits the current top-K (total-order tiebreak: count desc, user_id
    asc) plus the type's running event total — monotone, so a bounded
    multi-batch replay keeps each type's LATEST emission by max total
    (`_latest_emission`)."""
    if state.exists:
        users, counts, total = state.get
        tally = dict(zip(users, counts))
    else:
        tally, total = {}, 0

    for pdf in pdf_iter:
        for uid in pdf["user_id"]:
            uid = int(uid)
            tally[uid] = tally.get(uid, 0) + 1
            total += 1

    state.update((list(tally.keys()), list(tally.values()), total))
    top = sorted(tally.items(), key=lambda kv: (-kv[1], kv[0]))[:TOPK_K]
    yield pd.DataFrame(
        [
            (key[0], i + 1, uid, n, total)
            for i, (uid, n) in enumerate(top)
        ],
        columns=["event_type", "rank", "user_id", "n_events", "type_total"],
    )


def run_streaming_topk(
    spark: SparkSession, sf_dir: str, query_name: str = "stream_topk"
) -> DataFrame:
    """Drive the exact running top-K as a real stream and drain it;
    returns (event_type, rank, user_id, n_events) for the final state of
    each type (latest emission by the monotone type_total)."""
    ev = streaming_events(spark, sf_dir).select("event_type", "user_id")
    top = _stateful(ev.groupBy("event_type"), _topk_fn, TOPK_OUT_SCHEMA, TOPK_STATE_SCHEMA)
    return _latest_emission(
        _drain(top, "update", query_name), ["event_type"], "type_total"
    ).select("event_type", "rank", "user_id", "n_events")


# ---------------------------------------------------------------------------
# Custom stateful operator #3: last-touch attribution (applyInPandasWithState)
# ---------------------------------------------------------------------------

ATTR_OUT_SCHEMA = "event_id bigint, ts_us bigint, value double, channel string"
ATTR_STATE_SCHEMA = "ts_us bigint, event_id bigint, channel string"
ATTR_LOOKBACK_US = 7 * 86400 * 1_000_000  # 7-day attribution window


def _attribution_fn(key, pdf_iter, state):
    """Streaming last-touch attribution. Keyed state per user is ONE row —
    the best (latest (ts_us, event_id)) touch seen so far — so state is
    O(|users|) regardless of event volume, the property that lets this run
    on an unbounded clickstream (contrast the batch twin's union-sort
    window, which needs the whole bounded relation).

    Within a batch the user's rows are processed in the batch-twin's
    ordering contract — (ts_us, touch-before-purchase, event_id) — so a
    touch at exactly the purchase timestamp is credited and equal-ts
    touches resolve to the highest event_id. Across batches a stale or
    replayed touch can never clobber a newer one (state only moves
    forward in (ts_us, event_id)); the attribution is exact whenever
    per-user event-time order holds ACROSS microbatches (a
    watermark-ordered source), the same contract the sessionize operator
    (_sessionize_fn) documents. When that contract is violated — a
    purchase replayed in a LATER batch than a touch that post-dates it —
    the s_ts <= ts guard degrades the purchase to 'unattributed' rather
    than crediting the future touch (degraded, never actively wrong).
    Purchases emit exactly one attribution row each in the batch that
    processes them."""
    if state.exists:
        s_ts, s_eid, s_channel = state.get
    else:
        s_ts = s_eid = s_channel = None

    out = []
    for pdf in pdf_iter:
        pdf = pdf.assign(__tag=(pdf["event_type"] == "purchase").astype(int))
        pdf = pdf.sort_values(["ts_us", "__tag", "event_id"])
        for row in pdf.itertuples(index=False):
            ts, eid = int(row.ts_us), int(row.event_id)
            if row.event_type != "purchase":
                if s_ts is None or (ts, eid) > (s_ts, s_eid):
                    s_ts, s_eid, s_channel = ts, eid, str(row.event_type)
            else:
                # Both bounds checked: the lookback floor AND s_ts <= ts,
                # so a purchase replayed out-of-order in a later batch
                # (after a newer touch already advanced the state) falls
                # back to 'unattributed' instead of being credited to a
                # touch that happened AFTER it. Within-batch equal-ts
                # touches still win (sorted before purchases above).
                attributed = (
                    s_ts is not None
                    and ts - ATTR_LOOKBACK_US <= s_ts <= ts
                )
                out.append(
                    (eid, ts, float(row.value),
                     s_channel if attributed else "unattributed")
                )

    if s_ts is not None:
        state.update((s_ts, s_eid, s_channel))
    yield pd.DataFrame(out, columns=["event_id", "ts_us", "value", "channel"])


def run_streaming_attribution(
    spark: SparkSession, sf_dir: str, query_name: str = "stream_attr"
) -> DataFrame:
    """Drive last-touch attribution as a real stream and drain it; returns
    one row per purchase (event_id, ts_us, value, channel). Each purchase
    is emitted exactly once (in the batch that processes it), so the
    drained update-mode table IS the answer — no retention dedup needed
    for exactly-once file-source replay; an at-least-once production sink
    would key on event_id (the run_incremental_merge pattern)."""
    ev = streaming_events(spark, sf_dir).select(
        "event_id", "user_id", "ts_us", "event_type", "value"
    )
    attr = _stateful(
        ev.groupBy("user_id"), _attribution_fn, ATTR_OUT_SCHEMA, ATTR_STATE_SCHEMA
    )
    return _drain(attr, "update", query_name)


def run_streaming_source_divergence(
    spark: SparkSession, sf_dir: str, query_name: str = "source_div_stream"
) -> DataFrame:
    """Live data-mixture drift monitor: maintain (source, term) token
    counts as Structured Streaming state over the document stream, then
    finalize each source's exact total-variation distance from the
    corpus unigram distribution in batch over the compact state table
    (ops/text.py::tv_distance_from_counts — the shared tail of the
    txt18 batch twin; tests pin stream ≡ batch).

    The streaming stage is ONE map-side-combinable stateful aggregation
    — state is one row per distinct (source, term), the vocabulary
    grain, which is also the minimum any exact distribution monitor can
    hold — and the finalize never touches the raw stream (the st5
    dedup-monitor split: chained streaming aggregations are unsupported,
    and over the vocab-sized state the batch finalize is the correct
    shape, not a workaround)."""
    raw = _stream_table(spark, sf_dir, "documents")
    st = (
        raw.select("source", F.explode(F.split("text", " ")).alias("term"))
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("cnt_s"))
    )
    return tv_distance_from_counts(_drain(st, "complete", query_name))


# ---------------------------------------------------------------------------
# Custom stateful operator #4: bounded-state quota sampling
# ---------------------------------------------------------------------------

QUOTA_OUT_SCHEMA = (
    "lang string, source string, doc_id bigint, sample_rank int, seen bigint"
)
QUOTA_STATE_SCHEMA = "seen bigint, hashes array<string>, ids array<bigint>"
QUOTA_CAP = 50


def _quota_sample_fn_factory(cap: int):
    """Streaming twin of ops/sampling.py::quota_per_group: keyed state per
    (lang, source) stratum is the cap smallest (md5(doc_id), doc_id)
    pairs plus a seen-counter — O(cap) per stratum REGARDLESS of stream
    length, the bounded-state property that lets a training pipeline
    sample a firehose it can never hold. Because the kept set is defined
    by a deterministic hash RANK (not arrival order or randomness), the
    micro-batch fold converges to exactly the batch operator's sample:
    merging two top-cap pools and re-truncating is associative, so the
    final state equals the top-cap of the whole bounded stream —
    stream ≡ batch is an identity, not an approximation, and a replayed
    doc_id is idempotent (same hash, deduped on id).

    Each invocation emits the stratum's CURRENT sample tagged with the
    monotone `seen` counter, and the drain keeps each stratum's latest
    emission (`_latest_emission`): a displaced doc from an earlier batch
    disappears from later emissions, which an append-mode sink could not
    express."""

    def fn(key, pdf_iter, state):
        if state.exists:
            seen, hashes, ids = state.get
            pool = dict(zip(ids, hashes))
        else:
            seen, pool = 0, {}
        for pdf in pdf_iter:
            for did in pdf["doc_id"]:
                did = int(did)
                seen += 1
                if did not in pool:
                    pool[did] = hashlib.md5(str(did).encode()).hexdigest()
        kept = sorted(((h, i) for i, h in pool.items()))[:cap]
        state.update(
            (seen, [h for h, _ in kept], [i for _, i in kept])
        )
        lang, source = key
        yield pd.DataFrame(
            [
                (lang, source, i, rk + 1, seen)
                for rk, (_h, i) in enumerate(kept)
            ],
            columns=["lang", "source", "doc_id", "sample_rank", "seen"],
        )

    return fn


def run_streaming_quota_sample(
    spark: SparkSession,
    sf_dir: str,
    query_name: str = "quota_stream",
    cap: int = QUOTA_CAP,
) -> DataFrame:
    """Drive the bounded-state quota sampler over the document stream and
    drain the FINAL sample: (doc_id, lang, source, sample_rank) — the
    same columns ops/sampling.py::quota_per_group emits, pinned equal in
    tests. `seen` strictly increases per invocation and a stratum absent
    from a batch emits nothing, so the max-`seen` emission is the final
    one."""
    raw = _stream_table(spark, sf_dir, "documents")
    sampled = _stateful(
        raw.select("lang", "source", "doc_id").groupBy("lang", "source"),
        _quota_sample_fn_factory(cap),
        QUOTA_OUT_SCHEMA,
        QUOTA_STATE_SCHEMA,
    )
    return _latest_emission(
        _drain(sampled, "update", query_name), ["lang", "source"], "seen"
    ).select("doc_id", "lang", "source", "sample_rank")
