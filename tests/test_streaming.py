"""Structured Streaming ≡ batch equivalence for the windowed aggregation."""

from __future__ import annotations

from pyspark.sql import functions as F

from com_danliris_service_etl_spark.plans.registry import load_all
from com_danliris_service_etl_spark.streaming.jobs import run_streaming_windowed_counts
from tests.conftest import SF_DIR, assert_frames_match

load_all()


def test_streaming_matches_batch(spark):
    from com_danliris_service_etl_spark.plans.queries_streaming import st1_tumbling_window

    stream_out = run_streaming_windowed_counts(spark, SF_DIR, "st_eq_test").toPandas()
    batch_out = st1_tumbling_window(spark, SF_DIR).toPandas()
    assert_frames_match(stream_out, batch_out, "streaming_vs_batch")


def test_stateful_sessionize_matches_batch(spark):
    """applyInPandasWithState sessionizer ≡ the batch lag+cumsum sessionizer
    (single availableNow batch drains the fixture, so open sessions close)."""
    from com_danliris_service_etl_spark.plans.queries_streaming import st3_sessionize
    from com_danliris_service_etl_spark.streaming.jobs import run_streaming_sessionize

    stream_out = run_streaming_sessionize(spark, SF_DIR, "st_sessions_test").toPandas()
    batch_out = st3_sessionize(spark, SF_DIR).toPandas()
    assert_frames_match(stream_out, batch_out, "stateful_sessionize_vs_batch")


def test_incremental_merge_idempotent(spark, tmp_path):
    """Streaming foreachBatch MERGE: first drain loads every event; a fresh
    checkpoint re-delivering the same data leaves the fact unchanged (S6)."""
    from com_danliris_service_etl_spark.streaming.jobs import run_incremental_merge

    target = str(tmp_path / "fact_events")
    run_incremental_merge(spark, SF_DIR, target, str(tmp_path / "cp1"))
    first = spark.read.parquet(target)
    n_events = spark.read.parquet(f"{SF_DIR}/events.parquet").count()
    assert first.count() == n_events
    # Re-deliver everything with a NEW checkpoint: MERGE keeps keys unique.
    run_incremental_merge(spark, SF_DIR, target, str(tmp_path / "cp2"))
    assert spark.read.parquet(target).count() == n_events


def test_streaming_rollup_matches_batch(spark, tmp_path):
    """The stream-maintained continuous aggregate must equal the one-pass
    batch rollup of the same events once the stream drains."""
    from com_danliris_service_etl_spark.operators.rollup import bucket_aggregate
    from com_danliris_service_etl_spark.streaming.jobs import run_streaming_rollup

    sf = "/root/testdata/sf0.001"
    state = str(tmp_path / "rollup_state")
    run_streaming_rollup(
        spark, sf, state, checkpoint_dir=str(tmp_path / "ckpt")
    )

    from com_danliris_service_etl_spark.plans.registry import _events

    ev = _events(spark, sf).select("event_type", "value", "ts_us")
    want = {
        (r.bucket_us, r.event_type): (r.n, round(r.sum_v, 6), r.min_v, r.max_v)
        for r in bucket_aggregate(
            ev, "ts_us", 3600 * 1_000_000, ["event_type"], "value"
        ).collect()
    }
    got = {
        (r.bucket_us, r.event_type): (r.n, round(r.sum_v, 6), r.min_v, r.max_v)
        for r in spark.read.parquet(state).collect()
    }
    assert got == want


def test_streaming_incremental_lsh_folds_to_full(spark, tmp_path):
    """Driving two batches through the production fold must reproduce the
    full-corpus pair set exactly: batch-1 pairs come from its internal
    dedup, every pair involving a batch-2 document from the incremental
    check against the persisted signature store."""
    from com_danliris_service_etl_spark.operators.dedup import minhash_lsh_pairs
    from com_danliris_service_etl_spark.streaming.jobs import fold_incremental_lsh

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    store = str(tmp_path / "sig_store")
    out = str(tmp_path / "pairs_out")

    from pyspark.sql import functions as F

    fold_incremental_lsh(docs.filter(F.col("doc_id") < 250), store, out)
    fold_incremental_lsh(docs.filter(F.col("doc_id") >= 250), store, out)

    got = {
        (r.doc_a, r.doc_b, r.est_jaccard)
        for r in spark.read.parquet(out).collect()
    }
    want = {
        (r.doc_a, r.doc_b, r.est_jaccard)
        for r in minhash_lsh_pairs(docs).collect()
    }
    assert got == want
    # the store advanced to one signature row per document
    assert spark.read.parquet(store).count() == docs.count()


def test_streaming_incremental_lsh_redelivery_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: redelivering a micro-batch (same
    batch_id) must not double pairs or store signatures — a committed
    batch no-ops, and the per-batch_id overwrite partition makes a
    partial retry safe. The fold's output must still equal the
    full-corpus pair set."""
    from com_danliris_service_etl_spark.operators.dedup import minhash_lsh_pairs
    from com_danliris_service_etl_spark.streaming.jobs import fold_incremental_lsh

    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    store = str(tmp_path / "sig_store")
    out = str(tmp_path / "pairs_out")

    b1 = docs.filter(F.col("doc_id") < 250)
    b2 = docs.filter(F.col("doc_id") >= 250)
    fold_incremental_lsh(b1, store, out, batch_id=0)
    fold_incremental_lsh(b1, store, out, batch_id=0)  # redelivered
    fold_incremental_lsh(b2, store, out, batch_id=1)
    fold_incremental_lsh(b2, store, out, batch_id=1)  # redelivered

    got = {
        (r.doc_a, r.doc_b, r.est_jaccard)
        for r in spark.read.parquet(out).collect()
    }
    want = {
        (r.doc_a, r.doc_b, r.est_jaccard)
        for r in minhash_lsh_pairs(docs).collect()
    }
    assert got == want
    # duplicates would show up as extra rows, not just extra set members
    assert spark.read.parquet(out).count() == len(want)
    assert spark.read.parquet(store).count() == docs.count()


def test_streaming_incremental_lsh_job_runs(spark, tmp_path):
    """readStream wiring: the availableNow drain over the fixture emits the
    same pair set as the batch operator (single micro-batch here)."""
    from com_danliris_service_etl_spark.operators.dedup import minhash_lsh_pairs
    from com_danliris_service_etl_spark.streaming.jobs import (
        run_streaming_incremental_lsh,
    )

    out = str(tmp_path / "pairs")
    run_streaming_incremental_lsh(
        spark,
        SF_DIR,
        sig_store_path=str(tmp_path / "sigs"),
        pairs_out_path=out,
        checkpoint_dir=str(tmp_path / "cp"),
    )
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    assert spark.read.parquet(out).count() == minhash_lsh_pairs(docs).count()


def test_stream_stream_interval_join_matches_batch(spark):
    from com_danliris_service_etl_spark.plans.registry import load_all
    from com_danliris_service_etl_spark.streaming.jobs import (
        run_streaming_interval_join,
    )

    sf_dir = "/root/testdata/sf0.001"
    batch = {
        tuple(r)
        for r in load_all()["st6_interval_join"][0](spark, sf_dir).collect()
    }
    stream = {
        tuple(r)
        for r in run_streaming_interval_join(
            spark, sf_dir, query_name="t_interval_join"
        ).collect()
    }
    assert stream == batch and len(batch) > 0


def test_interval_join_merge_sink_replay_idempotent(spark, tmp_path):
    """st6's exactly-once story at the sink: foreachBatch is
    at-least-once, so the production interval-join sink is a key MERGE
    on (view_id, purchase_id). A full crash-replay — the same stream
    re-run against a FRESH checkpoint, re-delivering every micro-batch
    into the existing target — must leave the fact unchanged, and equal
    to the batch twin (the S6 idempotence contract, at the stream
    boundary)."""
    from com_danliris_service_etl_spark.plans.registry import load_all
    from com_danliris_service_etl_spark.streaming.jobs import (
        run_streaming_interval_join_merge,
    )

    sf_dir = "/root/testdata/sf0.001"
    target = str(tmp_path / "attrib_fact")
    run_streaming_interval_join_merge(
        spark, sf_dir, target, str(tmp_path / "ckpt1")
    )
    first = {tuple(r) for r in spark.read.parquet(target).collect()}
    # crash-replay: fresh checkpoint == every batch re-delivered
    run_streaming_interval_join_merge(
        spark, sf_dir, target, str(tmp_path / "ckpt2")
    )
    replayed = {tuple(r) for r in spark.read.parquet(target).collect()}
    assert replayed == first
    batch = {
        tuple(r)
        for r in load_all()["st6_interval_join"][0](spark, sf_dir).collect()
    }
    assert first == batch and len(batch) > 0


def test_rollup_fold_redelivery_and_crash_recovery(spark, tmp_path):
    """fold_rollup survives the two failure modes foreachBatch exposes:
    a redelivered batch must not double-count (marker idempotency), and
    an interrupted swap (state gone, .old backup present) must restore
    the backup instead of rebuilding from one batch."""
    import os
    import shutil

    from com_danliris_service_etl_spark.streaming.jobs import fold_rollup

    state = str(tmp_path / "rollup_state")
    b0 = spark.createDataFrame(
        [("a", 1.0, 100), ("a", 2.0, 200), ("b", 5.0, 100)],
        "event_type string, value double, ts_us long",
    )
    b1 = spark.createDataFrame(
        [("a", 10.0, 100)], "event_type string, value double, ts_us long"
    )
    fold_rollup(b0, state, bucket_us=1000, batch_id=0)
    fold_rollup(b1, state, bucket_us=1000, batch_id=1)
    expected = {
        (r.event_type, r.bucket_us): (r.n, r.sum_v)
        for r in spark.read.parquet(state).collect()
    }
    assert expected[("a", 0)] == (3, 13.0)

    # redelivery of batch 1: marker makes it a no-op
    fold_rollup(b1, state, bucket_us=1000, batch_id=1)
    after = {
        (r.event_type, r.bucket_us): (r.n, r.sum_v)
        for r in spark.read.parquet(state).collect()
    }
    assert after == expected

    # interrupted swap: state renamed aside, next fold must restore it
    # (and then apply the new batch exactly once)
    os.replace(state, state + ".old")
    b2 = spark.createDataFrame(
        [("b", 1.0, 2500)], "event_type string, value double, ts_us long"
    )
    fold_rollup(b2, state, bucket_us=1000, batch_id=2)
    final = {
        (r.event_type, r.bucket_us): (r.n, r.sum_v)
        for r in spark.read.parquet(state).collect()
    }
    assert final[("a", 0)] == (3, 13.0)  # history survived the crash
    assert final[("b", 2000)] == (1, 1.0)  # bucket_us column = bucket START
    assert not os.path.exists(state + ".old")
    shutil.rmtree(state)


def test_lsh_fold_first_batch_survives_torn_store_dir(spark, tmp_path):
    """A crash during the FIRST batch's signature write leaves the store
    root with only in-flight content; the retry must take the
    first-batch path (committed-content check), not wedge on reading an
    empty parquet tree."""
    import os

    from com_danliris_service_etl_spark.streaming.jobs import fold_incremental_lsh

    store = str(tmp_path / "sig_store")
    out = str(tmp_path / "pairs_out")
    # simulate the torn first write: root + _temporary exist, nothing committed
    os.makedirs(os.path.join(store, "batch_id=0", "_temporary"))
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(50)
    fold_incremental_lsh(docs, store, out, batch_id=0)
    sigs = spark.read.parquet(store)
    assert sigs.count() == 50  # first-batch path ran and committed


def test_merge_upsert_restores_interrupted_swap(spark, tmp_path):
    """merge_upsert must restore <target>.old when a prior run died
    between the swap's two renames — the fresh-target branch rebuilding
    from one batch would silently lose the fact."""
    import os

    from com_danliris_service_etl_spark.sources.sinks import merge_upsert

    target = str(tmp_path / "fact")
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "k long, v string"
    ).write.parquet(target)
    # simulate the crash window: target renamed aside, new dir never landed
    os.replace(target, target + ".old")
    merge_upsert(
        spark,
        target,
        spark.createDataFrame([(2, "B"), (3, "c")], "k long, v string"),
        keys=["k"],
    )
    rows = {r.k: r.v for r in spark.read.parquet(target).collect()}
    assert rows == {1: "a", 2: "B", 3: "c"}  # old fact restored, then merged
    assert not os.path.exists(target + ".old")


def test_sessionize_fn_orders_across_chunks():
    """_sessionize_fn must concatenate Arrow chunks before sorting: a
    group split across chunks with out-of-order timestamps otherwise
    mis-assembles sessions (negative gaps never close a session)."""
    import pandas as pd

    from com_danliris_service_etl_spark.streaming.jobs import (
        SESSION_GAP_US,
        _sessionize_fn,
    )

    class FakeState:
        exists = False

        def update(self, v):
            self.value = v

    gap = SESSION_GAP_US
    # chunk 2 holds EARLIER timestamps than chunk 1 — two true sessions:
    # [0, 1000] and [2*gap, 2*gap+1000]
    c1 = pd.DataFrame({"ts_us": [2 * gap, 1000], "event_id": [3, 2]})
    c2 = pd.DataFrame({"ts_us": [0, 2 * gap + 1000], "event_id": [1, 4]})
    out = list(_sessionize_fn((7,), iter([c1, c2]), FakeState()))[0]
    sessions = sorted(
        zip(out["session_start_us"], out["session_end_us"], out["n_events"])
    )
    assert sessions == [(0, 1000, 2), (2 * gap, 2 * gap + 1000, 2)]


def test_append_mode_watermark_drops_late_rows(spark, tmp_path):
    """Production append-mode semantics: once the watermark passes a
    window's end the window is EMITTED and its state EVICTED — a later
    row falling inside it is dropped, not re-aggregated. This is the
    contract that bounds state on an unbounded stream (the complete-mode
    fixture drains elsewhere never evict). Driven as two real
    micro-batches: batch 2 carries a row 75 minutes older than the
    watermark reached in batch 1."""
    import datetime as dt
    import shutil

    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")

    def write_file(name, rows):
        stage = tmp_path / ("stage_" + name)
        spark.createDataFrame(rows, "ts timestamp, v double").coalesce(1).write.parquet(str(stage))
        part = next(stage.glob("part-*.parquet"))
        shutil.copy(part, src / name)

    d = dt.datetime
    write_file("f1.parquet", [
        (d(2024, 1, 1, 10, 0), 1.0),
        (d(2024, 1, 1, 10, 30), 1.0),
        (d(2024, 1, 1, 12, 0), 1.0),  # advances watermark to 11:30
    ])

    stream = (
        spark.readStream.schema("ts timestamp, v double").parquet(str(src))
        .withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("ws"), "n")
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_late_drop")
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: one LATE row into the already-finalized 10:00 window,
        # plus a fresh row that pushes the watermark past 12:00's window
        write_file("f2.parquet", [
            (d(2024, 1, 1, 10, 15), 1.0),   # late: watermark is 11:30
            (d(2024, 1, 1, 14, 0), 1.0),
        ])
        q.processAllAvailable()
        got = {
            r.ws: r.n for r in spark.table("t_late_drop").collect()
        }
    finally:
        q.stop()
    # the 10:00 window was emitted ONCE with the two on-time rows; the
    # late 10:15 row was dropped, never re-emitted as n=3
    assert got[d(2024, 1, 1, 10, 0)] == 2
    assert list(got.values()).count(3) == 0


def test_streaming_countmin_matches_batch(spark):
    """The streaming-folded count-min grid ≡ the batch sketch: cell sums
    are associative, so micro-batch folding lands on the identical
    depth×width grid (bounded state — the monitor's whole point)."""
    from com_danliris_service_etl_spark.plans.queries_streaming import (
        st8_countmin_sketch,
    )
    from com_danliris_service_etl_spark.streaming.jobs import run_streaming_countmin

    stream_out = run_streaming_countmin(spark, SF_DIR, query_name="st_cms_test").toPandas()
    batch_out = st8_countmin_sketch(spark, SF_DIR).toPandas()
    assert_frames_match(stream_out, batch_out, "streaming_countmin_vs_batch")
    # bounded-state contract: the grid never exceeds depth x width
    assert len(stream_out) <= 2 * 256


def test_streaming_watermark_dedup_matches_batch(spark, tmp_path):
    """dropDuplicatesWithinWatermark over a duplicate-injected event
    fixture admits each event_id exactly once — identical profile to the
    batch DISTINCT twin."""
    import shutil

    from com_danliris_service_etl_spark.streaming.jobs import (
        run_streaming_watermark_dedup,
    )

    src = "/root/testdata/sf0.001"
    fixture = tmp_path / "events_dup"
    fixture.mkdir()
    base = spark.read.parquet(f"{src}/events.parquet")
    # replay every row twice across two files — at-least-once delivery
    base.write.parquet(str(fixture / "events.parquet"), mode="overwrite")
    base.write.parquet(str(fixture / "events.parquet"), mode="append")
    # delay spans the whole fixture: every replay arrives within the
    # dedup window, so admission is exact (production chooses the delay
    # as its redelivery bound; re-arrivals AFTER the watermark passes
    # are re-admitted by design — that is the bounded-state trade)
    got = {
        r.event_type: (r.n_events, r.sum_value)
        for r in run_streaming_watermark_dedup(
            spark, str(fixture), query_name="wm_dedup_t1", watermark="36500 days"
        ).collect()
    }
    want = {
        r.event_type: (r.n_events, r.sum_value)
        for r in base.dropDuplicates(["event_id"])
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .collect()
    }
    assert got == want


def test_streaming_running_distinct_matches_batch(spark, tmp_path):
    """The foreachBatch keep-min fold, drained over the fixture, must
    produce the identical growth curve to the one-shot batch form."""
    from com_danliris_service_etl_spark.plans.registry import load_all
    from com_danliris_service_etl_spark.streaming.jobs import (
        run_streaming_running_distinct,
    )

    src = "/root/testdata/sf0.001"
    got = {
        (r.event_type, r.d): (r.new_entities, r.cum_distinct)
        for r in run_streaming_running_distinct(
            spark, src, str(tmp_path / "fs_state"), str(tmp_path / "fs_ckpt")
        ).collect()
    }
    fn, _ = load_all()["w9_running_distinct"]
    want = {
        (r.event_type, r.d): (r.new_entities, r.cum_distinct)
        for r in fn(spark, src).collect()
    }
    assert got == want and got


def test_fold_first_seen_redelivery_is_noop(spark, tmp_path):
    """MIN-merge idempotence: folding the SAME batch twice (at-least-once
    redelivery) leaves the state identical — no marker file needed,
    unlike the rollup's count/sum combine."""
    from com_danliris_service_etl_spark.streaming.jobs import fold_first_seen

    state = str(tmp_path / "state")
    batch = spark.createDataFrame(
        [("click", 1, 5), ("click", 1, 3), ("view", 2, 7)],
        "event_type string, user_id long, d long",
    )
    fold_first_seen(batch, state, batch_id=0)
    first = {(r.event_type, r.user_id): r.d for r in spark.read.parquet(state).collect()}
    fold_first_seen(batch, state, batch_id=0)  # redelivered
    second = {(r.event_type, r.user_id): r.d for r in spark.read.parquet(state).collect()}
    assert first == second == {("click", 1): 3, ("view", 2): 7}


def test_fold_first_seen_late_data_moves_debut_earlier(spark, tmp_path):
    from com_danliris_service_etl_spark.streaming.jobs import fold_first_seen

    state = str(tmp_path / "state")
    b1 = spark.createDataFrame([("click", 1, 9)], "event_type string, user_id long, d long")
    b2 = spark.createDataFrame([("click", 1, 4)], "event_type string, user_id long, d long")
    fold_first_seen(b1, state, batch_id=0)
    fold_first_seen(b2, state, batch_id=1)  # late arrival, earlier day
    got = spark.read.parquet(state).collect()
    assert [(r.event_type, r.user_id, r.d) for r in got] == [("click", 1, 4)]


def test_fold_first_seen_survives_interrupted_swap(spark, tmp_path):
    """A crash between the two swap renames leaves the state missing and
    the .old backup holding the only copy; the next fold must restore it
    before merging — otherwise history silently rebuilds from one
    batch's debuts."""
    import os
    import shutil

    from com_danliris_service_etl_spark.streaming.jobs import fold_first_seen

    state = str(tmp_path / "fs_state")
    b0 = spark.createDataFrame(
        [("click", 1, 3), ("view", 2, 5)], "event_type string, user_id long, d long"
    )
    fold_first_seen(b0, state, batch_id=0)
    os.replace(state, state + ".old")  # simulate the torn swap
    b1 = spark.createDataFrame(
        [("click", 9, 8)], "event_type string, user_id long, d long"
    )
    fold_first_seen(b1, state, batch_id=1)
    got = {
        (r.event_type, r.user_id): r.d for r in spark.read.parquet(state).collect()
    }
    assert got == {("click", 1): 3, ("view", 2): 5, ("click", 9): 8}
    assert not os.path.exists(state + ".old")
    shutil.rmtree(state)


def test_streaming_outer_interval_join_emission_semantics(spark):
    """LEFT OUTER stream-stream join: (1) matched rows equal the batch
    inner join exactly; (2) within the EMITTABLE region (views whose
    outer-emission eviction time the final watermark has passed) the
    stream's output equals the batch LEFT OUTER; (3) the stream never
    invents rows outside the batch result."""
    from com_danliris_service_etl_spark.plans.registry import load_all
    from com_danliris_service_etl_spark.streaming.jobs import (
        run_streaming_interval_join_outer,
    )

    src = "/root/testdata/sf0.001"
    out = run_streaming_interval_join_outer(spark, src, query_name="oij_t1")
    stream_rows = out.collect()
    fn, _ = load_all()["st11_outer_interval_join"]
    batch = {
        (r.view_id, r.purchase_id): r.lag_us for r in fn(spark, src).collect()
    }
    stream = {(r.view_id, r.purchase_id): r.lag_us for r in stream_rows}
    # (3) no invented rows
    assert set(stream) <= set(batch), set(stream) - set(batch)
    # (1) matched rows: stream inner subset == batch inner subset
    assert {k: v for k, v in stream.items() if k[1] is not None} == {
        k: v for k, v in batch.items() if k[1] is not None
    }
    # (2) emittable region: v_ts + interval < final watermark
    # (max event time − delay); margin one microsecond
    from pyspark.sql import functions as F

    ev = spark.read.parquet(f"{src}/events.parquet")
    max_us = ev.agg(F.max(F.unix_micros(F.col("ts").cast("timestamp")))).collect()[0][0]
    horizon = max_us - 2 * 3_600_000_000 - 3_600_000_000  # wm delay + interval
    views = {
        r.event_id: r.ts_us
        for r in ev.filter(F.col("event_type") == "view")
        .select("event_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"))
        .collect()
    }
    region_batch = {k: v for k, v in batch.items() if views[k[0]] < horizon}
    region_stream = {k: v for k, v in stream.items() if views[k[0]] < horizon}
    assert region_stream == region_batch
    assert any(k[1] is None for k in region_batch), "fixture has no unconverted views in region"


def test_stream_static_enrich_matches_batch(spark):
    """Stream-static join twin: the readStream-driven dim enrichment
    rollup ≡ the batch st12 plan (same join, same aggregate)."""
    from com_danliris_service_etl_spark.plans.queries_streaming import (
        st12_stream_static_enrich,
    )
    from com_danliris_service_etl_spark.streaming.jobs import (
        run_streaming_static_enrich,
    )

    stream_out = run_streaming_static_enrich(spark, SF_DIR, "st_enrich_test").toPandas()
    batch_out = st12_stream_static_enrich(spark, SF_DIR).toPandas()
    assert len(batch_out) > 0
    assert_frames_match(stream_out, batch_out, "stream_static_enrich_vs_batch")


def test_stateful_topk_matches_batch(spark):
    """applyInPandasWithState exact running top-k ≡ the batch
    count+window top-k (bounded replay drains the fixture)."""
    from com_danliris_service_etl_spark.plans.queries_streaming import (
        st13_stateful_topk,
    )
    from com_danliris_service_etl_spark.streaming.jobs import run_streaming_topk

    stream_out = run_streaming_topk(spark, SF_DIR, "st_topk_test").toPandas()
    batch_out = st13_stateful_topk(spark, SF_DIR).toPandas()
    assert len(batch_out) > 0
    assert_frames_match(stream_out, batch_out, "stateful_topk_vs_batch")


def test_topk_fn_accumulates_state_across_batches():
    """Drive the stateful fn directly with two sequential micro-batches:
    counts must accumulate, the emitted top-k must reflect BOTH batches,
    and the running total must be monotone."""
    import pandas as pd

    from com_danliris_service_etl_spark.streaming.jobs import _topk_fn

    class FakeState:
        def __init__(self):
            self.exists = False
            self._v = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v
            self.exists = True

    st = FakeState()
    b1 = pd.DataFrame({"user_id": [1, 1, 2, 3]})
    out1 = next(_topk_fn(("click",), iter([b1]), st))
    assert list(out1["type_total"]) == [4, 4, 4]
    assert list(out1["user_id"]) == [1, 2, 3]  # 2 and 3 tie at 1 -> id asc
    b2 = pd.DataFrame({"user_id": [3, 3, 3, 2]})
    out2 = next(_topk_fn(("click",), iter([b2]), st))
    # cumulative: 3 -> 4 events, 1 -> 2, 2 -> 2; total 8
    assert list(out2["user_id"]) == [3, 1, 2]
    assert list(out2["n_events"]) == [4, 2, 2]
    assert list(out2["type_total"]) == [8, 8, 8]


def test_streaming_quota_sample_matches_batch(spark):
    """Bounded-state quota sampler (4th custom stateful op) ≡ the batch
    hash-rank quota (ops/sampling.py::quota_per_group, registry llm3):
    per-stratum top-cap merging is associative, so the micro-batch fold
    lands on the identical kept set AND ranks."""
    from com_danliris_service_etl_spark.operators.sampling import quota_per_group
    from com_danliris_service_etl_spark.streaming.jobs import (
        run_streaming_quota_sample,
    )

    stream_out = run_streaming_quota_sample(
        spark, SF_DIR, "st_quota_test"
    ).toPandas()
    batch_out = quota_per_group(
        spark.read.parquet(f"{SF_DIR}/documents.parquet"), cap=50
    ).toPandas()
    assert len(batch_out) > 0
    assert_frames_match(stream_out, batch_out, "quota_sample_vs_batch")


def test_quota_sample_fn_state_across_batches():
    """Direct state-machine pins: cross-batch displacement (a lower-hash
    doc in batch 2 evicts a batch-1 member once cap is hit), replay
    idempotence, and the monotone seen counter."""
    import hashlib

    import pandas as pd

    from com_danliris_service_etl_spark.streaming.jobs import (
        _quota_sample_fn_factory,
    )

    class FakeState:
        def __init__(self):
            self.exists = False
            self._v = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self.exists, self._v = True, v

    fn = _quota_sample_fn_factory(2)
    st = FakeState()
    ids = list(range(20))
    by_hash = sorted(ids, key=lambda i: hashlib.md5(str(i).encode()).hexdigest())

    b1 = pd.DataFrame({"doc_id": ids[:10]})
    out1 = next(fn(("en", "web"), iter([b1]), st))
    assert list(out1.seen) == [10, 10]
    expect1 = sorted(ids[:10], key=lambda i: hashlib.md5(str(i).encode()).hexdigest())[:2]
    assert list(out1.doc_id) == expect1

    # batch 2: the rest of the ids + a REPLAY of batch 1 — replays must
    # not advance membership (dedup on id) though seen counts them
    b2 = pd.DataFrame({"doc_id": ids[10:] + ids[:3]})
    out2 = next(fn(("en", "web"), iter([b2]), st))
    assert list(out2.doc_id) == by_hash[:2]
    assert list(out2.sample_rank) == [1, 2]
    assert list(out2.seen) == [23, 23]


def test_windowed_counts_append_mode_evicts_and_drops_late(spark, tmp_path):
    """Drive the PRODUCTION emission mode the windowed_counts docstring
    claims but no test exercised: append mode over a 4-file stream with
    maxFilesPerTrigger=1. Spark's watermark LAGS one batch (the value
    published at batch N's end is computed from batch N-1's max event
    time), so: (1) a late W1 row arriving one batch after the advancing
    event is still folded in; (2) W1 is emitted exactly once, at the end
    of the batch where the advanced watermark takes effect; (3) a W1 row
    arriving after that is DROPPED by the watermark (metric asserted) —
    no re-emission, no count change; (4) the still-open window is
    withheld. This is the state-eviction contract that bounds the
    aggregation's memory on an unbounded stream."""
    import glob
    import shutil
    import time

    from pyspark.sql import functions as F

    from com_danliris_service_etl_spark.streaming.jobs import windowed_counts

    src = tmp_path / "ev_append"
    src.mkdir()
    stage = tmp_path / "stage"
    # tumbling windows anchor at epoch 0, so W1's start must be a whole hour
    base = (1_700_000_000 // 3600) * 3600
    hour = 3600

    def write_file(name, rows):
        out = str(stage / name)
        spark.createDataFrame(
            rows, "ts_s long, event_type string, value double"
        ).coalesce(1).write.mode("overwrite").parquet(out)
        # the file source needs FLAT files (it does not recurse into the
        # per-write directories) and orders them by modification time
        shutil.copy(glob.glob(f"{out}/part-*.parquet")[0], str(src / f"{name}.parquet"))
        time.sleep(1.1)

    # f1: three rows in W1 = [base, base+1h)
    write_file("f1", [(base + 60, "view", 1.0), (base + 120, "view", 2.0),
                      (base + 1800, "click", 3.0)])
    # f2: a late W1 row + the watermark-advancing event 4h later
    write_file("f2", [(base + 600, "view", 4.0), (base + 4 * hour, "view", 9.0)])
    # f3: open-window traffic; during this batch the advanced watermark
    # (base+2h, from f2's max) takes effect at batch END -> W1 emitted
    # here, INCLUDING f2's late row
    write_file("f3", [(base + 4 * hour + 10, "view", 5.0)])
    # f4: a W1 row arriving after W1 was finalized -> dropped
    write_file("f4", [(base + 300, "view", 99.0)])

    stream = (
        spark.readStream.schema("ts_s long, event_type string, value double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .withColumn("ts_utc", F.timestamp_seconds("ts_s"))
    )
    agg = windowed_counts(stream, window="1 hour", watermark="2 hours")
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("append_evict_test")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    out = {
        (r.window_start_us, r.event_type): (r.n, r.sum_value)
        for r in spark.table("append_evict_test").collect()
    }
    w1_us = base * 1_000_000
    # W1 emitted once per type: includes the in-watermark late row (4.0),
    # excludes the post-finalization one (99.0)
    assert out[(w1_us, "view")] == (3, 7.0), out
    assert out[(w1_us, "click")] == (1, 3.0), out
    # the open 4h-later window is withheld by append mode
    assert all(start == w1_us for start, _t in out), out
    # and the 99.0 row was dropped BY THE WATERMARK, not lost elsewhere
    dropped = sum(
        so.get("numRowsDroppedByWatermark", 0)
        for p in q.recentProgress
        for so in p["stateOperators"]
    )
    assert dropped == 1, [p["stateOperators"] for p in q.recentProgress]


def test_fold_rollup_keeps_one_high_water_marker(spark, tmp_path, monkeypatch):
    """fold_rollup records applied batches as ONE `_applied_<max_id>`
    marker: each fold makes at most one marker create and the state dir
    never holds more than one marker, however many batches folded. A
    redelivered batch at or below the mark is a no-op, and a state dir
    holding one marker per batch reads as its max."""
    import os

    from com_danliris_service_etl_spark.sources import fsutil
    from com_danliris_service_etl_spark.streaming.jobs import fold_rollup

    touched = []
    real_touch = fsutil.touch

    def counting_touch(sess, path):
        touched.append(path)
        real_touch(sess, path)

    monkeypatch.setattr(fsutil, "touch", counting_touch)

    def batch(i):
        return spark.createDataFrame(
            [("a", float(i), 100 * (i % 3))], "event_type string, value double, ts_us long"
        )

    def markers(path):
        return sorted(n for n in os.listdir(path) if n.startswith("_applied_"))

    def state(path):
        return sorted(map(tuple, spark.read.parquet(path).collect()))

    def n_folded(path):
        return spark.read.parquet(path).agg(F.sum("n")).first()[0]

    path = str(tmp_path / "rollup")
    for i in range(12):
        before = len(touched)
        fold_rollup(batch(i), path, bucket_us=1000, batch_id=i)
        assert len(touched) - before <= 1, touched[before:]
        assert markers(path) == [f"_applied_{i}"]
    folded = state(path)
    assert n_folded(path) == 12  # each batch folded once

    before = len(touched)
    fold_rollup(batch(11), path, bucket_us=1000, batch_id=11)  # redelivered latest
    assert state(path) == folded and len(touched) == before
    assert markers(path) == ["_applied_11"]

    # a state dir written with one marker per batch: ids 0..5 applied
    legacy = str(tmp_path / "legacy")
    six = batch(0)
    for i in range(1, 6):
        six = six.unionByName(batch(i))
    fold_rollup(six, legacy, bucket_us=1000)
    for i in range(6):
        real_touch(spark, f"{legacy}/_applied_{i}")
    applied = state(legacy)
    fold_rollup(batch(3), legacy, bucket_us=1000, batch_id=3)  # redelivered
    assert state(legacy) == applied
    fold_rollup(batch(6), legacy, bucket_us=1000, batch_id=6)
    assert n_folded(legacy) == 7
    assert markers(legacy) == ["_applied_6"]


def test_latest_emission_keeps_each_keys_last_emission(spark):
    """The update-mode retention rule on hand-built sink tables with
    several batches' emissions (the stream ≡ batch tests drain their
    fixture in one micro-batch, so they never see a re-emission)."""
    from com_danliris_service_etl_spark.streaming.jobs import _latest_emission

    # sessions: user 1's session 1 is emitted open in batch 0 and again,
    # unchanged, in batch 1 when the gap that closes it arrives; user 2's
    # session 1 grows from 2 to 5 events
    sessions = spark.createDataFrame(
        [
            (1, 1, 3, 0, 200),
            (2, 1, 2, 0, 50),
            (1, 1, 3, 0, 200),
            (1, 2, 1, 9000, 9000),
            (2, 1, 5, 0, 90),
        ],
        "user_id long, session_id long, n_events long,"
        " session_start_us long, session_end_us long",
    )
    got = _latest_emission(sessions, ["user_id", "session_id"], "n_events").collect()
    assert sorted(map(tuple, got)) == [
        (1, 1, 3, 0, 200),
        (1, 2, 1, 9000, 9000),
        (2, 1, 5, 0, 90),
    ]

    # top-k: every row of the latest K-row emission survives
    topk = spark.createDataFrame(
        [
            ("click", 1, 1, 2, 4),
            ("click", 2, 2, 1, 4),
            ("click", 3, 3, 1, 4),
            ("view", 1, 7, 1, 2),
            ("view", 2, 8, 1, 2),
            ("click", 1, 3, 4, 8),
            ("click", 2, 1, 2, 8),
            ("click", 3, 2, 2, 8),
        ],
        "event_type string, rank int, user_id long, n_events long, type_total long",
    )
    got = _latest_emission(topk, ["event_type"], "type_total").collect()
    assert sorted(map(tuple, got)) == [
        ("click", 1, 3, 4, 8),
        ("click", 2, 1, 2, 8),
        ("click", 3, 2, 2, 8),
        ("view", 1, 7, 1, 2),
        ("view", 2, 8, 1, 2),
    ]


def test_streaming_jobs_share_one_drain_of_each_kind():
    """Layout guard: every streaming job drains through the module's one
    memory-sink start site, one foreachBatch start site and one
    applyInPandasWithState call."""
    import ast
    import inspect

    from com_danliris_service_etl_spark.streaming import jobs

    calls = [
        node
        for node in ast.walk(ast.parse(inspect.getsource(jobs)))
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
    ]

    def count(attr, arg=None):
        return sum(
            1
            for c in calls
            if c.func.attr == attr
            and (arg is None or any(isinstance(a, ast.Constant) and a.value == arg for a in c.args))
        )

    assert count("format", "memory") == 1
    assert count("foreachBatch") == 1
    assert count("applyInPandasWithState") == 1


def test_stream_and_batch_twins_share_one_builder():
    """Layout guard: each streaming job and its registry query call the
    same plan builder in streaming/jobs.py, and the registry bodies hold
    no groupBy or join of their own."""
    import ast
    import inspect

    from com_danliris_service_etl_spark.plans import queries_streaming, queries_text
    from com_danliris_service_etl_spark.streaming import jobs

    def called(fn) -> set[str]:
        tree = ast.parse(inspect.getsource(inspect.unwrap(fn)).lstrip())
        return {
            node.func.attr if isinstance(node.func, ast.Attribute) else node.func.id
            for node in ast.walk(tree)
            if isinstance(node, ast.Call) and isinstance(node.func, (ast.Attribute, ast.Name))
        }

    q, t = queries_streaming, queries_text
    twins = [
        ("windowed_counts", [q.st1_tumbling_window], [jobs.run_streaming_windowed_counts]),
        ("digest_counts", [q.st5_dedup_stats], [jobs.run_streaming_dedup_stats]),
        ("dedup_profile", [q.st5_dedup_stats], [jobs.run_streaming_dedup_stats]),
        (
            "_interval_join_frame",
            [q.st6_interval_join, q.st11_outer_interval_join],
            [jobs.run_streaming_interval_join, jobs.run_streaming_interval_join_outer],
        ),
        ("admission_profile", [q.st9_watermark_dedup], [jobs.run_streaming_watermark_dedup]),
        ("debut_days", [q.st10_running_distinct], [jobs.run_streaming_running_distinct]),
        ("keep_min_debuts", [q.st10_running_distinct], [jobs.fold_first_seen]),
        ("segment_enrich", [q.st12_stream_static_enrich], [jobs.run_streaming_static_enrich]),
        (
            "source_term_counts",
            [t.txt18_source_divergence],
            [jobs.run_streaming_source_divergence],
        ),
    ]
    for builder, queries, streams in twins:
        assert callable(getattr(jobs, builder))
        for fn in queries + streams:
            assert builder in called(fn), f"{fn.__name__} does not call {builder}"
        for fn in queries:
            own = called(fn) & {"groupBy", "groupby", "join", "crossJoin"}
            assert not own, f"{fn.__name__} builds its own {sorted(own)}"
