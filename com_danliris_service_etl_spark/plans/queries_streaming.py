"""Windowed event-time registry queries (st): tumbling, sliding and session
windows, dedup, interval joins, gap fill, count-min, running distinct,
stream-static enrichment, stateful top-k and attribution over the
`events` fixture.

SURVEY.md §2.12 notes the reference has no streaming runtime; these are
the standard operators in batch mode for the oracle gate, and most are
the batch twin of a Structured Streaming job in streaming/jobs.py.
Where the two compute the same thing they run the same code: the query
passes its batch frame to the builder the job passes its stream to
(st1, st5, st6, st9, st10, st11, st12; the module docstring of
streaming/jobs.py lists the builders). The twins of the
applyInPandasWithState jobs (st3, st13, st14) and of the count-min fold
(st8) compute the same answer another way. tests/test_streaming.py pins
stream ≡ batch for every pair.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from com_danliris_service_etl_spark.operators.sketches import countmin_sketch, tokens_of
from com_danliris_service_etl_spark.plans.queries_graph import (
    _ATTR_SQL,
    attributed_purchases,
)
from com_danliris_service_etl_spark.plans.registry import _events, _t, register
from com_danliris_service_etl_spark.streaming.jobs import (
    _interval_join_frame,
    admission_profile,
    debut_days,
    dedup_profile,
    digest_counts,
    keep_min_debuts,
    segment_enrich,
    windowed_counts,
)


@register(
    "st1_tumbling_window",
    """
    SELECT epoch_us(bucket) AS window_start_us,
           epoch_us(bucket + INTERVAL 1 HOUR) AS window_end_us,
           event_type, count(*) AS n, round(sum(value), 2) AS sum_value
    FROM (SELECT time_bucket(INTERVAL 1 HOUR, ts) AS bucket, event_type, value FROM events)
    GROUP BY bucket, event_type
    """,
)
def st1_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour windows: count + sum per (window, event_type)."""
    return windowed_counts(_events(spark, sf_dir))


@register(
    "st2_sliding_window",
    """
    WITH offsets AS (SELECT * FROM (VALUES (0), (1)) o(off)),
    bucketed AS (
      SELECT time_bucket(INTERVAL 2 HOUR, ts,
                         TIMESTAMP '2000-01-01' + to_hours(off)) AS w_start,
             event_type, value
      FROM events, offsets)
    SELECT epoch_us(w_start) AS window_start_us,
           epoch_us(w_start + INTERVAL 2 HOUR) AS window_end_us,
           event_type, count(*) AS n
    FROM bucketed GROUP BY w_start, event_type
    """,
)
def st2_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (2h length, 1h slide): each event lands in 2 windows.
    The oracle reproduces Spark's window set as 2 offset tumbling bucketings."""
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(F.window("ts_utc", "2 hours", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.unix_micros(F.col("window.start")).alias("window_start_us"),
            F.unix_micros(F.col("window.end")).alias("window_end_us"),
            "event_type",
            "n",
        )
    )


@register(
    "st3_sessionize",
    """
    WITH gaps AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                         OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > 1800000000
                       OR lag(epoch_us(ts))
                         OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events),
    sessions AS (
      SELECT user_id, event_id, ts_us,
             CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
      FROM gaps)
    SELECT user_id, session_id, count(*) AS n_events,
           min(ts_us) AS session_start_us, max(ts_us) AS session_end_us
    FROM sessions GROUP BY user_id, session_id
    """,
)
def st3_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization (30-min inactivity gap) via lag + cumulative sum —
    the batch twin of streaming session_window. One shuffle on user_id;
    both windows share the same partitioning so Catalyst plans a single
    exchange."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    gap = F.col("ts_us") - F.lag("ts_us").over(w)
    is_new = F.when(gap.isNull() | (gap > 30 * 60 * 1_000_000), 1).otherwise(0)
    wcum = w.rowsBetween(Window.unboundedPreceding, 0)
    return (
        ev.select("user_id", "event_id", "ts_us")
        .withColumn("is_new", is_new)
        .withColumn("session_id", F.sum("is_new").over(wcum))
        .groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts_us").alias("session_start_us"),
            F.max("ts_us").alias("session_end_us"),
        )
    )


@register(
    "st4_session_window_native",
    """
    WITH gaps AS (
      SELECT user_id, epoch_us(ts) AS ts_us, event_id,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                         OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > 1800000000
                       OR lag(epoch_us(ts))
                         OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events),
    sessions AS (
      SELECT user_id, ts_us,
             CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
      FROM gaps)
    SELECT user_id,
           min(ts_us) AS session_start_us,
           max(ts_us) + 1800000000 AS session_end_us,
           count(*) AS n_events
    FROM sessions GROUP BY user_id, sid
    """,
)
def st4_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via Spark's NATIVE `session_window` aggregation (the
    operator a Structured Streaming job uses verbatim, vs st3's
    lag+cumsum batch formulation): Spark merges per-user gap-windows
    inside one aggregation — a single shuffle on the session-window
    key — and defines session end = last event + gap, which the oracle
    mirrors as max(ts)+30min over the same lag-derived sessions. Two
    independent formulations of one semantics, both green, is the
    strongest pin that the session boundaries are right."""
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(
            F.session_window(F.col("ts_utc"), "30 minutes"), F.col("user_id")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("session_window.start")).alias("session_start_us"),
            F.unix_micros(F.col("session_window.end")).alias("session_end_us"),
            "n_events",
        )
    )


# ---------------------------------------------------------------------------
# st5: exact-dedup monitoring stats (streaming pre-agg + batch finalize)
# ---------------------------------------------------------------------------

_ST5_SQL = """
    WITH g AS (SELECT source, md5(text) AS h, count(*) AS n
               FROM documents GROUP BY source, md5(text))
    SELECT source,
           CAST(sum(n) AS BIGINT) AS n_docs,
           count(*) AS n_unique,
           CAST(sum(n) - count(*) AS BIGINT) AS n_dup,
           CAST(max(n) AS BIGINT) AS max_group
    FROM g GROUP BY source
"""


@register("st5_dedup_stats", _ST5_SQL)
def st5_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source exact-duplication monitoring: digest-grain pre-agg →
    per-source finalize (docs, uniques, dups, largest dup group). Both
    shuffles are map-side-combinable."""
    return dedup_profile(digest_counts(_t(spark, sf_dir, "documents")))


# ---------------------------------------------------------------------------
# st6: view→purchase interval join
# ---------------------------------------------------------------------------

_ST6_SQL = """
    SELECT v.event_id AS view_id, p.event_id AS purchase_id,
           v.user_id, CAST(p.ts_us - v.ts_us AS BIGINT) AS lag_us
    FROM (SELECT event_id, user_id, epoch_us(ts) AS ts_us
          FROM events WHERE event_type = 'view') v
    JOIN (SELECT event_id, user_id, epoch_us(ts) AS ts_us
          FROM events WHERE event_type = 'purchase') p
      ON v.user_id = p.user_id
         AND p.ts_us > v.ts_us AND p.ts_us <= v.ts_us + 3600000000
"""


@register("st6_interval_join", _ST6_SQL)
def st6_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """View→purchase attribution: every purchase joined to the views it
    followed within one hour, per user — the interval join behind
    conversion attribution. At 100 TB the streaming job's watermark is
    what bounds the join state to one hour's purchases per user."""
    return _interval_join_frame(_events(spark, sf_dir))


# ---------------------------------------------------------------------------
# st7: dense-grid resample with gap fill (LOCF)
# ---------------------------------------------------------------------------

_ST7_SQL = """
    WITH ev AS (SELECT event_type, epoch_us(ts) // 3600000000 AS hb, value
                FROM events),
    hourly AS (SELECT event_type, hb, count(*) AS n,
                      round(sum(value), 2) AS s, round(avg(value), 4) AS m
               FROM ev GROUP BY event_type, hb),
    bounds AS (SELECT min(hb) AS lo, max(hb) AS hi FROM ev),
    grid AS (SELECT t.event_type, g.hb
             FROM (SELECT DISTINCT event_type FROM ev) t,
                  bounds b,
                  LATERAL (SELECT unnest(range(b.lo, b.hi + 1)) AS hb) g)
    SELECT g.event_type,
           g.hb * 3600000000 AS bucket_start_us,
           CAST(COALESCE(h.n, 0) AS BIGINT) AS n,
           COALESCE(h.s, 0.0) AS sum_value,
           last_value(h.m IGNORE NULLS)
             OVER (PARTITION BY g.event_type ORDER BY g.hb
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS ffill_mean,
           (h.n IS NULL) AS is_gap
    FROM grid g LEFT JOIN hourly h
      ON h.event_type = g.event_type AND h.hb = g.hb
"""


@register("st7_gap_fill", _ST7_SQL)
def st7_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly resample with gap fill
    (`operators/rollup.py::resample_gap_fill`): every (event_type, hour)
    bucket from corpus min to max exists — empty buckets carry zero
    counts and a forward-filled mean (LOCF), flagged is_gap — the dense
    grid every time-series consumer assumes. Events shuffle ONCE (the
    map-side-combinable hourly aggregation); the grid derives from a
    broadcast min/max row and stays grid-sized; the fill is one window
    per group over grid rows. Means are rounded before the fill, so the
    carried literal is identical cross-engine."""
    from com_danliris_service_etl_spark.operators.rollup import resample_gap_fill

    return resample_gap_fill(_events(spark, sf_dir))


# ---------------------------------------------------------------------------
# ST8 — the count-min grid itself
# ---------------------------------------------------------------------------

_ST8_SQL = """
WITH tok AS (
  SELECT t.token
  FROM documents, unnest(string_split(text, ' ')) AS t(token)
  WHERE text IS NOT NULL AND t.token <> ''
),
cells AS (
  SELECT r,
         ('0x' || substring(md5(r::VARCHAR || ':' || token), 1, 8))::BIGINT % 256 AS bucket
  FROM tok CROSS JOIN (SELECT unnest([0, 1]) AS r) rows_
)
SELECT r AS "row", bucket, count(*)::BIGINT AS cnt
FROM cells GROUP BY r, bucket
"""


@register("st8_countmin_sketch", _ST8_SQL)
def st8_countmin_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The count-min grid over the document token stream, which the
    streaming job maintains as state (at most depth×width rows, constant
    in the corpus — the bounded-state property that makes a live
    heavy-hitter monitor viable where exact counts grow with the
    vocabulary). Cell sums are associative, so micro-batch folding lands
    on this identical grid, and integer counts make the oracle bit-exact.

    Built in ROLLUP form (the sk3 lesson, promoted here in r10 after the
    events-decade measurement caught the raw form at 9.8x the oracle):
    aggregate exact per-token counts first — ONE map-side-combined fact
    exchange that reduces the corpus to vocabulary grain — then md5-hash
    only the vocabulary into cells. Identical grid by associativity of
    cell sums; the corpus-scale double-md5 projection (2·|tokens| digest
    calls, the measured bottleneck) becomes 2·|vocab|."""
    docs = _t(spark, sf_dir, "documents")
    tf = tokens_of(docs).groupBy("token").agg(F.count(F.lit(1)).alias("__tf"))
    return countmin_sketch(tf, width=256, depth=2, counts_col="__tf")


# ---------------------------------------------------------------------------
# ST9 — watermark dedup (exactly-once admission under replay)
# ---------------------------------------------------------------------------

_ST9_SQL = """
WITH replay AS (
  SELECT * FROM events UNION ALL SELECT * FROM events
),
d AS (SELECT DISTINCT * FROM replay)
SELECT event_type, count(*)::BIGINT AS n_events,
       round(sum(value), 2) AS sum_value
FROM d GROUP BY event_type
"""


@register("st9_watermark_dedup", _ST9_SQL)
def st9_watermark_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The event stream replayed twice (exact at-least-once redelivery),
    admitted exactly once per event_id, then profiled per type.
    Replayed rows are bit-identical, so the admission rule is plain
    DISTINCT in both engines; the streaming form is
    `dropDuplicatesWithinWatermark`, whose per-id state is evicted at
    the watermark (the bounded-state property a batch query cannot
    show)."""
    ev = _events(spark, sf_dir)
    return admission_profile(ev.unionByName(ev).dropDuplicates(["event_id"]))


# ---------------------------------------------------------------------------
# ST10 — incremental first-seen merge (streaming running-distinct twin)
# ---------------------------------------------------------------------------

_ST10_SQL = """
WITH fs AS (
  SELECT event_type, user_id,
         min(epoch_us(ts) // 86400000000) AS d
  FROM events GROUP BY 1, 2
), nd AS (
  SELECT event_type, d, count(*)::BIGINT AS new_entities FROM fs GROUP BY 1, 2
)
SELECT event_type, d, new_entities,
       CAST(sum(new_entities) OVER (
         PARTITION BY event_type ORDER BY d
       ) AS BIGINT) AS cum_distinct
FROM nd
"""


@register("st10_running_distinct", _ST10_SQL)
def st10_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The event history split into two "nightly" increments, each reduced
    to its debut candidates, keep-min merged — the fold the streaming
    job runs per micro-batch (`fold_first_seen`) — then summarized with
    `running_distinct`. The oracle is the ONE-SHOT
    computation (w9's SQL): the query pins merge ≡ one-shot, the
    incremental-correctness law that lets the stream never reprocess
    history. MIN-merge is idempotent and commutative, so increment
    order and redelivery cannot change the state."""
    from com_danliris_service_etl_spark.operators.windows import running_distinct

    ev = _events(spark, sf_dir)
    inc1, inc2 = (
        keep_min_debuts(debut_days(ev.filter(F.col("event_id") % 2 == half)))
        for half in (0, 1)
    )
    return running_distinct(
        keep_min_debuts(inc1.unionByName(inc2)), ["event_type"], "user_id", "d"
    )


# ---------------------------------------------------------------------------
# ST11 — LEFT OUTER interval join (unconverted views kept)
# ---------------------------------------------------------------------------

_ST11_SQL = """
WITH v AS (
  SELECT event_id AS view_id, user_id, epoch_us(ts) AS vts
  FROM events WHERE event_type = 'view'
), p AS (
  SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS pts
  FROM events WHERE event_type = 'purchase'
)
SELECT v.view_id, p.purchase_id, v.user_id,
       CAST(p.pts - v.vts AS BIGINT) AS lag_us
FROM v LEFT JOIN p
  ON p.user_id = v.user_id
 AND p.pts > v.vts
 AND p.pts <= v.vts + 3600000000
"""


@register("st11_outer_interval_join", _ST11_SQL)
def st11_outer_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER view→purchase attribution: st6's inner interval join
    plus the rows conversion analysis actually needs — views that did
    NOT convert within the hour (NULL purchase). The streaming form can
    only emit an unmatched view after the watermark passes its eviction
    point (the emission-semantics contract tests/test_streaming.py pins
    on the emittable region). Same single equi-shuffle on user_id with
    the time band as residual; the outer side adds no shuffle."""
    return _interval_join_frame(_events(spark, sf_dir), "leftOuter").select(
        "view_id", "purchase_id", "user_id", "lag_us"
    )


@register(
    "st12_stream_static_enrich",
    """
    SELECT c_mktsegment, event_type,
           count(*)::BIGINT AS n,
           round(sum(value), 2) AS sum_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY c_mktsegment, event_type
    """,
)
def st12_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static dimension enrichment — the deployment shape where an
    unbounded event stream joins a slowly-changing dimension snapshot
    (here: events → customer segment) before aggregating. This IS the
    per-microbatch plan Structured Streaming executes for a stream-static
    inner join (stateless — no watermark, no join state; the static side
    is re-resolvable per microbatch, which is how dim updates become
    visible mid-stream)."""
    return segment_enrich(_t(spark, sf_dir, "events"), _t(spark, sf_dir, "customer"))


@register(
    "st13_stateful_topk",
    """
    SELECT event_type, CAST(rank AS INT) AS rank, user_id, n_events
    FROM (
      SELECT event_type, user_id, count(*)::BIGINT AS n_events,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY count(*) DESC, user_id) AS rank
      FROM events GROUP BY event_type, user_id)
    WHERE rank <= 3
    """,
)
def st13_stateful_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact top-3 heavy users per event type (the streaming job keeps
    a running top-3 with applyInPandasWithState): one map-side-combinable
    (type, user) count shuffle, then a bounded per-type window. The
    streaming form keeps the full (type, user) count map as keyed state
    — exact top-k is not mergeable, so the exact operator pays state
    proportional to the distinct-pair set, while st8's count-min sketch
    is the bounded-memory approximate dual. Total-order tiebreak
    (count desc, user_id) keeps both engines and both forms aligned."""
    ev = _t(spark, sf_dir, "events").select("event_type", "user_id")
    from pyspark.sql import Window as W

    counts = ev.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    w = W.partitionBy("event_type").orderBy(
        F.col("n_events").desc(), "user_id"
    )
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 3)
        .select("event_type", "rank", "user_id", "n_events")
    )


@register("st14_stream_attribution", _ATTR_SQL)
def st14_stream_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution (the streaming job's `_attribution_fn` runs
    it with applyInPandasWithState): one row per purchase with its
    credited channel. The streaming form keeps ONE row of keyed
    state per user (the latest touch), so its memory is O(|users|) on an
    unbounded clickstream; the batch form pays the bounded-relation
    union-sort window instead. Stream ≡ batch is pinned in
    tests/test_round9b_ops.py."""
    return attributed_purchases(spark, sf_dir)
