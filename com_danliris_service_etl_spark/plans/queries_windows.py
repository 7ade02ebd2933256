"""Window registry queries (w): ordinal indexes, last-in-group, moving
averages, top-k per group, rank profiles, range frames,
gaps-and-islands, running distinct and percent_rank/cume_dist
(SURVEY.md §2.6).

Every window has a total-order tiebreak (SURVEY §7.4), so results are
identical across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from com_danliris_service_etl_spark.operators.windows import (
    last_in_group,
    ordinal_index,
    running_distinct,
)
from com_danliris_service_etl_spark.plans.registry import _events, _t, register


@register(
    "w1_ordinal_index",
    """
    SELECT l_orderkey, l_linenumber,
           row_number() OVER (PARTITION BY l_orderkey
                              ORDER BY l_linenumber, l_partkey) AS ordinal
    FROM lineitem
    """,
)
def w1_ordinal_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 — per-group ordinal index (`ProductionOrderStatus/run.js:258`)."""
    li = _t(spark, sf_dir, "lineitem")
    out = ordinal_index(li, "l_orderkey", [F.col("l_linenumber"), F.col("l_partkey")], "ordinal")
    return out.select("l_orderkey", "l_linenumber", "ordinal")


@register(
    "w2_last_in_group",
    """
    SELECT l_orderkey, l_linenumber,
           last_value(l_shipdate) OVER (PARTITION BY l_orderkey
                                        ORDER BY l_linenumber, l_partkey, l_shipdate
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND UNBOUNDED FOLLOWING) AS last_ship
    FROM lineitem
    """,
)
def w2_last_in_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2 — last element of an ordered child group
    (`GarmentPembelian/run.js:620` — fulfillments[length-1].deliveryOrderDate)."""
    li = _t(spark, sf_dir, "lineitem")
    out = last_in_group(
        li,
        "l_orderkey",
        [F.col("l_linenumber"), F.col("l_partkey"), F.col("l_shipdate")],
        "l_shipdate",
        "last_ship",
    )
    return out.select("l_orderkey", "l_linenumber", "last_ship")


# ---------------------------------------------------------------------------
# Window frames (sliding aggregates)
# ---------------------------------------------------------------------------


@register(
    "w4_moving_avg",
    """
    SELECT o_orderkey,
           o_custkey,
           round(avg(o_totalprice) OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4)
             AS avg_last3,
           round(sum(o_totalprice) OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
             AS running_total
    FROM orders
    """,
)
def w4_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding ROWS-frame aggregates per customer: 3-order moving average
    and running total in one window (one shuffle on the partition key,
    both frames computed in the same sort pass). Ordering includes
    o_orderkey because o_orderdate ties are real in this data — a frame
    over a non-total order is nondeterministic across engines (verify
    skill gotcha). Per-customer state is O(frame), so the operator is
    memory-safe on arbitrarily long histories; a skewed mega-customer is
    the known worst case and would be range-chunked at real scale."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_orderkey",
        "o_custkey",
        F.round(F.avg("o_totalprice").over(w.rowsBetween(-2, 0)), 4).alias(
            "avg_last3"
        ),
        F.round(
            F.sum("o_totalprice").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
            2,
        ).alias("running_total"),
    )


_W5_SQL = """
    SELECT o_orderpriority, o_orderkey, o_totalprice, rn FROM (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders)
    WHERE rn <= 3
"""


@register("w5_topk_per_group", _W5_SQL)
def w5_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped top-k (`operators/windows.py::topk_per_group`): the three
    biggest orders per priority class — O3's TOP(N) made per-group. One
    window shuffle on the group key with O(1) running state per group;
    the order includes the key tiebreak so ranks are total and
    partition-independent."""
    from com_danliris_service_etl_spark.operators.windows import topk_per_group

    return topk_per_group(
        _t(spark, sf_dir, "orders").select(
            "o_orderpriority", "o_orderkey", "o_totalprice"
        ),
        "o_orderpriority",
        [F.col("o_totalprice").desc(), F.col("o_orderkey")],
        k=3,
    ).withColumn("rn", F.col("rn").cast("long"))


# ---------------------------------------------------------------------------
# W6 — rank-profile windows (ntile / percent_rank / cume_dist)
# ---------------------------------------------------------------------------

_W6_SQL = """
WITH ranked AS (
  SELECT event_type, value, event_id,
         ntile(10) OVER w AS decile,
         percent_rank() OVER w AS pr,
         cume_dist() OVER w AS cd
  FROM events
  WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id)
)
SELECT event_type, decile,
       count(*)::BIGINT AS n,
       round(sum(value), 2) AS sum_value,
       round(min(pr), 6) AS pr_min,
       round(max(cd), 6) AS cd_max
FROM ranked
GROUP BY event_type, decile
"""


@register("w6_decile_profile", _W6_SQL)
def w6_decile_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W-family completion: ntile(10) + percent_rank + cume_dist over a
    TOTAL order (value, event_id — the tiebreak rule the verify gotchas
    pin for cross-engine determinism), aggregated to a per-(type, decile)
    profile. Scale note: WindowExec buffers one event_type per task; at
    100 TB with few types, the same deciles come from approx_percentile
    cut-points (sk1's sketch path) or a repartitionByRange two-pass — the
    exact-NTILE window form is the reference semantics being pinned."""
    ev = _events(spark, sf_dir).select("event_type", "event_id", "value")
    w = Window.partitionBy("event_type").orderBy(
        F.col("value").asc(), F.col("event_id").asc()
    )
    ranked = ev.select(
        "event_type",
        "value",
        F.ntile(10).over(w).alias("decile"),
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
    )
    return ranked.groupBy("event_type", "decile").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("sum_value"),
        F.round(F.min("pr"), 6).alias("pr_min"),
        F.round(F.max("cd"), 6).alias("cd_max"),
    )


# ---------------------------------------------------------------------------
# W7 — time-RANGE window frame (last-10-minutes running aggregate)
# ---------------------------------------------------------------------------

_W7_SQL = """
SELECT event_id, user_id, epoch_us(ts) AS ts_us,
       count(*) OVER w AS n_10min,
       round(sum(value) OVER w, 2) AS sum_10min
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW)
"""


@register("w7_range_frame", _W7_SQL)
def w7_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running count/sum over a 10-minute TIME-RANGE frame
    (`rangeBetween` on epoch-micros) — the value-based frame w4's
    ROWS-frame cousin: peers at equal timestamps are IN the frame
    together, so the result is deterministic under timestamp ties
    where a ROWS frame would not be. One shuffle + one sort
    (partitionBy user, orderBy ts); frame state is O(window span),
    never the partition."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-600_000_000, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts_us",
        F.count(F.lit(1)).over(w).alias("n_10min"),
        F.round(F.sum("value").over(w), 2).alias("sum_10min"),
    )


# ---------------------------------------------------------------------------
# W8 — gaps-and-islands (customer ordering streaks)
# ---------------------------------------------------------------------------

_W8_SQL = """
WITH days AS (
  SELECT DISTINCT o_custkey,
         datediff('day', DATE '1970-01-01', o_orderdate::DATE)::BIGINT AS d
  FROM orders),
runs AS (
  SELECT o_custkey, d,
         d - row_number() OVER (PARTITION BY o_custkey ORDER BY d) AS g
  FROM days),
isl AS (
  SELECT o_custkey, g, count(*)::BIGINT AS len
  FROM runs GROUP BY o_custkey, g)
SELECT o_custkey,
       count(*)::BIGINT AS n_islands,
       max(len)::BIGINT AS longest_island,
       sum(len)::BIGINT AS active_days
FROM isl GROUP BY o_custkey
"""


@register("w8_gap_islands", _W8_SQL)
def w8_gap_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands (operators/windows.py::`gap_islands`):
    per-customer maximal runs of consecutive order DAYS, summarized to
    streak stats. tick − row_number() is constant within a run, so run
    detection is a groupBy, not a self-join or iteration; dedup,
    window, island groupBy and this summary all ride ONE hash
    partitioning by customer."""
    from com_danliris_service_etl_spark.operators.windows import gap_islands

    orders = _t(spark, sf_dir, "orders")
    day = F.datediff(
        F.col("o_orderdate").cast("date"), F.lit("1970-01-01").cast("date")
    )
    islands = gap_islands(
        orders.select("o_custkey", day.alias("d")), ["o_custkey"], "d"
    )
    return islands.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_islands"),
        F.max("island_len").alias("longest_island"),
        F.sum("island_len").alias("active_days"),
    )


# ---------------------------------------------------------------------------
# W9 — cumulative distinct users per (event_type, day)
# ---------------------------------------------------------------------------

_W9_SQL = """
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


@register("w9_running_distinct", _W9_SQL)
def w9_running_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Users-ever-seen growth curve per event type (operators/windows.py
    `running_distinct`): the debut decomposition replaces the
    unsupported/quadratic `count(distinct) OVER` — each user counts once
    at its first day, and a running sum over the per-day debut counts
    (|types| × |days| rows) rebuilds the cumulative distinct series."""
    ev = _events(spark, sf_dir).select(
        "event_type",
        "user_id",
        (F.col("ts_us") / F.lit(86400000000)).cast("long").alias("d"),
    )
    return running_distinct(ev, ["event_type"], "user_id", "d")


# ---------------------------------------------------------------------------
# W10 — relative-rank window functions (percent_rank / cume_dist)
# ---------------------------------------------------------------------------

_W10_SQL = """
SELECT c_custkey, c_mktsegment,
       round(percent_rank() OVER w, 6) AS bal_pct_rank,
       round(cume_dist() OVER w, 6) AS bal_cume_dist
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
"""


@register("w10_percentile_profile", _W10_SQL)
def w10_percentile_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative-rank profile of customer balances within segment —
    percent_rank ((rank-1)/(n-1)) and cume_dist (rows<=current / n), the
    two window functions the w-family still lacked (w1 ordinal, w6
    ntile). The order key is totalized with c_custkey so both engines
    rank identically at duplicate balances; both measures are exact
    integer ratios, so 6dp rounding is engine-deterministic.

    Scale shape: one exchange on the segment key, one sorted window
    pass computing both measures. Segment count is small, so at fact
    scale a segment is one task — the same stratum-parallelism bound
    documented on llm15; the two-phase remedy (per-range rank partials +
    broadcast offsets) applies when a partition key has fact-scale
    groups. Dimension-sized here by design."""
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return _t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_mktsegment",
        F.round(F.percent_rank().over(w), 6).alias("bal_pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("bal_cume_dist"),
    )
