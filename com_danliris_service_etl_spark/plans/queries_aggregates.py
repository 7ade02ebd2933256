"""Aggregation registry queries (a): the TPC-H-shaped flagship family —
grouped aggregates, latest/max per key, surrogate keys, statistical
profiles, quantiles, histograms, trends, modes, weighted medians,
ratio-to-report and the decision-support subquery shapes (SURVEY.md
§2.4).

Determinism notes (cross-engine hash gate):
- `l_quantity` is integral, so sums/avgs of it are EXACT doubles in any
  summation order — threshold comparisons on them never flip between
  engines.
- Money sums are rounded 2dp on both sides before any ranking/compare.
- Top-k cuts are totally ordered (value, key) so the boundary row is
  engine-invariant.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from com_danliris_service_etl_spark.functions import weighted_score
from com_danliris_service_etl_spark.operators.joins import latest_per_key
from com_danliris_service_etl_spark.operators.quality import (
    histogram_profile,
    weighted_median_twophase,
)
from com_danliris_service_etl_spark.operators.windows import grouped_mode, surrogate_key
from com_danliris_service_etl_spark.plans.registry import _events, _t, register


# ---------------------------------------------------------------------------
# Flagship / generic aggregation (SURVEY §2.4; TPC-H Q1 shape)
# ---------------------------------------------------------------------------


@register(
    "a0_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                        AS sum_qty,
           round(sum(l_extendedprice), 2)                                   AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)                AS sum_disc_price,
           round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)  AS sum_charge,
           round(avg(l_quantity), 4)                                        AS avg_qty,
           round(avg(l_extendedprice), 4)                                   AS avg_price,
           round(avg(l_discount), 6)                                        AS avg_disc,
           count(*)                                                         AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def a0_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: scan → filter → groupBy → 8 aggregates. Filter and the
    2-column grouping push down to the parquet scan; partial aggregation is
    map-side so the shuffle carries only group states."""
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# Aggregations (SURVEY §2.4)
# ---------------------------------------------------------------------------


@register(
    "a1_latest_per_key",
    """
    SELECT user_id, event_id AS last_event_id, epoch_us(ts) AS last_ts_us,
           event_type AS last_type
    FROM (SELECT user_id, event_id, ts, event_type,
                 row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
          FROM events)
    WHERE rn = 1
    """,
)
def a1_latest_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 — latest-record-per-group argmax (`MigrationLogFunc/index.js:33-41`)."""
    ev = _events(spark, sf_dir)
    out = latest_per_key(ev, "user_id", max_of=["ts_us", "event_id"])
    return out.select(
        "user_id",
        F.col("event_id").alias("last_event_id"),
        F.col("ts_us").alias("last_ts_us"),
        F.col("event_type").alias("last_type"),
    )


@register(
    "a2_max_per_key",
    """
    SELECT user_id, max(epoch_us(ts)) AS max_ts_us, count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM events GROUP BY user_id
    """,
)
def a2_max_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 — max-per-key watermark aggregate (`Pembelian/run.js:44-46`)."""
    ev = _events(spark, sf_dir)
    return ev.groupBy("user_id").agg(
        F.max("ts_us").alias("max_ts_us"),
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


@register(
    "a3_weighted_score",
    """
    SELECT p_partkey,
           CASE WHEN p_size = 10
                THEN p_retailprice * 1 + p_retailprice * 3 + p_retailprice * 5 + p_size * 10
           END AS score
    FROM part
    """,
)
def a3_weighted_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 — weighted linear score gated on a point system (`FabricQC/run.js:120-124`)."""
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        weighted_score(
            "p_retailprice", "p_retailprice", "p_retailprice", "p_size", "p_size"
        ).alias("score"),
    )


@register(
    "a4_surrogate_key",
    """
    SELECT row_number() OVER (ORDER BY s_suppkey) AS sk, s_suppkey, s_name FROM supplier
    """,
)
def a4_surrogate_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 — monotonic surrogate key with explicit ordering
    (`TotalHutang/run.js:208` counts load order). Dimension-sized only —
    see operators/windows.py scale note."""
    s = _t(spark, sf_dir, "supplier")
    return surrogate_key(s, F.col("s_suppkey"), "sk").select("sk", "s_suppkey", "s_name")


@register("a5_row_count", "SELECT count(*) AS n FROM lineitem")
def a5_row_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 — row-count telemetry (`FabricQC/run.js:5,22,200`)."""
    return _t(spark, sf_dir, "lineitem").agg(F.count(F.lit(1)).alias("n"))


# ---------------------------------------------------------------------------
# Statistical profile (ordered-set + moment aggregates)
# ---------------------------------------------------------------------------


@register(
    "a6_stats_profile",
    """
    SELECT lang,
           count(DISTINCT source)::BIGINT              AS n_sources,
           round(quantile_cont(n_chars, 0.5), 4)       AS p50_chars,
           round(quantile_cont(n_chars, 0.95), 4)      AS p95_chars,
           round(stddev_samp(n_chars), 4)              AS sd_chars,
           round(corr(n_chars, length(text)::DOUBLE), 6) AS corr_len
    FROM documents
    GROUP BY lang
    """,
)
def a6_stats_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus profile: exact distinct-count, interpolated
    percentiles (Spark `percentile` and DuckDB `quantile_cont` share the
    rank = p·(n-1) linear-interpolation definition — verified equal to
    6dp), sample stddev and Pearson correlation. The moment aggregates
    (stddev/corr) are map-side combinable; `percentile` is the EXACT
    ordered-set form, which buffers each group's values — right for a
    bounded-cardinality profile like this, while an unbounded-group
    profile at 100 TB would switch to `approx_percentile` (t-digest,
    mergeable, bounded memory) and forgo cross-engine hash equality.
    count(DISTINCT) plans as Spark's two-phase distinct aggregate —
    partial dedup before the shuffle, no full value set on one node."""
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("lang").agg(
        F.countDistinct("source").alias("n_sources"),
        F.round(F.expr("percentile(n_chars, 0.5)"), 4).alias("p50_chars"),
        F.round(F.expr("percentile(n_chars, 0.95)"), 4).alias("p95_chars"),
        F.round(F.stddev_samp("n_chars"), 4).alias("sd_chars"),
        F.round(
            F.corr("n_chars", F.length("text").cast("double")), 6
        ).alias("corr_len"),
    )


# ---------------------------------------------------------------------------
# A7 — exact multi-quantile group profile
# ---------------------------------------------------------------------------

_A7_SQL = """
SELECT event_type,
       round(quantile_cont(value, 0.25), 6) AS p25,
       round(quantile_cont(value, 0.50), 6) AS p50,
       round(quantile_cont(value, 0.75), 6) AS p75,
       round(quantile_cont(value, 0.95), 6) AS p95,
       count(*)::BIGINT AS n
FROM events GROUP BY event_type
"""


@register("a7_group_quantiles", _A7_SQL)
def a7_group_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact per-group quantile profile (p25/p50/p75/p95) — Spark's
    `percentile` and DuckDB's `quantile_cont` share the linear
    interpolation definition, so the values match exactly at 6dp. Scale
    note: the exact aggregate buffers each group's value multiset; at
    100 TB the same profile comes from `approx_percentile` (t-digest —
    the sk1 accuracy-contract path). This query pins the EXACT
    semantics that sketch is graded against."""
    ev = _events(spark, sf_dir)
    return ev.groupBy("event_type").agg(
        *[
            F.round(F.expr(f"percentile(value, {q})"), 6).alias(f"p{int(q * 100)}")
            for q in (0.25, 0.5, 0.75, 0.95)
        ],
        F.count(F.lit(1)).alias("n"),
    )


# ---------------------------------------------------------------------------
# A8 — equal-width histogram profile over global bounds
# ---------------------------------------------------------------------------

_A8_SQL = """
WITH s AS (SELECT min(value)::DOUBLE AS mn, max(value)::DOUBLE AS mx FROM events),
b AS (
  SELECT event_type,
         CASE WHEN s.mx = s.mn THEN 0
              ELSE least(9, floor((value - s.mn) / ((s.mx - s.mn) / 10.0))::INT)
         END::BIGINT AS bucket,
         s.mn, s.mx
  FROM events CROSS JOIN s
)
SELECT event_type, bucket,
       round(min(mn + bucket * ((mx - mn) / 10.0)), 6) AS bin_lo,
       round(min(mn + (bucket + 1) * ((mx - mn) / 10.0)), 6) AS bin_hi,
       count(*)::BIGINT AS n
FROM b GROUP BY event_type, bucket
"""


@register("a8_histogram", _A8_SQL)
def a8_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type equal-width 10-bin histogram over GLOBAL value
    bounds (operators/quality.py::histogram_profile): one scalar
    min/max pass broadcast into a bucketing projection + one partial-
    aggregated groupBy. Bucket arithmetic is identical IEEE on both
    engines; bin edges round at 6dp."""
    ev = _events(spark, sf_dir)
    out = histogram_profile(ev, "event_type", "value", bins=10)
    return out.withColumn("bucket", F.col("bucket").cast("long"))


# ---------------------------------------------------------------------------
# A10 — per-group OLS trend from sufficient statistics
# ---------------------------------------------------------------------------

# x = day index (BIGINT — Σx and Σx² are exact integer sums in both
# engines; the float parts Σy and Σxy are plain one-pass sums whose
# cross-engine ulp differences vanish at 6dp after the small-magnitude
# cancellation). All casts written explicitly so both engines run the
# identical IEEE expression.
_A10_SQL = """
WITH pts AS (
  SELECT event_type, (epoch_us(ts) // 86400000000) AS d, value
  FROM events WHERE value IS NOT NULL),
s AS (
  SELECT event_type,
         count(*)::BIGINT AS n,
         sum(d)::BIGINT AS sx,
         sum(d * d)::BIGINT AS sxx,
         sum(value)::DOUBLE AS sy,
         sum(d::DOUBLE * value)::DOUBLE AS sxy
  FROM pts GROUP BY event_type)
SELECT event_type, n,
       round((n::DOUBLE * sxy - sx::DOUBLE * sy)
             / (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE), 6)
         AS slope,
       round((sy - ((n::DOUBLE * sxy - sx::DOUBLE * sy)
                    / (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE))
                   * sx::DOUBLE) / n::DOUBLE, 6) AS intercept
FROM s
"""


@register("a10_group_trend", _A10_SQL)
def a10_group_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type OLS drift rate (operators/quality.py::
    `group_trend`): slope/intercept of value over day index from one
    map-side-combinable sufficient-statistics aggregation — no window,
    no second pass; `snapshot_drift`'s quantitative companion."""
    from com_danliris_service_etl_spark.operators.quality import group_trend

    ev = _events(spark, sf_dir)
    pts = ev.select(
        "event_type",
        (F.col("ts_us") / F.lit(86400000000)).cast("long").alias("d"),
        "value",
    )
    return group_trend(pts, ["event_type"], "d", "value")


# ---------------------------------------------------------------------------
# A11 — per-group mode (most frequent value, deterministic tiebreak)
# ---------------------------------------------------------------------------

_A11_SQL = """
WITH c AS (
  SELECT c_nationkey, c_mktsegment, count(*)::BIGINT AS cnt
  FROM customer GROUP BY 1, 2
), r AS (
  SELECT *, row_number() OVER (
    PARTITION BY c_nationkey ORDER BY cnt DESC, c_mktsegment
  ) AS rn FROM c
)
SELECT c_nationkey, c_mktsegment AS modal_segment, cnt
FROM r WHERE rn = 1
"""


@register("a11_grouped_mode", _A11_SQL)
def a11_grouped_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modal market segment per nation — the per-group most-frequent-value
    aggregate (operators/windows.py `grouped_mode`) with the
    (count DESC, value ASC) total-order tiebreak both engines share."""
    return grouped_mode(
        _t(spark, sf_dir, "customer"),
        ["c_nationkey"],
        "c_mktsegment",
        out_col="modal_segment",
    )


# ---------------------------------------------------------------------------
# A12 — exact weighted median (quantity-weighted price per return flag)
# ---------------------------------------------------------------------------

_A12_SQL = """
WITH pw AS (
  SELECT l_returnflag, l_extendedprice AS v,
         sum(CAST(l_quantity AS BIGINT)) AS w
  FROM lineitem GROUP BY 1, 2
), cum AS (
  SELECT l_returnflag, v,
         sum(w) OVER (PARTITION BY l_returnflag ORDER BY v) AS cw,
         sum(w) OVER (PARTITION BY l_returnflag) AS tw
  FROM pw
)
SELECT l_returnflag, min(v) AS weighted_median
FROM cum WHERE 2 * cw >= tw GROUP BY 1
"""


@register("a12_weighted_median", _A12_SQL)
def a12_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median extended price per return flag
    (operators/quality.py `weighted_median_twophase`): exact two-phase
    distributed selection — per-bin integer cumulative weights find the
    crossing bin, one bounded re-scan finds the crossing value — with
    the binning grid fed from parquet zone-map stats (the sk6 pattern)
    so phase 1 costs footer reads, not a scan. Switched from the
    single-window form in r13 after the sf1 trail exposed its scale
    wall: 3 groups ⇒ the window sorts the WHOLE fact in 3 tasks
    (22× at sf1, 35 s at sf10 vs twophase+bounds 6 s; the small-scale
    −40% that once favored it is the toy-regime side of the trade).
    All crossing tests are exact BIGINT comparisons on either path, so
    the result is engine-identical to the oracle's pre-aggregated
    window form."""
    from com_danliris_service_etl_spark.operators.sketches import (
        parquet_column_bounds,
    )

    b = parquet_column_bounds(
        spark, f"{sf_dir}/lineitem.parquet", "l_extendedprice"
    )
    return weighted_median_twophase(
        _t(spark, sf_dir, "lineitem"),
        ["l_returnflag"],
        "l_extendedprice",
        "l_quantity",
        bounds=b,
    )


# ---------------------------------------------------------------------------
# A13 — ratio-to-report (within-group share of total)
# ---------------------------------------------------------------------------

_A13_SQL = """
WITH g AS (
  SELECT l_returnflag, l_linestatus,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS rev
  FROM lineitem GROUP BY 1, 2
)
SELECT l_returnflag, l_linestatus, rev,
       round(rev / sum(rev) OVER (PARTITION BY l_returnflag), 6) AS rev_share
FROM g
"""


@register("a13_ratio_to_report", _A13_SQL)
def a13_ratio_to_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share-of-total within a group (RATIO_TO_REPORT): revenue share of
    each line status within its return flag. The window runs over the
    ALREADY-AGGREGATED relation (one row per (flag, status)) — the
    share computation costs a shuffle of |groups| rows, never a second
    pass over the fact. Shares divide 2dp-rounded sums so both engines
    divide identical operands."""
    li = _t(spark, sf_dir, "lineitem")
    g = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "rev"
        )
    )
    w = Window.partitionBy("l_returnflag")
    return g.withColumn("rev_share", F.round(F.col("rev") / F.sum("rev").over(w), 6))


# ---------------------------------------------------------------------------
# A14 — TPC-H Q3 shipping priority (join + disjoint date bands + top-k)
# ---------------------------------------------------------------------------

_A14_SQL = """
SELECT l_orderkey,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       o_orderdate, o_orderpriority
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
"""


@register("a14_shipping_priority", _A14_SQL)
def a14_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (shipping priority): unshipped revenue of BUILDING-
    segment orders placed before a date, ranked. The plan the optimizer
    should produce and does: both date predicates reach their parquet
    scans (PushedFilters — lineitem rows shipped early never leave the
    scan), the segment-filtered customer key set broadcasts onto
    orders, that result broadcasts onto lineitem, one grouped aggregate,
    and TakeOrderedAndProject for the top-10 (per-partition top-k,
    never a global sort). Revenue is rounded 2dp on BOTH sides before
    the rank so the top-10 boundary is engine-deterministic, with
    (o_orderdate, l_orderkey) completing the total order."""
    cutoff = F.lit("1995-03-15 00:00:00").cast("timestamp")
    c = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    ).select("c_custkey")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff).select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff).select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    # the filtered-customer DIM broadcasts; the orders side does NOT (a
    # date-banded fact is still a fact at 1000x). The fact⋈fact edge is
    # hinted SHUFFLE_HASH (r14 stage breakdown, BASELINE.md): building a
    # per-partition hash of the smaller banded side beats sorting the
    # 58M-row probe (SMJ) at every measured scale (sf0.1 0.62→0.42 s,
    # sf10 2.6→2.3 s), and stays 100 TB-safe — the build is per
    # REDUCER partition (bounded by shuffle width, which scales with
    # the cluster), never a driver broadcast, and AQE skew-split still
    # applies to shuffled-hash since Spark 3.2.
    j = li.join(
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"]).hint(
            "shuffle_hash"
        ),
        li["l_orderkey"] == o["o_orderkey"],
    )
    return (
        j.groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# A15 — TPC-H Q5 shape: revenue by nation within a region
# ---------------------------------------------------------------------------

_A15_SQL = """
SELECT n_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*)::BIGINT AS n_lineitems
FROM region
JOIN nation ON n_regionkey = r_regionkey
JOIN customer ON c_nationkey = n_nationkey
JOIN orders ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1994-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
GROUP BY n_name
"""


@register("a15_region_revenue", _A15_SQL)
def a15_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: per-nation revenue within one region over a date
    band — the canonical star-join rollup. The dimension chain
    (region→nation→customer) collapses to ONE broadcast key set before
    touching facts; the date band is pushed to the orders scan; the
    only shuffle is the final 5-row aggregate. At 100 TB the identical
    plan holds: dims broadcast, facts join key-on-key with AQE picking
    the strategy."""
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    dims = (
        c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .join(F.broadcast(r), n["n_regionkey"] == r["r_regionkey"])
        .select("c_custkey", "n_name")
    )
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1994-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-01-01 00:00:00").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    # dims broadcast; the date-banded orders side does NOT (fact at
    # 1000x). Fact⋈fact edge hinted SHUFFLE_HASH — same r14 adjudication
    # as a14: per-reducer hash build of the banded side beats sorting
    # the unfiltered lineitem probe, at every scale, without a
    # fact-sized broadcast (BASELINE.md r14 stage breakdown).
    j = li.join(
        o.join(F.broadcast(dims), o["o_custkey"] == dims["c_custkey"]).hint(
            "shuffle_hash"
        ),
        li["l_orderkey"] == o["o_orderkey"],
    )
    return j.groupBy("n_name").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        ),
        F.count(F.lit(1)).alias("n_lineitems"),
    )


# ---------------------------------------------------------------------------
# A16 — correlated per-group average threshold (TPC-H Q17 shape)
# ---------------------------------------------------------------------------

_A16_SQL = """
SELECT round(sum(l_extendedprice) / 7.0, 2) AS yearly_loss,
       count(*)::BIGINT AS n_rows
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#23'
  AND l.l_quantity < (SELECT 0.5 * avg(l2.l_quantity)
                      FROM lineitem l2 WHERE l2.l_partkey = l.l_partkey)
"""


@register("a16_small_quantity_loss", _A16_SQL)
def a16_small_quantity_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue forgone on small-quantity orders of one brand (Q17 shape):
    the correlated per-part AVG subquery decorrelated into aggregate-
    then-join-back — the set-at-a-time form of the reference's N+1
    per-row lookups (SURVEY §2.3 J5 precedent).

    Scale shape: the brand filter broadcasts onto the lineitem scan
    FIRST, so the per-part average is computed over the ~0.05% of the
    fact that can matter; that per-part aggregate (bounded by the
    brand's part count, dimension-sized) broadcasts back onto the same
    slice. The slice is lazily checkpointed at the fork — it feeds both
    the aggregate and the probe, and without the checkpoint the
    scan+broadcast-join subtree runs once per reference. avg(l_quantity)
    is exact (integral values), so the 0.5*avg threshold cannot flip
    between engines. Single-row output: the final 1-row aggregate's
    Exchange SinglePartition is the bounded scalar-collapse class
    (PLAN_AUDIT allowlist)."""
    p = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_brand") == "Brand#23")
        .select("p_partkey")
    )
    li = (
        _t(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_quantity", "l_extendedprice")
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .select("l_partkey", "l_quantity", "l_extendedprice")
        .localCheckpoint(eager=False)
    )
    avg_q = li.groupBy(F.col("l_partkey").alias("ap_partkey")).agg(
        F.avg("l_quantity").alias("avg_qty")
    )
    small = li.join(
        F.broadcast(avg_q),
        (F.col("l_partkey") == F.col("ap_partkey"))
        & (F.col("l_quantity") < 0.5 * F.col("avg_qty")),
    )
    return small.agg(
        F.round(F.sum("l_extendedprice") / 7.0, 2).alias("yearly_loss"),
        F.count(F.lit(1)).alias("n_rows"),
    )


# ---------------------------------------------------------------------------
# A17 — aggregate-threshold semi-join chain (TPC-H Q18 shape)
# ---------------------------------------------------------------------------

_A17_SQL = """
SELECT c_name, c_custkey, o_orderkey, o_orderdate,
       round(o_totalprice, 2) AS total_price,
       CAST(sum(l_quantity) AS BIGINT) AS total_qty
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
HAVING sum(l_quantity) > 300
ORDER BY total_price DESC, o_orderkey
LIMIT 20
"""


@register("a17_large_orders", _A17_SQL)
def a17_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-volume orders and their customers (Q18 shape). The naive
    plan joins three tables THEN groups; the scale plan inverts it:
    aggregate lineitem by orderkey first (map-side combinable, the only
    fact-sized shuffle), filter to the >300-qty survivors (a few dozen
    rows per million orders), and broadcast the survivors down the
    orders→customer chain — the dimension joins never see the fact.
    Top-20 via TakeOrderedAndProject (per-partition top-k, no global
    sort). sum(l_quantity) is exact (integral), so the HAVING boundary
    and the BIGINT cast are engine-deterministic; o_totalprice is
    rounded 2dp on both sides before ranking, with o_orderkey completing
    the total order."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("qty_d"))
        .filter(F.col("qty_d") > 300)
    )
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    j = c.join(
        F.broadcast(
            o.join(F.broadcast(big), o["o_orderkey"] == big["l_orderkey"])
        ),
        F.col("c_custkey") == F.col("o_custkey"),
    )
    return (
        j.select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            F.round("o_totalprice", 2).alias("total_price"),
            F.col("qty_d").cast("bigint").alias("total_qty"),
        )
        .orderBy(F.col("total_price").desc(), "o_orderkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# A18 — HAVING against a global scalar (TPC-H Q11 shape)
# ---------------------------------------------------------------------------

_A18_SQL = """
WITH pr AS (
  SELECT l_partkey,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS part_revenue
  FROM lineitem GROUP BY l_partkey
),
tot AS (SELECT sum(part_revenue) AS t, count(*)::BIGINT AS n FROM pr)
SELECT l_partkey, part_revenue
FROM pr, tot
WHERE part_revenue > 1.5 * t / n
"""


@register("a18_revenue_share_filter", _A18_SQL)
def a18_revenue_share_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parts whose revenue exceeds 1.5× the mean part revenue (Q11
    HAVING-vs-global-scalar shape). The threshold is RELATIVE (mean-
    multiple, not a fixed fraction), so the query is scale-invariant:
    at 10× the parts the absolute threshold self-adjusts and the output
    stays ~the same percentile slice.

    Scale shape: one fact-sized shuffle builds the per-part rollup; the
    rollup is lazily checkpointed at the fork (it feeds both the 1-row
    total and the filter probe — without the checkpoint the fact
    aggregation runs twice); the 1-row total then broadcasts back via
    crossJoin. The scalar collapse is the PLAN_AUDIT-allowlisted
    Exchange SinglePartition class — it moves |parts| pre-aggregated
    rows, never fact rows."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_extendedprice", "l_discount"
    )
    pr = (
        li.groupBy("l_partkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("part_revenue")
        )
        .localCheckpoint(eager=False)
    )
    tot = pr.agg(
        F.sum("part_revenue").alias("t"), F.count(F.lit(1)).alias("n")
    )
    return (
        pr.crossJoin(F.broadcast(tot))
        .filter(F.col("part_revenue") > 1.5 * F.col("t") / F.col("n"))
        .select("l_partkey", "part_revenue")
    )


# ---------------------------------------------------------------------------
# A19 — scalar-subquery filter + anti-join (TPC-H Q22 shape)
# ---------------------------------------------------------------------------

_A19_SQL = """
WITH ab AS (SELECT avg(c_acctbal) AS avg_bal FROM customer WHERE c_acctbal > 0.0)
SELECT c_mktsegment,
       count(*)::BIGINT AS n_customers,
       round(sum(c_acctbal), 2) AS total_bal
FROM customer, ab
WHERE c_acctbal > avg_bal
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderpriority = '1-URGENT'
                    AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
GROUP BY c_mktsegment
"""


@register("a19_dormant_balances", _A19_SQL)
def a19_dormant_balances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Above-average-balance customers with no recent urgent order
    (Q22 shape): a scalar aggregate gates the probe side, then an
    anti-join removes the active ones, then a segment rollup. The
    scalar avg broadcasts via crossJoin (1 row); the anti-join's build
    side is pre-filtered AT THE ORDERS SCAN (priority + date pushed
    down) before its custkey projection shuffles. The avg subtree scans
    only the c_acctbal column (column pruning) — cheaper than a
    checkpoint of the 2-column probe at any scale."""
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_acctbal"
    )
    ab = c.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    recent_urgent = (
        _t(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderpriority") == "1-URGENT")
            & (
                F.col("o_orderdate")
                >= F.lit("1999-01-01 00:00:00").cast("timestamp")
            )
        )
        .select("o_custkey")
    )
    return (
        c.crossJoin(F.broadcast(ab))
        .filter(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent_urgent, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
    )


# ---------------------------------------------------------------------------
# A20 — conditional-share market share by year (TPC-H Q8 shape)
# ---------------------------------------------------------------------------

_A20_SQL = """
WITH j AS (
  SELECT year(o_orderdate)::BIGINT AS o_year,
         l_extendedprice * (1 - l_discount) AS vol,
         n1.n_name AS supp_nation
  FROM lineitem
  JOIN orders   ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n2 ON n2.n_nationkey = c_nationkey
  JOIN region   ON r_regionkey = n2.n_regionkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation n1 ON n1.n_nationkey = s_nationkey
  WHERE r_name = 'ASIA')
SELECT o_year, count(*)::BIGINT AS n_rows,
       round(sum(CASE WHEN supp_nation = 'NATION_3' THEN vol ELSE 0 END)
               / sum(vol), 6) AS mkt_share
FROM j GROUP BY o_year
"""


@register("a20_market_share", _A20_SQL)
def a20_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One nation's share of the revenue ASIA-region customers spend,
    per year (TPC-H Q8 shape) — the CONDITIONAL-SHARE aggregate: the
    numerator is a CASE inside the sum over the SAME rows as the
    denominator, so the share needs one aggregate, not two queries or a
    self-join. Region→nation→customer collapses to one broadcast key
    set before the facts join (the a15 star discipline); the supplier
    nation broadcasts separately for the CASE tag. One fact-fact join
    (lineitem⋈orders on orderkey), one bounded 7-row aggregate."""
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    cust_dims = (
        _t(spark, sf_dir, "customer")
        .join(
            F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey")
        )
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey")
    )
    supp_dims = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(n.select(F.col("n_nationkey").alias("snk"),
                                 F.col("n_name").alias("supp_nation"))),
            F.col("s_nationkey") == F.col("snk"),
        )
        .select("s_suppkey", "supp_nation")
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    # The orders⋈ASIA-customers relation is fact-sized (~20% of orders):
    # no explicit broadcast hint here — a hint would override
    # autoBroadcastJoinThreshold/AQE and OOM at fact scale. The
    # fact⋈fact orderkey edge is hinted SHUFFLE_HASH instead (r14
    # a14/a15 adjudication, BASELINE.md): per-reducer hash build of the
    # smaller side, no probe-side sort, no driver broadcast — the one
    # shuffle join this keeps at 100 TB is the j20 discipline.
    j = (
        li.join(
            o.join(
                F.broadcast(cust_dims),
                F.col("o_custkey") == F.col("c_custkey"),
            ).hint("shuffle_hash"),
            li["l_orderkey"] == o["o_orderkey"],
        )
        .join(F.broadcast(supp_dims), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            F.year("o_orderdate").cast("bigint").alias("o_year"),
            (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("vol"),
            "supp_nation",
        )
    )
    share = F.sum(
        F.when(F.col("supp_nation") == "NATION_3", F.col("vol")).otherwise(0.0)
    ) / F.sum("vol")
    return j.groupBy("o_year").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(share, 6).alias("mkt_share"),
    )


# ---------------------------------------------------------------------------
# A21 — scalar-max equality join (TPC-H Q15 shape)
# ---------------------------------------------------------------------------

_A21_SQL = """
WITH rev AS (
  SELECT l_suppkey,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1996-04-01 00:00:00'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, total_rev
FROM supplier JOIN rev ON s_suppkey = l_suppkey
WHERE total_rev = (SELECT max(total_rev) FROM rev)
"""


@register("a21_top_supplier", _A21_SQL)
def a21_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The supplier(s) with the maximum quarterly revenue (TPC-H Q15
    shape) — the scalar-MAX EQUALITY join: unlike a top-1 LIMIT, ties
    are all returned, so the scalar subquery is the correct formulation
    and ``orderBy().limit(1)`` would be WRONG under ties. Revenue is
    rounded 2dp on both sides BEFORE both the max and the equality, so
    the tie set itself is engine-deterministic (raw float sums would
    make 'equality with the max' a ulp lottery).

    Scale shape: one map-side-combinable fact rollup (date band pushed
    to the scan), lazily checkpointed at the fork (it feeds the 1-row
    max and the equality probe); the max broadcasts back via crossJoin
    (the allowlisted scalar-collapse class); the supplier dim broadcasts
    onto the |ties|-sized result."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
        )
        .select("l_suppkey", "l_extendedprice", "l_discount")
    )
    rev = (
        li.groupBy("l_suppkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("total_rev")
        )
        .localCheckpoint(eager=False)
    )
    mx = rev.agg(F.max("total_rev").alias("__mx"))
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_rev") == F.col("__mx"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_rev")
    )


# ---------------------------------------------------------------------------
# A22 — contribution analysis (period-over-period change decomposition)
# ---------------------------------------------------------------------------

_A22_SQL = """
WITH seg AS (
  SELECT c_mktsegment,
         round(sum(CASE WHEN o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
                         AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
                        THEN o_totalprice ELSE 0 END), 2) AS cur_revenue,
         round(sum(CASE WHEN o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
                         AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
                        THEN o_totalprice ELSE 0 END), 2) AS prev_revenue
  FROM orders JOIN customer ON c_custkey = o_custkey
  WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
    AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
  GROUP BY c_mktsegment)
SELECT c_mktsegment, cur_revenue, prev_revenue,
       round(cur_revenue - prev_revenue, 2) AS delta,
       round((cur_revenue - prev_revenue)
               / sum(cur_revenue - prev_revenue) OVER (), 6)
         AS contribution_share
FROM seg
"""


@register("a22_contribution_analysis", _A22_SQL)
def a22_contribution_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which segments drove the year-over-year revenue change —
    CONTRIBUTION ANALYSIS, the decomposition behind every 'why did the
    metric move' dashboard: both periods aggregate in ONE pass
    (CASE-in-sum per period — never two queries diffed in the client),
    and each segment's share of the total delta is a window over the
    |segments|-row aggregate.

    Scale shape: the union of the two period bands is pushed to the
    orders scan (rows outside either period never leave it); the
    customer dim broadcasts; one fact shuffle for the segment rollup;
    the share window runs over a dimension-sized relation. Period sums
    are rounded 2dp before the delta and the share is rounded 6dp, so
    the cross-engine comparison is deterministic."""
    band_lo = F.lit("1996-01-01 00:00:00").cast("timestamp")
    band_mid = F.lit("1997-01-01 00:00:00").cast("timestamp")
    band_hi = F.lit("1998-01-01 00:00:00").cast("timestamp")
    o = (
        _t(spark, sf_dir, "orders")
        .filter((F.col("o_orderdate") >= band_lo) & (F.col("o_orderdate") < band_hi))
        .select("o_custkey", "o_orderdate", "o_totalprice")
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    cur = F.when(F.col("o_orderdate") >= band_mid, F.col("o_totalprice")).otherwise(0.0)
    prev = F.when(F.col("o_orderdate") < band_mid, F.col("o_totalprice")).otherwise(0.0)
    seg = (
        o.join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(
            F.round(F.sum(cur), 2).alias("cur_revenue"),
            F.round(F.sum(prev), 2).alias("prev_revenue"),
        )
    )
    delta = F.col("cur_revenue") - F.col("prev_revenue")
    return seg.select(
        "c_mktsegment",
        "cur_revenue",
        "prev_revenue",
        F.round(delta, 2).alias("delta"),
        F.round(delta / F.sum(delta).over(Window.partitionBy()), 6).alias(
            "contribution_share"
        ),
    )


# ---------------------------------------------------------------------------
# A23 — returned-item revenue report (TPC-H Q10 shape)
# ---------------------------------------------------------------------------

_A23_SQL = """
WITH rev AS (
  SELECT o_custkey,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
         count(*)::BIGINT AS n_items
  FROM lineitem
  JOIN orders ON o_orderkey = l_orderkey
  WHERE l_returnflag = 'R'
    AND o_orderdate >= TIMESTAMP '1995-10-01 00:00:00'
    AND o_orderdate <  TIMESTAMP '1996-01-01 00:00:00'
  GROUP BY o_custkey)
SELECT c_custkey, c_name, n_name, revenue,
       round(c_acctbal, 2) AS acctbal, n_items
FROM rev
JOIN customer ON c_custkey = o_custkey
JOIN nation   ON n_nationkey = c_nationkey
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


@register("a23_returned_items", _A23_SQL)
def a23_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 customers by revenue lost to returned items in one quarter
    (TPC-H Q10 shape) — the returned-items report panel.

    Scale shape: the returnflag filter and the 4-column projection push
    to the lineitem scan; the quarter band pushes to the orders scan.
    ONE fact-fact shuffle join (lineitem ⋈ orders on orderkey), then the
    aggregate collapses to per-customer grain BEFORE any dimension
    joins — the customer join probes with |active customers in the
    quarter| rows, not the fact. Customer is the fact-sized-dimension
    class (a20 discipline): no explicit broadcast hint — AQE broadcasts
    it at fixture scale and shuffles at 100 TB; nation broadcasts
    unconditionally. The top-20 is TakeOrderedAndProject (bounded
    driver-side), totally ordered by (revenue 2dp DESC, c_custkey)."""
    band_lo = F.lit("1995-10-01 00:00:00").cast("timestamp")
    band_hi = F.lit("1996-01-01 00:00:00").cast("timestamp")
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    o = (
        _t(spark, sf_dir, "orders")
        .filter((F.col("o_orderdate") >= band_lo) & (F.col("o_orderdate") < band_hi))
        .select("o_orderkey", "o_custkey")
    )
    rev = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("o_custkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal"
    )
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        rev.join(c, rev["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .select(
            "c_custkey",
            "c_name",
            "n_name",
            "revenue",
            F.round("c_acctbal", 2).alias("acctbal"),
            "n_items",
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )
