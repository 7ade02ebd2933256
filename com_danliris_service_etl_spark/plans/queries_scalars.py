"""Scalar-function registry queries: dates (d, SURVEY.md §2.9 D1-D8 plus
business-day and ISO-week calendars), math, buckets and categories (m,
§2.11 M1-M10), strings (t, §2.10 T1-T5) and JSON extraction (x), each
oracle-checked.

All of these are pure Catalyst column expressions — no UDFs — so at 100 TB
they run inside whole-stage codegen over the parquet scan with no extra
shuffle (narrow transformations only).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from com_danliris_service_etl_spark.functions import (
    bucket_days_month,
    bucket_days_week,
    category_bahan_baku,
    category_garment,
    clamp_min_date,
    day_diff,
    epoch_millis_time_of_day,
    fmt_date,
    fmt_datetime,
    nan_guard,
    on_time_status,
    quote_sanitize,
    reconstruct_timestamp,
    repair_year_typos,
    to_jakarta,
    truncate,
    uom_to_meter,
)
from com_danliris_service_etl_spark.functions.dates import business_day_prefix
from com_danliris_service_etl_spark.plans.registry import _events, _t, register


@register(
    "d1_d3_d4_date_arithmetic",
    """
    SELECT l.l_orderkey, l.l_linenumber,
           date_diff('day', CAST(o.o_orderdate AS DATE), CAST(l.l_shipdate AS DATE))
             AS days_to_ship,
           strftime(l.l_shipdate + INTERVAL 7 HOUR, '%Y-%m-%d') AS ship_date_jkt,
           strftime(o.o_orderdate, '%Y-%m-%d %H:%M:%S') AS order_dt_str
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    """,
)
def d1_d3_d4_date_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1 day-diff (`Pembelian/run.js:206-214`), D3 +7h Jakarta shift
    (`Pembelian/run.js:218`), D4 formats.

    r14: two `date_format` string renders per output row are the cost
    (timezone-aware formatting, ~1µs each × 600k rows at sf0.1); the
    one-row-group fixture scans as one partition, so the render ran on a
    single core. Conditional `spread` after the read parallelizes it and
    passes a well-split production scan through untouched (guide §2.5)."""
    from com_danliris_service_etl_spark.operators.partitioning import spread

    li = spread(
        _t(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_linenumber", "l_shipdate"
        )
    )
    o = _t(spark, sf_dir, "orders")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            "l_orderkey",
            "l_linenumber",
            day_diff("l_shipdate", "o_orderdate").alias("days_to_ship"),
            fmt_date(to_jakarta("l_shipdate")).alias("ship_date_jkt"),
            fmt_datetime("o_orderdate").alias("order_dt_str"),
        )
    )


EPOCH_US_2024_01_01 = 1_704_067_200_000_000


@register(
    "d2_m3_durations",
    """
    SELECT event_id,
           (epoch_us(ts) - 1704067200000000) / 60000000.0 AS mins_since_jan1,
           (epoch_us(ts) - 1704067200000000) / 3600000000.0 AS hours_since_jan1
    FROM events
    """,
)
def d2_m3_durations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2 minute-difference (`MonitoringEvent/run.js:232`) and M3 minutes→
    hours (`MonitoringEvent/run.js:65-67`), computed on the epoch-micros
    representation both engines share exactly."""
    ev = _events(spark, sf_dir)
    base = F.col("ts_us") - F.lit(EPOCH_US_2024_01_01)
    return ev.select(
        "event_id",
        (base / F.lit(60_000_000.0)).alias("mins_since_jan1"),
        (base / F.lit(3_600_000_000.0)).alias("hours_since_jan1"),
    )


@register(
    "d5_d8_timestamp_reconstruct",
    """
    SELECT event_id,
           strftime(epoch_ms(CAST(floor(value * 1000) AS BIGINT)), '%H:%M:%S')
             AS time_of_day,
           strptime(strftime(ts, '%Y-%m-%d') || ' ' ||
                    strftime(epoch_ms(CAST(floor(value * 1000) AS BIGINT)), '%H:%M:%S'),
                    '%Y-%m-%d %H:%M:%S') AS reconstructed
    FROM events
    """,
)
def d5_d8_timestamp_reconstruct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D8 epoch-millis → time-of-day and D5 date+time reconstruction
    (`MonitoringEvent/run.js:225-240`); `value` stands in for the
    reference's timeInMilisStart column (floor() on both sides — DuckDB
    CAST rounds while Spark CAST truncates)."""
    ev = _events(spark, sf_dir)
    ms = F.floor(F.col("value") * 1000).cast("long")
    return ev.select(
        "event_id",
        epoch_millis_time_of_day(ms).alias("time_of_day"),
        reconstruct_timestamp(F.col("ts_utc"), ms).alias("reconstructed"),
    )


@register(
    "d6_min_date_clamp",
    """
    WITH synth AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 5 = 0
                  THEN make_timestamp(1700, CAST(month(o_orderdate) AS BIGINT),
                                      CAST(least(day(o_orderdate), 28) AS BIGINT), 0, 0, 0.0)
                  ELSE o_orderdate END AS d
      FROM orders)
    SELECT o_orderkey,
           CASE WHEN d < TIMESTAMP '1753-01-01'
                THEN CAST(make_date(CAST(year(current_date) AS BIGINT),
                                    CAST(month(d) AS BIGINT),
                                    CAST(day(d) AS BIGINT)) AS TIMESTAMP)
                ELSE d END AS clamped
    FROM synth
    """,
)
def d6_min_date_clamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D6 — SQL Server min-date clamp (`Pembelian/run.js:108-118`): every
    5th order gets a synthetic year-1700 date, which the clamp repairs to
    the current year (month/day preserved, capped at 28 for validity)."""
    o = _t(spark, sf_dir, "orders")
    synth = F.when(
        F.col("o_orderkey") % 5 == 0,
        F.make_timestamp(
            F.lit(1700),
            F.month("o_orderdate"),
            F.least(F.dayofmonth("o_orderdate"), F.lit(28)),
            F.lit(0),
            F.lit(0),
            F.lit(0),
        ),
    ).otherwise(F.col("o_orderdate"))
    return o.select("o_orderkey", clamp_min_date(synth).alias("clamped"))


@register(
    "d7_year_repair",
    """
    WITH corrupted AS (
      SELECT o_orderkey,
             '00' || substring(strftime(o_orderdate, '%Y-%m-%d'), 3) AS bad_date
      FROM orders)
    SELECT o_orderkey, bad_date,
           regexp_replace(bad_date, '^00(\\d{2})', '19\\1') AS repaired
    FROM corrupted
    """,
)
def d7_year_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D7 — century-typo repair on formatted dates (`Pembelian/run.js:311`
    chains `.replace("/0017","/2017")`; generalized to an anchored regex)."""
    o = _t(spark, sf_dir, "orders")
    bad = F.concat(F.lit("00"), F.substring(fmt_date(F.col("o_orderdate")), 3, 8))
    return o.select(
        "o_orderkey",
        bad.alias("bad_date"),
        repair_year_typos(bad, century="19").alias("repaired"),
    )


# ---------------------------------------------------------------------------
# D9 — business-day (Mon-Fri) latency profile
# ---------------------------------------------------------------------------

_D9_SQL = """
WITH j AS (
  SELECT o_orderpriority,
         (CAST(o_orderdate AS DATE) - DATE '1970-01-05') AS od,
         (CAST(l_shipdate AS DATE) - DATE '1970-01-05') AS sd
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
), b AS (
  SELECT o_orderpriority,
         (5 * (sd // 7) + least(sd % 7, 5))
       - (5 * (od // 7) + least(od % 7, 5)) AS bd
  FROM j
)
SELECT o_orderpriority, count(*)::BIGINT AS n,
       CAST(sum(bd) AS BIGINT) AS total_bd,
       round(avg(bd), 4) AS avg_bd,
       CAST(min(bd) AS BIGINT) AS min_bd,
       CAST(max(bd) AS BIGINT) AS max_bd
FROM b GROUP BY 1
"""


@register("d9_business_days", _D9_SQL)
def d9_business_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order→ship latency in BUSINESS days per order priority
    (functions/dates.py `business_days_between`): the closed-form
    Monday-anchored prefix count — exact integer arithmetic inside
    whole-stage codegen, no calendar UDF, no per-day explode. Oracle
    mirrors the identical formula, so the parity check pins the
    arithmetic itself. Each side's prefix is projected BEFORE the join
    (fn/dates.py `business_day_prefix`): the build side carries one
    long instead of a timestamp and the date arithmetic runs once per
    source row, not once per joined row — measured −22% vs the
    join-then-compute form at sf0.1. NO broadcast hint (r13): orders
    is a FACT, not a dim — at sf0.1 the auto-broadcast threshold picks
    the same broadcast plan anyway, while at sf10 the forced 15M-row
    broadcast build measured 8.8 s vs 3.4 s letting AQE choose the
    shuffled join; hint only what stays dimension-sized at 1000×."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        business_day_prefix("o_orderdate").alias("po"),
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", business_day_prefix("l_shipdate").alias("ps")
    )
    j = li.join(o, li["l_orderkey"] == o["o_orderkey"]).withColumn(
        "bd", F.col("ps") - F.col("po")
    )
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("bd").alias("total_bd"),
        F.round(F.avg("bd"), 4).alias("avg_bd"),
        F.min("bd").alias("min_bd"),
        F.max("bd").alias("max_bd"),
    )


# ---------------------------------------------------------------------------
# D10 — ISO-8601 week rollup
# ---------------------------------------------------------------------------

_D10_SQL = """
SELECT CAST(isoyear(o_orderdate) AS INT) AS iso_year,
       CAST(week(o_orderdate) AS INT) AS iso_week,
       count(*)::BIGINT AS n_orders,
       round(sum(o_totalprice), 2) AS revenue
FROM orders GROUP BY 1, 2
"""


@register("d10_iso_week", _D10_SQL)
def d10_iso_week(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by ISO-8601 week — the fiscal-reporting calendar where
    the week-year differs from the calendar year at boundaries (Jan 1
    can land in week 52/53 OF THE PRIOR week-year; grouping by
    (year(d), weekofyear(d)) instead silently merges those weeks across
    years). Spark's weekofyear/YEAROFWEEK and DuckDB's week/isoyear
    both implement ISO-8601, making this an exact-parity calendar
    query; one map-side-combinable aggregate."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy(
        F.expr("extract(YEAROFWEEK FROM o_orderdate)").cast("int").alias("iso_year"),
        F.weekofyear("o_orderdate").cast("int").alias("iso_week"),
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )


@register(
    "m1_m2_m9_math_scalars",
    """
    SELECT l_orderkey, l_linenumber,
           l_quantity * l_extendedprice * (1 + l_tax) AS amount,
           CASE WHEN lower(CASE l_partkey % 3 WHEN 0 THEN 'YARD'
                                              WHEN 1 THEN 'yds'
                                              ELSE 'MTR' END) IN ('yard', 'yds')
                THEN l_quantity * 0.9144 ELSE l_quantity END AS qty_meter,
           coalesce(CASE WHEN l_returnflag = 'A' THEN l_tax END, 0.0) AS tax_guarded
    FROM lineitem
    """,
)
def m1_m2_m9_math_scalars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1 money arithmetic (`Pembelian/run.js:256`), M2 yard→meter
    conversion (`SpinningSC/run.js:86-94`), M9 NaN/null→0 guard
    (`GarmentPembelian/run.js:635`)."""
    li = _t(spark, sf_dir, "lineitem")
    uom = (
        F.when(F.col("l_partkey") % 3 == 0, F.lit("YARD"))
        .when(F.col("l_partkey") % 3 == 1, F.lit("yds"))
        .otherwise(F.lit("MTR"))
    )
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_quantity") * F.col("l_extendedprice") * (1 + F.col("l_tax"))).alias("amount"),
        uom_to_meter(F.col("l_quantity"), uom).alias("qty_meter"),
        nan_guard(F.when(F.col("l_returnflag") == "A", F.col("l_tax"))).alias("tax_guarded"),
    )


@register(
    "m4_m8_buckets_status",
    """
    WITH j AS (
      SELECT l.l_orderkey, l.l_linenumber, l.l_shipdate, o.o_orderdate,
             date_diff('day', CAST(o.o_orderdate AS DATE), CAST(l.l_shipdate AS DATE)) AS d
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey)
    SELECT l_orderkey, l_linenumber,
           CASE WHEN d <= 7 THEN '0-7 hari'
                WHEN d BETWEEN 8 AND 14 THEN '8-14 hari'
                WHEN d BETWEEN 15 AND 30 THEN '15-30 hari'
                WHEN d > 30 THEN '>30 hari' END AS bucket_week,
           CASE WHEN d <= 30 THEN '0-30 hari'
                WHEN d BETWEEN 31 AND 60 THEN '31-60 hari'
                WHEN d BETWEEN 61 AND 90 THEN '61-90 hari'
                ELSE '>90 hari' END AS bucket_month,
           CASE WHEN date_diff('day', CAST(o_orderdate + INTERVAL 90 DAY AS DATE),
                               CAST(l_shipdate AS DATE)) <= 0
                THEN 'Tepat Waktu' ELSE 'Tidak Tepat Waktu' END AS ontime
    FROM j
    """,
)
def m4_m8_buckets_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4/M5 day-range bucketing (`Pembelian/run.js:65-87`) and M8 on-time
    status (`Pembelian/run.js:97-106`) over ship-vs-order-date gaps."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    j = li.join(o, li.l_orderkey == o.o_orderkey)
    d = day_diff("l_shipdate", "o_orderdate")
    return j.select(
        "l_orderkey",
        "l_linenumber",
        bucket_days_week(d).alias("bucket_week"),
        bucket_days_month(d).alias("bucket_month"),
        on_time_status(
            F.col("l_shipdate"), F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
        ).alias("ontime"),
    )


@register(
    "m6_m7_categories",
    """
    SELECT p_partkey,
           CASE WHEN upper(CASE WHEN p_partkey % 4 = 0 THEN 'BAHAN BAKU' ELSE p_type END)
                     = 'BAHAN BAKU'
                THEN 'BAHAN BAKU' ELSE 'NON BAHAN BAKU' END AS category_purchasing,
           CASE WHEN lower(CASE p_partkey % 8
                           WHEN 0 THEN 'fab' WHEN 1 THEN 'EMB' WHEN 2 THEN 'wsh'
                           WHEN 3 THEN 'pls' WHEN 4 THEN 'prn' WHEN 5 THEN 'tes'
                           WHEN 6 THEN 'qlt' ELSE 'oth' END) = 'fab' THEN 'Bahan Baku'
                WHEN lower(CASE p_partkey % 8
                           WHEN 0 THEN 'fab' WHEN 1 THEN 'EMB' WHEN 2 THEN 'wsh'
                           WHEN 3 THEN 'pls' WHEN 4 THEN 'prn' WHEN 5 THEN 'tes'
                           WHEN 6 THEN 'qlt' ELSE 'oth' END)
                     IN ('emb','wsh','pls','prn','tes','qlt') THEN 'Jasa'
                ELSE 'Accessories' END AS category_garment
    FROM part
    """,
)
def m6_m7_categories(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M6 purchasing category (`Pembelian/run.js:89-95`) and M7 garment
    category mapping (`GarmentPembelian/run.js:567-577`) over synthesized
    category codes."""
    p = _t(spark, sf_dir, "part")
    cat_name = F.when(F.col("p_partkey") % 4 == 0, F.lit("BAHAN BAKU")).otherwise(
        F.col("p_type")
    )
    code_map = ["fab", "EMB", "wsh", "pls", "prn", "tes", "qlt", "oth"]
    code = F.col("p_partkey") % 8
    garment_code = F.lit(None)
    expr = None
    for i, c in enumerate(code_map):
        expr = F.when(code == i, F.lit(c)) if expr is None else expr.when(code == i, F.lit(c))
    garment_code = expr
    return p.select(
        "p_partkey",
        category_bahan_baku(cat_name).alias("category_purchasing"),
        category_garment(garment_code).alias("category_garment"),
    )


@register(
    "t1_t5_string_scalars",
    """
    SELECT doc_id,
           replace('it''s ' || lang, '''', '"')     AS sanitized,
           substring(text, 1, 30)                   AS truncated,
           lower(source)                            AS source_lower,
           CAST(doc_id AS VARCHAR)                  AS doc_id_str,
           nullif(lang, 'en') || ' ' || source      AS lang_source
    FROM documents
    """,
)
def t1_t5_string_scalars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1 quote sanitization (`Pembelian/run.js:230`), T2 truncation
    (`DailyOperation/run.js:160-201`), T3 null-propagating concat
    (`SpinningSC/run.js:96-102`), T4 lower, T5 toString coercion."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        quote_sanitize(F.concat(F.lit("it's "), F.col("lang"))).alias("sanitized"),
        truncate(F.col("text"), 30).alias("truncated"),
        F.lower(F.col("source")).alias("source_lower"),
        F.col("doc_id").cast("string").alias("doc_id_str"),
        F.concat(F.nullif(F.col("lang"), F.lit("en")), F.lit(" "), F.col("source")).alias(
            "lang_source"
        ),
    )


@register(
    "x1_json_extract",
    """
    SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
    FROM events
    """,
)
def x1_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extension (S3 Mongo-document shape): JSON property extraction from a
    string column — `get_json_object`, JVM-side."""
    ev = _events(spark, sf_dir)
    return ev.select(
        "event_id", F.get_json_object("props", "$.k").cast("long").alias("k_val")
    )
