"""Relational registry queries: projections and predicates (p); ordered
extraction, top-n, pagination, Z-order keys, systematic sampling and
rendezvous routing (o); unions, INTERSECT/EXCEPT and unpivot (u); and
nested-document explodes (e) — SURVEY.md §2.2-§2.3, §2.7-§2.8.

Each query pairs an idiomatic Spark plan with a DuckDB oracle over the
driver's parquet tables (TESTDATA.md).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from com_danliris_service_etl_spark.functions import null_guard
from com_danliris_service_etl_spark.operators.explode import (
    explode_inner,
    explode_left,
    nest_children,
)
from com_danliris_service_etl_spark.plans.registry import _events, _t, register


# ---------------------------------------------------------------------------
# Projections / filters / predicates (SURVEY §2.2)
# ---------------------------------------------------------------------------


@register(
    "p1_projection_alias",
    """
    SELECT l_orderkey AS okey, l_linenumber AS line_no,
           l_extendedprice * (1 - l_discount) AS net_price
    FROM lineitem
    """,
)
def p1_projection_alias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 — explicit column projection with aliasing (`Pembelian/run.js:125-164`).
    Catalyst prunes the parquet ReadSchema to the three referenced columns."""
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        F.col("l_orderkey").alias("okey"),
        F.col("l_linenumber").alias("line_no"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("net_price"),
    )


@register(
    "p2_incremental_watermark",
    """
    SELECT o_orderkey, o_orderdate, o_totalprice
    FROM orders WHERE o_orderdate > TIMESTAMP '1996-06-30'
    """,
)
def p2_incremental_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2/S4 — watermark predicate `lastmodifiedutc > :wm`
    (`Pembelian/run.js:166`). Pushed to the parquet scan (min/max skipping);
    on a date-partitioned 100 TB fact this is partition pruning."""
    return (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") > F.lit("1996-06-30").cast("timestamp"))
        .select("o_orderkey", "o_orderdate", "o_totalprice")
    )


# ---------------------------------------------------------------------------
# Predicates (SURVEY §2.2)
# ---------------------------------------------------------------------------


@register(
    "p3_soft_delete",
    """
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM lineitem WHERE NOT (l_returnflag = 'R')
    """,
)
def p3_soft_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3 — soft-delete filter `isdeleted = 0` (`Pembelian/run.js:166`,
    `ProductionOrderStatus/run.js:113`), emulated on the returnflag column.
    A boolean/flag equality pushes to the parquet scan (dictionary filter)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(~(F.col("l_returnflag") == "R")).select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )


@register(
    "p4_exclusion_filter",
    """
    SELECT c_custkey, c_name, c_mktsegment FROM customer
    WHERE c_mktsegment NOT IN ('AUTOMOBILE', 'MACHINERY')
    """,
)
def p4_exclusion_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 — `createdby not in ('dev','unit-test')` exclusion
    (`Pembelian/run.js:166-167`) over the test-data segment column."""
    c = _t(spark, sf_dir, "customer")
    return c.filter(~F.col("c_mktsegment").isin("AUTOMOBILE", "MACHINERY")).select(
        "c_custkey", "c_name", "c_mktsegment"
    )


@register(
    "p5_not_null",
    """
    SELECT event_id, nullif(props, '{}') AS props_nn
    FROM events WHERE nullif(props, '{}') IS NOT NULL
    """,
)
def p5_not_null(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 — `input is not null` (`ProductionOrderStatus/run.js:175`). The
    test tables carry no physical NULLs, so empty-JSON props are nulled
    first (`nullif`), then the IsNotNull predicate — which Catalyst still
    pushes below the projection."""
    ev = _t(spark, sf_dir, "events")
    props_nn = F.nullif(F.col("props"), F.lit("{}"))
    return (
        ev.select(F.col("event_id"), props_nn.alias("props_nn"))
        .filter(F.col("props_nn").isNotNull())
    )


@register(
    "p6_semi_join",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
)
def p6_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6 — the reference ships parent-id IN-lists to child queries
    (`GarmentPembelian/run.js:327`); Spark plans it as a left-semi join —
    at scale this becomes a runtime (bloom/DPP) filter, no id plumbing."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return c.join(o, "c_custkey", "left_semi").select("c_custkey", "c_name")


@register(
    "p7_empty_string_guard",
    """
    SELECT doc_id,
           CASE WHEN length(trim(text)) > 0 THEN lang END AS lang_checked,
           n_chars
    FROM documents
    """,
)
def p7_empty_string_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7 — `x && x !== ''` guard (`FabricQC/run.js:126-166`)."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        null_guard(F.length(F.trim(F.col("text"))) > 0, F.col("lang")).alias("lang_checked"),
        "n_chars",
    )


@register(
    "p8_falsy_zero",
    """
    SELECT event_id,
           CASE WHEN v IS NULL OR v = 0 THEN 0 ELSE v END AS value_filled
    FROM (SELECT event_id, nullif(round(value, 0), 0) AS v FROM events)
    """,
)
def p8_falsy_zero(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8 — JS-truthiness zero coalescing `x ? x : 0`
    (`Packing/run.js:151-153`): NULL and numeric 0 both collapse to 0.
    Derives a null-or-zero column first (the fixtures have neither), then
    applies the literal falsy semantics SURVEY §2.2 P8 documents."""
    ev = _t(spark, sf_dir, "events")
    v = F.nullif(F.round(F.col("value"), 0), F.lit(0.0))
    filled = F.when(v.isNull() | (v == 0), F.lit(0.0)).otherwise(v)
    return ev.select(F.col("event_id"), filled.alias("value_filled"))


# ---------------------------------------------------------------------------
# P9 — disjunctive multi-band predicate (TPC-H Q19 shape)
# ---------------------------------------------------------------------------

_P9_SQL = """
SELECT count(*)::BIGINT AS n_rows,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 20 AND 30)
"""


@register("p9_disjunctive_bands", _P9_SQL)
def p9_disjunctive_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue under an OR of three (brand, size, quantity) conjunction
    bands (TPC-H Q19 shape) — the predicate-pushdown stress case: the
    disjunction spans BOTH relations, so no complete filter can push to
    either scan as written. The scale discipline is to push the
    single-relation WEAKENINGS by hand: the part scan gets
    `brand IN (...) AND size BETWEEN 1 AND 15` (the union of the part
    halves), the lineitem scan gets `quantity BETWEEN 1 AND 30` (the
    union of the quantity halves) — each a superset of its side of every
    band, so results are identical while both scans skip the bulk of the
    fact before the broadcast join; the exact 3-band OR evaluates as the
    join's residual. Single-row output: the bounded scalar-collapse
    class (PLAN_AUDIT allowlist)."""
    p = (
        _t(spark, sf_dir, "part")
        .filter(
            F.col("p_brand").isin("Brand#12", "Brand#23", "Brand#34")
            & F.col("p_size").between(1, 15)
        )
        .select("p_partkey", "p_brand", "p_size")
    )
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity").between(1, 30))
        .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    )
    band = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .filter(band)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# Ordered extraction (SURVEY §2.6 O1/O2)
# ---------------------------------------------------------------------------


@register(
    "o1_o2_ordered_extract",
    """
    SELECT s_suppkey, s_name, s_acctbal FROM supplier
    ORDER BY s_acctbal DESC, s_suppkey LIMIT 100
    """,
)
def o1_o2_ordered_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1/O2 — ORDER BY in extraction (`DailyOperation/run.js:107`) and the
    descending in-memory sort (`GarmentTotalHutang/run.js:124`), made
    observable through a LIMIT. Spark plans TakeOrderedAndProject: per-
    partition top-N, then a driver merge of N×partitions rows — no global
    sort at any scale."""
    s = _t(spark, sf_dir, "supplier")
    return (
        s.orderBy(F.col("s_acctbal").desc(), F.col("s_suppkey"))
        .limit(100)
        .select("s_suppkey", "s_name", "s_acctbal")
    )


# ---------------------------------------------------------------------------
# Sorts / limits / set ops (SURVEY §2.6, §2.7)
# ---------------------------------------------------------------------------


@register(
    "o3_top_n",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
)
def o3_top_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3 — TOP(N) with total-order tiebreak (`Pembelian/run.js:44`).
    Spark plans this as TakeOrderedAndProject — per-partition top-N then a
    driver-side merge of N×partitions rows, no global sort."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_totalprice")
    )


@register(
    "o4_offset_fetch",
    """
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    ORDER BY o_orderkey OFFSET 900 LIMIT 50
    """,
)
def o4_offset_fetch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O4 — OFFSET/FETCH pagination (`FabricQC/run.js:75-77`). Kept for
    parity; at scale the engine replaces it with partitioned reads."""
    o = _t(spark, sf_dir, "orders")
    return o.orderBy("o_orderkey").offset(900).limit(50).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )


# ---------------------------------------------------------------------------
# o5: Z-order (Morton) clustering key — the layout primitive behind
#     multi-dimensional data skipping (write_zordered uses it verbatim)
# ---------------------------------------------------------------------------

_O5_BITS = 8


def _zorder_sql(bits: int = _O5_BITS) -> str:
    nb = float(1 << bits)
    terms = " + ".join(
        f"((bx >> {i}) & 1) * {1 << (2 * i + 1)} + ((by >> {i}) & 1) * {1 << (2 * i)}"
        for i in range(bits)
    )
    return f"""
    WITH mm AS (SELECT min(n_chars)::DOUBLE AS minx, max(n_chars)::DOUBLE AS maxx,
                       min(doc_id)::DOUBLE AS miny, max(doc_id)::DOUBLE AS maxy
                FROM documents),
    b AS (SELECT doc_id,
                 least(CAST(floor(CASE WHEN maxx > minx
                        THEN (n_chars::DOUBLE - minx) / (maxx - minx)
                        ELSE 0.0 END * {nb}) AS BIGINT), {int(nb) - 1}) AS bx,
                 least(CAST(floor(CASE WHEN maxy > miny
                        THEN (doc_id::DOUBLE - miny) / (maxy - miny)
                        ELSE 0.0 END * {nb}) AS BIGINT), {int(nb) - 1}) AS by
          FROM documents, mm)
    SELECT doc_id, bx, by, CAST({terms} AS BIGINT) AS zvalue FROM b
    """


@register("o5_zorder_key", _zorder_sql())
def o5_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton/Z-order clustering key over (n_chars, doc_id)
    (`operators/maintenance.py::zorder_value`): linear min/max bucketing
    per dimension from ONE broadcast 1-row aggregate (never a per-dim
    sort), bit-interleaved with pure integer arithmetic. The oracle
    repeats the arithmetic with identical operand order, so IEEE-correct
    rounding makes the doubles — and hence every bucket and z-value —
    bit-identical across engines. `write_zordered` range-partitions and
    sorts on this key; the file-span shrink is measured from real
    footers in tests/test_maintenance.py."""
    from com_danliris_service_etl_spark.operators.maintenance import zorder_value

    return zorder_value(
        _t(spark, sf_dir, "documents").select("doc_id", "n_chars"),
        "n_chars",
        "doc_id",
        bits=_O5_BITS,
    ).select("doc_id", F.col("__bx").alias("bx"), F.col("__by").alias("by"), "zvalue")


# ---------------------------------------------------------------------------
# O6 — keyset (seek-method) pagination
# ---------------------------------------------------------------------------

_O6_CURSOR_DATE = "1995-06-15 00:00:00"


_O6_CURSOR_KEY = 0


_O6_PAGE = 20


_O6_SQL = f"""
SELECT o_orderkey, o_custkey, o_orderdate, o_totalprice
FROM orders
WHERE o_orderdate > TIMESTAMP '{_O6_CURSOR_DATE}'
   OR (o_orderdate = TIMESTAMP '{_O6_CURSOR_DATE}' AND o_orderkey > {_O6_CURSOR_KEY})
ORDER BY o_orderdate, o_orderkey
LIMIT {_O6_PAGE}
"""


@register("o6_keyset_pagination", _O6_SQL)
def o6_keyset_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyset (seek-method) pagination — the scalable successor to o4's
    OFFSET/FETCH: the cursor is the last row of the previous page, so
    the predicate prunes everything already served AT THE SCAN
    (PushedFilters on o_orderdate carries the first disjunct; OFFSET
    instead reads and discards every prior row, O(page_number) per
    page). The (date, key) pair is a total order — page boundaries are
    deterministic — and Spark executes the sort+limit as
    TakeOrderedAndProject: per-partition top-k, merged once, never a
    global sort."""
    cur_d = F.lit(_O6_CURSOR_DATE).cast("timestamp")
    o = _t(spark, sf_dir, "orders")
    return (
        o.filter(
            (F.col("o_orderdate") > cur_d)
            | ((F.col("o_orderdate") == cur_d) & (F.col("o_orderkey") > F.lit(_O6_CURSOR_KEY)))
        )
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
        .orderBy("o_orderdate", "o_orderkey")
        .limit(_O6_PAGE)
    )


# ---------------------------------------------------------------------------
# O7 — systematic (every-Nth) sampling in a declared total order
# ---------------------------------------------------------------------------

_O7_STRIDE = 200


_O7_SQL = f"""
WITH r AS (
  SELECT event_type, event_id, value,
         row_number() OVER (
           PARTITION BY event_type ORDER BY epoch_us(ts), event_id
         ) AS rn
  FROM events
)
SELECT event_type, rn, event_id, value
FROM r WHERE (rn - 1) % {_O7_STRIDE} = 0
"""


@register("o7_systematic_sample", _O7_SQL)
def o7_systematic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Systematic sampling: every 200th event per type in (ts, event_id)
    order — the auditor's deterministic, evenly-spaced sample (contrast
    llm2's hash split: uniform but order-blind). The tiebreak column
    makes the order TOTAL, so the sample is reproducible across
    engines. Scale note: a per-type ordinal serializes each type
    through one sort partition — systematic sampling inherently needs
    the group's total order; beyond dimension-scale groups use
    surrogate_key_distributed's two-pass range form (equivalence-
    tested) or switch to the hash sample."""
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("ts_us", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") - 1) % _O7_STRIDE == 0)
        .select("event_type", "rn", "event_id", "value")
    )


# ---------------------------------------------------------------------------
# O8 — rendezvous-hash shard routing (consistent placement)
# ---------------------------------------------------------------------------

_O8_N = 8


_O8_SQL = f"""
WITH w AS (
  SELECT doc_id, s,
         md5(doc_id::VARCHAR || ':' || s::VARCHAR) AS h
  FROM documents, range(0, {_O8_N}) AS r(s)
),
a AS (
  SELECT doc_id, s AS shard, h,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY h DESC, s DESC) AS rk
  FROM w
),
cur AS (SELECT doc_id, shard, h FROM a WHERE rk = 1)
SELECT shard, count(*)::BIGINT AS n_docs,
       sum(CASE WHEN md5(doc_id::VARCHAR || ':{_O8_N}') > h
                THEN 1 ELSE 0 END)::BIGINT AS n_moved_to_{_O8_N + 1}
FROM cur GROUP BY 1
"""


@register("o8_rendezvous_routing", _O8_SQL)
def o8_rendezvous_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous-hash shard map (operators/packing.py::rendezvous_assign)
    with the consistency property demonstrated IN-QUERY: per-shard doc
    counts for an 8-shard ring, plus how many of each shard's keys would
    move if a 9th shard joined — exactly the keys the new shard's weight
    now wins, ~1/9 of the corpus, where mod-N hashing would move ~8/9.
    The assignment is one per-row array fold (zero shuffle); the report
    aggregate is bounded by the shard count."""
    from com_danliris_service_etl_spark.operators.packing import rendezvous_assign

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    assigned = rendezvous_assign(docs, _O8_N)
    new_w = F.expr(f"md5(concat(cast(doc_id AS STRING), ':', '{_O8_N}'))")
    return (
        assigned.withColumn("__moves", (new_w > F.col("__w")).cast("int"))
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__moves").cast("long").alias(f"n_moved_to_{_O8_N + 1}"),
        )
    )


@register(
    "u2_union_discriminator",
    """
    SELECT c_custkey AS entity_id, c_name AS name, c_acctbal AS acctbal,
           c_nationkey AS nationkey, c_mktsegment AS segment,
           'customer' AS entity_type
    FROM customer
    UNION ALL
    SELECT s_suppkey, s_name, s_acctbal, s_nationkey,
           CAST(NULL AS VARCHAR), 'supplier'
    FROM supplier
    """,
)
def u2_union_discriminator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U2 — union of heterogeneous sources into one fact with a literal
    discriminator; missing columns null-harmonized
    (`SpinningSC/run.js:124` vs `WeavingSC/run.js:128`)."""
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("entity_id"),
        F.col("c_name").alias("name"),
        F.col("c_acctbal").alias("acctbal"),
        F.col("c_nationkey").alias("nationkey"),
        F.col("c_mktsegment").alias("segment"),
        F.lit("customer").alias("entity_type"),
    )
    s = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("entity_id"),
        F.col("s_name").alias("name"),
        F.col("s_acctbal").alias("acctbal"),
        F.col("s_nationkey").alias("nationkey"),
        F.lit("supplier").alias("entity_type"),
    )
    return c.unionByName(s, allowMissingColumns=True)


# ---------------------------------------------------------------------------
# Set operations beyond UNION (INTERSECT / EXCEPT)
# ---------------------------------------------------------------------------


@register(
    "u3_intersect_except",
    """
    SELECT o_custkey, 'both_f_o' AS set_op FROM (
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
      INTERSECT
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
    UNION ALL
    SELECT o_custkey, 'f_not_p' AS set_op FROM (
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
      EXCEPT
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'P')
    """,
)
def u3_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT with SQL (distinct) semantics: customers active
    in both F and O order states, plus F-customers never seen in P.
    Spark plans both as distinct-aggregated semi/anti hash joins — the
    pre-join distinct collapses each side to unique keys before any
    shuffle, so the join sides are bounded by key cardinality, not row
    count; both branches then union without a shuffle."""
    orders = _t(spark, sf_dir, "orders")

    def keys(status: str) -> DataFrame:
        return orders.filter(F.col("o_orderstatus") == status).select("o_custkey")

    both = keys("F").intersect(keys("O")).withColumn("set_op", F.lit("both_f_o"))
    # subtract == SQL EXCEPT (distinct); exceptAll would be bag semantics —
    # it removes ONE right occurrence per key and leaves a duplicated
    # left key alive, which is not what EXCEPT means.
    f_not_p = keys("F").subtract(keys("P")).withColumn("set_op", F.lit("f_not_p"))
    return both.unionByName(f_not_p)


# ---------------------------------------------------------------------------
# U4 — unpivot / melt (wide → long)
# ---------------------------------------------------------------------------

_U4_SQL = """
SELECT l_returnflag, measure, round(sum(val), 2) AS total
FROM (
  SELECT l_returnflag, 'l_quantity' AS measure, l_quantity AS val FROM lineitem
  UNION ALL
  SELECT l_returnflag, 'l_extendedprice', l_extendedprice FROM lineitem
  UNION ALL
  SELECT l_returnflag, 'l_discount', l_discount FROM lineitem
  UNION ALL
  SELECT l_returnflag, 'l_tax', l_tax FROM lineitem
)
GROUP BY 1, 2
"""


@register("u4_unpivot", _U4_SQL)
def u4_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long melt via Spark's native `unpivot` — g2's pivot run in
    reverse, completing the reshape pair. One scan + an Expand node (4
    output rows per input row, partial-aggregated map-side before the
    single shuffle); the oracle spells the same relation as UNION ALL,
    which would cost four scans — the unpivot operator's win."""
    li = _t(spark, sf_dir, "lineitem")
    long = li.unpivot(
        ["l_returnflag"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "measure",
        "val",
    )
    return long.groupBy("l_returnflag", "measure").agg(
        F.round(F.sum("val"), 2).alias("total")
    )


# ---------------------------------------------------------------------------
# Nest / explode (SURVEY §2.8)
# ---------------------------------------------------------------------------


@register(
    "e2_explode_roundtrip",
    """
    SELECT o.o_orderkey, o.o_orderdate, l.l_linenumber, l.l_partkey, l.l_quantity
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    """,
)
def e2_explode_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E1/E2 — assemble child array (the reference's app-side nested docs,
    `GarmentPembelian/run.js:174-216`) then flatten with inner semantics:
    round-trips to the plain inner join."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_quantity"
    )
    nested = nest_children(
        o, li, parent_key="o_orderkey", child_fk="l_orderkey", array_col="items",
        order_by="l_linenumber", parent_key_unique=True,
    )
    return explode_inner(nested, "items").select(
        "o_orderkey", "o_orderdate", "l_linenumber", "l_partkey", "l_quantity"
    )


# ---------------------------------------------------------------------------
# Deep explodes (SURVEY §2.8)
# ---------------------------------------------------------------------------


@register(
    "e3_explode_3level",
    """
    SELECT r.r_name, n.n_name, s.s_name, s.s_acctbal
    FROM region r
    JOIN nation n   ON n.n_regionkey = r.r_regionkey
    JOIN supplier s ON s.s_nationkey = n.n_nationkey
    """,
)
def e3_explode_3level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E3 — 3-level nested doc flattened by chained explodes
    (`FabricQC/run.js:117-173` QC→gradeTests→criteria): region docs are
    assembled with nations[] each holding suppliers[], then exploded twice.
    The assembly shuffles each child once on its fk; the explodes are
    narrow (no shuffle)."""
    r = _t(spark, sf_dir, "region").select("r_regionkey", "r_name")
    n = _t(spark, sf_dir, "nation").select("n_regionkey", "n_nationkey", "n_name")
    s = _t(spark, sf_dir, "supplier").select("s_nationkey", "s_name", "s_acctbal")
    n_nested = nest_children(
        n, s, parent_key="n_nationkey", child_fk="s_nationkey",
        array_col="suppliers", child_cols=["s_name", "s_acctbal"],
    )
    r_nested = nest_children(
        r, n_nested, parent_key="r_regionkey", child_fk="n_regionkey",
        array_col="nations", child_cols=["n_name", "suppliers"],
    )
    flat_n = explode_inner(r_nested, "nations")
    flat_s = explode_inner(flat_n, "suppliers")
    return flat_s.select("r_name", "n_name", "s_name", "s_acctbal")


@register(
    "e4_explode_inner",
    """
    SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice
    FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
    WHERE c.c_custkey % 5 = 0
    """,
)
def e4_explode_inner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E4 — explode with inner-join semantics: parents with no children are
    dropped (`ShipmentDocument/run.js:162-198` skips empty item lists).
    `explode` (not `_outer`) gives exactly that."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") % 5 == 0)
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey"), "o_orderkey", "o_totalprice"
    )
    nested = nest_children(
        c.select("c_custkey", "c_name"),
        o,
        parent_key="c_custkey",
        child_fk="c_custkey",
        array_col="orders",
        child_cols=["o_orderkey", "o_totalprice"],
    )
    return explode_inner(nested, "orders").select(
        "c_custkey", "c_name", "o_orderkey", "o_totalprice"
    )


@register(
    "e5_explode_outer",
    """
    SELECT o.o_orderkey, o.o_orderdate, l.l_linenumber, l.l_quantity
    FROM orders o LEFT JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    """,
)
def e5_explode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E5 — flatten keeping parents whose child array is empty
    (`GarmentPembelian/run.js:767-838` — PR without PO)."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity")
    nested = nest_children(
        o, li, parent_key="o_orderkey", child_fk="l_orderkey", array_col="items",
        order_by="l_linenumber", parent_key_unique=True,
    )
    return explode_left(nested, "items").select(
        "o_orderkey", "o_orderdate", "l_linenumber", "l_quantity"
    )


# ---------------------------------------------------------------------------
# E6 — positional explode (ordinal-preserving flatten)
# ---------------------------------------------------------------------------

_E6_SQL = """
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
)
SELECT doc_id, CAST(pos AS INT) AS pos, toks[pos] AS tok
FROM d, unnest(range(1, least(len(toks), 5) + 1)) AS r(pos)
"""


@register("e6_posexplode", _E6_SQL)
def e6_posexplode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional explode — the flatten that keeps each element's
    ordinal (E1-E5 lose it): the first five tokens of every document
    with their 1-based positions, the lead-text feature a quality
    classifier reads. Spark's `posexplode` emits (pos, element) in one
    generator (no join back to recover order); the oracle states the
    same relation as a correlated lateral unnest over the index
    range."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.slice(F.split("text", " "), 1, 5).alias("toks")
    )
    return d.select(
        "doc_id", F.posexplode("toks").alias("pos0", "tok")
    ).select(
        "doc_id", (F.col("pos0") + 1).cast("int").alias("pos"), "tok"
    )
