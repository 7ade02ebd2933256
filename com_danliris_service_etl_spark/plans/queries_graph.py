"""Graph and OLAP-rollup registry queries (g): rollups, pivots, cubes and
grouping sets, retention cohorts, funnels, path transitions, PageRank,
triangle counts, BFS, Adamic-Adar and Jaccard link prediction, k-core,
label propagation and last-touch attribution.

Iterative operators unroll their supersteps as chained CTEs on the oracle
side; each query pairs with an exact DuckDB oracle over the driver's
parquet tables (TESTDATA.md).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from com_danliris_service_etl_spark.operators import rollup as rl
from com_danliris_service_etl_spark.operators.graph import (
    bfs_hops,
    cooccurrence_jaccard,
    pagerank,
    triangle_counts,
)
from com_danliris_service_etl_spark.operators.joins import asof_join
from com_danliris_service_etl_spark.plans.registry import _events, _t, register
from com_danliris_service_etl_spark.streaming.jobs import (
    ATTR_LOOKBACK_US as _LOOKBACK_US,
)


# ---------------------------------------------------------------------------
# Grouping sets / ROLLUP
# ---------------------------------------------------------------------------


@register(
    "g1_rollup_corpus",
    """
    SELECT lang, source,
           GROUPING(lang)::INT   AS g_lang,
           GROUPING(source)::INT AS g_source,
           count(*)::BIGINT      AS n_docs,
           sum(n_chars)::BIGINT  AS total_chars
    FROM documents
    GROUP BY ROLLUP(lang, source)
    """,
)
def g1_rollup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus size at every grain — (lang, source), per-lang subtotal,
    grand total — in ONE pass. Spark's `rollup` compiles to a single
    Expand + hash aggregate: each input row is replicated once per
    grouping set map-side and partially aggregated before the one
    shuffle, so the subtotals cost no extra scan or shuffle — exactly
    how a 100 TB corpus report should be produced (never one query per
    grain). GROUPING() flags disambiguate subtotal NULLs from data
    NULLs, same semantics both engines."""
    docs = _t(spark, sf_dir, "documents")
    return docs.rollup("lang", "source").agg(
        F.grouping("lang").cast("int").alias("g_lang"),
        F.grouping("source").cast("int").alias("g_source"),
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    ).select("lang", "source", "g_lang", "g_source", "n_docs", "total_chars")


# ---------------------------------------------------------------------------
# Pivot / crosstab
# ---------------------------------------------------------------------------


@register(
    "g2_pivot_status_matrix",
    """
    SELECT o_orderpriority,
           count(*) FILTER (WHERE o_orderstatus = 'F')::BIGINT AS status_f,
           count(*) FILTER (WHERE o_orderstatus = 'O')::BIGINT AS status_o,
           count(*) FILTER (WHERE o_orderstatus = 'P')::BIGINT AS status_p,
           round(sum(o_totalprice) FILTER (WHERE o_orderstatus = 'F'), 2)
             AS value_f
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def g2_pivot_status_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority × status crosstab as DIRECT conditional aggregation: one
    hash aggregate, one shuffle, map-side partials. Two pivot traps are
    deliberately avoided: `pivot(col)` without values runs a full
    distinct scan to discover columns (never acceptable at 100 TB, and a
    nondeterministic schema besides), and even `pivot(col, values)`
    compiles to TWO aggregates (PivotFirst over a (group, pivot)-keyed
    pre-aggregate — measured: 2 exchanges vs 1 for this form). Declared
    values + count(when(...)) is the plan a crosstab should have; empty
    cells are 0 like the oracle's FILTER counts."""
    orders = _t(spark, sf_dir, "orders")

    def n_of(status: str) -> F.Column:
        return F.count(F.when(F.col("o_orderstatus") == status, 1))

    return orders.groupBy("o_orderpriority").agg(
        n_of("F").alias("status_f"),
        n_of("O").alias("status_o"),
        n_of("P").alias("status_p"),
        F.round(
            F.sum(F.when(F.col("o_orderstatus") == "F", F.col("o_totalprice"))),
            2,
        ).alias("value_f"),
    )


# ---------------------------------------------------------------------------
# g3: incremental rollup maintenance (operators/rollup.py::merge_rollup)
# ---------------------------------------------------------------------------

_G3_BUCKET_US = 3600 * 1_000_000


@register(
    "g3_rollup_incremental",
    f"""
    SELECT CAST(floor(epoch_us(ts) / {_G3_BUCKET_US}) AS BIGINT)
             * {_G3_BUCKET_US} AS bucket_us,
           event_type,
           count(*)::BIGINT AS n,
           round(sum(value), 2) AS sum_v,
           min(value) AS min_v,
           max(value) AS max_v
    FROM events GROUP BY 1, 2
    """,
)
def g3_rollup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-aggregate maintenance (`operators/rollup.py`): the event
    stream split into an 'already rolled up' half and a 'tonight's batch'
    half (by event_id parity), each aggregated to mergeable partials,
    then combined with `merge_rollup` — and the oracle recomputes the
    rollup from ALL raw history in one pass. Merged-incremental ==
    full-recompute is exactly the invariant that lets the nightly job
    touch O(new buckets) instead of rescanning raw history at 100 TB."""
    ev = _events(spark, sf_dir).select("event_id", "event_type", "value", "ts_us")
    state = rl.bucket_aggregate(
        ev.filter(F.col("event_id") % 2 == 0), "ts_us", _G3_BUCKET_US,
        ["event_type"], "value",
    )
    delta = rl.bucket_aggregate(
        ev.filter(F.col("event_id") % 2 == 1), "ts_us", _G3_BUCKET_US,
        ["event_type"], "value",
    )
    merged = rl.merge_rollup(state, delta, ["bucket_us", "event_type"])
    return merged.select(
        "bucket_us",
        "event_type",
        "n",
        F.round(F.col("sum_v"), 2).alias("sum_v"),
        "min_v",
        "max_v",
    )


# ---------------------------------------------------------------------------
# g4: retention cohorts over the event stream
# ---------------------------------------------------------------------------

_WEEK_US = 7 * 86_400 * 1_000_000


@register(
    "g4_retention_cohorts",
    f"""
    WITH uw AS (
      SELECT DISTINCT user_id,
             CAST(floor(epoch_us(ts) / {_WEEK_US}) AS BIGINT) AS week
      FROM events),
    coh AS (SELECT user_id, min(week) AS cohort_week FROM uw GROUP BY user_id)
    SELECT c.cohort_week, uw.week - c.cohort_week AS weeks_since,
           count(*)::BIGINT AS n_users
    FROM uw JOIN coh c USING (user_id)
    GROUP BY 1, 2
    """,
)
def g4_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic cohort-retention triangle: users bucketed by first-active
    week, counted per (cohort, weeks-since-cohort) cell. Three map-side-
    combinable shuffles on uniformly-distributed keys — (user, week)
    distinct, per-user min, final cell count; the (user, week) grain rows
    are distinct by construction, so the cell count is a plain count(*),
    never a count-distinct over raw events. At 100 TB the distinct grain
    is the big stage and is exactly the pre-aggregation a warehouse
    would persist (one row per user-week)."""
    ev = _events(spark, sf_dir)
    uw = (
        ev.select(
            "user_id",
            F.floor(F.col("ts_us") / F.lit(_WEEK_US)).cast("long").alias("week"),
        )
        .distinct()
    )
    coh = uw.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    return (
        uw.join(coh, "user_id")
        .groupBy(
            "cohort_week",
            (F.col("week") - F.col("cohort_week")).alias("weeks_since"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


# ---------------------------------------------------------------------------
# g5: ordered funnel conversion over the event stream
# ---------------------------------------------------------------------------

# Skew guard, mirrored in both engines: only the first _G5_CAP events per
# (user, step) can influence the greedy fold, so a bot/service account
# with millions of events is truncated BEFORE any per-user array exists.
_G5_CAP = 1000


_G5_SQL = f"""
    WITH e0 AS (SELECT user_id, event_type, epoch_us(ts) AS ts FROM events
                WHERE event_type IN ('view', 'click', 'purchase')),
    e AS (SELECT user_id, event_type, ts FROM (
            SELECT user_id, event_type, ts,
                   row_number() OVER (PARTITION BY user_id, event_type
                                      ORDER BY ts) AS rn
            FROM e0)
          WHERE rn <= {_G5_CAP}),
    v AS (SELECT user_id, min(ts) AS v_ts FROM e
          WHERE event_type = 'view' GROUP BY user_id),
    c AS (SELECT e.user_id, min(ts) AS c_ts FROM e JOIN v USING (user_id)
          WHERE event_type = 'click' AND ts > v_ts GROUP BY e.user_id),
    p AS (SELECT e.user_id, min(ts) AS p_ts FROM e JOIN c USING (user_id)
          WHERE event_type = 'purchase' AND ts > c_ts GROUP BY e.user_id)
    SELECT (SELECT count(*) FROM v)::BIGINT AS n_view,
           (SELECT count(*) FROM c)::BIGINT AS n_click,
           (SELECT count(*) FROM p)::BIGINT AS n_purchase
"""


def _funnel_states(per_event: DataFrame, cap: int = _G5_CAP) -> DataFrame:
    """(user_id, st{v,c,p}) funnel states from (user_id, code, ts) rows.

    Skew bound: an unbounded `collect_list` per user is the classic
    skewed-key OOM — one bot account with millions of events
    materializes them all in a single aggregation buffer. Instead, rows
    first pass a `row_number() ≤ cap` window per (user, code): the
    window's sort is an EXTERNAL (disk-spilling) sort, so the heavy key
    never lives in memory at once, and the fold's per-user array is then
    ≤ 3·cap elements by construction. One exchange total: the explicit
    `repartition(user_id)` satisfies the (user, code) window's
    clustering requirement AND the groupBy's, so Catalyst inserts no
    further shuffle (asserted in `test_plan_assertions`). Truncation is
    exact whenever every (user, step) count is ≤ cap; past that it is a
    documented approximation, mirrored expression-for-expression in the
    oracle's row_number CTE."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id", "code").orderBy("ts")
    capped = (
        per_event.repartition("user_id")
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= cap)
    )
    return capped.groupBy("user_id").agg(
        F.expr(
            "aggregate("
            "  array_sort(collect_list(struct(ts, code))),"
            "  struct(CAST(NULL AS BIGINT) AS v, CAST(NULL AS BIGINT) AS c,"
            "         CAST(NULL AS BIGINT) AS p),"
            "  (s, e) -> struct("
            "    CASE WHEN s.v IS NULL AND e.code = 1 THEN e.ts ELSE s.v END AS v,"
            "    CASE WHEN s.c IS NULL AND s.v IS NOT NULL AND e.code = 2"
            "              AND e.ts > s.v THEN e.ts ELSE s.c END AS c,"
            "    CASE WHEN s.p IS NULL AND s.c IS NOT NULL AND e.code = 3"
            "              AND e.ts > s.c THEN e.ts ELSE s.p END AS p))"
        ).alias("st")
    )


@register("g5_funnel_conversion", _G5_SQL)
def g5_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (view → click → purchase, strictly increasing event
    times): how many users reach each step. ONE shuffle: funnel-relevant
    events repartition per user, a bounded per-(user, step) window caps
    skewed accounts (`_funnel_states` — external sort, never an unbounded
    aggregation buffer), and an `aggregate` fold walks the capped
    sequence as a tiny state machine (first view, first click after it,
    first purchase after that — greedy-earliest matching, which is
    optimal for subsequence existence). The oracle states the same
    semantics relationally (three conditional min-aggregations over the
    same capped rows); two independent formulations agreeing is the pin.
    At 100 TB the fold form wins: the relational form re-shuffles the
    event table once per funnel step."""
    ev = _events(spark, sf_dir)
    code = (
        F.when(F.col("event_type") == "view", 1)
        .when(F.col("event_type") == "click", 2)
        .when(F.col("event_type") == "purchase", 3)
    )
    per_user = _funnel_states(
        ev.select("user_id", code.alias("code"), F.col("ts_us").alias("ts"))
        .filter(F.col("code").isNotNull())
    )
    return per_user.agg(
        F.count("st.v").alias("n_view"),
        F.count("st.c").alias("n_click"),
        F.count("st.p").alias("n_purchase"),
    )


# ---------------------------------------------------------------------------
# g6: event path transitions (Sankey / next-step analysis)
# ---------------------------------------------------------------------------

_G6_SQL = """
    WITH ordered AS (
      SELECT user_id, event_type,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY epoch_us(ts), event_id) AS prev_type
      FROM events)
    SELECT prev_type, event_type AS next_type,
           count(*) AS n_transitions,
           count(DISTINCT user_id) AS n_users
    FROM ordered WHERE prev_type IS NOT NULL
    GROUP BY prev_type, event_type
"""


@register("g6_path_transitions", _G6_SQL)
def g6_path_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event path-transition matrix (the Sankey / "what do users do
    next" analytic): per-user event sequences ordered by (event time,
    event id), lag-paired into (prev → next) bigrams, counted globally
    with the distinct-user reach per transition. One shuffle on user_id
    for the window (every per-user sequence stays inside one partition),
    then map-side-combinable aggregation on the tiny (prev, next) matrix;
    the distinct-user count re-keys on (prev, next, user) — uniform,
    bounded by the matrix size × active users. All-integer output: zero
    float risk."""
    from pyspark.sql import Window

    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    return (
        ev.select("user_id", "event_type", "ts_us", "event_id")
        .withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(
            F.count(F.lit(1)).alias("n_transitions"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


# ---------------------------------------------------------------------------
# g7: CUBE grouping sets over the event stream (g1's rollup completes the
#     hierarchy grains; CUBE adds the cross-dimensional ones)
# ---------------------------------------------------------------------------

_G7_SQL = """
    SELECT event_type,
           CAST(hour(ts) AS BIGINT) AS hour_of_day,
           GROUPING(event_type)::INT AS g_type,
           GROUPING(hour(ts))::INT AS g_hour,
           count(*)::BIGINT AS n_events,
           round(sum(value), 2) AS sum_value
    FROM events
    GROUP BY CUBE(event_type, hour(ts))
"""


@register("g7_cube_events", _G7_SQL)
def g7_cube_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event activity at all four (event_type × hour-of-day) grains in ONE
    pass: `cube` compiles to a single Expand + hash aggregate — each row
    replicated once per grouping set map-side, partially aggregated
    before the one shuffle — vs four separate scans for the four grains.
    GROUPING() flags disambiguate subtotal NULLs; value sums rounded to
    2 both sides (the float-agg convention)."""
    ev = _events(spark, sf_dir)
    hod = F.hour(F.col("ts_utc")).cast("long")
    return (
        ev.select("event_type", hod.alias("hour_of_day"), "value")
        .cube("event_type", "hour_of_day")
        .agg(
            F.grouping("event_type").cast("int").alias("g_type"),
            F.grouping("hour_of_day").cast("int").alias("g_hour"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            "event_type", "hour_of_day", "g_type", "g_hour", "n_events", "sum_value"
        )
    )


# ---------------------------------------------------------------------------
# G8 — PageRank over the supplier↔customer fulfillment graph
# ---------------------------------------------------------------------------

# Three power iterations unrolled as CTEs; arithmetic is written to hit
# the SAME IEEE operations as the Spark side ((1.0 - 0.85) computed, not
# the literal 0.15 — a different double), and ranks round to 8dp so
# summation-order noise (~1e-15 relative) can never flip a digit.
_G8_SQL = """
WITH pairs AS (
  SELECT 's' || l_suppkey AS s, 'c' || o_custkey AS c, count(*) AS cnt
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY 1, 2
),
edges AS (
  SELECT s AS src, c AS dst, cnt FROM pairs
  UNION ALL
  SELECT c AS src, s AS dst, cnt FROM pairs
),
norm AS (
  SELECT src, dst, cnt * 1.0 / sum(cnt) OVER (PARTITION BY src) AS w
  FROM edges
),
nodes AS (SELECT DISTINCT src AS node FROM edges),
nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
r0 AS (SELECT node, 1.0 / nn.n AS r FROM nodes CROSS JOIN nn),
c1 AS (SELECT norm.dst AS node, sum(r0.r * norm.w) AS c
       FROM norm JOIN r0 ON r0.node = norm.src GROUP BY norm.dst),
r1 AS (SELECT v.node, (1.0 - 0.85) / nn.n + 0.85 * coalesce(c1.c, 0) AS r
       FROM nodes v CROSS JOIN nn LEFT JOIN c1 ON c1.node = v.node),
c2 AS (SELECT norm.dst AS node, sum(r1.r * norm.w) AS c
       FROM norm JOIN r1 ON r1.node = norm.src GROUP BY norm.dst),
r2 AS (SELECT v.node, (1.0 - 0.85) / nn.n + 0.85 * coalesce(c2.c, 0) AS r
       FROM nodes v CROSS JOIN nn LEFT JOIN c2 ON c2.node = v.node),
c3 AS (SELECT norm.dst AS node, sum(r2.r * norm.w) AS c
       FROM norm JOIN r2 ON r2.node = norm.src GROUP BY norm.dst),
r3 AS (SELECT v.node, (1.0 - 0.85) / nn.n + 0.85 * coalesce(c3.c, 0) AS r
       FROM nodes v CROSS JOIN nn LEFT JOIN c3 ON c3.node = v.node)
SELECT node, round(r, 8) AS rank FROM r3
"""


@register("g8_pagerank", _G8_SQL)
def g8_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted PageRank, 3 iterations, d=0.85, over the bidirected
    supplier↔customer graph (edge weight = fulfilled line items). The
    bidirection guarantees out-degree ≥ 1 everywhere (no dangling-mass
    term), which keeps both engines' formulations identical — and lets
    the node set ride the out-degree aggregate (`sources_cover_nodes`).
    The Spark side is the scale path: per-superstep equi-join +
    partial-aggregated groupBy on stable shuffle keys (operators/
    graph.py). The iteration runs on BIGINT node ids (supplier 2k,
    customer 2k+1) — integer shuffle keys measured ~15% faster than
    's'/'c'-prefixed strings at sf0.1 — and projects the display string
    only on the final |V|-row result. The |V|-scale rank/degree tables
    are dimension-sized here, so they are broadcast (every superstep
    join map-side; one groupBy shuffle per superstep remains)."""
    from com_danliris_service_etl_spark.operators.partitioning import spread

    # spread the probe side (r15): the one-file lineitem fixture scans
    # as 3 partitions, so the broadcast-join probe + the (s, c) partial
    # aggregation ran at 3-way parallelism (guide §2.5 input-skew class;
    # measured ~1.3 s of the query's 2.5 s in the iterations=0 profile).
    # Conditional pass-through keeps real well-split inputs untouched.
    li = spread(_t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey"))
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    # no broadcast hint on orders (r13): it is a FACT side — at sf0.1 the
    # auto threshold broadcasts it anyway; at scale AQE picks the shuffled
    # join instead of an OOM-bound forced build (the d9 lesson)
    pairs = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy(
            (F.col("l_suppkey") * 2).alias("s"),
            (F.col("o_custkey") * 2 + 1).alias("c"),
        )
        .agg(F.count(F.lit(1)).alias("cnt"))
        # pairs feeds BOTH directions of the edge union — checkpoint the
        # fork so the join+aggregate runs once (the dd8/txt5 lesson).
        .localCheckpoint(eager=False)
    )
    edges = pairs.select(
        F.col("s").alias("src"), F.col("c").alias("dst"), "cnt"
    ).unionByName(pairs.select(F.col("c").alias("src"), F.col("s").alias("dst"), "cnt"))
    pr = pagerank(
        edges,
        weight="cnt",
        iterations=3,
        damping=0.85,
        sources_cover_nodes=True,
        broadcast_ranks=True,
    )
    node_str = F.when(
        F.col("node") % 2 == 0, F.concat(F.lit("s"), (F.col("node") / 2).cast("long"))
    ).otherwise(F.concat(F.lit("c"), ((F.col("node") - 1) / 2).cast("long")))
    return pr.select(node_str.alias("node"), F.round("rank", 8).alias("rank"))


# ---------------------------------------------------------------------------
# G9 — per-node triangle counts over the part co-purchase graph
# ---------------------------------------------------------------------------

# The oracle enumerates each triangle once as its id-ordered (x < y < z)
# corner: e1 = (x,y), e2 = (y,z), closed by e3 = (x,z). Per-node counts
# are orientation-invariant, so the Spark side is free to use the
# degree-ordered orientation that bounds the two-path fanout at scale.
_G9_SQL = """
WITH e AS (
  SELECT DISTINCT a.l_partkey AS a, b.l_partkey AS b
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM e e1
  JOIN e e2 ON e2.a = e1.b
  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
),
corners AS (
  SELECT x AS node FROM tri
  UNION ALL SELECT y FROM tri
  UNION ALL SELECT z FROM tri
)
SELECT node, count(*)::BIGINT AS triangles FROM corners GROUP BY node
"""


@register("g9_triangle_count", _G9_SQL)
def g9_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting over the part co-purchase graph (parts linked
    when they appear in the same order) — the local-clustering primitive
    behind community structure and recommendation features. The edge
    build is one self-equi-join on the order key (never all-pairs across
    orders); `triangle_counts` then orients every edge by the (degree,
    id) total order, so two-path generation is Σ C(out-deg, 2) with
    out-degrees O(√m) — the compact-forward bound that survives hub
    nodes at 100 TB, where orienting by raw id would square the hottest
    part's full degree."""
    # Runs over the PRODUCTION LAYOUT shared with g11/g13/g16/g17 —
    # lineitem bucketed by the order key (same fingerprint → same
    # materialized directory), so the per-order collect_set plans ZERO
    # exchanges and the edge build's first shuffle disappears (r12,
    # VERDICT task 4: the iterative/graph family's setup was measured to
    # dominate its runtime).
    from com_danliris_service_etl_spark.operators.bucketing import (
        ensure_bucketed_fact,
    )

    li = ensure_bucketed_fact(
        spark, sf_dir, "lineitem", ["l_orderkey"],
        columns=["l_orderkey", "l_partkey"],
    )
    # Per-order pair generation in-array (the LSH-bucket trick): ONE
    # groupBy of the fact — exchange-free on the bucketed layout —
    # instead of a fact×fact self-join; collect_set state is bounded by
    # the order's line count. sort_array ⇒ pairs come out src < dst for
    # free. double-explode pair generation: ~40% faster end-to-end than
    # the nested transform(slice(...)) HOF at sf1 (r9 A/B: 2.14 s vs
    # 1.43 s for this edge build) — the HOF allocates a struct array per
    # element; the chained explodes + src<dst filter stay in one
    # whole-stage-codegen span (operators/graph.py same rationale).
    per_order = li.groupBy("l_orderkey").agg(
        F.sort_array(F.collect_set("l_partkey")).alias("ps")
    )
    edges = (
        per_order.select(F.explode("ps").alias("src"), "ps")
        .select("src", F.explode("ps").alias("dst"))
        .filter(F.col("src") < F.col("dst"))
        # no .distinct() here (r15): triangle_counts canonicalizes its
        # input with least/greatest + distinct anyway, and for src < dst
        # pairs that distinct dedups exactly this key set — the caller's
        # own distinct was a second full exchange of the ~1.2M-row edge
        # multiset for nothing (guide §2.4: a distinct on data the next
        # operator re-distincts).
    )
    return triangle_counts(edges, broadcast_degrees=True)


# ---------------------------------------------------------------------------
# G10 — multi-source frontier BFS over the fulfillment graph
# ---------------------------------------------------------------------------

_G10_SQL = """
WITH pairs AS (
  SELECT DISTINCT 's' || l_suppkey AS s, 'c' || o_custkey AS c
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
),
edges AS (
  SELECT s AS src, c AS dst FROM pairs
  UNION ALL
  SELECT c AS src, s AS dst FROM pairs
),
l0 AS (SELECT 's' || s_suppkey AS node FROM supplier WHERE s_suppkey <= 2),
f1 AS (SELECT DISTINCT e.dst AS node FROM edges e JOIN l0 ON e.src = l0.node),
l1 AS (SELECT node FROM f1 WHERE node NOT IN (SELECT node FROM l0)),
f2 AS (SELECT DISTINCT e.dst AS node FROM edges e JOIN l1 ON e.src = l1.node),
l2 AS (SELECT node FROM f2 WHERE node NOT IN (SELECT node FROM l0)
                             AND node NOT IN (SELECT node FROM l1)),
f3 AS (SELECT DISTINCT e.dst AS node FROM edges e JOIN l2 ON e.src = l2.node),
l3 AS (SELECT node FROM f3 WHERE node NOT IN (SELECT node FROM l0)
                             AND node NOT IN (SELECT node FROM l1)
                             AND node NOT IN (SELECT node FROM l2))
SELECT node, 0::BIGINT AS hops FROM l0
UNION ALL SELECT node, 1::BIGINT FROM l1
UNION ALL SELECT node, 2::BIGINT FROM l2
UNION ALL SELECT node, 3::BIGINT FROM l3
"""


@register("g10_bfs_hops", _G10_SQL)
def g10_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum hop distance from suppliers {0,1,2} over the bidirected
    supplier↔customer fulfillment graph, explored to 3 hops — the
    reachability/radius primitive (blast-radius analysis, graph-distance
    features). `bfs_hops` is the FRONTIER form: each level is one
    equi-join of the previous frontier onto the edge list + a distinct +
    an anti-join against the visited set; per-level lazy checkpoints cut
    the lineage exactly like pagerank's supersteps. The iteration runs
    on BIGINT node ids (supplier 2k, customer 2k+1 — the g8 scheme) and
    projects display strings only on the final result."""
    from com_danliris_service_etl_spark.operators.partitioning import spread

    # spread the probe side (r15, the g8 rationale): 3-partition scan
    # fed the broadcast-join probe + distinct partials at 3-way
    # parallelism; conditional pass-through on well-split inputs.
    li = spread(_t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey"))
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    # no broadcast hint on orders: fact side (the d9/g8 r13 discipline)
    pairs = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            (F.col("l_suppkey") * 2).alias("s"),
            (F.col("o_custkey") * 2 + 1).alias("c"),
        )
        .distinct()
        .localCheckpoint(eager=False)  # feeds both edge directions
    )
    edges = pairs.select(F.col("s").alias("src"), F.col("c").alias("dst")).unionByName(
        pairs.select(F.col("c").alias("src"), F.col("s").alias("dst"))
    )
    sources = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_suppkey") <= 2)
        .select((F.col("s_suppkey") * 2).alias("node"))
    )
    hops = bfs_hops(edges, sources, max_hops=3)
    node_str = F.when(
        F.col("node") % 2 == 0, F.concat(F.lit("s"), (F.col("node") / 2).cast("long"))
    ).otherwise(F.concat(F.lit("c"), ((F.col("node") - 1) / 2).cast("long")))
    return hops.select(node_str.alias("node"), F.col("hops").cast("long").alias("hops"))


# ---------------------------------------------------------------------------
# G11 — Adamic-Adar co-occurrence link prediction
# ---------------------------------------------------------------------------

_G11_SQL = """
WITH d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
n AS (SELECT l_orderkey, count(*) AS sz FROM d GROUP BY 1),
p AS (
  SELECT a.l_orderkey, a.l_partkey AS src, b.l_partkey AS dst
  FROM d a JOIN d b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
)
SELECT src, dst, count(*)::BIGINT AS n_common,
       round(sum(1.0 / ln(n.sz::DOUBLE)), 6) AS aa_score
FROM p JOIN n USING (l_orderkey)
GROUP BY src, dst
HAVING count(*) >= 2
"""


@register("g11_adamic_adar", _G11_SQL)
def g11_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link-prediction scores over the part co-purchase
    bipartite (operators/graph.py::cooccurrence_adamic_adar): each order
    is a common neighbor weighting its item pairs by 1/ln(order size).
    One groupBy of the fact into per-order arrays + in-array pair
    generation (the g9 shape) — never a fact×fact self-join. Scores are
    sums of a handful of 1/ln terms, rounded 6dp for order-insensitive
    cross-engine comparison.

    Runs over the SAME canonical bucketed layout as g13 (identical
    fingerprint — table, key, columns, bucket count — so the two
    queries share ONE materialized directory and the per-order
    aggregate plans zero exchanges; the whole plan carries exactly one
    shuffle, the CI-pinned claim in
    test_cooccurrence_on_bucketed_layout_single_exchange, measured
    1.31× vs the oracle at sf10 against 1.55× unbucketed)."""
    from com_danliris_service_etl_spark.operators.bucketing import (
        ensure_bucketed_fact,
    )
    from com_danliris_service_etl_spark.operators.graph import (
        cooccurrence_adamic_adar,
    )

    li = ensure_bucketed_fact(
        spark, sf_dir, "lineitem", ["l_orderkey"],
        columns=["l_orderkey", "l_partkey"],
    )
    return cooccurrence_adamic_adar(li, "l_orderkey", "l_partkey", min_common=2)


# ---------------------------------------------------------------------------
# G12 — GROUPING SETS revenue report (nation × year, nation, year, grand)
# ---------------------------------------------------------------------------

_G12_SQL = """
SELECT CAST(grouping(c_nationkey) AS INT) AS g_nation,
       CAST(grouping(y) AS INT) AS g_year,
       c_nationkey, y AS order_year,
       count(*)::BIGINT AS n_orders,
       round(sum(o_totalprice), 2) AS revenue
FROM (
  SELECT c.c_nationkey, CAST(year(o.o_orderdate) AS INT) AS y, o.o_totalprice
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
)
GROUP BY GROUPING SETS ((c_nationkey, y), (c_nationkey), (y), ())
"""


@register("g12_grouping_sets", _G12_SQL)
def g12_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS completes the multi-granularity family (g1 ROLLUP,
    g7 CUBE): an explicit, non-hierarchical set list — (nation, year),
    each alone, and the grand total — with grouping() flags
    disambiguating aggregation NULLs from data NULLs. Spark plans one
    Expand (4 replicas, partial-aggregated map-side) + one shuffle —
    same physical shape as cube, but only the 4 requested granularities
    instead of cube's 2^k. Customer is broadcast onto the orders scan."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    joined = o.join(
        F.broadcast(c), o["o_custkey"] == c["c_custkey"]
    ).select(
        "c_nationkey",
        F.year("o_orderdate").cast("int").alias("y"),
        "o_totalprice",
    )
    return joined.groupingSets(
        [["c_nationkey", "y"], ["c_nationkey"], ["y"], []],
        "c_nationkey",
        "y",
    ).agg(
        F.grouping("c_nationkey").cast("int").alias("g_nation"),
        F.grouping("y").cast("int").alias("g_year"),
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    ).select(
        "g_nation",
        "g_year",
        "c_nationkey",
        F.col("y").alias("order_year"),
        "n_orders",
        "revenue",
    )


# ---------------------------------------------------------------------------
# G13 — Jaccard neighborhood similarity (part co-purchase)
# ---------------------------------------------------------------------------

_G13_SQL = """
WITH pg AS (
  SELECT DISTINCT l_orderkey AS g, l_partkey AS item FROM lineitem
), deg AS (
  SELECT item, count(*)::BIGINT AS d FROM pg GROUP BY 1
), pairs AS (
  SELECT a.item AS src, b.item AS dst, count(*)::BIGINT AS n_common
  FROM pg a JOIN pg b ON a.g = b.g AND a.item < b.item
  GROUP BY 1, 2 HAVING count(*) >= 2
)
SELECT src, dst, n_common,
       round(n_common / CAST(da.d + db.d - n_common AS DOUBLE), 6) AS jaccard
FROM pairs
JOIN deg da ON src = da.item
JOIN deg db ON dst = db.item
"""


@register("g13_jaccard_neighbors", _G13_SQL)
def g13_jaccard_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard set-overlap similarity between co-purchased parts
    (operators/graph.py `cooccurrence_jaccard`): |shared orders| over
    |union of orders|, exact integers via inclusion-exclusion. Same
    in-array pair generation as g11 (one fact groupBy, never a
    fact×fact self-join); the oracle states the relation as the naive
    equi-self-join, which is what the operator avoids at scale.

    Runs over the PRODUCTION LAYOUT — the fact bucketed by the group key
    (`ensure_bucketed_fact`; first call per session materializes it, the
    layout cost a real warehouse pays once at load) — so the per-order
    collect_set aggregate plans zero exchanges and the pair aggregation
    is the only fact-scale shuffle. Promoted from a CI pin to the
    registry path per VERDICT r10 task 1; the unbucketed form measured
    3.56x vs the oracle at the sf10 decade, this layout 2.75x with an
    identical result (BASELINE.md g13 trail; five alternative plans —
    diagonal-fused degree, deg-from-base, deg-early struct arrays —
    measured slower or OOM there, recorded in the same trail)."""
    from com_danliris_service_etl_spark.operators.bucketing import (
        ensure_bucketed_fact,
    )

    li = ensure_bucketed_fact(
        spark, sf_dir, "lineitem", ["l_orderkey"],
        columns=["l_orderkey", "l_partkey"],
    )
    return cooccurrence_jaccard(li, "l_orderkey", "l_partkey", min_common=2)


# ---------------------------------------------------------------------------
# G14 — outer-join count distribution (TPC-H Q13 shape)
# ---------------------------------------------------------------------------

_G14_SQL = """
WITH oc AS (
  SELECT o_custkey, count(*)::BIGINT AS n_orders
  FROM orders WHERE o_orderpriority <> '1-URGENT'
  GROUP BY o_custkey
)
SELECT coalesce(n_orders, 0)::BIGINT AS n_orders,
       count(*)::BIGINT AS n_customers
FROM customer LEFT JOIN oc ON c_custkey = o_custkey
GROUP BY coalesce(n_orders, 0)
"""


@register("g14_order_count_distribution", _G14_SQL)
def g14_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of non-urgent orders per customer INCLUDING the
    zero-order customers (Q13 shape) — the histogram a plain inner-join
    rollup silently truncates at 1. Aggregate orders per custkey first
    (one map-side-combinable fact shuffle), LEFT join customers onto the
    counts (coalesce absent → 0), then the second, distribution-sized
    aggregate. At 100 TB both sides of the outer join are hash-
    partitioned on custkey — no broadcast assumption on the per-customer
    counts (they are |customers|-sized, not dimension-sized); AQE
    upgrades to broadcast when the filtered aggregate happens to be
    small."""
    oc = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != "1-URGENT")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders_raw"))
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    per_cust = c.join(oc, c["c_custkey"] == oc["o_custkey"], "left").select(
        F.coalesce(F.col("n_orders_raw"), F.lit(0)).alias("n_orders")
    )
    return per_cust.groupBy("n_orders").agg(
        F.count(F.lit(1)).alias("n_customers")
    )


# Per-purchase attribution grain, shared by the g15 rollup and the st14
# streaming batch twin.
_ATTR_SQL = f"""
WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, value
           FROM events WHERE event_type = 'purchase'),
t AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us, event_type
      FROM events WHERE event_type <> 'purchase'),
cand AS (
  SELECT p.event_id AS pid, p.ts_us AS pts, p.value,
         t.event_type AS channel, t.ts_us AS tts,
         row_number() OVER (PARTITION BY p.event_id
                            ORDER BY t.ts_us DESC, t.event_id DESC) AS rn
  FROM p LEFT JOIN t ON t.user_id = p.user_id AND t.ts_us <= p.ts_us)
SELECT pid AS event_id, pts AS ts_us, value,
       CASE WHEN channel IS NOT NULL
                 AND tts >= pts - {_LOOKBACK_US}::BIGINT
            THEN channel ELSE 'unattributed' END AS channel
FROM cand WHERE rn = 1
"""


_G15_SQL = f"""
WITH attr AS ({_ATTR_SQL})
SELECT channel,
       count(*)::BIGINT AS conversions,
       round(sum(value), 2) AS revenue
FROM attr GROUP BY channel
"""


def attributed_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-purchase attribution grain: each purchase credited to the same
    user's LATEST preceding non-purchase event within a 7-day lookback
    (ties on timestamp: highest event_id — the J7 tiebreak contract),
    else 'unattributed'.

    Scale shape: the union-sort as-of strategy (ops/joins.py:186) — tag,
    union, ONE window over (user_id, ts) carrying the latest touch
    forward — is linear in |purchases|+|touches| with a single shuffle on
    user_id. The naive per-purchase candidate join (the oracle's
    row_number form) materializes |touches before each purchase| rows per
    user and dies on hot users at clickstream scale; the running-last
    form never widens. The lookback bound is applied AFTER the argmax
    (equivalent: if the latest touch is out of window, all are), keeping
    the window state one row — which is also exactly the keyed state of
    the streaming twin (streaming/jobs.py::_attribution_fn)."""
    ev = _events(spark, sf_dir)
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts_us", "value"
    )
    touches = ev.filter(F.col("event_type") != "purchase").select(
        "user_id",
        F.col("ts_us").alias("touch_ts_us"),
        F.col("event_type").alias("touch_channel"),
        F.col("event_id").alias("touch_event_id"),
    )
    matched = asof_join(
        purchases,
        touches,
        left_on="ts_us",
        right_on="touch_ts_us",
        by=[("user_id", "user_id")],
        direction="backward",
        tiebreak="touch_event_id",
        allow_exact_match=True,
        strategy="sort",
    )
    in_window = F.col("touch_channel").isNotNull() & (
        F.col("touch_ts_us") >= F.col("ts_us") - F.lit(_LOOKBACK_US)
    )
    return matched.select(
        "event_id",
        "ts_us",
        "value",
        F.when(in_window, F.col("touch_channel"))
        .otherwise("unattributed")
        .alias("channel"),
    )


@register("g15_last_touch_attribution", _G15_SQL)
def g15_last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Channel rollup of `attributed_purchases` (conversions + revenue per
    attributed channel) — see that helper for the attribution semantics
    and the linear as-of scale shape."""
    return (
        attributed_purchases(spark, sf_dir)
        .groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("conversions"),
            F.round(F.sum("value"), 2).alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# G16 — bounded k-core peeling trajectory
# ---------------------------------------------------------------------------

_KCORE_K = 110


_KCORE_ROUNDS = 4


def _g16_sql(k: int = _KCORE_K, rounds: int = _KCORE_ROUNDS) -> str:
    ctes = ["""
d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e0 AS MATERIALIZED (SELECT a.l_partkey AS src, b.l_partkey AS dst
       FROM d a JOIN d b ON a.l_orderkey = b.l_orderkey
                        AND a.l_partkey < b.l_partkey
       GROUP BY 1, 2)"""]
    for r in range(1, rounds + 1):
        p = r - 1
        ctes.append(f"""
n{p} AS MATERIALIZED (SELECT node, count(*) AS deg
         FROM (SELECT src AS node FROM e{p}
               UNION ALL SELECT dst FROM e{p}) GROUP BY 1),
s{r} AS (SELECT node FROM n{p} WHERE deg >= {k}),
e{r} AS MATERIALIZED (SELECT e.src, e.dst FROM e{p} e
         JOIN s{r} x ON e.src = x.node
         JOIN s{r} y ON e.dst = y.node)""")
    sels = "\nUNION ALL ".join(
        f"""SELECT {r} AS round,
       (SELECT count(DISTINCT node) FROM
          (SELECT src AS node FROM e{r} UNION ALL SELECT dst FROM e{r}))::BIGINT
         AS n_nodes,
       (SELECT count(*) FROM e{r})::BIGINT AS n_edges"""
        for r in range(0, rounds + 1)
    )
    return f"WITH {','.join(ctes)}\n{sels}"


@register("g16_kcore_peel", _g16_sql())
def g16_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded k-core peeling (ops/graph.py::kcore_peel) over the part
    co-purchase graph: 4 peel rounds at k=110, emitting the trajectory
    (round, surviving nodes, surviving edges). The cascade is the
    signal — on the fixture round 1 drops ~40% of nodes and round 2
    drops ~94% of the remainder, which no one-shot degree filter can
    express (a k-core member needs k neighbors who THEMSELVES survive).
    Community-density / spam-subgraph primitive; bounded rounds keep the
    oracle expressible as an unrolled CTE chain (the txt19 discipline) —
    production loops the same superstep to fixpoint on the survivor
    scalar."""
    from com_danliris_service_etl_spark.operators.bucketing import (
        ensure_bucketed_fact,
    )
    from com_danliris_service_etl_spark.operators.graph import kcore_peel

    # shared canonical layout (g9/g11/g13/g17 fingerprint): the edge
    # build's per-order collect_set plans zero exchanges (r12 task 4)
    li = ensure_bucketed_fact(
        spark, sf_dir, "lineitem", ["l_orderkey"],
        columns=["l_orderkey", "l_partkey"],
    )
    return kcore_peel(
        li, "l_orderkey", "l_partkey", k=_KCORE_K, rounds=_KCORE_ROUNDS
    )


# ---------------------------------------------------------------------------
# G17 — synchronous label-propagation communities (bounded rounds)
# ---------------------------------------------------------------------------

_LPA_ROUNDS = 3


def _g17_sql(rounds: int = _LPA_ROUNDS) -> str:
    ctes = ["""
d AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
e AS MATERIALIZED (SELECT a.l_partkey AS src, b.l_partkey AS dst
       FROM d a JOIN d b ON a.l_orderkey = b.l_orderkey
                        AND a.l_partkey < b.l_partkey
       GROUP BY 1, 2),
adj AS MATERIALIZED (SELECT src AS node, dst AS nbr FROM e
       UNION ALL SELECT dst, src FROM e),
l0 AS (SELECT DISTINCT node, node AS label FROM adj)"""]
    for r in range(1, rounds + 1):
        p = r - 1
        ctes.append(f"""
c{r} AS (SELECT a.node, l.label, count(*)::BIGINT AS cnt
         FROM adj a JOIN l{p} l ON l.node = a.nbr
         GROUP BY 1, 2),
l{r} AS MATERIALIZED (
  SELECT node, min(label) AS label
  FROM (SELECT node, label, cnt,
               max(cnt) OVER (PARTITION BY node) AS mc
        FROM c{r})
  WHERE cnt = mc GROUP BY node)""")
    return f"WITH {','.join(ctes)}\nSELECT node, label FROM l{rounds}"


@register("g17_label_propagation", _g17_sql())
def g17_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous LPA communities (ops/graph.py::label_propagation)
    over the part co-purchase graph, 3 bounded supersteps with the
    deterministic min-label tiebreak — the frequency-vote community
    detector, distinct from connected components (llm12/dd6 merge
    everything reachable; LPA finds denser-than-connectivity groups).
    Iterative superstep family: the oracle unrolls as MATERIALIZED CTEs
    (the g16 discipline) and, like the rest of that family, the
    recursive single-node formulation grows super-linearly with scale
    while the checkpointed superstep loop stays near-linear."""
    from com_danliris_service_etl_spark.operators.bucketing import (
        ensure_bucketed_fact,
    )
    from com_danliris_service_etl_spark.operators.graph import label_propagation

    # shared canonical layout (g9/g11/g13/g16 fingerprint): the edge
    # build's per-order collect_set plans zero exchanges (r12 task 4)
    li = ensure_bucketed_fact(
        spark, sf_dir, "lineitem", ["l_orderkey"],
        columns=["l_orderkey", "l_partkey"],
    )
    return label_propagation(li, "l_orderkey", "l_partkey", rounds=_LPA_ROUNDS)
