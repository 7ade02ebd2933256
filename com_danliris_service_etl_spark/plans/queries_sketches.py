"""Sketch registry queries (sk): approximate-distinct and quantile
accuracy contracts, salted aggregation, count-min heavy hitters, and
mergeable bitmap / HLL / binned-quantile rollups.

Sketch values cannot hash-match across engines, so each query emits the
exact values plus in-query boolean accuracy flags that the oracle pins
TRUE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from com_danliris_service_etl_spark.operators.sketches import (
    countmin_estimate,
    countmin_sketch,
    tokens_of,
)
from com_danliris_service_etl_spark.operators.skew import salted_aggregate
from com_danliris_service_etl_spark.plans.registry import _events, _t, register


# ---------------------------------------------------------------------------
# Mergeable sketches with verified accuracy (HLL / t-digest)
# ---------------------------------------------------------------------------


@register(
    "sk1_sketch_accuracy",
    """
    SELECT lang,
           count(DISTINCT doc_id)::BIGINT AS n_exact,
           TRUE AS hll_ok,
           TRUE AS p50_ok
    FROM documents
    GROUP BY lang
    """,
)
def sk1_sketch_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB cardinality path, with its accuracy bound VERIFIED
    in-query: HyperLogLog++ (`approx_count_distinct`, rsd 1%) and
    t-digest (`approx_percentile`, accuracy 10000) are mergeable,
    constant-memory sketches — the structures a real deployment uses
    where exact distinct/percentile would shuffle every value. Sketch
    estimates differ across engines by construction, so the oracle can't
    compare them directly; instead the query emits the EXACT values plus
    booleans asserting the sketch landed within tolerance (5% on
    distinct, 5% of the exact median), and the oracle pins those flags
    TRUE — a cross-engine-checkable accuracy contract rather than an
    unverifiable estimate dump.

    r14: the distinct count runs in its OWN aggregate, joined back on
    lang. Mixing countDistinct with the sketch functions in one agg made
    Spark's distinct rewrite push the sketch PARTIALS into the
    (lang, doc_id) pre-aggregation — one HLL(rsd 1%) register bank, one
    exact-percentile buffer and one t-digest PER DOCUMENT (5k heavyweight
    buffers at sf0.1, |docs| at scale) that the final merge then folded
    per lang. Split, the sketch pass keeps |lang| buffers per partition
    (partial aggregation as designed) and the distinct pass shuffles bare
    (lang, doc_id) keys: 4.1 s → 0.4 s at sf0.1, identical output (HLL
    register merge is commutative; the t-digest at accuracy 10000 over 5k
    values is rank-exact; the oracle pins both flags either way)."""
    docs = _t(spark, sf_dir, "documents").select("lang", "doc_id", "n_chars")
    exact = docs.groupBy("lang").agg(F.countDistinct("doc_id").alias("n_exact"))
    sketch = docs.groupBy("lang").agg(
        F.approx_count_distinct("doc_id", rsd=0.01).alias("n_hll"),
        F.expr("percentile(n_chars, 0.5)").alias("p50_exact"),
        F.expr("approx_percentile(n_chars, 0.5, 10000)").alias("p50_tdig"),
    )
    agg = exact.join(sketch, "lang")
    tol_n = F.col("n_exact").cast("double") * 0.05
    tol_p = F.abs(F.col("p50_exact")) * 0.05
    return agg.select(
        "lang",
        "n_exact",
        (F.abs(F.col("n_hll") - F.col("n_exact")) <= tol_n).alias("hll_ok"),
        (F.abs(F.col("p50_tdig") - F.col("p50_exact")) <= tol_p).alias("p50_ok"),
    )


# ---------------------------------------------------------------------------
# sk2: salted two-stage aggregation ≡ plain aggregation
# ---------------------------------------------------------------------------

# The oracle is the PLAIN one-stage aggregation; the Spark side computes it
# through the (key, salt) two-stage decomposition, so a green row pins the
# salting's value-equivalence. l_returnflag has 3 values over ~600k rows at
# sf0.1 — exactly the hot-key shape the operator exists for. l_quantity is
# integral-valued, so the double sums are exact in both engines.
_SK2_SQL = """
    SELECT l_returnflag,
           count(*)::BIGINT AS n_rows,
           sum(l_quantity) AS sum_qty,
           min(l_quantity) AS min_qty,
           max(l_quantity) AS max_qty
    FROM lineitem GROUP BY l_returnflag
"""


@register("sk2_salted_aggregate", _SK2_SQL)
def sk2_salted_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-salted aggregation (operators/skew.py::salted_aggregate) over
    lineitem's 3-value l_returnflag — a deliberately hot grouping key.
    Stage 1 spreads each key over 16 salts (no reducer sees more than
    1/16th of a hot key), stage 2 re-reduces the tiny partial rows; the
    oracle's plain GROUP BY pins value-equivalence of the decomposition."""
    return salted_aggregate(
        _t(spark, sf_dir, "lineitem"),
        keys=["l_returnflag"],
        aggs={
            "n_rows": ("l_quantity", "count"),
            "sum_qty": ("l_quantity", "sum"),
            "min_qty": ("l_quantity", "min"),
            "max_qty": ("l_quantity", "max"),
        },
        n_salts=16,
    )


# ---------------------------------------------------------------------------
# SK3 — count-min heavy hitters with the in-query accuracy contract
# ---------------------------------------------------------------------------

_SK3_SQL = """
WITH tok AS (
  SELECT t.token
  FROM documents, unnest(string_split(text, ' ')) AS t(token)
  WHERE text IS NOT NULL AND t.token <> ''
),
exact AS (SELECT token, count(*)::BIGINT AS exact_cnt FROM tok GROUP BY token),
top AS (SELECT token, exact_cnt FROM exact ORDER BY exact_cnt DESC, token LIMIT 20),
rows_ AS (SELECT unnest([0, 1]) AS r),
cells AS (
  SELECT r,
         ('0x' || substring(md5(r::VARCHAR || ':' || token), 1, 8))::BIGINT % 256 AS bucket
  FROM tok CROSS JOIN rows_
),
sketch AS (SELECT r, bucket, count(*)::BIGINT AS cnt FROM cells GROUP BY r, bucket),
cand AS (
  SELECT token, r,
         ('0x' || substring(md5(r::VARCHAR || ':' || token), 1, 8))::BIGINT % 256 AS bucket
  FROM top CROSS JOIN rows_
),
est AS (SELECT c.token, min(s.cnt) AS est_cnt
        FROM cand c JOIN sketch s USING (r, bucket) GROUP BY c.token)
SELECT t.token, t.exact_cnt, e.est_cnt, e.est_cnt >= t.exact_cnt AS cms_ok
FROM top t JOIN est e USING (token)
"""


@register("sk3_countmin_heavy_hitters", _SK3_SQL)
def sk3_countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (2×256, shared md5 hashing) over document tokens;
    the top-20 exact heavy hitters are point-estimated from the sketch
    and the CMS one-sided bound (estimate ≥ exact) is emitted as a
    boolean the oracle pins TRUE. Integer counts — bit-exact across
    engines. The query needs the exact per-token counts anyway (the
    verification side), so the sketch is built in ROLLUP form from them
    (`counts_col` — cell sums identical by associativity): the cell hash
    runs over the vocabulary, not the corpus, and the token stream is
    aggregated exactly once. Estimation broadcasts the bounded sketch
    (operators/sketches.py)."""
    docs = _t(spark, sf_dir, "documents")
    toks = tokens_of(docs)
    # exact feeds the top-20, the sketch build, and the output join —
    # checkpoint the vocabulary-sized fork, not the token stream.
    exact = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .localCheckpoint(eager=False)
    )
    top = (
        exact.orderBy(F.col("exact_cnt").desc(), F.col("token").asc())
        .limit(20)
        .localCheckpoint(eager=False)  # referenced by estimate + output join
    )
    sketch = countmin_sketch(exact, width=256, depth=2, counts_col="exact_cnt")
    est = countmin_estimate(top.select("token"), sketch, width=256, depth=2)
    return top.join(F.broadcast(est), "token").select(
        "token",
        "exact_cnt",
        "est_cnt",
        (F.col("est_cnt") >= F.col("exact_cnt")).alias("cms_ok"),
    )


# ---------------------------------------------------------------------------
# SK4 — exact mergeable distinct rollup via bitmaps
# ---------------------------------------------------------------------------

_SK4_SQL = """
SELECT event_type, count(DISTINCT user_id)::BIGINT AS distinct_keys
FROM events GROUP BY event_type
"""


@register("sk4_bitmap_distinct_rollup", _SK4_SQL)
def sk4_bitmap_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct users per event type computed ONLY through the
    mergeable-bitmap path (operators/sketches.py): per-(event_type, day)
    bitmap state built with `bitmap_construct_agg`, then day-grain states
    union-merged (`bitmap_or_agg`) up to event_type and finalized with
    `bitmap_count`. The oracle is the plain COUNT(DISTINCT) — hash-exact
    agreement proves the partial state composes. This is the
    incremental-dashboard shape at 100 TB: nightly increments append
    day-grain bitmaps; any coarser distinct count is a merge of
    kilobyte state, never a re-scan of raw events."""
    from com_danliris_service_etl_spark.operators.sketches import (
        bitmap_distinct_state,
        bitmap_rollup_counts,
    )

    ev = _events(spark, sf_dir).withColumn("day", F.to_date("ts_utc"))
    fine = bitmap_distinct_state(ev, "user_id", ["event_type", "day"])
    return bitmap_rollup_counts(fine, ["event_type"])


# ---------------------------------------------------------------------------
# SK5 — HLL sketch union rollup with in-query accuracy contract
# ---------------------------------------------------------------------------

_SK5_SQL = """
SELECT source,
       count(DISTINCT doc_id)::BIGINT AS exact_docs,
       TRUE AS hll_ok
FROM documents GROUP BY source
"""


@register("sk5_hll_union_rollup", _SK5_SQL)
def sk5_hll_union_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DataSketches HLL distinct-doc counts per source, built at the
    finer (source, lang) grain and MERGED up with `hll_union_agg`
    (operators/sketches.py::hll_rollup) — the fixed-size mergeable
    cousin of sk4 for keys too wide for exact bitmaps. Estimates are
    engine-internal (sk1 pattern), so the query emits the exact count
    plus the in-query ±5% accuracy boolean and the oracle pins the
    boolean TRUE."""
    from com_danliris_service_etl_spark.operators.sketches import hll_rollup

    docs = _t(spark, sf_dir, "documents")
    est = hll_rollup(docs, "doc_id", ["source", "lang"], ["source"])
    exact = docs.groupBy("source").agg(F.count_distinct("doc_id").alias("exact_docs"))
    return exact.join(F.broadcast(est), "source").select(
        "source",
        "exact_docs",
        (
            F.abs(F.col("hll_estimate").cast("double") - F.col("exact_docs"))
            <= 0.05 * F.col("exact_docs")
        ).alias("hll_ok"),
    )


# ---------------------------------------------------------------------------
# SK6 — mergeable binned-quantile rollup with verified error bound
# ---------------------------------------------------------------------------

# Histogram state at (returnflag, linestatus) grain, merged to
# returnflag-grain quantile ESTIMATES. The estimates ARE cross-engine
# hash-comparable: every number on the path is a single IEEE op over
# deterministic inputs (lo = min, w = greatest((max-min)/256.0, 1e-12),
# bin = least(floor((x-lo)/w), 255), est = lo + (bin+1)*w), so DuckDB
# replicating the identical expressions reproduces them bit-exactly —
# a full value check, stronger than the old pinned-TRUE booleans. The
# order-statistic bracket proof (os_k ∈ [est − w, est], k = ceil(q·n))
# that previously rode INSIDE this query as two extra percentile()
# aggregates + a join-back scan was evidence a deployment never pays
# (it reads the state table, not raw rows) — r11 VERDICT task 2 moved
# it to tests/test_round7_ops.py::test_sk6_bracket_contract,
# so the benched query is exactly the deployable state→rollup path.
_SK6_SQL = """
WITH b AS (
  SELECT min(l_extendedprice) AS lo,
         greatest((max(l_extendedprice) - min(l_extendedprice)) / 256.0,
                  1e-12) AS w
  FROM lineitem),
state AS (
  SELECT l_returnflag, l_linestatus,
         least(floor((l_extendedprice - lo) / w), 255)::INT AS qbin,
         count(*)::BIGINT AS cnt
  FROM lineitem, b
  WHERE l_extendedprice IS NOT NULL
  GROUP BY 1, 2, 3),
merged AS (
  SELECT l_returnflag, qbin, sum(cnt)::BIGINT AS cnt
  FROM state GROUP BY 1, 2),
cum AS (
  SELECT l_returnflag, qbin,
         sum(cnt) OVER (PARTITION BY l_returnflag ORDER BY qbin)::BIGINT
           AS qcum,
         sum(cnt) OVER (PARTITION BY l_returnflag)::BIGINT AS qn
  FROM merged)
SELECT l_returnflag,
       max(qn)::BIGINT AS n,
       min(CASE WHEN qcum::DOUBLE >= qn::DOUBLE * 0.5
                THEN lo + (qbin + 1) * w END) AS q_0_5,
       min(CASE WHEN qcum::DOUBLE >= qn::DOUBLE * 0.95
                THEN lo + (qbin + 1) * w END) AS q_0_95
FROM cum, b GROUP BY l_returnflag
"""


@register("sk6_quantile_rollup", _SK6_SQL)
def sk6_quantile_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile rollup (operators/sketches.py::
    `binned_quantile_state` / `binned_quantile_rollup`): fixed-width
    histogram state at the fine grain — the quantile analogue of
    sk4/sk5's bitmap/HLL partial state (t-digest state isn't SQL-
    mergeable across grains; binned counts are) — merged to coarse-
    grain p50/p95 estimates. This is the DEPLOYABLE path alone: one
    1-row bounds aggregate (broadcast back), one map-side-combinable
    histogram groupBy, one bounded ≤256-rows-per-group window. The
    estimates hash-match the oracle because the whole arithmetic chain
    is deterministic single IEEE ops (see _SK6_SQL note); the
    order-statistic bracket guarantee is pinned in
    tests/test_round7_ops.py::test_sk6_bracket_contract."""
    from com_danliris_service_etl_spark.operators.sketches import (
        binned_quantile_rollup,
        binned_quantile_state,
        parquet_column_bounds,
    )

    li = _t(spark, sf_dir, "lineitem")
    # zone-map bounds: the binning grid needs only global min/max, which
    # parquet row-group statistics already hold exactly — skipping the
    # full bounds scan DuckDB's stats-backed min/max never pays either
    # (None → NaN-poisoned/absent stats → the in-engine scan fallback)
    bounds = parquet_column_bounds(
        spark, f"{sf_dir}/lineitem.parquet", "l_extendedprice"
    )
    state = binned_quantile_state(
        li, "l_extendedprice", ["l_returnflag", "l_linestatus"], 256,
        bounds=bounds,
    )
    rolled = binned_quantile_rollup(state, ["l_returnflag"], [0.5, 0.95])
    return rolled.select("l_returnflag", "n", "q_0_5", "q_0_95")
