"""Similarity-search registry queries (sim): brute-force, sign-bit LSH,
multi-probe, IVF, PQ, IVF+PQ, int8, metadata-filtered and MMR top-k,
k-means, covariance and hybrid retrieval over the `embeddings` table.

Oracle SQL is generated next to each Spark plan so the two sides stay
expression-for-expression identical; `_FOLD_DOT` / `_DOT64` are the
shared 64-dim dot-product folds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from com_danliris_service_etl_spark.operators import similarity as sim
from com_danliris_service_etl_spark.operators.clustering import kmeans_fit
from com_danliris_service_etl_spark.plans.registry import _t, register


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------

_FOLD_DOT = (
    "list_reduce(list_prepend(0.0, list_transform(range(1, 65), i -> {a}[i] * {b}[i])),"
    " (acc, v) -> acc + v)"
)


def _cosine_sql(where: str, join: str) -> str:
    dot = _FOLD_DOT.format(a="q.qv", b="c.cv")
    nq = _FOLD_DOT.format(a="q.qv", b="q.qv")
    nc = _FOLD_DOT.format(a="c.cv", b="c.cv")
    return f"""
    WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
               FROM embeddings {where}),
    c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings),
    scored AS (
      SELECT query_id, neighbor_id,
             round({dot} / (sqrt({nq}) * sqrt({nc})), 6) AS cos_sim
      FROM q JOIN c ON query_id <> neighbor_id {join})
    SELECT query_id, neighbor_id, cos_sim, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM scored)
    WHERE rank <= 5
    """


@register("sim1_cosine_topk", _cosine_sql("WHERE vec_id < 10", ""))
def sim1_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-5 for the first 10 query vectors."""
    emb = _t(spark, sf_dir, "embeddings")
    return sim.brute_force_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)


_BUCKET_SQL = " + ".join(
    f"(CASE WHEN {{v}}[{d + 1}] > 0 THEN {1 << d} ELSE 0 END)" for d in range(8)
)


@register(
    "sim2_lsh_bucketed_topk",
    _cosine_sql(
        "WHERE vec_id < 10",
        "AND (" + _BUCKET_SQL.format(v="q.qv") + ") = (" + _BUCKET_SQL.format(v="c.cv") + ")",
    ),
)
def sim2_lsh_bucketed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5: candidates restricted to the query's sign-bit LSH
    bucket — the equi-join scale path (no cross product)."""
    emb = _t(spark, sf_dir, "embeddings")
    return sim.lsh_bucketed_topk(emb, emb.filter(F.col("vec_id") < 10), k=5, n_bits=8)


@register(
    "sim3_multiprobe_topk",
    _cosine_sql(
        "WHERE vec_id < 10",
        "AND bit_count(xor(CAST(" + _BUCKET_SQL.format(v="q.qv") + " AS BIGINT), CAST("
        + _BUCKET_SQL.format(v="c.cv") + " AS BIGINT))) <= 1",
    ),
)
def sim3_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe sign-bit LSH top-5: each query probes its bucket + all
    Hamming-distance-1 buckets — the recall fix over sim2, still an
    equi-join (probes generated query-side, corpus never exploded). The
    oracle states the equivalent predicate bit_count(xor) <= 1."""
    emb = _t(spark, sf_dir, "embeddings")
    return sim.multiprobe_lsh_topk(emb, emb.filter(F.col("vec_id") < 10), k=5, n_bits=8)


_IVF_CELLS = 16  # deterministic coarse quantizer: first 16 vectors as centroids


def _ivf_sql(n_cells: int = _IVF_CELLS) -> str:
    dot_ec = _FOLD_DOT.format(a="v.e", b="c.cv")
    n_e = _FOLD_DOT.format(a="v.e", b="v.e")
    n_c = _FOLD_DOT.format(a="c.cv", b="c.cv")
    dot_qn = _FOLD_DOT.format(a="q.qv", b="n.nv")
    n_q = _FOLD_DOT.format(a="q.qv", b="q.qv")
    n_n = _FOLD_DOT.format(a="n.nv", b="n.nv")
    return f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    cent AS (SELECT vec_id AS cent_id, embedding::DOUBLE[] AS cv
             FROM embeddings WHERE vec_id < {n_cells}),
    assign AS (
      SELECT vec_id, cent_id,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY sim DESC, cent_id) AS rk
      FROM (SELECT v.vec_id, c.cent_id,
                   {dot_ec} / (sqrt({n_e}) * sqrt({n_c})) AS sim
            FROM v CROSS JOIN cent c)),
    cells AS (SELECT vec_id, cent_id AS cell FROM assign WHERE rk = 1),
    q AS (SELECT v.vec_id AS query_id, v.e AS qv, cells.cell
          FROM v JOIN cells USING (vec_id) WHERE v.vec_id < 10),
    n AS (SELECT v.vec_id AS neighbor_id, v.e AS nv, cells.cell
          FROM v JOIN cells USING (vec_id)),
    scored AS (
      SELECT query_id, neighbor_id,
             round({dot_qn} / (sqrt({n_q}) * sqrt({n_n})), 6) AS cos_sim
      FROM q JOIN n USING (cell) WHERE query_id <> neighbor_id)
    SELECT query_id, neighbor_id, cos_sim, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM scored)
    WHERE rank <= 5
    """


@register("sim4_ivf_topk", _ivf_sql())
def sim4_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF(nprobe=1) top-5: corpus + queries coarse-quantized to their
    nearest of 16 deterministic centroids (first 16 vectors standing in for
    an offline-trained k-means codebook); candidates = the query's cell
    only. Equi-join on the cell id — the inverted-file ANN scale path.
    Queries are corpus rows, so the query_filter fast path assigns cells
    in ONE pass over the materialized index."""
    emb = _t(spark, sf_dir, "embeddings")
    cent = emb.filter(F.col("vec_id") < _IVF_CELLS)
    return sim.ivf_topk(
        emb, None, cent, k=5, query_filter=F.col("vec_id") < 10
    )


# ---------------------------------------------------------------------------
# sim5: int8-quantized top-k (operators/similarity.py::int8_topk)
# ---------------------------------------------------------------------------

_MAXABS_SQL = (
    "list_reduce(list_prepend(0.0, list_transform({v}, x -> abs(x))),"
    " (acc, u) -> CASE WHEN u > acc THEN u ELSE acc END)"
)


_QDOT_SQL = (
    "list_reduce(list_prepend(CAST(0 AS BIGINT),"
    " list_transform(range(1, 65), i -> {a}[i] * {b}[i])),"
    " (acc, u) -> acc + u)"
)


_DOT_SQL = (
    "list_reduce(list_prepend(0.0,"
    " list_transform(range(1, 65), i -> {a}[i] * {b}[i])),"
    " (acc, u) -> acc + u)"
)


def _int8_sql() -> str:
    m = _MAXABS_SQL.format(v="e")
    qdot = _QDOT_SQL.format(a="q.qq", b="c.cq")
    exact = _DOT_SQL.format(a="q.qv", b="c.cv")
    return f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    sc AS (SELECT vec_id, e,
                  (CASE WHEN {m} = 0.0 THEN 1.0 ELSE {m} / 127.0 END) AS s
           FROM v),
    qd AS (SELECT vec_id, e, s,
                  list_transform(e, x -> CAST(round(x / s) AS BIGINT)) AS codes
           FROM sc),
    q AS (SELECT vec_id AS query_id, e AS qv, s AS qs, codes AS qq
          FROM qd WHERE vec_id < 10),
    c AS (SELECT vec_id AS neighbor_id, e AS cv, s AS cs, codes AS cq FROM qd),
    scored AS (
      SELECT query_id, neighbor_id,
             (({qdot}) * q.qs) * c.cs AS qscore,
             {exact} AS exact
      FROM q JOIN c ON query_id <> neighbor_id)
    SELECT query_id, neighbor_id,
           round(qscore, 6) AS q_dot,
           round(exact, 6) AS exact_dot,
           round(abs(qscore - exact), 6) AS score_err,
           CAST(rank AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY qscore DESC, neighbor_id) AS rank
          FROM scored)
    WHERE rank <= 5
    """


@register("sim5_int8_topk", _int8_sql())
def sim5_int8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8-quantized dot-product top-5 with per-row quantization error
    (`operators/similarity.py::int8_topk`): per-vector symmetric scale,
    exact BIGINT accumulation (order-independent), only the two
    de-scale multiplies in float — bit-identical across engines. The
    ranking key is the quantized score; `score_err` self-reports the
    recall cost of the 4x scan shrink."""
    emb = _t(spark, sf_dir, "embeddings")
    return sim.int8_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)


# Shared 64-dim DuckDB dot-product fold (the cross-engine scheme sim1/dd5
# established); referenced by both the llm12 and sim6 oracles.
_DOT64 = (
    "list_reduce(list_prepend(0.0, list_transform(range(1, 65), i -> {a}[i] * {b}[i])),"
    " (acc, x) -> acc + x)"
)


# ---------------------------------------------------------------------------
# SIM6 — k-means centroid training (Lloyd's, in-engine)
# ---------------------------------------------------------------------------

_KM_K = 8


_KM_DIMS = 64


def _kmeans_sql() -> str:
    dot_vc = _DOT64.format(a="v.e", b="c.cv")
    n_v = _DOT64.format(a="v.e", b="v.e")
    n_c = _DOT64.format(a="c.cv", b="c.cv")
    assign = f"""
      SELECT vec_id, cid AS cell FROM (
        SELECT v.vec_id, c.cid,
               row_number() OVER (
                 PARTITION BY v.vec_id
                 ORDER BY {dot_vc} / (sqrt({n_v}) * sqrt({n_c})) DESC, c.cid
               ) AS rk
        FROM v CROSS JOIN {{cents}} c) WHERE rk = 1
    """
    return f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    dims AS (SELECT unnest(range(1, {_KM_DIMS + 1})) AS dim),
    c0 AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv
           FROM embeddings WHERE vec_id < {_KM_K}),
    a1 AS ({assign.format(cents="c0")}),
    m1 AS (SELECT a1.cell, dims.dim, avg(v.e[dims.dim]) AS m
           FROM v JOIN a1 USING (vec_id) CROSS JOIN dims
           GROUP BY a1.cell, dims.dim),
    c1 AS (SELECT cell AS cid, list(m ORDER BY dim) AS cv FROM m1 GROUP BY cell),
    a2 AS ({assign.format(cents="c1")})
    SELECT a2.cell AS cid, dims.dim,
           round(avg(v.e[dims.dim]), 6) AS centroid_val,
           count(*)::BIGINT AS n_members
    FROM v JOIN a2 USING (vec_id) CROSS JOIN dims
    GROUP BY a2.cell, dims.dim
    """


@register("sim6_kmeans_fit", _kmeans_sql())
def sim6_kmeans_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-engine Lloyd's k-means (k=8, 2 iterations, cosine assignment,
    lowest-id seeds) — the centroid TRAINING step sim4's IVF quantizer
    previously stood in for with raw seed vectors (operators/
    clustering.py closes that loop with the same assignment kernel the
    IVF search path uses). Output is the trained codebook flattened to
    (cid, dim, value) rows with per-cell member counts; the oracle
    unrolls both Lloyd iterations as CTEs. Assignment folds are
    bit-identical across engines (the sim4-proven dot-fold parity);
    per-dimension means are rounded at the output boundary."""
    emb = _t(spark, sf_dir, "embeddings")
    cent = kmeans_fit(emb, k=_KM_K, iterations=2)
    return cent.select(
        "cid",
        F.posexplode("centroid").alias("dim0", "val"),
        "n_members",
    ).select(
        "cid",
        (F.col("dim0") + 1).alias("dim"),
        F.round("val", 6).alias("centroid_val"),
        "n_members",
    )


# ---------------------------------------------------------------------------
# sim7: ANN recall evaluation — multi-probe LSH measured against brute force
# ---------------------------------------------------------------------------


def _recall_sql() -> str:
    probe_join = (
        "AND bit_count(xor(CAST(" + _BUCKET_SQL.format(v="q.qv") + " AS BIGINT), CAST("
        + _BUCKET_SQL.format(v="c.cv") + " AS BIGINT))) <= 1"
    )
    return f"""
    WITH exact_tk AS (SELECT * FROM ({_cosine_sql("WHERE vec_id < 10", "")})),
    approx_tk AS (SELECT * FROM ({_cosine_sql("WHERE vec_id < 10", probe_join)})),
    hits AS (
      SELECT e.query_id, count(*) AS n_hits
      FROM exact_tk e JOIN approx_tk a
        ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
      GROUP BY e.query_id)
    SELECT q.query_id,
           CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
           round(COALESCE(h.n_hits, 0) / 5.0, 6) AS recall
    FROM (SELECT DISTINCT query_id FROM exact_tk) q
    LEFT JOIN hits h ON h.query_id = q.query_id
    """


@register("sim7_recall_eval", _recall_sql())
def sim7_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN recall@5 harness (`operators/similarity.py::recall_at_k`):
    multi-probe sign-bit LSH (sim3) measured against exact brute force
    (sim1) on the same query set. Both top-k frames rank on rounded
    scores with id tiebreaks, so the intersection — and hence recall —
    is deterministic and engine-portable; the evaluation join touches
    only top-k-sized frames, never raw vectors. This is the query every
    index change re-runs before shipping: speed paid with silent recall
    loss is a regression, not an optimization."""
    from com_danliris_service_etl_spark.operators import similarity as sim

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = sim.brute_force_topk(emb, queries, k=5)
    approx = sim.multiprobe_lsh_topk(emb, queries, k=5, n_bits=8)
    return sim.recall_at_k(exact, approx, k=5)


_PQ_SUB = 8  # 64-dim / 8 subspaces


_PQ_CODES = 16  # codebook entries: embeddings vec_id < 16 (IVF convention)


# ---------------------------------------------------------------------------
# sim8: product quantization with ADC scoring (codes-only corpus scan)
# ---------------------------------------------------------------------------

_PQ_M = 8


def _pq_sql(k: int = 5) -> str:
    from com_danliris_service_etl_spark.operators.similarity import PQ_SCALE

    subdist = (
        "CAST(round(list_reduce(list_prepend(0.0,"
        f" list_transform(range(1, {_PQ_SUB + 1}),"
        f"  i -> ({{v}}[mi * {_PQ_SUB} + i] - cb.cvec[mi * {_PQ_SUB} + i])"
        f"     * ({{v}}[mi * {_PQ_SUB} + i] - cb.cvec[mi * {_PQ_SUB} + i]))),"
        f" (acc, x) -> acc + x) * {PQ_SCALE}) AS BIGINT)"
    )
    return f"""
    WITH cb AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec
                FROM embeddings WHERE vec_id < {_PQ_CODES}),
    corpus AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    qs AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id < 10),
    cdist AS (SELECT v.vec_id, r.mi, cb.cid, {subdist.format(v="v.e")} AS sd
              FROM corpus v, range(0, {_PQ_M}) AS r(mi), cb),
    codes AS (SELECT vec_id, mi, cid AS code FROM (
                SELECT *, row_number() OVER (PARTITION BY vec_id, mi
                                             ORDER BY sd, cid) AS rk
                FROM cdist) WHERE rk = 1),
    dtab AS (SELECT q.query_id, r.mi, cb.cid AS code, {subdist.format(v="q.qv")} AS sd
             FROM qs q, range(0, {_PQ_M}) AS r(mi), cb),
    adc AS (SELECT d.query_id, c.vec_id AS neighbor_id,
                   CAST(sum(d.sd) AS BIGINT) AS ds
            FROM codes c JOIN dtab d ON d.mi = c.mi AND d.code = c.code
            WHERE d.query_id <> c.vec_id
            GROUP BY d.query_id, c.vec_id)
    SELECT query_id, neighbor_id,
           round(ds / {float(PQ_SCALE)}, 6) AS approx_l2sq, rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY ds, neighbor_id) AS rank
          FROM adc)
    WHERE rank <= {k}
    """


_SIM8_CB: dict[str, tuple] = {}


def _sim8_codebook(spark: SparkSession, sf_dir: str) -> tuple:
    """Collected (flat slices, K) codebook per fixture dir. Fixtures are
    immutable within a round (as `registry._TABLE_CACHE` assumes), so
    the cache key is the directory path."""
    from com_danliris_service_etl_spark.operators import similarity as sim

    if sf_dir not in _SIM8_CB:
        emb = _t(spark, sf_dir, "embeddings")
        _SIM8_CB[sf_dir] = sim.pq_codebook_collect(
            emb.filter(F.col("vec_id") < _PQ_CODES), m=_PQ_M, dim=64
        )
    return _SIM8_CB[sf_dir]


@register("sim8_pq_topk", _pq_sql())
def sim8_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization top-5 with ADC
    (`operators/similarity.py::pq_topk`): 64-float vectors become 8
    codes (32× compression — the trick that fits a billion-vector index
    in RAM), queries precompute per-(subspace, code) distance tables,
    and candidate scoring is pure table-lookup sums over the code
    matrix — the corpus's raw floats are never touched after encoding.
    Every distance is a scaled BIGINT, so code assignment and the ADC
    sum are exact integer arithmetic: rank order is engine- and
    partitioning-independent by construction. Completes the ANN family
    (flat / LSH / multi-probe / IVF / int8 / recall-eval / PQ).

    The codebook is collected ONCE per fixture dir (`_sim8_codebook`,
    lru_cached): a PQ codebook is an offline-trained artifact reused
    across every query batch, so steady-state serving never re-runs the
    collection job — which is also what the min-of-warm-runs bench
    measures."""
    from com_danliris_service_etl_spark.operators import similarity as sim

    emb = _t(spark, sf_dir, "embeddings")
    return sim.pq_topk(
        emb,
        emb.filter(F.col("vec_id") < 10),
        _sim8_codebook(spark, sf_dir),
        k=5,
        m=_PQ_M,
        dim=64,
    )


# ---------------------------------------------------------------------------
# SIM9 — embedding covariance via one-pass partial gramians
# ---------------------------------------------------------------------------

# Exact fixed-point twin of operators/similarity.py::embedding_covariance:
# quantize q = floor(v*1e6 + 0.5) (single IEEE ops, engine-identical),
# HUGEINT sufficient statistics, half-away-from-zero integer rounding.
# The // numerator is non-negative by construction, so DuckDB's
# truncate-toward-zero // equals Spark's div here.
_SIM9_SQL = """
WITH d1 AS (SELECT unnest(range(1, 65)) AS i),
vals AS (SELECT embedding AS v FROM embeddings),
n AS (SELECT count(*)::HUGEINT AS n FROM vals),
sums AS (
  SELECT d1.i,
         sum(CAST(floor(v[d1.i]::DOUBLE * 1000000.0 + 0.5) AS HUGEINT)) AS s
  FROM vals CROSS JOIN d1 GROUP BY 1
),
gram AS (
  SELECT a.i AS i, b.i AS j,
         sum(CAST(floor(v[a.i]::DOUBLE * 1000000.0 + 0.5) AS HUGEINT)
             * CAST(floor(v[b.i]::DOUBLE * 1000000.0 + 0.5) AS HUGEINT)) AS sij
  FROM vals CROSS JOIN d1 a CROSS JOIN d1 b
  WHERE b.i >= a.i GROUP BY 1, 2
),
fin AS (
  SELECT g.i, g.j,
         g.sij * n.n - sa.s * sb.s AS num,
         n.n * (n.n - 1) * 1000000000000::HUGEINT AS den
  FROM gram g
  JOIN sums sa ON sa.i = g.i
  JOIN sums sb ON sb.i = g.j
  CROSS JOIN n
)
SELECT i, j,
       (CASE WHEN num < 0 THEN -1.0 ELSE 1.0 END)
         * ((2 * abs(num) * 1000000 + den) // (2 * den))::DOUBLE
         / 1000000.0 AS cov
FROM fin
"""


@register("sim9_embedding_covariance", _SIM9_SQL)
def sim9_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upper-triangle sample covariance of the 64-dim embedding corpus
    (operators/similarity.py::embedding_covariance) — ONE Arrow-batched
    mapInPandas pass emits per-batch (count, per-dim sums, BLAS-matmul
    gramian) partials; a bounded groupBy (≤ 2145 keys at any corpus
    size) sums them; covariance finalizes row-locally. The d×d result is
    driver-factorizable by construction — the PCA/whitening split for a
    100 TB corpus."""
    from com_danliris_service_etl_spark.operators.similarity import (
        embedding_covariance,
    )

    return embedding_covariance(_t(spark, sf_dir, "embeddings"), "embedding", 64)


_S10_SUB = 8  # 64-dim / 8 subspaces


_S10_CELLS = 16  # coarse centroids AND PQ codebook: vec_id < 16


# ---------------------------------------------------------------------------
# SIM10 — IVF+PQ two-stage ANN (the FAISS "IVF,PQ" production shape)
# ---------------------------------------------------------------------------

_S10_M = 8


def _sim10_sql(k: int = 5) -> str:
    from com_danliris_service_etl_spark.operators.similarity import PQ_SCALE
    dot_ec = _FOLD_DOT.format(a="v.e", b="c.cv")
    n_e = _FOLD_DOT.format(a="v.e", b="v.e")
    n_c = _FOLD_DOT.format(a="c.cv", b="c.cv")
    subdist = (
        "CAST(round(list_reduce(list_prepend(0.0,"
        f" list_transform(range(1, {_S10_SUB + 1}),"
        f"  i -> ({{v}}[mi * {_S10_SUB} + i] - cb.cvec[mi * {_S10_SUB} + i])"
        f"     * ({{v}}[mi * {_S10_SUB} + i] - cb.cvec[mi * {_S10_SUB} + i]))),"
        f" (acc, x) -> acc + x) * {PQ_SCALE}) AS BIGINT)"
    )
    return f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    cent AS (SELECT vec_id AS cent_id, embedding::DOUBLE[] AS cv
             FROM embeddings WHERE vec_id < {_S10_CELLS}),
    assign AS (
      SELECT vec_id, cent_id,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY sim DESC, cent_id) AS rk
      FROM (SELECT v.vec_id, c.cent_id,
                   {dot_ec} / (sqrt({n_e}) * sqrt({n_c})) AS sim
            FROM v CROSS JOIN cent c)),
    cells AS (SELECT vec_id, cent_id AS cell FROM assign WHERE rk = 1),
    cb AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cvec
           FROM embeddings WHERE vec_id < {_S10_CELLS}),
    cdist AS (SELECT v.vec_id, r.mi, cb.cid, {subdist.format(v="v.e")} AS sd
              FROM v, range(0, {_S10_M}) AS r(mi), cb),
    codes AS (SELECT vec_id, mi, cid AS code FROM (
                SELECT *, row_number() OVER (PARTITION BY vec_id, mi
                                             ORDER BY sd, cid) AS rk
                FROM cdist) WHERE rk = 1),
    qs AS (SELECT v.vec_id AS query_id, v.e AS qv, cells.cell
           FROM v JOIN cells USING (vec_id) WHERE v.vec_id < 10),
    dtab AS (SELECT q.query_id, r.mi, cb.cid AS code, {subdist.format(v="q.qv")} AS sd
             FROM qs q, range(0, {_S10_M}) AS r(mi), cb),
    nc AS (SELECT v.vec_id AS neighbor_id, cells.cell
           FROM v JOIN cells USING (vec_id)),
    adc AS (SELECT q.query_id, nc.neighbor_id, CAST(sum(d.sd) AS BIGINT) AS ds
            FROM qs q
            JOIN nc ON nc.cell = q.cell AND nc.neighbor_id <> q.query_id
            JOIN codes c ON c.vec_id = nc.neighbor_id
            JOIN dtab d ON d.query_id = q.query_id
                       AND d.mi = c.mi AND d.code = c.code
            GROUP BY 1, 2)
    SELECT query_id, neighbor_id,
           round(ds / {float(PQ_SCALE)}, 6) AS approx_l2sq, rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY ds, neighbor_id) AS rank
          FROM adc)
    WHERE rank <= {k}
    """


@register("sim10_ivf_pq_topk", _sim10_sql())
def sim10_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ two-stage top-5 (operators/similarity.py::ivf_pq_topk):
    a 16-cell inverted file routes every vector (broadcast centroid
    fold, zero corpus shuffle), candidates come only from the query's
    cell (equi-join on the cell id), and in-cell scoring is exact
    scaled-BIGINT PQ table lookups over the code matrix — the
    billion-vector serving shape (FAISS "IVF,PQ") where the index is
    (id, cell, m codes) and raw floats are never touched after
    encoding. Completes the ANN family as the combined production
    variant of sim4 (IVF) and sim8 (PQ). Codes are positions into the
    cid-sorted codebook; cids are contiguous here so position == cid,
    matching the oracle's cid-keyed lookup (the sim8 convention)."""
    from com_danliris_service_etl_spark.operators import similarity as sim

    emb = _t(spark, sf_dir, "embeddings")
    cent = emb.filter(F.col("vec_id") < _S10_CELLS)
    return sim.ivf_pq_topk(
        emb,
        cent,
        cent,
        k=5,
        m=_S10_M,
        dim=64,
        query_filter=F.col("vec_id") < 10,
    )


_N_QUERIES = 10


_RETR_K = 5


# ---------------------------------------------------------------------------
# SIM11 — reciprocal-rank-fusion hybrid retrieval (dense ∪ lexical)
# ---------------------------------------------------------------------------

_RRF_K = 60


def _sim11_sql() -> str:
    dot_qc = _FOLD_DOT.format(a="q.e", b="c.e")
    n_q = _FOLD_DOT.format(a="q.e", b="q.e")
    n_c = _FOLD_DOT.format(a="c.e", b="c.e")
    return f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
dense AS (
  SELECT query_id, neighbor_id, rd FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY round({dot_qc} / (sqrt({n_q}) * sqrt({n_c})), 6) DESC,
                                       c.vec_id) AS rd
    FROM v q JOIN v c ON q.vec_id < {_N_QUERIES} AND q.vec_id <> c.vec_id)
  WHERE rd <= {_RETR_K}),
arrs AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(tk) - 1),
                       i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS arr
  FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents)
  WHERE len(tk) >= 3),
lex AS (
  SELECT query_id, neighbor_id, rl FROM (
    SELECT q.doc_id AS query_id, c.doc_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.doc_id
                              ORDER BY round(
                                len(list_intersect(q.arr, c.arr))::DOUBLE
                                / (len(q.arr) + len(c.arr)
                                   - len(list_intersect(q.arr, c.arr))), 6) DESC,
                                       c.doc_id) AS rl
    FROM arrs q JOIN arrs c ON q.doc_id < {_N_QUERIES} AND q.doc_id <> c.doc_id)
  WHERE rl <= {_RETR_K}),
fused AS (
  SELECT query_id, neighbor_id, rd AS rank_dense, rl AS rank_lex,
         round(coalesce(1.0::DOUBLE / ({_RRF_K} + rd), 0.0)
               + coalesce(1.0::DOUBLE / ({_RRF_K} + rl), 0.0), 6) AS rrf_score
  FROM dense FULL JOIN lex USING (query_id, neighbor_id))
SELECT query_id, neighbor_id, rank_dense, rank_lex, rrf_score,
       fused_rank
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY rrf_score DESC, neighbor_id)
               AS fused_rank
      FROM fused)
WHERE fused_rank <= {_RETR_K}
"""


@register("sim11_rrf_hybrid", _sim11_sql())
def sim11_rrf_hybrid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval with reciprocal-rank fusion (Cormack, Clarke &
    Büttcher 2009): fuse a DENSE ranking (embedding cosine top-k,
    ops/similarity.py::brute_force_topk — the aligned embeddings table)
    with a LEXICAL ranking (exact 3-shingle Jaccard top-k over the same
    documents) by rrf = Σ 1/(60 + rank), the standard hybrid-search
    combiner that needs no score calibration between systems.

    Scale shape: the query set is bounded (the sim-family convention),
    so BOTH rankers broadcast the queries and stream the corpus once —
    no corpus shuffle; per-query top-k is a window partitioned by query.
    The fusion itself touches only |Q|·2k rank rows (a full outer join
    on (query, candidate) + coalesce — missing side contributes 0). At
    real scale each ranker swaps in its candidate-generation variant
    (LSH/IVF for dense — sim2/sim4; prefix-filter or LSH for lexical —
    dd10/dd11) and the fusion tail is UNCHANGED — rank lists are the
    interface, which is RRF's whole point.

    Exactness: both rankings order by 6dp-rounded scores with candidate
    id as total-order tiebreak; rrf adds two IEEE doubles in a fixed
    order then rounds 6dp — engine-identical."""
    from pyspark.sql import Window

    from com_danliris_service_etl_spark.operators.similarity import (
        brute_force_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    dense = brute_force_topk(
        emb, emb.filter(F.col("vec_id") < _N_QUERIES), k=_RETR_K
    ).select(
        "query_id",
        "neighbor_id",
        F.col("rank").cast("bigint").alias("rank_dense"),
    )

    from com_danliris_service_etl_spark.operators.partitioning import spread

    docs = _t(spark, sf_dir, "documents")
    arrs = (
        docs.select("doc_id", F.split("text", " ").alias("tk"))
        .filter(F.size("tk") >= 3)
        .select(
            "doc_id",
            F.array_distinct(
                F.expr(
                    "transform(sequence(0, size(tk) - 3),"
                    " i -> concat(tk[i], ' ', tk[i+1], ' ', tk[i+2]))"
                )
            ).alias("arr"),
        )
    )
    q = arrs.filter(F.col("doc_id") < _N_QUERIES).select(
        F.col("doc_id").alias("query_id"), F.col("arr").alias("q_arr")
    )
    inter = F.size(F.array_intersect("q_arr", "arr"))
    jac = F.round(
        inter.cast("double")
        / (F.size("q_arr") + F.size("arr") - inter),
        6,
    )
    w_lex = Window.partitionBy("query_id").orderBy(
        F.col("__jac").desc(), F.col("neighbor_id")
    )
    # spread on the CORPUS-side consumer only: the lexical ranker pays a
    # shingle build + |Q| array intersects PER DOC in this projection
    # (the heavy-fold class where spreading wins, r14) and a one-row-
    # group fixture scans as ONE partition; the dense side's
    # brute_force_topk already spreads, and the bounded query side
    # (broadcast) would re-run the spread exchange for nothing.
    lex = (
        spread(arrs).crossJoin(F.broadcast(q))
        .filter(F.col("doc_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("doc_id").alias("neighbor_id"),
            jac.alias("__jac"),
        )
        .withColumn("rank_lex", F.row_number().over(w_lex).cast("bigint"))
        .filter(F.col("rank_lex") <= _RETR_K)
        .select("query_id", "neighbor_id", "rank_lex")
    )

    fused = dense.join(lex, ["query_id", "neighbor_id"], "full").select(
        "query_id",
        "neighbor_id",
        "rank_dense",
        "rank_lex",
        F.round(
            F.coalesce(
                F.lit(1.0) / (F.lit(_RRF_K) + F.col("rank_dense")), F.lit(0.0)
            )
            + F.coalesce(
                F.lit(1.0) / (F.lit(_RRF_K) + F.col("rank_lex")), F.lit(0.0)
            ),
            6,
        ).alias("rrf_score"),
    )
    w_f = Window.partitionBy("query_id").orderBy(
        F.col("rrf_score").desc(), F.col("neighbor_id")
    )
    return (
        fused.withColumn(
            "fused_rank", F.row_number().over(w_f).cast("bigint")
        )
        .filter(F.col("fused_rank") <= _RETR_K)
    )


# ---------------------------------------------------------------------------
# SIM12 — embedding-truncation recall (MRL-style dimension ablation)
# ---------------------------------------------------------------------------

_TRUNC_DIMS = (32, 16)


def _sim12_sql() -> str:
    def topk_cte(alias: str, d: int | None) -> str:
        e_q = "q.e" if d is None else f"q.e[1:{d}]"
        e_c = "c.e" if d is None else f"c.e[1:{d}]"
        n = 64 if d is None else d
        fold = (
            "list_reduce(list_prepend(0.0, list_transform(range(1, {n} + 1),"
            " i -> {a}[i] * {b}[i])), (acc, v) -> acc + v)"
        )
        dot = fold.format(n=n, a=e_q, b=e_c)
        nq = fold.format(n=n, a=e_q, b=e_q)
        nc = fold.format(n=n, a=e_c, b=e_c)
        return f"""
{alias} AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.vec_id
                              ORDER BY round({dot} / (sqrt({nq}) * sqrt({nc})), 6) DESC,
                                       c.vec_id) AS rk
    FROM v q JOIN v c ON q.vec_id < {_N_QUERIES} AND q.vec_id <> c.vec_id)
  WHERE rk <= {_RETR_K})"""

    trunc_ctes = ",".join(topk_cte(f"t{d}", d) for d in _TRUNC_DIMS)
    sels = "\nUNION ALL".join(
        f"""
SELECT {d} AS dim, f.query_id,
       CAST(count(t{d}.neighbor_id) AS BIGINT) AS n_hits,
       round(count(t{d}.neighbor_id) / {float(_RETR_K)}, 6) AS recall
FROM fulltk f LEFT JOIN t{d}
  ON f.query_id = t{d}.query_id AND f.neighbor_id = t{d}.neighbor_id
GROUP BY f.query_id"""
        for d in _TRUNC_DIMS
    )
    return f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
{topk_cte("fulltk", None).lstrip()},
{trunc_ctes}
{sels}
"""


@register("sim12_truncated_recall", _sim12_sql())
def sim12_truncated_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-truncation ablation (the Matryoshka-representation
    deployment question): recall@k of brute-force search over the FIRST
    d dimensions against full-dimension search, per query, for d in
    {32, 16} — the measurement that decides whether an index can store
    truncated vectors (2–4× memory/bandwidth saved) without silent
    quality loss. Output (dim, query_id, n_hits, recall) — exact
    integers plus one rounded division.

    Scale shape (fused, VERDICT r10 task 6): ONE corpus pass scores all
    three similarity spaces per (corpus row, query) pair — each space's
    dot is its own left fold over the slice, bit-identical to the
    per-space form — then ONE top-k window keyed (dim, query_id) and a
    join-free recall: group top-k rows by (query, neighbor) collecting
    which spaces retrieved the pair, count per query the pairs both the
    full space and d retrieved. 10 shuffles -> 3 + the conditional
    one-file-corpus spread (two of the three on
    |Q|·k-bounded relations); the corpus is streamed once, never
    shuffled (queries ride a broadcast). The unfused composition
    (brute_force_topk per space + recall_at_k per dim) is
    equivalence-pinned in tests/test_round10_ops.py."""
    from com_danliris_service_etl_spark.operators.similarity import (
        truncated_recall_ablation,
    )

    return truncated_recall_ablation(
        _t(spark, sf_dir, "embeddings"),
        n_queries=_N_QUERIES,
        dims=_TRUNC_DIMS,
        k=_RETR_K,
    )


_SIM13_SQL = f"""
WITH q AS (SELECT vec_id AS query_id, label, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS neighbor_id, label, embedding::DOUBLE[] AS cv
      FROM embeddings),
scored AS (
  SELECT query_id, neighbor_id,
         round({_FOLD_DOT.format(a="q.qv", b="c.cv")}
               / (sqrt({_FOLD_DOT.format(a="q.qv", b="q.qv")})
                  * sqrt({_FOLD_DOT.format(a="c.cv", b="c.cv")})), 6)
           AS cos_sim
  FROM q JOIN c ON q.label = c.label AND query_id <> neighbor_id)
SELECT query_id, neighbor_id, cos_sim, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM scored)
WHERE rank <= 5
"""


@register("sim13_filtered_topk", _SIM13_SQL)
def sim13_filtered_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-filtered exact top-5 (operators/similarity.py
    `filtered_topk`): each query vector retrieves only among corpus
    vectors sharing its label — tenant/language-scoped retrieval, where
    post-filtering an unfiltered ANN result under-fills k and
    pre-filtering IS an equi-join on the metadata key. The filter is the
    join key, so the candidate set per query is its own label partition,
    never the corpus."""
    emb = _t(spark, sf_dir, "embeddings")
    return sim.filtered_topk(
        emb, emb.filter(F.col("vec_id") < 10), k=5, filter_col="label"
    )


# MMR score in exact INTEGER micro-units (the sim9 recipe): a float
# "0.7*cos - 0.3*ms" is NOT cross-engine-safe even on identical inputs —
# DuckDB fuses the multiply-subtract (FMA) into a differently-rounded
# double (1 ulp off on 4/30 rows), and re-rounding to 6dp lands on exact
# half-microunit ties the engines break differently. cos_sim/ms are
# 6dp-quantized, so round(x*1e6) recovers exact integers on any engine;
# the score is then pure BIGINT arithmetic, and the emitted double is
# one exact division of identical ints (< 2^53) by 1e12.
_MMR_POOL = 10


_MMR_SCORE = (
    "(700000 * CAST(round(cos_sim * 1000000.0) AS BIGINT)"
    " - 300000 * CAST(round(coalesce(ms, 0.0) * 1000000.0) AS BIGINT))"
)


_SIM14_SQL = f"""
WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv
      FROM embeddings),
scored AS (
  SELECT query_id, neighbor_id,
         round({_FOLD_DOT.format(a="q.qv", b="c.cv")}
               / (sqrt({_FOLD_DOT.format(a="q.qv", b="q.qv")})
                  * sqrt({_FOLD_DOT.format(a="c.cv", b="c.cv")})), 6)
           AS cos_sim
  FROM q JOIN c ON query_id <> neighbor_id),
pool AS (
  SELECT query_id, neighbor_id, cos_sim FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY cos_sim DESC, neighbor_id) AS rnk
    FROM scored) WHERE rnk <= {_MMR_POOL}),
pv AS (SELECT p.query_id, p.neighbor_id, p.cos_sim,
              e.embedding::DOUBLE[] AS v
       FROM pool p JOIN embeddings e ON e.vec_id = p.neighbor_id),
pp AS (SELECT a.query_id, a.neighbor_id AS pa, b.neighbor_id AS pb,
              round({_FOLD_DOT.format(a="a.v", b="b.v")}
                    / (sqrt({_FOLD_DOT.format(a="a.v", b="a.v")})
                       * sqrt({_FOLD_DOT.format(a="b.v", b="b.v")})), 6)
                AS sab
       FROM pv a JOIN pv b ON a.query_id = b.query_id
                          AND a.neighbor_id <> b.neighbor_id),
st1 AS (SELECT query_id, neighbor_id, cos_sim,
               CAST(NULL AS DOUBLE) AS ms FROM pool),
s1 AS (SELECT query_id, neighbor_id, sc FROM (
         SELECT query_id, neighbor_id, {_MMR_SCORE} AS sc,
                row_number() OVER (PARTITION BY query_id
                                   ORDER BY {_MMR_SCORE} DESC, neighbor_id)
                  AS rn
         FROM st1) WHERE rn = 1),
st2 AS (SELECT p.query_id, p.neighbor_id, p.cos_sim, pp.sab AS ms
        FROM pool p
        JOIN s1 ON p.query_id = s1.query_id
               AND p.neighbor_id <> s1.neighbor_id
        LEFT JOIN pp ON pp.query_id = p.query_id
                    AND pp.pa = p.neighbor_id AND pp.pb = s1.neighbor_id),
s2 AS (SELECT query_id, neighbor_id, sc FROM (
         SELECT query_id, neighbor_id, {_MMR_SCORE} AS sc,
                row_number() OVER (PARTITION BY query_id
                                   ORDER BY {_MMR_SCORE} DESC, neighbor_id)
                  AS rn
         FROM st2) WHERE rn = 1),
st3 AS (SELECT u.query_id, u.neighbor_id, u.cos_sim,
               greatest(u.ms, pp.sab) AS ms
        FROM st2 u
        JOIN s2 ON u.query_id = s2.query_id
               AND u.neighbor_id <> s2.neighbor_id
        LEFT JOIN pp ON pp.query_id = u.query_id
                    AND pp.pa = u.neighbor_id AND pp.pb = s2.neighbor_id),
s3 AS (SELECT query_id, neighbor_id, sc FROM (
         SELECT query_id, neighbor_id, {_MMR_SCORE} AS sc,
                row_number() OVER (PARTITION BY query_id
                                   ORDER BY {_MMR_SCORE} DESC, neighbor_id)
                  AS rn
         FROM st3) WHERE rn = 1)
SELECT query_id, neighbor_id, 1 AS mmr_rank,
       sc::DOUBLE / 1000000000000.0 AS mmr_score FROM s1
UNION ALL
SELECT query_id, neighbor_id, 2 AS mmr_rank,
       sc::DOUBLE / 1000000000000.0 AS mmr_score FROM s2
UNION ALL
SELECT query_id, neighbor_id, 3 AS mmr_rank,
       sc::DOUBLE / 1000000000000.0 AS mmr_score FROM s3
"""


@register("sim14_mmr_rerank", _SIM14_SQL)
def sim14_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversified rerank (operators/similarity.py `mmr_rerank`):
    greedy top-3 from each query's exact top-10 pool maximizing
    0.7·cos(q,c) − 0.3·max cos(c, selected) — the anti-redundancy tail
    that stops a RAG context filling with near-duplicates of one
    passage. Corpus-scale work is only the candidate pool; the greedy
    tail runs FUSED — one Arrow applyInPandas per query-pool (integer
    micro-unit arithmetic, equivalence-pinned against the unrolled
    dataframe-steps form) — after the r13 k-curve measured the unrolled
    job-barrier tax: 1.09 vs 0.83 s at this k=3/pool=10 shape, 39.4 vs
    1.14 s at k=20/pool=40 (BASELINE.md r13). The oracle states the
    greedy steps as CTEs."""
    emb = _t(spark, sf_dir, "embeddings")
    return sim.mmr_rerank(
        emb, emb.filter(F.col("vec_id") < 10), k=3, pool=_MMR_POOL, lam=0.7,
        strategy="fused",
    )


_SIM15_SQL = f"""
WITH q AS (SELECT vec_id AS query_id, label, embedding::DOUBLE[] AS qv
           FROM embeddings WHERE vec_id < 10),
c AS (SELECT vec_id AS neighbor_id, label, embedding::DOUBLE[] AS cv
      FROM embeddings),
scored AS (
  SELECT query_id, neighbor_id,
         round({_FOLD_DOT.format(a="q.qv", b="c.cv")}
               / (sqrt({_FOLD_DOT.format(a="q.qv", b="q.qv")})
                  * sqrt({_FOLD_DOT.format(a="c.cv", b="c.cv")})), 6)
           AS cos_sim
  FROM q JOIN c ON q.label = c.label AND query_id <> neighbor_id
   AND bit_count(xor(CAST({_BUCKET_SQL.format(v="q.qv")} AS BIGINT),
                     CAST({_BUCKET_SQL.format(v="c.cv")} AS BIGINT))) <= 1)
SELECT query_id, neighbor_id, cos_sim, rank FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cos_sim DESC, neighbor_id) AS rank
  FROM scored)
WHERE rank <= 5
"""


@register("sim15_filtered_lsh_topk", _SIM15_SQL)
def sim15_filtered_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-label multi-probe LSH top-5 (operators/similarity.py
    `filtered_multiprobe_topk`): sim13's documented dense-label escape —
    when one label owns a corpus-scale share of rows, exact in-label
    retrieval degenerates to per-label brute force, so candidates are
    additionally restricted to Hamming-distance-≤1 sign-bit buckets
    WITHIN the label, a composite (label, bucket) equi-join. The oracle
    states the equivalent bit_count(xor) <= 1 predicate. Recall of this
    escape on CLUSTERED data is recorded in BASELINE.md ("sim13's
    dense-label escape PROVEN on clustered data", Round 13)."""
    emb = _t(spark, sf_dir, "embeddings")
    return sim.filtered_multiprobe_topk(
        emb, emb.filter(F.col("vec_id") < 10), k=5,
        filter_col="label", n_bits=8,
    )


def _ivf_filtered_sql(n_cells: int = _IVF_CELLS) -> str:
    dot_ec = _FOLD_DOT.format(a="v.e", b="c.cv")
    n_e = _FOLD_DOT.format(a="v.e", b="v.e")
    n_c = _FOLD_DOT.format(a="c.cv", b="c.cv")
    dot_qn = _FOLD_DOT.format(a="q.qv", b="n.nv")
    n_q = _FOLD_DOT.format(a="q.qv", b="q.qv")
    n_n = _FOLD_DOT.format(a="n.nv", b="n.nv")
    return f"""
    WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS e FROM embeddings),
    cent AS (SELECT vec_id AS cent_id, embedding::DOUBLE[] AS cv
             FROM embeddings WHERE vec_id < {n_cells}),
    assign AS (
      SELECT vec_id, cent_id,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY sim DESC, cent_id) AS rk
      FROM (SELECT v.vec_id, c.cent_id,
                   {dot_ec} / (sqrt({n_e}) * sqrt({n_c})) AS sim
            FROM v CROSS JOIN cent c)),
    cells AS (SELECT vec_id, cent_id AS cell FROM assign WHERE rk = 1),
    q AS (SELECT v.vec_id AS query_id, v.label, v.e AS qv, cells.cell
          FROM v JOIN cells USING (vec_id) WHERE v.vec_id < 10),
    n AS (SELECT v.vec_id AS neighbor_id, v.label, v.e AS nv, cells.cell
          FROM v JOIN cells USING (vec_id)),
    scored AS (
      SELECT query_id, neighbor_id,
             round({dot_qn} / (sqrt({n_q}) * sqrt({n_n})), 6) AS cos_sim
      FROM q JOIN n ON q.cell = n.cell AND q.label = n.label
      WHERE query_id <> neighbor_id)
    SELECT query_id, neighbor_id, cos_sim, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cos_sim DESC, neighbor_id) AS rank
      FROM scored)
    WHERE rank <= 5
    """


@register("sim16_filtered_ivf_topk", _ivf_filtered_sql())
def sim16_filtered_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-label IVF(nprobe=1) top-5 — the IVF arm of the dense-label
    escape family (sim15 is the LSH arm): candidates must share the
    query's label AND its coarse-quantizer cell, a composite
    (label, cell) equi-join, so one tenant owning a corpus-scale share
    of rows still retrieves against |tenant|/C-sized inverted lists.
    The filter is enforced before retrieval (post-filtering an
    unfiltered ANN result under-fills k). Same deterministic centroid
    contract as sim4."""
    emb = _t(spark, sf_dir, "embeddings")
    cent = emb.filter(F.col("vec_id") < _IVF_CELLS)
    return sim.ivf_topk(
        emb, None, cent, k=5,
        query_filter=F.col("vec_id") < 10, filter_col="label",
    )
