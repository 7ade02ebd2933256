"""LLM-training-data pipeline registry queries: corpus curation funnels,
splits, decontamination, mixtures, SemDeDup, DSIR and budget curation
(llm); sequence packing and chunking (pk); multimodal binary plumbing
(mm).

Extensions beyond the reference ETL's own surface; they are the
operations a 100 TB LLM-corpus pipeline layers on top. Oracle SQL is kept
expression-for-expression identical to the Spark plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from com_danliris_service_etl_spark.operators import dedup as dd
from com_danliris_service_etl_spark.operators import multimodal as mm
from com_danliris_service_etl_spark.operators import packing as pk
from com_danliris_service_etl_spark.operators import text as tx
from com_danliris_service_etl_spark.operators.graph import pagerank
from com_danliris_service_etl_spark.operators.text import LANG_MARKERS, quality_col
from com_danliris_service_etl_spark.plans.queries_dedup import (
    _DD5_BUCKET,
    _DD5_DOT,
    _minhash_sql,
)
from com_danliris_service_etl_spark.plans.queries_similarity import _DOT64, _FOLD_DOT
from com_danliris_service_etl_spark.plans.queries_text import _hits_sql, _langid_sql
from com_danliris_service_etl_spark.plans.registry import _t, register


# ---------------------------------------------------------------------------
# Composed training-data funnel
# ---------------------------------------------------------------------------


def _clean_corpus_sql() -> str:
    en = _hits_sql(LANG_MARKERS["en"])
    return f"""
    WITH lang AS ({_langid_sql()}),
    qual AS (
      SELECT doc_id,
             round(CAST({en} AS DOUBLE) / len(string_split(text, ' ')) * 0.3
                   + CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                     / len(string_split(text, ' ')) * 0.5
                   + least(CAST(list_reduce(list_prepend(0, list_transform(
                                  string_split(text, ' '), t -> length(t))),
                                (a, b) -> a + b) AS DOUBLE)
                           / len(string_split(text, ' ')) / 10.0, 1.0) * 0.2,
                   6) AS quality
      FROM documents),
    keep AS (SELECT min(doc_id) AS keeper_id FROM documents GROUP BY md5(text))
    SELECT d.doc_id, d.source, d.n_chars, lang.lang_pred, qual.quality
    FROM documents d
    JOIN lang USING (doc_id)
    JOIN qual USING (doc_id)
    WHERE d.doc_id IN (SELECT keeper_id FROM keep)
      AND lang.lang_pred = 'en' AND qual.quality >= 0.5
    """


@register("llm1_clean_corpus", _clean_corpus_sql())
def llm1_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data preprocessing funnel — language filter ∘
    quality threshold ∘ exact-dedup keeper — as ONE declarative plan, the
    shape a 100 TB corpus actually runs nightly. The langid and quality
    stages are pure per-row expressions, so they are FUSED into the scan
    projection (`language_pred_col`/`quality_col`) rather than computed
    as separate frames and joined back on the id — two whole join
    shuffles gone. The dedup digest is fused into the SAME projection
    and the text-free base is materialized once (lazy checkpoint), so
    the corpus text is read and hashed in a SINGLE pass feeding both
    the keeper aggregate and the semi-join (the two-reference fork
    otherwise re-runs the scan per reference; measured −20% at sf0.1,
    identical results). Remaining shuffles: the digest groupBy and the
    keeper semi-join, both keyed on uniformly-distributed hashes. Each
    stage is individually verified by txt3 / txt2 / dd1
    (`exact_dedup_groups` stays the standalone dd1 operator); this
    query verifies their composition."""
    from com_danliris_service_etl_spark.operators.partitioning import spread

    # spread: langid+quality+digest is the funnel's hot projection and a
    # one-file corpus would run it on ONE partition (the sim1 lesson, r11)
    docs = spread(_t(spark, sf_dir, "documents"))
    base = docs.select(
        "doc_id",
        "source",
        "n_chars",
        tx.language_pred_col().alias("lang_pred"),
        tx.quality_col().alias("quality"),
        F.md5(F.col("text")).alias("__digest"),
    ).localCheckpoint(eager=False)
    keep = (
        base.groupBy("__digest")
        .agg(F.min("doc_id").alias("keeper_id"))
        .select("keeper_id")
    )
    return (
        base.join(keep, F.col("doc_id") == F.col("keeper_id"), "left_semi")
        .filter((F.col("lang_pred") == "en") & (F.col("quality") >= 0.5))
        .select("doc_id", "source", "n_chars", "lang_pred", "quality")
    )


# ---------------------------------------------------------------------------
# Deterministic corpus sampling
# ---------------------------------------------------------------------------


@register(
    "llm2_hash_split",
    """
    SELECT doc_id,
           ('0x' || substring(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100 AS bucket,
           CASE WHEN ('0x' || substring(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100 < 90
                  THEN 'train'
                WHEN ('0x' || substring(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100 < 95
                  THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """,
)
def llm2_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split by id-hash bucket: shuffle-free
    per-row projection, stable under corpus growth, verified (not sampled)
    — the reproducible-split primitive a training pipeline needs."""
    from com_danliris_service_etl_spark.operators.sampling import hash_split

    return hash_split(_t(spark, sf_dir, "documents"))


@register(
    "llm3_quota_sample",
    """
    SELECT doc_id, lang, source, sample_rank FROM (
      SELECT doc_id, lang, source,
             row_number() OVER (PARTITION BY lang, source
                                ORDER BY md5(doc_id::VARCHAR), doc_id)
               AS sample_rank
      FROM documents)
    WHERE sample_rank <= 50
    """,
)
def llm3_quota_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-(lang, source) quota downsampling (hash-ranked,
    cap 50): the anti-domination lever for mixed corpora, with a kept set
    that is stable across partitionings and reruns."""
    from com_danliris_service_etl_spark.operators.sampling import quota_per_group

    return quota_per_group(_t(spark, sf_dir, "documents"), cap=50)


# ---------------------------------------------------------------------------
# Benchmark decontamination
# ---------------------------------------------------------------------------


def _decontamination_sql(k: int = 3, bench_max_id: int = 20) -> str:
    shingle = " || ' ' || ".join(f"t[i+{j}]" for j in range(k))
    return f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (SELECT DISTINCT doc_id, {shingle} AS s
           FROM toks, UNNEST(range(1, len(t) - {k - 2})) AS u(i)
           WHERE len(t) >= {k}),
    bench AS (SELECT DISTINCT s FROM sh WHERE doc_id < {bench_max_id}),
    corpus AS (SELECT doc_id, s FROM sh WHERE doc_id >= {bench_max_id}),
    tot AS (SELECT doc_id, count(*)::BIGINT AS n_shingles FROM corpus GROUP BY doc_id),
    hit AS (SELECT c.doc_id, count(*)::BIGINT AS n_hit
            FROM corpus c JOIN bench b ON c.s = b.s GROUP BY c.doc_id)
    SELECT t.doc_id, t.n_shingles,
           coalesce(h.n_hit, 0)::BIGINT AS n_hit,
           coalesce(h.n_hit, 0)::DOUBLE / t.n_shingles::DOUBLE AS contamination
    FROM tot t LEFT JOIN hit h USING (doc_id)
    """


@register("llm5_decontamination", _decontamination_sql())
def llm5_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-corpus hygiene: per-document fraction of distinct
    3-shingles that appear in a held-out benchmark set (docs 0..19 stand
    in for the eval set). The corpus side is scored per-row against the
    broadcast benchmark shingle array
    (`operators/dedup.py::contamination_scores`) — zero corpus shuffle;
    the oracle computes the same overlap via an exploded semi-join. The
    downstream decontamination filter is `contamination < threshold`."""
    from com_danliris_service_etl_spark.operators.dedup import contamination_scores

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") < 20)
    corpus = docs.filter(F.col("doc_id") >= 20)
    return contamination_scores(corpus, bench)


@register(
    "llm6_weighted_sample",
    """
    WITH keyed AS (
      SELECT doc_id, lang, n_chars AS weight,
             round(pow((('0x' || substring(md5(doc_id::VARCHAR), 1, 8))::BIGINT
                          ::DOUBLE + 1.0) / 4294967297.0,
                       1.0 / n_chars::DOUBLE), 12) AS k
      FROM documents WHERE n_chars > 0),
    ranked AS (
      SELECT doc_id, lang, weight,
             row_number() OVER (PARTITION BY lang ORDER BY k DESC, doc_id)
               AS sample_rank
      FROM keyed)
    SELECT doc_id, lang, weight, sample_rank
    FROM ranked WHERE sample_rank <= 50
    """,
)
def llm6_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted sampling without replacement (A-ES
    exponential keys, `operators/sampling.py::weighted_sample_per_group`)
    — longer documents proportionally likelier, per-lang top-50,
    reproducible from the id hash alone. Ranked on the rounded key with
    id tiebreak so pow() ulp differences can't flip cross-engine order."""
    from com_danliris_service_etl_spark.operators.sampling import (
        weighted_sample_per_group,
    )

    return weighted_sample_per_group(
        _t(spark, sf_dir, "documents"), weight_col="n_chars"
    )


# ---------------------------------------------------------------------------
# llm7: end-to-end semantic dedup (dd5 pairs → dd6 clusters → keepers)
# ---------------------------------------------------------------------------


def _semantic_dedup_sql(threshold: float = 0.3) -> str:
    return f"""
    WITH RECURSIVE v AS (SELECT vec_id, embedding::DOUBLE[] AS e,
                                ({_DD5_BUCKET.format(v="embedding")}) AS blk
                         FROM embeddings),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM v a JOIN v b ON a.vec_id < b.vec_id AND a.blk = b.blk
      WHERE round({_DD5_DOT.format(a="a.e", b="b.e")}
                  / (sqrt({_DD5_DOT.format(a="a.e", b="a.e")})
                     * sqrt({_DD5_DOT.format(a="b.e", b="b.e")})), 6)
            >= {threshold}),
    edges AS (
      SELECT id_a AS a, id_b AS b FROM pairs
      UNION
      SELECT id_b, id_a FROM pairs),
    reach(node, lbl) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.a, r.lbl FROM edges e JOIN reach r ON e.b = r.node),
    comp AS (SELECT node, min(lbl) AS cluster_id FROM reach GROUP BY node)
    SELECT emb.vec_id,
           CAST(COALESCE(c.cluster_id, emb.vec_id) AS BIGINT) AS cluster_id,
           (COALESCE(c.cluster_id, emb.vec_id) = emb.vec_id) AS is_keeper
    FROM embeddings emb LEFT JOIN comp c ON c.node = emb.vec_id
    """


@register("llm7_semantic_dedup", _semantic_dedup_sql())
def llm7_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full SEMANTIC-dedup funnel a training corpus runs, composed
    end-to-end: embedding-cosine near-dup pairs (sign-bit LSH blocked,
    `dd5`) → connected components (`dedup_clusters`, iterative min-label
    propagation) → per-vector verdict: its cluster id (own id when
    unclustered) and whether it is the cluster's keeper (min id). The
    downstream delete is `filter(is_keeper)`. Each stage is individually
    oracle-verified (dd5, dd6); this query verifies the composition the
    way llm1 does for the lexical funnel."""
    emb = _t(spark, sf_dir, "embeddings")
    pairs = dd.embedding_neardup_pairs(
        emb, threshold=0.3, lsh_bits=8, materialize_prepped=True
    )
    clusters = dd.dedup_clusters(pairs, id_a="id_a", id_b="id_b")
    cl = clusters.select(
        F.col("doc_id").alias("vec_id"), F.col("cluster_id").alias("__cl")
    )
    return (
        emb.select("vec_id")
        .join(cl, "vec_id", "left")
        .select(
            "vec_id",
            F.coalesce(F.col("__cl"), F.col("vec_id")).alias("cluster_id"),
            (F.coalesce(F.col("__cl"), F.col("vec_id")) == F.col("vec_id")).alias(
                "is_keeper"
            ),
        )
    )


_MIX_RES = 1_000_000


# ---------------------------------------------------------------------------
# llm8: deterministic corpus mixing by per-source sampling rate
# ---------------------------------------------------------------------------

# rates over the fixture's actual sources: a dropped source (rate 0), two
# downsampled ones, a fully-kept one; unlisted sources ride default_rate=1.0
_MIX_RATES = {"src0": 0.0, "src1": 0.3, "src2": 1.0, "src3": 0.5}


def _mixture_sql() -> str:
    cases = " ".join(
        f"WHEN source = '{g}' THEN {float(r)}" for g, r in sorted(_MIX_RATES.items())
    )
    return f"""
    SELECT doc_id, source,
           ('0x' || substring(md5(doc_id::VARCHAR), 1, 8))::BIGINT
             % {_MIX_RES} AS bucket,
           CASE {cases} ELSE 1.0 END AS rate,
           (('0x' || substring(md5(doc_id::VARCHAR), 1, 8))::BIGINT % {_MIX_RES}
            < (CASE {cases} ELSE 1.0 END) * {_MIX_RES}) AS kept
    FROM documents
    """


@register("llm8_mixture_sample", _mixture_sql())
def llm8_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture composition: per-source sampling rates ("web at
    0.3, books at 1.0, wiki at 0.8") applied as a deterministic
    Bernoulli-by-id-hash keep decision
    (`operators/sampling.py::mixture_sample`). Zero shuffle — a per-row
    projection pipelined into the scan; append-stable; and raising a rate
    keeps a superset of the previous mixture (the threshold just moves),
    so mixture iteration re-materializes only the delta."""
    from com_danliris_service_etl_spark.operators.sampling import mixture_sample

    return mixture_sample(
        _t(spark, sf_dir, "documents"), rates=_MIX_RATES, resolution=_MIX_RES
    )


# ---------------------------------------------------------------------------
# llm9: textual near-dup funnel — LSH candidates → EXACT-Jaccard verify →
#       clusters → per-doc verdict (the lexical twin of llm7's semantic path)
# ---------------------------------------------------------------------------


def _textual_neardup_sql(thresh_num: int = 19, thresh_den: int = 20) -> str:
    return f"""
    WITH RECURSIVE cand AS ({_minhash_sql()}),
    toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
           FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i) WHERE len(t) >= 3),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (SELECT c.doc_a, c.doc_b, count(*) AS i
              FROM cand c JOIN sh a ON a.doc_id = c.doc_a
                          JOIN sh b ON b.doc_id = c.doc_b AND b.s = a.s
              GROUP BY c.doc_a, c.doc_b),
    verified AS (
      SELECT c.doc_a, c.doc_b
      FROM cand c LEFT JOIN inter i USING (doc_a, doc_b)
      JOIN sizes sa ON sa.doc_id = c.doc_a
      JOIN sizes sb ON sb.doc_id = c.doc_b
      WHERE COALESCE(i.i, 0) * {thresh_den}
            >= (sa.n + sb.n - COALESCE(i.i, 0)) * {thresh_num}),
    edges AS (SELECT doc_a AS a, doc_b AS b FROM verified
              UNION SELECT doc_b, doc_a FROM verified),
    reach(node, lbl) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.a, r.lbl FROM edges e JOIN reach r ON e.b = r.node),
    comp AS (SELECT node, min(lbl) AS cluster_id FROM reach GROUP BY node)
    SELECT d.doc_id,
           CAST(COALESCE(c.cluster_id, d.doc_id) AS BIGINT) AS cluster_id,
           (COALESCE(c.cluster_id, d.doc_id) = d.doc_id) AS is_keeper
    FROM documents d LEFT JOIN comp c ON c.node = d.doc_id
    """


@register("llm9_textual_neardup", _textual_neardup_sql())
def llm9_textual_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full LEXICAL near-dup funnel, end-to-end: MinHash+LSH candidate
    pairs (`dd2`, probabilistic) → EXACT-Jaccard verification over the
    candidates only (`operators/dedup.py::exact_jaccard_verify`, integer
    threshold 19/20 = 0.95 — no float decides a deletion) → connected
    components (`dedup_clusters`) → per-document verdict (cluster id +
    keeper flag). The lexical twin of llm7's semantic funnel: candidate
    generation is cheap-and-recall-oriented, the delete decision is
    exact, and the expensive set intersection touches only the candidate
    set — the three-stage shape every production dedup run takes."""
    from com_danliris_service_etl_spark.operators import dedup as dd

    docs = _t(spark, sf_dir, "documents")
    cands = dd.minhash_lsh_pairs(docs)
    ver = dd.exact_jaccard_verify(docs, cands, thresh_num=19, thresh_den=20)
    edges = ver.filter(F.col("verified")).select("doc_a", "doc_b")
    clusters = dd.dedup_clusters(edges, id_a="doc_a", id_b="doc_b")
    cl = clusters.select(
        F.col("doc_id").alias("__id"), F.col("cluster_id").alias("__cl")
    )
    return (
        docs.select(F.col("doc_id"))
        .join(cl, F.col("doc_id") == F.col("__id"), "left")
        .select(
            "doc_id",
            F.coalesce(F.col("__cl"), F.col("doc_id")).alias("cluster_id"),
            (F.coalesce(F.col("__cl"), F.col("doc_id")) == F.col("doc_id")).alias(
                "is_keeper"
            ),
        )
    )


def _leakage_safe_split_sql() -> str:
    b = "('0x' || substring(md5(cluster_id::VARCHAR), 1, 8))::BIGINT % 100"
    return f"""
    WITH RECURSIVE cand AS ({_minhash_sql()}),
    edges AS (SELECT doc_a AS a, doc_b AS b FROM cand
              UNION SELECT doc_b, doc_a FROM cand),
    reach(node, lbl) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.a, r.lbl FROM edges e JOIN reach r ON e.b = r.node),
    comp AS (SELECT node, min(lbl) AS cluster_id FROM reach GROUP BY node),
    assigned AS (
      SELECT d.doc_id,
             CAST(COALESCE(c.cluster_id, d.doc_id) AS BIGINT) AS cluster_id
      FROM documents d LEFT JOIN comp c ON c.node = d.doc_id)
    SELECT doc_id, cluster_id,
           {b} AS bucket,
           CASE WHEN {b} < 90 THEN 'train'
                WHEN {b} < 95 THEN 'val'
                ELSE 'test' END AS split
    FROM assigned
    """


@register("llm10_leakage_safe_split", _leakage_safe_split_sql())
def llm10_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split
    (`operators/sampling.py::cluster_safe_split`): llm2's hash split
    assigns documents independently, so near-duplicates can straddle
    train and test — the classic eval-leakage bug. Here the assignment
    unit is the near-dup CLUSTER (LSH candidate pairs → connected
    components), bucketed by md5 of the cluster id: every member lands
    in the same split by construction, and candidates are deliberately
    UNVERIFIED — a false-positive edge only over-merges, which never
    leaks (verification matters when a pair decides a deletion, not a
    grouping)."""
    from com_danliris_service_etl_spark.operators import dedup as dd
    from com_danliris_service_etl_spark.operators.sampling import (
        cluster_safe_split,
    )

    docs = _t(spark, sf_dir, "documents")
    cands = dd.minhash_lsh_pairs(docs).select("doc_a", "doc_b")
    return cluster_safe_split(docs, cands)


_LLM11_BENCH_MAX_ID = 20


_LLM11_SQL = f"""
    WITH btoks AS (SELECT string_split(text, ' ') AS t FROM documents
                   WHERE doc_id < {_LLM11_BENCH_MAX_ID}),
    bench AS (SELECT DISTINCT t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
              FROM btoks, UNNEST(range(1, len(t) - 1)) AS u(i)
              WHERE len(t) >= 3),
    toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
             WHERE doc_id >= {_LLM11_BENCH_MAX_ID} AND text IS NOT NULL),
    pass AS (SELECT doc_id, p.p AS pos, t[p.p*20+1 : p.p*20+20] AS pt
             FROM toks,
                  UNNEST(range(0, CAST(ceil(len(t) / 20.0) AS INT))) AS p(p)),
    psh AS (SELECT doc_id, pos, pt[i] || ' ' || pt[i+1] || ' ' || pt[i+2] AS s
            FROM pass, UNNEST(range(1, len(pt) - 1)) AS u(i)
            WHERE len(pt) >= 3),
    hits AS (SELECT DISTINCT doc_id, pos FROM psh JOIN bench USING (s)),
    agg AS (SELECT doc_id, count(*) AS n_passages FROM pass GROUP BY doc_id),
    h AS (SELECT doc_id, count(*) AS n_cont, min(pos) AS first_pos
          FROM hits GROUP BY doc_id)
    SELECT a.doc_id,
           a.n_passages::BIGINT AS n_passages,
           COALESCE(h.n_cont, 0)::BIGINT AS n_contaminated,
           h.first_pos::BIGINT AS first_hit_pos,
           round(CAST(COALESCE(h.n_cont, 0) AS DOUBLE) / a.n_passages, 6)
             AS cont_share
    FROM agg a LEFT JOIN h USING (doc_id)
"""


@register("llm11_contamination_spans", _LLM11_SQL)
def llm11_contamination_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-grain contamination localization
    (`operators/dedup.py::contamination_passages`): llm5 scores overall
    benchmark overlap per document; this pins WHICH 20-token passages
    carry it (any 3-shingle in the benchmark set) — the signal a
    surgical decontamination pass deletes on (drop the passage, keep
    the document). Benchmark shingles collapse to one broadcast array;
    the passage split, per-passage shingles and verdicts are nested
    higher-order functions in ONE per-row projection — zero corpus
    shuffle, no explode."""
    from com_danliris_service_etl_spark.operators.dedup import (
        contamination_passages,
    )

    docs = _t(spark, sf_dir, "documents")
    return contamination_passages(
        docs.filter(F.col("doc_id") >= _LLM11_BENCH_MAX_ID),
        docs.filter(F.col("doc_id") < _LLM11_BENCH_MAX_ID),
        k_pass=20,
        k_shingle=3,
    )


# ---------------------------------------------------------------------------
# LLM12 — centrality-based keeper selection over the near-dup graph
# ---------------------------------------------------------------------------

_L12_BUCKET = " + ".join(
    f"(CASE WHEN embedding[{d + 1}] > 0 THEN {1 << d} ELSE 0 END)" for d in range(8)
)


_LLM12_SQL = f"""
WITH RECURSIVE v AS (SELECT vec_id, embedding::DOUBLE[] AS e,
                            ({_L12_BUCKET}) AS blk
                     FROM embeddings),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round({_DOT64.format(a="a.e", b="b.e")}
               / (sqrt({_DOT64.format(a="a.e", b="a.e")})
                  * sqrt({_DOT64.format(a="b.e", b="b.e")})), 6) AS cos_sim
  FROM v a JOIN v b ON a.vec_id < b.vec_id AND a.blk = b.blk),
good AS (SELECT * FROM pairs WHERE cos_sim >= 0.3),
edges AS (
  SELECT id_a AS src, id_b AS dst, cos_sim AS w FROM good
  UNION ALL
  SELECT id_b AS src, id_a AS dst, cos_sim AS w FROM good),
norm AS (SELECT src, dst, w / sum(w) OVER (PARTITION BY src) AS nw FROM edges),
nodes AS (SELECT DISTINCT src AS node FROM edges),
nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
r0 AS (SELECT node, 1.0 / nn.n AS r FROM nodes CROSS JOIN nn),
c1 AS (SELECT norm.dst AS node, sum(r0.r * norm.nw) AS c
       FROM norm JOIN r0 ON r0.node = norm.src GROUP BY norm.dst),
r1 AS (SELECT x.node, (1.0 - 0.85) / nn.n + 0.85 * coalesce(c1.c, 0) AS r
       FROM nodes x CROSS JOIN nn LEFT JOIN c1 ON c1.node = x.node),
c2 AS (SELECT norm.dst AS node, sum(r1.r * norm.nw) AS c
       FROM norm JOIN r1 ON r1.node = norm.src GROUP BY norm.dst),
r2 AS (SELECT x.node, (1.0 - 0.85) / nn.n + 0.85 * coalesce(c2.c, 0) AS r
       FROM nodes x CROSS JOIN nn LEFT JOIN c2 ON c2.node = x.node),
reach(node, lbl) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.node),
comp AS (SELECT node, min(lbl) AS cluster_id FROM reach GROUP BY node)
SELECT comp.node AS vec_id,
       CAST(comp.cluster_id AS BIGINT) AS cluster_id,
       round(r2.r, 8) AS rank,
       (row_number() OVER (PARTITION BY comp.cluster_id
                           ORDER BY round(r2.r, 8) DESC, comp.node) = 1
       ) AS is_centrality_keeper
FROM comp JOIN r2 ON r2.node = comp.node
"""


@register("llm12_centrality_keeper", _LLM12_SQL)
def llm12_centrality_keeper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Representative-document selection, composed end-to-end: embedding
    near-dup pairs (dd5, sign-bit LSH blocked) → similarity-weighted
    PageRank over the bidirected dup graph (g8's operator) → connected
    components (dd6's operator) → per-cluster keeper = the most CENTRAL
    member (highest rank), not merely the lowest id — the data-curation
    upgrade over llm7's min-id keeper: the kept document is the one most
    representative of its duplicate cluster. Keeper comparison uses the
    8dp-ROUNDED rank on both engines, so a structurally-symmetric
    cluster (exactly tied centrality) resolves by the id tiebreak
    identically everywhere; every stage reuses an individually
    oracle-verified operator."""
    from com_danliris_service_etl_spark.operators import dedup as dd

    emb = _t(spark, sf_dir, "embeddings")
    pairs = dd.embedding_neardup_pairs(
        emb, threshold=0.3, lsh_bits=8, materialize_prepped=True
    ).localCheckpoint(eager=False)  # feeds both edge directions + CC
    edges = pairs.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst"), "cos_sim"
    ).unionByName(
        pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"), "cos_sim")
    )
    pr = pagerank(
        edges,
        weight="cos_sim",
        iterations=2,
        damping=0.85,
        sources_cover_nodes=True,  # bidirected by construction
        broadcast_ranks=True,  # |V| = clustered vectors — dimension-scale
    )
    clusters = dd.dedup_clusters(pairs, id_a="id_a", id_b="id_b")
    ranked = clusters.join(
        pr, clusters["doc_id"] == pr["node"]
    ).select(
        F.col("doc_id").alias("vec_id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
        F.round("rank", 8).alias("rank"),
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("rank").desc(), F.col("vec_id").asc()
    )
    return ranked.select(
        "vec_id",
        "cluster_id",
        "rank",
        (F.row_number().over(w) == 1).alias("is_centrality_keeper"),
    )


# ---------------------------------------------------------------------------
# LLM13 — n-gram novelty of the eval split against the train split
# ---------------------------------------------------------------------------

_LLM13_SQL = """
WITH d AS (
  SELECT doc_id, text,
         ('0x' || substring(md5(doc_id::VARCHAR), 1, 8))::BIGINT % 100 AS bucket
  FROM documents
),
toks AS (SELECT doc_id, bucket, string_split(text, ' ') AS t FROM d),
sh AS (
  SELECT DISTINCT doc_id, bucket, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
  FROM toks, unnest(range(1, len(t) - 1)) AS u(i)
  WHERE len(t) >= 3
),
train AS (SELECT DISTINCT s AS ts FROM sh WHERE bucket < 90),
ev AS (SELECT doc_id, s FROM sh WHERE bucket >= 90)
SELECT ev.doc_id,
       count(*)::BIGINT AS n_shingles,
       sum(CASE WHEN train.ts IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_novel,
       round(sum(CASE WHEN train.ts IS NULL THEN 1 ELSE 0 END) * 1.0
             / count(*), 6) AS novelty
FROM ev LEFT JOIN train ON train.ts = ev.s
GROUP BY ev.doc_id
"""


@register("llm13_ngram_novelty", _LLM13_SQL)
def llm13_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-eval-doc distinct-3-shingle novelty against the train split
    (llm2's hash-split rule: md5 bucket < 90 = train, ≥ 90 = eval) —
    operators/dedup.py::ngram_novelty. The membership test is one LEFT
    equi-join on the shingle string against the train set's distinct
    aggregate; no per-row set structure anywhere."""
    docs = _t(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        % 100
    )
    with_bucket = docs.withColumn("__bucket", bucket)
    train = with_bucket.filter(F.col("__bucket") < 90)
    ev = with_bucket.filter(F.col("__bucket") >= 90)
    return dd.ngram_novelty(train, ev, shingle_k=3)


# ---------------------------------------------------------------------------
# LLM14 — corpus dataset card (docs / dups / tokens / chars per slice)
# ---------------------------------------------------------------------------

_LLM14_SQL = """
WITH h AS (
  SELECT source, lang, md5(text) AS hh, count(*)::BIGINT AS c,
         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tok,
         CAST(sum(n_chars) AS BIGINT) AS chars
  FROM documents GROUP BY 1, 2, 3
)
SELECT source, lang,
       CAST(sum(c) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS BIGINT) AS n_dup_docs,
       CAST(sum(tok) AS BIGINT) AS total_tokens,
       round(sum(chars) / CAST(sum(c) AS DOUBLE), 4) AS avg_chars,
       round(sum(CASE WHEN c > 1 THEN c ELSE 0 END) / CAST(sum(c) AS DOUBLE), 6) AS dup_ratio
FROM h GROUP BY 1, 2
"""


@register("llm14_corpus_report", _LLM14_SQL)
def llm14_corpus_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dataset-card aggregate a training-data pipeline publishes per
    (source, lang) slice: doc count, exact-duplicate count (docs whose
    md5(text) appears more than once in the slice), token and char
    totals, dup ratio. TWO-LEVEL hash aggregation — per-(slice, hash)
    partials first, then the slice reduce — so duplicate detection
    costs no self-join and no window over a hot hash key; both
    aggregations are map-side combinable, and every output number is a
    sum/division of exact integers."""
    d = _t(spark, sf_dir, "documents")
    per_hash = d.groupBy(
        "source", "lang", F.md5("text").alias("hh")
    ).agg(
        F.count(F.lit(1)).alias("c"),
        F.sum(F.size(F.split("text", " ")).cast("long")).alias("tok"),
        F.sum("n_chars").alias("chars"),
    )
    dup_c = F.when(F.col("c") > 1, F.col("c")).otherwise(F.lit(0))
    return per_hash.groupBy("source", "lang").agg(
        F.sum("c").alias("n_docs"),
        F.sum(dup_c).alias("n_dup_docs"),
        F.sum("tok").alias("total_tokens"),
        F.round(F.sum("chars").cast("double") / F.sum("c"), 4).alias("avg_chars"),
        F.round(F.sum(dup_c).cast("double") / F.sum("c"), 6).alias("dup_ratio"),
    )


# ---------------------------------------------------------------------------
# LLM15 — per-stratum token-budget curation
# ---------------------------------------------------------------------------

_LLM15_SQL = """
WITH scored AS (
  SELECT doc_id, lang, n_chars,
         len(list_distinct(string_split(text, ' ')))::DOUBLE
           / len(string_split(text, ' ')) AS r
  FROM documents
),
c AS (
  SELECT doc_id, lang, n_chars, r,
         sum(n_chars) OVER (PARTITION BY lang ORDER BY r DESC, doc_id
                            ROWS UNBOUNDED PRECEDING) AS cum
  FROM scored
)
SELECT doc_id, lang, n_chars,
       round(r, 6) AS rank_ratio,
       cum::BIGINT AS cum_chars
FROM c WHERE cum <= 10000
"""


@register("llm15_token_budget_cap", _LLM15_SQL)
def llm15_token_budget_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language token-budget curation: rank each stratum's documents
    by a quality proxy (distinct-token ratio — the repetition penalty,
    computed as an exact integer ratio so both engines order
    identically), keep documents while the stratum's RUNNING character
    total stays within budget. This is the data-recipe primitive that
    fills a per-language budget with the best documents first, rather
    than sampling at a fixed rate (llm3) or weight (llm6).

    Scale shape: one shuffle partitions by lang; the running sum is a
    single ordered-window pass. The stratum count bounds parallelism —
    with a handful of giant strata the single-window form serializes
    each stratum into one task, so the fact-scale path is
    ops/windows.py::grouped_running_sum_distributed (two-pass range
    recipe: per-(partition, group) partials + broadcast prefix offsets;
    equivalence-tested against this window form, exact for the integral
    budget column). The registry keeps the single-window form, which is
    the honest choice at the fixture's 5-stratum/500-row scale. Budget
    quantities (n_chars) are BIGINT — the crossing comparison is
    exact."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    r = F.size(F.array_distinct(toks)).cast("double") / F.size(toks)
    scored = d.select("doc_id", "lang", "n_chars", r.alias("r"))
    w = (
        Window.partitionBy("lang")
        .orderBy(F.col("r").desc(), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        scored.withColumn("cum", F.sum("n_chars").over(w))
        .filter(F.col("cum") <= 10000)
        .select(
            "doc_id",
            "lang",
            "n_chars",
            F.round("r", 6).alias("rank_ratio"),
            F.col("cum").cast("bigint").alias("cum_chars"),
        )
    )


# ---------------------------------------------------------------------------
# LLM16 — contamination-aware split repair
# ---------------------------------------------------------------------------

_LLM16_SQL = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
       FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i)
       WHERE len(t) >= 3),
bench AS (SELECT DISTINCT s FROM sh WHERE doc_id < 20),
corpus AS (SELECT doc_id, s FROM sh WHERE doc_id >= 20),
tot AS (SELECT doc_id, count(*)::BIGINT AS n_shingles FROM corpus GROUP BY doc_id),
hit AS (SELECT c.doc_id, count(*)::BIGINT AS n_hit
        FROM corpus c JOIN bench b ON c.s = b.s GROUP BY c.doc_id),
scored AS (
  SELECT t.doc_id,
         coalesce(h.n_hit, 0)::DOUBLE / t.n_shingles::DOUBLE >= 0.1
           AS contaminated,
         ('0x' || substring(md5(t.doc_id::VARCHAR), 1, 8))::BIGINT % 100
           AS bucket
  FROM tot t LEFT JOIN hit h USING (doc_id))
SELECT doc_id, contaminated,
       CASE WHEN bucket < 90 THEN 'train'
            WHEN bucket < 95 THEN 'val' ELSE 'test' END AS orig_split,
       CASE WHEN contaminated
                 AND NOT (bucket < 90) THEN 'train'
            WHEN bucket < 90 THEN 'train'
            WHEN bucket < 95 THEN 'val' ELSE 'test' END AS final_split,
       (contaminated AND NOT (bucket < 90)) AS reassigned
FROM scored
"""


@register("llm16_split_repair", _LLM16_SQL)
def llm16_split_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination-aware split repair — the hygiene step AFTER llm5's
    detection and llm2's assignment: a benchmark-contaminated document
    assigned to val/test cannot serve as clean eval, so it is REASSIGNED
    to train (it is burned for evaluation either way; dropping it would
    waste training signal). Emits the full audit relation (original
    split, contamination flag, final split, reassigned marker) a dataset
    card needs.

    Scale shape: contamination scoring is the llm5 zero-shuffle
    broadcast-shingle-array projection, and the hash split derives from
    doc_id ALREADY IN that output — so the whole repair is one more
    per-row CASE over the scored frame: no join between the detector and
    the splitter, no extra exchange. The contamination flag compares an
    exact int/int division against the same 0.1 double literal in both
    engines."""
    from com_danliris_service_etl_spark.operators.dedup import contamination_scores
    from com_danliris_service_etl_spark.operators.sampling import _hash_bucket

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") < 20)
    corpus = docs.filter(F.col("doc_id") >= 20)
    scored = contamination_scores(corpus, bench).select(
        "doc_id",
        (F.col("contamination") >= 0.1).alias("contaminated"),
        _hash_bucket("doc_id", 100),
    )
    orig = (
        F.when(F.col("bucket") < 90, "train")
        .when(F.col("bucket") < 95, "val")
        .otherwise("test")
    )
    reassigned = F.col("contaminated") & (F.col("bucket") >= 90)
    return scored.select(
        "doc_id",
        "contaminated",
        orig.alias("orig_split"),
        F.when(reassigned, "train").otherwise(orig).alias("final_split"),
        reassigned.alias("reassigned"),
    )


# ---------------------------------------------------------------------------
# LLM17 — cross-source near-dup overlap matrix
# ---------------------------------------------------------------------------


def _llm17_sql() -> str:
    return f"""
WITH cand AS (SELECT * FROM ({_minhash_sql()}) c),
src AS (SELECT doc_id, source FROM documents),
tagged AS (
  SELECT least(sa.source, sb.source) AS source_a,
         greatest(sa.source, sb.source) AS source_b,
         c.est_jaccard
  FROM cand c
  JOIN src sa ON sa.doc_id = c.doc_a
  JOIN src sb ON sb.doc_id = c.doc_b
)
SELECT source_a, source_b, count(*)::BIGINT AS n_pairs,
       round(avg(est_jaccard), 4) AS avg_est_jaccard
FROM tagged GROUP BY 1, 2
"""


@register("llm17_source_overlap", _llm17_sql())
def llm17_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source near-duplicate overlap matrix: LSH candidate pairs
    tagged with their documents' source labels (canonical cell =
    lexicographic (least, greatest) so the matrix is upper-triangular),
    counted per source pair — the corpus-curation report that tells you
    WHICH feeds duplicate each other before you buy/dedup them.

    Scale shape: the doc→source map is fact-sized, so the two tag joins
    are UNHINTED equi-joins (AQE broadcasts at fixture scale, shuffles
    at 100 TB); the matrix itself is |sources|² — bounded output."""
    from com_danliris_service_etl_spark.operators.dedup import minhash_lsh_pairs

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(docs)
    src = docs.select("doc_id", "source")
    sa = src.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("__sa"))
    sb = src.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("__sb"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            F.least("__sa", "__sb").alias("source_a"),
            F.greatest("__sa", "__sb").alias("source_b"),
            "est_jaccard",
        )
        .groupBy("source_a", "source_b")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.avg("est_jaccard"), 4).alias("avg_est_jaccard"),
        )
    )


_LLM18_SQL = f"""
WITH feat AS (
  SELECT source,
         len(string_split(text, ' '))::BIGINT AS n_tokens,
         round(CAST({_hits_sql(LANG_MARKERS["en"])} AS DOUBLE)
                 / len(string_split(text, ' ')) * 0.3
               + CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                 / len(string_split(text, ' ')) * 0.5
               + least(CAST(list_reduce(list_prepend(0,
                     list_transform(string_split(text, ' '), t -> length(t))),
                     (a, b) -> a + b) AS DOUBLE)
                 / len(string_split(text, ' ')) / 10.0, 1.0) * 0.2, 6) AS quality
  FROM documents),
hist AS (SELECT source, quality, count(*)::BIGINT AS c,
                CAST(sum(n_tokens) AS BIGINT) AS tok
         FROM feat GROUP BY 1, 2),
cum AS (SELECT source, quality, c, tok,
               sum(c) OVER (PARTITION BY source ORDER BY quality) AS cum_c,
               sum(c) OVER (PARTITION BY source) AS n
        FROM hist),
thr AS (SELECT source, min(quality) AS q_thr FROM cum
        WHERE cum_c * 5 >= n GROUP BY source)
SELECT h.source,
       CAST(sum(h.c) AS BIGINT) AS n_total,
       CAST(COALESCE(sum(h.c) FILTER (WHERE h.quality >= t.q_thr), 0) AS BIGINT)
         AS n_kept,
       CAST(COALESCE(sum(h.tok) FILTER (WHERE h.quality >= t.q_thr), 0) AS BIGINT)
         AS tokens_kept,
       min(t.q_thr) AS q_threshold
FROM hist h JOIN thr t USING (source)
GROUP BY h.source
"""


@register("llm18_quality_gate", _LLM18_SQL)
def llm18_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality gate: drop each source's bottom-20% documents by
    the shared txt2 quality score; report per source the kept doc count,
    kept token mass, and the gate threshold.

    The threshold is the 20th-percentile ORDER STATISTIC — the smallest
    score v with count(quality <= v) * 5 >= n — so the comparison is
    exact integer arithmetic on counts (no interpolated percentile whose
    ulp could flip a boundary doc cross-engine), and docs AT the
    threshold value are kept.

    Scale shape: ONE fact shuffle — the per-doc (quality 6dp, token count)
    projection is fused into the scan and partial-aggregates into the
    (source, quality) histogram; the cumulative window, threshold pick,
    and final report all run on that histogram (bounded by |sources| x
    |distinct rounded scores|, ~1e6 rows at any corpus size). The fact is
    scanned ONCE: kept counts/token mass are conditional sums over the
    histogram, not a second pass over documents."""
    from com_danliris_service_etl_spark.operators.partitioning import spread

    # spread: the quality featurization is the hot projection and a
    # one-file corpus would run it on ONE partition (the sim1 lesson, r11)
    docs = spread(_t(spark, sf_dir, "documents"))
    feat = docs.select(
        "source",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
        quality_col("text").alias("quality"),
    )
    hist = feat.groupBy("source", "quality").agg(
        F.count(F.lit(1)).alias("c"), F.sum("n_tokens").alias("tok")
    )
    w_cum = (
        Window.partitionBy("source")
        .orderBy("quality")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("source")
    cum = hist.select(
        "source",
        "quality",
        "c",
        "tok",
        F.sum("c").over(w_cum).alias("cum_c"),
        F.sum("c").over(w_all).alias("n"),
    )
    thr = (
        cum.filter(F.col("cum_c") * 5 >= F.col("n"))
        .groupBy("source")
        .agg(F.min("quality").alias("q_thr"))
    )
    kept = F.col("quality") >= F.col("q_thr")
    return (
        hist.join(F.broadcast(thr), "source")
        .groupBy("source")
        .agg(
            F.sum("c").alias("n_total"),
            F.coalesce(F.sum(F.when(kept, F.col("c"))), F.lit(0)).alias("n_kept"),
            F.coalesce(F.sum(F.when(kept, F.col("tok"))), F.lit(0)).alias(
                "tokens_kept"
            ),
            F.min("q_thr").alias("q_threshold"),
        )
    )


# ---------------------------------------------------------------------------
# LLM19 — SemDeDup: cluster-then-prune semantic deduplication
# ---------------------------------------------------------------------------

_SEMDEDUP_CELLS = 16


_SEMDEDUP_TAU = 0.35


def _llm19_sql(n_cells: int = _SEMDEDUP_CELLS, tau: float = _SEMDEDUP_TAU) -> str:
    dot_vc = _FOLD_DOT.format(a="v.e", b="c.cv")
    n_v = _FOLD_DOT.format(a="v.e", b="v.e")
    n_c = _FOLD_DOT.format(a="c.cv", b="c.cv")
    dot_xy = _FOLD_DOT.format(a="x.e", b="y.e")
    return f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
cent AS (SELECT vec_id AS cent_id, embedding::DOUBLE[] AS cv
         FROM embeddings ORDER BY vec_id LIMIT {n_cells}),
assign AS (
  SELECT vec_id, cent_id, sim,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY sim DESC, cent_id) AS rk
  FROM (SELECT v.vec_id, c.cent_id,
               {dot_vc} / (sqrt({n_v}) * sqrt({n_c})) AS sim
        FROM v CROSS JOIN cent c)),
cells AS (SELECT a.vec_id, a.cent_id AS cell, round(a.sim, 6) AS centroid_sim,
                 v.e, sqrt({n_v}) AS nrm
          FROM assign a JOIN v USING (vec_id) WHERE rk = 1),
dropped AS (
  SELECT DISTINCT x.vec_id
  FROM cells x JOIN cells y ON x.cell = y.cell
   AND ((y.centroid_sim < x.centroid_sim) OR
        (y.centroid_sim = x.centroid_sim AND y.vec_id < x.vec_id))
  WHERE round({dot_xy} / (x.nrm * y.nrm), 6) > {tau!r})
SELECT c.vec_id, c.cell, c.centroid_sim,
       d.vec_id IS NULL AS is_kept
FROM cells c LEFT JOIN dropped d USING (vec_id)
"""


@register("llm19_semdedup", _llm19_sql())
def llm19_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication by clustering embeddings into cells, then pruning
    within-cell near-duplicates, keeping each duplicate neighborhood's
    LOWEST-centroid-similarity member (the paper's diversity-preserving
    keeper rule). A vector is dropped iff some same-cell vector with
    strictly lower keep-priority — (centroid_sim 6dp, vec_id) ascending —
    has pairwise cosine > tau with it; the rule needs no iteration
    (priority is a total order), so it is one set-at-a-time self-join,
    unlike the connected-components funnel (llm7) it complements: llm7
    deletes whole duplicate CLUSTERS to one canonical doc, SemDeDup thins
    DENSE REGIONS while keeping their most diverse member.

    Scale shape: cell assignment is the broadcast-centroid HOF argmax
    (ops/similarity.py::ivf_assign_cells — zero corpus shuffle); the
    pairwise stage is quadratic ONLY within a cell, which is the
    SemDeDup design point — k grows with the corpus (n/expected-cell-
    size, 50k cells in the paper) so cells stay bounded and the self-join
    on cell is embarrassingly parallel across them. Norms are
    precomputed per row (O(n*d), not O(pairs*d)). The exists-check is a
    left-semi join (each vector emitted once, no distinct shuffle);
    fixture cells (16) understate the parallelism, not the plan.

    Determinism: pairwise and centroid cosines are rounded 6dp before
    any comparison in BOTH engines; both folds run in array order, so
    the doubles are bit-identical cross-engine. Core:
    ops/similarity.py::semdedup_prune (parameterized in n_cells/tau —
    the sf1 pairing recorded in BASELINE.md, "Round-9b additions", scales
    cells with the corpus, the algorithm's own contract)."""
    from com_danliris_service_etl_spark.operators.similarity import semdedup_prune

    return semdedup_prune(
        _t(spark, sf_dir, "embeddings"),
        n_cells=_SEMDEDUP_CELLS,
        tau=_SEMDEDUP_TAU,
    )


# ---------------------------------------------------------------------------
# LLM20 — DSIR: data selection via importance resampling
# ---------------------------------------------------------------------------

_DSIR_TARGET_LANG = "en"


_DSIR_BUCKET = 1000  # threshold grain, micro-log units


_LLM20_SQL = f"""
WITH toks AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term
              FROM documents),
tf AS (SELECT doc_id, max(lang) AS lang, term, count(*)::BIGINT AS tf
       FROM toks GROUP BY doc_id, term),
feat AS (SELECT term,
                CAST(COALESCE(sum(tf) FILTER (WHERE lang = '{_DSIR_TARGET_LANG}'), 0)
                     AS BIGINT) AS cnt_t,
                CAST(sum(tf) AS BIGINT) AS cnt_s
         FROM tf GROUP BY term),
tot AS (SELECT count(*)::BIGINT AS v,
               CAST(sum(cnt_t) AS BIGINT) AS tot_t,
               CAST(sum(cnt_s) AS BIGINT) AS tot_s FROM feat),
lr AS (SELECT term,
              CAST(round(ln( ((cnt_t + 1)::DOUBLE / (tot_t + v)) /
                             ((cnt_s + 1)::DOUBLE / (tot_s + v)) ) * 1e6, 0)
                   AS BIGINT) AS lr_micro
       FROM feat CROSS JOIN tot),
doc AS (SELECT tf.doc_id, max(tf.lang) AS lang,
               CAST(sum(tf.tf) AS BIGINT) AS n_tokens,
               CAST(sum(tf.tf * lr.lr_micro) AS BIGINT) AS lw_micro
        FROM tf JOIN lr USING (term) GROUP BY tf.doc_id),
hist AS (SELECT (CASE WHEN lw_micro >= 0 THEN lw_micro
                      ELSE lw_micro - {_DSIR_BUCKET - 1} END // {_DSIR_BUCKET}) AS b,
                count(*)::BIGINT AS c FROM doc GROUP BY 1),
cum AS (SELECT b, sum(c) OVER (ORDER BY b DESC) AS cum_c,
               sum(c) OVER () AS n FROM hist),
thr AS (SELECT max(b) * {_DSIR_BUCKET} AS lw_star FROM cum WHERE cum_c * 5 >= n)
SELECT d.doc_id, d.lang, d.n_tokens, d.lw_micro,
       d.lw_micro >= t.lw_star AS selected
FROM doc d CROSS JOIN thr t
"""


@register("llm20_dsir_selection", _LLM20_SQL)
def llm20_dsir_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR (Xie et al. 2023, arXiv:2302.03169): data selection via
    importance resampling — score every document by the log importance
    weight of a target distribution (here the 'en' slice) over the raw
    corpus under an add-1-smoothed unigram feature model, then keep the
    top ~20% by weight. Selects raw docs that LOOK like the target
    domain without training a classifier.

    Exactness: the per-feature log-ratio is rounded ONCE into integer
    micro-log units (the txt9 rounded-ln discipline — both engines round
    the same double); per-doc weights are then exact BIGINT sums of
    (tf x lr_micro), summation-order-proof.

    Scale shape (r10 rewrite — VERDICT r9 task 3, from 16 shuffles / 6
    document scans / 3 SinglePartition down to 4 / 2 / 2): the
    intermediate (doc, term) tf relation is GONE — per-term feature
    counts aggregate raw token rows directly (cnt = Σ tf by
    definition), and per-doc weights are raw-token sums of the term's
    lr_micro (Σ_tokens lr ≡ Σ_terms tf·lr), so the fork that previously
    re-ran the whole scan+explode+shuffle pipeline per reference (6
    scans — ReuseExchange cannot fire across a fork whose branches prune
    different ReadSchemas into the scan; checkpointing tf was measured
    SLOWER at derived sf1, 4.6 vs 3.7 s, the materialization costing
    more than the recompute) now forks only the cheap scan+explode, 2
    scans total. Fact exchanges: ONE — the doc-weight aggregate
    (map-side combined to doc grain). The feature exchange carries
    vocab-grain partials; the lr table joins back to tokens as an
    EXPLICIT broadcast — DSIR's feature space is bounded by design (the
    paper hashes n-gram features into a FIXED bucket space, 10k buckets,
    independent of corpus size), so the importance-weight table is the
    broadcast-able dimension here, and the unhinted form measured 2x
    slower at derived sf1 (3.4 vs 1.6 s: AQE's runtime conversion lands
    after the probe-side exchange is already scheduled). Smoothing totals
    are a 1-row scalar off the vocab-grain feature table (allowlisted
    SinglePartition — bounded by |vocab|, not |docs|). The doc relation
    is lazily checkpointed at its histogram/output fork (doc-grain,
    output-sized). The selection threshold is deliberately BUCKET-grain
    (div 1000 micro-units): the cut histogram is bounded by the WEIGHT
    RANGE / bucket width, never by |docs| — an exact per-value top-20%
    would need a fact-scale global sort; both cumulative frames share
    one window spec and run in ONE WindowExec over that bounded
    histogram. DSIR's selection is itself a sampling step, so a
    value-threshold with <=1-bucket slack is the faithful scale-honest
    form (fixture: 101/500 vs the exact 100). Measured at derived sf1:
    2.0 s vs 3.7 s (old 16-shuffle form) vs DuckDB 0.78 s."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("term")
    )
    feat = toks.groupBy("term").agg(
        F.coalesce(
            F.sum(F.when(F.col("lang") == _DSIR_TARGET_LANG, F.lit(1))),
            F.lit(0),
        )
        .cast("bigint")
        .alias("cnt_t"),
        F.count(F.lit(1)).alias("cnt_s"),
    )
    tot = feat.agg(
        F.count(F.lit(1)).alias("v"),
        F.sum("cnt_t").alias("tot_t"),
        F.sum("cnt_s").alias("tot_s"),
    )
    lr = feat.crossJoin(F.broadcast(tot)).select(
        "term",
        F.round(
            F.log(
                ((F.col("cnt_t") + 1).cast("double") / (F.col("tot_t") + F.col("v")))
                / ((F.col("cnt_s") + 1).cast("double") / (F.col("tot_s") + F.col("v")))
            )
            * F.lit(1e6),
            0,
        )
        .cast("bigint")
        .alias("lr_micro"),
    )
    doc = (
        toks.join(F.broadcast(lr), "term")
        .groupBy("doc_id")
        .agg(
            F.max("lang").alias("lang"),
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("lr_micro").alias("lw_micro"),
        )
        # doc forks (histogram/threshold branch, final projection) — same
        # pruning-defeats-ReuseExchange story; doc-grain, output-sized.
        .localCheckpoint(eager=False)
    )
    b = F.expr(
        f"CASE WHEN lw_micro >= 0 THEN lw_micro"
        f" ELSE lw_micro - {_DSIR_BUCKET - 1} END div {_DSIR_BUCKET}"
    )
    hist = doc.select(b.alias("b")).groupBy("b").agg(F.count(F.lit(1)).alias("c"))
    # Both cumulative frames share one window spec (same partitioning +
    # ordering, different frames) so they compile into a SINGLE WindowExec
    # over the bounded histogram — one SinglePartition exchange instead of
    # the former three (two windows + the threshold aggregate, which now
    # rides the already-single-partition window output exchange-free).
    w_base = Window.orderBy(F.col("b").desc())
    w_desc = w_base.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    w_all = w_base.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cum = hist.select(
        "b",
        F.sum("c").over(w_desc).alias("cum_c"),
        F.sum("c").over(w_all).alias("n"),
    )
    thr = (
        cum.filter(F.col("cum_c") * 5 >= F.col("n"))
        .agg((F.max("b") * _DSIR_BUCKET).alias("lw_star"))
    )
    return doc.crossJoin(F.broadcast(thr)).select(
        "doc_id",
        "lang",
        "n_tokens",
        "lw_micro",
        (F.col("lw_micro") >= F.col("lw_star")).alias("selected"),
    )


# ---------------------------------------------------------------------------
# LLM21 — per-document repetition stats (Gopher quality rules)
# ---------------------------------------------------------------------------

# Thresholds in exact integer micro-shares (value * 1e6, floor division):
# chosen to SPLIT the fixture distribution (dup_token_frac spans 0–0.72,
# top-bigram share 0.01–0.17 at sf0.01) so both flag outcomes occur —
# an all-true/all-false detector can hide a broken comparison.
_DUP_MICRO = 550_000


_BG_MICRO = 80_000


_TG_MICRO = 60_000


_LLM21_SQL = f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
s AS (
  SELECT doc_id,
         len(tk)::BIGINT AS n_tokens,
         len(list_distinct(tk))::BIGINT AS nd,
         list_max(list_transform(
           list_distinct(list_transform(range(1, len(tk)),
                                        i -> tk[i] || ' ' || tk[i+1])),
           x -> len(list_filter(
                  list_transform(range(1, len(tk)),
                                 i -> tk[i] || ' ' || tk[i+1]),
                  y -> y = x))))::BIGINT AS bg_cnt,
         list_max(list_transform(
           list_distinct(list_transform(range(1, len(tk) - 1),
                                        i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])),
           x -> len(list_filter(
                  list_transform(range(1, len(tk) - 1),
                                 i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]),
                  y -> y = x))))::BIGINT AS tg_cnt
  FROM t WHERE len(tk) >= 3)
SELECT doc_id, n_tokens,
       ((n_tokens - nd) * 1000000) // n_tokens AS dup_token_micro,
       (bg_cnt * 1000000) // (n_tokens - 1) AS top_bigram_micro,
       (tg_cnt * 1000000) // (n_tokens - 2) AS top_trigram_micro,
       (((n_tokens - nd) * 1000000) // n_tokens > {_DUP_MICRO}
        OR (bg_cnt * 1000000) // (n_tokens - 1) > {_BG_MICRO}
        OR (tg_cnt * 1000000) // (n_tokens - 2) > {_TG_MICRO}) AS is_repetitive
FROM s
"""


@register("llm21_repetition_stats", _LLM21_SQL)
def llm21_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style intra-document repetition filter (Rae et al. 2021,
    arXiv:2112.11446 §A1.1 — the MassiveText quality rules): per doc, the
    duplicate-token fraction and the share of the single most frequent
    bigram/trigram, plus the keep/drop flag. Repetition is the classic
    LLM-corpus failure mode (boilerplate loops, template spam) that
    doc-level dedup cannot catch because the duplication is INSIDE one
    document.

    Scale shape (r14 rewrite — the honest-estimator find): the
    top-gram counts were a row-local `array_max(transform(
    array_distinct(g), x -> size(filter(g, y -> y = x))))` fold —
    O(distinct × n) per doc, and every one of those lambda evaluations
    ran INTERPRETED (higher-order functions are CodegenFallback), with
    the gram array itself rebuilt per distinct element: 13.8 s at
    sf0.1 once the noop estimator actually evaluated the projection
    (the prior "ZERO shuffles" claim was measured under count(), which
    pruned the whole fold). Now the bigram/trigram arrays are built
    ONCE per row (zip_with over slices of the projected token array —
    a single cheap-lambda pass), tagged, exploded, and the max
    frequency comes from two map-side-combinable hash aggregates
    ((doc, w, gram) count → per-doc conditional max): codegen end to
    end, 0.5 s at the same scale. The duplicate-token fraction stays
    row-local (native array_distinct). Per-doc-grain output does not
    make row-local folds free — what matters is whether the per-row
    expression interprets.

    Exactness: all three shares are integer micro-units via floor
    division of exact longs ((cnt * 1e6) div denom, numerators
    non-negative so div == floor in both engines) — no float compare
    anywhere, flags included."""
    from com_danliris_service_etl_spark.operators.partitioning import spread

    docs = spread(_t(spark, sf_dir, "documents"))
    tk = (
        docs.select("doc_id", F.split("text", " ").alias("tk"))
        .filter(F.size("tk") >= 3)
    )
    base = tk.select(
        "doc_id",
        F.size("tk").cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct("tk")).cast("bigint").alias("nd"),
    )
    bg = (
        "zip_with(slice(tk, 1, size(tk) - 1), slice(tk, 2, size(tk) - 1),"
        " (x, y) -> concat(x, ' ', y))"
    )
    tg = (
        f"zip_with({bg.replace('size(tk) - 1', 'size(tk) - 2')},"
        " slice(tk, 3, size(tk) - 2), (x, y) -> concat(x, ' ', y))"
    )
    grams = tk.select(
        "doc_id",
        F.explode(
            F.expr(
                f"concat(transform({bg}, g -> struct(2 AS w, g)),"
                f" transform({tg}, g -> struct(3 AS w, g)))"
            )
        ).alias("__g"),
    ).select("doc_id", "__g.w", "__g.g")
    tops = (
        grams.groupBy("doc_id", "w", "g")
        .agg(F.count(F.lit(1)).alias("__c"))
        .groupBy("doc_id")
        .agg(
            F.max(F.when(F.col("w") == 2, F.col("__c"))).cast("bigint")
            .alias("bg_cnt"),
            F.max(F.when(F.col("w") == 3, F.col("__c"))).cast("bigint")
            .alias("tg_cnt"),
        )
    )
    s = base.join(tops, "doc_id")
    dup = F.expr("((n_tokens - nd) * 1000000) div n_tokens")
    bgm = F.expr("(bg_cnt * 1000000) div (n_tokens - 1)")
    tgm = F.expr("(tg_cnt * 1000000) div (n_tokens - 2)")
    return s.select(
        "doc_id",
        "n_tokens",
        dup.alias("dup_token_micro"),
        bgm.alias("top_bigram_micro"),
        tgm.alias("top_trigram_micro"),
        (
            (dup > _DUP_MICRO) | (bgm > _BG_MICRO) | (tgm > _TG_MICRO)
        ).alias("is_repetitive"),
    )


# ---------------------------------------------------------------------------
# Sequence packing / chunking
# ---------------------------------------------------------------------------

_PACK_BUDGET = 256


_PACK_SHARDS = pk.DEFAULT_PACK_SHARDS


@register(
    "pk1_sequence_packing",
    f"""
    WITH a AS (
      SELECT lang,
             ('0x' || substring(md5(doc_id::VARCHAR), 1, 8))::BIGINT
               % {_PACK_SHARDS} AS shard,
             doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             COALESCE(CAST(sum(len(string_split(text, ' '))) OVER (
                 PARTITION BY lang,
                   ('0x' || substring(md5(doc_id::VARCHAR), 1, 8))::BIGINT
                     % {_PACK_SHARDS}
                 ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
               0) AS tokens_before
      FROM documents),
    b AS (SELECT lang, shard, doc_id, n_tokens,
                 CAST(floor(tokens_before / {float(_PACK_BUDGET)}) AS BIGINT) AS pack_id
          FROM a)
    SELECT lang, shard, pack_id, count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS pack_tokens,
           min(doc_id) AS first_doc, max(doc_id) AS last_doc,
           round(CAST(sum(n_tokens) AS DOUBLE) / {float(_PACK_BUDGET)}, 6) AS fill_ratio
    FROM b GROUP BY lang, shard, pack_id
    """,
)
def pk1_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk pack manifest: cumulative token count per
    (language, md5-shard) stream → fixed-budget pack assignment →
    per-pack summary. One window + one same-key aggregation; the
    composite stream key keeps parallelism proportional to shard count
    instead of capping at the number of languages."""
    docs = _t(spark, sf_dir, "documents")
    return pk.pack_summary(pk.pack_assignments(docs, budget=_PACK_BUDGET), budget=_PACK_BUDGET)


_CHUNK_W, _CHUNK_S = 64, 48


@register(
    "pk2_chunk_documents",
    f"""
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    s AS (SELECT doc_id, t, unnest(range(0, greatest(len(t), 1), {_CHUNK_S})) AS st FROM t)
    SELECT doc_id,
           CAST(floor(st / {float(_CHUNK_S)}) AS BIGINT) AS chunk_idx,
           CAST(len(list_slice(t, st + 1, st + {_CHUNK_W})) AS BIGINT) AS chunk_tokens,
           md5(array_to_string(list_slice(t, st + 1, st + {_CHUNK_W}), ' ')) AS chunk_md5
    FROM s
    """,
)
def pk2_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG-style overlapping chunks (window 64, stride 48): per-row
    sequence+explode fanout, zero shuffles, digest per chunk."""
    docs = _t(spark, sf_dir, "documents")
    return pk.chunk_documents(docs, window=_CHUNK_W, stride=_CHUNK_S)


# ---------------------------------------------------------------------------
# pk3: token-balanced output shards (sorted round-robin by global rank)
# ---------------------------------------------------------------------------

_PK3_SHARDS = 8


_PK3_SQL = f"""
    WITH sized AS (
      SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tokens
      FROM documents),
    ranked AS (
      SELECT doc_id, n_tokens,
             row_number() OVER (ORDER BY n_tokens DESC, doc_id) AS rnk
      FROM sized)
    SELECT CAST((rnk - 1) % {_PK3_SHARDS} AS BIGINT) AS shard,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS shard_tokens,
           max(n_tokens) AS max_doc_tokens,
           min(n_tokens) AS min_doc_tokens
    FROM ranked GROUP BY 1
"""


@register("pk3_balanced_shards", _PK3_SQL)
def pk3_balanced_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-balanced training shards
    (`operators/packing.py::token_balanced_shards`): longest-first sorted
    round-robin over a DISTRIBUTED global rank (range shuffle + per-
    partition offsets — no single-partition window), so shard token
    totals stay level under doc-length skew. The oracle states the same
    assignment with a plain window rank; equality pins that the
    distributed rank is exactly the global one (A4's twin invariant, at
    the pk grain)."""
    from com_danliris_service_etl_spark.operators.packing import (
        token_balanced_shards,
    )

    return token_balanced_shards(
        _t(spark, sf_dir, "documents"), n_shards=_PK3_SHARDS
    )


# ---------------------------------------------------------------------------
# Multimodal plumbing
# ---------------------------------------------------------------------------


@register(
    "mm1_binary_metadata",
    """
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           sha256(text) AS sha256_hex
    FROM documents
    """,
)
def mm1_binary_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JVM-side metadata (length + SHA-256) over binary payload columns."""
    return mm.binary_metadata(_t(spark, sf_dir, "documents"))


# The decode stub is deterministic byte arithmetic, so it IS oracle-able:
# DuckDB recomputes the same features over hex(encode(text)). The registered
# query projects the feature vector to scalar doubles (f0..f3) because the
# driver's canonicalizer can't sort an array<double> column; the Arrow
# mapInPandas path underneath is unchanged.
_MM2_SQL = """
    WITH d AS (SELECT doc_id, hex(encode(text)) AS hx,
                      octet_length(encode(text)) AS n
               FROM documents)
    SELECT doc_id, n AS n_bytes,
           CAST(n AS DOUBLE) AS f0,
           CAST(CASE WHEN n = 0 THEN 0
                     ELSE ('0x' || substring(hx, 1, 2))::INT END AS DOUBLE) AS f1,
           CAST(CASE WHEN n = 0 THEN 0
                     ELSE ('0x' || substring(hx, 2 * n - 1, 2))::INT END AS DOUBLE) AS f2,
           CAST(CASE WHEN n = 0 THEN 0
                     ELSE list_reduce(
                            list_prepend(0, list_transform(
                              range(1, least(n, 64) + 1),
                              i -> ('0x' || substring(hx, 2 * i - 1, 2))::INT)),
                            (a, b) -> a + b) % 997 END AS DOUBLE) AS f3
    FROM d
"""


@register("mm2_decode_features", _MM2_SQL)
def mm2_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched decode/feature-extract via mapInPandas. The decoder is
    a documented deterministic stub (no media libs in the image); the
    plumbing — schema, batching, UDF signature — is the real contract."""
    feats = mm.extract_features(_t(spark, sf_dir, "documents"))
    return feats.select(
        "doc_id",
        "n_bytes",
        *[F.col("features")[i].alias(f"f{i}") for i in range(mm.FEATURE_DIM)],
    )


# Frame slicing is byte substring — DuckDB mirrors it by slicing the hex
# payload over a stepped frame-index range. Both sides emit the frame as a
# HEX STRING: Spark hands binary columns to pandas as bytearray, which the
# driver's hash canonicalizer can't factorize (unhashable), so raw-binary
# output columns must never cross the registry boundary.
_MM3_SQL = """
    WITH d AS (SELECT doc_id, hex(encode(text)) AS hx,
                      octet_length(encode(text)) AS n
               FROM documents),
    f AS (SELECT doc_id, hx, greatest(1, n // 32) AS n_frames FROM d)
    SELECT doc_id, CAST(u.i AS INTEGER) AS frame_idx,
           substring(hx, CAST(u.i * 64 + 1 AS INTEGER), 64) AS frame_hex
    FROM f, UNNEST(range(0, n_frames, 2)) AS u(i)
"""


@register("mm3_frame_sample", _MM3_SQL)
def mm3_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-style frame sampling over binary payloads (every 2nd 32-byte
    frame): the 1:N mapInPandas fanout shape for media pipelines."""
    frames = mm.frame_sample(_t(spark, sf_dir, "documents"), frame_bytes=32, every_n=2)
    return frames.select("doc_id", "frame_idx", F.hex("frame").alias("frame_hex"))


# ---------------------------------------------------------------------------
# mm4: binary resize transform (operators/multimodal.py::resize_payloads)
# ---------------------------------------------------------------------------

_MM4_TARGET = 64


_MM4_SQL = f"""
    WITH d AS (SELECT doc_id, hex(encode(text)) AS hx,
                      octet_length(encode(text)) AS n
               FROM documents)
    SELECT doc_id,
           CASE WHEN n = 0 THEN repeat('00', {_MM4_TARGET})
                ELSE substring(repeat(hx, ({_MM4_TARGET} // n) + 1),
                               1, {_MM4_TARGET * 2}) END AS resized_hex,
           n AS n_bytes_in
    FROM d
"""


@register("mm4_resize_payloads", _MM4_SQL)
def mm4_resize_payloads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary→binary Arrow transform (`operators/multimodal.py::
    resize_payloads`): the resize/transcode plumbing shape — payload in,
    fixed-64-byte payload out through `mapInPandas`, 1:1 rows, no
    shuffle. The resizer itself is the documented deterministic stub
    (truncate-or-cycle; no PIL in the image), which makes it oracle-able:
    DuckDB mirrors the byte cycling on the hex payload. Emitted as hex —
    raw binary can't cross the driver's canonicalizer."""
    out = mm.resize_payloads(
        _t(spark, sf_dir, "documents"), target_bytes=_MM4_TARGET
    )
    return out.select(
        "doc_id", F.hex(F.col("resized")).alias("resized_hex"), "n_bytes_in"
    )
