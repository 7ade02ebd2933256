"""Deduplication registry queries (dd): exact, MinHash+LSH, SimHash,
n-gram Jaccard, embedding near-dup, clusters, incremental LSH, passage
dedup, containment, prefix-filter joins, top-k similar, LSH ablation and
duplicate spans/substrings over the `documents` and `embeddings` tables.

Oracle SQL is generated next to each Spark plan so the two sides stay
expression-for-expression identical (same hash inputs, same fold order,
same rounding). `_minhash_sql` and the dd5 embedding bucket/dot helpers
are shared with the LLM-pipeline family.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from com_danliris_service_etl_spark.operators import dedup as dd
from com_danliris_service_etl_spark.operators.dedup import (
    duplicate_spans,
    embedding_neardup_pairs,
)
from com_danliris_service_etl_spark.plans.registry import _t, register


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------


@register(
    "dd1_exact_dedup",
    """
    SELECT md5(text) AS text_hash, min(doc_id) AS keeper_id, count(*) AS n_docs
    FROM documents GROUP BY md5(text)
    """,
)
def dd1_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups: digest → (keeper, count). One uniform shuffle."""
    return dd.exact_dedup_groups(_t(spark, sf_dir, "documents"))


def _minhash_sql(n_perms: int = 16, bands: int = 4, k: int = 3) -> str:
    from com_danliris_service_etl_spark.operators.dedup import (
        MINHASH_PRIME,
        _perm_consts,
    )

    rpb = n_perms // bands
    mins = ",\n             ".join(
        f"min(({a} * h + {b}) % {MINHASH_PRIME}) AS mh{p}"
        for p, (a, b) in enumerate(_perm_consts(n_perms))
    )
    band_cases = " ".join(
        "WHEN {b} THEN md5({parts})".format(
            b=b,
            parts=" || ':' || ".join(
                f"mh{p}::VARCHAR" for p in range(b * rpb, (b + 1) * rpb)
            ),
        )
        for b in range(bands)
    )
    est = " + ".join(f"CASE WHEN sa.mh{p} = sb.mh{p} THEN 1 ELSE 0 END" for p in range(n_perms))
    shingle = " || ' ' || ".join(f"t[i+{j}]" for j in range(k))
    return f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (SELECT DISTINCT doc_id, {shingle} AS s
           FROM toks, UNNEST(range(1, len(t) - {k - 2})) AS u(i)
           WHERE len(t) >= {k}),
    shh AS (SELECT doc_id, ('0x' || substring(md5(s), 1, 8))::BIGINT AS h FROM sh),
    mh AS (SELECT doc_id, {mins} FROM shh GROUP BY doc_id),
    bands AS (SELECT doc_id, b.b AS band_idx, CASE b.b {band_cases} END AS band_hash
              FROM mh, (VALUES (0),(1),(2),(3)) b(b)),
    pairs AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
              FROM bands x JOIN bands y
                ON x.band_idx = y.band_idx AND x.band_hash = y.band_hash
                   AND x.doc_id < y.doc_id)
    SELECT p.doc_a, p.doc_b, ({est}) / {float(n_perms)} AS est_jaccard
    FROM pairs p JOIN mh sa ON sa.doc_id = p.doc_a JOIN mh sb ON sb.doc_id = p.doc_b
    """


@register("dd2_minhash_lsh", _minhash_sql())
def dd2_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16 perms) + LSH(4 bands) near-dup candidate pairs with
    estimated Jaccard. No O(n²) stage — see operators/dedup.py."""
    return dd.minhash_lsh_pairs(_t(spark, sf_dir, "documents"))


def _simhash_sql(hex_chars: int = 4) -> str:
    votes = []
    for j in range(hex_chars):
        nib = f"(strpos('0123456789abcdef', substring(h, {j + 1}, 1)) - 1)"
        for kbit in range(4):
            bit = 4 * j + kbit
            votes.append(
                f"sum(CASE WHEN (({nib} >> {kbit}) & 1) = 1 THEN 1 ELSE -1 END) AS v{bit}"
            )
    votes_sql = ",\n               ".join(votes)
    fp = " + ".join(
        f"CASE WHEN v{bit} > 0 THEN {1 << bit} ELSE 0 END" for bit in range(4 * hex_chars)
    )
    return f"""
    WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
    h AS (SELECT doc_id, substring(md5(tok), 1, {hex_chars}) AS h FROM toks),
    votes AS (SELECT doc_id, {votes_sql}
              FROM h GROUP BY doc_id)
    SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM votes
    """


@register("dd3_simhash", _simhash_sql())
def dd3_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprints (16-bit, token-frequency weighted)."""
    return dd.simhash_fingerprints(_t(spark, sf_dir, "documents"))


@register(
    "dd4_ngram_jaccard",
    """
    WITH prepped AS (
      SELECT doc_id, lang, source, CAST(floor(n_chars / 50) AS BIGINT) AS size_bucket,
             list_distinct(string_split(text, ' ')) AS toks
      FROM documents)
    SELECT doc_a, doc_b, jaccard FROM (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             round(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
                   CAST(len(a.toks) + len(b.toks)
                        - len(list_intersect(a.toks, b.toks)) AS DOUBLE), 6) AS jaccard
      FROM prepped a JOIN prepped b
        ON a.lang = b.lang AND a.source = b.source
           AND a.size_bucket = b.size_bucket AND a.doc_id < b.doc_id)
    WHERE jaccard >= 0.5
    """,
)
def dd4_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked token-set Jaccard near-dup pairs (block = lang × size
    bucket): Σ block² cost, not n²."""
    return dd.ngram_jaccard_pairs(_t(spark, sf_dir, "documents"))


# Sign-bit LSH bucket over the first 8 dims (mirrors similarity.signbit_bucket;
# DuckDB arrays are 1-based, Spark's 0-based — same elements).
_DD5_BUCKET = " + ".join(
    f"(CASE WHEN {{v}}[{d + 1}] > 0 THEN {1 << d} ELSE 0 END)" for d in range(8)
)


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup (dedup family)
# ---------------------------------------------------------------------------

_DD5_DOT = (
    "list_reduce(list_prepend(0.0, list_transform(range(1, 65), i -> {a}[i] * {b}[i])),"
    " (acc, v) -> acc + v)"
)


@register(
    "dd5_embedding_neardup",
    f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e,
                      ({_DD5_BUCKET.format(v="embedding")}) AS blk
               FROM embeddings),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             round({_DD5_DOT.format(a="a.e", b="b.e")}
                   / (sqrt({_DD5_DOT.format(a="a.e", b="a.e")})
                      * sqrt({_DD5_DOT.format(a="b.e", b="b.e")})), 6) AS cos_sim
      FROM v a JOIN v b ON a.vec_id < b.vec_id AND a.blk = b.blk)
    SELECT id_a, id_b, cos_sim FROM pairs WHERE cos_sim >= 0.3
    """,
)
def dd5_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, blocked on a COMPUTED sign-bit
    LSH bucket (no label / prior clustering needed) — the Σ block² scale
    path (vs n² cross product). 2^8 buckets ⇒ mean block = n/256."""
    emb = _t(spark, sf_dir, "embeddings")
    return embedding_neardup_pairs(emb, threshold=0.3, lsh_bits=8)


@register(
    "dd6_dedup_clusters",
    """
    WITH RECURSIVE pairs AS (
      SELECT doc_a, doc_b FROM ({minhash}) mh
    ),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION
      SELECT doc_b, doc_a FROM pairs
    ),
    reach(node, lbl) AS (
      SELECT a, a FROM edges
      UNION
      SELECT e.a, r.lbl FROM edges e JOIN reach r ON e.b = r.node
    )
    SELECT node AS doc_id, min(lbl)::BIGINT AS cluster_id
    FROM reach GROUP BY node
    """.format(minhash=_minhash_sql()),
)
def dd6_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → dedup CLUSTERS: connected components over the
    dd2 candidate graph via iterative min-label propagation
    (`operators/dedup.py::dedup_clusters`); cluster_id = min doc id
    reachable = the cluster's keeper. The oracle computes the same
    components with a recursive transitive-closure CTE — feasible on the
    oracle's pair counts, while the Spark side's per-round join +
    min-aggregate is the 100 TB formulation. This is the registry's
    iterative-algorithm representative: the loop runs driver-side with
    one convergence count per round and localCheckpoint lineage
    truncation."""
    from com_danliris_service_etl_spark.operators.dedup import (
        dedup_clusters,
        minhash_lsh_pairs,
    )

    return dedup_clusters(minhash_lsh_pairs(_t(spark, sf_dir, "documents")))


# ---------------------------------------------------------------------------
# dd7: incremental LSH dedup (operators/dedup.py::incremental_minhash_lsh_pairs)
# ---------------------------------------------------------------------------

_DD7_SPLIT = 250


@register(
    "dd7_incremental_lsh",
    f"""
    SELECT * FROM ({_minhash_sql()})
    WHERE doc_a >= {_DD7_SPLIT} OR doc_b >= {_DD7_SPLIT}
    """,
)
def dd7_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The nightly dedup shape at 100 TB: near-dup candidates for a NEW
    batch (doc_id >= 250) against a PERSISTED signature store built
    from the old corpus — only the new batch pays the shingle/md5
    signature cost. Output contract: exactly the full-corpus dd2 pairs
    that involve a new document (the oracle states it that way), so the
    incremental path is verified against the batch path, not just
    smoke-run."""
    docs = _t(spark, sf_dir, "documents")
    old_sigs = dd.minhash_signatures(docs.filter(F.col("doc_id") < _DD7_SPLIT))
    new_docs = docs.filter(F.col("doc_id") >= _DD7_SPLIT)
    return dd.incremental_minhash_lsh_pairs(old_sigs, new_docs)


# ---------------------------------------------------------------------------
# dd8: passage-grain exact dedup (operators/dedup.py::passage_dedup)
# ---------------------------------------------------------------------------

_DD8_K = 20


_DD8_MAXPOS = 100_000


_DD8_SQL = f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    passages AS (
      SELECT doc_id, i AS pos,
             array_to_string(t[(i * {_DD8_K} + 1):((i + 1) * {_DD8_K})], ' ') AS passage
      FROM toks,
           unnest(range(0, CAST(ceil(len(t) / {_DD8_K}.0) AS BIGINT))) AS r(i)),
    keyed AS (
      SELECT doc_id, pos, passage, md5(passage) AS h,
             doc_id * {_DD8_MAXPOS} + pos AS ord
      FROM passages),
    owners AS (SELECT h, min(ord) AS owner FROM keyed GROUP BY h),
    flagged AS (
      SELECT k.doc_id, k.pos, k.passage, (k.ord = o.owner) AS keep
      FROM keyed k JOIN owners o USING (h))
    SELECT doc_id,
           count(*)::BIGINT AS n_passages,
           CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_dup,
           md5(coalesce(string_agg(passage, ' ' ORDER BY pos)
                          FILTER (WHERE keep), '')) AS clean_md5
    FROM flagged GROUP BY doc_id
"""


@register("dd8_passage_dedup", _DD8_SQL)
def dd8_passage_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-grain exact dedup (`operators/dedup.py::passage_dedup`):
    every 20-token window kept only at its first corpus occurrence; the
    per-document report carries the count of boilerplate passages
    removed and an md5 of the cleaned text. One uniform hash groupBy +
    one same-key join + one per-doc reassembly — the fixed-window
    relational form of RefinedWeb-style exact-substring dedup."""
    from com_danliris_service_etl_spark.operators.dedup import passage_dedup

    return passage_dedup(
        _t(spark, sf_dir, "documents"), k=_DD8_K, max_pos=_DD8_MAXPOS
    )


# ---------------------------------------------------------------------------
# DD9 — asymmetric containment verification of LSH candidates
# ---------------------------------------------------------------------------


def _containment_sql(thresh_num: int = 9, thresh_den: int = 10, k: int = 3) -> str:
    shingle = " || ' ' || ".join(f"t[i+{j}]" for j in range(k))
    return f"""
    WITH cand AS ({_minhash_sql()}),
    toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (SELECT DISTINCT doc_id, {shingle} AS s
           FROM toks, UNNEST(range(1, len(t) - {k - 2})) AS u(i)
           WHERE len(t) >= {k}),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (SELECT c.doc_a, c.doc_b, count(*) AS i
              FROM cand c JOIN sh a ON a.doc_id = c.doc_a
                          JOIN sh b ON b.doc_id = c.doc_b AND b.s = a.s
              GROUP BY c.doc_a, c.doc_b)
    SELECT c.doc_a, c.doc_b,
           COALESCE(i.i, 0)::BIGINT AS inter,
           sa.n::BIGINT AS size_a,
           sb.n::BIGINT AS size_b,
           round(COALESCE(i.i, 0) / sa.n, 6) AS containment_a,
           round(COALESCE(i.i, 0) / sb.n, 6) AS containment_b,
           (COALESCE(i.i, 0) * {thresh_den}
            >= least(sa.n, sb.n) * {thresh_num}) AS is_subset_dup
    FROM cand c
    LEFT JOIN inter i ON i.doc_a = c.doc_a AND i.doc_b = c.doc_b
    JOIN sizes sa ON sa.doc_id = c.doc_a
    JOIN sizes sb ON sb.doc_id = c.doc_b
    """


@register("dd9_containment", _containment_sql())
def dd9_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment verification of dd2's MinHash+LSH
    candidates (operators/dedup.py::exact_containment_verify): C(A|B) and
    C(B|A) over distinct 3-shingle sets, with the subset-duplicate
    decision (max-side containment ≥ 0.9) made in exact integer
    arithmetic. Catches the short-doc-pasted-into-long-doc duplicates
    whose Jaccard stays low — the case llm9's symmetric funnel keeps."""
    docs = _t(spark, sf_dir, "documents")
    cands = dd.minhash_lsh_pairs(docs)
    return dd.exact_containment_verify(
        docs, cands, shingle_k=3, thresh_num=9, thresh_den=10
    )


# ---------------------------------------------------------------------------
# DD10 — exact set-similarity join via prefix filtering (PPJoin family)
# ---------------------------------------------------------------------------

_DD10_SQL = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
sh AS (
  SELECT DISTINCT doc_id, list_reduce(toks[i:i+2], (a, b) -> a || ' ' || b) AS s
  FROM t, unnest(range(1, len(toks) - 1)) AS r(i)
  WHERE len(toks) >= 3
),
sz AS (SELECT doc_id, count(*)::BIGINT AS sz FROM sh GROUP BY doc_id),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::BIGINT AS i
  FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       round(i::DOUBLE / (sa.sz + sb.sz - i), 6) AS exact_jaccard
FROM inter
JOIN sz sa ON sa.doc_id = doc_a
JOIN sz sb ON sb.doc_id = doc_b
WHERE 5 * i >= 3 * (sa.sz + sb.sz - i)
"""


@register("dd10_prefix_filter_join", _DD10_SQL)
def dd10_prefix_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard >= 0.6 set-similarity self-join over 3-token
    shingle sets, candidates via PREFIX FILTERING with PPJoin's length
    and positional filters (see operators/dedup.py::prefix_filter_join)
    — the LOSSLESS counterpart to dd2's probabilistic MinHash-LSH
    banding: the prefix theorem (and both filters, proven
    superset-preserving in the op docstring) guarantees no true pair is
    missed, so this is the candidate generator for delete-grade dedup
    decisions. Verification reuses the SAME checkpointed shingle
    relation (candidates only, never all-pairs) with the threshold in
    exact integer arithmetic (5·inter >= 3·union). The oracle recomputes
    the same relation the exhaustive way: shared-shingle equi-join over
    ALL pairs — at fixture scale that is affordable and pins that the
    filters dropped nothing."""
    from com_danliris_service_etl_spark.operators.dedup import prefix_filter_join

    return prefix_filter_join(
        _t(spark, sf_dir, "documents"), thresh_num=3, thresh_den=5
    )


# ---------------------------------------------------------------------------
# DD11 — per-document top-k similar neighbors (LSH candidates + window)
# ---------------------------------------------------------------------------


def _dd11_sql(k: int = 3) -> str:
    return f"""
WITH cand AS (SELECT * FROM ({_minhash_sql()}) c),
sym AS (
  SELECT doc_a AS doc_id, doc_b AS neighbor_id, est_jaccard FROM cand
  UNION ALL
  SELECT doc_b AS doc_id, doc_a AS neighbor_id, est_jaccard FROM cand
),
r AS (
  SELECT doc_id, neighbor_id, est_jaccard,
         row_number() OVER (
           PARTITION BY doc_id
           ORDER BY est_jaccard DESC, neighbor_id
         ) AS rank
  FROM sym
)
SELECT doc_id, neighbor_id, est_jaccard, CAST(rank AS INT) AS rank
FROM r WHERE rank <= {k}
"""


@register("dd11_topk_similar", _dd11_sql())
def dd11_topk_similar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 most-similar neighbors
    (operators/dedup.py::topk_similar_docs): the banded-LSH candidate
    set symmetrized (narrow union, no extra shuffle of the candidate
    build) and cut by a per-doc window totally ordered on
    (est_jaccard DESC, neighbor_id) — the curation-UI / canonical-keeper
    primitive. Candidate work stays the LSH bound (never |D|²); window
    state is the doc's own candidate count."""
    from com_danliris_service_etl_spark.operators.dedup import topk_similar_docs

    out = topk_similar_docs(_t(spark, sf_dir, "documents"), k=3)
    return out.withColumn("rank", F.col("rank").cast("int"))


# ---------------------------------------------------------------------------
# DD12 — LSH banding-parameter ablation (precision/recall vs exact truth)
# ---------------------------------------------------------------------------

_DD12_CONFIGS = (2, 4, 8)


def _dd12_sql(
    band_configs: tuple[int, ...] = _DD12_CONFIGS, n_perms: int = 16
) -> str:
    from com_danliris_service_etl_spark.operators.dedup import (
        MINHASH_PRIME,
        _perm_consts,
    )

    mins = ",\n             ".join(
        f"min(({a} * h + {b}) % {MINHASH_PRIME}) AS mh{p}"
        for p, (a, b) in enumerate(_perm_consts(n_perms))
    )

    def band_select(bands: int) -> str:
        rpb = n_perms // bands
        cases = " ".join(
            "WHEN {b} THEN md5({parts})".format(
                b=b,
                parts=" || ':' || ".join(
                    f"mh{p}::VARCHAR" for p in range(b * rpb, (b + 1) * rpb)
                ),
            )
            for b in range(bands)
        )
        return (
            f"SELECT {bands} AS bands, doc_id, b.b AS band_idx,"
            f" CASE b.b {cases} END AS band_hash"
            f" FROM mh, (SELECT unnest(range({bands})) AS b) b"
        )

    bands_union = "\n  UNION ALL ".join(band_select(b) for b in band_configs)
    return f"""
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
       FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i) WHERE len(t) >= 3),
shh AS (SELECT doc_id, ('0x' || substring(md5(s), 1, 8))::BIGINT AS h FROM sh),
mh AS (SELECT doc_id, {mins} FROM shh GROUP BY doc_id),
allbands AS ({bands_union}),
cand AS (SELECT DISTINCT x.bands, x.doc_id AS doc_a, y.doc_id AS doc_b
         FROM allbands x JOIN allbands y
           ON x.bands = y.bands AND x.band_idx = y.band_idx
              AND x.band_hash = y.band_hash AND x.doc_id < y.doc_id),
sz AS (SELECT doc_id, count(*)::BIGINT AS sz FROM sh GROUP BY doc_id),
inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::BIGINT AS i
          FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
truth AS (SELECT doc_a, doc_b FROM inter
          JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
          WHERE 5 * i >= 3 * (sa.sz + sb.sz - i)),
tn AS (SELECT count(*)::BIGINT AS n_true FROM truth),
per AS (SELECT c.bands, count(*)::BIGINT AS n_candidates,
               sum(CASE WHEN t.doc_a IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
                 AS n_hit
        FROM cand c
        LEFT JOIN truth t ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
        GROUP BY c.bands)
SELECT bands::BIGINT AS bands, {n_perms}::BIGINT AS n_perms,
       n_candidates, tn.n_true, n_hit,
       CASE WHEN n_candidates = 0 THEN NULL
            ELSE (n_hit * 1000000) // n_candidates END AS precision_micro,
       CASE WHEN tn.n_true = 0 THEN NULL
            ELSE (n_hit * 1000000) // tn.n_true END AS recall_micro
FROM per CROSS JOIN tn
"""


@register("dd12_lsh_ablation", _dd12_sql())
def dd12_lsh_ablation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding ablation (ops/dedup.py::lsh_band_ablation): exact
    precision/recall of each (bands, rows) configuration's candidate
    pairs — 16 MinHash permutations split as 2×8 / 4×4 / 8×2 — against
    the TRUE Jaccard >= 0.6 pair set from the lossless prefix-filter
    join (dd10's machinery). The 'measure, don't guess' step before a
    corpus-scale dedup run: on this fixture 2 bands trades ~8% recall
    for perfect precision, 4 bands reaches full recall at ~84%
    precision, 8 bands buys no recall over 4 but a 4–5× candidate
    blow-up — the s-curve made empirical. Signatures are computed once for all configs; the truth
    side is candidates-only (never |D|²); the oracle recomputes truth
    the exhaustive shared-shingle way, pinning that prefix filtering
    dropped nothing."""
    from com_danliris_service_etl_spark.operators.dedup import lsh_band_ablation

    return lsh_band_ablation(
        _t(spark, sf_dir, "documents"), band_configs=_DD12_CONFIGS
    )


_DD13_K = 8


# Sliding windows via a correlated lateral unnest over the 0-based
# position range (the txt posexplode twin); DuckDB list slices are
# 1-based inclusive, so window pos covers toks[pos+1 : pos+k]. Islands
# are gaps-and-islands on duplicated positions (pos - row_number).
_DD13_SQL = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
  WHERE len(string_split(text, ' ')) >= {_DD13_K}
), base AS (
  SELECT doc_id, (len(toks) - {_DD13_K} + 1)::BIGINT AS n_windows FROM t
), w AS (
  SELECT doc_id, r.pos,
         array_to_string(toks[r.pos + 1 : r.pos + {_DD13_K}], ' ') AS gram
  FROM t, unnest(range(0, len(toks) - {_DD13_K} + 1)) AS r(pos)
), owners AS (
  SELECT gram FROM w GROUP BY gram HAVING count(*) >= 2
), dup AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS isl
  FROM w WHERE gram IN (SELECT gram FROM owners)
), runs AS (
  SELECT doc_id, count(*)::BIGINT AS run FROM dup GROUP BY doc_id, isl
), stats AS (
  SELECT doc_id, CAST(sum(run) AS BIGINT) AS n_dup,
         CAST(max(run) AS BIGINT) AS longest_run
  FROM runs GROUP BY doc_id
)
SELECT b.doc_id, b.n_windows,
       COALESCE(s.n_dup, 0)::BIGINT AS n_dup,
       COALESCE(s.longest_run, 0)::BIGINT AS longest_run,
       (COALESCE(s.n_dup, 0) * 1000000) // b.n_windows AS dup_micro
FROM base b LEFT JOIN stats s USING (doc_id)
"""


@register("dd13_duplicate_spans", _DD13_SQL)
def dd13_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate-span profile of the corpus at k=8 sliding token
    windows (operators/dedup.py::duplicate_spans): per document, how
    many windows are duplicated ANYWHERE in the corpus and the longest
    consecutive duplicated run — the statistic exact-substring dedup
    (Lee et al. 2022) thresholds to cut memorized/boilerplate spans.
    One fact-scale gram-count exchange + one semi-join back on the gram
    key; run structure reuses the per-doc window exchange for both of
    its aggregates; per-doc totals are row-local (token count - k + 1),
    never a second pass over the window relation."""
    return duplicate_spans(_t(spark, sf_dir, "documents"), k=_DD13_K)


# ---------------------------------------------------------------------------
# dd14: sorted-suffix longest duplicated substring
# (operators/dedup.py::longest_duplicate_substring)
# ---------------------------------------------------------------------------

_DD14_L = 5    # min reported length (tokens) = the seed-bucket grain


_DD14_D = 64   # suffix truncation depth (tokens)


# The oracle is the TEXTBOOK suffix-array form — ALL suffixes in one
# global sorted order, adjacent-LCP, filter >= L — deliberately a
# different formulation from the Spark plan's seed-bucket + in-bucket
# extension (global vs bucketed adjacency agree exactly for every LCP
# >= L because two suffixes sharing >= L tokens share the seed bucket,
# and max-adjacent == max-anywhere holds in any prefix-clustering
# order). LCP of two capped token lists: first position where the
# zipped pair compares unequal (pads compare false via coalesce), else
# the shorter length; DuckDB list slicing is 1-based inclusive, so
# toks[pos+1 : pos+D] is the D-token cap.
_DD14_SQL = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
  WHERE len(string_split(text, ' ')) >= {_DD14_L}
), suf AS (
  SELECT doc_id, r.pos, toks[r.pos + 1 : r.pos + {_DD14_D}] AS sfx
  FROM t, unnest(range(0, len(toks) - {_DD14_L} + 1)) AS r(pos)
), adj AS (
  SELECT doc_id, pos, sfx, lag(sfx) OVER w AS p, lead(sfx) OVER w AS n
  FROM suf WINDOW w AS (ORDER BY sfx)
), mis AS (
  SELECT doc_id, pos, sfx, p, n,
    list_position(list_transform(list_zip(sfx, p),
                  x -> coalesce(x[1] = x[2], false)), false) AS pm,
    list_position(list_transform(list_zip(sfx, n),
                  x -> coalesce(x[1] = x[2], false)), false) AS nm
  FROM adj
), scored AS (
  SELECT doc_id, pos,
    greatest(
      CASE WHEN p IS NULL THEN -1
           WHEN pm = 0 OR pm IS NULL THEN least(len(sfx), len(p))
           ELSE pm - 1 END,
      CASE WHEN n IS NULL THEN -1
           WHEN nm = 0 OR nm IS NULL THEN least(len(sfx), len(n))
           ELSE nm - 1 END) AS l
  FROM mis
), best AS (
  SELECT doc_id, pos, l,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY l DESC, pos ASC) AS rn
  FROM scored WHERE l >= {_DD14_L}
)
SELECT b.doc_id, b.l::BIGINT AS lrs_len, b.pos::BIGINT AS lrs_pos,
       md5(array_to_string(t.toks[b.pos + 1 : b.pos + b.l], ' ')) AS lrs_md5
FROM best b JOIN t USING (doc_id) WHERE b.rn = 1
"""


@register("dd14_longest_dup_substring", _DD14_SQL)
def dd14_longest_dup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-suffix longest-duplicated-substring
    (`operators/dedup.py::longest_duplicate_substring`): per document,
    the longest token substring (>= 5 tokens, truncation depth 64)
    appearing >= 2 times anywhere in the corpus, its first offset and
    md5 — the suffix-array member of the exact-substring dedup family
    (Lee et al. 2022), with the length DISCOVERED by sorted-suffix
    extension instead of preset by a window size (dd8/dd13). Plan: one
    row-local suffix explode, one seed-bucket exchange whose in-bucket
    sort + lag/lead does the extension, one per-doc argmax window, one
    doc-keyed join back for the digest — no all-pairs, no global
    sort."""
    from com_danliris_service_etl_spark.operators.dedup import (
        longest_duplicate_substring,
    )

    return longest_duplicate_substring(
        _t(spark, sf_dir, "documents"), min_len=_DD14_L, max_depth=_DD14_D
    )


# ---------------------------------------------------------------------------
# dd15: exact-substring dedup REWRITE
# (operators/dedup.py::substring_dedup_rewrite)
# ---------------------------------------------------------------------------

_DD15_K = 8


_DD15_MAXP = 100_000


# Oracle mirrors the pinned semantics relationally: sliding k-gram
# windows, first-occurrence ownership on the doc·max_pos+pos encoding,
# non-first windows' spans unioned per doc (gaps-and-islands: a start
# extends the span iff start − prev_start <= k), then a token-grain
# rebuild via NOT EXISTS against the span set (DuckDB has no
# higher-order filter-with-index; the correlated anti-join is its
# equivalent at sf0.01 grain). Empty rebuilds coalesce to md5('') —
# identical to Spark's concat_ws over an empty array.
_DD15_SQL = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), w AS (
  SELECT doc_id, r.pos,
         md5(array_to_string(toks[r.pos + 1 : r.pos + {_DD15_K}], ' ')) AS h,
         doc_id * {_DD15_MAXP} + r.pos AS ord
  FROM t, unnest(range(0, len(toks) - {_DD15_K} + 1)) AS r(pos)
  WHERE len(toks) >= {_DD15_K}
), own AS (
  SELECT h, min(ord) AS owner FROM w GROUP BY h
), dup AS (
  SELECT w.doc_id, w.pos FROM w JOIN own USING (h) WHERE w.ord > own.owner
), brk AS (
  SELECT doc_id, pos,
         CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                   <= {_DD15_K} THEN 0 ELSE 1 END AS b
  FROM dup
), isl AS (
  SELECT doc_id, pos,
         sum(b) OVER (PARTITION BY doc_id ORDER BY pos
                      ROWS UNBOUNDED PRECEDING) AS isl_id
  FROM brk
), spans AS (
  SELECT doc_id, isl_id, min(pos) AS s, max(pos) + {_DD15_K} AS e
  FROM isl GROUP BY doc_id, isl_id
), removed AS (
  SELECT doc_id, CAST(sum(e - s) AS BIGINT) AS n_removed
  FROM spans GROUP BY doc_id
), kept AS (
  SELECT t.doc_id, r.i, t.toks[r.i + 1] AS tok
  FROM t, unnest(range(0, len(toks))) AS r(i)
  WHERE NOT EXISTS (SELECT 1 FROM spans s
                    WHERE s.doc_id = t.doc_id AND r.i >= s.s AND r.i < s.e)
), clean AS (
  SELECT doc_id, md5(coalesce(string_agg(tok, ' ' ORDER BY i), '')) AS clean_md5,
         count(*) AS n_kept
  FROM kept GROUP BY doc_id
)
SELECT t.doc_id, len(t.toks)::BIGINT AS n_tokens,
       COALESCE(rm.n_removed, 0)::BIGINT AS n_removed,
       COALESCE(c.clean_md5, md5('')) AS clean_md5
FROM t LEFT JOIN removed rm USING (doc_id) LEFT JOIN clean c USING (doc_id)
"""


@register("dd15_substring_rewrite", _DD15_SQL)
def dd15_substring_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring dedup REWRITE
    (`operators/dedup.py::substring_dedup_rewrite`): every token
    covered by a non-first duplicated 8-gram window is cut (first
    corpus occurrence keeps its text), documents re-emitted with the
    removal count and cleaned digest — the Lee et al. 2022 removal
    step at arbitrary offsets, completing the family dd13 profiles and
    dd14 locates. One uniform gram-key exchange + same-key join back,
    one per-doc span window, row-local rebuild — text never shuffles,
    no token-grain join."""
    from com_danliris_service_etl_spark.operators.dedup import (
        substring_dedup_rewrite,
    )

    return substring_dedup_rewrite(
        _t(spark, sf_dir, "documents"), k=_DD15_K, max_pos=_DD15_MAXP
    )
