"""Text-analysis registry queries (txt): token statistics, quality and
language scores, fingerprints, TF-IDF, inverted index, BM25,
unigram/bigram LM scores, repetition quality, boilerplate n-grams, PMI
collocations, vocabulary coverage and growth, sparse cosine, source
divergence and BPE training, encoding and fertility.

Oracle SQL is kept expression-for-expression identical to the Spark plan
(same tokenization, same rounding, same digests).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from com_danliris_service_etl_spark.operators import text as tx
from com_danliris_service_etl_spark.operators.text import (
    LANG_MARKERS,
    pmi_bigrams,
    vocab_growth_stats,
)
from com_danliris_service_etl_spark.plans.registry import _t, register


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@register(
    "txt1_token_stats",
    f"""
    SELECT doc_id,
           len(string_split(text, ' ')) AS n_tokens,
           length(text) AS n_chars_calc,
           len(list_distinct(string_split(text, ' '))) AS n_distinct_tokens,
           round(CAST(list_reduce(list_prepend(0, list_transform(string_split(text, ' '),
                                                                 t -> length(t))),
                                  (a, b) -> a + b) AS DOUBLE)
                 / len(string_split(text, ' ')), 6) AS avg_token_len,
           len(regexp_extract_all(text, '{tx.BPE_SPLIT_RE}')) AS n_bpe_pieces,
           list_reduce(list_prepend(0::BIGINT,
                                    list_transform(regexp_extract_all(text, '{tx.BPE_SPLIT_RE}'),
                                                   p -> CAST(ceil(length(p) / 4.0) AS BIGINT))),
                       (a, b) -> a + b) AS n_bpe_tokens_est
    FROM documents
    """,
)
def txt1_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.token_stats(_t(spark, sf_dir, "documents"))


def _hits_sql(markers: tuple[str, ...]) -> str:
    in_list = ", ".join(f"'{m}'" for m in markers)
    return f"len(list_filter(string_split(text, ' '), t -> t IN ({in_list})))"


@register(
    "txt2_quality_score",
    f"""
    WITH feat AS (
      SELECT doc_id,
             CAST({_hits_sql(LANG_MARKERS["en"])} AS DOUBLE)
               / len(string_split(text, ' ')) AS stop_ratio,
             CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
               / len(string_split(text, ' ')) AS distinct_ratio,
             CAST(list_reduce(list_prepend(0, list_transform(string_split(text, ' '),
                                                             t -> length(t))),
                              (a, b) -> a + b) AS DOUBLE)
               / len(string_split(text, ' ')) AS avg_len
      FROM documents)
    SELECT doc_id,
           round(stop_ratio, 6) AS stopword_ratio,
           round(distinct_ratio, 6) AS distinct_ratio,
           round(avg_len, 6) AS avg_token_len,
           round(stop_ratio * 0.3 + distinct_ratio * 0.5
                 + least(avg_len / 10.0, 1.0) * 0.2, 6) AS quality
    FROM feat
    """,
)
def txt2_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tx.quality_score(_t(spark, sf_dir, "documents"))


def _langid_sql() -> str:
    langs = sorted(LANG_MARKERS)
    scores = ",\n             ".join(
        f"{_hits_sql(LANG_MARKERS[lang])} AS s_{lang}" for lang in langs
    )
    cases = []
    for lang in langs:
        conds = " AND ".join(f"s_{lang} >= s_{o}" for o in langs if o != lang)
        cases.append(f"WHEN {conds} THEN '{lang}'")
    case_sql = " ".join(cases)
    return f"""
    WITH scored AS (
      SELECT doc_id, lang AS lang_actual,
             {scores}
      FROM documents)
    SELECT doc_id, lang_actual, CASE {case_sql} END AS lang_pred FROM scored
    """


@register("txt3_langid", _langid_sql())
def txt3_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-token language ID with deterministic alphabetical-argmax."""
    return tx.detect_language(_t(spark, sf_dir, "documents"))


def _rolling_sql() -> str:
    """DuckDB twin of text._window_hashes: same Horner steps, same window
    positions (range() end-exclusive = sequence() end-inclusive + 1)."""
    h = "CAST(ascii(substring(text, i, 1)) AS BIGINT)"
    for j in range(1, tx.ROLL_W):
        h = f"(({h}) * {tx.ROLL_B} + ascii(substring(text, i+{j}, 1))) % {tx.ROLL_M}"
    wh = f"list_transform(range(1, length(text) - {tx.ROLL_W - 2}), i -> {h})"
    return f"""
    SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
             AS fingerprint,
           CASE WHEN length(text) >= {tx.ROLL_W}
                THEN list_min({wh}) END AS rolling_min_hash,
           CASE WHEN length(text) >= {tx.ROLL_W}
                THEN len(list_distinct({wh})) END AS n_distinct_windows
    FROM documents
    """


@register("txt4_fingerprint", _rolling_sql())
def txt4_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical (sorted-distinct-token) fingerprint for reorder-resistant
    dedup + Rabin-Karp rolling-window content sketch (min window hash,
    distinct-window count)."""
    return tx.fingerprint(_t(spark, sf_dir, "documents"))


@register(
    "txt5_tfidf_top_terms",
    """
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
    tf AS (
      SELECT doc_id, term, count(*)::BIGINT AS tf FROM toks GROUP BY doc_id, term),
    dfreq AS (
      SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM toks GROUP BY term),
    n AS (SELECT count(*)::DOUBLE AS n FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf,
             round(tf.tf * ln(n.n / dfreq.df), 6) AS tfidf
      FROM tf JOIN dfreq USING (term), n),
    ranked AS (
      SELECT doc_id, term, tf, tfidf,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, term) AS rank
      FROM scored)
    SELECT doc_id, term, tf, tfidf, rank::BIGINT AS rank
    FROM ranked WHERE rank <= 5
    """,
)
def txt5_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 TF-IDF terms per document
    (`operators/text.py::tfidf_top_terms`): tf and df each one
    map-side-combinable shuffle, vocabulary-sized df table broadcast
    back, ranks computed over the ROUNDED score so ln() ulp differences
    can't flip cross-engine order."""
    from com_danliris_service_etl_spark.operators.text import tfidf_top_terms

    return tfidf_top_terms(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Text quality: repetition features; inverted index
# ---------------------------------------------------------------------------


@register(
    "txt6_repetition_stats",
    """
    WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    per AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
                   len(list_distinct(t)) AS nd,
                   CASE WHEN len(t) >= 2
                        THEN list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
                        ELSE CAST([] AS VARCHAR[]) END AS bg
            FROM t),
    per2 AS (SELECT doc_id, n_tokens, nd, len(bg) AS nb, len(list_distinct(bg)) AS nbd
             FROM per),
    top AS (SELECT doc_id, max(tf) AS top_tf FROM (
              SELECT doc_id, tok, count(*) AS tf
              FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
              GROUP BY doc_id, tok)
            GROUP BY doc_id)
    SELECT p.doc_id, p.n_tokens,
           round(t.top_tf / p.n_tokens, 6) AS top_token_frac,
           round(1.0 - p.nd / p.n_tokens, 6) AS dup_token_frac,
           CASE WHEN p.nb > 0 THEN round(1.0 - p.nbd / p.nb, 6) ELSE 0.0 END
             AS dup_bigram_frac,
           (round(t.top_tf / p.n_tokens, 6) > 0.2
            OR CASE WHEN p.nb > 0 THEN round(1.0 - p.nbd / p.nb, 6) ELSE 0.0 END > 0.9)
             AS is_repetitive
    FROM per2 p JOIN top t ON p.doc_id = t.doc_id
    """,
)
def txt6_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition features (top-token / dup-unigram /
    dup-bigram fractions) + composite flag. One (doc, token) shuffle with
    map-side combine; the ratio features are pure codegen."""
    return tx.repetition_stats(_t(spark, sf_dir, "documents"))


@register(
    "txt7_inverted_index",
    """
    WITH tf AS (SELECT term, doc, count(*) AS tf FROM (
        SELECT doc_id AS doc, unnest(string_split(text, ' ')) AS term FROM documents)
      GROUP BY term, doc)
    SELECT term, count(*) AS doc_freq, CAST(sum(tf) AS BIGINT) AS coll_freq,
           md5(string_agg(CAST(doc AS VARCHAR) || ':' || CAST(tf AS VARCHAR),
                          ',' ORDER BY doc)) AS postings_md5
    FROM tf GROUP BY term
    """,
)
def txt7_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index dictionary: per-term document frequency, collection
    frequency, and an order-canonical postings digest. Two shuffles —
    (doc, term) tf with map-side combine, then (term)."""
    return tx.inverted_index(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# txt8: BM25 ranking (operators/text.py::bm25_topk)
# ---------------------------------------------------------------------------

_BM25_SQL = """
    WITH toks AS (
      SELECT doc_id AS doc, unnest(string_split(text, ' ')) AS term FROM documents),
    tf AS (SELECT doc, term, count(*)::BIGINT AS tf FROM toks GROUP BY doc, term),
    dfq AS (SELECT term, count(*)::BIGINT AS df, CAST(sum(tf) AS BIGINT) AS cf
            FROM tf GROUP BY term),
    doclen AS (SELECT doc, CAST(sum(tf) AS BIGINT) AS dl
               FROM tf GROUP BY doc),
    stats AS (SELECT count(*)::BIGINT AS n_docs, CAST(sum(dl) AS BIGINT) AS sum_dl
              FROM doclen),
    top_terms AS (SELECT term, df FROM dfq ORDER BY cf DESC, term LIMIT 3),
    scored AS (
      SELECT tf.term, tf.doc, tf.tf,
             round(ln((s.n_docs - t.df + 0.5) / (t.df + 0.5) + 1.0)
                   * ((tf.tf * 2.2)
                      / (tf.tf + 1.2 * (0.25 + (0.75 * d.dl)
                                               / (s.sum_dl / s.n_docs)))),
                   4) AS bm25
      FROM tf JOIN top_terms t USING (term)
              JOIN doclen d ON tf.doc = d.doc
              CROSS JOIN stats s)
    SELECT term, doc, tf, bm25, CAST(rank AS BIGINT) AS rank FROM (
      SELECT *, row_number() OVER (PARTITION BY term
                                   ORDER BY bm25 DESC, doc) AS rank
      FROM scored)
    WHERE rank <= 10
"""


@register("txt8_bm25_topk", _BM25_SQL)
def txt8_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25(k1=1.2, b=0.75) top-10 documents for the corpus's 3 highest
    collection-frequency terms (`operators/text.py::bm25_topk`).
    Relational all the way down — tf/df map-side-combinable shuffles,
    1-row stats broadcast, rounded-score ranking so ln() ulp differences
    can't flip cross-engine order."""
    return tx.bm25_topk(_t(spark, sf_dir, "documents"), n_terms=3, k=10)


# ---------------------------------------------------------------------------
# txt9: corpus-self-trained unigram-LM quality score (CCNet-style)
# ---------------------------------------------------------------------------

# Band thresholds sit at the fixture's p5/p95 so both bands are non-vacuous
# in the driver run; the operator itself takes arbitrary thresholds.
_TXT9_LOW = -3.42


_TXT9_HIGH = -3.39


_TXT9_SQL = f"""
    WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                  FROM documents),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
    vocab AS (SELECT term, sum(tf) AS cnt FROM tf GROUP BY term),
    tot AS (SELECT sum(cnt)::DOUBLE AS total FROM vocab),
    scored AS (
      SELECT tf.doc_id,
             CAST(sum(tf.tf) AS BIGINT) AS n_tokens,
             round(sum(tf.tf * round(ln(v.cnt / t.total), 6)) / sum(tf.tf), 4)
               AS mean_logprob
      FROM tf JOIN vocab v USING (term) CROSS JOIN tot t
      GROUP BY tf.doc_id)
    SELECT doc_id, n_tokens, mean_logprob,
           CASE WHEN mean_logprob < {_TXT9_LOW} THEN 'drop'
                WHEN mean_logprob > {_TXT9_HIGH} THEN 'review'
                ELSE 'keep' END AS lm_band
    FROM scored
"""


@register("txt9_unigram_logprob", _TXT9_SQL)
def txt9_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality filter, self-trained on the corpus
    (`operators/text.py::unigram_logprob_scores`): one pass trains the
    unigram model, a broadcast joins it back, and every document gets a
    mean-token-logprob plus a keep/review/drop band. The per-term ln() is
    rounded BEFORE the per-doc sum so libm ulp differences cannot cross
    engines; the band thresholds compare the rounded-4 mean, so the CASE
    is deterministic wherever the score is."""
    from com_danliris_service_etl_spark.operators.text import unigram_logprob_scores

    return unigram_logprob_scores(
        _t(spark, sf_dir, "documents"), low=_TXT9_LOW, high=_TXT9_HIGH
    )


# ---------------------------------------------------------------------------
# txt10: windowed language-consistency profile (code-switch detection)
# ---------------------------------------------------------------------------

_TXT10_K = 20


_TXT10_MIXED_BELOW = 0.75


def _lang_profile_sql(k: int = _TXT10_K, mixed_below: float = _TXT10_MIXED_BELOW) -> str:
    from com_danliris_service_etl_spark.operators.text import LANG_MARKERS

    langs = sorted(LANG_MARKERS)
    hit_cols = ", ".join(
        "len(list_filter(w, x -> x IN ({}))) AS h_{}".format(
            ", ".join(f"'{m}'" for m in LANG_MARKERS[lang]), lang
        )
        for lang in langs
    )
    pred_cases = " ".join(
        "WHEN "
        + " AND ".join(f"h_{lang} >= h_{o}" for o in langs if o != lang)
        + f" THEN '{lang}'"
        for lang in langs
    )
    return f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    wins AS (SELECT doc_id, t[(i * {k} + 1):((i + 1) * {k})] AS w
             FROM toks,
                  unnest(range(0, CAST(ceil(len(t) / {k}.0) AS BIGINT))) AS r(i)),
    scored AS (SELECT doc_id, {hit_cols} FROM wins),
    pred AS (SELECT doc_id, CASE {pred_cases} END AS p FROM scored),
    cnts AS (SELECT doc_id, p, count(*) AS cnt FROM pred GROUP BY doc_id, p),
    dom AS (SELECT doc_id, p, cnt,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY cnt DESC, p) AS rk,
                   sum(cnt) OVER (PARTITION BY doc_id) AS n_wins
            FROM cnts)
    SELECT doc_id, CAST(n_wins AS BIGINT) AS n_windows, p AS dominant_lang,
           round(cnt * 1.0 / n_wins, 6) AS agreement,
           (round(cnt * 1.0 / n_wins, 6) < {mixed_below}) AS is_mixed
    FROM dom WHERE rk = 1
    """


@register("txt10_lang_consistency", _lang_profile_sql())
def txt10_lang_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed language-consistency profile
    (`operators/text.py::window_language_profile`): langid every 20-token
    window, report the per-doc dominant language, window agreement, and
    an is_mixed flag — the code-switch detector a corpus pipeline runs
    because doc-level langid silently mislabels documents that change
    language mid-stream. Narrow window fanout into the scan; two
    map-side-combinable shuffles; deterministic (cnt DESC, lang)
    tiebreak on both engines."""
    from com_danliris_service_etl_spark.operators.text import (
        window_language_profile,
    )

    return window_language_profile(
        _t(spark, sf_dir, "documents"),
        window_tokens=_TXT10_K,
        mixed_below=_TXT10_MIXED_BELOW,
    )


# ---------------------------------------------------------------------------
# TXT11 — boilerplate phrase detection
# ---------------------------------------------------------------------------

_TXT11_MIN_DOCS = 5


_TXT11_SQL = f"""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
    sh AS (SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS s
           FROM toks, UNNEST(range(1, len(t) - 1)) AS u(i) WHERE len(t) >= 3),
    cnt AS (SELECT s, count(*) AS nd FROM sh GROUP BY s)
    SELECT doc_id,
           count(*)::BIGINT AS n_shingles,
           sum(CASE WHEN nd >= {_TXT11_MIN_DOCS} THEN 1 ELSE 0 END)::BIGINT
             AS n_boiler,
           round(CAST(sum(CASE WHEN nd >= {_TXT11_MIN_DOCS} THEN 1 ELSE 0 END)
                      AS DOUBLE) / count(*), 6) AS boiler_share
    FROM sh JOIN cnt USING (s)
    GROUP BY doc_id
"""


@register("txt11_boilerplate_ngrams", _TXT11_SQL)
def txt11_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document boilerplate phrase detection
    (`operators/text.py::boilerplate_ngram_stats`): a word 3-gram seen in
    ≥5 distinct documents is boilerplate (site chrome / license headers —
    phrases no author writes independently); each document reports what
    share of its distinct phrases that is — the C4/CCNet cleanup signal.
    Distinctness is row-local (array_distinct before the explode); the
    document-frequency count is one map-side-combinable shingle groupBy;
    the flag join reuses the same key."""
    from com_danliris_service_etl_spark.operators.text import (
        boilerplate_ngram_stats,
    )

    return boilerplate_ngram_stats(
        _t(spark, sf_dir, "documents"), k=3, min_docs=_TXT11_MIN_DOCS
    )


# ---------------------------------------------------------------------------
# TXT12 — PMI bigram collocations
# ---------------------------------------------------------------------------

_TXT12_SQL = """
WITH toks AS (
  SELECT string_split(text, ' ') AS t FROM documents
  WHERE len(string_split(text, ' ')) >= 2
),
bi AS (
  SELECT t[i] AS w1, t[i+1] AS w2
  FROM toks, unnest(range(1, len(t))) AS u(i)
),
bc AS (
  SELECT w1, w2, count(*)::BIGINT AS n_ab FROM bi
  GROUP BY w1, w2 HAVING count(*) >= 5
),
uni AS (
  SELECT w, count(*)::BIGINT AS n_w
  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
  GROUP BY w
),
nn AS (SELECT sum(n_w)::DOUBLE AS n FROM uni),
bb AS (SELECT sum(len(t) - 1)::DOUBLE AS b FROM toks)
SELECT bc.w1, bc.w2, bc.n_ab,
       round(ln((bc.n_ab / bb.b) / ((ua.n_w / nn.n) * (ub.n_w / nn.n))), 6) AS pmi
FROM bc
JOIN uni ua ON ua.w = bc.w1
JOIN uni ub ON ub.w = bc.w2
CROSS JOIN nn CROSS JOIN bb
"""


@register("txt12_pmi_bigrams", _TXT12_SQL)
def txt12_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI collocation mining over adjacent token pairs (min count 5) —
    see operators/text.py::pmi_bigrams for the one-explode-per-relation
    scale shape. Both engines derive the single output ln() from the
    same exact integers, so 6dp rounding is deterministic."""
    return pmi_bigrams(_t(spark, sf_dir, "documents"), min_count=5)


# ---------------------------------------------------------------------------
# TXT13 — vocabulary coverage / per-doc OOV rate
# ---------------------------------------------------------------------------

_TXT13_SQL = """
WITH tw AS (
  SELECT doc_id, t.w
  FROM documents, unnest(string_split(text, ' ')) AS t(w)
  WHERE text IS NOT NULL AND t.w <> ''
),
cnt AS (SELECT w, count(*) AS n FROM tw GROUP BY w),
vocab AS (SELECT w FROM cnt ORDER BY n DESC, w ASC LIMIT 1000)
SELECT tw.doc_id,
  count(*)::BIGINT AS n_tokens,
  sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_oov,
  round(sum(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
    AS oov_rate
FROM tw LEFT JOIN vocab v ON v.w = tw.w
GROUP BY tw.doc_id
"""


@register("txt13_vocab_coverage", _TXT13_SQL)
def txt13_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document OOV rate against the corpus's top-1000 vocabulary
    (operators/text.py::vocab_coverage) — the tokenizer-coverage metric.
    The vocabulary boundary is a TOTAL order (count desc, token asc) so
    the LIMIT cut is deterministic cross-engine; the token relation is
    built once and lazily checkpointed for its two consumers."""
    from com_danliris_service_etl_spark.operators.text import vocab_coverage

    return vocab_coverage(_t(spark, sf_dir, "documents"), vocab_size=1000)


# ---------------------------------------------------------------------------
# TXT14 — sparse TF-IDF cosine similarity join (document graph)
# ---------------------------------------------------------------------------

# Weighted companion of dd4's set-Jaccard: inverted-index self-join on
# word 3-shingles. Weights round to 6dp BEFORE normalization (ln ulp
# drift across engines), the cosine to 4dp; df-pruning (2 ≤ df ≤ 100)
# is mirrored exactly. DuckDB's list_transform builds the identical
# shingle stream (1-based: i in 1..len-2).
_TXT14_SQL = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
  WHERE len(string_split(text, ' ')) >= 3),
sh AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(ts) - 1),
                i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS s
  FROM toks),
tf AS (SELECT doc_id, s, count(*)::BIGINT AS tf FROM sh GROUP BY doc_id, s),
dfreq AS (
  SELECT s, count(*)::BIGINT AS df FROM tf GROUP BY s
  HAVING count(*) BETWEEN 2 AND 100),
n AS (SELECT count(*)::DOUBLE AS n FROM documents),
w AS (
  SELECT tf.doc_id, tf.s, round(tf.tf * ln(n.n / dfreq.df), 6) AS wt
  FROM tf JOIN dfreq USING (s), n),
nrm AS (SELECT doc_id, sqrt(sum(wt * wt)) AS nw FROM w GROUP BY doc_id),
u AS (SELECT w.doc_id, w.s, w.wt / nrm.nw AS uw FROM w JOIN nrm USING (doc_id)),
p AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         round(sum(a.uw * b.uw), 4) AS cos_sim
  FROM u a JOIN u b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id)
SELECT doc_a, doc_b, cos_sim FROM p WHERE cos_sim >= 0.1
"""


@register("txt14_sparse_cosine", _TXT14_SQL)
def txt14_sparse_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF-IDF cosine similarity join (operators/text.py::
    `sparse_cosine_pairs`): document-similarity graph via the
    inverted-index self-join — work bounded by Σ C(df, 2) with the
    df-cap as skew guard, never |D|²."""
    from com_danliris_service_etl_spark.operators.text import (
        sparse_cosine_pairs,
    )

    return sparse_cosine_pairs(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# TXT15 — per-source vocabulary growth (Heaps-law numbers, hapax ratio)
# ---------------------------------------------------------------------------

_TXT15_SQL = """
WITH tok AS (
  SELECT source, unnest(string_split(text, ' ')) AS w FROM documents
), wf AS (
  SELECT source, w, count(*)::BIGINT AS f FROM tok GROUP BY 1, 2
)
SELECT source,
       CAST(sum(f) AS BIGINT) AS n_tokens,
       count(*)::BIGINT AS n_types,
       CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
       round(count(*) / CAST(sum(f) AS DOUBLE), 6) AS type_token_ratio,
       round(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) / CAST(count(*) AS DOUBLE), 6) AS hapax_ratio
FROM wf GROUP BY 1
"""


@register("txt15_heaps_hapax", _TXT15_SQL)
def txt15_heaps_hapax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary growth profile per source (operators/text.py
    `vocab_growth_stats`): type/token and hapax ratios — the curator's
    signal for whether new crawl data still adds vocabulary. Exact
    integer counts; the word relation is bounded by the vocabulary."""
    return vocab_growth_stats(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# TXT16 — BPE first-merge pair counts over the vocabulary
# ---------------------------------------------------------------------------

_TXT16_SQL = """
WITH words AS (
  SELECT word, count(*)::BIGINT AS freq
  FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
  WHERE len(word) >= 2
  GROUP BY word
),
pairs AS (
  SELECT substr(word, CAST(i AS INT), 2) AS pair, freq
  FROM words, unnest(range(1, len(word))) AS r(i)
)
SELECT pair, sum(freq)::BIGINT AS pair_count
FROM pairs
GROUP BY pair
ORDER BY pair_count DESC, pair
LIMIT 20
"""


@register("txt16_bpe_pair_counts", _TXT16_SQL)
def txt16_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 corpus-weighted adjacent character pairs — the first merge
    of BPE tokenizer training, factorized over the vocabulary (see
    operators/text.py::bpe_pair_counts for the scale shape). Exact
    integer counts; (count desc, pair) total order."""
    from com_danliris_service_etl_spark.operators.text import bpe_pair_counts

    return bpe_pair_counts(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# TXT17 — bigram-LM quality scoring (the CCNet-style perplexity filter)
# ---------------------------------------------------------------------------

_TXT17_SQL = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
big AS (
  SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
  FROM toks, unnest(range(1, len(t))) AS u(i)
  WHERE len(t) >= 2
),
bc AS (SELECT w1, w2, count(*)::BIGINT AS c12 FROM big GROUP BY 1, 2),
ctx AS (SELECT w1, sum(c12)::BIGINT AS c1 FROM bc GROUP BY 1),
v AS (SELECT count(DISTINCT tok)::DOUBLE AS v
      FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)),
model AS (
  SELECT bc.w1, bc.w2,
         (c12 + 0.5) / (c1 + 0.5 * v.v) AS p
  FROM bc JOIN ctx USING (w1) CROSS JOIN v
)
SELECT big.doc_id, count(*)::BIGINT AS n_bigrams,
       round(avg(-ln(p)), 4) AS avg_nll
FROM big JOIN model ON big.w1 = model.w1 AND big.w2 = model.w2
GROUP BY 1
"""


@register("txt17_bigram_lm_score", _TXT17_SQL)
def txt17_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Add-k-smoothed bigram LM trained on the corpus, every document
    scored by mean −ln p(w2|w1) (operators/text.py::bigram_lm_scores) —
    the CCNet-style perplexity filter for pretraining curation. One
    bigram explode feeds both the model aggregates and the scoring
    probe (lazy checkpoint at the fork); the model joins back on the
    bigram key as a SHUFFLE join by design — at 100 TB the model is
    vocabulary-scale and must not be hinted broadcast."""
    from com_danliris_service_etl_spark.operators.text import bigram_lm_scores

    return bigram_lm_scores(_t(spark, sf_dir, "documents"), add_k=0.5)


# ---------------------------------------------------------------------------
# TXT18 — per-source unigram-distribution drift (exact TV distance)
# ---------------------------------------------------------------------------

# TV(source, corpus) = 1/2 * sum_t |cnt_s(t)/tot_s - cnt_c(t)/tot_c|
#   = [ sum_{t in source} |cnt_s*tot_c - cnt_c*tot_s|          (observed)
#     + tot_s * (tot_c - sum_{t in source} cnt_c) ]            (missing mass)
#     / (2 * tot_s * tot_c)
# Numerator terms are exact integers (DECIMAL(38,0) accumulation); the one
# double division at finalize is correctly rounded from exact inputs, so
# the 6dp round is engine-invariant.
_TXT18_SQL = """
WITH toks AS (SELECT source, unnest(string_split(text, ' ')) AS term
              FROM documents),
st AS (SELECT source, term, count(*)::BIGINT AS cnt_s FROM toks GROUP BY 1, 2),
ct AS (SELECT term, CAST(sum(cnt_s) AS BIGINT) AS cnt_c FROM st GROUP BY 1),
tot AS (SELECT source, CAST(sum(cnt_s) AS BIGINT) AS tot_s FROM st GROUP BY 1),
g AS (SELECT CAST(sum(cnt_c) AS BIGINT) AS tot_c FROM ct),
n AS (
  SELECT st.source,
         sum(abs(st.cnt_s::DECIMAL(38,0) * g.tot_c
                 - ct.cnt_c::DECIMAL(38,0) * tot.tot_s)) AS num_obs,
         CAST(sum(ct.cnt_c) AS BIGINT) AS cover_c
  FROM st JOIN ct USING (term) JOIN tot USING (source) CROSS JOIN g
  GROUP BY 1)
SELECT n.source, tot.tot_s,
       round((n.num_obs::DOUBLE + tot.tot_s::DOUBLE * (g.tot_c - n.cover_c)::DOUBLE)
             / (2.0 * tot.tot_s::DOUBLE * g.tot_c::DOUBLE), 6) AS tv_distance
FROM n JOIN tot USING (source) CROSS JOIN g
"""


@register("txt18_source_divergence", _TXT18_SQL)
def txt18_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixture drift report: exact total-variation distance between
    each source's unigram token distribution and the whole corpus's.

    Scale shape: ONE fact shuffle (explode -> partial-aggregated
    groupBy(source, term)); everything downstream runs on the vocab-sized
    (source, term) relation — corpus term counts via a second hash
    aggregate, a shuffle join back on term (vocab can exceed broadcast at
    100 TB), |sources|-row and 1-row aggregates broadcast back. The
    (source, term) relation forks three ways (ct, tot, the joined sum), so
    it is lazily localCheckpoint-ed once — without it the explode pipeline
    re-runs per reference (the dd8/txt5 ReuseExchange gap).

    Exactness: integer sufficient statistics combined in DECIMAL(38,0) —
    summation order cannot matter (the sim9 discipline) — and the single
    double division at finalize is correctly rounded from exact operands
    in both engines before the 6dp round. The finalize tail
    (ops/text.py::tv_distance_from_counts) is shared with the streaming
    monitor, which maintains the same (source, term) counts as keyed
    streaming state (streaming/jobs.py::run_streaming_source_divergence,
    stream ≡ batch pinned in tests)."""
    from com_danliris_service_etl_spark.operators.text import tv_distance_from_counts

    docs = _t(spark, sf_dir, "documents")
    # NOT spread: the explode+count fact pass is this whole query, and
    # an up-front repartition of the fat text column measured strictly
    # slower in the fresh-plan protocol (sf10 decade: 2.06 -> 2.73 s) —
    # the wire cost of moving the corpus exceeds the map-parallelism
    # gain; the 15-split scan keeps the cores busy enough.
    toks = docs.select("source", F.explode(F.split("text", " ")).alias("term"))
    st = toks.groupBy("source", "term").agg(F.count(F.lit(1)).alias("cnt_s"))
    return tv_distance_from_counts(st)


# ---------------------------------------------------------------------------
# TXT19 — iterative BPE tokenizer training (3 merge steps)
# ---------------------------------------------------------------------------


def _bpe_cte_prefix(iterations: int = 3) -> str:
    """The words/vocab/s0 + (p_k, m_k, s_k) training CTE chain shared by
    txt19 (training trajectory) and txt20 (corpus encode) oracles — m_k
    holds step k's merged (a, b) pair, s_k the post-merge vocab state."""
    pair_cte = """
p{k} AS (SELECT t.syms[i] AS a, t.syms[i + 1] AS b,
                CAST(sum(t.freq) AS BIGINT) AS cnt
         FROM (SELECT freq, list_filter(string_split(w, '  '), x -> x <> '') AS syms
               FROM s{prev}) t,
              unnest(range(1, len(t.syms))) r(i)
         GROUP BY 1, 2),
m{k} AS (SELECT a, b, cnt FROM p{k} ORDER BY cnt DESC, a, b LIMIT 1),
s{k} AS (SELECT replace(w, ' ' || (SELECT a FROM m{k}) || '  ' || (SELECT b FROM m{k}) || ' ',
                           ' ' || (SELECT a FROM m{k}) || (SELECT b FROM m{k}) || ' ') AS w,
                freq
         FROM s{prev})"""
    ctes = "".join(
        "," + pair_cte.format(k=k, prev=k - 1) for k in range(1, iterations + 1)
    )
    return f"""
WITH words AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents),
vocab AS (SELECT word, count(*)::BIGINT AS freq FROM words
          WHERE length(word) >= 2 GROUP BY word),
s0 AS (SELECT '  ' || regexp_replace(word, '(.)', '\\1  ', 'g') AS w, freq
       FROM vocab){ctes}"""


def _llm_bpe_sql(iterations: int = 3) -> str:
    out_sel = """
SELECT {k} AS step, (SELECT a || b FROM m{k}) AS merged,
       (SELECT cnt FROM m{k}) AS pair_count,
       (SELECT CAST(sum(freq * len(list_filter(string_split(w, '  '), x -> x <> '')))
               AS BIGINT) FROM s{k}) AS symbols_after"""
    sels = "\nUNION ALL".join(out_sel.format(k=k) for k in range(1, iterations + 1))
    return f"""{_bpe_cte_prefix(iterations)}
{sels}
"""


@register("txt19_bpe_train", _llm_bpe_sql())
def txt19_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three BPE merge steps trained on the corpus vocabulary
    (ops/text.py::bpe_train — the iterative driver-loop extension of
    txt16's single-step pair counts): per step, the merged pair, its
    selection-time corpus-weighted count, and the corpus symbol total
    after applying the merge. See the operator docstring for the
    double-space symbol-string representation that makes greedy merge
    application one literal replace() in both engines."""
    from com_danliris_service_etl_spark.operators.text import bpe_train

    return bpe_train(_t(spark, sf_dir, "documents"), iterations=3)


# ---------------------------------------------------------------------------
# TXT20 — BPE corpus encoding (apply the learned merges to every document)
# ---------------------------------------------------------------------------


def _txt20_sql(iterations: int = 3) -> str:
    applied = "'  ' || regexp_replace(word, '(.)', '\\1  ', 'g')"
    for k in range(1, iterations + 1):
        applied = (
            f"replace({applied},"
            f" ' ' || (SELECT a FROM m{k}) || '  ' || (SELECT b FROM m{k}) || ' ',"
            f" ' ' || (SELECT a FROM m{k}) || (SELECT b FROM m{k}) || ' ')"
        )
    return f"""{_bpe_cte_prefix(iterations)},
docw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
enc AS (SELECT doc_id,
               length(word)::BIGINT AS chars,
               len(list_filter(string_split({applied}, '  '),
                               x -> x <> ''))::BIGINT AS toks
        FROM docw WHERE word <> '')
SELECT doc_id,
       count(*)::BIGINT AS n_words,
       CAST(sum(chars) AS BIGINT) AS n_chars,
       CAST(sum(toks) AS BIGINT) AS n_tokens,
       (CAST(sum(toks) AS BIGINT) * 1000000) // CAST(sum(chars) AS BIGINT)
         AS compression_micro
FROM enc GROUP BY doc_id HAVING sum(chars) > 0
"""


@register("txt20_bpe_encode", _txt20_sql())
def txt20_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE corpus ENCODING (ops/text.py::bpe_encode) — the apply half of
    the tokenizer pipeline txt19 trains: every document tokenized with
    the 3 learned merges, reporting per-doc words, pre-merge symbols
    (characters), post-merge tokens, and the exact integer compression
    micro-ratio. Train→apply is the operation an LLM data pipeline runs
    on the whole corpus once the tokenizer is fixed.

    Scale shape: training collects one bounded argmax row per step; the
    encode itself is a ZERO-shuffle row-local scan projection — the
    merges are string literals folded into a chained replace() inside a
    per-word fold, so tokenizing 100 TB is embarrassingly parallel. The
    oracle re-derives the same merges as training CTEs (shared with
    txt19 via _bpe_cte_prefix) and applies the same chained replace —
    greedy merge application is exact in both engines via the
    double-space symbol representation (see bpe_train)."""
    from com_danliris_service_etl_spark.operators.text import bpe_encode

    return bpe_encode(_t(spark, sf_dir, "documents"), iterations=3)


# ---------------------------------------------------------------------------
# TXT21 — tokenizer fertility per corpus slice
# ---------------------------------------------------------------------------


def _txt21_sql(iterations: int = 3) -> str:
    applied = "'  ' || regexp_replace(word, '(.)', '\\1  ', 'g')"
    for k in range(1, iterations + 1):
        applied = (
            f"replace({applied},"
            f" ' ' || (SELECT a FROM m{k}) || '  ' || (SELECT b FROM m{k}) || ' ',"
            f" ' ' || (SELECT a FROM m{k}) || (SELECT b FROM m{k}) || ' ')"
        )
    return f"""{_bpe_cte_prefix(iterations)},
docw AS (SELECT lang, source, doc_id,
                unnest(string_split(text, ' ')) AS word
         FROM documents),
enc AS (SELECT lang, source, doc_id,
               length(word)::BIGINT AS chars,
               len(list_filter(string_split({applied}, '  '),
                               x -> x <> ''))::BIGINT AS toks
        FROM docw WHERE word <> ''),
per AS (SELECT lang, source, doc_id,
               count(*)::BIGINT AS w,
               CAST(sum(chars) AS BIGINT) AS c,
               CAST(sum(toks) AS BIGINT) AS t
        FROM enc GROUP BY 1, 2, 3 HAVING sum(chars) > 0)
SELECT lang, source,
       count(*)::BIGINT AS n_docs,
       CAST(sum(w) AS BIGINT) AS n_words,
       CAST(sum(c) AS BIGINT) AS n_chars,
       CAST(sum(t) AS BIGINT) AS n_tokens,
       (CAST(sum(t) AS BIGINT) * 1000000) // CAST(sum(w) AS BIGINT)
         AS fertility_micro,
       (CAST(sum(t) AS BIGINT) * 1000000) // CAST(sum(c) AS BIGINT)
         AS compression_micro
FROM per GROUP BY lang, source
"""


@register("txt21_tokenizer_fertility", _txt21_sql())
def txt21_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(lang, source) tokenizer fertility report (ops/text.py::
    bpe_fertility): subword tokens per word and per character under the
    corpus-trained 3-merge BPE tokenizer — the slice-level evaluation
    table (Rust et al. 2021) that decides per-language token budgets
    and flags slices the tokenizer fits poorly. Shares the encode
    kernel with txt20; the only exchange is one map-side-combined
    aggregate on the slice key, so the report is one fact pass at any
    scale. The oracle re-derives the merges as CTEs (txt19's
    discipline) and aggregates doc-grain accounting the same way."""
    from com_danliris_service_etl_spark.operators.text import bpe_fertility

    return bpe_fertility(_t(spark, sf_dir, "documents"), iterations=3)
