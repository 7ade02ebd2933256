"""Text-analysis operators for training-data pipelines: token statistics,
quality scoring, heuristic language ID, and canonical fingerprinting.

All native Spark SQL expressions (whole-stage codegen; no UDFs) — at
100 TB these are narrow per-row transforms pipelined into the scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from com_danliris_service_etl_spark.operators.partitioning import spread

# Per-language marker tokens for the n-gram/stopword language heuristic.
# Deliberately tiny: the operator contract is "deterministic scoring +
# argmax with alphabetical tiebreak", not linguistic accuracy.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "de": ("der", "die", "das", "und", "ist"),
    "en": ("the", "a", "of", "and", "to"),
    "es": ("el", "la", "de", "que", "y"),
    "fr": ("le", "la", "les", "et", "des"),
    # NB: all five zh markers are Chinese function words — an English
    # token here (an earlier revision had "we") makes ordinary English
    # prose score as Chinese.
    "zh": ("的", "是", "了", "在", "和"),
}


# BPE-ish pre-tokenization: letter runs, digit runs, punctuation runs —
# the GPT-2-style split shape. A run of n chars costs ~ceil(n/4) merged
# subword tokens (the empirical ~4 chars/token BPE ratio), giving a
# deterministic token-count estimate with no vocabulary file.
BPE_SPLIT_RE = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+"


def token_stats(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Whitespace token count, char count, distinct-token count, mean token
    length, plus the BPE-ish counts: regex pre-token count and estimated
    subword count (ceil(len/4) per pre-token). All narrow per-row codegen
    expressions — pipelined into the scan at any scale."""
    toks = F.split(F.col(text_col), " ")
    total_len = F.expr(
        f"aggregate(split({text_col}, ' '), 0L, (acc, t) -> acc + length(t))"
    )
    # Pattern passed as a Column literal — a SQL-string literal would eat
    # the \s escape (Spark SQL strings process backslashes; DuckDB's don't).
    pieces = F.regexp_extract_all(F.col(text_col), F.lit(BPE_SPLIT_RE), F.lit(0))
    return docs.select(
        id_col,
        F.size(toks).alias("n_tokens"),
        F.length(text_col).alias("n_chars_calc"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        F.round(total_len.cast("double") / F.size(toks), 6).alias("avg_token_len"),
        F.size(pieces).alias("n_bpe_pieces"),
        F.aggregate(
            pieces,
            F.lit(0).cast("long"),
            lambda acc, p: acc + F.ceil(F.length(p) / 4.0).cast("long"),
        ).alias("n_bpe_tokens_est"),
    )


def _marker_hits(text_col: str, markers: tuple[str, ...]) -> Column:
    in_list = ", ".join(f"'{m}'" for m in markers)
    return F.expr(f"size(filter(split({text_col}, ' '), t -> t IN ({in_list})))")


def _quality_parts(text_col: str) -> tuple[Column, Column, Column]:
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks).cast("double")
    stop_ratio = _marker_hits(text_col, LANG_MARKERS["en"]).cast("double") / n
    distinct_ratio = F.size(F.array_distinct(toks)).cast("double") / n
    avg_len = (
        F.expr(f"aggregate(split({text_col}, ' '), 0L, (acc, t) -> acc + length(t))").cast(
            "double"
        )
        / n
    )
    return stop_ratio, distinct_ratio, avg_len


def quality_col(text_col: str = "text") -> Column:
    """The rounded aggregate quality score as a pure COLUMN expression —
    composable into other per-row projections (llm1 fuses it with langid
    into one scan-side select instead of joining quality_score's output
    back on the id)."""
    stop_ratio, distinct_ratio, avg_len = _quality_parts(text_col)
    score = (
        stop_ratio * 0.3
        + distinct_ratio * 0.5
        + F.least(avg_len / 10.0, F.lit(1.0)) * 0.2
    )
    return F.round(score, 6)


def quality_score(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Heuristic quality features + aggregate score:
    stopword ratio (fluency proxy), distinct-token ratio (repetition
    penalty), and mean token length (gibberish guard)."""
    stop_ratio, distinct_ratio, avg_len = _quality_parts(text_col)
    return docs.select(
        id_col,
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(distinct_ratio, 6).alias("distinct_ratio"),
        F.round(avg_len, 6).alias("avg_token_len"),
        quality_col(text_col).alias("quality"),
    )


def language_pred_col(text_col: str = "text") -> Column:
    """Marker-token language-ID argmax (alphabetical tiebreak) as a pure
    COLUMN expression. The per-language hit counts appear in several
    comparisons; whole-stage codegen's subexpression elimination computes
    each once per row."""
    langs = sorted(LANG_MARKERS)
    hits = {lang: _marker_hits(text_col, LANG_MARKERS[lang]) for lang in langs}
    pred = None
    for lang in langs:  # first maximum in alphabetical order wins
        cond = None
        for other in langs:
            if other == lang:
                continue
            c = hits[lang] >= hits[other]
            cond = c if cond is None else (cond & c)
        pred = F.when(cond, lang) if pred is None else pred.when(cond, lang)
    return pred


def detect_language(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str | None = "lang",
) -> DataFrame:
    """Marker-token language ID: score = hits per language; argmax with
    alphabetical tiebreak (deterministic). ``lang_col`` names an optional
    ground-truth column carried through as ``lang_actual`` for accuracy
    audits — most real corpora don't have one, and a hardcoded reference
    to it would fail at plan time, so it is skipped when absent."""
    cols = [F.col(id_col)]
    if lang_col and lang_col in docs.columns:
        cols.append(F.col(lang_col).alias("lang_actual"))
    return docs.select(*cols, language_pred_col(text_col).alias("lang_pred"))


# Rolling-hash parameters: Rabin-Karp polynomial over codepoints, Horner
# form with a mod at every step so intermediates stay < M·B + cp ≪ 2^63.
ROLL_W = 8  # window width (chars)
ROLL_B = 257
ROLL_M = 1_000_000_007


def _horner_hash(text_col: str, pos: str) -> str:
    """SQL expr: polynomial hash of the ROLL_W-char window at 1-based
    ``pos`` — plain arithmetic over substring/ascii, fully inside
    whole-stage codegen. BIGINT from the first term: intermediates
    reach M·B ≈ 2.6e11 > 2^31."""
    h = f"CAST(ascii(substring({text_col}, {pos}, 1)) AS BIGINT)"
    for j in range(1, ROLL_W):
        h = (
            f"(({h}) * {ROLL_B}"
            f" + ascii(substring({text_col}, {pos}+{j}, 1))) % {ROLL_M}"
        )
    return h


def fingerprint(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Document fingerprints for near-dup detection:

    - ``fingerprint``: canonical sorted-distinct-token md5 — catches
      token-reordering duplicates that exact hashing misses.
    - ``rolling_min_hash`` / ``n_distinct_windows``: Rabin-Karp rolling
      hash over every 8-char window (winnowing-style content sketch —
      shared substrings produce shared window hashes regardless of where
      they sit in the document); NULL for documents shorter than one
      window. The min window hash is the 1-element winnowing selection;
      the distinct-window count calibrates containment scores.

    Plan (r14 rewrite, the honest-estimator find): the window hashes
    were a `transform(sequence(...), i -> <Horner>)` array — but
    higher-order lambdas are CodegenFallback, so every window evaluated
    a ~40-node expression tree INTERPRETED, twice (the min and the
    distinct-count inlined the array independently): 27 s at sf0.1.
    Now the positions EXPLODE to rows and the same Horner chain runs as
    plain projected arithmetic inside whole-stage codegen, aggregated
    per doc (min is map-side combinable; the exact distinct count is
    the standard two-phase distinct aggregate) — one doc-keyed exchange
    of per-doc partials replaces an interpreted 2-pass per-row fold.
    Documents shorter than one window emit no position rows; the left
    join re-attaches them with NULL sketch columns (the oracle's CASE
    WHEN semantics)."""
    base = spread(docs)
    canon = F.concat_ws(
        " ", F.array_sort(F.array_distinct(F.split(F.col(text_col), " ")))
    )
    head = base.select(id_col, F.md5(canon).alias("fingerprint"))
    # sequence(1, len-7) DESCENDS when len < 8 (SKILL gotcha): emit an
    # empty array instead so short docs drop out of the explode.
    win = base.select(
        id_col,
        F.col(text_col),
        F.explode(
            F.expr(
                f"CASE WHEN length({text_col}) >= {ROLL_W}"
                f" THEN sequence(1, length({text_col}) - {ROLL_W - 1})"
                f" ELSE CAST(array() AS ARRAY<INT>) END"
            )
        ).alias("__i"),
    ).select(id_col, F.expr(_horner_hash(text_col, "__i")).alias("__h"))
    sketch = win.groupBy(id_col).agg(
        F.min("__h").alias("rolling_min_hash"),
        F.countDistinct("__h").cast("int").alias("n_distinct_windows"),
    )
    return head.join(sketch, id_col, "left")


def _tf_rows(docs: DataFrame, text_col: str, id_expr: F.Column) -> DataFrame:
    """(id, term, tf): explode tokens, hash-aggregate on (doc, term).

    Two row-local alternatives were MEASURED SLOWER and rejected: a
    distinct×filter-count per-row tf is O(n²)/doc (2x slower end-to-end),
    and a sorted-run-length per-row tf (O(n log n)) still loses ~40% to
    this form — Spark's vectorized explode + partial hash aggregation
    beats per-row array sorting, and the exchange ships only the
    map-side-combined (doc, term) partials, not raw tokens.

    `spread` first (r11): the explode AND the partial hash aggregation
    run in the scan's stage, so a one-file corpus executed the whole tf
    build on ONE partition (txt8 3.5x / txt9 3.4x vs oracle at derived
    sf1 before; the sim1 lesson) — conditional, pass-through on
    well-partitioned inputs."""
    base = spread(docs).select(
        id_expr, F.explode(F.split(F.col(text_col), " ")).alias("term")
    )
    id_name = base.columns[0]
    return base.groupBy(id_name, "term").agg(F.count(F.lit(1)).alias("tf"))


def tfidf_top_terms(
    docs: DataFrame,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k characteristic terms per document by TF-IDF
    (tf · ln(N/df)) — the keyword/salience primitive behind corpus
    exploration, topic labeling, and quality heuristics.

    Scale shape: term frequencies are one (doc, term) shuffle with
    map-side combine (see `_tf_rows` for the measured rejection of the
    shuffle-free row-local alternatives); document frequencies reduce
    the per-doc-unique tf rows with a plain count — one
    map-side-combinable shuffle on the term key, cheaper than a
    count-distinct over raw token rows — and the vocabulary-sized
    result BROADCASTS back onto the tf rows; the corpus row count joins
    as a broadcast 1-row aggregate, keeping the whole plan declarative
    (no driver-side count() action). Ranking orders by the ROUNDED score
    so float-ulp differences in ln() across engines cannot flip ranks,
    with the term itself as the total-order tiebreak."""
    from pyspark.sql import Window

    # tf feeds TWO different exchanges (the df aggregate and the scored
    # join) — without a checkpoint the explode+aggregate pipeline runs
    # once per reference (same fork fix as bm25/unigram-LM; measured
    # −18% at sf0.1, identical results). Lazy: no extra job.
    tf = _tf_rows(docs, text_col, F.col(id_col).alias(id_col)).localCheckpoint(
        eager=False
    )
    # one row per (doc, term) by construction → df is a plain count
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).cast("double").alias("__n"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.round(F.col("tf") * F.log(F.col("__n") / F.col("df")), 6),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "term", "tf", "tfidf", "rank")
    )


def repetition_stats(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Gopher-style repetition features: top-token fraction, duplicate
    unigram fraction, duplicate bigram fraction, and a composite
    ``is_repetitive`` flag — the quality rules used to drop boilerplate
    and degenerate (looping) documents from a training corpus.

    The distinct-token and bigram ratios are pure per-row array
    expressions (codegen, no shuffle). The top-token count is computed
    relationally — explode → (doc, token) count → per-doc max — i.e. one
    map-side-combinable shuffle keyed on (doc_id, token); the
    expression-only alternative (count each distinct token with a
    filter() scan) is O(distinct·n) per row, which a pathological
    100 MB single-token document would turn quadratic."""
    toks = F.split(F.col(text_col), " ")
    n = F.size(toks)
    # Bigram array via ONE zip_with pass over two slices of the
    # once-projected token array. The previous form indexed
    # `split(text)[i]` INSIDE a transform lambda — higher-order lambdas
    # are interpreted (CodegenFallback), and the split re-ran PER
    # ELEMENT: O(n·chars) interpreted work per occurrence, ×2
    # occurrences (size + distinct), found by the r14 honest-estimator
    # sweep. zip_with still interprets its lambda but the body is one
    # concat over element refs, the bigram COUNT is plain arithmetic
    # (n−1), and the distinct count is native array_distinct over the
    # once-built array.
    bigrams = F.expr(
        "zip_with(slice(__tk, 1, size(__tk) - 1),"
        "         slice(__tk, 2, size(__tk) - 1),"
        "         (x, y) -> concat(x, ' ', y))"
    )
    per_row = docs.select(
        F.col(id_col), F.col(text_col), toks.alias("__tk")
    ).select(
        F.col(id_col),
        F.size("__tk").cast("long").alias("n_tokens"),
        F.size(F.array_distinct("__tk")).alias("_n_distinct"),
        F.greatest(F.size("__tk") - 1, F.lit(0)).alias("_n_bi"),
        F.size(F.array_distinct(bigrams)).alias("_n_bi_distinct"),
    )
    top = (
        docs.select(F.col(id_col), F.explode(toks).alias("tok"))
        .groupBy(id_col, "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
        .groupBy(id_col)
        .agg(F.max("tf").alias("_top_tf"))
    )
    out = per_row.join(top, id_col)
    top_frac = F.round(F.col("_top_tf") / F.col("n_tokens"), 6)
    dup_uni = F.round(1.0 - F.col("_n_distinct") / F.col("n_tokens"), 6)
    dup_bi = F.when(F.col("_n_bi") > 0, F.round(1.0 - F.col("_n_bi_distinct") / F.col("_n_bi"), 6)).otherwise(
        F.lit(0.0)
    )
    return out.select(
        id_col,
        F.col("n_tokens"),
        top_frac.alias("top_token_frac"),
        dup_uni.alias("dup_token_frac"),
        dup_bi.alias("dup_bigram_frac"),
        ((top_frac > 0.2) | (dup_bi > 0.9)).alias("is_repetitive"),
    )


def inverted_index(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Inverted-index dictionary build: per term — document frequency,
    collection frequency, and an order-canonical digest of the postings
    list ``doc:tf,doc:tf,…`` (sorted by doc id).

    Scale shape: one (doc, term) shuffle with map-side combine for tf,
    then one (term) shuffle that materializes each term's postings. The
    md5 digest stands in for writing the posting payload; a real index
    writer would range-partition terms and spill long postings in
    doc-id-sorted runs — the aggregation key and sort order here are
    exactly those. Hot terms (stopwords) are the skew risk at 100 TB:
    cap or stoplist them upstream, or salt the term key (operators/
    skew.py) — the digest is order-canonical either way."""
    toks = docs.select(F.col(id_col).alias("doc"), F.explode(F.split(F.col(text_col), " ")).alias("term"))
    tf = toks.groupBy("term", "doc").agg(F.count(F.lit(1)).alias("tf"))
    postings = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct(F.col("doc"), F.col("tf")))),
            lambda x: F.concat_ws(":", x["doc"].cast("string"), x["tf"].cast("string")),
        ),
        ",",
    )
    return tf.groupBy("term").agg(
        F.count(F.lit(1)).alias("doc_freq"),
        F.sum("tf").alias("coll_freq"),
        F.md5(postings).alias("postings_md5"),
    )


def bm25_topk(
    docs: DataFrame,
    n_terms: int = 3,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """BM25 ranking for the corpus's own top-``n_terms``
    collection-frequency terms (a self-contained relevance benchmark —
    no external query set needed): per term, the top-``k`` documents by
    BM25 score with Okapi parameters (k1, b) and the standard
    ``ln((N - df + 0.5)/(df + 0.5) + 1)`` idf.

    Relational all the way down: tf is one map-side-combined (doc, term)
    shuffle (the `_tf_rows` form — the measured winner over shuffle-free
    row-local tf — widened here to carry the document length ROW-LOCALLY:
    dl = size(split(text)) is computed in the scan projection and rides
    every (doc, term) row through the explode, so the old doc-grain
    `doclen` aggregate AND its join back onto the postings — two
    fact-scale exchanges — disappear; dl is functionally dependent on
    doc, so adding it to the groupBy key changes no counts). The tf
    relation is MATERIALIZED ONCE (localCheckpoint) because both
    downstream stages derive from it: df/cf reduce the per-doc-unique
    rows with one map-side-combinable (term) shuffle, and the scored
    postings ride the broadcast term semi-join. Corpus stats (N, avgdl)
    are two scalar aggregates — sum_dl is the global sum(tf) over the
    materialized tf rows (total corpus tokens; no re-tokenization) and
    n_docs an id-column-only count — joined as a 1-row broadcast cross
    join before the per-term top-k window. Hot (stopword) terms are the skew risk — the
    query-term set is tiny and broadcast, so only matching postings
    survive the semi-join before the window."""
    from pyspark.sql import Window

    tf = (
        spread(docs)
        .select(
            F.col(id_col).alias("doc"),
            F.split(F.col(text_col), " ").alias("__t"),
        )
        .select("doc", F.size("__t").alias("dl"), F.explode("__t").alias("term"))
        .groupBy("doc", "dl", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint()
    )
    df_ = tf.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"), F.sum("tf").alias("cf")
    )
    # sum_dl == total corpus tokens == the global sum(tf); n_docs counts
    # only docs that YIELD tokens (a NULL text splits to NULL and explode
    # drops it, so it never reaches tf — counting docs.id would inflate
    # n_docs/avgdl relative to the tf-derived stats). Both are one 1-row
    # aggregate over the already-materialized tf rows, NOT a second
    # tokenization pass over the raw text (measured 2.9x at sf1 when
    # stats re-split the corpus).
    stats = tf.agg(
        F.sum("tf").alias("sum_dl"),
        F.countDistinct("doc").alias("n_docs"),
    )
    top_terms = (
        df_.orderBy(F.col("cf").desc(), F.col("term")).limit(n_terms)
        .select("term", "df")
    )
    idf = F.log(
        (F.col("n_docs") - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
        + F.lit(1.0)
    )
    avgdl = F.col("sum_dl") / F.col("n_docs")
    score = idf * (
        F.col("tf") * F.lit(k1 + 1.0)
        / (F.col("tf") + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / avgdl))
    )
    # Rank on the ROUNDED score with the doc id as tiebreak (same pattern
    # as tfidf_top_terms): ln()/division ulp differences across engines
    # must not be able to flip ranks.
    w = Window.partitionBy("term").orderBy(F.col("bm25").desc(), F.col("doc"))
    return (
        tf.join(F.broadcast(top_terms), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn("bm25", F.round(score, 4))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("term", "doc", "tf", "bm25", "rank")
    )


def unigram_logprob_scores(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    low: float = -4.0,
    high: float = -3.0,
) -> DataFrame:
    """CCNet-style language-model quality score, with the corpus itself as
    the LM: train a unigram model (token → count / corpus total) in one
    pass, then score every document by its mean token log-probability.
    Documents far below the corpus-typical logprob are gibberish /
    boilerplate candidates; far above are degenerate repetitions of the
    most common tokens — the ``lm_band`` column buckets docs into
    keep/review/drop bands on the (low, high) thresholds, the shape the
    real pipeline's perplexity filter takes (CCNet trains on Wikipedia;
    self-training is the bootstrap variant when no reference corpus
    exists).

    Scale shape: tf is the one map-side-combined (doc, term) shuffle
    shared with tfidf/bm25 (`_tf_rows`); the vocabulary reduces those
    per-doc-unique rows with a second map-side-combinable (term) shuffle
    and BROADCASTS back onto the tf rows (a unigram vocab is ~10⁶ rows at
    any corpus size — always broadcastable); the corpus token total joins
    as a 1-row broadcast. Per-doc reassembly is the final (doc) shuffle.
    No stage ever holds more than the compact (doc, term, tf) relation.

    Cross-engine determinism: per-term ln() is rounded to 6 decimals
    BEFORE the per-doc sum (ulp-level libm differences cannot survive),
    and the mean is re-rounded to 4 — the convention every float-summing
    query in this repo uses (see st1/BASELINE.md).

    The tf relation feeds three consumers (vocab, corpus total, the
    score join) — MATERIALIZED ONCE like bm25's tf (static plan showed
    the whole explode+aggregate pipeline replicated per consumer: 6
    corpus scans; A/B'd at sf0.1)."""
    tf = _tf_rows(docs, text_col, F.col(id_col).alias("doc")).localCheckpoint()
    vocab = tf.groupBy("term").agg(F.sum("tf").alias("cnt"))
    total = vocab.agg(F.sum("cnt").cast("double").alias("__total"))
    logp = F.round(F.log(F.col("cnt") / F.col("__total")), 6)
    mean_lp = F.round(
        F.sum(F.col("tf") * F.col("__logp")) / F.sum("tf"), 4
    )
    return (
        tf.join(F.broadcast(vocab), "term")
        .crossJoin(F.broadcast(total))
        .withColumn("__logp", logp)
        .groupBy("doc")
        .agg(
            F.sum("tf").cast("long").alias("n_tokens"),
            mean_lp.alias("mean_logprob"),
        )
        .select(
            F.col("doc").alias(id_col),
            "n_tokens",
            "mean_logprob",
            F.when(F.col("mean_logprob") < low, F.lit("drop"))
            .when(F.col("mean_logprob") > high, F.lit("review"))
            .otherwise(F.lit("keep"))
            .alias("lm_band"),
        )
    )


def window_language_profile(
    docs: DataFrame,
    window_tokens: int = 20,
    mixed_below: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Windowed language-consistency profile (code-switch detection):
    language-ID every fixed ``window_tokens``-token window with the same
    marker-argmax as `language_pred_col`, then per document report the
    dominant window language, the agreement ratio, and an ``is_mixed``
    flag — the signal CCNet-style pipelines use to split or drop
    documents that switch language mid-stream (doc-level langid silently
    mislabels half of such a document).

    Scale shape: the window split + per-window argmax is a narrow 1:N
    fanout pipelined into the scan (same slice form as passage dedup);
    the only shuffles are the map-side-combinable (doc, lang) count and
    the per-doc dominant selection — a window over the counts, ordered
    (cnt DESC, lang) so ties break deterministically on both engines.
    All counts integer; the agreement division is the only float,
    rounded before the threshold compare."""
    from pyspark.sql import Window

    k = window_tokens
    langs = sorted(LANG_MARKERS)

    # spread: the per-window marker argmax below is the hot projection
    # and a one-file corpus would run it on ONE partition (the sim1
    # lesson, r11); tokenize ONCE into a column — the previous inline
    # form re-split the text twice per row (size + slice operands)
    wins = spread(docs).select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("t")
    ).select(
        F.col(id_col),
        F.explode(
            F.expr(
                f"transform(sequence(0, cast(ceil(size(t) / {k}.0) as int) - 1),"
                f" i -> slice(t, i * {k} + 1, {k}))"
            )
        ).alias("w"),
    )
    hits = {
        lang: F.size(
            F.filter(
                F.col("w"),
                lambda t: t.isin(*LANG_MARKERS[lang]),
            )
        )
        for lang in langs
    }
    pred = None
    for lang in langs:  # first maximum in alphabetical order wins
        cond = None
        for other in langs:
            if other == lang:
                continue
            c = hits[lang] >= hits[other]
            cond = c if cond is None else (cond & c)
        pred = F.when(cond, lang) if pred is None else pred.when(cond, lang)

    cnts = (
        wins.select(id_col, pred.alias("p"))
        .groupBy(id_col, "p")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    wdoc = Window.partitionBy(id_col)
    rk = Window.partitionBy(id_col).orderBy(F.col("cnt").desc(), F.col("p"))
    agreement = F.round(F.col("cnt") / F.col("__n"), 6)
    return (
        cnts.withColumn("__n", F.sum("cnt").over(wdoc))
        .withColumn("__rk", F.row_number().over(rk))
        .filter(F.col("__rk") == 1)
        .select(
            id_col,
            F.col("__n").cast("long").alias("n_windows"),
            F.col("p").alias("dominant_lang"),
            agreement.alias("agreement"),
            (agreement < mixed_below).alias("is_mixed"),
        )
    )


def boilerplate_ngram_stats(
    docs: DataFrame,
    k: int = 3,
    min_docs: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-document boilerplate phrase detection (the C4/CCNet cleanup
    shape): a word ``k``-gram counts as boilerplate when it occurs in at
    least ``min_docs`` DISTINCT documents (site chrome, license headers,
    navigation text — phrases no single author writes independently);
    per document, report how much of its phrase inventory is boilerplate
    — the removal signal a corpus-cleaning pass filters or strips on.

    Output: (doc_id, n_shingles, n_boiler, boiler_share) over each
    document's DISTINCT k-shingles; documents with < k tokens drop out
    (no shingles — mirrored in the oracle).

    Scale shape (r11 rewrite, 4.76x -> measured below at derived sf1):
    per-document distinctness AND the per-document total are ROW-LOCAL
    (``array_distinct`` + ``size`` before the explode — the full
    exploded relation is never re-joined or re-aggregated for totals);
    the document-frequency count is ONE map-side-combinable groupBy on
    the shingle (only true boilerplate is hot, and those are exactly
    the keys partial aggregation collapses hardest); membership rides a
    LEFT SEMI join against only the BOILERPLATE set (``__nd >=
    min_docs`` — a tiny fraction of the vocabulary; AQE broadcasts it
    from the measured size), so the per-doc boiler aggregate runs over
    boiler hits only, not the whole phrase inventory; zero-hit
    documents re-attach through the (doc-grain) left join against the
    row-local base. The r10 form instead inner-joined the FULL exploded
    relation to the FULL count relation and re-counted totals from it —
    two fact-scale exchanges this shape never needed."""
    idx = ", ".join(f"t[i+{j}]" for j in range(k))
    sh_arr = F.expr(
        f"array_distinct(transform(sequence(0, size(t)-{k}),"
        f" i -> concat_ws(' ', {idx})))"
    )
    base = (
        spread(docs)
        .select(id_col, F.split(F.col(text_col), " ").alias("t"))
        .filter(F.size("t") >= k)
        .select(id_col, sh_arr.alias("__sh"))
        # referenced twice (per-doc totals + the exploded stream) with
        # different exchange children, so ReuseExchange can't dedupe —
        # without this the scan+split+distinct pipeline runs twice
        # (dedup_clusters' pairs-input lesson)
        .localCheckpoint(eager=False)
    )
    sh = base.select(id_col, F.explode("__sh").alias("s"))
    boiler_set = (
        sh.groupBy("s")
        .agg(F.count(F.lit(1)).alias("__nd"))
        .filter(F.col("__nd") >= min_docs)
        .select("s")
    )
    boiler_per_doc = (
        sh.join(boiler_set, "s", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("__nb"))
    )
    return (
        base.select(id_col, F.size("__sh").cast("long").alias("n_shingles"))
        .join(boiler_per_doc, id_col, "left")
        .select(
            id_col,
            "n_shingles",
            F.coalesce(F.col("__nb"), F.lit(0)).cast("long").alias("n_boiler"),
            F.round(
                F.coalesce(F.col("__nb"), F.lit(0)).cast("double")
                / F.col("n_shingles").cast("double"),
                6,
            ).alias("boiler_share"),
        )
    )


def pmi_bigrams(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_count: int = 5,
) -> DataFrame:
    """Pointwise mutual information over adjacent token pairs —
    collocation extraction (PMI = ln(p(w1,w2) / (p(w1)·p(w2)))), the
    phrase-mining primitive behind tokenizer vocabulary candidates and
    boilerplate phrase detection. Returns (w1, w2, n_ab, pmi) for bigrams
    with ``n_ab ≥ min_count`` (the standard low-count PMI noise filter).

    Scale shape: bigram and unigram counts are each ONE explode +
    map-side-combined groupBy over the token stream (no windows — a
    window-over-position form would buffer whole documents per task);
    the probability normalizers ride as broadcast 1-row scalars; the two
    unigram lookups are equi-joins on the word (vocabulary-sized right
    sides, Jaccard-class skew only on true stopword hubs — bounded
    because the bigram side is already aggregated, one row per pair).
    All-integer counts; the single ln() at the output boundary is the
    only float, computed from the same integers in any engine."""
    # spread both corpus passes (r11, the sim1 one-partition lesson)
    docs = spread(docs)
    toks = docs.select(F.split(F.col(text_col), " ").alias("t")).filter(
        F.size("t") >= 2
    )
    bi = (
        toks.select(
            F.explode(
                F.expr(
                    "transform(sequence(0, size(t)-2),"
                    " i -> struct(t[i] AS w1, t[i+1] AS w2))"
                )
            ).alias("b")
        )
        .select("b.w1", "b.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .filter(F.col("n_ab") >= min_count)
    )
    uni = (
        docs.select(F.explode(F.split(F.col(text_col), " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n_w"))
        .localCheckpoint(eager=False)  # joined twice (w1 and w2 lookups)
    )
    totals = uni.agg(
        F.sum("n_w").cast("double").alias("N"),
    )
    # B must normalize over ALL bigram occurrences, not just the bigrams
    # surviving min_count — which is exactly sum(size(t) − 1) per doc.
    b_total = toks.agg(
        F.sum(F.size("t") - F.lit(1)).cast("double").alias("B")
    )
    joined = (
        bi.join(uni.select(F.col("w").alias("w1"), F.col("n_w").alias("n_a")), "w1")
        .join(uni.select(F.col("w").alias("w2"), F.col("n_w").alias("n_b")), "w2")
        .join(F.broadcast(totals))
        .join(F.broadcast(b_total))
    )
    pmi = F.log(
        (F.col("n_ab") / F.col("B"))
        / ((F.col("n_a") / F.col("N")) * (F.col("n_b") / F.col("N")))
    )
    return joined.select("w1", "w2", "n_ab", F.round(pmi, 6).alias("pmi"))


def vocab_coverage(
    docs: DataFrame,
    vocab_size: int = 1000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-``vocab_size`` corpus vocabulary (frequency desc, token asc —
    a TOTAL order so the LIMIT boundary is deterministic cross-engine)
    and per-document OOV rate against it — the tokenizer-training
    coverage metric: "how much of each document does a V-token
    vocabulary explain?".

    Shape: the exploded token relation is built ONCE and lazily
    checkpointed — it feeds two different exchanges (global term counts
    and the per-doc membership probe), and without the checkpoint the
    scan+explode runs once per reference (the dd8/txt5 fork lesson).
    The vocabulary itself is a bounded global top-k
    (``orderBy().limit(V)`` — dimension-sized, broadcast into the
    probe), so the membership test is a map-side LEFT join: no shuffle
    of the corpus beyond the one (doc, token) aggregate."""
    tokens = (
        docs.filter(F.col(text_col).isNotNull())
        .select(id_col, F.explode(F.split(F.col(text_col), " ")).alias("__tok"))
        .filter(F.col("__tok") != "")
        .localCheckpoint(eager=False)
    )
    vocab = (
        tokens.groupBy("__tok")
        .agg(F.count(F.lit(1)).alias("__n"))
        .orderBy(F.col("__n").desc(), F.col("__tok").asc())
        .limit(vocab_size)
        .select("__tok", F.lit(1).alias("__in_vocab"))
    )
    probed = tokens.join(F.broadcast(vocab), "__tok", "left")
    return probed.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum(F.when(F.col("__in_vocab").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_oov"),
        F.round(
            F.sum(F.when(F.col("__in_vocab").isNull(), 1).otherwise(0))
            / F.count(F.lit(1)),
            6,
        ).alias("oov_rate"),
    )


def sparse_cosine_pairs(
    docs: DataFrame,
    threshold: float = 0.1,
    shingle_k: int = 3,
    min_df: int = 2,
    max_df: int = 100,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """All-pairs document cosine similarity over TF-IDF-weighted word
    k-shingles — the WEIGHTED companion of dd4's set-Jaccard: the
    inverted-index self-join (Bayardo/AllPairs family) that builds a
    document-similarity graph without ever forming |D|² candidates.

    Pipeline: shingle tf (one map-side-combined shuffle) → df per
    shingle → prune shingles with df < ``min_df`` (df=1 shingles
    cannot contribute to any pair — free 90%+ candidate reduction on
    natural corpora) or df > ``max_df`` (boilerplate/hot shingles,
    the skew cap: per-shingle pair fanout is C(df, 2), so the worst
    shuffle key is bounded by C(max_df, 2), never by |D|) → L2-
    normalize each doc's pruned vector → join on the shingle key,
    sum partial products per (doc_a, doc_b), keep pairs with cosine
    ≥ ``threshold``.

    Work is Σ_term C(df, 2) ≤ C(max_df, 2)·|vocab| — the inverted-
    index bound; the pair aggregation partial-combines map-side.
    Cross-engine determinism: weights round to 6dp BEFORE
    normalization (ln ulp drift), the cosine to 4dp (summation-order
    drift); IEEE sqrt/divide are correctly rounded so normalization
    adds no engine dependence. Pruning means cosine is over the
    KEPT-shingle subspace — self-consistent and mirrored in the
    oracle; a production variant adds Bayardo prefix filtering on the
    sorted remaining weights to tighten the candidate set further.
    Returns ``(doc_a, doc_b, cos_sim)`` with doc_a < doc_b."""
    from com_danliris_service_etl_spark.operators.dedup import _shingles

    from pyspark.sql import Window

    sh = _shingles(docs, text_col, id_col, k=shingle_k)
    # ONE explicit exchange on hash(doc): HashPartitioning(id) satisfies
    # ClusteredDistribution for the (id, s) tf aggregate (superset rule,
    # the w8 lesson), for the per-doc L2-norm WINDOW below (state bounded
    # by the doc's shingle count, never the corpus), and for the weight
    # projection — replacing the r8 form's separate norm groupBy +
    # join-back on id (two exchanges; r9 A/B: 1.60 -> 1.32 s at sf0.1,
    # identical output). Forked below (df aggregate + weight join) so
    # checkpoint lazily.
    n_part = int(
        docs.sparkSession.conf.get("spark.sql.shuffle.partitions") or "200"
    )
    tf = (
        sh.repartition(n_part, id_col)
        .groupBy(id_col, "s")
        .agg(F.count(F.lit(1)).alias("tf"))
        .localCheckpoint(eager=False)
    )
    dfreq = (
        tf.groupBy("s")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter((F.col("df") >= min_df) & (F.col("df") <= max_df))
    )
    n = docs.agg(F.count(F.lit(1)).cast("double").alias("__n"))
    w = (
        tf.join(F.broadcast(dfreq), "s")
        .crossJoin(F.broadcast(n))
        .select(
            id_col,
            "s",
            F.round(
                F.col("tf") * F.log(F.col("__n") / F.col("df")), 6
            ).alias("wt"),
        )
    )
    nw = Window.partitionBy(id_col)
    u = (
        w.withColumn("__nw", F.sqrt(F.sum(F.col("wt") * F.col("wt")).over(nw)))
        .select(id_col, "s", (F.col("wt") / F.col("__nw")).alias("uw"))
        .localCheckpoint(eager=False)
    )
    a = u.select(F.col(id_col).alias("doc_a"), "s", F.col("uw").alias("ua"))
    b = u.select(F.col(id_col).alias("doc_b"), "s", F.col("uw").alias("ub"))
    return (
        a.join(b, "s")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.round(F.sum(F.col("ua") * F.col("ub")), 4).alias("cos_sim"))
        .filter(F.col("cos_sim") >= F.lit(threshold))
    )


def vocab_growth_stats(
    docs: DataFrame, group_col: str = "source", text_col: str = "text"
) -> DataFrame:
    """Per-group vocabulary profile: token count, type (distinct-word)
    count, hapax-legomena count, type/token ratio and hapax ratio — the
    Heaps'-law numbers a corpus curator watches while scaling a crawl
    (a flattening type curve means new data is repeating the old).

    Two map-side-combinable aggregations: explode → per-(group, word)
    frequencies (the word relation, bounded by the vocabulary, not the
    token count), then one per-group reduce. All counts are exact
    integers; the ratios are single divisions of exact integers, so the
    engines agree bit-for-bit. Same whitespace tokenization as
    `token_stats` (oracle: string_split(text, ' '))."""
    words = docs.select(
        group_col, F.explode(F.split(F.col(text_col), " ")).alias("__w")
    )
    wf = words.groupBy(group_col, "__w").agg(F.count(F.lit(1)).alias("__f"))
    return wf.groupBy(group_col).agg(
        F.sum("__f").alias("n_tokens"),
        F.count(F.lit(1)).alias("n_types"),
        F.sum((F.col("__f") == 1).cast("long")).alias("n_hapax"),
        F.round(
            F.count(F.lit(1)).cast("double") / F.sum("__f"), 6
        ).alias("type_token_ratio"),
        F.round(
            F.sum((F.col("__f") == 1).cast("long")).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("hapax_ratio"),
    )


def bpe_pair_counts(docs: DataFrame, text_col: str = "text", top_k: int = 20) -> DataFrame:
    """First BPE merge step: corpus-weighted adjacent character-pair
    counts — the inner loop of byte-pair-encoding tokenizer training
    (public algorithm, Sennrich et al. 2016). Factorized the way real
    BPE trainers do it: count over the VOCABULARY (distinct words ×
    their corpus frequencies), not over raw corpus characters —
    |vocab| ≪ corpus tokens, and a word's pairs weighted by its
    frequency give exactly the corpus pair counts.

    Scale shape: one map-side-combinable shuffle builds the vocabulary
    from the corpus scan; the per-word character-pair explode then runs
    over vocabulary rows only (bounded by |vocab| × word length); the
    pair rollup is alphabet²-bounded; top-k via TakeOrderedAndProject.
    All counts are exact integers — the (count desc, pair) total order
    is engine-deterministic."""
    words = docs.select(
        F.explode(F.split(F.col(text_col), " ")).alias("word")
    ).filter(F.length("word") >= 2)
    vocab = words.groupBy("word").agg(F.count(F.lit(1)).alias("freq"))
    pairs = vocab.select(
        "freq",
        F.explode(
            F.expr("transform(sequence(1, length(word)-1), i -> substr(word, i, 2))")
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("freq").alias("pair_count"))
        .orderBy(F.col("pair_count").desc(), "pair")
        .limit(top_k)
    )


def bigram_lm_scores(
    docs: DataFrame,
    add_k: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """CCNet-style language-model quality scoring: train an add-k-smoothed
    BIGRAM model on the corpus itself, then score every document by its
    average negative log-likelihood — low-perplexity docs read like the
    corpus, high-perplexity docs are noise/boilerplate/foreign. This is
    the classic cheap LM filter for pretraining curation (the real thing
    swaps the corpus LM for a held-out KenLM; the dataflow is identical).

    p(w2 | w1) = (c(w1, w2) + k) / (c(w1, ·) + k·V), with V the corpus
    unigram vocabulary size; doc score = mean over its bigrams of
    −ln p, rounded 4dp (ln ulps drift across engines far below 4dp).

    Scale shape: one explode of the fact into (doc, w1, w2) bigram rows;
    bigram counts aggregate map-side-combined (one shuffle); context
    totals reduce FROM the bigram aggregate (vocabulary-sized input, not
    the fact); the model joins back to the doc-bigram relation on the
    bigram key — a shuffle join by design: at 100 TB the model is
    vocabulary-scale and does NOT broadcast (the fixture would allow it;
    the plan must not rely on it). Final per-doc mean is one more
    bounded aggregate. Returns (doc_id, n_bigrams, avg_nll)."""
    # spread: both corpus passes below (bigram explode, vocab explode)
    # are hot scan projections that a one-file corpus would run on ONE
    # partition (the sim1 lesson, r11)
    sd = spread(docs)
    toks = sd.select(
        id_col, F.split(F.col(text_col), " ").alias("__t")
    ).filter(F.size("__t") >= 2)
    big = (
        toks.select(
            id_col,
            F.posexplode(F.expr("slice(__t, 1, size(__t) - 1)")).alias(
                "__i", "w1"
            ),
            F.col("__t"),
        )
        .select(
            id_col, "w1", F.expr("__t[__i + 1]").alias("w2")
        )
        .localCheckpoint(eager=False)  # feeds model build AND scoring probe
    )
    bc = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("__c12"))
    ctx = bc.groupBy("w1").agg(F.sum("__c12").alias("__c1"))
    vocab = (
        sd.select(F.explode(F.split(F.col(text_col), " ")).alias("w"))
        .agg(F.count_distinct("w").cast("double").alias("__v"))
    )
    model = (
        bc.join(ctx, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "w1",
            "w2",
            (
                (F.col("__c12") + F.lit(add_k))
                / (F.col("__c1") + F.lit(add_k) * F.col("__v"))
            ).alias("__p"),
        )
    )
    return (
        big.join(model, ["w1", "w2"])
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg(-F.log("__p")), 4).alias("avg_nll"),
        )
    )


def bpe_train(
    docs: DataFrame,
    iterations: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """Iterative BPE tokenizer training (Sennrich et al. 2016): run
    ``iterations`` merge steps over the corpus vocabulary and report, per
    step, the merged pair, its corpus-weighted count at selection time,
    and the corpus symbol total AFTER applying the merge. Extends
    :func:`bpe_pair_counts` (one step's counts) to the actual training
    loop — the third iterative driver-loop operator after k-means and
    PageRank.

    Representation: each vocabulary word is a symbol string with
    DOUBLE-space separators and flanks (``'  l  o  w  '``). Applying a
    merge is then ONE literal ``replace(w, ' a  b ', ' ab ')``: both
    engines' replace scans left-to-right non-overlapping, which is
    exactly greedy BPE application — the single-space-flanked pattern
    cannot match inside a larger symbol (symbols are flanked by two
    spaces), and consecutive matches keep their shared boundary because
    each replacement re-emits the single boundary space ('a b a b'
    merges twice; an 'a a a' run merges floor(3/2) times). A struct-
    accumulator fold would express the same thing, but DuckDB 1.0's
    list_reduce drops non-scalar accumulator state, so the replace form
    is also what keeps the oracle exact.

    Scale shape: ONE map-side-combinable corpus shuffle builds the
    (word, freq) vocabulary, which is lazily checkpointed and reused by
    every iteration; each step's pair explode runs over vocabulary rows
    only (|vocab| x word length), the pair rollup is symbol-alphabet²-
    bounded, and the driver collects exactly ONE argmax row per step
    (the k-means centroid-collect precedent) plus one scalar for the
    symbol total. Counts are exact integers; the argmax total order is
    (count desc, a, b)."""
    spark = docs.sparkSession
    out_rows = []
    n_syms = "size(filter(split(w, '  '), x -> x <> ''))"
    for step, a, b, cnt, state in _bpe_steps(docs, iterations, text_col):
        symbols_after = int(
            state.agg(F.sum(F.col("freq") * F.expr(n_syms))).collect()[0][0]
        )
        out_rows.append((step, a + b, cnt, symbols_after))
    return spark.createDataFrame(
        out_rows, "step int, merged string, pair_count bigint, symbols_after bigint"
    )


def _bpe_steps(docs: DataFrame, iterations: int, text_col: str):
    """Shared BPE training loop (bpe_train reports per-step stats;
    bpe_encode consumes only the learned (a, b) merges): yields
    (step, a, b, pair_count, post-merge vocab state) per iteration.
    One map-side-combinable corpus shuffle builds the (word, freq)
    vocabulary, lazily checkpointed and reused by every iteration; the
    driver collects exactly ONE argmax row per step."""
    # spread: the vocab build's explode + partial aggregation are the
    # corpus-pass cost of training, and a one-row-group fixture file
    # scans as ONE partition (r14, the txt5/sim1 one-partition class).
    words = spread(docs).select(
        F.explode(F.split(F.col(text_col), " ")).alias("word")
    ).filter(F.length("word") >= 2)
    vocab = words.groupBy("word").agg(F.count(F.lit(1)).alias("freq"))
    state = vocab.select(
        F.concat(F.lit("  "), F.regexp_replace("word", "(.)", "$1  ")).alias("w"),
        "freq",
    ).localCheckpoint(eager=False)

    syms = "filter(split(w, '  '), x -> x <> '')"
    # sequence over the FULL size with try_element_at for the right-hand
    # symbol, then a null filter: sequence(1, size-1) DESCENDS when a word
    # has collapsed to one symbol (Spark's a>b sequence gotcha) and
    # element_at would abort under ANSI on the out-of-bounds probe.
    pair_structs = (
        f"filter(transform(sequence(1, size({syms})),"
        f" i -> struct(element_at({syms}, i) AS a, try_element_at({syms}, i + 1) AS b)),"
        " p -> p.b IS NOT NULL)"
    )

    for step in range(1, iterations + 1):
        top = (
            state.select("freq", F.explode(F.expr(pair_structs)).alias("p"))
            .groupBy("p.a", "p.b")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.col("cnt").desc(), "a", "b")
            .limit(1)
            .collect()
        )
        if not top:
            return
        a, b, cnt = top[0]["a"], top[0]["b"], int(top[0]["cnt"])
        state = state.select(
            F.replace(F.col("w"), F.lit(f" {a}  {b} "), F.lit(f" {a}{b} ")).alias("w"),
            "freq",
        ).localCheckpoint(eager=False)
        yield step, a, b, cnt, state


def bpe_encode(
    docs: DataFrame,
    iterations: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Tokenize the corpus with a just-trained BPE merge table — the
    APPLY half of the Sennrich et al. 2016 pipeline (:func:`bpe_train`
    reports the training trajectory; this encodes every document with
    the learned merges and reports per-doc token accounting: words,
    pre-merge symbols (= characters), post-merge tokens, and the exact
    integer compression micro-ratio).

    Scale shape: training collects one bounded argmax row per step (the
    `_bpe_steps` contract); the ENCODE is then a pure row-local scan
    projection — the learned merges are string literals folded into a
    chained replace() inside a per-word transform, so tokenizing 100 TB
    is embarrassingly parallel with ZERO shuffles after the (vocab-
    grain) training pass. Greedy merge application is exact via the
    double-space symbol representation (see :func:`bpe_train`); chained
    replaces apply merges in training order, which IS BPE encoding.

    Merge symbols are asserted to be quote/backslash-free before being
    folded into the expression — the corpus contract (whitespace-
    tokenized words) guarantees it; a corpus violating it fails loudly
    rather than generating a malformed expression."""
    tok_count = _bpe_token_count_expr(docs, iterations, text_col)
    # spread: the encode fold (char-split regex + chained replaces PER
    # WORD) is the most CPU-dense projection in the text family, and a
    # one-row-group fixture scans as ONE partition (r14).
    return (
        spread(docs).select(
            id_col,
            F.expr(f"filter(split({text_col}, ' '), x -> x <> '')").alias("__ws"),
        )
        .select(
            id_col,
            F.size("__ws").cast("bigint").alias("n_words"),
            F.expr(
                "aggregate(__ws, cast(0 AS BIGINT), (acc, w) -> acc + length(w))"
            ).alias("n_chars"),
            F.expr(
                f"aggregate(__ws, cast(0 AS BIGINT), (acc, w) -> acc + {tok_count})"
            ).alias("n_tokens"),
        )
        # an empty/whitespace-only text has zero chars — drop it before
        # the ratio (ANSI div would abort the job on the fixture that
        # finally contains one)
        .filter(F.col("n_chars") > 0)
        .select(
            id_col,
            "n_words",
            "n_chars",
            "n_tokens",
            F.expr("(n_tokens * 1000000) div n_chars").alias("compression_micro"),
        )
    )


def _bpe_token_count_expr(docs: DataFrame, iterations: int, text_col: str) -> str:
    """Train the merge table (bounded per-step argmax collects — the
    `_bpe_steps` contract) and fold it into a per-word token-count SQL
    expression over an in-scope word `w` — the shared encode kernel of
    :func:`bpe_encode` (per-doc accounting) and :func:`bpe_fertility`
    (per-slice accounting). Merge symbols are asserted quote/backslash-
    free before entering the expression text."""
    merges = [(a, b) for _s, a, b, _c, _st in _bpe_steps(docs, iterations, text_col)]
    for a, b in merges:
        if any(ch in a + b for ch in ("'", "\\")):
            raise ValueError(f"BPE merge symbols must be quote-free: {(a, b)!r}")
    applied = "concat('  ', regexp_replace(w, '(.)', '$1  '))"
    for a, b in merges:
        applied = f"replace({applied}, ' {a}  {b} ', ' {a}{b} ')"
    return f"size(filter(split({applied}, '  '), x -> x <> ''))"


def bpe_fertility(
    docs: DataFrame,
    iterations: int = 3,
    group_cols: tuple[str, ...] = ("lang", "source"),
    text_col: str = "text",
) -> DataFrame:
    """Tokenizer FERTILITY report per corpus slice — the tokenizer-
    evaluation table an LLM pipeline publishes after training a
    tokenizer (e.g. Rust et al. 2021, arXiv:2012.15613: fertility =
    subword tokens per word, the standard measure of how well a
    tokenizer fits each language/source; compression = tokens per
    character). Slices with systematically high fertility get more
    tokens charged per unit of text — the number that drives
    per-language token budgets and mixture weights.

    Per (group_cols): doc count, word/char/token totals under the
    ``iterations``-merge BPE tokenizer trained on the SAME corpus
    (shared kernel with :func:`bpe_encode`), plus exact integer
    micro-ratios (tokens-per-word, tokens-per-char).

    Scale shape: the encode is the same ZERO-shuffle row-local scan
    projection as bpe_encode (merges are string literals inside a
    per-word fold); the only exchange is the final map-side-combined
    hash aggregate on the slice key — per-slice state is five longs, so
    the report costs one fact pass at any corpus size. Empty texts are
    dropped before the aggregate (mirroring bpe_encode's guard), so a
    slice's denominators are sums over its non-empty docs; an
    (unfixtured) all-empty slice would vanish rather than divide by
    zero."""
    tok_count = _bpe_token_count_expr(docs, iterations, text_col)
    # spread: same encode kernel as bpe_encode — same one-partition
    # hazard (r14).
    per_doc = (
        spread(docs).select(
            *group_cols,
            F.expr(f"filter(split({text_col}, ' '), x -> x <> '')").alias("__ws"),
        )
        .select(
            *group_cols,
            F.size("__ws").cast("bigint").alias("__w"),
            F.expr(
                "aggregate(__ws, cast(0 AS BIGINT), (acc, w) -> acc + length(w))"
            ).alias("__c"),
            F.expr(
                f"aggregate(__ws, cast(0 AS BIGINT), (acc, w) -> acc + {tok_count})"
            ).alias("__t"),
        )
        .filter(F.col("__c") > 0)
    )
    return (
        per_doc.groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("__w").alias("n_words"),
            F.sum("__c").alias("n_chars"),
            F.sum("__t").alias("n_tokens"),
        )
        .select(
            *group_cols,
            "n_docs",
            "n_words",
            "n_chars",
            "n_tokens",
            F.expr("(n_tokens * 1000000) div n_words").alias("fertility_micro"),
            F.expr("(n_tokens * 1000000) div n_chars").alias("compression_micro"),
        )
    )


def tv_distance_from_counts(st: DataFrame) -> DataFrame:
    """Finalize the per-source total-variation drift report from a
    (source, term, cnt_s) count relation — the shared tail of the batch
    query (plans/queries_text.py::txt18_source_divergence, which
    builds the counts with one explode+groupBy pass) and the streaming
    monitor (streaming/jobs.py::run_streaming_source_divergence, which
    maintains the same counts as Structured Streaming state and
    finalizes over the compact state table).

    Exactness: integer sufficient statistics combined in DECIMAL(38,0)
    (summation-order-proof); one double division at finalize, then the
    6dp round — engine- and partitioning-invariant."""
    st = st.localCheckpoint(eager=False)  # forked three ways below
    ct = st.groupBy("term").agg(F.sum("cnt_s").alias("cnt_c"))
    tot = st.groupBy("source").agg(F.sum("cnt_s").alias("tot_s"))
    g = ct.agg(F.sum("cnt_c").alias("tot_c"))
    dec = "decimal(38,0)"
    n = (
        st.join(ct, "term")
        .join(F.broadcast(tot), "source")
        .crossJoin(F.broadcast(g))
        .groupBy("source")
        .agg(
            F.sum(
                F.abs(
                    F.col("cnt_s").cast(dec) * F.col("tot_c")
                    - F.col("cnt_c").cast(dec) * F.col("tot_s")
                )
            ).alias("num_obs"),
            F.sum("cnt_c").alias("cover_c"),
            F.max("tot_s").alias("tot_s"),
            F.max("tot_c").alias("tot_c"),
        )
    )
    return n.select(
        "source",
        "tot_s",
        F.round(
            (
                F.col("num_obs").cast("double")
                + F.col("tot_s").cast("double")
                * (F.col("tot_c") - F.col("cover_c")).cast("double")
            )
            / (F.lit(2.0) * F.col("tot_s").cast("double") * F.col("tot_c").cast("double")),
            6,
        ).alias("tv_distance"),
    )
