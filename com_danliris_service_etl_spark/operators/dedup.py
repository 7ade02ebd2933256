"""Deduplication operators for large-scale text corpora.

Extensions beyond the reference surface (BASELINE.json north star): exact
dedup, MinHash+LSH near-dup candidate generation, SimHash fingerprints,
blocked n-gram Jaccard, exact verification, decontamination and
exact-substring dedup. All are pure DataFrame compositions (no Python
UDFs), so they scale: the only shuffles are the per-doc aggregations and
the LSH band grouping, each keyed to spread uniformly.

Determinism contract: every hash is md5 of an explicitly-constructed string,
so results are reproducible across engines (the DuckDB oracle mirrors the
same expressions) and across cluster sizes.

Shared stages, each built by ONE private helper that every operator calls:

- ``_tokens``: the ' '-split token array per document, `spread` first (a
  one-file corpus scans as one partition and everything downstream is
  CPU-bound).
- ``_shingle_sql`` / ``_shingle_arrays``: word k-shingle i = tokens
  i..i+k-1 joined by ' '. Documents with < k tokens have no shingles and
  drop out (mirrored in every oracle); ``array_distinct`` where a set is
  needed. Row-local, no exchange.
- ``_minhash``: the MinHash signature over a shingle array. ONE md5 base
  hash per shingle, permutation p = (A_p·h + B_p) mod PRIME, the min per
  permutation; A_p·h < 2^24·2^32 keeps the arithmetic inside int64. It is
  one per-row projection inside whole-stage codegen: the explode +
  groupBy(doc) form shuffled ~150× the corpus to reassemble what was
  already row-local (~2× end-to-end on dd2). The min is duplicate-
  insensitive, so the signature over the distinct shingle set equals the
  one over the multiset. ``_sig`` packs mh0..mhN into the ``sig`` array.
- ``_band_structs`` / ``_bucket_pairs`` / ``_lsh_pairs``: LSH banding.
  Band b's key is md5 of its rows' mins. Members of a (band, hash) bucket
  are collected sorted and truncated to their ``max_bucket`` smallest ids
  (the worst-case cap: an adversarial corpus of near-identical documents
  is ONE bucket with n²/2 pairs, and a bucket that large IS one duplicate
  cluster whose capped members still pair with its keeper ids), then i<j
  pairs are generated inside the bucket: one shuffle, no band self-join,
  cost O(candidate pairs). A pair colliding in several bands is kept only
  in its FIRST colliding band, decided row-locally from the carried
  signatures instead of a global distinct over the pair set, and carries
  est_jaccard = agreeing permutations / n_perms.
- ``_pair_overlap``: exact verification. Each candidate pair joins its two
  documents' distinct-shingle arrays and computes ``inter``/``na``/``nb``
  row-locally, so no pair × shingle fan-out crosses a shuffle; keep
  decisions are exact integer arithmetic (``_jaccard``), never a float.
- ``_bench_array``: a benchmark corpus's distinct shingles as ONE sorted
  array row, broadcast to the corpus (eval sets are MB-scale against a
  100 TB corpus): decontamination never shuffles the corpus.
- ``_window_hashes`` / ``_first_occurrence``: exact-substring dedup's
  md5-keyed k-token windows, and the overflow-guarded ``doc·max_pos +
  pos`` first-occurrence order (integral ids only).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from com_danliris_service_etl_spark.operators.partitioning import conf_bytes, spread

DEFAULT_PERMS = 16
DEFAULT_BANDS = 4


def exact_dedup_groups(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup: hash-group documents by content digest; keeper = min id.

    At 100 TB: a single shuffle on the digest (uniformly distributed), with
    map-side partial aggregation; no row ever carries the full text past the
    digest computation (column pruned)."""
    return docs.groupBy(F.md5(F.col(text_col)).alias("text_hash")).agg(
        F.min(id_col).alias("keeper_id"),
        F.count(F.lit(1)).alias("n_docs"),
    )


def _tokens(docs: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, t): each document's ' '-split token array, spread first."""
    return spread(docs).select(id_col, F.split(F.col(text_col), " ").alias("t"))


def _shingle_sql(k: int, toks: str = "t") -> str:
    """SQL for the word k-shingle array of token array ``toks`` (Spark SQL
    indexing is 0-based: shingle i = toks[i..i+k-1])."""
    idx_terms = ", ".join(f"{toks}[i+{j}]" for j in range(k))
    return f"transform(sequence(0, size({toks})-{k}), i -> concat_ws(' ', {idx_terms}))"


def _shingle_arrays(
    toks: DataFrame, id_col: str, k: int, distinct: bool = True
) -> DataFrame:
    """(id, arr): each document's k-shingle array (a set when ``distinct``)
    over a `_tokens` relation; documents with < k tokens drop out."""
    arr = F.expr(_shingle_sql(k))
    if distinct:
        arr = F.array_distinct(arr)
    return toks.filter(F.size("t") >= k).select(id_col, arr.alias("arr"))


def _shingles(docs: DataFrame, text_col: str, id_col: str, k: int = 3) -> DataFrame:
    """Word k-shingles per document, one (id, s) row each. Duplicates are
    NOT removed: every consumer (min-aggregation) is duplicate-insensitive,
    so a distinct here would be a pure extra shuffle."""
    # Explode the shingle expression itself, not a projected column: from
    # an exploded ATTRIBUTE Spark infers size(arr) > 0 filters and pushes
    # them below the size(t) >= k guard, where ANSI mode aborts on short
    # token arrays (and the shingles would be built twice).
    toks = _tokens(docs, text_col, id_col).filter(F.size("t") >= k)
    return toks.select(id_col, F.explode(F.expr(_shingle_sql(k))).alias("s"))


# Universal-hash permutation family over a single 32-bit base hash:
# perm p of shingle s = (A_p * h(s) + B_p) mod PRIME, h = first 8 md5 hex
# chars as uint32. ONE md5 per shingle (vs one per perm) — the md5 was the
# dominant CPU cost of the signature stage. Constants are deterministic and
# mirrored verbatim in the DuckDB oracle.
MINHASH_PRIME = 4_294_967_311  # smallest prime > 2^32


def _perm_consts(n_perms: int) -> list[tuple[int, int]]:
    return [(1_000_003 * p + 12_345, 7_919 * p + 104_729) for p in range(n_perms)]


def _minhash(arrs: DataFrame, id_col: str, n_perms: int) -> DataFrame:
    """(id, mh0..mhN) over a shingle-array relation (id, arr)."""
    hs = arrs.select(
        id_col,
        # one md5 per shingle, shared by all permutations
        F.expr(
            "transform(arr, s -> cast(conv(substring(md5(s), 1, 8), 16, 10) AS BIGINT))"
        ).alias("__hs"),
    )
    mins = [
        F.array_min(
            F.expr(f"transform(__hs, h -> (h * {a}L + {b}L) % {MINHASH_PRIME}L)")
        ).alias(f"mh{p}")
        for p, (a, b) in enumerate(_perm_consts(n_perms))
    ]
    return hs.select(id_col, *mins)


def _sig(n_perms: int) -> Column:
    """The mh0..mhN signature columns packed into one ``sig`` array."""
    return F.array(*[F.col(f"mh{p}") for p in range(n_perms)]).alias("sig")


def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_perms: int = DEFAULT_PERMS,
    shingle_k: int = 3,
) -> DataFrame:
    """MinHash signature per document, (id, mh0..mhN): for permutation p,
    the minimum of (A_p·h(shingle)+B_p) mod PRIME over the doc's shingles.
    Shuffle-free; documents are never wider than one row's shingle array,
    so per-row state is bounded."""
    arrs = _shingle_arrays(
        _tokens(docs, text_col, id_col), id_col, shingle_k, distinct=False
    )
    return _minhash(arrs, id_col, n_perms)


def _band_structs(n_perms: int, bands: int) -> Column:
    """array<struct<band_idx, band_hash>> over an in-scope `sig` array:
    band b's key is md5 of its rows' stringified mins joined with ':' —
    an unambiguous key both engines render identically."""
    if bands <= 0 or n_perms % bands != 0:
        # bands > n_perms would make rows_per_band 0 → every band hashes
        # md5('') → ALL documents collide in every band (silent n²/2
        # fanout, garbage candidates); a non-divisor silently discards
        # the trailing permutations. Both are caller bugs — fail loudly.
        raise ValueError(
            f"bands={bands} must divide n_perms={n_perms} "
            "(rows_per_band = n_perms // bands must be a positive integer)"
        )
    rows_per_band = n_perms // bands
    band_cols = []
    for b in range(bands):
        parts = [
            F.col("sig")[p] for p in range(b * rows_per_band, (b + 1) * rows_per_band)
        ]
        band_cols.append(
            F.struct(
                F.lit(b).alias("band_idx"),
                F.md5(
                    F.concat_ws(":", *[p.cast("string") for p in parts])
                ).alias("band_hash"),
            )
        )
    return F.array(*band_cols)


def _bucket_pairs(
    banded: DataFrame, member: Column, max_bucket: int, tags: tuple[str, ...] = ()
) -> DataFrame:
    """(*tags, band_idx, m, n): every i<j pair of ``member`` values sharing
    a (*tags, band_idx, band_hash) bucket, members sorted (so m < n) and
    truncated to the bucket's ``max_bucket`` smallest."""
    grouped = (
        banded.groupBy(*tags, "band_idx", "band_hash")
        .agg(
            F.slice(F.sort_array(F.collect_list(member)), 1, max_bucket).alias("ms")
        )
        .filter(F.size("ms") > 1)
    )
    # In-bucket i<j pair generation as TWO chained posexplodes, not the
    # nested transform(slice(...)) HOF: the HOF form's inlined per-pair
    # struct build made a giant expression whose codegen compile alone
    # cost ~2.6 s on every fresh plan (the documented dd2 cold-floor
    # class); the chained form compiles in <0.1 s and runs identically
    # (r9 A/B: cold 3.32 -> 0.68 s, warm equal, identical rows).
    keys = [*tags, "band_idx"]
    return (
        grouped.select(*keys, F.posexplode("ms").alias("i", "m"), "ms")
        .select(*keys, "i", "m", F.posexplode("ms").alias("j", "n"))
        .filter(F.col("i") < F.col("j"))
        .select(*keys, "m", "n")
    )


def _lsh_pairs(
    sigs: DataFrame,
    id_col: str,
    n_perms: int,
    bands: int,
    max_bucket: int,
    keep: Column | None = None,
) -> DataFrame:
    """(doc_a, doc_b, est_jaccard) candidate pairs over a signature
    relation (id, sig, ...): each bucket member is the struct of all of
    the row's columns (id first, so m.id < n.id), and ``keep`` filters
    on those (m.*, n.*) members."""
    member = F.struct(
        F.col(id_col).alias("id"), *[F.col(c) for c in sigs.columns if c != id_col]
    )
    banded = sigs.select(
        member.alias("__m"), F.explode(_band_structs(n_perms, bands)).alias("band")
    ).select("__m", "band.band_idx", "band.band_hash")
    pairs = _bucket_pairs(banded, F.col("__m"), max_bucket)
    # band b collides iff the raw b-th signature slices are equal
    # (≡ band_hash equality, sans md5 collisions); with max_bucket
    # truncation a pair evicted from its first band's bucket is dropped.
    rpb = n_perms // bands
    first_band = F.expr(
        "band_idx = 0 OR NOT exists(sequence(0, band_idx - 1),"
        f" b -> slice(m.sig, b * {rpb} + 1, {rpb})"
        f" == slice(n.sig, b * {rpb} + 1, {rpb}))"
    )
    # CAST to DOUBLE: a bare float literal parses as DECIMAL, and a
    # decimal(17,6) column reaches pandas as object Decimals that
    # hash-compare unequal to the oracle's float64.
    est = F.expr(
        "aggregate(zip_with(m.sig, n.sig, (a, b) -> CASE WHEN a = b THEN 1 ELSE 0 END),"
        f" 0, (acc, v) -> acc + v) / CAST({float(n_perms)} AS DOUBLE)"
    )
    return pairs.filter(first_band if keep is None else keep & first_band).select(
        F.col("m.id").alias("doc_a"), F.col("n.id").alias("doc_b"), est.alias("est_jaccard")
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_perms: int = DEFAULT_PERMS,
    bands: int = DEFAULT_BANDS,
    shingle_k: int = 3,
    max_bucket: int = 1024,
) -> DataFrame:
    """Near-duplicate candidate pairs (doc_a < doc_b, est_jaccard) via LSH
    banding over MinHash signatures.

    ORACLE CAVEAT: the dd2 DuckDB oracle does not mirror ``max_bucket``
    (or its interaction with the first-colliding-band rule, which drops a
    pair evicted from its first band's truncated bucket even if a later
    band kept it). Cross-engine fixtures must therefore keep every
    duplicate cluster below ``max_bucket`` members — true of all in-repo
    fixtures by three orders of magnitude."""
    sigs = minhash_signatures(docs, text_col, id_col, n_perms, shingle_k).select(
        id_col, _sig(n_perms)
    )
    return _lsh_pairs(sigs, id_col, n_perms, bands, max_bucket)


def incremental_minhash_lsh_pairs(
    corpus_sigs: DataFrame,
    new_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_perms: int = DEFAULT_PERMS,
    bands: int = DEFAULT_BANDS,
    shingle_k: int = 3,
    max_bucket: int = 1024,
) -> DataFrame:
    """Nightly-shape near-dup: dedup a NEW batch against a PERSISTED
    signature store without re-hashing the existing corpus.

    ``corpus_sigs`` is the stored output of :func:`minhash_signatures`
    over the already-ingested corpus (id + mh0..mhN — ~n_perms longs per
    document, the compact state a 100 TB deployment persists and appends
    to). Only the new batch pays the shingle/md5 signature cost; both
    sides band and bucket together, and pairs are kept only when at least
    one member is new — old-old pairs were already emitted by previous
    runs. The output is exactly the full-corpus :func:`minhash_lsh_pairs`
    pairs that involve a new document (pinned by
    `test_incremental_lsh_matches_full_minus_old`). After the run, the
    store advances by appending the new batch's signatures.

    PRECONDITION: store and new-batch ids are disjoint (a re-ingested id
    is the caller's dedup-by-id problem, handled upstream by an anti-join
    against the store). Defensively, (id, id) self-pairs arising from an
    overlap are filtered here."""
    new_sigs = minhash_signatures(new_docs, text_col, id_col, n_perms, shingle_k)

    def tagged(sigs: DataFrame, is_new: bool) -> DataFrame:
        return sigs.select(id_col, _sig(n_perms), F.lit(is_new).alias("is_new"))

    both = tagged(corpus_sigs, False).unionByName(tagged(new_sigs, True))
    keep = (F.col("m.is_new") | F.col("n.is_new")) & (F.col("m.id") != F.col("n.id"))
    return _lsh_pairs(both, id_col, n_perms, bands, max_bucket, keep)


def simhash_fingerprints(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", hex_chars: int = 4
) -> DataFrame:
    """SimHash fingerprint (4 bits per md5 hex char → 16-bit default):
    token-frequency-weighted bit votes; bit b of the fingerprint is 1 iff
    the sum of ±1 votes over all tokens is positive.

    One shuffle: `spread` keyed on the doc id moves the (id, text) rows,
    and the per-doc vote sums (16 map-side-combinable sums) then run in
    that partitioning without an exchange of their own; on an input that
    is already split (no spread), the groupBy's own doc-keyed exchange is
    the one shuffle. Near-dup search over the fingerprints is a
    bit_count(xor) self-join, optionally blocked on a fingerprint prefix."""
    toks = spread(docs, id_col).select(
        id_col, F.explode(F.split(F.col(text_col), " ")).alias("tok")
    ).withColumn("h", F.substring(F.md5(F.col("tok")), 1, hex_chars))

    aggs = []
    for j in range(hex_chars):  # hex char j → nibble value 0-15
        nib = f"(instr('0123456789abcdef', substr(h, {j + 1}, 1)) - 1)"
        for k in range(4):
            bit = 4 * j + k
            aggs.append(
                F.sum(F.expr(f"CASE WHEN (({nib} >> {k}) & 1) = 1 THEN 1 ELSE -1 END")).alias(
                    f"v{bit}"
                )
            )
    votes = toks.groupBy(id_col).agg(*aggs)

    fp = None
    for bit in range(4 * hex_chars):
        term = F.when(F.col(f"v{bit}") > 0, F.lit(1 << bit)).otherwise(0)
        fp = term if fp is None else fp + term
    return votes.select(id_col, fp.cast("long").alias("simhash"))


def ngram_jaccard_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_cols: tuple[str, ...] = ("lang", "source"),
    size_bucket_col: str = "n_chars",
    size_bucket_width: int = 50,
    threshold: float = 0.5,
) -> DataFrame:
    """Blocked pairwise token-set Jaccard: candidate pairs are restricted to
    the same (block_cols, size-bucket) block, so cost is Σ block² not n² —
    the blocking key is the scale lever (tighter buckets at larger corpora).
    """
    prepped = spread(docs).select(
        F.col(id_col),
        *[F.col(c) for c in block_cols],
        F.floor(F.col(size_bucket_col) / size_bucket_width).alias("size_bucket"),
        F.array_distinct(F.split(F.col(text_col), " ")).alias("toks"),
    )
    a = prepped.alias("a")
    b = prepped.alias("b")
    cond = (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")) & (
        F.col("a.size_bucket") == F.col("b.size_bucket")
    )
    for c in block_cols:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    inter = F.size(F.array_intersect(F.col("a.toks"), F.col("b.toks")))
    union = F.size(F.col("a.toks")) + F.size(F.col("b.toks")) - inter
    jac = inter.cast("double") / union.cast("double")
    return (
        a.join(b, cond)
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            F.round(jac, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def embedding_neardup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_col: str | None = None,
    lsh_bits: int | None = 8,
    materialize_prepped: bool = False,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cos >= threshold).

    Blocking turns the n² self-join into an equi-join (Σ block²
    comparisons, shuffle keyed on the block so AQE can split skewed
    blocks). The block is ``block_col`` if given (a precomputed cluster /
    k-means assignment); otherwise a COMPUTED sign-bit LSH bucket over the
    first ``lsh_bits`` dimensions (similarity.signbit_bucket) — no label or
    prior clustering required, so the operator self-blocks on any corpus.
    Near-identical vectors share every sign bit, so true near-dups stay
    co-bucketed; like any LSH blocking it is approximate (pairs straddling
    a sign flip in the first ``lsh_bits`` dims are missed — more probes =
    multi-bucket union, the standard recall knob). With both ``block_col``
    and ``lsh_bits`` None it degrades to the exact cross-product baseline
    (small corpora / verification only).

    ``materialize_prepped=True`` localCheckpoints the prepped (id, vec,
    norm, bucket) frame before the self-join: a self-join otherwise
    recomputes the scan + norms + buckets on BOTH sides. Materializing
    is the "build the near-dup index once" move — right when a consumer
    iterates over the pairs anyway (connected components in llm7), wrong
    as a default (a one-shot pair listing shouldn't pin the prepped
    corpus in storage).
    """
    from com_danliris_service_etl_spark.operators.similarity import (
        cosine_prenormed,
        norm,
        signbit_bucket,
    )

    cols = [F.col(id_col), F.col(vec_col), norm(vec_col).alias("__norm")]
    if block_col:
        cols.append(F.col(block_col).alias("__blk"))
    elif lsh_bits:
        cols.append(signbit_bucket(vec_col, lsh_bits).alias("__blk"))
    prepped = embeddings.select(*cols)
    if materialize_prepped:
        prepped = prepped.localCheckpoint()
    a, b = prepped.alias("a"), prepped.alias("b")
    cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    if block_col or lsh_bits:
        cond = cond & (F.col("a.__blk") == F.col("b.__blk"))
    return (
        a.join(b, cond)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.round(
                cosine_prenormed(f"a.{vec_col}", f"b.{vec_col}", "a.__norm", "b.__norm"),
                6,
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
    )


def _bench_array(
    benchmark: DataFrame, text_col: str, id_col: str, k: int
) -> DataFrame:
    """One row, ``__bench``: the benchmark corpus's distinct k-shingles
    as a sorted array, for callers to broadcast against the corpus."""
    return (
        _shingles(benchmark, text_col, id_col, k)
        .select("s")
        .distinct()
        .agg(F.sort_array(F.collect_list("s")).alias("__bench"))
    )


def contamination_scores(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Benchmark decontamination: per document, the fraction of its
    DISTINCT word k-shingles that appear anywhere in the benchmark
    (eval-set) corpus — the standard pre-training hygiene check that a
    training corpus doesn't contain the test set.

    Scale shape: each corpus row scores itself with `array_intersect`
    against the broadcast benchmark array (MMLU-sized benchmarks are a
    few MB of shingles): ZERO shuffle of the corpus, the whole check
    pipelined into the scan.
    A benchmark too large to broadcast would fall back to the exploded
    shingle semi-join (one corpus shuffle). The score is a double division
    of two exact ints, bit-identical across engines."""
    bench_arr = _bench_array(benchmark, text_col, id_col, k)
    # spread (in _tokens): array_intersect rebuilds a hash set of the
    # broadcast benchmark array PER ROW, so the corpus projection is the
    # heavy-fold class and a one-row-group fixture scans as ONE
    # partition. Quiet-window interleaved A/B: 1.32 → 0.46 s.
    toks = _shingle_arrays(_tokens(docs, text_col, id_col), id_col, k)
    n_sh = F.size("arr").cast("long")
    n_hit = F.size(F.array_intersect(F.col("arr"), F.col("__bench"))).cast("long")
    return toks.crossJoin(F.broadcast(bench_arr)).select(
        F.col(id_col),
        n_sh.alias("n_shingles"),
        n_hit.alias("n_hit"),
        (n_hit.cast("double") / n_sh.cast("double")).alias("contamination"),
    )


def passage_dedup(
    docs: DataFrame,
    k: int = 20,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_pos: int = 100_000,
) -> DataFrame:
    """Passage-grain exact dedup: split every document into consecutive
    ``k``-token passages, keep each distinct passage only at its FIRST
    corpus occurrence (min (doc, position)), and report the per-document
    cleanup — the fixed-window relational cousin of exact-substring
    dedup (RefinedWeb/C4-style boilerplate removal), usable on any
    corpus because it needs no paragraph markup.

    Output: (doc_id, n_passages, n_dup, clean_md5) where ``n_dup``
    counts this document's passages that first occurred elsewhere and
    ``clean_md5`` digests the document with those passages removed
    (position order preserved).

    Scale shape: passages explode row-locally (codegen, no shuffle);
    ownership is ONE map-side-combinable groupBy on the passage hash
    (uniformly distributed — skew only from true boilerplate, exactly
    the rows being deduped); the keep-flag join re-uses the same hash
    key; reassembly is one (doc) aggregation whose state is bounded by
    the document's own passage count. First occurrence is encoded as
    min(doc·max_pos + pos) — a single BIGINT min both engines compute
    identically (documents must stay under ``max_pos`` passages; 100k
    passages × 20 tokens is a 2M-token document, far past any sane doc
    cap, and the guard raises nothing silently: positions only arise
    below it).

    PRECONDITION (enforced): ``id_col`` must be an integral type with
    0 <= id <= (2^63-1)/max_pos ≈ 9.2e13 — the encoding is plan-time
    rejected for string ids (sibling `dedup_clusters` supports them via
    type dispatch; this encoding cannot) and row-guarded against the
    int64 overflow a snowflake-scale id would silently wrap into."""
    first = _first_occurrence(docs, id_col, max_pos, "passage_dedup")
    passages = _tokens(docs, text_col, id_col).select(
        id_col,
        F.posexplode(
            F.expr(
                f"transform(sequence(0, cast(ceil(size(t) / {k}.0) AS INT) - 1),"
                f" i -> concat_ws(' ', slice(t, i * {k} + 1, {k})))"
            )
        ).alias("pos", "passage"),
    )
    keyed = passages.select(
        id_col,
        "pos",
        "passage",
        F.md5(F.col("passage")).alias("__h"),
        first,
    # keyed feeds TWO different exchanges (the ownership aggregate and
    # the keep-flag join) — without a checkpoint the scan+explode+md5
    # pipeline runs once per reference (ReuseExchange can't fire across
    # different exchange children; measured −30% at sf0.1, identical
    # results). Lazy: materializes on first use, no extra job.
    ).localCheckpoint(eager=False)
    owners = keyed.groupBy("__h").agg(F.min("__ord").alias("__owner"))
    flagged = keyed.join(owners, "__h").withColumn(
        "keep", F.col("__ord") == F.col("__owner")
    )
    kept_sorted = F.expr(
        "transform(array_sort(collect_list(CASE WHEN keep THEN"
        " struct(pos, passage) END)), x -> x.passage)"
    )
    return flagged.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_passages"),
        F.sum(F.when(~F.col("keep"), 1).otherwise(0)).alias("n_dup"),
        F.md5(F.concat_ws(" ", kept_sorted)).alias("clean_md5"),
    )


def dedup_clusters(
    pairs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over a near-dup PAIR graph → (doc_id,
    cluster_id = min id reachable): the step that turns candidate pairs
    (dd2/dd4/dd5) into dedup clusters with one keeper each, which is
    what a dedup pipeline actually deletes against.

    Iterative min-label propagation (hash-to-min): every node starts
    labeled with itself; each round takes the min of its own and all
    neighbors' labels; converged when no label changes. Rounds needed =
    graph diameter ≤ O(log n) on near-dup clusters (they are dense —
    near-clique — so typically 2-3 rounds). Each round is ONE edge⋈label
    join producing neighbor contributions, unioned with the current
    labels and min-reduced per node — the union+groupBy form replaces
    the earlier join+agg+LEFT-JOIN round shape, one whole join (and its
    exchange) fewer per round. Label INIT is itself the first
    propagation round for free: the edge list is symmetric, so
    label₀ = min(node, min neighbor) is one plain groupBy over the
    materialized edges — no join — and the loop starts one full
    join+checkpoint round closer to the fixed point. Lineage is
    truncated every round with `localCheckpoint` (iterative DataFrame
    joins otherwise stack plans until planning time explodes — the
    standard Spark iterative-algorithm discipline).

    Convergence: labels only ever DECREASE, so for NUMERIC node ids the
    total label sum (exact DECIMAL(38,0) — immune to int64 overflow at
    any node-id scale) is strictly monotone and plateaus exactly at the
    fixed point — one tiny driver-side scalar per round, the same
    deliberate control-plane read as the watermark lookup. For
    NON-NUMERIC ids (string doc ids) the decimal cast would yield NULL
    and a NULL sum would falsely read as converged after one round, so
    the operator dispatches ON THE ID TYPE: non-numeric ids use a
    changed-label count (one extra label⋈label join per round, still
    exact). Raises RuntimeError if max_iter rounds don't converge (a
    diameter that large means the input is not a near-dup graph).

    The result carries a broadcast hint when its row count (read off the
    round-1 probe; one count job on the non-numeric path) fits under the
    broadcast threshold: consumers join it to the whole corpus
    (cluster_safe_split, the keeper funnels) and would otherwise plan a
    sort-merge join (`_broadcast_if_fits`)."""
    from pyspark.sql.types import NumericType

    # The symmetric edges union references `pairs` TWICE: without a
    # materialization barrier the caller's whole pair pipeline (LSH
    # self-join, signature hashing, …) would execute once per branch.
    # LAZY checkpoint: the edges-checkpoint job below materializes it
    # exactly once, and a caller-side already-checkpointed input only
    # pays a narrow re-persist (A/B: wins at bench scale, structural 2×
    # on the pair pipeline at corpus scale).
    pairs = pairs.localCheckpoint(eager=False)
    edges = (
        pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
        .unionByName(
            pairs.select(F.col(id_b).alias("a"), F.col(id_a).alias("b"))
        )
        .distinct()
        # LAZY (r15; was eager): the round-1 convergence probe is the
        # operator's first action and materializes this checkpoint as a
        # side effect — the eager form paid one extra blocking driver
        # job per CC invocation for the same persisted RDD.
        .localCheckpoint(eager=False)
    )
    # Initial labels: min(self, neighbors) — init IS propagation round 1.
    # Checkpointed lazily (r15): with the fused first probe below the
    # frame is referenced three times inside one job (its own sum, the
    # round-1 join, the round-1 union), so the persist stops the init
    # aggregate re-running per reference.
    labels = (
        edges.groupBy(F.col("a").alias("node"))
        .agg(F.min("b").alias("__mn"))
        .select("node", F.least(F.col("node"), F.col("__mn")).alias("lbl"))
        .localCheckpoint(eager=False)
    )
    numeric_ids = isinstance(edges.schema["a"].dataType, NumericType)

    def _label_sum(frame: DataFrame):
        return frame.agg(
            F.sum(F.col("lbl").cast("decimal(38,0)")).alias("s")
        ).collect()[0]["s"]

    def _sum_frame(frame: DataFrame, tag: int) -> DataFrame:
        return frame.agg(
            F.sum(F.col("lbl").cast("decimal(38,0)")).alias("s"),
            F.count(F.lit(1)).alias("n"),
        ).select(F.lit(tag).alias("t"), "s", "n")

    # The convergence seed (sum over the init labels) is FUSED into round
    # 1's probe (r15): one collect returns BOTH sums — a union of the two
    # 1-row aggregates — instead of a dedicated blocking seed job before
    # the loop (interleaved A/B on dd6: 1.85 → 1.69 s min, identical
    # clusters). A diameter-≤2 graph still converges after a single loop
    # round. The non-numeric path needs no seed: it compares each round's
    # labels against the previous frame directly.
    prev_sum = n_nodes = None
    first_probe_pending = numeric_ids
    for _ in range(max_iter):
        contrib = edges.join(labels, edges["b"] == labels["node"]).select(
            F.col("a").alias("node"), "lbl"
        )
        # LAZY checkpoint: the convergence probe right below is the
        # round's first action, so it materializes the checkpoint as a
        # side effect — one job per round instead of an eager-checkpoint
        # job plus the probe's (A/B'd: same results, fewer jobs).
        new_labels = (
            labels.unionByName(contrib)
            .groupBy("node")
            .agg(F.min("lbl").alias("lbl"))
            .localCheckpoint(eager=False)
        )
        if numeric_ids:
            if first_probe_pending:
                rows = _sum_frame(labels, 0).unionByName(
                    _sum_frame(new_labels, 1)
                ).collect()
                sums = {r["t"]: r["s"] for r in rows}
                prev_sum, cur_sum = sums[0], sums[1]
                # every round labels the same node set, so round 1's
                # count is the result's row count
                n_nodes = rows[0]["n"]
                first_probe_pending = False
            else:
                cur_sum = _label_sum(new_labels)
            converged = cur_sum == prev_sum
            prev_sum = cur_sum
        else:
            prev = labels.select("node", F.col("lbl").alias("__prev"))
            converged = (
                new_labels.join(prev, "node")
                .filter(F.col("lbl") != F.col("__prev"))
                .limit(1)
                .count()
                == 0
            )
        labels = new_labels
        if converged:
            out = labels.select(
                F.col("node").alias("doc_id"), F.col("lbl").alias("cluster_id")
            )
            return _broadcast_if_fits(out, n_nodes if numeric_ids else out.count())
    raise RuntimeError(f"dedup_clusters did not converge in {max_iter} rounds")


def _broadcast_if_fits(df: DataFrame, n_rows: int) -> DataFrame:
    """``df`` with a broadcast hint when ``n_rows`` rows of its schema fit
    under spark.sql.autoBroadcastJoinThreshold, sized the way the planner
    sizes a relation (8 bytes of row overhead plus each column's default
    size); ``df`` unchanged otherwise, or when the threshold is off (-1).

    For a localCheckpoint whose row count the caller has measured: the
    checkpoint keeps the size estimate of the plan it replaced
    (dedup_clusters' labels: 60.9 MB estimated for 45 rows at sf0.001),
    so without the hint a consumer's join plans as a sort-merge join of
    both sides and only AQE, after both shuffles, turns it into a
    broadcast."""
    threshold = conf_bytes(df.sparkSession, "spark.sql.autoBroadcastJoinThreshold", 10 * 2**20)
    if threshold < 0 or n_rows * (8 + df._jdf.schema().defaultSize()) > threshold:
        return df
    return F.broadcast(df)


def exact_jaccard_verify(
    docs: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    thresh_num: int = 19,
    thresh_den: int = 20,
) -> DataFrame:
    """EXACT-Jaccard verification of LSH candidate pairs — the second
    stage of the canonical near-dup pipeline (candidate generation is
    probabilistic; the delete decision should not be). For each candidate
    (doc_a, doc_b): J = |Sₐ∩S_b| / |Sₐ∪S_b| over the docs' DISTINCT
    word-``shingle_k``-shingle sets, with the keep decision evaluated in
    EXACT integer arithmetic — ``den·inter ≥ num·union`` — so no float
    ever decides a deletion (τ = thresh_num/thresh_den, default 0.95).

    Scale shape: the exact set intersection runs ONLY over the candidate
    set, never all-pairs (`_pair_shingle_intersection`).

    Emits (doc_a, doc_b, inter, union, exact_jaccard ROUNDED 6 for
    reporting, verified) — downstream clustering consumes ``verified``.

    PRECONDITION: every doc referenced by ``pairs`` must have at least
    ``shingle_k`` tokens — shorter docs have no shingle set, so their
    pairs are dropped by the size join (undefined Jaccard, not a 0).
    Candidates produced by `minhash_lsh_pairs` satisfy this by
    construction (signatures require ≥ shingle_k tokens)."""
    return _jaccard(
        _pair_shingle_intersection(docs, pairs, text_col, id_col, shingle_k),
        thresh_num,
        thresh_den,
    )


def _jaccard(overlap: DataFrame, thresh_num: int, thresh_den: int) -> DataFrame:
    """(doc_a, doc_b, inter, union, exact_jaccard, verified) from a
    `_pair_overlap` frame; ``verified`` is ``den·inter ≥ num·union``."""
    un = F.col("na") + F.col("nb") - F.col("inter")
    return overlap.select(
        "doc_a",
        "doc_b",
        F.col("inter").cast("long").alias("inter"),
        un.cast("long").alias("union"),
        F.round(F.col("inter") / un, 6).alias("exact_jaccard"),
        (F.col("inter") * thresh_den >= un * thresh_num).alias("verified"),
    )


def _pair_overlap(pairs: DataFrame, arrs: DataFrame, id_col: str) -> DataFrame:
    """(doc_a, doc_b, inter, na, nb): each (doc_a, doc_b) pair joined to
    both documents' shingle arrays in ``arrs`` (id, arr), the distinct-
    shingle intersection size and both set sizes computed row-locally
    (|array_intersect| == count of distinct shared shingles; a
    zero-overlap pair emits inter = 0)."""
    return (
        pairs.join(
            arrs.select(F.col(id_col).alias("doc_a"), F.col("arr").alias("__aa")),
            "doc_a",
        )
        .join(
            arrs.select(F.col(id_col).alias("doc_b"), F.col("arr").alias("__ab")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("__aa", "__ab")).alias("inter"),
            F.size("__aa").alias("na"),
            F.size("__ab").alias("nb"),
        )
    )


def _pair_shingle_intersection(
    docs: DataFrame,
    pairs: DataFrame,
    text_col: str,
    id_col: str,
    shingle_k: int,
) -> DataFrame:
    """`_pair_overlap` over raw documents (exact_jaccard_verify /
    exact_containment_verify). The shingle build is semi-joined down to
    the documents that appear in a candidate pair, so its CPU touches
    candidate docs only; the only shuffles left are the two id-keyed
    pair-to-array joins. The pairs and the candidate docs' distinct
    shingle arrays (bounded by the candidate set, not the corpus) are
    localCheckpointed: each is referenced several times, and the pair
    producer is typically the whole MinHash+LSH pipeline, which would
    otherwise run once PER REFERENCE."""
    p = pairs.select("doc_a", "doc_b").localCheckpoint()
    ids_a = p.select(F.col("doc_a").alias(id_col))
    ids_b = p.select(F.col("doc_b").alias(id_col))
    cand_ids = ids_a.union(ids_b).distinct()
    toks = _tokens(docs, text_col, id_col).join(cand_ids, id_col, "left_semi")
    arrs = _shingle_arrays(toks, id_col, shingle_k).localCheckpoint()
    return _pair_overlap(p, arrs, id_col)


def exact_containment_verify(
    docs: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 3,
    thresh_num: int = 9,
    thresh_den: int = 10,
) -> DataFrame:
    """ASYMMETRIC containment over candidate pairs: C(A|B) = |Sₐ∩S_b| /
    |Sₐ| and C(B|A) = |Sₐ∩S_b| / |S_b| over distinct word-shingle sets —
    the subset-duplicate detector Jaccard misses. A short document pasted
    inside a much longer one has LOW Jaccard (the union is dominated by
    the long doc) but containment ≈ 1 on the short side; dedup pipelines
    that only verify Jaccard keep both copies. The subset decision
    (``is_subset_dup``: max-side containment ≥ thresh_num/thresh_den,
    default 0.9) is evaluated in exact integer arithmetic — no float
    decides a deletion — mirroring `exact_jaccard_verify`'s contract.

    Same scale shape and PRECONDITION as `exact_jaccard_verify`: docs in
    ``pairs`` must have ≥ shingle_k tokens."""
    return _pair_shingle_intersection(docs, pairs, text_col, id_col, shingle_k).select(
        "doc_a",
        "doc_b",
        F.col("inter").cast("long").alias("inter"),
        F.col("na").cast("long").alias("size_a"),
        F.col("nb").cast("long").alias("size_b"),
        F.round(F.col("inter") / F.col("na"), 6).alias("containment_a"),
        F.round(F.col("inter") / F.col("nb"), 6).alias("containment_b"),
        (
            F.col("inter") * thresh_den >= F.least(F.col("na"), F.col("nb")) * thresh_num
        ).alias("is_subset_dup"),
    )


def contamination_passages(
    docs: DataFrame,
    benchmark: DataFrame,
    k_pass: int = 20,
    k_shingle: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Passage-grain contamination LOCALIZATION: where
    `contamination_scores` (llm5) says how much of a document overlaps
    the benchmark, this pins WHICH consecutive ``k_pass``-token passages
    carry the overlap — a passage is contaminated when any of its word
    ``k_shingle``-shingles appears in the benchmark corpus. That is the
    signal a surgical decontamination pass deletes on (drop the passage,
    keep the document), instead of discarding whole documents.

    Output: (doc_id, n_passages, n_contaminated, first_hit_pos,
    cont_share); `first_hit_pos` is NULL for clean documents. Passages
    shorter than ``k_shingle`` tokens (the tail of a document) produce
    no shingles and therefore cannot be contaminated — mirrored in the
    oracle.

    Scale shape: the broadcast benchmark array of llm5; the passage
    split, per-passage shingles and the overlap verdict are then a
    single per-row projection over the token array — nested higher-order
    functions inside codegen, no explode (the per-doc verdict never
    leaves the row). The only corpus movement is `spread`'s CONDITIONAL
    repartition of the compact doc rows when the input arrives
    under-partitioned."""
    bench_arr = _bench_array(benchmark, text_col, id_col, k_shingle)
    hits_expr = F.expr(
        f"filter(sequence(0, size(ps) - 1),"
        f" p -> size(ps[p]) >= {k_shingle}"
        f" AND arrays_overlap({_shingle_sql(k_shingle, 'ps[p]')}, __bench))"
    )
    passages = F.expr(
        f"transform(sequence(0, cast(ceil(size(t) / {k_pass}.0) AS INT) - 1),"
        f" p -> slice(t, p * {k_pass} + 1, {k_pass}))"
    )
    n_pass = F.size("ps").cast("long")
    n_cont = F.size("__hits").cast("long")
    return (
        # NULL text is filtered up front: split(NULL) would otherwise
        # propagate a NULL token array into a descending sequence(0, -1)
        # and emit a nonsense 2-passage row for the document.
        _tokens(docs.filter(F.col(text_col).isNotNull()), text_col, id_col)
        .crossJoin(F.broadcast(bench_arr))
        .select(id_col, passages.alias("ps"), "__bench")
        .select(id_col, "ps", hits_expr.alias("__hits"))
        .select(
            F.col(id_col),
            n_pass.alias("n_passages"),
            n_cont.alias("n_contaminated"),
            F.when(F.size("__hits") > 0, F.col("__hits")[0])
            .cast("long")
            .alias("first_hit_pos"),
            # try_divide: NULL (not an ANSI-mode error) on the n_pass=0
            # degenerate row, matching the sibling operators' convention.
            F.round(
                F.try_divide(n_cont.cast("double"), n_pass.cast("double")), 6
            ).alias("cont_share"),
        )
    )


def ngram_novelty(
    train_docs: DataFrame,
    eval_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_k: int = 5,
) -> DataFrame:
    """Per-eval-document n-gram NOVELTY against a training corpus: the
    fraction of the document's distinct word-``shingle_k``-shingles never
    seen in ``train_docs`` — the memorization/leakage-adjacent metric
    (contamination_scores' inverse: high novelty = genuinely new text,
    near-zero novelty = the eval doc is effectively training data).
    Returns (doc_id, n_shingles, n_novel, novelty).

    Scale shape: the train shingle set is ONE distinct (map-side-combined
    aggregate over the shingle hash — uniform keys); the eval side joins
    against it on the shingle string with a LEFT join, so membership is
    resolved in a single equi-join with no per-row set lookup; the final
    per-doc aggregate is partial-combined."""
    train_sh = (
        _shingles(train_docs, text_col, id_col, k=shingle_k)
        .select("s")
        .distinct()
        .withColumn("__seen", F.lit(1))
    )
    ev = _shingles(eval_docs, text_col, id_col, k=shingle_k).distinct()
    flagged = ev.join(train_sh, "s", "left")
    return flagged.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.sum(F.when(F.col("__seen").isNull(), 1).otherwise(0)).alias("n_novel"),
        F.round(
            F.sum(F.when(F.col("__seen").isNull(), 1).otherwise(0))
            / F.count(F.lit(1)),
            6,
        ).alias("novelty"),
    )


def _prefix_relation(
    docs: DataFrame,
    thresh_num: int,
    thresh_den: int,
    shingle_k: int,
    text_col: str,
    id_col: str,
) -> tuple[DataFrame, DataFrame]:
    """Shared plumbing: (per-doc DISTINCT shingle-set relation ``(id,
    arr)`` [lazily checkpointed], rarity-ranked prefix rows (id, s, rk,
    sz)). The per-doc distinct is a ROW-LOCAL ``array_distinct`` inside
    the scan projection — a global ``.distinct()`` on the exploded
    relation would pay two exchanges to deduplicate what never needed to
    leave its row. The exploded view exists only to count document
    frequencies (one map-side-combinable groupBy) and to rank prefix
    members; sz = size(arr) comes free. One exchange partitions the
    exploded rows by doc for the rarity rank. The prefix-length ceil is
    EXACT INTEGER arithmetic — ``(num*|S| + den - 1) div den`` — because
    a float ``ceil(0.6*sz)`` rounds 3.0000000000000004 up at exact
    multiples and silently SHORTENS the prefix, voiding the superset
    guarantee."""
    from pyspark.sql import Window

    arrs = _shingle_arrays(
        _tokens(docs, text_col, id_col), id_col, shingle_k
    ).localCheckpoint(eager=False)  # feeds the exploded view AND verify
    sh = arrs.select(id_col, F.size("arr").alias("sz"), F.explode("arr").alias("s"))
    dfreq = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    w_rank = Window.partitionBy(id_col).orderBy("df", "s")
    prefix_len = (
        F.col("sz")
        - F.expr(f"({thresh_num} * sz + {thresh_den} - 1) div {thresh_den}")
        + F.lit(1)
    )
    prefix = (
        sh.join(dfreq, "s")
        .withColumn("rk", F.row_number().over(w_rank))
        .filter(F.col("rk") <= prefix_len)
        .select(id_col, "s", "rk", "sz")
    )
    # NOT checkpointed despite feeding _prefix_candidates' self-join fork:
    # the duplicated upstream is broadcast-build both times and recomputing
    # it measured ~1.7x FASTER than materializing the checkpoint (r14 A/B,
    # dd10 2.48 vs 4.16 s, dd12 2.97 vs 4.58 s interleaved min-of-4) — the
    # dd8/txt5 checkpoint-at-the-fork rule applies to exchange-rooted
    # forks, not broadcast-rooted ones.
    return arrs, prefix


def _prefix_candidates(
    prefix: DataFrame, thresh_num: int, thresh_den: int, id_col: str
) -> DataFrame:
    """PPJoin candidate generation over the ranked prefix rows, with the
    LENGTH and POSITIONAL filters applied per joined row BEFORE the pair
    dedup — both in exact integer arithmetic:

    - length filter: J(a,b) >= t forces den*min(|a|,|b|) >= num*max(...)
      (the intersection can't exceed the smaller set, the union can't be
      under the larger).
    - positional filter (PPJoin's core): a prefix match at ranks
      (ra, rb) caps the achievable overlap at
      1 + min(|a|-ra, |b|-rb); Jaccard >= t needs overlap >=
      ceil(num*(|a|+|b|) / (num+den)) (from J = i/(|a|+|b|-i) >= t), so
      rows that cannot reach it are dropped before they ever become a
      pair. On overlap-dense corpora this is the filter that does the
      real work — measured 299,519 -> 68,725 candidate pairs at sf0.1
      on the fixture (the bare prefix join's superset is exact but
      loose when every document shares vocabulary)."""
    a = prefix.select(
        F.col(id_col).alias("doc_a"),
        "s",
        F.col("rk").alias("ra"),
        F.col("sz").alias("sa"),
    )
    b = prefix.select(
        F.col(id_col).alias("doc_b"),
        "s",
        F.col("rk").alias("rb"),
        F.col("sz").alias("sb"),
    )
    alpha = F.expr(
        f"({thresh_num} * (sa + sb) + {thresh_num + thresh_den} - 1)"
        f" div {thresh_num + thresh_den}"
    )
    length_ok = (
        F.lit(thresh_den) * F.least("sa", "sb")
        >= F.lit(thresh_num) * F.greatest("sa", "sb")
    )
    positional_ok = (
        F.lit(1)
        + F.least(F.col("sa") - F.col("ra"), F.col("sb") - F.col("rb"))
    ) >= alpha
    return (
        a.join(b, "s")
        .filter((F.col("doc_a") < F.col("doc_b")) & length_ok & positional_ok)
        .select("doc_a", "doc_b")
        .distinct()
    )


def prefix_filter_pairs(
    docs: DataFrame,
    thresh_num: int = 3,
    thresh_den: int = 5,
    shingle_k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Candidate near-dup pairs via PREFIX FILTERING with PPJoin's length
    and positional filters (public algorithm family — Chaudhuri et al.'s
    SSJoin prefix filter, Xiao et al.'s PPJoin): order every document's
    distinct shingles by a single GLOBAL rarity order (document
    frequency asc, shingle asc), keep only each doc's first
    ``|S| - ceil(t*|S|) + 1`` shingles, join docs that share a PREFIX
    shingle, and prune joined rows that provably cannot reach the
    overlap threshold. Guarantee: any pair with Jaccard >= t shares a
    shingle inside both prefixes under a consistent global order AND
    passes both filters, so the candidate set is a SUPERSET of the true
    pairs — exact, unlike MinHash-LSH banding (dd2), which misses pairs
    with probability > 0. The two are complementary scale tools: LSH's
    candidate count is tunable and data-independent; prefix filtering is
    lossless and prunes hardest exactly where it matters.

    Scale shape: see _prefix_relation (one exchange for size+rank) and
    _prefix_candidates (per-row integer filters BEFORE the pair dedup);
    self-join fan-out is bounded by per-shingle PREFIX document
    frequency, which the rarity order drives toward 1 — the residual
    skew lever on adversarial corpora is a df-band cap, which would
    trade exactness and is deliberately not applied here."""
    _sh, prefix = _prefix_relation(
        docs, thresh_num, thresh_den, shingle_k, text_col, id_col
    )
    return _prefix_candidates(prefix, thresh_num, thresh_den, id_col)


def prefix_filter_join(
    docs: DataFrame,
    thresh_num: int = 3,
    thresh_den: int = 5,
    shingle_k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Complete exact set-similarity self-join: prefix-filtered candidate
    generation + exact-Jaccard verification against the SAME
    (checkpointed) per-doc shingle-array relation — the standalone
    verify funnel (exact_jaccard_verify) would re-derive shingles from
    the raw corpus, doubling the explode work. Per-row memory of the
    verify join is two shingle arrays — the same doc-length bound the
    MinHash signature projection carries. Emits (doc_a, doc_b,
    exact_jaccard [6dp, reporting only])."""
    arrs, prefix = _prefix_relation(
        docs, thresh_num, thresh_den, shingle_k, text_col, id_col
    )
    cands = _prefix_candidates(prefix, thresh_num, thresh_den, id_col)
    return _jaccard_verify(arrs, cands, thresh_num, thresh_den, id_col)


def topk_similar_docs(
    docs: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_perms: int = DEFAULT_PERMS,
    bands: int = DEFAULT_BANDS,
    shingle_k: int = 3,
) -> DataFrame:
    """Per-document top-k most-similar neighbors from the LSH candidate
    set — the 'show me this document's near-duplicates' primitive behind
    canonical-keeper choice and curation UIs: :func:`minhash_lsh_pairs`
    emits each candidate pair once (doc_a < doc_b), this symmetrizes the
    pair set (both directions, a narrow union — no extra shuffle of the
    candidate build) and takes a per-doc window top-k ordered by
    (est_jaccard DESC, neighbor id) — a TOTAL order, so the k-boundary
    row is engine-invariant.

    Scale shape: candidates come from the banded LSH join (bounded
    buckets, never |D|²); the window partitions by doc over the
    candidate set only — per-doc state is that doc's candidate count,
    which LSH already bounds. Returns (doc_id, neighbor_id,
    est_jaccard, rank) with rank ≤ k."""
    from pyspark.sql import Window

    pairs = minhash_lsh_pairs(
        docs, text_col, id_col, n_perms, bands, shingle_k
    ).localCheckpoint(eager=False)  # feeds both union branches
    sym = pairs.select(
        F.col("doc_a").alias(id_col),
        F.col("doc_b").alias("neighbor_id"),
        "est_jaccard",
    ).unionByName(
        pairs.select(
            F.col("doc_b").alias(id_col),
            F.col("doc_a").alias("neighbor_id"),
            "est_jaccard",
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("est_jaccard").desc(), F.col("neighbor_id")
    )
    return (
        sym.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "neighbor_id", "est_jaccard", "rank")
    )


def _jaccard_verify(
    arrs: DataFrame,
    cands: DataFrame,
    thresh_num: int,
    thresh_den: int,
    id_col: str,
) -> DataFrame:
    """The verified (doc_a, doc_b, exact_jaccard) candidate pairs against
    a precomputed shingle-array relation (id, arr)."""
    return (
        _jaccard(_pair_overlap(cands, arrs, id_col), thresh_num, thresh_den)
        .filter(F.col("verified"))
        .select("doc_a", "doc_b", "exact_jaccard")
    )


def lsh_band_ablation(
    docs: DataFrame,
    band_configs: tuple[int, ...] = (2, 4, 8),
    n_perms: int = DEFAULT_PERMS,
    thresh_num: int = 3,
    thresh_den: int = 5,
    shingle_k: int = 3,
    max_bucket: int = 1024,
) -> DataFrame:
    """Banding-parameter ablation: for each candidate LSH configuration
    (``bands`` bands of ``n_perms // bands`` rows over the SAME MinHash
    signatures), the exact precision/recall of its candidate pairs
    against the TRUE near-duplicate set (shingle-set Jaccard >= t,
    computed losslessly by the PPJoin prefix-filter join) — the
    measurement that picks (b, r) before a corpus-scale dedup run,
    instead of trusting the 1-(1-s^r)^b curve on paper. One row per
    config: candidate/true/hit counts plus precision and recall in
    exact integer micro-units.

    Scale shape: this is a DIAGNOSTIC an operator runs on a corpus
    sample, but nothing in the plan is sample-bound. The corpus is
    scanned and shingled ONCE: the distinct shingle-array relation of
    the prefix-filter truth side also feeds the signatures (the min over
    the distinct set equals the min over the multiset, so they are
    bit-identical to :func:`minhash_signatures`), and the md5 base hash
    runs per DISTINCT shingle. Each config's candidates come from the
    shared bounded-bucket group-and-pair stage (never |D|^2), the ground
    truth is the :func:`prefix_filter_join` pair set (exact, candidates
    only), and the scoring join + per-config rollup shuffle only pair
    ids. The one scalar (|true pairs|) rides in via a broadcast 1-row
    aggregate.

    ORACLE CAVEAT (sharper than dd2's): the dd12 DuckDB oracle does NOT
    mirror the ``max_bucket`` cap (its cand CTE self-joins all bands
    uncapped). For dd2 a truncated bucket merely loses redundant
    duplicate pairs; here the
    truncated counts feed n_candidates/n_hit, so a >max_bucket bucket
    would bias precision/recall DIFFERENTLY per config and diverge from
    the oracle. Engines agree exactly iff every (config, band) bucket
    stays below ``max_bucket`` members — true of all in-repo fixtures
    (largest sf0.1 bucket is orders of magnitude below 1024) and of any
    corpus whose duplicate clusters the production cap is sized for;
    an ablation run on a cap-exceeding corpus measures the CAPPED
    pipeline (which is what production would execute) rather than the
    textbook curve.

    Cross-band duplicate candidates are removed with one distinct on
    (bands, pair) — here the pair sets are the OUTPUT being measured, so
    instead of the first-colliding-band rule the dedup must span configs
    anyway; one shuffle of the union is the cost of scoring all configs
    in a single pass.

    All configs' band keys are emitted from ONE explode and bucketed by
    ONE aggregation keyed (bands, band_idx, band_hash) — a per-config
    branch would run |configs| separate shuffles (plus a checkpointed
    signature materialization) for buckets that never interact across
    configs; fused, each signature row is consumed exactly once and the
    whole candidate side is scan → explode → one exchange. The query's
    residual cost is dominated by the TRUTH side, i.e. the dd10
    prefix-filter join it embeds (~2.3 of ~3.4 s at sf0.1)."""
    arrs, _prefix = _prefix_relation(
        docs, thresh_num, thresh_den, shingle_k, "text", "doc_id"
    )
    sig = _minhash(arrs, "doc_id", n_perms).select("doc_id", _sig(n_perms))

    # One source of truth for the band-key scheme: each config's structs
    # come from the SAME _band_structs the production LSH path (dd2/dd7/
    # dd11) banding uses — the ablation must measure the scheme it
    # informs — with the config id tagged on per element.
    def _tag(bands_val: int):
        # nested factory, NOT a default-arg lambda: F.transform treats a
        # two-parameter lambda as (element, index) and would silently
        # bind the array index over the default
        return lambda s: F.struct(
            F.lit(bands_val).alias("bands"),
            s["band_idx"].alias("band_idx"),
            s["band_hash"].alias("band_hash"),
        )

    tagged = [
        F.transform(_band_structs(n_perms, bands), _tag(bands))
        for bands in band_configs
    ]
    banded = sig.select("doc_id", F.explode(F.concat(*tagged)).alias("band")).select(
        "doc_id", "band.bands", "band.band_idx", "band.band_hash"
    )
    cand = (
        _bucket_pairs(banded, F.col("doc_id"), max_bucket, tags=("bands",))
        .select("bands", F.col("m").alias("doc_a"), F.col("n").alias("doc_b"))
        .distinct()
    )

    cands_t = _prefix_candidates(_prefix, thresh_num, thresh_den, "doc_id")
    truth = (
        _jaccard_verify(arrs, cands_t, thresh_num, thresh_den, "doc_id")
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=False)  # scored against AND counted
    )
    n_true = truth.agg(F.count(F.lit(1)).cast("long").alias("n_true"))

    scored = cand.join(truth.withColumn("__t", F.lit(1)), ["doc_a", "doc_b"], "left")
    per = scored.groupBy("bands").agg(
        F.count(F.lit(1)).cast("long").alias("n_candidates"),
        F.sum(F.coalesce(F.col("__t"), F.lit(0))).cast("long").alias("n_hit"),
    )
    return per.crossJoin(F.broadcast(n_true)).select(
        F.col("bands").cast("long").alias("bands"),
        F.lit(n_perms).cast("long").alias("n_perms"),
        "n_candidates",
        "n_true",
        "n_hit",
        F.expr(
            "CASE WHEN n_candidates = 0 THEN NULL"
            " ELSE (n_hit * 1000000) div n_candidates END"
        ).alias("precision_micro"),
        F.expr(
            "CASE WHEN n_true = 0 THEN NULL"
            " ELSE (n_hit * 1000000) div n_true END"
        ).alias("recall_micro"),
    )


def _window_hashes(toks: DataFrame, id_col: str, k: int) -> DataFrame:
    """(id, pos, __h): md5 of every SLIDING k-token window of a `_tokens`
    relation, exploded with its 0-based start; documents with < k tokens
    have no windows."""
    return toks.filter(F.size("t") >= k).select(
        id_col,
        F.posexplode(
            F.expr(
                f"transform(sequence(0, cast(size(t) AS INT) - {k}),"
                f" i -> md5(concat_ws(' ', slice(t, i + 1, {k}))))"
            )
        ).alias("pos", "__h"),
    )


def _first_occurrence(docs: DataFrame, id_col: str, max_pos: int, op: str) -> Column:
    """``__ord`` = doc·max_pos + pos, the single-BIGINT first-occurrence
    order both engines min identically, over an in-scope ``pos``. Raises
    TypeError at plan time for a non-integral ``id_col`` (the encoding
    has no string form); assert_true keeps the overflow guard LIVE inside
    the consumed expression (a separate dropped column would be pruned
    away): it returns NULL when 0 <= id <= (2^63-1)/max_pos holds and
    aborts when a too-large id would wrap the encoding."""
    from pyspark.sql.types import IntegralType

    if not isinstance(docs.schema[id_col].dataType, IntegralType):
        raise TypeError(
            f"{op} requires an integral {id_col!r} "
            f"(got {docs.schema[id_col].dataType.simpleString()}); the "
            "doc·max_pos+pos first-occurrence encoding has no string form"
        )
    id_bound = ((1 << 63) - 1) // max_pos
    return F.when(
        F.assert_true(
            F.col(id_col).between(0, id_bound),
            F.lit(
                f"{op}: {id_col} out of [0, {id_bound}] — "
                "doc*max_pos+pos would overflow BIGINT"
            ),
        ).isNull(),
        F.col(id_col) * max_pos + F.col("pos"),
    ).alias("__ord")


def duplicate_spans(
    docs: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact duplicate-SPAN profile over SLIDING k-token windows — the
    relational core of exact-substring training-data dedup (Lee et al.
    2022, arXiv:2107.06499: substrings repeated anywhere in the corpus
    are memorization/contamination fuel; their suffix-array finds them
    at byte grain, this finds every duplicated window of k tokens and
    the LONGEST duplicated run per document, the statistic that decides
    between dropping a span and dropping the document). Differs from
    :func:`passage_dedup` (dd8) on both axes that matter: windows
    OVERLAP (a duplicated substring is caught at every alignment, not
    only when it lands on a fixed k-token boundary) and the output is a
    span-structure profile (longest run), not a keep/rewrite plan.

    Output, one row per document with at least one window (token count
    >= k): (doc_id, n_windows, n_dup, longest_run, dup_micro) where
    n_dup counts windows whose gram occurs >= 2 times corpus-wide
    (including elsewhere in the SAME document — self-repetition is
    memorization fuel too), longest_run is the longest streak of
    consecutive duplicated window positions (0 when n_dup = 0), and
    dup_micro = n_dup*1e6 div n_windows exactly.

    Scale shape: windows explode row-locally inside the scan projection
    (no shuffle; `spread` first — the one-file-fixture guard); gram
    ownership is ONE map-side-combinable count keyed on the gram's md5
    (uniform; hot keys are exactly the boilerplate being measured, and
    groupBy+join keeps partial aggregation on both sides where a
    count-over-window would buffer the hottest gram in one task); the
    dup flags join back on the same key; runs are gaps-and-islands —
    row_number over (doc, pos-order) on DUP windows only, then two
    aggregates that both reuse the window exchange's hash(doc)
    partitioning (island key and per-doc max — zero extra exchanges).
    Per-doc totals (n_windows) are ROW-LOCAL (token count - k + 1), so
    the full window relation is never re-aggregated; the final attach is
    one doc-keyed join of the (sparse) dup-stats relation.

    ORACLE CAVEAT (same class as lsh_band_ablation's): gram ownership is
    keyed on md5(gram) while the dd13 DuckDB oracle groups the raw gram
    strings — engine/oracle agreement assumes md5 collision-freedom over
    the corpus's distinct k-gram set (~2^-64 per pair at these
    cardinalities; at 100 TB switch the key to xxhash64(gram)||length or
    the raw string if collision-freedom must be unconditional)."""
    wins = _window_hashes(
        _tokens(docs, text_col, id_col), id_col, k
    ).localCheckpoint(eager=False)  # feeds the ownership aggregate, the
    # dup semi-join, AND the per-doc totals — different exchange children
    # defeat ReuseExchange, so without this the scan+explode+md5 pipeline
    # runs once per reference (the dd8/txt5 gap; passage_dedup pays the
    # same checkpoint for the same fork). Totals derive from THIS
    # relation (count of positions per doc ≡ token count − k + 1), so
    # the corpus text is scanned exactly once (r11 review item).
    owners = (
        wins.groupBy("__h")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") >= 2)
        .select("__h")
    )
    dup = wins.join(owners, "__h", "left_semi")
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy("pos")
    islands = dup.withColumn("__isl", F.col("pos") - F.row_number().over(w))
    run_stats = (
        islands.groupBy(id_col, "__isl")
        .agg(F.count(F.lit(1)).alias("__run"))
        .groupBy(id_col)
        .agg(
            F.sum("__run").cast("long").alias("n_dup"),
            F.max("__run").cast("long").alias("longest_run"),
        )
    )
    totals = wins.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_windows")
    )
    # both sides arrive hash(doc)-partitioned (totals' aggregate, the
    # run window/aggregates), so the attach adds no exchange
    return (
        totals.join(run_stats, id_col, "left")
        .select(
            id_col,
            "n_windows",
            F.coalesce(F.col("n_dup"), F.lit(0)).cast("long").alias("n_dup"),
            F.coalesce(F.col("longest_run"), F.lit(0)).cast("long").alias("longest_run"),
            F.expr("(coalesce(n_dup, 0) * 1000000) div n_windows").alias("dup_micro"),
        )
    )


def longest_duplicate_substring(
    docs: DataFrame,
    min_len: int = 5,
    max_depth: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document LONGEST duplicated substring at token grain — the
    sorted-suffix (suffix-array) member of the exact-substring dedup
    family (Lee et al. 2022, arXiv:2107.06499 build a byte-grain suffix
    array for exactly this; RefinedWeb reuses it). Complements the two
    sibling exact operators: :func:`passage_dedup` (dd8) rewrites on
    FIXED windows, :func:`duplicate_spans` (dd13) profiles duplicated
    RUNS of a fixed k-gram — this one answers "what is the longest
    substring of this document that appears (>=2 times) anywhere in the
    corpus, where does it start, and what is it", with NO upper bound
    tied to the seed length: the length is discovered, not preset.

    Output, one row per document owning a duplicated substring of
    >= ``min_len`` tokens: (doc_id, lrs_len, lrs_pos, lrs_md5) — the
    token length (capped at ``max_depth``, see below), the 0-based
    token offset of its FIRST qualifying occurrence in the doc (ties on
    length break to the smallest offset), and md5 of the substring.
    Occurrences may overlap (classic LRS semantics: 'a a a a' repeats
    'a a a' at offsets 0 and 1) and may sit in the SAME document —
    self-repetition is memorization fuel too (dd13's convention).

    Formulation — seed-bucket + sorted-suffix extension, no all-pairs:
    1. Every token position with >= min_len tokens remaining emits a
       suffix row: (bucket = md5 of the first min_len tokens, rest =
       tokens min_len+1 .. max_depth). Any two suffixes with a common
       prefix >= min_len tokens share the bucket BY CONSTRUCTION, so
       all qualifying adjacencies are in-bucket and the sort is
       per-bucket — never the global single-partition sort a textbook
       suffix array would cost on one machine.
    2. Within buckets of >= 2 members (a window count over the bucket
       partition — no second aggregate pass), sort by `rest`; the
       longest common extension of a suffix against the WHOLE bucket is
       max(LCP with sort-predecessor, LCP with sort-successor) — the
       suffix-array adjacency property, valid inside a bucket because
       bucket membership already fixes the first min_len tokens. The
       per-suffix answer is min_len + that extension.
       Order-invariance across engines: any prefix-clustering total
       order yields the same max-adjacent-LCP (equal `rest` arrays are
       interchangeable; both engines compare arrays element-wise with
       shorter-prefix-first), so the Spark and DuckDB sorts need not
       tie-break identically.
    3. Per-doc argmax (max length, then min offset) is one window over
       hash(doc) — row_number's WindowGroupLimit prunes to one row per
       (doc, map partition) BEFORE that exchange. The winning substring
       is reconstructed ROW-LOCALLY from the suffix's own carried
       tokens (seed ++ extension prefix), so the corpus text is scanned
       exactly ONCE: no join back, no second scan, and the suffix
       relation is never checkpointed (pair/suffix-grain
       materialization is the g13 OOM lesson). The digest itself is
       computed only on the ~1-per-doc winners.

    ``max_depth`` caps the carried suffix at max_depth tokens, so a
    duplicated substring longer than that reports exactly max_depth —
    the standard truncated-sort-key bound (Lee et al. iterate; a caller
    needing exact lengths beyond the cap re-runs on the capped winners
    with a larger depth). Data volume is the suffix-array tradeoff
    stated honestly: ~(tokens x max_depth) strings through ONE shuffle
    keyed on the seed bucket; hot buckets are exactly the corpus's true
    boilerplate (the rows being deduped — the dd8/dd13 skew argument),
    and `min_len` is the knob that sharpens the bucket key.

    LCP arithmetic is exact integers end to end; md5 is the cross-
    engine hash contract (SKILL gotcha: the only shared deterministic
    hash). The bucket key is md5(seed gram) — same collision caveat as
    dd13 (~2^-64 per pair; swap to the raw gram if collision-freedom
    must be unconditional)."""
    if not 1 <= min_len <= max_depth:
        raise ValueError(
            f"need 1 <= min_len <= max_depth, got {min_len}/{max_depth}"
        )
    from pyspark.sql import Window

    rest_cap = max_depth - min_len
    toks = _tokens(docs, text_col, id_col).filter(F.size("t") >= min_len)
    # Suffix rows carry the seed and the capped extension as SPACE-
    # JOINED STRINGS, not token arrays: the in-bucket sort then compares
    # flat UTF8 bytes (memcmp-class) instead of invoking the per-element
    # array<string> comparator per comparison — at the sf10 fixture the
    # array-ordered form ground for 25+ minutes in the bucket sort while
    # this form's sort is I/O-bound, and the shuffle payload halves.
    # Correctness: concat_ws(' ') is injective over space-free tokens
    # (split output), so equal strings ⟺ equal token arrays, and
    # lexicographic STRING order is token-prefix-clustering — the only
    # property the adjacency argument needs — provided no token contains
    # a character below 0x20 (a control-char token could split a prefix
    # block, which can only UNDER-report a length, never invent one;
    # whitespace-split text satisfies the precondition by construction
    # for ' ', and the oracle's list-ordered form is exact regardless).
    # The max-adjacent-LCP is order-invariant across any two prefix-
    # clustering orders, so Spark's string order and the oracle's array
    # order agree without tie-break coordination.
    suf = toks.select(
        id_col,
        F.posexplode(
            F.expr(
                f"transform(sequence(0, cast(size(t) AS INT) - {min_len}),"
                f" i -> struct("
                f"   concat_ws(' ', slice(t, i + 1, {min_len})) AS seed,"
                f"   concat_ws(' ', slice(t, i + 1 + {min_len}, {rest_cap}))"
                f"     AS rk))"
            )
        ).alias("pos", "__s"),
    ).select(
        id_col,
        "pos",
        F.md5(F.col("__s.seed")).alias("b"),
        F.col("__s.seed").alias("seed"),
        F.col("__s.rk").alias("rk"),
    )
    wo = Window.partitionBy("b").orderBy("rk")
    # bucket size over the SAME (partition, order): explicit
    # unbounded-unbounded frame, so the count shares the lag/lead sort
    # instead of costing a second per-bucket sort pass.
    wall = wo.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    # Re-split ONCE per row after the window (an empty extension string
    # must map to an EMPTY array — split('') yields [''], which would
    # fake a 1-token LCP between two min_len-sized suffixes).
    def _arr(src: str) -> str:
        return (
            f"CASE WHEN {src} = '' THEN CAST(array() AS ARRAY<STRING>)"
            f" ELSE split({src}, ' ') END"
        )

    # LCP of two capped token arrays: first zip_with mismatch (pads
    # compare false via coalesce), else the shorter length. `least`
    # IGNORES nulls in Spark, so bucket edges guard explicitly: a
    # missing neighbor contributes -1 (never the max — real rlcp >= 0).
    def _rlcp(other: str) -> "F.Column":
        lcp = F.expr(
            f"coalesce(nullif(array_position(zip_with(__ra, {other},"
            f" (x, y) -> coalesce(x = y, false)), false), 0) - 1,"
            f" least(size(__ra), size({other})))"
        )
        return F.when(F.col(other).isNull(), F.lit(-1)).otherwise(lcp)

    scored = (
        suf.withColumn("__nb", F.count(F.lit(1)).over(wall))
        .withColumn("__prev", F.lag("rk").over(wo))
        .withColumn("__next", F.lead("rk").over(wo))
        .filter(F.col("__nb") >= 2)
        .select(
            id_col,
            "pos",
            "seed",
            # NULL neighbors pass through: the CASE's '' test is NULL,
            # and split(NULL) is NULL — the -1 guard below catches it
            F.expr(_arr("rk")).alias("__ra"),
            F.expr(_arr("__prev")).alias("__pa"),
            F.expr(_arr("__next")).alias("__na"),
        )
        .select(
            id_col,
            "pos",
            "seed",
            "__ra",
            (
                F.lit(min_len)
                + F.greatest(_rlcp("__pa"), _rlcp("__na"))
            ).cast("long").alias("__len"),
        )
        # the winning substring: seed ++ the first (len − min_len)
        # extension tokens — row-local, no join back
        .withColumn(
            "__sub",
            F.when(F.col("__len") == min_len, F.col("seed")).otherwise(
                F.expr(
                    f"concat(seed, ' ', concat_ws(' ',"
                    f" slice(__ra, 1, cast(__len AS INT) - {min_len})))"
                )
            ),
        )
    )
    wd = Window.partitionBy(id_col).orderBy(
        F.col("__len").desc(), F.col("pos").asc()
    )
    return (
        scored.withColumn("__rn", F.row_number().over(wd))
        .filter(F.col("__rn") == 1)
        .select(
            id_col,
            F.col("__len").alias("lrs_len"),
            F.col("pos").cast("long").alias("lrs_pos"),
            F.md5(F.col("__sub")).alias("lrs_md5"),
        )
    )


def substring_dedup_rewrite(
    docs: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_pos: int = 100_000,
) -> DataFrame:
    """The REWRITE step of sliding-window exact-substring dedup — the
    removal `duplicate_spans` (dd13) only profiles and
    `longest_duplicate_substring` (dd14) only locates: every token
    covered by a NON-FIRST duplicated ``k``-gram window is cut, the
    first corpus occurrence (min ``doc·max_pos + pos``, the dd8
    encoding) keeps its text, and each document is re-emitted as
    (doc_id, n_tokens, n_removed, clean_md5) — Lee et al. 2022's
    "remove all but one occurrence of each duplicated substring",
    relationalized at arbitrary offsets (dd8 is the fixed-boundary
    cousin: it can only cut on k-token passage boundaries; this cuts
    the exact covered span wherever it starts).

    Semantics pinned (deterministic, oracle-expressible): a token is
    removed iff SOME non-first duplicated window covers it. Overlapping
    windows union into maximal removal spans (gaps-and-islands on the
    sorted dup starts: with fixed window length, start p extends the
    current span iff p − prev_start <= k). Self-overlapping repeats
    ('a a a a a') therefore collapse to the head token(s) before the
    first dup start — the degenerate-repeat outcome the span-union rule
    implies, asserted in tests. Documents shorter than ``k`` tokens
    (no windows) pass through unchanged with n_removed = 0.

    Scale shape: windows explode row-locally with md5 keys (dd13's
    relation — text never shuffles); ownership is one uniform-key
    groupBy + the same-key join back (hot grams ARE the boilerplate
    being cut); span-union is a per-doc window over hash(doc) whose
    aggregates reuse that exchange; the rebuild is ROW-LOCAL (the
    doc's own spans array folded over its own tokens — bounded by doc
    length, never a token-grain join). Same integral-id precondition
    and live overflow guard as :func:`passage_dedup`."""
    from pyspark.sql import Window

    first = _first_occurrence(docs, id_col, max_pos, "substring_dedup_rewrite")
    toks = _tokens(docs, text_col, id_col)
    wins = (
        _window_hashes(toks, id_col, k)
        .select(id_col, "pos", "__h", first)
        .localCheckpoint(eager=False)  # feeds ownership AND the dup join
    )
    owners = wins.groupBy("__h").agg(F.min("__ord").alias("__owner"))
    dup = (
        wins.join(owners, "__h")
        .filter(F.col("__ord") > F.col("__owner"))
        .select(id_col, "pos")
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    isl = dup.withColumn(
        "__brk",
        F.when(F.col("pos") - F.lag("pos").over(w) <= k, 0).otherwise(1),
    ).withColumn(
        "__isl",
        F.sum("__brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    spans = isl.groupBy(id_col, "__isl").agg(
        F.min("pos").cast("long").alias("s"),
        (F.max("pos") + k).cast("long").alias("e"),
    )
    doc_spans = spans.groupBy(id_col).agg(
        F.sort_array(F.collect_list(F.struct("s", "e"))).alias("__spans"),
        F.sum(F.col("e") - F.col("s")).cast("long").alias("__removed"),
    )
    rebuilt = F.expr(
        "md5(concat_ws(' ', transform(filter("
        "  transform(t, (tok, i) -> struct(tok, CAST(i AS BIGINT) AS i)),"
        "  x -> NOT exists(__spans, s -> x.i >= s.s AND x.i < s.e)),"
        " x -> x.tok)))"
    )
    return (
        toks.join(doc_spans, id_col, "left")
        .select(
            id_col,
            F.size("t").cast("long").alias("n_tokens"),
            F.coalesce(F.col("__removed"), F.lit(0)).cast("long").alias(
                "n_removed"
            ),
            F.when(
                F.col("__spans").isNull(),
                F.md5(F.concat_ws(" ", F.col("t"))),
            ).otherwise(rebuilt).alias("clean_md5"),
        )
    )
