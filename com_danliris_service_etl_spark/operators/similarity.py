"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the exact baseline, and a sign-bit LSH-bucketed
variant as the scale path (probes one bucket instead of the full corpus).
Both are pure DataFrame compositions; the dot product is a sequential
left-fold in double precision so results are bit-identical across engines
and partitionings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from com_danliris_service_etl_spark.operators.partitioning import spread

# Sequential left-fold dot product / norm in DOUBLE. The float32 source is
# cast element-wise first: float arithmetic would differ between engines.
_DOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> cast(x AS DOUBLE) * cast(y AS DOUBLE)),"
    " cast(0.0 AS DOUBLE), (acc, v) -> acc + v)"
)
_NORM = (
    "sqrt(aggregate(transform({a}, x -> cast(x AS DOUBLE) * cast(x AS DOUBLE)),"
    " cast(0.0 AS DOUBLE), (acc, v) -> acc + v))"
)


def cosine(col_a: str, col_b: str):
    """Cosine similarity; NULL when either vector has zero norm (cosine is
    undefined there, and under ANSI mode — the Spark 4 default — a bare
    division would ABORT the job on the first all-zero padding/failed
    embedding row). NULL scores drop out of every consumer: threshold
    filters reject them and rank windows order them last."""
    dot = F.expr(_DOT.format(a=col_a, b=col_b))
    return F.try_divide(
        dot, F.expr(_NORM.format(a=col_a)) * F.expr(_NORM.format(a=col_b))
    )


def norm(vec_col: str):
    """L2 norm as a per-row column. Computing norms BEFORE a pairwise join
    turns the per-pair cost from 3 array folds into 1 (the dot product):
    O(n·d) norm work instead of O(pairs·d) — the difference between
    seconds and minutes on a blocked self-join, and bit-identical to the
    per-pair formulation (same fold, same operand order). (An unrolled
    inline-sum variant was measured ~2x SLOWER than the aggregate() fold —
    the giant flat expression defeats codegen — so the fold stays.)"""
    return F.expr(_NORM.format(a=vec_col))


def cosine_prenormed(dot_a: str, dot_b: str, norm_a: str, norm_b: str):
    """Same zero-norm contract as `cosine`: NULL, never a divide abort."""
    dot = F.expr(_DOT.format(a=dot_a, b=dot_b))
    return F.try_divide(dot, F.col(norm_a) * F.col(norm_b))


def _rank_topk(scored: DataFrame, k: int) -> DataFrame:
    """Shared top-k tail for every cosine ANN variant: NULL scores (a
    zero-norm vector's undefined cosine) are dropped BEFORE ranking — an
    undefined similarity is not a neighbor, and row_number would
    otherwise rank it into a sparse query's top-k — then rank ascending
    by (score desc, neighbor_id) for a deterministic, engine-independent
    order. One place to change the ranking convention; four operators
    (brute-force, bucketed, multi-probe, IVF) share the contract that
    `recall_at_k` compares."""
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    return (
        scored.filter(F.col("cos_sim").isNotNull())
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cos_sim", "rank")
    )


def brute_force_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector against the corpus.

    Plan shape: broadcast the (small) query set against the corpus —
    a broadcast-nested-loop join that streams the corpus once, no shuffle of
    the big side; the per-query top-k is a window over (query, score).
    At 100 TB replace the final window with per-partition top-k + re-reduce
    (TakeOrdered semantics) — expressed here via the rank window which AQE
    keeps partitioned by query id."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        norm(vec_col).alias("q_norm"),
    )
    # spread: a one-file corpus scans as ONE partition and the |Q|x|C|
    # scoring fold would run single-threaded (measured: sim1 3.38x vs
    # oracle at derived sf1 before, 4 cores idle); conditional, so a
    # well-partitioned 100 TB corpus passes through untouched
    c = spread(embeddings).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        norm(vec_col).alias("c_norm"),
    )
    from pyspark.sql import Window

    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                cosine_prenormed("q_vec", "c_vec", "q_norm", "c_norm"), 6
            ).alias("cos_sim"),
        )
    )
    return _rank_topk(scored, k)


def signbit_bucket(vec_col: str, n_bits: int = 8):
    """Deterministic sign-bit LSH bucket: bit d = sign(vec[d]) for the first
    n_bits dimensions (Spark SQL arrays are 0-based)."""
    terms = " + ".join(
        f"(CASE WHEN {vec_col}[{d}] > 0 THEN {1 << d} ELSE 0 END)" for d in range(n_bits)
    )
    return F.expr(terms)


def multiprobe_lsh_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Multi-probe sign-bit LSH top-k: each query probes its own bucket AND
    every bucket at Hamming distance 1 (n_bits single-bit flips) — the
    standard recall fix for LSH's boundary problem (a near-neighbor whose
    first sign bit flips lands one bucket over; single-probe misses it,
    multi-probe doesn't).

    Scale shape: the probe set is generated QUERY-side (queries × (n_bits+1)
    rows — queries are the small side), then one equi-join on the bucket id
    against the corpus: same shuffle-partitionable plan as single-probe
    `lsh_bucketed_topk`, just a slightly wider broadcast. The corpus is
    never exploded. Equivalent predicate: bit_count(q.bucket XOR c.bucket)
    <= 1 — expressed as an equi-join so Spark never evaluates it pairwise.
    """
    from pyspark.sql import Window

    probes = F.array(
        F.col("__b"), *[F.expr(f"__b ^ {1 << d}") for d in range(n_bits)]
    )
    q = (
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("q_vec"),
            norm(vec_col).alias("q_norm"),
            signbit_bucket(vec_col, n_bits).alias("__b"),
        )
        .select("query_id", "q_vec", "q_norm", F.explode(probes).alias("bucket"))
    )
    # corpus scan projects only the sign tests; the norm fold moves
    # after the join (most rows match no probed bucket — see
    # lsh_bucketed_topk), and spread parallelizes a one-file corpus
    c = spread(embeddings).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        signbit_bucket(vec_col, n_bits).alias("bucket"),
    )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                F.try_divide(
                    F.expr(_DOT.format(a="q_vec", b="c_vec")),
                    F.col("q_norm") * norm("c_vec"),
                ),
                6,
            ).alias("cos_sim"),
        )
    )
    return _rank_topk(scored, k)


def filtered_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    filter_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Metadata-FILTERED exact top-k (the "filtered vector search" every
    production vector store ships): each query retrieves only among
    corpus vectors whose ``filter_col`` equals its own — the
    tenant/language/source-scoped retrieval shape, where post-filtering
    an unfiltered ANN result is wrong (k survivors are not guaranteed)
    and pre-filtering is exactly an equi-join.

    Scale shape: the filter IS the join key, so the candidate set is the
    query's own partition of the corpus, never the whole corpus: one
    broadcast equi-join on ``filter_col`` (queries are the small side),
    per-match dot products, one top-k window keyed by query. Corpus-side
    scan projects only (id, vec, filter) — norms are computed post-join
    on matched rows (the sim2 lesson: with a small probe set most corpus
    rows match few/no queries). A skewed filter value (one tenant owning
    the corpus) degrades to sim1's brute-force cost FOR THAT QUERY only;
    bucket that tenant through the LSH/IVF families instead."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        norm(vec_col).alias("q_norm"),
        F.col(filter_col).alias("__f"),
    )
    c = spread(embeddings).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        F.col(filter_col).alias("__f"),
    )
    scored = (
        c.join(F.broadcast(q), "__f")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                F.try_divide(
                    F.expr(_DOT.format(a="q_vec", b="c_vec")),
                    F.col("q_norm") * norm("c_vec"),
                ),
                6,
            ).alias("cos_sim"),
        )
    )
    return _rank_topk(scored, k)


def filtered_multiprobe_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    filter_col: str = "label",
    n_bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The documented ESCAPE for `filtered_topk`'s dense-label regime
    (one tenant owning a corpus-scale share of rows): candidates must
    share the query's ``filter_col`` AND lie within Hamming distance 1
    of its sign-bit LSH bucket — i.e. the in-label multi-probe family,
    joined on the COMPOSITE key (filter, bucket) so per-query work drops
    from |label partition| to |label partition| / 2^n_bits × (n_bits+1).

    Exactness contract: approximate (recall measured by `recall_at_k`
    against `filtered_topk`; meaningful only when the embedding space
    has cluster structure — on uniform random vectors NO LSH family can
    retrieve, the sim2 fixture-density caveat). Same determinism rules
    as the exact form: 6dp-rounded scores, id tiebreaks.

    Scale shape: probes are generated query-side (n_bits+1 rows per
    query, broadcast); the corpus scan projects only (id, vec, filter,
    8 sign tests) and is never exploded; norms are computed post-join on
    the ~|part|/2^n_bits matched rows (the sim2 lesson)."""
    probes = F.array(
        F.col("__b"), *[F.expr(f"__b ^ {1 << d}") for d in range(n_bits)]
    )
    q = (
        queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("q_vec"),
            norm(vec_col).alias("q_norm"),
            F.col(filter_col).alias("__f"),
            signbit_bucket(vec_col, n_bits).alias("__b"),
        )
        .select(
            "query_id", "q_vec", "q_norm", "__f",
            F.explode(probes).alias("__bkt"),
        )
    )
    c = spread(embeddings).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        F.col(filter_col).alias("__f"),
        signbit_bucket(vec_col, n_bits).alias("__bkt"),
    )
    scored = (
        c.join(F.broadcast(q), ["__f", "__bkt"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                F.try_divide(
                    F.expr(_DOT.format(a="q_vec", b="c_vec")),
                    F.col("q_norm") * norm("c_vec"),
                ),
                6,
            ).alias("cos_sim"),
        )
    )
    return _rank_topk(scored, k)


def mmr_rerank(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 3,
    pool: int = 10,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    strategy: str = "unrolled",
) -> DataFrame:
    """Maximal-marginal-relevance rerank (Carbonell & Goldstein 1998):
    greedily pick ``k`` results from each query's exact top-``pool``
    candidates, step j maximizing
    ``lam·cos(q, c) − (1−lam)·max_{s∈selected} cos(c, s)`` — the
    standard diversified-retrieval tail that stops a RAG context window
    filling with near-duplicates of one passage. Ties break on the
    smallest neighbor id; scores are rounded to 6 dp (inputs already
    are) so selection is engine-deterministic.

    Scale shape: the only corpus-scale work is the candidate pool (the
    sim1 broadcast-queries-over-spread-corpus plan, plus ONE more
    broadcast semi-pass attaching the ≤ |Q|·pool candidate vectors);
    everything after — pairwise sims within each pool (≤ pool² rows per
    query) and the k−1 greedy updates — runs on |Q|·pool-bounded
    relations, so k and pool bound the tail no matter the corpus size.
    The greedy loop is k−1 UNROLLED dataframe steps (the g16/txt19
    bounded-iterations discipline), not a driver fixpoint.

    ``strategy``: "unrolled" (default) runs the greedy tail as k−1
    dataframe steps — ~2 bounded jobs per step, fine at small k but a
    job-count tax at k=20 (a realistic rerank depth). "fused" folds the
    whole greedy loop into ONE Arrow-batched `applyInPandas` over each
    query's pool (pool·(pool−1) rows per group by construction — one
    Arrow batch), reusing the SAME Spark-computed pool and pairwise
    sims, with the greedy arithmetic in exact integer micro-units so the
    two strategies are row-for-row identical (equivalence test-pinned;
    curve in BASELINE.md r13)."""
    if not 1 <= k <= pool:
        raise ValueError(f"need 1 <= k <= pool, got k={k} pool={pool}")
    if strategy not in ("unrolled", "fused"):
        raise ValueError(f"unknown strategy {strategy!r}")
    from pyspark.sql import Window

    topk = brute_force_topk(embeddings, queries, k=pool,
                            id_col=id_col, vec_col=vec_col)
    # attach candidate vectors: ONE broadcast pass over the corpus — only
    # the ≤|Q|·pool pool members survive the join
    pool_rel = (
        embeddings.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("__v"),
        )
        .join(F.broadcast(topk.select("query_id", "neighbor_id", "cos_sim")),
              "neighbor_id")
        .localCheckpoint(eager=False)  # feeds pairs AND the greedy loop
    )
    a = pool_rel.select(
        "query_id", F.col("neighbor_id").alias("__a"), F.col("__v").alias("__va")
    )
    b = pool_rel.select(
        "query_id", F.col("neighbor_id").alias("__b"), F.col("__v").alias("__vb")
    )
    pairs = (
        a.join(b, "query_id")
        .filter(F.col("__a") != F.col("__b"))
        .select(
            "query_id", "__a", "__b",
            F.round(
                F.try_divide(
                    F.expr(_DOT.format(a="__va", b="__vb")),
                    F.expr(_NORM.format(a="__va"))
                    * F.expr(_NORM.format(a="__vb")),
                ),
                6,
            ).alias("__sab"),
        )
        .localCheckpoint(eager=False)  # reused by every greedy step
    )

    lam_u = round(lam * 1_000_000)
    if strategy == "fused":
        return _mmr_greedy_fused(pool_rel, pairs, k, lam_u)

    cand = pool_rel.select(
        "query_id", "neighbor_id", "cos_sim",
        F.lit(None).cast("double").alias("__ms"),
    )
    w = Window.partitionBy("query_id")
    # INTEGER scoring (the sim9 exact-cross-engine recipe): cos_sim/__ms
    # are 6dp-quantized, so round(x*1e6) recovers their exact integer
    # micro-units on any engine; lam quantizes to micro-units once; the
    # score is then pure BIGINT arithmetic — no float multiply-subtract
    # that an engine may fuse (FMA) into a differently-rounded double
    # (measured: DuckDB's a*b - c*d diverged by 1 ulp on 4/30 rows).
    # score_units == score * 1e12; the final emitted double is one exact
    # division of identical ints (< 2^53) by 1e12.
    ci = F.round(F.col("cos_sim") * F.lit(1e6)).cast("long")
    mi = F.round(F.coalesce(F.col("__ms"), F.lit(0.0)) * F.lit(1e6)).cast("long")
    score = F.lit(lam_u) * ci - F.lit(1_000_000 - lam_u) * mi
    picked = []
    for step in range(1, k + 1):
        scored = cand.withColumn("__sc", score)
        best = F.min(
            F.struct(
                (-F.col("__sc")).alias("ns"),
                F.col("neighbor_id").alias("nid"),
            )
        ).over(w)
        scored = scored.withColumn("__best", best)
        sel = scored.filter(
            (F.col("__sc") == -F.col("__best.ns"))
            & (F.col("neighbor_id") == F.col("__best.nid"))
        ).select(
            "query_id", "neighbor_id",
            (F.col("__sc").cast("double") / F.lit(1e12)).alias("mmr_score"),
            F.lit(step).alias("mmr_rank"),
        )
        picked.append(sel)
        if step == k:
            break
        sel_key = sel.select(
            "query_id", F.col("neighbor_id").alias("__sel")
        )
        cand = (
            cand.join(F.broadcast(sel_key), "query_id")
            .filter(F.col("neighbor_id") != F.col("__sel"))
            .join(
                pairs.select(
                    "query_id",
                    F.col("__a").alias("neighbor_id"),
                    F.col("__b").alias("__sel"),
                    "__sab",
                ),
                ["query_id", "neighbor_id", "__sel"],
                "left",
            )
            # max over the selected set so far: greatest() skips NULLs in
            # Spark, so a first update seeds __ms with __sab directly
            .select(
                "query_id", "neighbor_id", "cos_sim",
                F.greatest(F.col("__ms"), F.col("__sab")).alias("__ms"),
            )
            .localCheckpoint(eager=False)  # cut per-step lineage
        )
    out = picked[0]
    for p in picked[1:]:
        out = out.unionByName(p)
    return out.select("query_id", "neighbor_id", "mmr_rank", "mmr_score")


def _mmr_greedy_fused(
    pool_rel: DataFrame, pairs: DataFrame, k: int, lam_u: int
) -> DataFrame:
    """The fused greedy tail: one `applyInPandas` per query-pool instead of
    k−1 unrolled dataframe steps. The pool AND the pairwise sims are the
    SAME Spark-computed relations the unrolled path uses (so fold order /
    6dp rounding are identical by construction); only the greedy
    selection moves into Python, in exact integer micro-units —
    score_units = lam_u·round(cos·1e6) − (1e6−lam_u)·round(ms·1e6), all
    Python ints, ties on min neighbor_id — so the two strategies emit
    row-for-row identical results. Each group is pool·(pool−1) rows (one
    Arrow batch by construction); the Python boundary is paid once, not
    per step, which is the whole point at k=20.

    Id typing: the output schema's `query_id`/`neighbor_id` fields are
    DERIVED from ``pool_rel`` (not hardcoded bigint — the r13 ADVICE
    defect), and `other_id` — which the left join makes NULLABLE, so
    pandas surfaces integral columns as float64 with NaN — is
    normalized back through the id column's own type family before
    keying `sab`, so `sab` lookups hit for int, float and string ids
    alike."""
    import math

    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        FractionalType,
        IntegerType,
        IntegralType,
        StructField,
        StructType,
    )

    nid_type = pool_rel.schema["neighbor_id"].dataType
    out_schema = StructType(
        [
            StructField("query_id", pool_rel.schema["query_id"].dataType),
            StructField("neighbor_id", nid_type),
            StructField("mmr_rank", IntegerType()),
            StructField("mmr_score", DoubleType()),
        ]
    )
    if isinstance(nid_type, IntegralType):
        idkey = int
    elif isinstance(nid_type, FractionalType):
        idkey = float
    else:
        idkey = lambda v: v  # noqa: E731 — strings et al.: raw value

    rel = (
        pool_rel.select("query_id", "neighbor_id", "cos_sim")
        .join(
            pairs.select(
                "query_id",
                F.col("__a").alias("neighbor_id"),
                F.col("__b").alias("other_id"),
                F.col("__sab").alias("sab"),
            ),
            ["query_id", "neighbor_id"],
            "left",  # pool==1: the lone candidate has no pairs
        )
    )

    def units(x: float) -> int:
        # Spark F.round(x*1e6): inputs are already 6dp-quantized, so
        # x*1e6 is within 1 ulp of an integer — floor(+0.5) recovers it
        # exactly for either sign; never near a true .5 boundary, so
        # HALF_UP vs banker's cannot diverge here.
        return int(math.floor(x * 1e6 + 0.5))

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        qid = pdf["query_id"].iloc[0]
        ci: dict = {}
        sab: dict = {}
        for r in pdf.itertuples(index=False):
            nid = idkey(r.neighbor_id)
            ci[nid] = units(r.cos_sim)
            if pd.notna(r.other_id):
                sab[(nid, idkey(r.other_id))] = units(r.sab)
        msu: dict = dict.fromkeys(ci)  # None = nothing selected yet
        remaining = sorted(ci)
        rows = []
        mu = 1_000_000 - lam_u
        for step in range(1, k + 1):
            if not remaining:
                break  # pool smaller than k: emit what exists (as unrolled)
            best = None
            for n in remaining:
                sc = lam_u * ci[n] - mu * (msu[n] or 0)
                if best is None or (-sc, n) < best[0]:
                    best = ((-sc, n), sc)
            (_, nid), sc = best
            rows.append((qid, nid, step, sc / 1e12))
            remaining.remove(nid)
            for n in remaining:
                s = sab.get((n, nid))
                if s is not None and (msu[n] is None or s > msu[n]):
                    msu[n] = s
        return pd.DataFrame(
            rows, columns=["query_id", "neighbor_id", "mmr_rank", "mmr_score"]
        )

    return rel.groupBy("query_id").applyInPandas(greedy, schema=out_schema)


def build_centroid_array(
    centroids: DataFrame,
    cent_id_col: str = "vec_id",
    cent_vec_col: str = "embedding",
) -> DataFrame:
    """Collapse the centroid set to ONE cid-sorted array row (the broadcast
    codebook `ivf_assign_cells` probes). Build this ONCE per query and pass
    it to every `ivf_assign_cells` call — two assignment passes sharing the
    plan would otherwise each re-aggregate the centroid table."""
    return centroids.select(
        F.struct(
            F.col(cent_id_col).cast("long").alias("cid"),
            F.expr(
                f"transform({cent_vec_col}, x -> cast(x AS DOUBLE))"
            ).alias("cvec"),
            norm(cent_vec_col).alias("cnorm"),
        ).alias("c")
    ).agg(F.sort_array(F.collect_list("c")).alias("__cents"))


def ivf_assign_cells(
    vectors: DataFrame,
    centroids: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "cell",
    cent_id_col: str = "vec_id",
    cent_vec_col: str = "embedding",
    cent_arr: DataFrame | None = None,
) -> DataFrame:
    """IVF coarse quantization: assign every vector to its nearest centroid
    (highest cosine, centroid id as deterministic tiebreak) — the inverted-
    file cell structure under IVF-style ANN.

    The centroid set is collapsed to ONE cid-sorted array row and
    broadcast (small by construction — k-means cluster counts are
    2^8..2^16 even at billion-vector scale), and the argmax runs PER ROW
    as a higher-order-function fold inside codegen: O(n·C·d) scan work
    and ZERO shuffle of the corpus. (An earlier form scored via
    broadcast-nested-loop then took the argmax with a row_number window
    — that sort-shuffles n·C scored rows, a full extra pass over the
    corpus that this fold eliminates. For C·d too large for one array
    cell, the fallback is that join plus a map-side-combinable
    `max_by` groupBy — still no sort.) Ties break to the lowest
    centroid id: the array is cid-sorted and the fold's strict `>`
    keeps the first maximum. Centroid TRAINING is available in-engine —
    `operators/clustering.py::kmeans_fit` runs Lloyd's iterations with
    THIS assignment kernel — or happens offline; either way the operator
    contract here is the cell assignment + probe, not the quantizer
    quality, so any deterministic centroid set works.

    Pass ``cent_arr`` (a prebuilt/materialized :func:`build_centroid_array`
    row) when assigning several vector sets against the same codebook —
    the aggregation then runs once, not once per call."""
    if cent_arr is None:
        if centroids is None:
            raise ValueError("either centroids or cent_arr is required")
        cent_arr = build_centroid_array(centroids, cent_id_col, cent_vec_col)

    dot = (
        f"aggregate(zip_with({vec_col}, c.cvec, (x, y) -> cast(x AS DOUBLE) * y),"
        " cast(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    # try_divide: a zero-norm vector (or degenerate centroid) must yield a
    # NULL sim — never the ANSI divide abort — and NULL sims lose every
    # `>` comparison, so such a row keeps the init NULL cid.
    argmax = F.expr(
        "aggregate("
        f"  transform(__cents, c -> struct(try_divide({dot}, __v_norm * c.cnorm) AS sim,"
        "                                  c.cid AS cid)),"
        "  struct(cast('-Infinity' AS DOUBLE) AS sim, cast(NULL AS BIGINT) AS cid),"
        "  (acc, s) -> CASE WHEN s.sim > acc.sim THEN s ELSE acc END"
        ").cid"
    )
    # spread: the O(C·d) per-row argmax fold is the operator's whole
    # cost and a one-row-group corpus file scans as ONE partition
    # (quiet-window A/B 0.45 → 0.29 s; a first A/B during a co-tenant
    # burst read the opposite and was adjudicated noise — r14). Composed
    # (non-scan-rooted) callers — the k-means iteration loop — pass
    # through untouched.
    return (
        spread(vectors).withColumn("__v_norm", norm(vec_col))
        .crossJoin(F.broadcast(cent_arr))
        .select(*vectors.columns, argmax.alias(cell_col))
    )


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame | None,
    centroids: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_filter: F.Column | None = None,
    filter_col: str | None = None,
) -> DataFrame:
    """IVF(nprobe=1) top-k: corpus and queries are both coarse-quantized to
    their nearest centroid's cell; each query scores only its own cell's
    inverted list. The candidate join is an equi-join on the cell id —
    shuffle-partitionable, skew split by AQE — instead of a cross product.
    Raising recall = probing more cells (rank<=nprobe in the assignment
    window), the standard IVF knob.

    ``filter_col`` makes this the IVF arm of the dense-label escape
    family (`filtered_multiprobe_topk` is the LSH arm): candidates must
    additionally share the query's metadata value, so the join key
    becomes the composite (filter, cell) — per-query work drops from the
    label partition to that partition's cell, and the filter is enforced
    BEFORE retrieval (post-filtering an unfiltered ANN result under-fills
    k).

    ``query_filter`` is the queries-⊆-corpus fast path (self-recall
    evaluation, dedup-style all-vs-all probing): one predicate over the
    corpus columns marks the query rows, the cell assignment runs ONCE
    over the corpus, and the assigned set is materialized
    (localCheckpoint) so the query side is a filter over it rather than a
    second quantization pass. In a real deployment that materialized
    assignment IS the persisted IVF index — built once, probed by every
    query batch."""
    from pyspark.sql import Window

    join_keys = ["cell"] if filter_col is None else ["cell", "__f"]
    if query_filter is not None:
        proj = [
            F.col(id_col).alias("__id"),
            F.col(vec_col).alias("__vec"),
            query_filter.alias("__is_q"),
        ]
        if filter_col is not None:
            proj.append(F.col(filter_col).alias("__f"))
        assigned = ivf_assign_cells(
            embeddings.select(*proj),
            id_col="__id",
            vec_col="__vec",
            cent_arr=build_centroid_array(centroids),
        ).withColumn("__norm", norm("__vec")).localCheckpoint()
        keep = join_keys[1:]  # __f rides along when filtering
        c = assigned.select(
            F.col("__id").alias("neighbor_id"),
            F.col("__vec").alias("c_vec"),
            F.col("__norm").alias("c_norm"),
            "cell",
            *keep,
        )
        q = assigned.filter(F.col("__is_q")).select(
            F.col("__id").alias("query_id"),
            F.col("__vec").alias("q_vec"),
            F.col("__norm").alias("q_norm"),
            "cell",
            *keep,
        )
    else:
        # One centroid aggregation for BOTH quantization passes: the
        # codebook row is materialized (localCheckpoint — a C×d-sized
        # result, tiny by construction) so the corpus and query
        # assignments reuse it instead of re-running the centroid
        # scan+collect_list per side.
        cent_arr = build_centroid_array(centroids).localCheckpoint()
        extra_c = (
            [] if filter_col is None else [F.col(filter_col).alias("__f")]
        )
        c = ivf_assign_cells(
            embeddings.select(
                F.col(id_col).alias("neighbor_id"),
                F.col(vec_col).alias("c_vec"),
                *extra_c,
            ),
            id_col="neighbor_id",
            vec_col="c_vec",
            cent_arr=cent_arr,
        ).withColumn("c_norm", norm("c_vec"))
        q = ivf_assign_cells(
            queries.select(
                F.col(id_col).alias("query_id"),
                F.col(vec_col).alias("q_vec"),
                *extra_c,
            ),
            id_col="query_id",
            vec_col="q_vec",
            cent_arr=cent_arr,
        ).withColumn("q_norm", norm("q_vec"))
    scored = (
        c.join(F.broadcast(q), join_keys)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                cosine_prenormed("q_vec", "c_vec", "q_norm", "c_norm"), 6
            ).alias("cos_sim"),
        )
    )
    return _rank_topk(scored, k)


def lsh_bucketed_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's sign-bit
    bucket (2^n_bits buckets). The candidate join becomes an equi-join on
    the bucket id — shuffle-partitionable and skew-handled by AQE — instead
    of a full cross product: the 100 TB path.

    Corpus-side cost discipline (r12): the scan projection computes ONLY
    the n_bits sign tests per vector — the norm fold (O(d) per row) moves
    AFTER the bucket join, because with a small probe set most corpus rows
    match zero probed buckets and their norms would be pure waste
    (pre-norming pays off only when each row joins MANY pairs — the
    blocked self-join case `norm`'s docstring describes, which this
    isn't). `spread` first: a one-file corpus would otherwise run the
    projection single-threaded."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        norm(vec_col).alias("q_norm"),
        signbit_bucket(vec_col, n_bits).alias("bucket"),
    )
    c = spread(embeddings).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        signbit_bucket(vec_col, n_bits).alias("bucket"),
    )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                F.try_divide(
                    F.expr(_DOT.format(a="q_vec", b="c_vec")),
                    F.col("q_norm") * norm("c_vec"),
                ),
                6,
            ).alias("cos_sim"),
        )
    )
    return _rank_topk(scored, k)


# Int8 quantization: per-vector symmetric scale (max|x|/127). The fold
# accumulates the quantized dot product in BIGINT — exact integer
# arithmetic — so only the two de-scale multiplies are float ops, and the
# whole score is bit-identical across engines and partitionings.
#
# The codes lambda references the scale as an OUTER COLUMN ({s} names a
# column, not an inlined expression): inlining the scale fold inside the
# per-element lambda re-evaluates a 64-element aggregate per element
# (O(d²) per row) — measured ~2x end-to-end on the registered query.
_QUANT = (
    "transform({v}, x -> CAST(round(CAST(x AS DOUBLE) / {s}) AS BIGINT))"
)
_MAXABS = (
    "aggregate(transform({v}, x -> abs(CAST(x AS DOUBLE))),"
    " CAST(0.0 AS DOUBLE), (acc, v) -> CASE WHEN v > acc THEN v ELSE acc END)"
)
_QDOT = (
    "aggregate(zip_with({a}, {b}, (x, y) -> x * y),"
    " CAST(0 AS BIGINT), (acc, v) -> acc + v)"
)


def _scale_sql(vec_col: str) -> str:
    m = _MAXABS.format(v=vec_col)
    return f"(CASE WHEN {m} = 0.0 THEN 1.0 ELSE {m} / 127.0 END)"


def int8_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k neighbors by int8-quantized dot product, with the exact
    double-precision dot product carried alongside so every row
    self-reports its quantization error (`score_err`).

    Plan shape mirrors the exact baseline (corpus streamed once, queries
    broadcast, per-query top-k window) — quantization changes the
    arithmetic, not the dataflow; on a real deployment the int8 codes are
    precomputed and stored, shrinking the scan 4x."""
    from pyspark.sql import Window

    # Two-step projection so the scale lands in a column FIRST and the
    # codes lambda reads it as an outer reference — O(d), not O(d²), per row.
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        F.expr(_scale_sql(vec_col)).alias("q_scale"),
    ).withColumn("q_q", F.expr(_QUANT.format(v="q_vec", s="q_scale")))
    # same one-file-corpus guard as brute_force_topk (sim1 3.38x -> 0.62x
    # at sf1): quantize+score is the hot projection, keep it parallel
    c = spread(embeddings).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        F.expr(_scale_sql(vec_col)).alias("c_scale"),
    ).withColumn("c_q", F.expr(_QUANT.format(v="c_vec", s="c_scale")))
    qdot = F.expr(_QDOT.format(a="q_q", b="c_q"))
    exact = F.expr(_DOT.format(a="q_vec", b="c_vec"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (qdot * F.col("q_scale") * F.col("c_scale")).alias("_qscore"),
            exact.alias("_exact"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("_qscore").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.col("_qscore"), 6).alias("q_dot"),
            F.round(F.col("_exact"), 6).alias("exact_dot"),
            F.round(F.abs(F.col("_qscore") - F.col("_exact")), 6).alias("score_err"),
            "rank",
        )
    )


def recall_at_k(exact: DataFrame, approx: DataFrame, k: int) -> DataFrame:
    """ANN quality evaluation: recall@k of an approximate top-k result
    against the exact one — the metric that decides whether an index's
    speed was paid for with silent quality loss (an ANN path without a
    measured recall is flying blind; every index change should re-run
    this). Both inputs are (query_id, neighbor_id, ...) top-k frames
    whose ranking is deterministic (rounded score + id tiebreak — the
    convention every sim* operator here follows), so the intersection is
    well-defined and engine-portable.

    Scale shape: one equi-join on (query_id, neighbor_id) — both sides
    are top-k-sized (|queries|·k rows), tiny relative to the corpus that
    produced them — then a map-side-combinable count per query. The
    evaluation NEVER touches raw vectors; run it on a sampled query set
    and it costs two index probes plus a bounded join at any corpus
    size."""
    hits = (
        exact.select("query_id", "neighbor_id")
        .join(approx.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    qs = exact.select("query_id").distinct()
    return (
        qs.join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            F.round(
                F.coalesce(F.col("n_hits"), F.lit(0)) / F.lit(float(k)), 6
            ).alias("recall"),
        )
    )


# Product quantization: distances are scaled to exact BIGINTs (×1e6) so
# code assignment and ADC sums are integer arithmetic — order-independent
# and bit-identical across engines (same trick as sim5's int8 dot).
PQ_SCALE = 1_000_000

# Codebooks up to this many doubles (K·dim) inline as a constant-folded
# literal column in pq_topk (zero extra jobs); larger books ship as a
# one-row broadcast join. Purely a delivery knob — both paths rank
# identically (test_pq_topk_literal_and_broadcast_paths_agree).
PQ_LITERAL_MAX_DOUBLES = 65536


def pq_codebook(
    codebook_vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Collapse the PQ codebook source vectors into ONE cid-sorted array
    row, the input `pq_codebook_flat` slices per subspace. Real
    deployments train per-subspace centroids with k-means offline; the
    operator contract is encode + ADC, so any deterministic vector
    sample serves as codebook (the IVF convention, `ivf_assign_cells`)."""
    return codebook_vectors.select(
        F.struct(
            F.col(id_col).cast("long").alias("cid"),
            F.expr(f"transform({vec_col}, x -> cast(x AS DOUBLE))").alias("cvec"),
        ).alias("c")
    ).agg(F.sort_array(F.collect_list("c")).alias("__cb"))


def pq_codebook_flat(
    codebook_vectors: DataFrame,
    m: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PRE-TRANSPOSED codebook for the ADC hot path: one row holding
    ``__cbf`` — a flat array of length m·K whose slot ``mi·K + j`` is the
    ``sub``-dim slice of cid-sorted codebook entry ``j`` for subspace
    ``mi`` — and ``__ncb`` = K. Slicing the codebook happens ONCE here,
    in the broadcast build, instead of m·K times per corpus row inside
    the scoring projection (`pq_topk`'s r4 form paid exactly that)."""
    sub = dim // m
    return pq_codebook(codebook_vectors, id_col, vec_col).select(
        F.expr(
            f"flatten(transform(sequence(0, {m - 1}),"
            f" mi -> transform(__cb, c -> slice(c.cvec, mi * {sub} + 1, {sub}))))"
        ).alias("__cbf"),
        F.size("__cb").cast("int").alias("__ncb"),
    )


def _pq_subdist_flat(a: str, b: str) -> str:
    """SQL expr: scaled-BIGINT L2² between two PRE-SLICED sub-vectors.
    Fixed fold order (element 1..sub), then one round to the scaled
    integer — mirrored exactly by the oracle's list_reduce."""
    return (
        "cast(round(aggregate("
        f"  zip_with({a}, {b},"
        "            (x, y) -> (cast(x AS DOUBLE) - y) * (cast(x AS DOUBLE) - y)),"
        "  cast(0.0 AS DOUBLE), (acc, v) -> acc + v"
        f") * {PQ_SCALE}) AS BIGINT)"
    )


def pq_codebook_collect(
    codebook: DataFrame,
    m: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[tuple[tuple[float, ...], ...], int]:
    """Collect the pre-transposed codebook to the driver as a hashable
    ((slice, ...), K) tuple — the offline-artifact form `pq_topk` accepts
    directly. PQ codebooks are trained offline and reused across query
    batches by definition; callers that serve many batches collect ONCE
    (and may lru_cache on their own key) instead of re-running the
    collection job per batch."""
    row = pq_codebook_flat(codebook, m, dim, id_col, vec_col).first()
    return (
        tuple(tuple(s) for s in row["__cbf"]),
        int(row["__ncb"]),
    )


def _pq_codes_expr(vec_col: str, m: int, sub: int, n_cb: int):
    """PQ encoding: per subspace, the POSITION of the nearest entry in
    the cid-sorted flat codebook (position order == cid order). The
    argmin is an `array_min` over (scaled distance, position) structs —
    lexicographic, so ties break to the smallest cid. Shared by pq_topk
    and ivf_pq_topk."""
    return F.expr(
        f"transform(sequence(0, {m - 1}), mi ->"
        f"  transform(array(slice({vec_col}, mi * {sub} + 1, {sub})), vs ->"
        f"    array_min(transform(sequence(0, {n_cb - 1}), j -> struct("
        f"      {_pq_subdist_flat('vs', f'__cbf[mi * {n_cb} + j]')} AS sd,"
        "       j AS pos))).pos)[0])"
    )


def _pq_dq_expr(vec_col: str, m: int, sub: int, n_cb: int):
    """Per-query FLAT m·K BIGINT ADC distance table (slot mi·K + j)."""
    return F.expr(
        f"flatten(transform(sequence(0, {m - 1}), mi ->"
        f"  transform(array(slice({vec_col}, mi * {sub} + 1, {sub})), vs ->"
        f"    transform(sequence(0, {n_cb - 1}), j ->"
        f"      {_pq_subdist_flat('vs', f'__cbf[mi * {n_cb} + j]')}))[0]))"
    )


def pq_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    codebook: DataFrame | tuple,
    k: int = 5,
    m: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ top-k with asymmetric distance computation (ADC): the corpus is
    scanned as CODES (m small ints/vector, never the raw floats); each
    query precomputes its per-(subspace, codebook-entry) distance table,
    and approx_l2sq(query, x) = Σ_m D[q][m][code_m(x)] — table lookups,
    no vector arithmetic per candidate.

    Scale shape: each query's D table is an m×K BIGINT ARRAY (position-
    aligned with the cid-sorted codebook) carried on its row; the corpus
    row carries its m code POSITIONS into the same sorted codebook
    (`_pq_codes_expr`). Scoring is then a broadcast of the query batch
    onto the code matrix and a row-local integer fold `Σ_m D[mi][code_mi]` —
    ZERO shuffle before the final top-k window, where the earlier
    relational form (explode codes → equi-join D rows → re-aggregate)
    paid an extra exchange over m× the rows for the same sum. All
    distances are scaled BIGINTs, so the ADC sum is exact integer
    arithmetic: rank order is engine- and partitioning-independent by
    construction, not by rounding luck. Ranking ascends
    (distance, neighbor_id).

    Constant-factor shape (r5): the codebook is PRE-TRANSPOSED
    (`pq_codebook_flat`) — slot ``mi·K + j`` of ``__cbf`` is already the
    subspace slice, so the per-row argmin does zero codebook slicing; the
    row's own subspace slice binds ONCE per mi (a one-element `transform`
    lambda) instead of once per (mi, j); and the query distance table is
    a FLAT m·K BIGINT array probed as ``__dq[mi·K + code]`` in the ADC
    fold — no nested-array indirection per candidate. Delivery of the
    codebook to executors: a PQ codebook is K·dim doubles by definition
    (1 KB here, ~2 MB for a production K=256 × dim=768 book), so it is
    collected once driver-side; small books inline as a CONSTANT-FOLDED
    literal column (zero extra jobs — no checkpoint, no broadcast
    exchange), large ones ship as a one-row broadcast join of the
    already-materialized row. Distances are identical doubles either way
    (the literal's %.17e round-trips exactly). ``codebook`` may be the
    source DataFrame (collected here, one job) or the precollected
    ``pq_codebook_collect`` tuple — the offline-artifact form that
    serves many query batches without re-collecting."""
    from pyspark.sql import Window

    if isinstance(codebook, tuple):
        cbf_vals, n_cb = list(codebook[0]), int(codebook[1])
    else:
        cb_row = pq_codebook_flat(codebook, m, dim, id_col, vec_col).first()
        cbf_vals, n_cb = list(cb_row["__cbf"]), int(cb_row["__ncb"])
    if n_cb == 0:
        # an empty codebook would render as an untyped `array()` literal
        # and fail analysis obscurely — fail loud at the API boundary.
        raise ValueError("pq_topk: codebook is empty (no vectors to train on)")
    sub = dim // m
    codes_expr = _pq_codes_expr(vec_col, m, sub, n_cb)
    dq_expr = _pq_dq_expr(vec_col, m, sub, n_cb)
    if n_cb * dim <= PQ_LITERAL_MAX_DOUBLES:
        # Exponent notation: Spark SQL parses `7.5e-2` as a DOUBLE
        # literal but `0.075` as a DECIMAL — a plain-decimal literal
        # array would type as array<decimal(20,20)> and drag decimal
        # casts through the hot projection. 17 significant digits is an
        # exact double round-trip, so the literal carries the SAME
        # values the column-borne path would.
        lit_sql = (
            "array("
            + ",".join(
                "array(" + ",".join("%.17e" % x for x in s) + ")"
                for s in cbf_vals
            )
            + ")"
        )

        def _with_cb(df: DataFrame) -> DataFrame:
            return df.withColumn("__cbf", F.expr(lit_sql))

    else:
        sess = embeddings.sparkSession
        cb_df = sess.createDataFrame(
            [(cbf_vals,)], "__cbf array<array<double>>"
        )

        def _with_cb(df: DataFrame) -> DataFrame:
            return df.crossJoin(F.broadcast(cb_df))

    # spread (partitioning.py's conditional repartition): encoding is CPU-bound
    # per-row expression work, and a small corpus arriving as one parquet
    # file = one partition would score single-threaded; a well-partitioned
    # 100 TB corpus passes through untouched.
    corpus = _with_cb(spread(embeddings)).select(
        F.col(id_col).alias("neighbor_id"), codes_expr.alias("__codes")
    )
    qtab = _with_cb(queries).select(
        F.col(id_col).alias("query_id"), dq_expr.alias("__dq")
    )
    adc = (
        corpus.join(
            F.broadcast(qtab), F.col("query_id") != F.col("neighbor_id")
        )
        .select(
            "query_id",
            "neighbor_id",
            F.expr(
                f"aggregate(sequence(0, {m - 1}), cast(0 AS BIGINT),"
                f" (acc, mi) -> acc + __dq[mi * {n_cb} + __codes[mi]])"
            ).alias("__ds"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("__ds"), F.col("neighbor_id"))
    return (
        adc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.col("__ds") / F.lit(float(PQ_SCALE)), 6).alias("approx_l2sq"),
            "rank",
        )
    )


COV_SCALE = 1_000_000  # fixed-point quantization: 6 decimal digits per component


def embedding_covariance(
    embeddings: DataFrame,
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Sample covariance matrix of an embedding column — the sufficient-
    statistics precursor to PCA/whitening — computed the way a 100 TB
    corpus has to: ONE Arrow-batched ``mapInPandas`` pass emits per-batch
    partial sufficient statistics (count, per-dim sums, upper-triangle
    gramian Q^T·Q — a vectorized matmul per batch, never per-row
    Python), a single bounded groupBy sums the partials (≤ d(d+1)/2 + d
    + 1 keys regardless of corpus size), and the covariance finalizes
    row-locally: cov_ij = (S_ij − S_i·S_j/n) / (n − 1).

    EXACT across engines (the sim5/sim8 fixed-point precedent): each
    component is quantized ONCE to an integer q = floor(v·1e6 + 0.5) —
    the float32→float64 widening, the multiply, the add and the floor
    are all single IEEE-754 ops that every engine computes identically —
    and every downstream statistic is integer arithmetic: per-batch
    int64 partials (|v| ≤ O(1) ⇒ q ≤ ~1e6, q·q ≤ ~1e12, Arrow batches
    ≤ 1e4 rows ⇒ batch sums ≤ ~1e16), DECIMAL(38,0) global sums (no
    int64 ceiling at corpus scale), and a final half-away-from-zero
    integer rounding r = (2·|num|·1e6 + den) div (2·den) with
    num = S_ij·n − S_i·S_j and den = n·(n−1)·1e12. The result
    sign·r/1e6 is a small exact integer divided by 1e6 — bit-identical
    in any engine, in any summation order. (The float64 predecessor of
    this operator drifted in the last ulps per summation order and
    never hash-matched the DuckDB oracle; VERDICT r8 §wrong-1.)

    The eigen-decomposition of the resulting d×d matrix is driver-sized
    by construction — the classic split: cluster computes the gramian,
    the driver (or caller) factorizes 64×64.

    Returns (i, j, cov double) for 1 ≤ i ≤ j ≤ dim, cov rounded to 6dp."""
    import numpy as np
    import pandas as pd

    iu_i, iu_j = np.triu_indices(dim)

    def partials(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.stack(pdf[vec_col].to_numpy()).astype("float64")
            q = np.floor(x * float(COV_SCALE) + 0.5).astype("int64")
            g = q.T @ q  # int64 matmul — exact
            yield pd.DataFrame(
                {
                    # (0,0) carries n; (i,0) the per-dim sums; (i,j) the gramian
                    "i": np.concatenate(([0], np.arange(1, dim + 1), iu_i + 1)),
                    "j": np.concatenate(([0], np.zeros(dim, dtype=int), iu_j + 1)),
                    "s": np.concatenate(
                        ([np.int64(len(pdf))], q.sum(axis=0), g[iu_i, iu_j])
                    ).astype("int64"),
                }
            )

    dec = "decimal(38,0)"
    tot = (
        embeddings.select(vec_col)
        .mapInPandas(partials, schema="i int, j int, s long")
        .groupBy("i", "j")
        .agg(F.sum(F.col("s").cast(dec)).alias("s"))  # exact, unbounded corpus
        .localCheckpoint(eager=False)  # n row + sums + gramian all read from it
    )
    n_row = tot.filter((F.col("i") == 0) & (F.col("j") == 0)).select(
        F.col("s").alias("__n")
    )
    sums = tot.filter((F.col("i") > 0) & (F.col("j") == 0)).select(
        F.col("i").alias("__d"), F.col("s").alias("__sum")
    )
    gram = tot.filter(F.col("j") > 0)
    num = F.col("s") * F.col("__n") - F.col("__si") * F.col("__sj")
    den = (
        F.col("__n")
        * (F.col("__n") - F.lit(1).cast(dec))
        * F.lit(COV_SCALE * COV_SCALE).cast(dec)
    )
    return (
        gram.crossJoin(F.broadcast(n_row))
        .join(F.broadcast(sums).withColumnRenamed("__d", "i").withColumnRenamed("__sum", "__si"), "i")
        .join(F.broadcast(sums).withColumnRenamed("__d", "j").withColumnRenamed("__sum", "__sj"), "j")
        .withColumn("__num", num)
        .withColumn("__den", den)
        .select(
            "i",
            "j",
            (
                F.when(F.col("__num") < 0, F.lit(-1.0)).otherwise(F.lit(1.0))
                * F.expr(
                    "CAST((2 * abs(__num) * 1000000 + __den) div (2 * __den)"
                    " AS DOUBLE)"
                )
                / F.lit(1000000.0)
            ).alias("cov"),
        )
    )


def ivf_pq_topk(
    embeddings: DataFrame,
    centroids: DataFrame,
    codebook: DataFrame | tuple,
    k: int = 5,
    m: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_filter: F.Column | None = None,
) -> DataFrame:
    """IVF+PQ two-stage ANN — the FAISS ``IVF,PQ`` production shape that
    completes the family (flat / LSH / multi-probe / IVF / int8 / PQ /
    recall): an inverted-file coarse quantizer routes every vector to a
    cell (`ivf_assign_cells` — broadcast centroid fold, zero corpus
    shuffle), and within the probed cell candidates are scored by PQ
    asymmetric distance over their CODES (`pq_topk`'s exact scaled-BIGINT
    ADC) — so the billion-vector regime touches neither raw floats nor
    out-of-cell candidates.

    Scale shape: the persisted index is (id, cell, codes) — m bytes-ish
    per vector plus the cell id; the candidate join is an equi-join on
    the cell (shuffle-partitionable, AQE-skew-splittable), never |Q|·|N|;
    the ADC fold is exact integer table lookups, so rank order is engine-
    and partitioning-independent. ``query_filter`` marks the query rows
    (queries ⊆ corpus, the sim4 fast path): cell assignment and PQ
    encoding run ONCE over the corpus and the query side is a filter
    over the materialized index. Raising recall = probing more cells
    (the standard IVF knob; nprobe=1 here, matching sim4).

    Returns (query_id, neighbor_id, approx_l2sq, rank ≤ k), ranked
    ascending on (exact integer distance, neighbor_id)."""
    from pyspark.sql import Window

    if query_filter is None:
        raise ValueError(
            "ivf_pq_topk currently implements the queries-subset-of-corpus "
            "probe (pass query_filter); the external-query form assigns "
            "the query batch with the same centroid array"
        )
    if isinstance(codebook, tuple):
        cbf_vals, n_cb = list(codebook[0]), int(codebook[1])
    else:
        cb_row = pq_codebook_flat(codebook, m, dim, id_col, vec_col).first()
        cbf_vals, n_cb = list(cb_row["__cbf"]), int(cb_row["__ncb"])
    if n_cb == 0:
        raise ValueError("ivf_pq_topk: codebook is empty")
    sub = dim // m

    if n_cb * dim <= PQ_LITERAL_MAX_DOUBLES:
        lit_sql = (
            "array("
            + ",".join(
                "array(" + ",".join("%.17e" % x for x in s) + ")"
                for s in cbf_vals
            )
            + ")"
        )

        def _with_cb(df: DataFrame) -> DataFrame:
            return df.withColumn("__cbf", F.expr(lit_sql))

    else:
        cb_df = embeddings.sparkSession.createDataFrame(
            [(cbf_vals,)], "__cbf array<array<double>>"
        )

        def _with_cb(df: DataFrame) -> DataFrame:
            return df.crossJoin(F.broadcast(cb_df))

    # ONE pass over the corpus: cell assignment + PQ encoding + the query
    # flag, materialized — this IS the persisted IVF-PQ index; the query
    # side filters it instead of re-quantizing.
    assigned = ivf_assign_cells(
        spread(embeddings).select(
            F.col(id_col).alias("__id"),
            F.col(vec_col).alias("__vec"),
            query_filter.alias("__is_q"),
        ),
        id_col="__id",
        vec_col="__vec",
        cent_arr=build_centroid_array(centroids, id_col, vec_col),
    )
    index = _with_cb(assigned).select(
        "__id",
        "cell",
        "__is_q",
        "__vec",
        _pq_codes_expr("__vec", m, sub, n_cb).alias("__codes"),
    ).localCheckpoint()
    corpus = index.select(
        F.col("__id").alias("neighbor_id"), "cell", "__codes"
    )
    qtab = _with_cb(index.filter(F.col("__is_q"))).select(
        F.col("__id").alias("query_id"),
        "cell",
        _pq_dq_expr("__vec", m, sub, n_cb).alias("__dq"),
    )
    adc = (
        corpus.join(F.broadcast(qtab), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.expr(
                f"aggregate(sequence(0, {m - 1}), cast(0 AS BIGINT),"
                f" (acc, mi) -> acc + __dq[mi * {n_cb} + __codes[mi]])"
            ).alias("__ds"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("__ds"), F.col("neighbor_id"))
    return (
        adc.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.col("__ds") / F.lit(float(PQ_SCALE)), 6).alias("approx_l2sq"),
            "rank",
        )
    )


def semdedup_prune(
    emb: DataFrame,
    n_cells: int = 16,
    tau: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540) cluster-then-prune:
    assign embeddings to cells (deterministic centroids: the ``n_cells``
    lowest ids), then within each cell drop a vector iff some same-cell
    vector with strictly lower keep-priority — (centroid_sim 6dp, id)
    ascending — has pairwise cosine > tau with it. Keeping the LOWEST-
    centroid-similarity member of each duplicate neighborhood is the
    paper's diversity-preserving rule; the priority is a total order, so
    pruning is ONE set-at-a-time semi-join, no iteration.

    Scale shape: cell assignment is the broadcast-centroid HOF argmax
    (:func:`ivf_assign_cells` — zero corpus shuffle); the pairwise stage
    is quadratic ONLY within a cell — the algorithm's design point is
    that ``n_cells`` grows with the corpus (n / expected-cell-size, 50k
    cells in the paper) so cells stay bounded and the self-join on cell
    parallelizes across them (measured at a derived sf1 with cells
    scaled 10x alongside the vectors — see BASELINE.md). Norms are
    precomputed per row (O(n*d), not O(pairs*d)); the exists-check is a
    left-semi join (each vector emitted once, no distinct shuffle).

    Determinism: pairwise and centroid cosines are rounded 6dp before
    any comparison; both engines' folds run in array order, so the
    doubles are bit-identical cross-engine.

    Edge contracts: centroids are the ``n_cells`` LOWEST ids actually
    present (orderBy+limit — a TakeOrdered reduce, no assumption that
    ids are contiguous from 0; a sparse id space still yields exactly
    min(n_cells, n) centroids). A zero-norm or NULL embedding gets a
    NULL cell from :func:`ivf_assign_cells`; such rows are emitted with
    ``is_kept=true`` and NULL cell/centroid_sim (they belong to no
    neighborhood, so they can neither drop nor be dropped) rather than
    silently disappearing through an inner join."""
    cent = emb.select(id_col, vec_col).orderBy(F.col(id_col)).limit(n_cells)
    assigned = ivf_assign_cells(
        emb, cent, id_col=id_col, vec_col=vec_col,
        cent_id_col=id_col, cent_vec_col=vec_col,
    )
    x = (
        assigned.join(
            F.broadcast(
                cent.select(
                    F.col(id_col).alias("__cid"),
                    F.col(vec_col).alias("cvec"),
                )
            ),
            F.col("cell") == F.col("__cid"),
            "left",
        )
        .select(
            id_col,
            "cell",
            vec_col,
            F.round(cosine(vec_col, "cvec"), 6).alias("centroid_sim"),
            norm(vec_col).alias("__nrm"),
        )
        # x forks three ways (self-join probe, self-join build, final
        # report); without the lazy checkpoint the HOF assignment argmax
        # re-runs per reference (the dd8/txt5 ReuseExchange gap).
        .localCheckpoint(eager=False)
    )
    y = x.select(
        F.col("cell").alias("y_cell"),
        F.col(id_col).alias("y_id"),
        F.col(vec_col).alias("y_vec"),
        F.col("centroid_sim").alias("y_cs"),
        F.col("__nrm").alias("y_nrm"),
    )
    pair_dot = F.expr(
        f"aggregate(zip_with({vec_col}, y_vec, (a, b) -> cast(a AS DOUBLE) * cast(b AS DOUBLE)),"
        " cast(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    pair_cos = F.round(F.try_divide(pair_dot, F.col("__nrm") * F.col("y_nrm")), 6)
    priority_lt = (F.col("y_cs") < F.col("centroid_sim")) | (
        (F.col("y_cs") == F.col("centroid_sim")) & (F.col("y_id") < F.col(id_col))
    )
    dropped = x.join(
        y,
        (F.col("cell") == F.col("y_cell"))
        & priority_lt
        & (pair_cos > F.lit(tau)),
        "left_semi",
    ).select(id_col, F.lit(True).alias("__dropped"))
    return x.join(dropped, id_col, "left").select(
        id_col,
        "cell",
        "centroid_sim",
        F.coalesce(~F.col("__dropped"), F.lit(True)).alias("is_kept"),
    )


def truncated_recall_ablation(
    embeddings: DataFrame,
    n_queries: int,
    dims: tuple[int, ...] = (32, 16),
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Fused embedding-truncation ablation (sim12's plan, VERDICT r10
    task 6): recall@k of brute-force search over the first d dimensions
    against full-dimension search, for every d in ``dims``, in ONE
    corpus pass — the dd12 fusion discipline applied to the similarity
    family. The unfused composition (one `brute_force_topk` per space +
    one `recall_at_k` join per d) streamed the corpus |dims|+1 times and
    planned 10 shuffles; here every (corpus row x query) pair scores all
    spaces at once (an exploded array of per-space structs — each dot is
    its own left fold over the slice, bit-identical to the per-space
    oracle), ONE window keyed (dim, query_id) takes every space's top-k,
    and recall needs NO joins: group the union of top-k rows by (query,
    neighbor) collecting the spaces that retrieved the pair, then count
    per query the pairs retrieved by both the full space and d. Three
    shuffles total plus the conditional one-file-corpus `spread`, two
    of them on |Q|*k-bounded relations; the corpus is touched exactly
    once and only re-partitioned when a single-file scan would leave
    the scoring fold single-threaded (queries ride a broadcast).

    Matches the unfused composition row-for-row
    (tests/test_round10_ops.py pins it): same 6dp score rounding, same
    (score desc, neighbor_id) tiebreak, same zero-hit queries kept via
    the full space's guaranteed top-k rows.
    """
    from pyspark.sql import Window

    # 0 labels the full space internally (never a real truncation width)
    spaces: list[tuple[int, int | None]] = [(0, None)] + [(d, d) for d in dims]

    def side(df: DataFrame, role: str) -> DataFrame:
        cols = [F.col(id_col).alias(f"{role}_id"), F.col(vec_col).alias(f"{role}_vec")]
        for lbl, d in spaces:
            arr = (
                f"{role}_vec" if d is None
                else f"slice({role}_vec, 1, {d})"
            )
            cols.append(F.expr(_NORM.format(a=arr)).alias(f"{role}_n{lbl}"))
        return df.select(*cols)

    q = side(embeddings.filter(F.col(id_col) < n_queries), "q")
    # same one-file-corpus guard as brute_force_topk: the fused
    # three-space scoring is the hottest projection in the family
    c = side(spread(embeddings), "c")

    def space_struct(lbl: int, d: int | None):
        qa = "q_vec" if d is None else f"slice(q_vec, 1, {d})"
        ca = "c_vec" if d is None else f"slice(c_vec, 1, {d})"
        dot = F.expr(_DOT.format(a=qa, b=ca))
        return F.struct(
            F.lit(lbl).alias("dim"),
            F.round(
                F.try_divide(dot, F.col(f"q_n{lbl}") * F.col(f"c_n{lbl}")), 6
            ).alias("cos_sim"),
        )

    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("q_id") != F.col("c_id"))
        .select(
            F.col("q_id").alias("query_id"),
            F.col("c_id").alias("neighbor_id"),
            F.explode(
                F.array(*[space_struct(lbl, d) for lbl, d in spaces])
            ).alias("s"),
        )
        .select("query_id", "neighbor_id", "s.dim", "s.cos_sim")
        .filter(F.col("cos_sim").isNotNull())
    )
    w = Window.partitionBy("dim", "query_id").orderBy(
        F.col("cos_sim").desc(), F.col("neighbor_id")
    )
    topk = (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )
    pairsets = topk.groupBy("query_id", "neighbor_id").agg(
        F.collect_set("dim").alias("ds")
    )
    hit_cols = [
        F.sum(
            F.when(
                F.array_contains("ds", 0) & F.array_contains("ds", d), 1
            ).otherwise(0)
        ).cast("long").alias(f"__h{d}")
        for d in dims
    ]
    per_query = (
        pairsets.groupBy("query_id")
        .agg(
            *hit_cols,
            # recall_at_k's universe is queries present in the EXACT
            # (full-space) top-k — a query whose full-dim cosine is NULL
            # for every pair (NULL-element vectors) must emit NO rows
            # even if a truncated slice scored (r11 review edge)
            F.max(F.array_contains("ds", 0).cast("int")).alias("__in_full"),
        )
        .filter(F.col("__in_full") == 1)
    )
    return (
        per_query.select(
            "query_id",
            F.explode(
                F.array(*[
                    F.struct(
                        F.lit(d).alias("dim"), F.col(f"__h{d}").alias("n_hits")
                    )
                    for d in dims
                ])
            ).alias("r"),
        )
        .select(
            "r.dim",
            "query_id",
            "r.n_hits",
            F.round(F.col("r.n_hits") / F.lit(float(k)), 6).alias("recall"),
        )
    )
