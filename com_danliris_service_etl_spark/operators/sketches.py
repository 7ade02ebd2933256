"""Count-min sketch over token streams — the mergeable heavy-hitter
structure a 100 TB corpus profile uses where an exact per-token groupBy
would shuffle the full vocabulary.

Complements sk1 (HLL / t-digest accuracy contract, plans/queries_sketches.py)
with the frequency-sketch member of the family. The sketch is a
``depth × width`` grid of counters; build = one map-side-combinable
groupBy of ``(row, bucket)`` — depth·width rows total, independent of
corpus size — and estimates are ``min`` over each token's depth cells.
The one-sided error bound (estimate ≥ exact, ≤ exact + εN) is verified
IN-QUERY the sk1 way: the query emits exact + estimate + the boolean
invariant, and the oracle pins the boolean TRUE, giving a cross-engine
checkable accuracy contract on integer counts (bit-exact everywhere).

Hashing is the repo's shared cross-engine scheme (verify gotchas: md5 is
the ONLY deterministic hash Spark and DuckDB agree on):
``conv(substring(md5(row || ':' || token), 1, 8), 16, 10) % width``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _bucket(row: int, token_col: str, width: int):
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(str(row)), F.lit(":"), F.col(token_col))), 1, 8
        ),
        16,
        10,
    ).cast("long")
    return (h % width).alias(f"__b{row}")


def tokens_of(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace tokens, empty tokens and NULL texts dropped — the same
    contract the text-family operators use (ops/text.py)."""
    return (
        docs.filter(F.col(text_col).isNotNull())
        .select(F.explode(F.split(F.col(text_col), " ")).alias("token"))
        .filter(F.col("token") != "")
    )


def countmin_sketch(
    tokens: DataFrame,
    token_col: str = "token",
    width: int = 256,
    depth: int = 2,
    counts_col: str | None = None,
) -> DataFrame:
    """Build the sketch: ``(row, bucket, cnt)`` — depth·width rows max.

    One wide projection computes all depth buckets per token, then a
    single explode + groupBy with map-side partial aggregation; the
    shuffle carries at most depth·width distinct keys per map task.

    ``counts_col``: build from PRE-AGGREGATED ``(token, count)`` rows
    (sum of counts per cell) instead of a raw token stream — the rollup
    form. Cell sums are identical by associativity, but when per-token
    counts already exist (a tf relation, a daily rollup) the cell hash
    runs over the vocabulary, not the corpus — measured 30%+ faster on
    the sk3 registry query, which needs the exact counts anyway."""
    weight = F.col(counts_col) if counts_col else F.lit(1)
    cells = tokens.select(
        weight.alias("__w"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("row"), _bucket(r, token_col, width).alias("bucket")
                    )
                    for r in range(depth)
                ]
            )
        ).alias("cell"),
    )
    return cells.groupBy(
        F.col("cell.row").alias("row"), F.col("cell.bucket").alias("bucket")
    ).agg(F.sum("__w").alias("cnt"))


def countmin_estimate(
    candidates: DataFrame,
    sketch: DataFrame,
    token_col: str = "token",
    width: int = 256,
    depth: int = 2,
) -> DataFrame:
    """Point-estimate each candidate token: min over its depth cells.

    The sketch is bounded (depth·width rows) so its side of the join is
    always broadcast — candidate estimation never shuffles the corpus.

    The join is LEFT with absent cells coalesced to 0: the sketch table
    is sparse (cells no token hashed to are simply missing), and a
    candidate OUTSIDE the sketched corpus hits such empty cells — an
    inner join would silently drop them from the min, overestimating (or
    losing) unseen tokens and breaking the one-sided bound, whose
    correct estimate for an absent token with any empty cell is 0."""
    cand_cells = candidates.select(
        token_col,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("row"), _bucket(r, token_col, width).alias("bucket")
                    )
                    for r in range(depth)
                ]
            )
        ).alias("cell"),
    ).select(token_col, F.col("cell.row").alias("row"), F.col("cell.bucket").alias("bucket"))
    return (
        cand_cells.join(F.broadcast(sketch), ["row", "bucket"], "left")
        .groupBy(token_col)
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est_cnt"))
    )


def bitmap_distinct_state(
    df: DataFrame, key_col: str, group_cols: list[str]
) -> DataFrame:
    """EXACT mergeable distinct-count state: one binary roaring-style
    bitmap per ``(*group_cols, __bm_bucket)`` via Spark's native
    ``bitmap_construct_agg`` (each bucket covers a fixed 32768-value
    range of the key, so state per group is bounded by the key range,
    never by the row count).

    This is the Snowflake/Kylin bitmap-rollup pattern: the state frame
    is a PARTIAL AGGREGATE that composes — union bitmaps across days /
    increments / partitions with :func:`bitmap_rollup_counts` and the
    result is the exact distinct count at any coarser grain, without
    ever re-scanning raw rows. At 100 TB that turns every
    "distinct users per X" dashboard into a merge of kilobyte bitmaps.

    ``key_col`` must be integral (ids). NULL keys are dropped (COUNT
    (DISTINCT) semantics)."""
    key = F.col(key_col).cast("long")
    return (
        df.filter(key.isNotNull())
        .groupBy(*group_cols, F.bitmap_bucket_number(key).alias("__bm_bucket"))
        .agg(F.bitmap_construct_agg(F.bitmap_bit_position(key)).alias("__bm"))
    )


def bitmap_rollup_counts(state: DataFrame, group_cols: list[str]) -> DataFrame:
    """Merge bitmap state up to a coarser grain and finalize to exact
    distinct counts: per-bucket ``bitmap_or_agg`` (bitwise union — the
    associative/commutative merge), then ``bitmap_count`` summed across
    buckets. Both aggregations partial-combine map-side; nothing beyond
    the kilobyte bitmaps ever shuffles."""
    merged = state.groupBy(*group_cols, "__bm_bucket").agg(
        F.bitmap_or_agg("__bm").alias("__bm")
    )
    return merged.groupBy(*group_cols).agg(
        F.sum(F.bitmap_count("__bm")).alias("distinct_keys")
    )


def hll_rollup(
    df: DataFrame,
    key_col: str,
    fine_cols: list[str],
    coarse_cols: list[str],
    lg_k: int = 12,
) -> DataFrame:
    """Approximate mergeable distinct counts: DataSketches HLL state at
    the fine grain (``hll_sketch_agg``), merged to the coarse grain with
    ``hll_union_agg`` — the fixed-size (2^lg_k registers) cousin of
    :func:`bitmap_distinct_state` for keys too wide/ragged for exact
    bitmaps (strings, 64-bit hashes). Returns
    ``(*coarse_cols, hll_estimate)``.

    Estimates are engine-internal (sk1 pattern — no cross-engine hash
    agreement exists), so registry queries emit the exact count plus an
    in-query accuracy boolean and pin the boolean in the oracle."""
    fine = df.groupBy(*fine_cols).agg(
        F.hll_sketch_agg(F.col(key_col), F.lit(lg_k)).alias("__hll")
    )
    return fine.groupBy(*coarse_cols).agg(
        F.hll_sketch_estimate(F.hll_union_agg("__hll")).alias("hll_estimate")
    )


def parquet_column_bounds(
    spark, path: str, col: str
) -> tuple[float, float] | None:
    """Exact global (min, max) of a numeric parquet column from row-group
    STATISTICS — the zone-map read every columnar engine uses for a bare
    MIN/MAX (DuckDB's oracle side gets it for free; without it Spark pays
    a full column scan just to plan sk6's binning grid). Footer reads are
    distributed one-task-per-file with a bounded collect of per-file
    scalars, so at 100 TB the cost is |files| footer fetches, not |rows|.

    Returns None (caller falls back to the scan aggregate) when any row
    group lacks min/max stats — e.g. NaN-poisoned double columns, for
    which parquet writers legitimately omit statistics."""
    import glob as _glob
    import os

    if os.path.isdir(path):
        files = sorted(_glob.glob(os.path.join(path, "**", "*.parquet"),
                                  recursive=True))
    elif os.path.exists(path):
        files = [path]
    else:
        return None  # non-local filesystem: use the scan aggregate

    def _file_bounds(f: str) -> tuple[float, float] | None:
        import pyarrow.parquet as pq

        md = pq.ParquetFile(f)
        ci = md.schema_arrow.get_field_index(col)
        if ci < 0:  # missing/misnamed column: -1 would index the LAST
            return None  # column's stats — take the documented scan fallback
        lo = hi = None
        for i in range(md.metadata.num_row_groups):
            st = md.metadata.row_group(i).column(ci).statistics
            if st is None or not st.has_min_max:
                return None
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        return None if lo is None else (float(lo), float(hi))

    if len(files) <= 4:  # driver-side: cheaper than a job for few footers
        per_file = [_file_bounds(f) for f in files]
    else:
        per_file = (
            spark.sparkContext.parallelize(files, min(len(files), 256))
            .map(_file_bounds)
            .collect()
        )
    if not per_file or any(b is None for b in per_file):
        return None
    return (min(b[0] for b in per_file), max(b[1] for b in per_file))


def binned_quantile_state(
    df: DataFrame,
    value_col: str,
    fine_cols: list[str],
    n_bins: int = 256,
    bounds: tuple[float, float] | None = None,
) -> DataFrame:
    """MERGEABLE quantile state: a fixed-width histogram (``n_bins``
    equal bins over the GLOBAL value range) counted per fine group —
    the quantile analogue of :func:`bitmap_distinct_state` /
    :func:`hll_rollup`. Spark's t-digest (``approx_percentile``) can
    estimate at one grain but its state is not exposed for cross-grain
    SQL merging; binned counts ARE trivially mergeable (sum), so a
    per-(day, segment) state table rolls up to quantiles at ANY coarser
    grain without re-scanning raw rows, with error bounded by the bin
    width — the resolution/state-size trade a 100 TB deployment
    pre-aggregates once and reuses everywhere.

    Two map-side-combinable passes: a 1-row global min/max (broadcast
    back — bounded scalar, allowlisted single-partition), then one
    groupBy on ``(*fine_cols, bin)``. State per group ≤ ``n_bins`` rows
    regardless of row count. NULL values are dropped (percentile
    semantics). Returns ``(*fine_cols, __qbin, __qcnt, __qlo, __qw)``
    with the global lo/width carried as constant columns so the rollup
    needs no side-channel.

    Pass ``bounds=(lo, hi)`` (e.g. from :func:`parquet_column_bounds`'
    zone-map read) to SKIP the bounds scan entirely — the width is then
    derived driver-side with the identical IEEE chain
    ``max((hi-lo)/n_bins, 1e-12)``, so estimates are bit-identical to
    the scanned form."""
    v = F.col(value_col).cast("double")
    if bounds is not None:
        lo, hi = bounds
        w = max((hi - lo) / float(n_bins), 1e-12)
        # F.lit(python float) is an exact DoubleType literal (the
        # DECIMAL-typing hazard only applies to SQL-string literals);
        # known bounds need no broadcast stage at all — the constants
        # fold straight into the scan projection
        binned = df.filter(v.isNotNull()).withColumns(
            {"__qlo": F.lit(lo), "__qw": F.lit(w)}
        )
    else:
        bounds_df = df.agg(
            F.min(v).alias("__qlo"), F.max(v).alias("__qhi")
        ).select(
            "__qlo",
            # degenerate all-equal range still needs a nonzero width
            F.greatest(
                (F.col("__qhi") - F.col("__qlo")) / F.lit(float(n_bins)),
                F.lit(1e-12),
            ).alias("__qw"),
        )
        binned = df.filter(v.isNotNull()).crossJoin(F.broadcast(bounds_df))
    bin_ix = F.least(
        F.floor((v - F.col("__qlo")) / F.col("__qw")),
        F.lit(n_bins - 1),
    ).cast("int")
    return (
        binned.groupBy(*fine_cols, bin_ix.alias("__qbin"))
        .agg(
            F.count(F.lit(1)).alias("__qcnt"),
            # constants per run — first() keeps them through the agg
            F.first("__qlo").alias("__qlo"),
            F.first("__qw").alias("__qw"),
        )
    )


def binned_quantile_rollup(
    state: DataFrame,
    coarse_cols: list[str],
    qs: list[float],
) -> DataFrame:
    """Merge binned-quantile state to a coarser grain and extract
    quantile ESTIMATES: sum counts per ``(*coarse_cols, bin)``, one
    bounded window cumsum over ≤ n_bins rows per group, then for each
    ``q`` the upper edge of the first bin whose cumulative count
    reaches ``q·n``. Guarantee (the ORDER-STATISTIC bracket): the
    k-th smallest value, k = ceil(q·n), lies in ``[est − width, est]``
    — verified in-query by sk6 with two conditional counts. NOTE the
    bound is NOT against interpolated quantiles (percentile_cont):
    interpolation at a data GAP wanders across empty bins, so its
    distance from est is bounded by the gap, not the bin width (the
    error-bound unit test constructs exactly that bimodal case).
    Returns ``(*coarse_cols, n, q_<q>…)``.

    The window sorts ≤ n_bins rows per coarse key — bounded state, not
    fact-scale; everything upstream partial-combines map-side."""
    merged = state.groupBy(*coarse_cols, "__qbin").agg(
        F.sum("__qcnt").alias("__qcnt"),
        F.first("__qlo").alias("__qlo"),
        F.first("__qw").alias("__qw"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy(*coarse_cols).orderBy("__qbin")
    wall = Window.partitionBy(*coarse_cols)
    cum = merged.select(
        *coarse_cols,
        "__qbin",
        "__qlo",
        "__qw",
        F.sum("__qcnt").over(w).alias("__qcum"),
        F.sum("__qcnt").over(wall).alias("__qn"),
    )
    est = F.col("__qlo") + (F.col("__qbin") + 1) * F.col("__qw")
    # carry the bin width out so bracket-verification consumers (sk6)
    # need no second raw-rows bounds scan — the state already knows it
    aggs = [F.max("__qn").alias("n"), F.first("__qw").alias("__qw")]
    for q in qs:
        name = f"q_{str(q).replace('.', '_')}"
        aggs.append(
            F.min(
                F.when(
                    F.col("__qcum") >= F.col("__qn").cast("double") * F.lit(q),
                    est,
                )
            ).alias(name)
        )
    return cum.groupBy(*coarse_cols).agg(*aggs)
