"""Property tests (SURVEY.md §5.5): null-guard behavior of the scalar
library — for every output transform, NULL in ⇒ NULL out unless a default
is declared (P8/M9 are the explicit exceptions), plus invariants of the
bucketing and conversion scalars over arbitrary inputs.
"""

from __future__ import annotations

import datetime as dt
from functools import reduce

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from com_danliris_service_etl_spark.functions import (
    bucket_days_month,
    bucket_days_week,
    day_diff,
    nan_guard,
    on_time_status,
    quote_sanitize,
    truncate,
    uom_to_meter,
)
from com_danliris_service_etl_spark.jobs._helpers import nz_num, nz_str

SETTINGS = settings(
    max_examples=20,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_text = st.one_of(st.none(), st.text(max_size=30))
_num = st.one_of(
    st.none(), st.floats(allow_nan=False, allow_infinity=False, width=32)
)


def _eval(spark, rows, schema, col):
    return [r["out"] for r in spark.createDataFrame(rows, schema).select(col.alias("out")).collect()]


@SETTINGS
@given(values=st.lists(_text, min_size=1, max_size=8))
def test_nz_str_null_guard(spark, values):
    """M10/P7: NULL or '' in ⇒ NULL out; otherwise the sanitized string."""
    out = _eval(spark, [(v,) for v in values], "v string", nz_str("v"))
    for v, o in zip(values, out):
        if v is None or v == "":
            assert o is None
        else:
            assert o == v.replace("'", '"')


@SETTINGS
@given(values=st.lists(_num, min_size=1, max_size=8))
def test_nz_num_falsy_zero(spark, values):
    """P8: with a declared default, NULL and 0 both collapse to it; without,
    they collapse to NULL — never any other value change."""
    rows = [(float(v) if v is not None else None,) for v in values]
    strict = _eval(spark, rows, "v double", nz_num("v"))
    defaulted = _eval(spark, rows, "v double", nz_num("v", default=0))
    for v, s, d in zip(values, strict, defaulted):
        if v is None or v == 0:
            assert s is None and d == 0
        else:
            assert s == pytest.approx(v) and d == pytest.approx(v)


@SETTINGS
@given(days=st.lists(st.one_of(st.none(), st.integers(-400, 400)), min_size=1, max_size=8))
def test_bucket_total_and_null_preserving(spark, days):
    """M4/M5: every non-null day count lands in exactly one bucket; NULL
    propagates. Week/month boundaries agree with the reference CASEs."""
    rows = [(d,) for d in days]
    week = _eval(spark, rows, "v int", bucket_days_week(F.col("v")))
    month = _eval(spark, rows, "v int", bucket_days_month(F.col("v")))
    for d, w, m in zip(days, week, month):
        if d is None:
            assert w is None and m is None
            continue
        assert w in {"0-7 hari", "8-14 hari", "15-30 hari", ">30 hari"}
        assert m in {"0-30 hari", "31-60 hari", "61-90 hari", ">90 hari"}
        if d <= 7:
            assert w == "0-7 hari"
        if d > 90:
            assert m == ">90 hari"


@SETTINGS
@given(
    qty=st.floats(0, 1e6, allow_nan=False),
    uom=st.sampled_from(["met", "MTR", "pcs", "yard", "YDS", "kg", "roll"]),
)
def test_uom_conversion(spark, qty, uom):
    """M2: yard family × 0.9144; everything else passes through."""
    out = _eval(
        spark, [(qty, uom)], "q double, u string", uom_to_meter(F.col("q"), F.col("u"))
    )[0]
    expected = qty * 0.9144 if uom.lower() in ("yard", "yds") else qty
    assert out == pytest.approx(expected)


@SETTINGS
@given(
    a=st.dates(dt.date(1990, 1, 1), dt.date(2030, 12, 31)),
    b=st.dates(dt.date(1990, 1, 1), dt.date(2030, 12, 31)),
)
def test_day_diff_antisymmetric(spark, a, b):
    """D1: day_diff(b,a) == -day_diff(a,b) and matches the date delta."""
    rows = [(dt.datetime.combine(a, dt.time(5)), dt.datetime.combine(b, dt.time(23)))]
    fwd = _eval(spark, rows, "a timestamp, b timestamp", day_diff(F.col("b"), F.col("a")))[0]
    rev = _eval(spark, rows, "a timestamp, b timestamp", day_diff(F.col("a"), F.col("b")))[0]
    assert fwd == (b - a).days
    assert rev == -fwd
    status = _eval(
        spark, rows, "a timestamp, b timestamp", on_time_status(F.col("b"), F.col("a"))
    )[0]
    assert status == ("Tepat Waktu" if fwd <= 0 else "Tidak Tepat Waktu")


@SETTINGS
@given(s=st.text(max_size=40), n=st.integers(1, 10))
def test_truncate_and_sanitize(spark, s, n):
    """T1/T2: truncation bounds length; sanitization leaves no single quotes."""
    out = _eval(
        spark, [(s,)], "v string", quote_sanitize(truncate(F.col("v"), n))
    )[0]
    assert out is not None and len(out) <= n and "'" not in out


@SETTINGS
@given(v=st.one_of(st.none(), st.floats(width=32, allow_infinity=False)))
def test_nan_guard_total(spark, v):
    """M9: NaN/NULL → 0; finite values unchanged."""
    out = _eval(spark, [(v,)], "v double", nan_guard(F.col("v")))[0]
    if v is None or (v != v):
        assert out == 0.0
    else:
        assert out == pytest.approx(v)


@SETTINGS
@given(d=st.dates(dt.date(1600, 1, 1), dt.date(2030, 12, 28)))
def test_clamp_min_date_properties(spark, d):
    """D6: dates >= 1753-01-01 pass through untouched; older dates keep
    month/day AND time-of-day but take the current year (setFullYear
    semantics); Feb 29 in a non-leap target year normalizes to Mar 1."""
    import calendar

    from com_danliris_service_etl_spark.functions.dates import clamp_min_date

    ts = dt.datetime.combine(d, dt.time(18, 30, 15))
    out = _eval(spark, [(ts,)], "v timestamp", clamp_min_date(F.col("v")))[0]
    if d >= dt.date(1753, 1, 1):
        assert out == ts
    else:
        year = dt.date.today().year
        if d.month == 2 and d.day == 29 and not calendar.isleap(year):
            expected = dt.date(year, 3, 1)  # JS Date overflow normalization
        else:
            expected = dt.date(year, d.month, d.day)
        assert out.date() == expected
        assert (out.hour, out.minute, out.second) == (18, 30, 15)  # tod preserved


@SETTINGS
@given(
    yy=st.integers(0, 99),
    md=st.dates(dt.date(2017, 1, 1), dt.date(2017, 12, 28)),
)
def test_repair_year_typos(spark, yy, md):
    """D7: a leading 00-century year on a formatted date gets the intended
    century; proper years are untouched."""
    from com_danliris_service_etl_spark.functions.dates import repair_year_typos

    broken = f"00{yy:02d}-{md.month:02d}-{md.day:02d}"
    fixed = _eval(spark, [(broken,)], "v string", repair_year_typos(F.col("v")))[0]
    assert fixed == f"20{yy:02d}-{md.month:02d}-{md.day:02d}"
    proper = f"20{yy:02d}-{md.month:02d}-{md.day:02d}"
    assert _eval(spark, [(proper,)], "v string", repair_year_typos(F.col("v")))[0] == proper


# ---------------------------------------------------------------------------
# Round-4 session-2 operator properties
# ---------------------------------------------------------------------------

_cdc_ops = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=4),          # key
        st.sampled_from(["I", "U", "D"]),               # op
        st.integers(min_value=0, max_value=100),         # value payload
    ),
    min_size=1,
    max_size=12,
)


@SETTINGS
@given(ops=_cdc_ops)
def test_cdc_apply_matches_sequential_model(spark, ops):
    """Model-based: cdc_apply(log) must equal replaying the log
    sequentially key-by-key in plain Python (latest op wins; delete
    removes the key)."""
    from com_danliris_service_etl_spark.operators.scd import cdc_apply

    rows = [(k, op, seq + 1, float(v)) for seq, (k, op, v) in enumerate(ops)]
    model: dict[int, tuple[float, int]] = {}
    for k, op, seq, v in rows:
        if op == "D":
            model.pop(k, None)
        else:
            model[k] = (v, seq)
    # the model's "latest survives" uses the full log; cdc_apply keeps the
    # max-seq row per key then drops deletes — equal ONLY when the latest
    # op per key decides, which is the operator's contract
    latest: dict[int, tuple[str, float, int]] = {}
    for k, op, seq, v in rows:
        if k not in latest or seq > latest[k][2]:
            latest[k] = (op, v, seq)
    expected = {k: (v, seq) for k, (op, v, seq) in latest.items() if op != "D"}

    log = spark.createDataFrame(rows, "k long, op string, seq long, v double")
    out = {r.k: (r.v, r.seq) for r in cdc_apply(log, ["k"], "seq").collect()}
    assert out == expected


@SETTINGS
@given(
    texts=st.lists(
        st.text(alphabet="ab ", min_size=3, max_size=20), min_size=2, max_size=6
    )
)
def test_exact_jaccard_bounds(spark, texts):
    """inter ≤ min(|Sa|,|Sb|), union ≥ max(|Sa|,|Sb|), J ∈ [0,1] for every
    candidate pair over arbitrary short texts."""
    from com_danliris_service_etl_spark.operators.dedup import exact_jaccard_verify

    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    # all i<j pairs among docs with >= 3 tokens (operator precondition)
    ok = [i for i, t in enumerate(texts) if len(t.split(" ")) >= 3]
    pairs = [(a, b) for i, a in enumerate(ok) for b in ok[i + 1:]]
    if not pairs:
        return
    pdf = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    for r in exact_jaccard_verify(docs, pdf).collect():
        assert 0 <= r.inter <= r.union
        assert 0.0 <= r.exact_jaccard <= 1.0
        assert r.verified == (20 * r.inter >= 19 * r.union)


@SETTINGS
@given(
    lens=st.lists(st.integers(min_value=1, max_value=60), min_size=1, max_size=30),
    n_shards=st.integers(min_value=1, max_value=5),
)
def test_token_balanced_shards_conserves_tokens(spark, lens, n_shards):
    """Sharding is a partition: doc count and token totals are conserved,
    and no shard is emitted empty."""
    from com_danliris_service_etl_spark.operators.packing import (
        token_balanced_shards,
    )

    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * n)) for i, n in enumerate(lens)],
        "doc_id long, text string",
    )
    out = token_balanced_shards(docs, n_shards=n_shards).collect()
    assert sum(r.n_docs for r in out) == len(lens)
    assert sum(r.shard_tokens for r in out) == sum(lens)
    assert all(r.n_docs > 0 for r in out)
    assert len(out) == min(n_shards, len(lens))


@SETTINGS
@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=12),
            st.integers(min_value=1, max_value=12),
        ).filter(lambda p: p[0] != p[1]),
        max_size=8,
    )
)
def test_cluster_safe_split_never_splits_an_edge(spark, edges):
    """llm10's leakage guarantee as an invariant: for ANY edge set, the
    two endpoints of every edge receive the same cluster AND the same
    split — near-duplicates can never straddle train/test."""
    from com_danliris_service_etl_spark.operators.sampling import (
        cluster_safe_split,
    )

    docs = spark.createDataFrame([(i,) for i in range(1, 13)], "doc_id long")
    edf = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in edges] or [(1, 1)],
        "doc_a long, doc_b long",
    ).filter(F.col("doc_a") != F.col("doc_b"))
    rows = cluster_safe_split(docs, edf).collect()
    assert len(rows) == 12  # total AND unique: a fan-out join would dup rows
    out = {r.doc_id: r for r in rows}
    assert set(out) == set(range(1, 13))
    for a, b in edges:
        assert out[a].cluster_id == out[b].cluster_id
        assert out[a].split == out[b].split


@SETTINGS
@given(
    texts=st.lists(
        st.lists(
            st.sampled_from("abcdef"), min_size=0, max_size=12
        ).map(lambda cs: " ".join(cs)),
        min_size=1,
        max_size=6,
    )
)
def test_contamination_passages_bounds_and_self_hit(spark, texts):
    """llm11 invariants: 0 ≤ n_contaminated ≤ n_passages for any corpus;
    and with the corpus ITSELF as the benchmark, every passage that can
    carry a shingle (≥3 tokens) is contaminated — localization can't
    miss a verbatim inclusion."""
    from com_danliris_service_etl_spark.operators.dedup import (
        contamination_passages,
    )

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    rows = contamination_passages(docs, docs, k_pass=4, k_shingle=3).collect()
    assert len(rows) == len(texts)
    for r in rows:
        assert 0 <= r.n_contaminated <= r.n_passages
        toks = texts[r.doc_id].split(" ") if texts[r.doc_id] else []
        # passages with >=3 tokens: all but possibly the tail
        eligible = sum(
            1
            for p in range(r.n_passages)
            if len(toks[p * 4 : p * 4 + 4]) >= 3
        )
        assert r.n_contaminated == eligible


# ---------------------------------------------------------------------------
# join determinism properties: as-of and first-match vs brute-force models
# ---------------------------------------------------------------------------

_t_small = st.integers(min_value=0, max_value=8)
_key = st.integers(min_value=0, max_value=1)


@SETTINGS
@given(
    left=st.lists(st.tuples(_key, _t_small), min_size=1, max_size=6),
    right=st.lists(st.tuples(_key, _t_small, st.integers(0, 9)), min_size=0, max_size=8),
    direction=st.sampled_from(["backward", "forward"]),
    exact=st.booleans(),
)
def test_asof_join_matches_bruteforce_model(spark, left, right, direction, exact):
    """J7 determinism over arbitrary inputs: for every left row the as-of
    pick must equal the brute-force model — nearest right_on in the
    direction (boundary included iff allow_exact_match), ties on equal
    right_on resolved to the HIGHEST tiebreak value (SURVEY §7.4). Runs
    both physical strategies through the same oracle."""
    from com_danliris_service_etl_spark.operators.joins import asof_join

    ldf = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(left)], "id long, k long, lt long"
    )
    rdf = spark.createDataFrame(right, "k long, rt long, val long") if right else (
        spark.createDataFrame([], "k long, rt long, val long")
    )

    def model(k, lt):
        if direction == "backward":
            cands = [(rt, v) for rk, rt, v in right if rk == k and (rt <= lt if exact else rt < lt)]
            if not cands:
                return None
            best_rt = max(rt for rt, _ in cands)
        else:
            cands = [(rt, v) for rk, rt, v in right if rk == k and (rt >= lt if exact else rt > lt)]
            if not cands:
                return None
            best_rt = min(rt for rt, _ in cands)
        return max(v for rt, v in cands if rt == best_rt)

    want = {i: model(k, t) for i, (k, t) in enumerate(left)}
    strategies = [("sort", {}), ("broadcast", {})]
    if direction == "backward":
        # the skew-salted strategy is backward-only; width 1 forces the
        # pure segment-carry path, width 3 mixes within-segment and carry
        strategies += [
            ("segmented", {"segment_width": 1}),
            ("segmented", {"segment_width": 3}),
        ]
    # every strategy's output, tagged, in one Spark action
    outs = [
        asof_join(
            ldf, rdf, "lt", "rt", by=[("k", "k")],
            direction=direction, tiebreak="val",
            allow_exact_match=exact, strategy=strategy, **extra,
        ).select(F.lit(tag).alias("tag"), "id", "val")
        for tag, (strategy, extra) in enumerate(strategies)
    ]
    rows = reduce(DataFrame.unionByName, outs).collect()
    for tag, (strategy, extra) in enumerate(strategies):
        got = {r["id"]: r["val"] for r in rows if r["tag"] == tag}
        assert got == want, (strategy, extra, direction, exact)


@SETTINGS
@given(
    right=st.lists(
        st.tuples(_key, st.integers(0, 5), st.integers(0, 9)),
        min_size=1, max_size=8,
    ),
    descending=st.booleans(),
)
def test_first_match_join_matches_bruteforce_model(spark, right, descending):
    """J6 determinism: under a TOTAL order (ord, v) the kept right row
    must equal the brute-force min/max — on both physical paths (min_by
    fast path for plain columns, window for explicit sort orders)."""
    from com_danliris_service_etl_spark.operators.joins import first_match_join

    keys = sorted({k for k, _, _ in right})
    ldf = spark.createDataFrame([(k,) for k in keys], "k long")
    rdf = spark.createDataFrame(right, "k long, ord long, v long")
    order = (
        [F.col("ord").desc(), F.col("v").desc()]
        if descending
        else [F.col("ord"), F.col("v")]
    )
    pick = max if descending else min
    want = {k: pick((o, v) for rk, o, v in right if rk == k)[1] for k in keys}
    got = {
        r["k"]: r["v"]
        for r in first_match_join(ldf, rdf, on="k", order_by=order).collect()
    }
    assert got == want, (descending,)


@SETTINGS
@given(
    left=st.lists(st.tuples(_key, _t_small), min_size=1, max_size=6),
    right=st.lists(
        st.tuples(_key, _t_small, st.integers(0, 9)), min_size=0, max_size=8
    ),
)
def test_asof_nearest_matches_bruteforce_model(spark, left, right):
    """J12 determinism over arbitrary inputs: the nearest pick must equal
    the brute-force model — smallest |Δt|, exact/backward wins a distance
    tie, and among equal right_on the HIGHEST tiebreak value wins (the
    SURVEY §7.4 determinism rule extended to both directions)."""
    from com_danliris_service_etl_spark.operators.joins import asof_nearest

    ldf = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(left)], "id long, k long, lt long"
    )
    rdf = spark.createDataFrame(right, "k long, rt long, val long") if right else (
        spark.createDataFrame([], "k long, rt long, val long")
    )

    def model(k, lt):
        best = None
        for rk, rt, v in right:
            if rk != k:
                continue
            cand = (abs(lt - rt), 0 if rt <= lt else 1, -v)
            if best is None or cand < best[0]:
                best = (cand, v)
        return best[1] if best else None

    want = {i: model(k, t) for i, (k, t) in enumerate(left)}
    out = asof_nearest(ldf, rdf, "lt", "rt", by=[("k", "k")], tiebreak="val")
    got = {r["id"]: r["val"] for r in out.collect()}
    assert got == want


# ---------------------------------------------------------------------------
# Round-7 session-3 operators: property invariants
# ---------------------------------------------------------------------------


@SETTINGS
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 5)), min_size=1, max_size=25
    )
)
def test_grouped_mode_matches_counter(spark, rows):
    """grouped_mode == Counter argmax with (count desc, value asc) tiebreak
    for arbitrary (group, value) multisets."""
    from collections import Counter

    from com_danliris_service_etl_spark.operators.windows import grouped_mode

    df = spark.createDataFrame(rows, "g long, v long")
    got = {r.g: (r.modal_value, r.cnt) for r in grouped_mode(df, ["g"], "v").collect()}
    want = {}
    by_g: dict[int, Counter] = {}
    for g, v in rows:
        by_g.setdefault(g, Counter())[v] += 1
    for g, c in by_g.items():
        best = min(c.items(), key=lambda kv: (-kv[1], kv[0]))
        want[g] = best
    assert got == want


@SETTINGS
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 2), st.integers(-50, 50), st.integers(1, 9)),
        min_size=1,
        max_size=25,
    )
)
def test_weighted_median_crossing_invariant(spark, rows):
    """For arbitrary integer-weighted multisets: the reported median m
    satisfies 2*W(<= m) >= total AND 2*W(< m) < total — the defining
    bracket of the lower weighted median."""
    from com_danliris_service_etl_spark.operators.quality import weighted_median

    df = spark.createDataFrame(
        [(g, float(v), w) for g, v, w in rows], "g long, v double, w long"
    )
    got = {r.g: r.weighted_median for r in weighted_median(df, ["g"], "v", "w").collect()}
    groups: dict[int, list[tuple[float, int]]] = {}
    for g, v, w in rows:
        groups.setdefault(g, []).append((float(v), w))
    assert set(got) == set(groups)
    for g, pairs in groups.items():
        total = sum(w for _, w in pairs)
        m = got[g]
        le = sum(w for v, w in pairs if v <= m)
        lt = sum(w for v, w in pairs if v < m)
        assert 2 * le >= total and 2 * lt < total


@SETTINGS
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 6), st.integers(0, 9)),
        min_size=1,
        max_size=30,
    )
)
def test_running_distinct_final_equals_distinct_count(spark, rows):
    """The last cumulative value per group equals the group's true
    distinct-entity count, and new_entities sums to it."""
    from com_danliris_service_etl_spark.operators.windows import running_distinct

    df = spark.createDataFrame(rows, "g long, u long, d long")
    out = running_distinct(df, ["g"], "u", "d").collect()
    by_g: dict[int, list] = {}
    for r in out:
        by_g.setdefault(r.g, []).append(r)
    truth: dict[int, set] = {}
    for g, u, _ in rows:
        truth.setdefault(g, set()).add(u)
    for g, rs in by_g.items():
        rs.sort(key=lambda r: r.d)
        assert rs[-1].cum_distinct == len(truth[g])
        assert sum(r.new_entities for r in rs) == len(truth[g])
        cum = 0
        for r in rs:
            cum += r.new_entities
            assert r.cum_distinct == cum


@SETTINGS
@given(
    start=st.dates(dt.date(1975, 1, 6), dt.date(2030, 12, 31)),
    span=st.integers(0, 400),
)
def test_business_days_bounds_and_shift_invariance(spark, start, span):
    """0 <= bd <= span; a whole-week shift of both endpoints never
    changes the count (the closed form has no calendar-position bias)."""
    from com_danliris_service_etl_spark.functions.dates import business_days_between

    end = start + dt.timedelta(days=span)
    s2, e2 = start + dt.timedelta(days=7), end + dt.timedelta(days=7)
    df = spark.createDataFrame(
        [(start.isoformat(), end.isoformat(), s2.isoformat(), e2.isoformat())],
        "s string, e string, s2 string, e2 string",
    ).select(
        business_days_between(F.col("s").cast("date"), F.col("e").cast("date")).alias("bd"),
        business_days_between(F.col("s2").cast("date"), F.col("e2").cast("date")).alias("bd7"),
    )
    r = df.collect()[0]
    assert 0 <= r.bd <= span
    assert r.bd == r.bd7
    # 5-out-of-7 density over whole weeks
    if span % 7 == 0:
        assert r.bd == span // 7 * 5


# ---------------------------------------------------------------------------
# Prefix-filter join: lossless-candidate property on random corpora
# ---------------------------------------------------------------------------

_word = st.sampled_from(["aa", "bb", "cc", "dd", "ee", "ff", "gg", "hh"])
_doc = st.lists(_word, min_size=3, max_size=12).map(lambda ws: " ".join(ws))


@given(texts=st.lists(_doc, min_size=2, max_size=8))
@SETTINGS
def test_prefix_filter_join_equals_brute_force(spark, texts):
    """On arbitrary small-vocabulary corpora (worst case for prefix
    filtering: everything collides), prefix_filter_join must return
    EXACTLY the brute-force Jaccard>=0.6 pair set — the length and
    positional filters may prune candidates, never true pairs."""
    from com_danliris_service_etl_spark.operators.dedup import prefix_filter_join

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        (r.doc_a, r.doc_b): r.exact_jaccard
        for r in prefix_filter_join(docs, thresh_num=3, thresh_den=5).collect()
    }
    # brute force in python
    def shingles(t):
        ws = t.split(" ")
        return {" ".join(ws[i : i + 3]) for i in range(len(ws) - 2)}

    sets = {i: shingles(t) for i, t in enumerate(texts) if len(t.split(" ")) >= 3}
    expect = {}
    ids = sorted(sets)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = ids[x], ids[y]
            inter = len(sets[a] & sets[b])
            union = len(sets[a] | sets[b])
            if union and inter * 5 >= union * 3:
                expect[(a, b)] = round(inter / union, 6)
    assert got == expect


# ---------------------------------------------------------------------------
# Q21 window form: sole-late-supplier semantics on random order books
# ---------------------------------------------------------------------------


@given(
    rows=st.lists(
        st.tuples(
            st.integers(1, 5),   # orderkey
            st.integers(1, 4),   # suppkey
            st.booleans(),       # late?
        ),
        min_size=1,
        max_size=20,
    )
)
@SETTINGS
def test_sole_late_supplier_window_form_matches_model(spark, rows):
    """The (order, supplier)-grain + same-partitioning-window plan must
    reproduce the direct Q21 model: count late ROWS of suppliers that
    are late on a multi-supplier order where no OTHER supplier is late."""
    from pyspark.sql import Window

    df = spark.createDataFrame(
        [(o, s, l) for o, s, l in rows], "ok long, sk long, late boolean"
    )
    per_slot = (
        df.select("ok", "sk", F.col("late").cast("int").alias("l"))
        .groupBy("ok", "sk")
        .agg(F.max("l").alias("sup_late"), F.sum("l").alias("n_late_rows"))
    )
    w = Window.partitionBy("ok")
    got = {
        (r.ok, r.sk): r.n_late_rows
        for r in per_slot.withColumn("ns", F.count(F.lit(1)).over(w))
        .withColumn("nl", F.sum("sup_late").over(w))
        .filter((F.col("sup_late") == 1) & (F.col("ns") >= 2) & (F.col("nl") == 1))
        .collect()
    }
    # python model: per order, the set of suppliers and late suppliers
    from collections import defaultdict

    supps, late_supps, late_rows = (
        defaultdict(set),
        defaultdict(set),
        defaultdict(int),
    )
    for o, s, l in rows:
        supps[o].add(s)
        if l:
            late_supps[o].add(s)
            late_rows[(o, s)] += 1
    expect = {
        (o, s): late_rows[(o, s)]
        for o in supps
        for s in late_supps[o]
        if len(supps[o]) >= 2 and len(late_supps[o]) == 1
    }
    assert got == expect


# ---------------------------------------------------------------------------
# r13: sweep-line overlap aggregates vs brute-force pair enumeration
# ---------------------------------------------------------------------------

_ivl = st.tuples(
    st.integers(0, 2),            # group
    st.integers(-20, 20),         # lo
    st.integers(0, 15),           # length (0 = empty interval)
    st.integers(0, 3),            # identity a
    st.integers(0, 1),            # identity b
)


@SETTINGS
@given(ivs=st.lists(_ivl, min_size=1, max_size=14))
def test_interval_overlap_stats_model(spark, ivs):
    """`interval_overlap_stats` must equal the brute-force model —
    unordered pairs of distinct-identity same-group intervals with
    a.lo < b.hi AND b.lo < a.hi, days = min(hi)−max(lo) — over arbitrary
    interval sets including empty intervals, duplicate identities with
    DIFFERENT spans, and groups with no overlaps (absent from output)."""
    from com_danliris_service_etl_spark.operators.joins import (
        interval_overlap_stats,
    )

    rows = [(g, lo, lo + ln, a, b) for g, lo, ln, a, b in ivs]
    df = spark.createDataFrame(
        rows, "g long, lo long, hi long, ida long, idb long"
    )
    # Both paths: with identity columns (same-identity rows never pair)
    # and tiebreak=() (every row is its own identity — the path the r13
    # ADVICE caught miscounting empty intervals), tagged, in one Spark
    # action.
    paths = (True, False)
    outs = [
        interval_overlap_stats(
            df, "lo", "hi", ["g"], tiebreak=["ida", "idb"] if use_id else (),
        ).select(F.lit(use_id).alias("use_id"), "g", "n_pairs", "overlap_days")
        for use_id in paths
    ]
    out = reduce(DataFrame.unionByName, outs).collect()
    for use_id in paths:
        want: dict = {}
        for i, x in enumerate(rows):
            for y in rows[i + 1:]:
                if x[0] != y[0]:
                    continue
                if use_id and (x[3], x[4]) == (y[3], y[4]):
                    continue
                if x[1] < y[2] and y[1] < x[2]:
                    n, d = want.get(x[0], (0, 0))
                    want[x[0]] = (
                        n + 1, d + min(x[2], y[2]) - max(x[1], y[1])
                    )
        want = {k: v for k, v in want.items() if v[0] > 0}
        got = {r.g: (r.n_pairs, r.overlap_days) for r in out if r.use_id == use_id}
        assert got == want, (use_id, got, want, rows)


_wmrow = st.tuples(
    st.integers(0, 2),                 # group
    st.integers(-30, 30),              # value (duplicates likely)
    st.integers(1, 9),                 # weight
)


@SETTINGS
@given(
    rows=st.lists(_wmrow, min_size=1, max_size=20),
    pad=st.integers(0, 50),
)
def test_weighted_median_twophase_bounds_model(spark, rows, pad):
    """r13 zone-map-bounds path: for arbitrary integer-weighted
    multisets and arbitrarily PADDED global bounds, twophase(bounds=)
    must equal the single-window form — any monotone binning partitions
    the value axis, so grid placement can never move the crossing."""
    from com_danliris_service_etl_spark.operators.quality import (
        weighted_median,
        weighted_median_twophase,
    )

    df = spark.createDataFrame(
        [(g, float(v), w) for g, v, w in rows], "g long, v double, w long"
    )
    want = {
        r.g: r.weighted_median
        for r in weighted_median(df, ["g"], "v", "w").collect()
    }
    vals = [v for _, v, _ in rows]
    b = (float(min(vals) - pad), float(max(vals) + pad))
    got = {
        r.g: r.weighted_median
        for r in weighted_median_twophase(
            df, ["g"], "v", "w", n_buckets=7, bounds=b
        ).collect()
    }
    assert got == want, (b, got, want)
