"""Round-9b operators: semantic properties beyond the oracle parity test —
a hand-built clickstream for last-touch attribution (lookback boundary,
equal-timestamp tiebreak, unattributed fallbacks), an exact hand-computed
TV distance for the source-divergence panel, and a Python recompute of the
per-source order-statistic quality gate."""

from __future__ import annotations

from fractions import Fraction

from pyspark.sql import functions as F

from com_danliris_service_etl_spark.plans.registry import load_all
from tests.conftest import SF_DIR

DAY_US = 86400 * 1_000_000


def _q(name):
    return load_all()[name][0]


# ---------------------------------------------------------------------------
# g15 — last-touch attribution
# ---------------------------------------------------------------------------


def _attribution_on(spark, events):
    """Run g15's core (asof + lookback + rollup) on a hand-built stream."""
    from com_danliris_service_etl_spark.operators.joins import asof_join

    ev = spark.createDataFrame(
        events, "event_id long, user_id long, ts_us long, event_type string, value double"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts_us", "value"
    )
    touches = ev.filter(F.col("event_type") != "purchase").select(
        "user_id",
        F.col("ts_us").alias("touch_ts_us"),
        F.col("event_type").alias("touch_channel"),
        F.col("event_id").alias("touch_event_id"),
    )
    matched = asof_join(
        purchases, touches,
        left_on="ts_us", right_on="touch_ts_us",
        by=[("user_id", "user_id")],
        direction="backward", tiebreak="touch_event_id",
        allow_exact_match=True, strategy="sort",
    )
    in_window = F.col("touch_channel").isNotNull() & (
        F.col("touch_ts_us") >= F.col("ts_us") - F.lit(7 * DAY_US)
    )
    return {
        r.event_id: r.channel
        for r in matched.select(
            "event_id",
            F.when(in_window, F.col("touch_channel"))
            .otherwise("unattributed")
            .alias("channel"),
        ).collect()
    }


def test_g15_attribution_semantics_hand_fixture(spark):
    t0 = 1_600_000_000 * 1_000_000
    events = [
        # user 1: click then view then purchase -> view (latest touch)
        (1, 1, t0 + 1, "click", 0.0),
        (2, 1, t0 + 2, "view", 0.0),
        (3, 1, t0 + 3, "purchase", 10.0),
        # user 2: only touch is 8 days before purchase -> unattributed
        (4, 2, t0, "click", 0.0),
        (5, 2, t0 + 8 * DAY_US, "purchase", 20.0),
        # user 3: touch exactly at the 7-day boundary -> attributed
        (6, 3, t0, "signup", 0.0),
        (7, 3, t0 + 7 * DAY_US, "purchase", 30.0),
        # user 4: two touches at the SAME ts -> higher event_id (error) wins
        (8, 4, t0 + 5, "view", 0.0),
        (9, 4, t0 + 5, "error", 0.0),
        (10, 4, t0 + 6, "purchase", 40.0),
        # user 5: touch at exactly the purchase ts counts (<=)
        (11, 5, t0 + 9, "click", 0.0),
        (12, 5, t0 + 9, "purchase", 50.0),
        # user 6: no touches at all -> unattributed
        (13, 6, t0 + 1, "purchase", 60.0),
        # user 7: later touch AFTER the purchase must not be credited
        (14, 7, t0 + 10, "purchase", 70.0),
        (15, 7, t0 + 11, "click", 0.0),
    ]
    got = _attribution_on(spark, events)
    assert got == {
        3: "view",
        5: "unattributed",
        7: "signup",
        10: "error",
        12: "click",
        13: "unattributed",
        14: "unattributed",
    }


def test_g15_conversions_total_equals_purchase_count(spark):
    out = _q("g15_last_touch_attribution")(spark, SF_DIR).collect()
    n_purchases = (
        spark.read.parquet(f"{SF_DIR}/events.parquet")
        .filter(F.col("event_type") == "purchase")
        .count()
    )
    assert sum(r.conversions for r in out) == n_purchases
    assert all(r.channel != "purchase" for r in out)


# ---------------------------------------------------------------------------
# txt18 — exact TV distance
# ---------------------------------------------------------------------------


def test_txt18_matches_exact_fraction_arithmetic(spark):
    docs = spark.createDataFrame(
        [
            ("d1", "a a b", "en", "s1", 5),
            ("d2", "b c", "en", "s1", 3),
            ("d3", "c c c d", "en", "s2", 7),
        ],
        "doc_id string, text string, lang string, source string, n_chars int",
    )
    from com_danliris_service_etl_spark.plans import queries_text as r9b
    from com_danliris_service_etl_spark.plans.registry import _TABLE_CACHE

    # run the registered query against an injected in-memory 'documents'
    import com_danliris_service_etl_spark.plans.registry as reg

    orig = reg._t
    try:
        reg._t = lambda s, d, t: docs if t == "documents" else orig(s, d, t)
        r9b_t = r9b._t
        r9b._t = reg._t
        out = {
            r.source: (r.tot_s, r.tv_distance)
            for r in r9b.txt18_source_divergence(spark, SF_DIR).collect()
        }
    finally:
        reg._t = orig
        r9b._t = r9b_t
        _TABLE_CACHE.clear()
    # corpus: a:2 b:2 c:4 d:1 (tot 9); s1: a:2 b:2 c:1 (tot 5); s2: c:3 d:1 (tot 4)
    def tv(src_counts, tot_s):
        corpus = {"a": 2, "b": 2, "c": 4, "d": 1}
        tot_c = 9
        acc = Fraction(0)
        for t, cc in corpus.items():
            cs = src_counts.get(t, 0)
            acc += abs(Fraction(cs, tot_s) - Fraction(cc, tot_c))
        return float(acc / 2)

    exp_s1 = round(tv({"a": 2, "b": 2, "c": 1}, 5), 6)
    exp_s2 = round(tv({"c": 3, "d": 1}, 4), 6)
    assert out["s1"] == (5, exp_s1)
    assert out["s2"] == (4, exp_s2)


def test_txt18_full_corpus_bounds(spark):
    out = _q("txt18_source_divergence")(spark, SF_DIR).collect()
    assert len(out) > 0
    for r in out:
        assert 0.0 <= r.tv_distance <= 1.0
        assert r.tot_s > 0


# ---------------------------------------------------------------------------
# llm18 — per-source order-statistic quality gate
# ---------------------------------------------------------------------------


def test_llm18_gate_matches_python_recompute(spark):
    from com_danliris_service_etl_spark.operators.text import quality_col

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    scored = docs.select(
        "source",
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
        quality_col("text").alias("quality"),
    ).collect()
    by_src: dict[str, list] = {}
    for r in scored:
        by_src.setdefault(r.source, []).append((r.quality, r.n_tokens))
    expected = {}
    for src, rows in by_src.items():
        vals = sorted(q for q, _ in rows)
        n = len(vals)
        # smallest v with count(quality <= v) * 5 >= n
        thr = next(v for i, v in enumerate(vals) if (i + 1) * 5 >= n)
        kept = [(q, t) for q, t in rows if q >= thr]
        expected[src] = (n, len(kept), sum(t for _, t in kept), thr)
    out = _q("llm18_quality_gate")(spark, SF_DIR).collect()
    got = {r.source: (r.n_total, r.n_kept, r.tokens_kept, r.q_threshold) for r in out}
    assert got == expected


def test_llm18_drops_at_most_twenty_percent(spark):
    out = _q("llm18_quality_gate")(spark, SF_DIR).collect()
    for r in out:
        # docs strictly below the 20th-percentile order stat are dropped:
        # the drop count is < ceil(n/5) <= 20% of n (threshold doc kept)
        assert r.n_total - r.n_kept < (r.n_total + 4) // 5
        assert r.n_kept >= 1


# ---------------------------------------------------------------------------
# st14 — streaming last-touch attribution (stateful op #3)
# ---------------------------------------------------------------------------


def test_streaming_attribution_matches_batch(spark):
    from com_danliris_service_etl_spark.streaming.jobs import (
        run_streaming_attribution,
    )
    from tests.conftest import assert_frames_match

    stream_out = run_streaming_attribution(spark, SF_DIR, "st_attr_test").toPandas()
    batch_out = _q("st14_stream_attribution")(spark, SF_DIR).toPandas()
    assert_frames_match(stream_out, batch_out, "stream_attribution_vs_batch")


def test_attribution_fn_state_across_batches():
    """Two sequential micro-batches: (1) the touch in batch 1 attributes a
    purchase in batch 2; (2) an OLDER out-of-order touch arriving in
    batch 2 cannot clobber the newer state; (3) equal-ts touches within
    a batch resolve to the highest event_id; (4) a purchase with state
    older than the lookback is unattributed."""
    import pandas as pd

    from com_danliris_service_etl_spark.streaming.jobs import (
        ATTR_LOOKBACK_US,
        _attribution_fn,
    )

    class FakeState:
        def __init__(self):
            self.exists = False
            self._v = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self.exists, self._v = True, v

    t0 = 1_700_000_000 * 1_000_000
    cols = ["event_id", "ts_us", "event_type", "value"]
    st = FakeState()
    b1 = pd.DataFrame(
        [(2, t0 + 10, "view", 0.0), (3, t0 + 10, "click", 0.0)], columns=cols
    )
    out1 = next(_attribution_fn((1,), iter([b1]), st))
    assert out1.empty and st.get == (t0 + 10, 3, "click")  # higher id wins
    b2 = pd.DataFrame(
        [
            (1, t0 + 5, "signup", 0.0),  # out-of-order older touch: ignored
            (4, t0 + 20, "purchase", 9.0),
            (5, t0 + 20 + ATTR_LOOKBACK_US + 1, "purchase", 7.0),  # too old
        ],
        columns=cols,
    )
    out2 = next(_attribution_fn((1,), iter([b2]), st))
    got = {int(r.event_id): r.channel for r in out2.itertuples()}
    assert got == {4: "click", 5: "unattributed"}
    assert st.get == (t0 + 10, 3, "click")

    # (5) an out-of-order PURCHASE (replayed after a newer touch advanced
    # the state) must degrade to 'unattributed', never be credited to a
    # touch that happened after it (ADVICE r9: the missing s_ts <= ts
    # bound).
    b3 = pd.DataFrame([(6, t0 + 2, "purchase", 3.0)], columns=cols)
    out3 = next(_attribution_fn((1,), iter([b3]), st))
    assert list(out3.channel) == ["unattributed"]
    assert st.get == (t0 + 10, 3, "click")  # state untouched by purchases


# ---------------------------------------------------------------------------
# property test: attribution vs brute-force recompute on random streams
# ---------------------------------------------------------------------------


def _brute_force_attribution(events):
    """Reference implementation: per purchase, scan ALL touches (the
    O(n^2)-per-user form the engine must equal)."""
    out = {}
    for eid, uid, ts, etype, _val in events:
        if etype != "purchase":
            continue
        touches = [
            (t_ts, t_eid, t_type)
            for t_eid, t_uid, t_ts, t_type, _ in events
            if t_uid == uid and t_type != "purchase" and t_ts <= ts
        ]
        if touches:
            t_ts, t_eid, t_type = max(touches)
            out[eid] = t_type if t_ts >= ts - 7 * DAY_US else "unattributed"
        else:
            out[eid] = "unattributed"
    return out


def test_g15_matches_brute_force_on_random_streams(spark):
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    t0 = 1_600_000_000 * 1_000_000
    event = st.tuples(
        st.integers(0, 4),  # user
        st.integers(0, 20 * DAY_US),  # ts offset (spans the lookback)
        st.sampled_from(["click", "view", "signup", "error", "purchase"]),
    )

    @settings(
        max_examples=15,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(raw=st.lists(event, min_size=1, max_size=25))
    def run(raw):
        events = [
            (i + 1, uid, t0 + off, etype, float(i))
            for i, (uid, off, etype) in enumerate(raw)
        ]
        got = _attribution_on(spark, events)
        assert got == _brute_force_attribution(events)

    run()


# ---------------------------------------------------------------------------
# llm19 — SemDeDup cluster-then-prune
# ---------------------------------------------------------------------------


def test_llm19_matches_numpy_brute_force(spark):
    import numpy as np

    out = {
        r.vec_id: (r.cell, r.centroid_sim, r.is_kept)
        for r in _q("llm19_semdedup")(spark, SF_DIR).collect()
    }
    rows = (
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .select("vec_id", "embedding")
        .collect()
    )
    V = {r.vec_id: np.asarray(r.embedding, dtype=np.float64) for r in rows}
    cents = {i: V[i] for i in V if i < 16}

    def cos(a, b):
        return float(a @ b / (np.sqrt(a @ a) * np.sqrt(b @ b)))

    # independent recompute: assignment, centroid sim, priority-prune
    cell, csim = {}, {}
    for vid, v in V.items():
        sims = sorted(((cos(v, c), -cid) for cid, c in cents.items()), reverse=True)
        best = -sims[0][1]
        cell[vid] = best
        csim[vid] = round(cos(v, cents[best]), 6)
    expected = {}
    for vid in V:
        dropped = any(
            round(cos(V[vid], V[o]), 6) > 0.35
            for o in V
            if o != vid
            and cell[o] == cell[vid]
            and (csim[o], o) < (csim[vid], vid)
        )
        expected[vid] = (cell[vid], csim[vid], not dropped)
    assert out == expected


def test_llm19_cell_minimum_priority_always_kept(spark):
    out = _q("llm19_semdedup")(spark, SF_DIR).collect()
    best = {}
    for r in out:
        k = (r.centroid_sim, r.vec_id)
        if r.cell not in best or k < best[r.cell][0]:
            best[r.cell] = (k, r.is_kept)
    assert all(kept for _, kept in best.values())


# ---------------------------------------------------------------------------
# llm20 — DSIR importance-resampling selection
# ---------------------------------------------------------------------------


def test_llm20_matches_python_recompute(spark):
    import math
    from collections import Counter, defaultdict

    rows = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "lang", "text"
    ).collect()
    tf = {r.doc_id: Counter(r.text.split(" ")) for r in rows}
    lang = {r.doc_id: r.lang for r in rows}
    cnt_t, cnt_s = defaultdict(int), defaultdict(int)
    for did, c in tf.items():
        for t, n in c.items():
            cnt_s[t] += n
            if lang[did] == "en":
                cnt_t[t] += n
    v, tot_t, tot_s = len(cnt_s), sum(cnt_t.values()), sum(cnt_s.values())

    def half_away(x):
        return int(math.floor(abs(x) + 0.5)) * (1 if x >= 0 else -1)

    lr = {
        t: half_away(
            math.log(((cnt_t[t] + 1) / (tot_t + v)) / ((cnt_s[t] + 1) / (tot_s + v)))
            * 1e6
        )
        for t in cnt_s
    }
    lw = {did: sum(n * lr[t] for t, n in c.items()) for did, c in tf.items()}
    buckets = sorted({x // 1000 for x in lw.values()}, reverse=True)  # floor div
    n = len(lw)
    by_b = Counter(x // 1000 for x in lw.values())
    # max(b) with count(lw in buckets >= b)*5 >= n is the FIRST b descending
    lw_star = next(
        b * 1000
        for b in buckets
        if sum(c for bb, c in by_b.items() if bb >= b) * 5 >= n
    )
    out = {
        r.doc_id: (r.lang, r.n_tokens, r.lw_micro, r.selected)
        for r in _q("llm20_dsir_selection")(spark, SF_DIR).collect()
    }
    expected = {
        did: (lang[did], sum(tf[did].values()), lw[did], lw[did] >= lw_star)
        for did in tf
    }
    assert out == expected


def test_llm20_threshold_partitions_and_enriches_target(spark):
    rows = _q("llm20_dsir_selection")(spark, SF_DIR).collect()
    sel = [r for r in rows if r.selected]
    unsel = [r for r in rows if not r.selected]
    assert sel and unsel
    # pure value threshold: every selected weight beats every unselected one
    assert min(r.lw_micro for r in sel) > max(r.lw_micro for r in unsel)
    # at least the 20% quota is selected (bucket grain can only add)
    assert 5 * len(sel) >= len(rows)
    # the selection is enriched in the target slice
    en_sel = sum(1 for r in sel if r.lang == "en") / len(sel)
    en_all = sum(1 for r in rows if r.lang == "en") / len(rows)
    assert en_sel > en_all


# ---------------------------------------------------------------------------
# txt19 — iterative BPE training
# ---------------------------------------------------------------------------


def test_bpe_train_hand_corpus(spark):
    from com_danliris_service_etl_spark.operators.text import bpe_train

    docs = spark.createDataFrame(
        [("d1", "low low lower")], "doc_id string, text string"
    )
    out = [tuple(r) for r in bpe_train(docs, iterations=3).collect()]
    # vocab: low x2, lower x1. step1: lo=3 ties ow=3 -> 'lo' (a asc).
    # step2: (lo,w)=3 -> 'low'. step3: (e,r)=1 ties (low,e)=1 -> 'er'.
    assert out == [
        (1, "lo", 3, 2 * 2 + 1 * 4),
        (2, "low", 3, 2 * 1 + 1 * 3),
        (3, "er", 1, 2 * 1 + 1 * 2),
    ]


def test_bpe_train_greedy_replace_edge_cases(spark):
    from com_danliris_service_etl_spark.operators.text import bpe_train

    # 'abab' must merge BOTH (a,b) occurrences in one step; 'aaa' must
    # merge floor(3/2)=1 time (greedy left-to-right run parity).
    docs = spark.createDataFrame(
        [("d1", "abab abab aaa")], "doc_id string, text string"
    )
    out = {r.step: (r.merged, r.pair_count, r.symbols_after) for r in
           bpe_train(docs, iterations=1).collect()}
    # pairs: (a,b)=4 (2 per 'abab' x2 words... vocab: abab x2 -> freq2, aaa x1)
    # abab: pairs ab,ba,ab -> ab weight 2*2=4; ba 2; aa 2 (from aaa: aa,aa)
    # argmax: ab=4. after merge: abab -> 'ab ab' (2 syms), aaa stays 3 syms
    assert out[1] == ("ab", 4, 2 * 2 + 1 * 3)


# ---------------------------------------------------------------------------
# streaming source-divergence monitor ≡ txt18 batch twin
# ---------------------------------------------------------------------------


def test_streaming_source_divergence_matches_batch(spark):
    from com_danliris_service_etl_spark.streaming.jobs import (
        run_streaming_source_divergence,
    )
    from tests.conftest import assert_frames_match

    stream_out = run_streaming_source_divergence(
        spark, SF_DIR, "st_srcdiv_test"
    ).toPandas()
    batch_out = _q("txt18_source_divergence")(spark, SF_DIR).toPandas()
    assert_frames_match(stream_out, batch_out, "source_divergence_vs_batch")


def test_semdedup_prune_parameterized_cells_match_brute_force(spark):
    """The extracted operator must stay brute-force-correct when n_cells
    changes (the sf1 pairing scales cells 10x — this pins that the
    parameterization itself is sound, not just the registry's 16)."""
    import numpy as np

    from com_danliris_service_etl_spark.operators.similarity import semdedup_prune

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    rows = emb.select("vec_id", "embedding").collect()
    V = {r.vec_id: np.asarray(r.embedding, dtype=np.float64) for r in rows}

    def cos(a, b):
        return float(a @ b / (np.sqrt(a @ a) * np.sqrt(b @ b)))

    for n_cells in (8, 32):
        cents = {i: V[i] for i in V if i < n_cells}
        cell, csim = {}, {}
        for vid, v in V.items():
            sims = sorted(((cos(v, c), -cid) for cid, c in cents.items()), reverse=True)
            best = -sims[0][1]
            cell[vid] = best
            csim[vid] = round(cos(v, cents[best]), 6)
        expected = {}
        for vid in V:
            dropped = any(
                round(cos(V[vid], V[o]), 6) > 0.35
                for o in V
                if o != vid
                and cell[o] == cell[vid]
                and (csim[o], o) < (csim[vid], vid)
            )
            expected[vid] = (cell[vid], csim[vid], not dropped)
        out = {
            r.vec_id: (r.cell, r.centroid_sim, r.is_kept)
            for r in semdedup_prune(emb, n_cells=n_cells, tau=0.35).collect()
        }
        assert out == expected, f"n_cells={n_cells}"


def test_semdedup_prune_sparse_ids_and_zero_norm(spark):
    """ADVICE r9 edge contracts: (1) centroids are the n_cells lowest ids
    PRESENT — a non-zero-based sparse id space still yields n_cells
    centroids (the old `id < n_cells` filter would yield zero and the
    output would be silently empty); (2) a zero-norm embedding gets a
    NULL cell and is emitted with is_kept=true instead of being dropped
    by the centroid join."""
    import numpy as np

    from com_danliris_service_etl_spark.operators.similarity import semdedup_prune

    rng = np.random.default_rng(7)
    vecs = {1000 + 7 * i: rng.normal(size=8).tolist() for i in range(20)}
    zero_id = 1000 + 7 * 20
    rows = [(vid, [float(x) for x in v]) for vid, v in vecs.items()]
    rows.append((zero_id, [0.0] * 8))
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")

    out = {r.vec_id: r for r in semdedup_prune(emb, n_cells=4, tau=0.35).collect()}
    assert set(out) == set(vecs) | {zero_id}, "no row may vanish"

    z = out[zero_id]
    assert z.cell is None and z.centroid_sim is None and z.is_kept is True

    # brute-force twin with centroids = 4 lowest ids present
    V = {vid: np.asarray(v) for vid, v in vecs.items()}
    cents = {vid: V[vid] for vid in sorted(V)[:4]}

    def cos(a, b):
        return float(a @ b / (np.sqrt(a @ a) * np.sqrt(b @ b)))

    cell, csim = {}, {}
    for vid, v in V.items():
        best = max(cents, key=lambda c: (round(cos(v, cents[c]), 12), -c))
        cell[vid], csim[vid] = best, round(cos(v, cents[best]), 6)
    for vid in V:
        dropped = any(
            round(cos(V[vid], V[o]), 6) > 0.35
            for o in V
            if o != vid and cell[o] == cell[vid] and (csim[o], o) < (csim[vid], vid)
        )
        assert (out[vid].cell, out[vid].centroid_sim, out[vid].is_kept) == (
            cell[vid],
            csim[vid],
            not dropped,
        ), vid
