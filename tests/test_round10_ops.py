"""Round-10 additions: Gopher repetition stats (llm21) and RRF hybrid
retrieval (sim11) — behavioral pins beyond the parametrized oracle gate."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

from com_danliris_service_etl_spark.plans.registry import load_all

SF_DIR = "/root/testdata/sf0.001"


def _q(name):
    return load_all()[name][0]


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_llm21_gram_counts_are_hash_aggregated(spark):
    """r14 rewrite pin: the top-gram counts must come from explode +
    hash aggregation (codegen), NOT a row-local interpreted
    `array_max(transform(array_distinct(...), ...))` fold — the honest
    noop estimator measured the interpreted fold at 13.8 s vs 0.49 s
    for this shape at sf0.1. The plan must carry the (doc, w, gram)
    aggregate and stay free of sort-merge joins and cartesian
    products; the old zero-exchange claim is retired (those exchanges
    move per-doc partials, not the corpus text)."""
    plan = _plan(_q("llm21_repetition_stats")(spark, SF_DIR))
    assert "Scan parquet" in plan
    assert "HashAggregate" in plan, plan
    # the interpreted O(distinct·n) fold is gone
    assert "array_max" not in plan, plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_llm21_flags_a_constructed_repetitive_doc(spark):
    """A document that is one token repeated must max out every stat; a
    strictly-distinct document must zero them."""
    df = spark.createDataFrame(
        [(1, "spam " * 19 + "spam"), (2, " ".join(f"w{i}" for i in range(20)))],
        "doc_id long, text string",
    )
    import com_danliris_service_etl_spark.plans.queries_llm as r10

    # drive the same projection through the registry function by writing
    # a temp parquet the function can read
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(f"{d}/documents.parquet")
        out = {
            r.doc_id: r for r in r10.llm21_repetition_stats(spark, d).collect()
        }
    spammy, clean = out[1], out[2]
    assert spammy.dup_token_micro == 950_000  # 19/20 duplicated
    assert spammy.top_bigram_micro == 1_000_000
    assert spammy.is_repetitive is True
    assert clean.dup_token_micro == 0
    assert clean.top_bigram_micro == (1_000_000 // 19)  # every bigram unique
    assert clean.is_repetitive is False


def test_sim11_rrf_math_and_shape(spark):
    """Each query emits exactly k fused rows; a candidate present in both
    rank lists scores 1/(60+rd) + 1/(60+rl); single-list candidates score
    the single term (missing side contributes 0, never NULL)."""
    rows = _q("sim11_rrf_hybrid")(spark, SF_DIR).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    for qid, rs in by_q.items():
        assert len(rs) == 5, (qid, len(rs))
        assert sorted(r.fused_rank for r in rs) == [1, 2, 3, 4, 5]
    for r in rows:
        expected = 0.0
        if r.rank_dense is not None:
            expected += 1.0 / (60 + r.rank_dense)
        if r.rank_lex is not None:
            expected += 1.0 / (60 + r.rank_lex)
        assert abs(r.rrf_score - round(expected, 6)) < 1e-9
        assert r.rank_dense is not None or r.rank_lex is not None


def test_bpe_encode_hand_corpus(spark):
    """Encode pins on the low/lower hand corpus: with merges learned from
    the same corpus, every doc's token count must equal the hand-derived
    post-merge symbol count, and compression is exact integer micro."""
    from com_danliris_service_etl_spark.operators.text import (
        bpe_encode,
        bpe_train,
    )

    docs = spark.createDataFrame(
        [(1, "low low low lower lower"), (2, "newest widest")],
        "doc_id long, text string",
    )
    steps = {r.step: r.merged for r in bpe_train(docs, iterations=2).collect()}
    out = {r.doc_id: r for r in bpe_encode(docs, iterations=2).collect()}

    d1, d2 = out[1], out[2]
    assert d1.n_words == 5 and d1.n_chars == 3 * 3 + 5 * 2
    assert d2.n_words == 2 and d2.n_chars == 6 + 6
    # merges are learned on the corpus vocabulary: 'lo' (freq low*3 +
    # lower*2 = 5) then 'low' — so 'low' encodes to 1 token, 'lower' to 3
    assert steps[1] == "lo" and steps[2] == "low"
    assert d1.n_tokens == 3 * 1 + 2 * 3
    # 'newest'/'widest' contain no learned pair: chars = tokens
    assert d2.n_tokens == 12
    assert d2.compression_micro == 1_000_000
    assert d1.compression_micro == (d1.n_tokens * 1_000_000) // d1.n_chars


# ---------------------------------------------------------------------------
# property tests: llm21 vs a pure-Python recompute on random corpora
# ---------------------------------------------------------------------------

from collections import Counter

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_SETTINGS = settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

_token = st.text(alphabet="abcX", min_size=1, max_size=3)
_doc = st.lists(_token, min_size=3, max_size=25)


@_SETTINGS
@given(docs=st.lists(_doc, min_size=1, max_size=6))
def test_llm21_matches_python_recompute(spark, docs):
    """Random small-alphabet corpora (engineered for heavy repetition and
    ties) must match an independent Python recompute exactly — integers
    everywhere, so no tolerance."""
    import com_danliris_service_etl_spark.plans.queries_llm as r10

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    import tempfile

    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(f"{d}/documents.parquet")
        got = {
            r.doc_id: (
                r.n_tokens,
                r.dup_token_micro,
                r.top_bigram_micro,
                r.top_trigram_micro,
                r.is_repetitive,
            )
            for r in r10.llm21_repetition_stats(spark, d).collect()
        }

    for i, toks in enumerate(docs):
        n = len(toks)
        dup = ((n - len(set(toks))) * 1_000_000) // n
        bg = Counter(zip(toks, toks[1:])).most_common(1)[0][1]
        tg = Counter(zip(toks, toks[1:], toks[2:])).most_common(1)[0][1]
        bgm = (bg * 1_000_000) // (n - 1)
        tgm = (tg * 1_000_000) // (n - 2)
        rep = dup > 550_000 or bgm > 80_000 or tgm > 60_000
        assert got[i] == (n, dup, bgm, tgm, rep), (i, toks)


def test_sim12_shape_and_consistency(spark):
    """Each query appears once per truncation dim; hits are bounded by k
    and recall is exactly n_hits/k; truncating to FEWER dims can only
    lose (mean) recall on this fixture's near-uniform vectors."""
    rows = _q("sim12_truncated_recall")(spark, SF_DIR).collect()
    by_dim = {}
    for r in rows:
        assert 0 <= r.n_hits <= 5
        assert abs(r.recall - r.n_hits / 5.0) < 1e-9
        by_dim.setdefault(r.dim, []).append(r.query_id)
    assert set(by_dim) == {32, 16}
    for d, qids in by_dim.items():
        assert len(qids) == len(set(qids)), f"duplicate query rows at dim {d}"
        assert sorted(qids) == sorted(by_dim[32 if d == 16 else 16])


def test_sim12_fused_equals_unfused_composition(spark):
    """The fused single-corpus-pass ablation (ops/similarity.py::
    truncated_recall_ablation, the r10 shuffle-fusion task) must match
    the original composition — one brute_force_topk per similarity
    space + one recall_at_k join per truncation — row for row. Both use
    the same 6dp rounding and (score desc, id) tiebreak; any drift here
    means the fused dots/norms are not the per-slice left folds the
    oracle computes."""
    from pyspark.sql import functions as F

    from com_danliris_service_etl_spark.operators.similarity import (
        brute_force_topk,
        recall_at_k,
        truncated_recall_ablation,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    fused = sorted(
        map(tuple, truncated_recall_ablation(emb, n_queries=10, dims=(32, 16), k=5).collect())
    )

    full = brute_force_topk(emb, emb.filter(F.col("vec_id") < 10), k=5)
    parts = []
    for d in (32, 16):
        sliced = emb.select("vec_id", F.slice("embedding", 1, d).alias("embedding"))
        trunc = brute_force_topk(sliced, sliced.filter(F.col("vec_id") < 10), k=5)
        parts.append(
            recall_at_k(full, trunc, 5).select(
                F.lit(d).alias("dim"), "query_id", "n_hits", "recall"
            )
        )
    unfused = sorted(map(tuple, parts[0].unionByName(parts[1]).collect()))
    assert fused == unfused


def test_sim12_fused_query_universe_excludes_full_null_queries(spark):
    """A query vector whose FULL-dim cosine is NULL against every corpus
    row (a NULL element past the truncation widths) is scorable in the
    truncated spaces but absent from the exact top-k — recall_at_k's
    universe — so the fused form must emit NO rows for it (the r11
    review edge: pairsets alone would fabricate zero-hit rows)."""
    from pyspark.sql import functions as F

    from com_danliris_service_etl_spark.operators.similarity import (
        truncated_recall_ablation,
    )

    def vec(seed, poison_tail):
        v = [float((seed * 31 + i) % 7) - 3.0 for i in range(64)]
        if poison_tail:
            v[40] = None
        return v

    rows = [(0, vec(1, True))] + [(i, vec(i, False)) for i in range(1, 6)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = truncated_recall_ablation(emb, n_queries=2, dims=(32, 16), k=2)
    got = {(r.dim, r.query_id) for r in out.collect()}
    assert got == {(32, 1), (16, 1)}, got


@_SETTINGS
@given(
    docs=st.lists(
        st.lists(st.text(alphabet="ab", min_size=1, max_size=6), min_size=1, max_size=8),
        min_size=1,
        max_size=5,
    )
)
def test_bpe_train_and_encode_match_python_reference(spark, docs):
    """Random two-letter corpora (maximal merge collisions: runs, abab
    alternations, single chars) vs an independent pure-Python BPE: the
    double-space replace() trick must equal leftmost non-overlapping
    greedy merge application, for training stats AND per-doc encode
    counts."""
    from collections import Counter

    from com_danliris_service_etl_spark.operators.text import (
        bpe_encode,
        bpe_train,
    )

    def apply_merge(syms, a, b):
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                out.append(a + b)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        return out

    # pure-Python training on the vocabulary (words of length >= 2)
    vocab = Counter(w for d in docs for w in d if len(w) >= 2)
    state = {w: list(w) for w in vocab}
    merges, steps = [], []
    for _ in range(3):
        pairs = Counter()
        for w, syms in state.items():
            for x, y in zip(syms, syms[1:]):
                pairs[(x, y)] += vocab[w]
        if not pairs:
            break
        (a, b), cnt = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        state = {w: apply_merge(s, a, b) for w, s in state.items()}
        merges.append((a, b))
        steps.append(
            (a + b, cnt, sum(vocab[w] * len(s) for w, s in state.items()))
        )

    rows = [(i, " ".join(d)) for i, d in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got_steps = [
        (r.merged, r.pair_count, r.symbols_after)
        for r in sorted(bpe_train(df, iterations=3).collect(), key=lambda r: r.step)
    ]
    assert got_steps == steps

    got_enc = {r.doc_id: (r.n_words, r.n_chars, r.n_tokens)
               for r in bpe_encode(df, iterations=3).collect()}
    for i, d in enumerate(docs):
        syms_per_word = []
        for w in d:
            s = list(w)
            for a, b in merges:
                s = apply_merge(s, a, b)
            syms_per_word.append(len(s))
        assert got_enc[i] == (len(d), sum(len(w) for w in d), sum(syms_per_word)), (i, d)


def test_g16_kcore_peel_semantics(spark):
    """k-core peeling pins on a constructed graph: a 4-clique (every
    degree 3) survives k=3 peeling forever; a pendant chain hanging off
    it is peeled layer by layer — one chain node per round, which a
    one-shot degree filter cannot reproduce."""
    from com_danliris_service_etl_spark.operators.graph import group_items, kcore_peel

    # groups: the 4-clique via one group {0,1,2,3}; chain 3-10-11 via
    # pair groups (10 hangs off clique node 3, 11 off 10)
    rows = [(100, n) for n in (0, 1, 2, 3)] + [
        (200, 3), (200, 10), (300, 10), (300, 11),
    ]
    df = spark.createDataFrame(rows, "g long, item long")
    out = {r.round: (r.n_nodes, r.n_edges) for r in
           kcore_peel(group_items(df, "g", "item"), k=3, rounds=3).collect()}
    # round 0: 6 nodes, clique 6 edges + 2 chain edges
    assert out[0] == (6, 8)
    # round 1: node 11 (deg 1) and 10 (deg 2) both drop — both are
    # below k in the ORIGINAL graph; clique survives with its 6 edges
    assert out[1] == (4, 6)
    # stable thereafter: the 4-clique IS a 3-core
    assert out[2] == (4, 6) and out[3] == (4, 6)


def test_g16_kcore_peel_cascade_needs_iteration(spark):
    """The defining cascade: a chain a-b-c-d-e at k=2 — endpoints drop in
    round 1, which lowers their neighbors below k, and the whole chain
    unravels ONE LAYER PER ROUND. Any single-pass filter would keep the
    middle nodes."""
    from com_danliris_service_etl_spark.operators.graph import group_items, kcore_peel

    rows = [(i, x) for i, (x, y) in enumerate(
        [(0, 1), (1, 2), (2, 3), (3, 4)]) for x in (x, y)]
    df = spark.createDataFrame(rows, "g long, item long")
    out = {r.round: r.n_nodes for r in
           kcore_peel(group_items(df, "g", "item"), k=2, rounds=3).collect()}
    # n_nodes counts EDGE ENDPOINTS: round 2's sole survivor (the chain
    # middle) is isolated, carries no edge, and would be peeled next
    # round anyway — so it reports 0, same as the oracle's endpoint count
    assert out[0] == 5 and out[1] == 3 and out[2] == 0 and out[3] == 0


@_SETTINGS
@given(
    groups=st.lists(
        st.lists(st.integers(0, 12), min_size=2, max_size=5, unique=True),
        min_size=1,
        max_size=8,
    ),
    k=st.integers(1, 4),
)
def test_kcore_peel_matches_python_recompute(spark, groups, k):
    """Random small co-occurrence graphs vs an independent Python peel:
    trajectory (endpoint counts, edge counts) must match exactly for
    every round at every k."""
    from com_danliris_service_etl_spark.operators.graph import group_items, kcore_peel

    rows = [(gi, item) for gi, g in enumerate(groups) for item in g]
    df = spark.createDataFrame(rows, "g long, item long")
    got = {
        r.round: (r.n_nodes, r.n_edges)
        for r in kcore_peel(group_items(df, "g", "item"), k=k, rounds=3).collect()
    }

    edges = set()
    for g in groups:
        s = sorted(set(g))
        for i, a in enumerate(s):
            for b in s[i + 1:]:
                edges.add((a, b))
    import collections

    for rnd in range(4):
        deg = collections.Counter()
        for a, b in edges:
            deg[a] += 1
            deg[b] += 1
        assert got[rnd] == (len(deg), len(edges)), (rnd, k, groups)
        survivors = {n for n, d in deg.items() if d >= k}
        edges = {(a, b) for a, b in edges if a in survivors and b in survivors}


# ---------------------------------------------------------------------------
# DD12 — LSH banding ablation
# ---------------------------------------------------------------------------


def test_dd12_band_nesting_monotonicity(spark):
    """With n_perms fixed, config boundaries NEST (bands=8's band 2b is a
    sub-slice of bands=4's band b), so any collision at b bands implies
    one at 2b bands: candidate counts and recall must be monotone
    nondecreasing in bands, and hits can never exceed either side's
    count. Pinned on the sf0.001 fixture."""
    rows = {
        r.bands: r
        for r in _q("dd12_lsh_ablation")(spark, SF_DIR).collect()
    }
    assert sorted(rows) == [2, 4, 8]
    n_true = {r.n_true for r in rows.values()}
    assert len(n_true) == 1  # truth is config-independent
    for lo, hi in ((2, 4), (4, 8)):
        assert rows[hi].n_candidates >= rows[lo].n_candidates
        assert rows[hi].n_hit >= rows[lo].n_hit
    for r in rows.values():
        assert r.n_hit <= min(r.n_candidates, r.n_true)
        if r.n_candidates:
            assert r.precision_micro == (r.n_hit * 1_000_000) // r.n_candidates
        if r.n_true:
            assert r.recall_micro == (r.n_hit * 1_000_000) // r.n_true


def test_dd12_recall_is_exact_on_a_constructed_corpus(spark):
    """Two exact duplicates (J=1: every config must find the pair) plus
    two unrelated docs (J=0 against everything): truth = 1 pair,
    recall_micro = 1e6 and n_hit = 1 for every config."""
    import tempfile

    from com_danliris_service_etl_spark.operators.dedup import lsh_band_ablation

    base = " ".join(f"tok{i}" for i in range(30))
    other = " ".join(f"zzz{i}" for i in range(30))
    third = " ".join(f"qqq{i}" for i in range(30))
    df = spark.createDataFrame(
        [(1, base), (2, base), (3, other), (4, third)],
        "doc_id long, text string",
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(f"{d}/documents.parquet")
        out = {
            r.bands: r
            for r in lsh_band_ablation(
                spark.read.parquet(f"{d}/documents.parquet")
            ).collect()
        }
    for r in out.values():
        assert r.n_true == 1
        assert r.n_hit == 1
        assert r.recall_micro == 1_000_000


# ---------------------------------------------------------------------------
# TXT21 — tokenizer fertility per slice
# ---------------------------------------------------------------------------


def test_txt21_aggregates_txt20_doc_accounting_exactly(spark):
    """bpe_fertility's slice sums must equal txt20's per-doc accounting
    re-aggregated by (lang, source) — same merges, same guards, one
    fewer relation (no doc-grain join on the fertility path)."""
    import pyspark.sql.functions as F

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    per_doc = _q("txt20_bpe_encode")(spark, SF_DIR).join(
        docs.select("doc_id", "lang", "source"), "doc_id"
    )
    expect = {
        (r.lang, r.source): r
        for r in per_doc.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").alias("n_words"),
            F.sum("n_chars").alias("n_chars"),
            F.sum("n_tokens").alias("n_tokens"),
        )
        .collect()
    }
    got = {
        (r.lang, r.source): r
        for r in _q("txt21_tokenizer_fertility")(spark, SF_DIR).collect()
    }
    assert set(got) == set(expect)
    for k, g in got.items():
        e = expect[k]
        assert (g.n_docs, g.n_words, g.n_chars, g.n_tokens) == (
            e.n_docs,
            e.n_words,
            e.n_chars,
            e.n_tokens,
        )
        assert g.fertility_micro == (g.n_tokens * 1_000_000) // g.n_words
        assert g.compression_micro == (g.n_tokens * 1_000_000) // g.n_chars


def test_txt21_encode_is_shuffle_minimal(spark):
    """The fertility plan's only exchanges are the slice aggregate (plus
    the training pass's bounded vocab-grain aggregates, which never key
    on doc_id): no doc-grain join, no window, no sort anywhere."""
    plan = _plan(_q("txt21_tokenizer_fertility")(spark, SF_DIR))
    assert "SortMergeJoin" not in plan
    assert "Window" not in plan
    # the encode is row-local; the slice aggregate is the only KEYED
    # exchange. r14 adds the conditional `spread` repartition below the
    # encode fold (one-file fixtures scan as one partition; pass-through
    # on well-split inputs), so the bound is 2 on fixture-sized inputs —
    # still no doc-grain join/window/sort anywhere.
    assert plan.count("Exchange (") <= 2, plan
    assert "hashpartitioning(lang" in plan, plan


# ---------------------------------------------------------------------------
# G17 — synchronous label propagation
# ---------------------------------------------------------------------------


def test_lpa_two_cliques_stay_separate_communities(spark):
    """Two disjoint triangles: LPA must converge each to its own min
    label and NEVER merge them — the community structure CC would also
    find, pinned as the base case before the density-sensitive ones."""
    from com_danliris_service_etl_spark.operators.graph import group_items, label_propagation

    rows = [(0, 1), (0, 2), (0, 3), (1, 10), (1, 11), (1, 12)]
    df = spark.createDataFrame(
        [(g, x) for g, x in rows], "g long, item long"
    )
    out = {r.node: r.label for r in
           label_propagation(group_items(df, "g", "item"), rounds=3).collect()}
    assert {out[1], out[2], out[3]} == {1}
    assert {out[10], out[11], out[12]} == {10}


def test_lpa_min_label_tiebreak_is_pinned(spark):
    """A 3-path 1–2–3 after ONE synchronous round: the middle node sees
    labels {1, 3} at count 1 each and must take the MINIMUM (1); the
    endpoints see only the middle (2). Any other tiebreak or an
    asynchronous update order would differ."""
    from com_danliris_service_etl_spark.operators.graph import group_items, label_propagation

    df = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 2), (1, 3)], "g long, item long"
    )
    out = {r.node: r.label for r in
           label_propagation(group_items(df, "g", "item"), rounds=1).collect()}
    assert out == {1: 2, 2: 1, 3: 2}


def test_lpa_shuffle_join_ladder_agrees_with_broadcast(spark):
    """`broadcast_labels=False` — the pagerank-style degradation for a
    |V|-row label relation that stops fitting an executor — must produce
    identical labels, and its superstep vote frame must NOT carry a
    forced broadcast hint (the OOM risk the r10 advice flagged)."""
    from com_danliris_service_etl_spark.operators.graph import group_items, label_propagation

    rows = [(0, 1), (0, 2), (0, 3), (1, 10), (1, 11), (1, 12), (2, 3), (2, 10)]
    df = spark.createDataFrame(rows, "g long, item long")
    groups = group_items(df, "g", "item")
    bc = sorted(map(tuple, label_propagation(groups, rounds=2).collect()))
    sh = sorted(map(tuple, label_propagation(
        groups, rounds=2, broadcast_labels=False).collect()))
    assert bc == sh


def test_lpa_is_checkpoint_tailed(spark):
    """The g17 PLAN_AUDIT entry is vacuous BY DESIGN: the returned frame
    sits behind a localCheckpoint (Scan ExistingRDD), so the audit gate
    cannot see a gained shuffle inside a superstep (the r10 advice).
    This pin makes the vacuousness explicit and self-healing: if the
    checkpoint is ever dropped, this assert fails AND PLAN_AUDIT's real
    counts re-engage. The superstep's internal shape (broadcast label
    join, two hash aggregates) is covered by the recompute law tests
    above plus the broadcast/shuffle ladder equivalence."""
    from com_danliris_service_etl_spark.operators.graph import group_items, label_propagation

    df = spark.createDataFrame([(0, 1), (0, 2), (1, 2), (1, 3)], "g long, item long")
    plan = (
        label_propagation(group_items(df, "g", "item"), rounds=1)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Scan ExistingRDD" in plan, plan


@_SETTINGS
@given(
    groups=st.lists(
        st.lists(st.integers(0, 12), min_size=2, max_size=5, unique=True),
        min_size=1,
        max_size=8,
    ),
    rounds=st.integers(1, 3),
)
def test_lpa_matches_python_recompute(spark, groups, rounds):
    """Random small co-occurrence graphs vs an independent synchronous
    LPA in pure Python: per-node labels must match exactly after every
    bounded round count."""
    from collections import Counter, defaultdict

    from com_danliris_service_etl_spark.operators.graph import group_items, label_propagation

    adj = defaultdict(set)
    for items in groups:
        s = sorted(set(items))
        for i, a in enumerate(s):
            for b in s[i + 1:]:
                adj[a].add(b)
                adj[b].add(a)
    labels = {n: n for n in adj}
    for _ in range(rounds):
        nxt = {}
        for n, nbrs in adj.items():
            cnt = Counter(labels[m] for m in nbrs)
            top = max(cnt.values())
            nxt[n] = min(l for l, c in cnt.items() if c == top)
        labels = nxt

    rows = [(g, x) for g, items in enumerate(groups) for x in items]
    df = spark.createDataFrame(rows, "g long, item long")
    got = {r.node: r.label for r in
           label_propagation(group_items(df, "g", "item"), rounds=rounds).collect()}
    assert got == labels, (groups, rounds)
