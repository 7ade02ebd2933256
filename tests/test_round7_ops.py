"""Round-7 operators: triangle counting, frontier BFS, PMI bigrams,
histogram profile, n-gram novelty, containment verify — each checked
against a small pure-Python reference model (the test_round6_ops.py
strategy)."""

from __future__ import annotations

import itertools
import math

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# Triangle counting
# ---------------------------------------------------------------------------


def _tri_ref(edges):
    """Per-node triangle counts by brute force over node triples."""
    und = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
    nodes = sorted({n for e in und for n in e})
    counts = dict.fromkeys(nodes, 0)
    for a, b, c in itertools.combinations(nodes, 3):
        if {(a, b), (a, c), (b, c)} <= und:
            counts[a] += 1
            counts[b] += 1
            counts[c] += 1
    return {n: c for n, c in counts.items() if c > 0}


def test_triangle_counts_matches_bruteforce(spark):
    from com_danliris_service_etl_spark.operators.graph import triangle_counts

    # K4 on {1..4} (every node in C(3,2)=3 triangles) plus a pendant node
    # and a disconnected edge (no triangles)
    edges = list(itertools.combinations([1, 2, 3, 4], 2)) + [(4, 5), (8, 9)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.triangles for r in triangle_counts(df).collect()}
    assert got == _tri_ref(edges)
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


def test_triangle_counts_canonicalizes_input(spark):
    """Directed duplicates, reversed edges, and self-loops must not change
    the undirected triangle structure."""
    from com_danliris_service_etl_spark.operators.graph import triangle_counts

    base = [(1, 2), (2, 3), (1, 3)]
    noisy = base + [(2, 1), (3, 2), (1, 2), (1, 1), (3, 3)]
    df = spark.createDataFrame(noisy, "src long, dst long")
    got = {r.node: r.triangles for r in triangle_counts(df).collect()}
    assert got == {1: 1, 2: 1, 3: 1}


def test_triangle_counts_degree_tie_orientation(spark):
    """A regular graph (all degrees equal) exercises the id tiebreak of
    the (degree, id) orientation: C5 has no triangles, C5 + one chord has
    exactly one."""
    from com_danliris_service_etl_spark.operators.graph import triangle_counts

    c5 = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 1)]
    assert triangle_counts(spark.createDataFrame(c5, "src long, dst long")).count() == 0
    chord = c5 + [(1, 3)]
    got = {
        r.node: r.triangles
        for r in triangle_counts(
            spark.createDataFrame(chord, "src long, dst long")
        ).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1}


# ---------------------------------------------------------------------------
# Frontier BFS
# ---------------------------------------------------------------------------


def _bfs_ref(edges, sources, max_hops):
    dist = {s: 0 for s in sources}
    frontier = set(sources)
    adj = {}
    for s, d in edges:
        adj.setdefault(s, set()).add(d)
    for hop in range(1, max_hops + 1):
        nxt = {d for s in frontier for d in adj.get(s, ())} - dist.keys()
        for n in nxt:
            dist[n] = hop
        frontier = nxt
    return dist


def test_bfs_hops_matches_reference(spark):
    from com_danliris_service_etl_spark.operators.graph import bfs_hops

    # path 1→2→3→4→5 plus a shortcut 1→4 and an unreachable island 8→9
    edges = [(1, 2), (2, 3), (3, 4), (4, 5), (1, 4), (8, 9)]
    e = spark.createDataFrame(edges, "src long, dst long")
    src = spark.createDataFrame([(1,)], "node long")
    got = {r.node: r.hops for r in bfs_hops(e, src, max_hops=3).collect()}
    assert got == _bfs_ref(edges, [1], 3)
    # the shortcut must win: node 4 at hop 1, node 5 at hop 2; 8/9 absent
    assert got == {1: 0, 2: 1, 4: 1, 3: 2, 5: 2}


def test_bfs_hops_multi_source_min_distance(spark):
    from com_danliris_service_etl_spark.operators.graph import bfs_hops

    edges = [(1, 2), (2, 3), (3, 4), (10, 4)]
    e = spark.createDataFrame(edges, "src long, dst long")
    src = spark.createDataFrame([(1,), (10,), (10,)], "node long")  # dup source
    got = {r.node: r.hops for r in bfs_hops(e, src, max_hops=3).collect()}
    # 4 is 3 hops from 1 but 1 hop from 10 — min wins
    assert got == {1: 0, 10: 0, 2: 1, 4: 1, 3: 2}


# ---------------------------------------------------------------------------
# PMI bigrams
# ---------------------------------------------------------------------------


def test_pmi_bigrams_hand_computed(spark):
    from com_danliris_service_etl_spark.operators.text import pmi_bigrams

    # "a b" ×3 in doc1; doc2 contributes unigrams and one more "a b"
    docs = spark.createDataFrame(
        [(1, "a b a b a b"), (2, "a b c c"), (3, "c")],
        "doc_id long, text string",
    )
    rows = {(r.w1, r.w2): r for r in pmi_bigrams(docs, min_count=2).collect()}
    # bigram totals: doc1 has 5 (a b, b a, a b, b a, a b), doc2 has 3 → B=8
    # "a b" count 4; unigrams over ALL docs: a=4, b=4, c=3, N=11
    assert ("a", "b") in rows
    r = rows[("a", "b")]
    assert r.n_ab == 4
    want = math.log((4 / 8.0) / ((4 / 11.0) * (4 / 11.0)))
    assert r.pmi == pytest.approx(round(want, 6), abs=1e-9)
    # below min_count bigrams are filtered ("b a" has 2 → kept; "b c" 1 → out)
    assert ("b", "c") not in rows
    assert rows[("b", "a")].n_ab == 2


# ---------------------------------------------------------------------------
# Histogram profile
# ---------------------------------------------------------------------------


def test_histogram_profile_buckets_and_edges(spark):
    from com_danliris_service_etl_spark.operators.quality import histogram_profile

    df = spark.createDataFrame(
        [("x", 0.0), ("x", 5.0), ("x", 9.9), ("y", 10.0)], "g string, v double"
    )
    rows = {(r.g, r.bucket): r for r in histogram_profile(df, "g", "v", bins=10).collect()}
    # global bounds 0..10, width 1: 0.0→b0, 5.0→b5, 9.9→b9, 10.0 (== max) clamps to b9
    assert set(rows) == {("x", 0), ("x", 5), ("x", 9), ("y", 9)}
    assert rows[("x", 5)].bin_lo == 5.0 and rows[("x", 5)].bin_hi == 6.0
    assert rows[("y", 9)].n == 1


def test_histogram_profile_constant_column(spark):
    """A constant value column (width 0) degenerates to a single bucket 0
    instead of dividing by zero."""
    from com_danliris_service_etl_spark.operators.quality import histogram_profile

    df = spark.createDataFrame([("x", 7.0), ("y", 7.0)], "g string, v double")
    rows = histogram_profile(df, "g", "v", bins=10).collect()
    assert {(r.g, r.bucket, r.n) for r in rows} == {("x", 0, 1), ("y", 0, 1)}


# ---------------------------------------------------------------------------
# N-gram novelty
# ---------------------------------------------------------------------------


def test_ngram_novelty_hand_computed(spark):
    from com_danliris_service_etl_spark.operators.dedup import ngram_novelty

    train = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    evals = spark.createDataFrame(
        [
            (10, "a b c d"),      # all shingles seen → novelty 0
            (11, "x y z"),        # 1 shingle, unseen → novelty 1
            (12, "a b c x y"),    # shingles: abc(seen), bcx, cxy → 2/3
            (13, "a b"),          # < k tokens → drops out
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in ngram_novelty(train, evals, shingle_k=3).collect()}
    assert set(rows) == {10, 11, 12}
    assert (rows[10].n_shingles, rows[10].n_novel, rows[10].novelty) == (2, 0, 0.0)
    assert (rows[11].n_shingles, rows[11].n_novel, rows[11].novelty) == (1, 1, 1.0)
    assert rows[12].n_novel == 2 and rows[12].novelty == round(2 / 3, 6)


# ---------------------------------------------------------------------------
# Containment verify
# ---------------------------------------------------------------------------


def test_exact_containment_verify_subset_detection(spark):
    """The case Jaccard misses: a short doc pasted inside a long one has
    low Jaccard but containment 1.0 on the short side."""
    from com_danliris_service_etl_spark.operators.dedup import (
        exact_containment_verify,
        exact_jaccard_verify,
    )

    short = "q w e r t"
    long_ = short + " " + " ".join(f"tok{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(1, short), (2, long_), (3, "completely different text here")],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame([(1, 2), (1, 3)], "doc_a long, doc_b long")
    got = {(r.doc_a, r.doc_b): r for r in exact_containment_verify(docs, pairs).collect()}
    r12 = got[(1, 2)]
    assert r12.containment_a == 1.0  # every shingle of the short doc is in the long
    assert r12.is_subset_dup
    assert r12.size_a == 3 and r12.inter == 3
    # while Jaccard on the same pair is low and NOT verified at 0.95
    jac = {(r.doc_a, r.doc_b): r for r in exact_jaccard_verify(docs, pairs).collect()}
    assert not jac[(1, 2)].verified
    assert jac[(1, 2)].exact_jaccard < 0.1
    # disjoint pair: zero containment, not a subset dup
    r13 = got[(1, 3)]
    assert (r13.inter, r13.containment_a, r13.is_subset_dup) == (0, 0.0, False)


# ---------------------------------------------------------------------------
# Mergeable distinct: bitmap state + HLL union
# ---------------------------------------------------------------------------


def test_bitmap_rollup_equals_direct_distinct(spark):
    """Fine-grain bitmap state merged to the coarse grain must equal the
    plain COUNT(DISTINCT) — including keys repeated across fine groups
    (the case naive sum-of-fine-distincts double-counts) and keys that
    straddle bitmap bucket boundaries (32768-value ranges)."""
    from com_danliris_service_etl_spark.operators.sketches import (
        bitmap_distinct_state,
        bitmap_rollup_counts,
    )

    rows = [
        ("a", "d1", 1),
        ("a", "d1", 1),        # dup inside one fine group
        ("a", "d2", 1),        # same key, second fine group
        ("a", "d2", 2),
        ("a", "d1", 40000),    # second bitmap bucket
        ("b", "d1", 40000),    # same key under another coarse group
        ("b", "d2", 7),
    ]
    df = spark.createDataFrame(rows, "g string, day string, k long")
    state = bitmap_distinct_state(df, "k", ["g", "day"])
    got = {
        r.g: r.distinct_keys for r in bitmap_rollup_counts(state, ["g"]).collect()
    }
    assert got == {"a": 3, "b": 2}


def test_bitmap_state_is_incremental(spark):
    """State built from two disjoint increments and unioned must merge to
    the same counts as state built in one pass — the mergeability
    contract that makes the nightly-append rollup exact."""
    from com_danliris_service_etl_spark.operators.sketches import (
        bitmap_distinct_state,
        bitmap_rollup_counts,
    )

    rows = [("a", "d%d" % (i % 3), i % 17) for i in range(200)]
    df = spark.createDataFrame(rows, "g string, day string, k long")
    one_pass = bitmap_distinct_state(df, "k", ["g", "day"])
    inc = bitmap_distinct_state(df.filter(F.col("k") < 9), "k", ["g", "day"]).unionByName(
        bitmap_distinct_state(df.filter(F.col("k") >= 9), "k", ["g", "day"])
    )
    a = {r.g: r.distinct_keys for r in bitmap_rollup_counts(one_pass, ["g"]).collect()}
    b = {r.g: r.distinct_keys for r in bitmap_rollup_counts(inc, ["g"]).collect()}
    assert a == b == {"a": 17}


def test_hll_rollup_close_to_exact(spark):
    from com_danliris_service_etl_spark.operators.sketches import hll_rollup

    rows = [("s%d" % (i % 2), "l%d" % (i % 5), i % 500) for i in range(3000)]
    df = spark.createDataFrame(rows, "source string, lang string, k long")
    est = {r.source: r.hll_estimate for r in hll_rollup(df, "k", ["source", "lang"], ["source"]).collect()}
    # source s0 sees even i -> k in {0,2,...498} = 250 distinct; s1 odd
    for s, exact in [("s0", 250), ("s1", 250)]:
        assert abs(est[s] - exact) <= 0.05 * exact, (s, est[s], exact)


# ---------------------------------------------------------------------------
# Bloom-pruned semi-join
# ---------------------------------------------------------------------------


def test_bloom_no_false_negatives_and_semi_join_exact(spark):
    from com_danliris_service_etl_spark.operators.joins import (
        bloom_build,
        bloom_might_contain,
        bloom_semi_join,
    )

    keys = spark.createDataFrame([(k,) for k in range(0, 400, 3)], "key long")
    fact = spark.createDataFrame([(i, i % 7) for i in range(500)], "fk long, g long")
    # every true key passes its own filter (no false negatives, ever)
    words = bloom_build(keys, "key", m_bits=1024, k=3)
    probe = keys.crossJoin(F.broadcast(words)).select(
        bloom_might_contain(F.col("key"), F.col("__bloom_words"), 1024, 3).alias("p")
    )
    assert all(r.p for r in probe.collect())
    # the pruned semi-join is EXACTLY the plain semi-join
    got = bloom_semi_join(fact, keys, "fk", "key", m_bits=1024, k=3)
    want = fact.join(keys.withColumnRenamed("key", "fk"), "fk", "left_semi")
    assert sorted((r.fk, r.g) for r in got.collect()) == sorted(
        (r.fk, r.g) for r in want.collect()
    )


def test_bloom_bit63_round_trip(spark):
    """Keys whose hash lands on bit 63 of a word (the sign bit) must
    still round-trip — shiftleft(1L, 63) wraps to Long.MIN_VALUE and the
    bitwiseAND test has to survive it."""
    from com_danliris_service_etl_spark.operators.joins import (
        bloom_build,
        bloom_might_contain,
    )

    # brute-force a key set guaranteed to cover bit position 63 in word 0:
    # with m_bits=64 every position is in word 0; include enough keys that
    # position 63 is hit (checked via the filter becoming all-ones-free).
    keys = spark.createDataFrame([(k,) for k in range(200)], "key long")
    words = bloom_build(keys, "key", m_bits=64, k=2)
    [row] = words.collect()
    assert row["__bloom_words"][0] != 0
    probe = keys.crossJoin(F.broadcast(words)).select(
        bloom_might_contain(F.col("key"), F.col("__bloom_words"), 64, 2).alias("p")
    )
    assert all(r.p for r in probe.collect())


# ---------------------------------------------------------------------------
# Vocabulary coverage
# ---------------------------------------------------------------------------


def test_vocab_coverage_hand_computed(spark):
    from com_danliris_service_etl_spark.operators.text import vocab_coverage

    docs = spark.createDataFrame(
        [
            (1, "a a a b b c"),
            (2, "a b z"),
            (3, "z z q"),
            (4, None),
        ],
        "doc_id long, text string",
    )
    # counts: a=4, b=3, z=3, c=1, q=1 -> V=2 vocab is {a, b} (z loses the
    # tie with b on the token-asc tiebreak at the boundary... b=3, z=3:
    # order by (n desc, w asc) -> a, b, z; LIMIT 2 keeps {a, b})
    out = {r.doc_id: (r.n_tokens, r.n_oov, r.oov_rate) for r in vocab_coverage(docs, vocab_size=2).collect()}
    assert out == {
        1: (6, 1, round(1 / 6, 6)),
        2: (3, 1, round(1 / 3, 6)),
        3: (3, 3, 1.0),
    }


# ---------------------------------------------------------------------------
# Adamic-Adar co-occurrence scores
# ---------------------------------------------------------------------------


def test_adamic_adar_hand_computed(spark):
    from com_danliris_service_etl_spark.operators.graph import (
        cooccurrence_adamic_adar,
        group_items,
    )

    rows = [
        # group 1: {a, b, c} (sz 3) -> pairs ab, ac, bc at 1/ln3
        (1, "a"), (1, "b"), (1, "c"), (1, "a"),   # dup membership ignored
        # group 2: {a, b} (sz 2) -> ab at 1/ln2
        (2, "a"), (2, "b"),
        # group 3: {a, d} -> ad (only 1 common group, filtered)
        (3, "a"), (3, "d"),
        # group 4: singleton -> nothing
        (4, "z"),
    ]
    df = spark.createDataFrame(rows, "gid long, item string")
    got = {
        (r.src, r.dst): (r.n_common, r.aa_score)
        for r in cooccurrence_adamic_adar(group_items(df, "gid", "item"), min_common=2).collect()
    }
    assert got == {("a", "b"): (2, round(1 / math.log(3) + 1 / math.log(2), 6))}
    # min_common=1 keeps every co-occurring pair
    got1 = {
        (r.src, r.dst)
        for r in cooccurrence_adamic_adar(group_items(df, "gid", "item"), min_common=1).collect()
    }
    assert got1 == {("a", "b"), ("a", "c"), ("b", "c"), ("a", "d")}


# ---------------------------------------------------------------------------
# DP noisy counts
# ---------------------------------------------------------------------------


def test_dp_noisy_counts_deterministic_and_bounded(spark):
    from com_danliris_service_etl_spark.operators.privacy import dp_noisy_counts

    df = spark.createDataFrame(
        [("x",)] * 100 + [("y",)] * 50, "g string"
    )
    a = {r.g: r.noisy_count for r in dp_noisy_counts(df, ["g"], eps=0.5).collect()}
    b = {r.g: r.noisy_count for r in dp_noisy_counts(df, ["g"], eps=0.5).collect()}
    assert a == b  # seeded draw -> reproducible release
    # noise is centered small relative to eps=0.5 (b=2): P(|noise|>20) ~ e^-10
    assert abs(a["x"] - 100) < 20 and abs(a["y"] - 50) < 20
    # different seed -> different draw (overwhelmingly)
    c = {r.g: r.noisy_count for r in dp_noisy_counts(df, ["g"], eps=0.5, seed="dp2").collect()}
    assert c != a


# ---------------------------------------------------------------------------
# Embedding covariance via partial gramians
# ---------------------------------------------------------------------------


def test_embedding_covariance_matches_numpy(spark):
    import numpy as np

    from com_danliris_service_etl_spark.operators.similarity import (
        embedding_covariance,
    )

    rng = np.random.default_rng(7)
    X = rng.normal(size=(60, 5)).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(60)],
        "vec_id long, embedding array<float>",
    ).repartition(4)  # multiple Arrow batches -> partials really merge
    got = {(r.i, r.j): r.cov for r in embedding_covariance(df, "embedding", 5).collect()}
    want = np.cov(X.astype("float64"), rowvar=False, ddof=1)
    assert len(got) == 15
    for (i, j), v in got.items():
        assert abs(v - want[i - 1, j - 1]) < 1e-6, (i, j, v, want[i - 1, j - 1])


# ---------------------------------------------------------------------------
# Snapshot diff (CDC extraction)
# ---------------------------------------------------------------------------


def test_snapshot_diff_classifies_iud(spark):
    from com_danliris_service_etl_spark.operators.scd import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", None), (4, "d", 40.0)],
        "k long, s string, v double",
    )
    new = spark.createDataFrame(
        [(2, "b", 20.0), (3, "c2", None), (4, "d", None), (5, "e", 50.0)],
        "k long, s string, v double",
    )
    got = {r.k: (r.s, r.v, r.op) for r in snapshot_diff(old, new, ["k"]).collect()}
    assert got == {
        1: ("a", 10.0, "D"),     # deleted — old payload survives
        3: ("c2", None, "U"),    # string changed, null value unchanged
        4: ("d", None, "U"),     # value 40.0 -> NULL is a change (null-safe)
        5: ("e", 50.0, "I"),
    }
    # key 2 unchanged -> absent


def test_snapshot_diff_cdc_roundtrip(spark):
    """Round-trip law: applying the diff (with old as seed inserts)
    through cdc_apply reproduces the new snapshot exactly."""
    from com_danliris_service_etl_spark.operators.scd import (
        cdc_apply,
        snapshot_diff,
    )

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "k long, s string, v double",
    )
    new = spark.createDataFrame(
        [(1, "a", 11.0), (3, "c", 30.0), (4, "d", 40.0)],
        "k long, s string, v double",
    )
    seed = old.withColumn("op", F.lit("I")).withColumn("seq", F.lit(0))
    log = snapshot_diff(old, new, ["k"]).withColumn("seq", F.lit(1))
    state = cdc_apply(seed.unionByName(log), ["k"], "seq")
    got = {(r.k, r.s, r.v) for r in state.select("k", "s", "v").collect()}
    want = {(r.k, r.s, r.v) for r in new.collect()}
    assert got == want


# ---------------------------------------------------------------------------
# Interval-overlap join
# ---------------------------------------------------------------------------


def _overlap_ref(left, right, keyed=True):
    out = []
    for a in left:
        for b in right:
            if keyed and a[0] != b[0]:
                continue
            if a[1] < b[2] and b[1] < a[2]:
                out.append((a, b))
    return out


@pytest.mark.parametrize("bin_width", [1, 3, 100])
def test_interval_overlap_join_matches_bruteforce(spark, bin_width):
    from com_danliris_service_etl_spark.operators.joins import (
        interval_overlap_join,
    )

    # touching intervals (1,4) vs (4,7) must NOT match; containment,
    # identical, spanning and negative-coordinate intervals must
    left = [(1, 0, 5), (1, 4, 7), (1, -10, 30), (2, 2, 3), (2, -4, -1)]
    right = [(1, 4, 6), (1, 7, 9), (2, -2, 2), (2, 3, 4), (3, 0, 99)]
    lf = spark.createDataFrame(left, "k long, lo long, hi long")
    rf = spark.createDataFrame(
        [(k, lo, hi) for k, lo, hi in right], "rk long, rlo long, rhi long"
    )
    got = sorted(
        (r.k, r.lo, r.hi, r.rlo, r.rhi)
        for r in interval_overlap_join(
            lf, rf, "lo", "hi", "rlo", "rhi",
            equi_keys=[("k", "rk")], bin_width=bin_width,
        ).collect()
    )
    want = sorted(
        (a[0], a[1], a[2], b[1], b[2]) for a, b in _overlap_ref(left, right)
    )
    assert got == want


def test_interval_overlap_stats_matches_pair_bruteforce(spark):
    """r13 sweep-line aggregate: n_pairs / overlap_days must equal the
    brute-force pair enumeration with the strict identity tiebreak —
    including touching intervals (no pair), duplicate-identity rows
    (never pair with each other, still pair with everyone else),
    nested/identical intervals, negative coordinates, and a group with
    no overlaps at all (filtered from the output)."""
    import itertools

    from com_danliris_service_etl_spark.operators.joins import (
        interval_overlap_stats,
    )

    rows = [
        # (group, lo, hi, ok, ln)
        (1, 0, 5, 1, 1), (1, 4, 7, 2, 1), (1, -10, 30, 3, 1),
        (1, 4, 4, 4, 1),  # empty interval: pairs with nothing
        (2, 2, 3, 1, 1), (2, 3, 4, 2, 1),  # touching only: group filtered
        (3, 0, 4, 7, 1), (3, 0, 4, 7, 1), (3, 1, 2, 8, 1),  # dup identity
        (4, -4, -1, 1, 1), (4, -3, -2, 2, 2),  # negative coords, nested
    ]

    def ref():
        out = {}
        for g, grp in itertools.groupby(sorted(rows), key=lambda r: r[0]):
            grp = list(grp)
            n = days = 0
            for i, a in enumerate(grp):
                for b in grp[i + 1:]:
                    if (a[3], a[4]) == (b[3], b[4]):
                        continue  # identical identity: strict order excludes
                    if a[1] < b[2] and b[1] < a[2]:
                        n += 1
                        days += min(a[2], b[2]) - max(a[1], b[1])
            if n:
                out[g] = (n, days)
        return out

    df = spark.createDataFrame(rows, "g long, lo long, hi long, ok long, ln long")
    got = {
        r.g: (r.n_pairs, r.overlap_days)
        for r in interval_overlap_stats(
            df, "lo", "hi", ["g"], tiebreak=["ok", "ln"]
        ).collect()
    }
    assert got == ref(), (got, ref())


def test_interval_overlap_stats_empty_intervals_regression(spark):
    """r13 ADVICE regression pins. Pre-fix, an empty interval's end
    event sorted before its own start, leaving a phantom −1 that (a)
    the tiebreak=() path never corrected and (b) TWO same-position
    distinct-identity empties turned into an uncancelled miscount even
    WITH tiebreak. Empties are now probe events; every case below is
    exact on both paths."""
    from com_danliris_service_etl_spark.operators.joins import (
        interval_overlap_stats,
    )

    cases = [
        # (rows as (g, lo, hi, id), tiebreak?, expected)
        ([(0, 0, 5, 1), (0, 3, 8, 2), (0, 50, 50, 3)], False, {0: (1, 2)}),
        ([(0, 0, 10, 1), (0, 5, 5, 2)], False, {0: (1, 0)}),
        ([(0, 3, 3, 1), (0, 3, 3, 2)], True, {}),  # empty-empty: no pair
        ([(0, 3, 9, 1), (0, 3, 3, 2)], True, {}),  # start == probe pos
        ([(0, 0, 5, 1), (0, 5, 5, 2)], True, {}),  # end == probe pos
        # the uncancelled case: two empties + a straddler → 2 pairs
        ([(0, 3, 3, 1), (0, 3, 3, 2), (0, 0, 10, 3)], True, {0: (2, 0)}),
        # same-identity empty must not pair with its own straddler
        ([(0, 0, 10, 1), (0, 5, 5, 1), (0, 5, 5, 2)], True, {0: (1, 0)}),
    ]
    for rows, tb, want in cases:
        df = spark.createDataFrame(rows, "g long, lo long, hi long, i long")
        got = {
            r.g: (r.n_pairs, r.overlap_days)
            for r in interval_overlap_stats(
                df, "lo", "hi", ["g"], tiebreak=["i"] if tb else ()
            ).collect()
        }
        assert got == want, (rows, tb, got, want)


def test_interval_overlap_stats_equals_join_aggregate_on_fixture(spark):
    """The registry j14 shape: sweep aggregates == the r12 bin-bucketed
    pair join's aggregates over real sf0.001 lineitem intervals."""
    from pyspark.sql import functions as F

    from com_danliris_service_etl_spark.operators.joins import (
        interval_overlap_join,
        interval_overlap_stats,
    )

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    day = F.datediff(
        F.col("l_shipdate").cast("date"), F.lit("1970-01-01").cast("date")
    ).cast("long")
    iv = li.select(
        "l_suppkey", "l_orderkey", "l_linenumber",
        day.alias("lo"), (day + 1 + F.col("l_partkey") % 14).alias("hi"),
    )
    right = (
        iv.withColumnRenamed("l_suppkey", "r_suppkey")
        .withColumnRenamed("l_orderkey", "r_orderkey")
        .withColumnRenamed("l_linenumber", "r_linenumber")
        .withColumnRenamed("lo", "r_lo").withColumnRenamed("hi", "r_hi")
    )
    pairs = interval_overlap_join(
        iv, right, "lo", "hi", "r_lo", "r_hi",
        equi_keys=[("l_suppkey", "r_suppkey")], bin_width=8,
    ).filter(
        (F.col("l_orderkey") < F.col("r_orderkey"))
        | ((F.col("l_orderkey") == F.col("r_orderkey"))
           & (F.col("l_linenumber") < F.col("r_linenumber")))
    )
    want = {
        r.l_suppkey: (r.n_pairs, r.overlap_days)
        for r in pairs.groupBy("l_suppkey").agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(F.least("hi", "r_hi") - F.greatest("lo", "r_lo")).alias(
                "overlap_days"
            ),
        ).collect()
    }
    got = {
        r.l_suppkey: (r.n_pairs, r.overlap_days)
        for r in interval_overlap_stats(
            iv, "lo", "hi", ["l_suppkey"],
            tiebreak=["l_orderkey", "l_linenumber"],
        ).collect()
    }
    assert got == want


def test_interval_overlap_join_no_dedup_needed(spark):
    """A pair sharing MANY bins must still appear exactly once."""
    from com_danliris_service_etl_spark.operators.joins import (
        interval_overlap_join,
    )

    lf = spark.createDataFrame([(1, 0, 100)], "k long, lo long, hi long")
    rf = spark.createDataFrame([(1, 10, 90)], "rk long, rlo long, rhi long")
    rows = interval_overlap_join(
        lf, rf, "lo", "hi", "rlo", "rhi",
        equi_keys=[("k", "rk")], bin_width=5,
    ).collect()
    assert len(rows) == 1


# ---------------------------------------------------------------------------
# Binned quantile state / rollup
# ---------------------------------------------------------------------------


def test_binned_quantile_rollup_error_bound(spark):
    import numpy as np

    from com_danliris_service_etl_spark.operators.sketches import (
        binned_quantile_rollup,
        binned_quantile_state,
    )

    # deliberately BIMODAL with a wide empty gap: the interpolated
    # median wanders into the gap, so the honest guarantee is the
    # order-statistic bracket, never |est - quantile_cont| <= c*width
    rng = np.random.RandomState(7)
    vals = np.concatenate(
        [rng.exponential(100.0, 500), rng.normal(1000.0, 50.0, 500)]
    )
    rows = [("g" + str(i % 4), float(v)) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "g string, v double")
    n_bins = 128
    width = (vals.max() - vals.min()) / n_bins
    state = binned_quantile_state(df, "v", ["g"], n_bins)
    out = binned_quantile_rollup(state, [], [0.5, 0.95]).collect()[0]
    assert out.n == len(vals)
    srt = np.sort(vals)
    for q, col in [(0.5, out.q_0_5), (0.95, out.q_0_95)]:
        k = math.ceil(q * len(vals))           # ANSI discrete quantile
        os_k = srt[k - 1]
        assert col - width - 1e-9 <= os_k <= col + 1e-9


def test_sk6_bracket_contract(spark):
    """The order-statistic bracket proof evicted from the benched
    sk6_quantile_rollup registry query (r11 VERDICT task 2 — the two
    exact percentile() aggregates + join-back scan are evidence a
    deployment never pays, so they live here now): for each coarse
    group and each q, the k-th smallest value (k = ceil(q*n)) must lie
    in [est - width, est]. Checked at sf0.01 on the real fixture —
    exactly the verification the old in-query booleans performed."""
    from com_danliris_service_etl_spark.plans.registry import load_all

    sf_dir = "/root/testdata/sf0.01"
    fn, _sql = load_all()["sk6_quantile_rollup"]
    rolled = {r.l_returnflag: r for r in fn(spark, sf_dir).collect()}
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_returnflag", "l_extendedprice"
    )
    lo_w = li.agg(
        F.min("l_extendedprice").alias("lo"),
        F.greatest(
            (F.max("l_extendedprice") - F.min("l_extendedprice"))
            / F.lit(256.0),
            F.lit(1e-12),
        ).alias("w"),
    ).collect()[0]
    width = lo_w.w
    vals = {
        r.l_returnflag: sorted(v for v in r.vs if v is not None)
        for r in li.groupBy("l_returnflag")
        .agg(F.collect_list("l_extendedprice").alias("vs"))
        .collect()
    }
    assert set(vals) == set(rolled)
    for flag, srt in vals.items():
        row = rolled[flag]
        assert row.n == len(srt)
        for q, est in [(0.5, row.q_0_5), (0.95, row.q_0_95)]:
            k = math.ceil(q * len(srt))  # ANSI discrete quantile
            os_k = srt[k - 1]
            eps = 1e-9 * max(abs(est), 1.0)
            assert est - width - eps <= os_k <= est + eps, (
                flag, q, est, width, os_k,
            )


def test_binned_quantile_bounds_param_and_stats_probe(spark, tmp_path):
    """r12 zone-map path: (a) binned_quantile_state(bounds=...) is
    bit-identical to the in-engine bounds scan (the width derivation is
    the same IEEE chain driver-side); (b) parquet_column_bounds returns
    the exact min/max for a clean column and None for a NaN-poisoned one
    (parquet writers omit min/max stats there), which routes callers to
    the scan fallback."""
    import math

    import pandas as pd

    from com_danliris_service_etl_spark.operators.sketches import (
        binned_quantile_rollup,
        binned_quantile_state,
        parquet_column_bounds,
    )

    rows = [("g" + str(i % 3), float(i * 7 % 101)) for i in range(300)]
    df = spark.createDataFrame(rows, "g string, v double")
    scanned = binned_quantile_rollup(
        binned_quantile_state(df, "v", ["g"], 64), ["g"], [0.5, 0.95]
    ).collect()
    lo = min(v for _, v in rows)
    hi = max(v for _, v in rows)
    given = binned_quantile_rollup(
        binned_quantile_state(df, "v", ["g"], 64, bounds=(lo, hi)),
        ["g"], [0.5, 0.95],
    ).collect()
    assert sorted(map(tuple, scanned)) == sorted(map(tuple, given))

    clean = tmp_path / "clean.parquet"
    pd.DataFrame({"v": [3.5, -1.25, 9.0]}).to_parquet(clean)
    assert parquet_column_bounds(spark, str(clean), "v") == (-1.25, 9.0)
    poisoned = tmp_path / "nan.parquet"
    pd.DataFrame({"v": [1.0, float("nan"), 2.0]}).to_parquet(poisoned)
    b = parquet_column_bounds(spark, str(poisoned), "v")
    # pyarrow may either omit stats (None -> scan fallback) or write
    # NaN-free min/max; both are safe — what must NEVER come back is NaN
    assert b is None or not any(math.isnan(x) for x in b)
    assert parquet_column_bounds(spark, str(tmp_path / "missing.parquet"), "v") is None
    # r12 advice: a MISSING/misnamed column must take the documented
    # None -> scan fallback, not index the last column's stats via -1
    assert parquet_column_bounds(spark, str(clean), "no_such_col") is None


def test_binned_quantile_state_merges_across_increments(spark):
    """State built on two halves and unioned must roll up to the same
    answer as state built on the whole — the mergeability contract."""
    from com_danliris_service_etl_spark.operators.sketches import (
        binned_quantile_rollup,
        binned_quantile_state,
    )

    rows = [("a", float(i)) for i in range(100)]
    df = spark.createDataFrame(rows, "g string, v double")
    whole = binned_quantile_state(df, "v", ["g"], 64)
    # identical global bounds on both halves (production pins bounds
    # once); slice AFTER binning to model two increments of one state
    half1 = whole.limit(0).unionByName(whole.filter(F.col("__qbin") < 32))
    half2 = whole.filter(F.col("__qbin") >= 32)
    merged = half1.unionByName(half2)
    a = binned_quantile_rollup(whole, ["g"], [0.5]).collect()[0]
    b = binned_quantile_rollup(merged, ["g"], [0.5]).collect()[0]
    assert a.n == b.n and a.q_0_5 == b.q_0_5


def test_binned_quantile_constant_column(spark):
    """Degenerate all-equal values: width floor keeps the math finite
    and the estimate lands on the constant."""
    from com_danliris_service_etl_spark.operators.sketches import (
        binned_quantile_rollup,
        binned_quantile_state,
    )

    df = spark.createDataFrame([("a", 5.0)] * 10, "g string, v double")
    state = binned_quantile_state(df, "v", ["g"], 16)
    out = binned_quantile_rollup(state, ["g"], [0.5]).collect()[0]
    assert out.n == 10
    assert abs(out.q_0_5 - 5.0) < 1e-6


# ---------------------------------------------------------------------------
# Gaps and islands
# ---------------------------------------------------------------------------


def test_gap_islands_hand_computed(spark):
    from com_danliris_service_etl_spark.operators.windows import gap_islands

    rows = [
        # group a: {1,2,3, 7, 9,10} -> islands (1,3,3) (7,7,1) (9,10,2)
        ("a", 1), ("a", 2), ("a", 3), ("a", 7), ("a", 9), ("a", 10),
        # duplicates must collapse; singleton group
        ("a", 2), ("b", 5), ("b", 5),
        # NULL ticks dropped
        ("c", None),
    ]
    df = spark.createDataFrame(rows, "g string, t int")
    got = sorted(
        (r.g, r.island_start, r.island_end, r.island_len)
        for r in gap_islands(df, ["g"], "t").collect()
    )
    assert got == [
        ("a", 1, 3, 3),
        ("a", 7, 7, 1),
        ("a", 9, 10, 2),
        ("b", 5, 5, 1),
    ]


def test_gap_islands_negative_ticks(spark):
    from com_danliris_service_etl_spark.operators.windows import gap_islands

    df = spark.createDataFrame(
        [("g", -3), ("g", -2), ("g", 0)], "g string, t long"
    )
    got = sorted(
        (r.island_start, r.island_end, r.island_len)
        for r in gap_islands(df, ["g"], "t").collect()
    )
    assert got == [(-3, -2, 2), (0, 0, 1)]


# ---------------------------------------------------------------------------
# Per-group OLS trend
# ---------------------------------------------------------------------------


def test_group_trend_matches_numpy(spark):
    import numpy as np

    from com_danliris_service_etl_spark.operators.quality import group_trend

    rng = np.random.RandomState(11)
    xs = np.arange(50)
    rows = []
    for g, (m, c) in [("up", (2.5, 10.0)), ("down", (-0.75, 3.0))]:
        ys = m * xs + c + rng.normal(0, 0.5, len(xs))
        rows += [(g, int(x), float(y)) for x, y in zip(xs, ys)]
    df = spark.createDataFrame(rows, "g string, x long, y double")
    got = {r.g: (r.n, r.slope, r.intercept) for r in group_trend(df, ["g"], "x", "y").collect()}
    for g in ("up", "down"):
        ys = np.array([y for gg, _, y in rows if gg == g])
        m, c = np.polyfit(xs, ys, 1)
        n, slope, icept = got[g]
        assert n == len(xs)
        assert abs(slope - m) < 1e-6 and abs(icept - c) < 1e-6


def test_group_trend_degenerate_x_yields_null(spark):
    from com_danliris_service_etl_spark.operators.quality import group_trend

    df = spark.createDataFrame(
        [("g", 4, 1.0), ("g", 4, 2.0)], "g string, x long, y double"
    )
    row = group_trend(df, ["g"], "x", "y").collect()[0]
    assert row.n == 2 and row.slope is None and row.intercept is None


# ---------------------------------------------------------------------------
# Sparse TF-IDF cosine pairs
# ---------------------------------------------------------------------------


def _sparse_cosine_ref(docs, threshold, k=3, min_df=2, max_df=100):
    """Pure-Python mirror of sparse_cosine_pairs (same rounding)."""
    tf = {}
    for did, text in docs:
        ts = text.split(" ")
        if len(ts) < k:
            continue
        for i in range(len(ts) - k + 1):
            s = " ".join(ts[i : i + k])
            tf[(did, s)] = tf.get((did, s), 0) + 1
    df = {}
    for (_, s), _c in tf.items():
        df[s] = df.get(s, 0) + 1
    kept = {s for s, d in df.items() if min_df <= d <= max_df}
    n = float(len(docs))
    w = {
        (did, s): round(c * math.log(n / df[s]), 6)
        for (did, s), c in tf.items()
        if s in kept
    }
    norms = {}
    for (did, s), wt in w.items():
        norms[did] = norms.get(did, 0.0) + wt * wt
    norms = {d: math.sqrt(v) for d, v in norms.items()}
    pairs = {}
    for (da, s), wa in w.items():
        for (db, s2), wb in w.items():
            if s == s2 and da < db:
                pairs[(da, db)] = pairs.get((da, db), 0.0) + (
                    wa / norms[da]
                ) * (wb / norms[db])
    return {
        p: round(c, 4) for p, c in pairs.items() if round(c, 4) >= threshold
    }


def test_sparse_cosine_pairs_matches_reference(spark):
    from com_danliris_service_etl_spark.operators.text import (
        sparse_cosine_pairs,
    )

    docs = [
        (1, "a b c d e f"),
        (2, "a b c d x y"),          # shares prefix shingles with 1
        (3, "a b c d e f"),          # identical to 1 -> cos 1.0
        (4, "p q r s t u"),          # disjoint
        (5, "p q r s a b"),          # shares with 4 only via kept shingles
        (6, "z z"),                  # < k tokens, drops out
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r.doc_a, r.doc_b): r.cos_sim
        for r in sparse_cosine_pairs(df, threshold=0.05).collect()
    }
    want = _sparse_cosine_ref(docs, 0.05)
    assert got == want
    assert got[(1, 3)] == pytest.approx(1.0)
    assert (1, 4) not in got


def test_sparse_cosine_df_cap_prunes_hot_shingles(spark):
    """A shingle present in EVERY doc is dropped by max_df, so docs
    sharing only that shingle produce no pair."""
    from com_danliris_service_etl_spark.operators.text import (
        sparse_cosine_pairs,
    )

    docs = [(i, f"common one two u{i} v{i} w{i}") for i in range(1, 6)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = sparse_cosine_pairs(df, threshold=0.01, max_df=3).collect()
    assert out == []
