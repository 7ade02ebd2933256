"""Round-6 operators: PageRank, count-min sketch, nearest as-of join —
each checked against a small pure-Python reference model (the same
strategy test_properties.py uses for the as-of/first-match joins)."""

from __future__ import annotations

import collections
import hashlib

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# PageRank
# ---------------------------------------------------------------------------


def _pr_ref(edges, iters=3, d=0.85):
    """Reference PageRank: dict-of-floats power iteration."""
    nodes = sorted({s for s, _, _ in edges} | {t for _, t, _ in edges})
    out = collections.Counter()
    for s, _, w in edges:
        out[s] += w
    n = len(nodes)
    r = {v: 1.0 / n for v in nodes}
    for _ in range(iters):
        contrib = collections.defaultdict(float)
        for s, t, w in edges:
            contrib[t] += r[s] * w / out[s]
        r = {v: (1 - d) / n + d * contrib.get(v, 0.0) for v in nodes}
    return r


def test_pagerank_matches_reference_model(spark):
    from com_danliris_service_etl_spark.operators.graph import pagerank

    edges = [
        ("a", "b", 2.0), ("b", "a", 2.0),
        ("b", "c", 1.0), ("c", "b", 1.0),
        ("a", "c", 1.0), ("c", "a", 1.0),
    ]
    df = spark.createDataFrame(edges, "src string, dst string, w double")
    got = {r.node: r.rank for r in pagerank(df, weight="w", iterations=3).collect()}
    want = _pr_ref(edges)
    assert set(got) == set(want)
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-12)
    # ranks are a probability distribution (bidirected graph, no dangling
    # mass): they must sum to 1
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_pagerank_unweighted_and_hub_dominates(spark):
    from com_danliris_service_etl_spark.operators.graph import pagerank

    # star: hub h bidirected to 3 leaves — hub must outrank every leaf
    edges = []
    for leaf in ("x", "y", "z"):
        edges += [("h", leaf, 1.0), (leaf, "h", 1.0)]
    df = spark.createDataFrame(edges, "src string, dst string, w double")
    got = {r.node: r.rank for r in pagerank(df, weight="w", iterations=5).collect()}
    want = _pr_ref(edges, iters=5)
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-12)
    assert got["h"] > max(got[v] for v in ("x", "y", "z"))


def test_pagerank_fast_paths_equal_default(spark):
    """`sources_cover_nodes` (bidirected node set off the out-degree
    aggregate) and `broadcast_ranks` (map-side superstep joins) are pure
    physical levers — identical ranks to the default path."""
    from com_danliris_service_etl_spark.operators.graph import pagerank

    edges = [
        ("a", "b", 2.0), ("b", "a", 2.0),
        ("b", "c", 1.0), ("c", "b", 1.0),
        ("a", "c", 3.0), ("c", "a", 3.0),
    ]
    df = spark.createDataFrame(edges, "src string, dst string, w double")
    base = {r.node: r.rank for r in pagerank(df, weight="w", iterations=3).collect()}
    fast = {
        r.node: r.rank
        for r in pagerank(
            df, weight="w", iterations=3,
            sources_cover_nodes=True, broadcast_ranks=True,
        ).collect()
    }
    assert set(base) == set(fast)
    for v in base:
        assert fast[v] == pytest.approx(base[v], abs=1e-15)


# ---------------------------------------------------------------------------
# Count-min sketch
# ---------------------------------------------------------------------------


def _cms_ref(counts: dict[str, int], width: int, depth: int) -> dict[str, int]:
    """Reference CMS estimate per token (same md5 hashing scheme)."""
    def bucket(r, tok):
        return int(hashlib.md5(f"{r}:{tok}".encode()).hexdigest()[:8], 16) % width

    est = {}
    for tok in counts:
        cells = []
        for r in range(depth):
            b = bucket(r, tok)
            cells.append(sum(c for t, c in counts.items() if bucket(r, t) == b))
        est[tok] = min(cells)
    return est


@pytest.mark.parametrize("width", [4, 1024])
def test_countmin_estimates_match_reference(spark, width):
    from com_danliris_service_etl_spark.operators.sketches import (
        countmin_estimate,
        countmin_sketch,
    )

    counts = {"alpha": 7, "beta": 3, "gamma": 5, "delta": 2, "epsilon": 1}
    rows = [(t,) for t, c in counts.items() for _ in range(c)]
    toks = spark.createDataFrame(rows, "token string")
    sketch = countmin_sketch(toks, width=width, depth=2)
    cand = spark.createDataFrame([(t,) for t in counts], "token string")
    got = {
        r.token: r.est_cnt
        for r in countmin_estimate(cand, sketch, width=width, depth=2).collect()
    }
    want = _cms_ref(counts, width, 2)
    assert got == want
    # the CMS one-sided bound: never an underestimate
    for t, c in counts.items():
        assert got[t] >= c
    if width == 1024:  # collision-free at this vocabulary — exact
        assert got == counts


@pytest.mark.parametrize("width", [4, 1024])
def test_countmin_estimate_handles_unseen_tokens(spark, width):
    """Candidates OUTSIDE the sketched corpus: an unseen token hitting
    any empty (absent) cell must estimate 0, and every candidate must
    appear in the output — the sparse sketch's missing cells coalesce to
    0 rather than dropping out of the min (review finding r6)."""
    from com_danliris_service_etl_spark.operators.sketches import (
        countmin_estimate,
        countmin_sketch,
    )

    counts = {"alpha": 7, "beta": 3}
    toks = spark.createDataFrame(
        [(t,) for t, c in counts.items() for _ in range(c)], "token string"
    )
    sketch = countmin_sketch(toks, width=width, depth=2)
    unseen = ["aaa", "aaf", "zzz", "qqq"]
    cand = spark.createDataFrame(
        [(t,) for t in list(counts) + unseen], "token string"
    )
    got = {
        r.token: r.est_cnt
        for r in countmin_estimate(cand, sketch, width=width, depth=2).collect()
    }
    want = _cms_ref({**counts, **{t: 0 for t in unseen}}, width, 2)
    assert got == want                      # includes every candidate
    for t in unseen:
        assert got[t] >= 0                  # one-sided bound still holds
    if width == 1024:                       # collision-free → exactly 0
        assert all(got[t] == 0 for t in unseen)


def test_countmin_rollup_form_equals_stream_form(spark):
    """`counts_col` (build from pre-aggregated (token, count) rows) must
    produce the identical sketch — cell sums are associative."""
    from com_danliris_service_etl_spark.operators.sketches import countmin_sketch

    counts = {"alpha": 7, "beta": 3, "gamma": 5, "delta": 2}
    stream = spark.createDataFrame(
        [(t,) for t, c in counts.items() for _ in range(c)], "token string"
    )
    agg = spark.createDataFrame(list(counts.items()), "token string, n long")
    a = {
        (r.row, r.bucket): r.cnt
        for r in countmin_sketch(stream, width=8, depth=2).collect()
    }
    b = {
        (r.row, r.bucket): r.cnt
        for r in countmin_sketch(agg, width=8, depth=2, counts_col="n").collect()
    }
    assert a == b


def test_tokens_of_drops_nulls_and_empties(spark):
    from com_danliris_service_etl_spark.operators.sketches import tokens_of

    docs = spark.createDataFrame(
        [(1, "a  b"), (2, None), (3, ""), (4, "c")], "doc_id long, text string"
    )
    got = sorted(r.token for r in tokens_of(docs).collect())
    assert got == ["a", "b", "c"]  # double space → empty token dropped


# ---------------------------------------------------------------------------
# Nearest as-of join
# ---------------------------------------------------------------------------


def _nearest_ref(left, right):
    """Reference nearest-asof: brute force per left row. left rows are
    (id, key, ts); right rows are (key, rts, rid). Returns id -> rid."""
    out = {}
    for lid, lk, lts in left:
        best = None
        for rk, rts, rid in right:
            if rk != lk or rk is None or lk is None:
                continue
            cand = (abs(lts - rts), 0 if rts <= lts else 1, -rid)
            if best is None or cand < best[0]:
                best = (cand, rid)
        out[lid] = best[1] if best else None
    return out


def test_asof_nearest_directions_ties_and_misses(spark):
    from com_danliris_service_etl_spark.operators.joins import asof_nearest

    left = [
        (1, "k1", 100),  # backward (90) closer than forward (150)
        (2, "k1", 140),  # forward (150) closer than backward (90)
        (3, "k1", 120),  # equidistant 90/150 → backward wins
        (4, "k2", 50),   # exact match at 50
        (5, "k3", 10),   # no right rows for k3 → null
        (6, None, 10),   # NULL key matches nothing
    ]
    right = [
        ("k1", 90, 11), ("k1", 150, 12),
        ("k2", 50, 21), ("k2", 49, 22),
        (None, 10, 31),  # NULL-key right row can never match
    ]
    ldf = spark.createDataFrame(left, "id long, k string, ts long")
    rdf = spark.createDataFrame(right, "rk string, rts long, rid long")
    out = asof_nearest(
        ldf, rdf, left_on="ts", right_on="rts", by=[("k", "rk")], tiebreak="rid"
    )
    got = {r.id: r.rid for r in out.collect()}
    assert got == _nearest_ref(left, right)
    assert got == {1: 11, 2: 12, 3: 11, 4: 21, 5: None, 6: None}


def test_asof_nearest_equal_ts_highest_tiebreak(spark):
    from com_danliris_service_etl_spark.operators.joins import asof_nearest

    ldf = spark.createDataFrame([(1, 100), (2, 205)], "id long, ts long")
    rdf = spark.createDataFrame(
        [(90, 5), (90, 7), (210, 3), (210, 9)], "rts long, rid long"
    )
    out = asof_nearest(ldf, rdf, left_on="ts", right_on="rts", tiebreak="rid")
    got = {r.id: r.rid for r in out.collect()}
    # backward at 90: rid 7 beats 5; forward at 210: rid 9 beats 3
    assert got == {1: 7, 2: 9}


def test_asof_nearest_single_shuffle_single_sort(spark):
    """The 100 TB contract: tag+union+one exchange+one sort; both
    direction scans are frames of the same window ordering."""
    import contextlib
    import io

    from com_danliris_service_etl_spark.operators.joins import asof_nearest

    ldf = spark.range(100).selectExpr("id", "id * 7 as ts", "id % 5 as k")
    rdf = spark.range(50).selectExpr(
        "id as rid", "id * 11 as rts", "id % 5 as rk"
    )
    out = asof_nearest(
        ldf, rdf, left_on="ts", right_on="rts", by=[("k", "rk")], tiebreak="rid"
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert plan.count("Exchange (") == 1, plan
    assert plan.count("Sort (") == 1, plan
    assert "CartesianProduct" not in plan and "SortMergeJoin" not in plan


# ---------------------------------------------------------------------------
# k-means fit
# ---------------------------------------------------------------------------


def _kmeans_ref(vecs: dict[int, list[float]], k: int, iters: int):
    """Reference Lloyd's: cosine assignment (lowest cid on ties), mean
    update, seeds = k lowest ids."""
    import math

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        return d / (na * nb)

    cents = {i: vecs[i] for i in sorted(vecs)[:k]}
    for _ in range(iters):
        members = {}
        for vid, v in vecs.items():
            best = max(
                sorted(cents),
                key=lambda c: (cos(v, cents[c]), -c),
            )
            members.setdefault(best, []).append(v)
        cents = {
            c: [sum(col) / len(vs) for col in zip(*vs)]
            for c, vs in members.items()
        }
    return cents, {c: len(vs) for c, vs in members.items()}


def test_kmeans_fit_matches_reference_model(spark):
    from com_danliris_service_etl_spark.operators.clustering import kmeans_fit

    # two tight clusters around orthogonal directions; ids 0 and 1 are the
    # seeds and land one in each cluster
    vecs = {
        0: [1.0, 0.1, 0.0, 0.0],
        2: [0.9, 0.0, 0.1, 0.0],
        4: [1.1, 0.1, 0.1, 0.0],
        1: [0.0, 1.0, 0.0, 0.1],
        3: [0.1, 0.9, 0.0, 0.0],
        5: [0.0, 1.1, 0.1, 0.1],
    }
    df = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], "vec_id long, embedding array<double>"
    )
    got = {
        r.cid: (list(r.centroid), r.n_members)
        for r in kmeans_fit(df, k=2, iterations=2).collect()
    }
    want_c, want_n = _kmeans_ref(vecs, k=2, iters=2)
    assert set(got) == set(want_c) == {0, 1}
    for cid in want_c:
        assert got[cid][1] == want_n[cid] == 3
        for a, b in zip(got[cid][0], want_c[cid]):
            assert a == pytest.approx(b, abs=1e-12)


def test_kmeans_fit_is_deterministic_across_runs(spark):
    """Same input → identical centroids (seeds and tiebreaks are pinned),
    the property the DuckDB oracle checks exactly at sf0.01."""
    from com_danliris_service_etl_spark.operators.clustering import kmeans_fit

    df = spark.range(40).selectExpr(
        "id as vec_id",
        "transform(sequence(1, 6), i -> cast(hash(id, i) % 100 AS DOUBLE) / 10.0)"
        " as embedding",
    )
    a = {r.cid: list(r.centroid) for r in kmeans_fit(df, k=4, iterations=2).collect()}
    b = {r.cid: list(r.centroid) for r in kmeans_fit(df, k=4, iterations=2).collect()}
    assert a == b


# ---------------------------------------------------------------------------
# Degenerate inputs
# ---------------------------------------------------------------------------


def test_round6_ops_degenerate_inputs(spark):
    """Empty/undersized inputs flow through without ANSI aborts: pagerank
    of an empty edge list is an empty rank table, k-means with fewer
    vectors than k returns one (singleton) cluster per vector, and
    nearest-asof with an empty side degrades to empty/left-null rows."""
    from com_danliris_service_etl_spark.operators.clustering import kmeans_fit
    from com_danliris_service_etl_spark.operators.graph import pagerank
    from com_danliris_service_etl_spark.operators.joins import asof_nearest

    empty_e = spark.createDataFrame([], "src string, dst string, w double")
    assert pagerank(empty_e, weight="w").collect() == []

    two = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "vec_id long, embedding array<double>"
    )
    got = sorted((r.cid, r.n_members) for r in kmeans_fit(two, k=5, iterations=2).collect())
    assert got == [(0, 1), (1, 1)]

    le = spark.createDataFrame([], "id long, ts long")
    rt = spark.createDataFrame([(5, 1)], "rts long, rid long")
    assert asof_nearest(le, rt, "ts", "rts").collect() == []

    l2 = spark.createDataFrame([(1, 10)], "id long, ts long")
    re_ = spark.createDataFrame([], "rts long, rid long")
    rows = asof_nearest(l2, re_, "ts", "rts").collect()
    assert len(rows) == 1 and rows[0].rid is None and rows[0].rts is None


def test_centrality_keeper_beats_min_id_on_path_cluster(spark, tmp_path):
    """The llm12 upgrade over llm7's min-id keeper, pinned: in a path
    cluster a—b—c (a,c similar to b but not to each other), the keeper
    must be the CENTER b — the most representative member — even though
    a has the lowest id."""
    import math

    from com_danliris_service_etl_spark.plans.queries_llm import (
        llm12_centrality_keeper,
    )

    def mk(u9, u10):
        v = [0.1] * 8 + [0.0] * 56  # first 8 dims positive → same LSH block
        v[8], v[9] = u9, u10
        return v

    s = 1 / math.sqrt(2)
    rows = [(0, mk(1.0, 0.0), 0), (1, mk(s, s), 0), (2, mk(0.0, 1.0), 0)]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(str(tmp_path / "embeddings.parquet"))

    out = {r.vec_id: r for r in llm12_centrality_keeper(spark, str(tmp_path)).collect()}
    # one cluster (min id 0), keeper is the CENTER (id 1), not the min id
    assert {r.cluster_id for r in out.values()} == {0}
    assert [v for v, r in out.items() if r.is_centrality_keeper] == [1]
    assert out[1].rank > out[0].rank and out[0].rank == out[2].rank


def test_pagerank_hot_destination_skew(spark):
    """Scale-honesty pin: a celebrity node with 50k in-edges must flow
    through the partial-aggregated groupBy(dst) — correct mass in, plan
    free of window-over-dst (the hot-key hazard) — and the whole run
    stays seconds, not minutes."""
    from com_danliris_service_etl_spark.operators.graph import pagerank

    # 50k fans each bidirected with one hub
    fans = spark.range(1, 50_001).selectExpr("concat('f', id) AS fan")
    edges = fans.selectExpr("fan AS src", "'hub' AS dst", "1.0 AS w").unionByName(
        fans.selectExpr("'hub' AS src", "fan AS dst", "1.0 AS w")
    )
    ranks = {
        r.node: r.rank
        for r in pagerank(
            edges, weight="w", iterations=2,
            sources_cover_nodes=True, broadcast_ranks=True,
        ).collect()
    }
    n = 50_001
    # closed form after 2 iterations of the star: hub gets the reset share
    # plus d * (total fan mass), each fan gets reset + d * hub_rank / 50k
    hub1 = (1 - 0.85) / n + 0.85 * (50_000 / n)
    fan1 = (1 - 0.85) / n + 0.85 * (1 / n) / 50_000
    hub2 = (1 - 0.85) / n + 0.85 * (50_000 * fan1)
    fan2 = (1 - 0.85) / n + 0.85 * hub1 / 50_000
    assert ranks["hub"] == pytest.approx(hub2, rel=1e-9)
    assert ranks["f1"] == pytest.approx(fan2, rel=1e-9)
    assert len(ranks) == n
    assert sum(ranks.values()) == pytest.approx(1.0, abs=1e-6)


def test_pagerank_tol_early_stop_and_equivalence(spark):
    """With tol set, iterations is a MAXIMUM: an already-converged graph
    (symmetric pair — ranks stay 1/N forever) stops after the first
    probe with the correct ranks, and a tiny tol reproduces the
    fixed-iteration result exactly."""
    from com_danliris_service_etl_spark.operators.graph import pagerank

    pair = spark.createDataFrame(
        [("a", "b", 1.0), ("b", "a", 1.0)], "src string, dst string, w double"
    )
    got = {r.node: r.rank for r in pagerank(pair, weight="w", iterations=50, tol=1e-12).collect()}
    assert got == {"a": pytest.approx(0.5), "b": pytest.approx(0.5)}

    tri = spark.createDataFrame(
        [("a", "b", 2.0), ("b", "a", 2.0), ("b", "c", 1.0), ("c", "b", 1.0)],
        "src string, dst string, w double",
    )
    fixed = {r.node: r.rank for r in pagerank(tri, weight="w", iterations=3).collect()}
    tiny_tol = {
        r.node: r.rank
        for r in pagerank(tri, weight="w", iterations=3, tol=1e-300).collect()
    }
    assert fixed == tiny_tol


# ---------------------------------------------------------------------------
# Schema drift (control plane)
# ---------------------------------------------------------------------------


def test_schema_drift_detects_added_removed_type_changed(spark):
    from com_danliris_service_etl_spark.operators.quality import schema_drift

    old = spark.createDataFrame([], "id long, v string, amt double, note string")
    new = spark.createDataFrame([], "id long, v string, amt decimal(12,2), extra int")
    got = {(r.column, r.status, r.old_type, r.new_type)
           for r in schema_drift(old, new).collect()}
    assert got == {
        ("amt", "type_changed", "double", "decimal(12,2)"),
        ("extra", "added", None, "int"),
        ("note", "removed", "string", None),
    }
    # identical schemas → empty drift report
    assert schema_drift(old, old).collect() == []
