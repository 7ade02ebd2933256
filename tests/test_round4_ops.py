"""Unit tests for the round-4 session-2 operators: unigram-LM quality
scores, exact-Jaccard verification of LSH candidates, path transitions,
and the streaming dedup-stats twin."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from com_danliris_service_etl_spark.operators.dedup import (
    exact_jaccard_verify,
    minhash_lsh_pairs,
)
from com_danliris_service_etl_spark.operators.text import unigram_logprob_scores

_DOC_SCHEMA = "doc_id long, text string"
_VEC_SCHEMA = "vec_id long, embedding array<float>"


def test_unigram_logprob_hand_computed(spark):
    # corpus: a×3, b×1 → p(a)=3/4, p(b)=1/4
    docs = spark.createDataFrame([(1, "a a b"), (2, "a")], _DOC_SCHEMA)
    rows = {r.doc_id: r for r in unigram_logprob_scores(docs).collect()}
    lpa = round(math.log(3 / 4), 6)
    lpb = round(math.log(1 / 4), 6)
    assert rows[1].n_tokens == 3 and rows[2].n_tokens == 1
    assert rows[1].mean_logprob == round((2 * lpa + lpb) / 3, 4)
    assert rows[2].mean_logprob == round(lpa, 4)


def test_unigram_logprob_bands(spark):
    # uniform 4-token vocab: every doc's mean is ln(1/4) ≈ -1.3863
    docs = spark.createDataFrame(
        [(1, "a b"), (2, "c d"), (3, "a c")], _DOC_SCHEMA
    )
    out = unigram_logprob_scores(docs, low=-1.5, high=-1.0).collect()
    assert all(r.lm_band == "keep" for r in out)
    out = unigram_logprob_scores(docs, low=-1.0, high=0.0).collect()
    assert all(r.lm_band == "drop" for r in out)


def test_exact_jaccard_verify_hand_computed(spark):
    # doc 1/2: identical → J=1; doc 3: shares 2 of its 3 shingles with 4
    docs = spark.createDataFrame(
        [
            (1, "w x y z"),
            (2, "w x y z"),
            (3, "p q r s t"),
            (4, "p q r s u"),
        ],
        _DOC_SCHEMA,
    )
    pairs = spark.createDataFrame([(1, 2), (3, 4)], "doc_a long, doc_b long")
    rows = {(r.doc_a, r.doc_b): r for r in exact_jaccard_verify(docs, pairs).collect()}
    r12 = rows[(1, 2)]
    assert (r12.inter, r12.union, r12.exact_jaccard, r12.verified) == (2, 2, 1.0, True)
    # doc 3 shingles {pqr,qrs,rst}, doc 4 {pqr,qrs,rsu} → inter 2, union 4
    r34 = rows[(3, 4)]
    assert (r34.inter, r34.union, r34.verified) == (2, 4, False)
    assert r34.exact_jaccard == 0.5


def test_exact_jaccard_verify_zero_overlap_pair(spark):
    # a candidate pair with no shared shingles must survive with inter=0,
    # not be dropped by the intersection join
    docs = spark.createDataFrame([(1, "a b c"), (2, "x y z")], _DOC_SCHEMA)
    pairs = spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")
    (r,) = exact_jaccard_verify(docs, pairs).collect()
    assert (r.inter, r.union, r.exact_jaccard, r.verified) == (0, 2, 0.0, False)


def test_funnel_verify_rejects_sub_threshold_candidates(spark):
    # two exact dups + one 0.5-Jaccard near-dup: LSH may propose all
    # pairs, verification must keep only the exact pair
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "the quick brown fox jumps over the lazy dog today"),
            (3, "the quick brown fox leaps over a lazy cat today"),
        ],
        _DOC_SCHEMA,
    )
    cands = minhash_lsh_pairs(docs)
    ver = exact_jaccard_verify(docs, cands, thresh_num=19, thresh_den=20)
    kept = {(r.doc_a, r.doc_b) for r in ver.filter(F.col("verified")).collect()}
    assert kept == {(1, 2)}


def test_streaming_dedup_stats_matches_batch(spark, tmp_path):
    from com_danliris_service_etl_spark.plans.queries_streaming import st5_dedup_stats
    from com_danliris_service_etl_spark.streaming.jobs import (
        run_streaming_dedup_stats,
    )

    sf_dir = "/root/testdata/sf0.001"
    batch = {tuple(r) for r in st5_dedup_stats(spark, sf_dir).collect()}
    stream = {
        tuple(r)
        for r in run_streaming_dedup_stats(
            spark, sf_dir, query_name="t_dedup_stats"
        ).collect()
    }
    assert batch == stream and len(batch) > 0


def test_token_balanced_shards_balance_bound(spark):
    from com_danliris_service_etl_spark.operators.packing import (
        token_balanced_shards,
    )

    # skewed lengths: one giant doc + many small ones
    rows = [(0, " ".join(["w"] * 500))] + [
        (i, " ".join(["w"] * (10 + i % 7))) for i in range(1, 101)
    ]
    docs = spark.createDataFrame(rows, _DOC_SCHEMA)
    out = token_balanced_shards(docs, n_shards=4).collect()
    assert len(out) == 4 and sum(r.n_docs for r in out) == 101
    totals = sorted(r.shard_tokens for r in out)
    # sorted round-robin: spread bounded by the largest doc (coarse LPT
    # bound); hash-sharding by count would let the giant doc double a shard
    assert totals[-1] - totals[0] <= 500
    # deterministic: same input -> same manifest
    again = token_balanced_shards(docs, n_shards=4).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_recall_at_k_hand_computed(spark):
    from com_danliris_service_etl_spark.operators.similarity import recall_at_k

    tk = "query_id long, neighbor_id long"
    exact = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 20), (2, 21)], tk
    )
    # query 1: both hit; query 2: none hit (approx found different ids)
    approx = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 30), (2, 31)], tk
    )
    rows = {r.query_id: r for r in recall_at_k(exact, approx, k=2).collect()}
    assert (rows[1].n_hits, rows[1].recall) == (2, 1.0)
    assert (rows[2].n_hits, rows[2].recall) == (0, 0.0)


def test_window_language_profile_detects_code_switch(spark):
    from com_danliris_service_etl_spark.operators.text import (
        window_language_profile,
    )

    en = "the cat sat on the mat and a dog ran to the park of joy " * 2  # en markers
    fr = "le chien et les chats des villes et le parc les arbres et " * 2  # fr markers
    docs = spark.createDataFrame(
        [
            (1, (en + en + en).strip()),   # consistent en
            (2, (en + fr + fr).strip()),   # 1/3 en, 2/3 fr -> mixed, dominant fr
        ],
        _DOC_SCHEMA,
    )
    rows = {r.doc_id: r for r in window_language_profile(docs, window_tokens=28).collect()}
    assert rows[1].dominant_lang == "en" and rows[1].agreement == 1.0
    assert not rows[1].is_mixed
    assert rows[2].dominant_lang == "fr" and rows[2].is_mixed
    assert 0 < rows[2].agreement < 1.0


def test_snapshot_drift_flags_and_presence(spark):
    from com_danliris_service_etl_spark.operators.quality import snapshot_drift

    schema = "doc_id long, source string, n_chars long"
    old = spark.createDataFrame(
        [(1, "a", 100), (2, "a", 100), (3, "b", 50), (4, "gone", 10)], schema
    )
    new = spark.createDataFrame(
        # a: stable; b: doubled count + halved mean; fresh: new group
        [(1, "a", 100), (2, "a", 100), (3, "b", 25), (5, "b", 25), (6, "fresh", 7)],
        schema,
    )
    rows = {r.source: r for r in snapshot_drift(old, new, "source", "n_chars").collect()}
    assert not rows["a"].drifted and rows["a"].presence == "both"
    assert rows["b"].drifted and rows["b"].growth == 1.0 and rows["b"].value_drift == 0.5
    assert rows["fresh"].presence == "new_group" and rows["fresh"].drifted
    assert rows["gone"].presence == "vanished_group" and rows["gone"].drifted
    assert rows["gone"].n_new == 0 and rows["fresh"].n_old == 0


def test_pq_encode_exact_codebook_match(spark):
    from com_danliris_service_etl_spark.operators.similarity import (
        pq_codebook,
        pq_encode,
    )

    # 4-dim, m=2 (2-dim subspaces); codebook = two distinct vectors
    cbv = spark.createDataFrame(
        [(0, [0.0, 0.0, 0.0, 0.0]), (1, [1.0, 1.0, 1.0, 1.0])], _VEC_SCHEMA
    )
    # vec 10: first subspace matches cb1, second matches cb0
    vecs = spark.createDataFrame([(10, [1.0, 1.0, 0.0, 0.0])], _VEC_SCHEMA)
    cb = pq_codebook(cbv)
    codes = {
        (r.vec_id, r.mi): r.code
        for r in pq_encode(vecs, cb, m=2, dim=4).collect()
    }
    assert codes == {(10, 0): 1, (10, 1): 0}


def test_pq_topk_identical_vector_ranks_first(spark):
    from com_danliris_service_etl_spark.operators.similarity import pq_topk

    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0, 0.0]),
            (1, [0.0, 1.0, 0.0, 0.0]),
            (2, [1.0, 0.0, 0.0, 0.0]),   # identical to query 0
            (3, [0.5, 0.5, 0.5, 0.5]),
        ],
        _VEC_SCHEMA,
    )
    q = emb.filter(F.col("vec_id") == 0)
    out = {r.rank: r for r in pq_topk(emb, q, emb, k=3, m=2, dim=4).collect()}
    # codes of vec 2 equal codes of the query -> ADC distance exactly 0
    assert out[1].neighbor_id == 2 and out[1].approx_l2sq == 0.0


def test_l_diversity_flags_homogeneous_group(spark):
    from com_danliris_service_etl_spark.operators.privacy import l_diversity_audit

    df = spark.createDataFrame(
        # group A: 3 rows, all same sensitive value -> NOT l-diverse
        # group B: 3 rows, two values -> l-diverse, dominant 2/3
        [("A", "x"), ("A", "x"), ("A", "x"), ("B", "x"), ("B", "x"), ("B", "y")],
        "qid string, sens string",
    )
    rows = {r.qid: r for r in l_diversity_audit(df, ["qid"], "sens", l=2).collect()}
    assert not rows["A"].l_diverse and rows["A"].dominant_share == 1.0
    assert rows["A"].n_sensitive_values == 1 and rows["A"].group_size == 3
    assert rows["B"].l_diverse and rows["B"].dominant_share == round(2 / 3, 6)


def test_cdc_apply_replay_semantics(spark):
    from com_danliris_service_etl_spark.operators.scd import cdc_apply

    log = spark.createDataFrame(
        [
            (1, "I", 1, 10.0),  # plain insert
            (2, "I", 1, 20.0), (2, "U", 2, 25.0),       # update wins
            (3, "I", 1, 30.0), (3, "D", 2, 30.0),        # deleted key vanishes
            (4, "I", 1, 40.0), (4, "D", 2, 40.0), (4, "I", 3, 45.0),  # re-insert after delete
        ],
        "k long, op string, seq long, v double",
    )
    out = {r.k: r for r in cdc_apply(log, ["k"], "seq").collect()}
    assert set(out) == {1, 2, 4}
    assert out[1].v == 10.0 and out[2].v == 25.0 and out[4].v == 45.0
    # replaying the same log (same seq) is a no-op
    again = {r.k: r for r in cdc_apply(log.unionByName(log), ["k"], "seq").collect()}
    assert {k: (r.v, r.seq) for k, r in out.items()} == {
        k: (r.v, r.seq) for k, r in again.items()
    }


def test_fuzzy_blocked_join_matches_and_blocks(spark):
    from com_danliris_service_etl_spark.operators.joins import fuzzy_blocked_join

    l = spark.createDataFrame(
        [(1, "acme corp"), (2, "blue bolt")], "l_key long, nm string"
    )
    r = spark.createDataFrame(
        [(10, "acme corp."), (11, "acme inc"), (12, "blue bolt")],
        "r_key long, nm string",
    )
    out = {(x.l_key, x.r_key): x.edit_dist for x in
           fuzzy_blocked_join(l, r, "nm", max_dist=2).collect()}
    # one-edit and zero-edit matches survive; 'acme inc' is 4+ edits away
    assert out == {(1, 10): 1, (2, 12): 0}
    # a match whose edits touch the blocking prefix is missed (documented
    # recall/cost trade): 'Xcme corp' blocks under 'Xcm', not 'acm'
    r2 = spark.createDataFrame([(13, "Xcme corp")], "r_key long, nm string")
    assert fuzzy_blocked_join(l, r2, "nm", max_dist=2).count() == 0


def test_resample_gap_fill_locf_and_gaps(spark):
    from com_danliris_service_etl_spark.operators.rollup import resample_gap_fill

    H = 3_600_000_000
    ev = spark.createDataFrame(
        # type a: buckets 0 and 3 (gap at 1, 2); type b: bucket 1 only
        [("a", 0 * H + 5, 10.0), ("a", 0 * H + 6, 20.0), ("a", 3 * H, 30.0),
         ("b", 1 * H, 7.0)],
        "event_type string, ts_us long, value double",
    )
    out = {(r.event_type, r.bucket_start_us // H): r
           for r in resample_gap_fill(ev).collect()}
    # dense grid: global bounds [0, 3] for every type -> 8 rows
    assert len(out) == 8
    a1 = out[("a", 1)]
    assert a1.is_gap and a1.n == 0 and a1.sum_value == 0.0
    assert a1.ffill_mean == 15.0            # LOCF from bucket 0 mean
    assert out[("a", 3)].ffill_mean == 30.0  # real observation resumes
    b0 = out[("b", 0)]
    assert b0.is_gap and b0.ffill_mean is None  # nothing to carry yet
    assert out[("b", 1)].n == 1 and not out[("b", 1)].is_gap


def test_boilerplate_ngram_stats_hand_computed(spark):
    from com_danliris_service_etl_spark.operators.text import (
        boilerplate_ngram_stats,
    )

    # "a b c" occurs in docs 1-3 (min_docs=3 → boilerplate); doc 3 also
    # has the unique shingles of "x y z w"; doc 4 is all-unique; doc 5
    # is too short for any shingle and must drop out.
    docs = spark.createDataFrame(
        [
            (1, "a b c"),
            (2, "a b c"),
            (3, "a b c x y z w"),
            (4, "p q r s"),
            (5, "t u"),
        ],
        "doc_id long, text string",
    )
    rows = {
        r.doc_id: r
        for r in boilerplate_ngram_stats(docs, k=3, min_docs=3).collect()
    }
    assert set(rows) == {1, 2, 3, 4}
    assert (rows[1].n_shingles, rows[1].n_boiler) == (1, 1)
    # doc 3 distinct shingles: abc, bcx, cxy, xyz, yzw → only abc boiler
    assert (rows[3].n_shingles, rows[3].n_boiler) == (5, 1)
    assert rows[3].boiler_share == 0.2
    assert (rows[4].n_shingles, rows[4].n_boiler) == (2, 0)


def test_boilerplate_repeated_shingle_counted_once_per_doc(spark):
    from com_danliris_service_etl_spark.operators.text import (
        boilerplate_ngram_stats,
    )

    # "a b c" repeated INSIDE doc 1 must count it once (distinct per
    # doc), so with min_docs=2 it is NOT boilerplate from doc 1 alone.
    docs = spark.createDataFrame(
        [(1, "a b c a b c"), (2, "z z z")], "doc_id long, text string"
    )
    rows = {
        r.doc_id: r
        for r in boilerplate_ngram_stats(docs, k=3, min_docs=2).collect()
    }
    # doc 1 distinct: abc, bca, cab → all unique to doc 1
    assert rows[1].n_boiler == 0


def test_contamination_passages_localizes_hit(spark):
    from com_danliris_service_etl_spark.operators.dedup import (
        contamination_passages,
    )

    bench = spark.createDataFrame([(100, "m n o")], "doc_id long, text string")
    # doc 1: passage 0 clean, passage 1 contains the benchmark shingle;
    # doc 2 clean; doc 3 shorter than one passage and clean.
    clean4 = "a b c d"
    docs = spark.createDataFrame(
        [
            (1, clean4 + " " + "m n o d"),
            (2, "p q r s t u v w"),
            (3, "x y"),
        ],
        "doc_id long, text string",
    )
    rows = {
        r.doc_id: r
        for r in contamination_passages(
            docs, bench, k_pass=4, k_shingle=3
        ).collect()
    }
    assert (rows[1].n_passages, rows[1].n_contaminated, rows[1].first_hit_pos) == (
        2, 1, 1,
    )
    assert rows[1].cont_share == 0.5
    assert (rows[2].n_contaminated, rows[2].first_hit_pos) == (0, None)
    # 2-token doc: one passage, too short for any 3-shingle → clean
    assert (rows[3].n_passages, rows[3].n_contaminated) == (1, 0)


def test_contamination_passage_boundary_shingle_not_matched(spark):
    from com_danliris_service_etl_spark.operators.dedup import (
        contamination_passages,
    )

    # The benchmark shingle straddles the passage boundary (tokens 3-5
    # of an 8-token doc with k_pass=4): NEITHER passage contains it
    # wholly, so the doc must be clean — passages are the match grain.
    bench = spark.createDataFrame([(100, "c d e")], "doc_id long, text string")
    docs = spark.createDataFrame(
        [(1, "a b c d e f g h")], "doc_id long, text string"
    )
    r = contamination_passages(docs, bench, k_pass=4, k_shingle=3).collect()[0]
    assert (r.n_passages, r.n_contaminated) == (2, 0)


def test_cluster_safe_split_cluster_atomicity(spark):
    from com_danliris_service_etl_spark.operators.sampling import (
        cluster_safe_split,
    )

    docs = spark.createDataFrame(
        [(i,) for i in range(1, 8)], "doc_id long"
    )
    # components {1,2,3} (chain) and {5,6}; 4 and 7 singletons
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "doc_a long, doc_b long"
    )
    rows = {r.doc_id: r for r in cluster_safe_split(docs, edges).collect()}
    assert {rows[i].cluster_id for i in (1, 2, 3)} == {1}
    assert {rows[i].cluster_id for i in (5, 6)} == {5}
    assert rows[4].cluster_id == 4 and rows[7].cluster_id == 7
    # the leakage guarantee: one split per cluster
    assert len({rows[i].split for i in (1, 2, 3)}) == 1
    assert len({rows[i].split for i in (5, 6)}) == 1
    # split derives from the cluster id's hash, so members share buckets
    assert len({rows[i].bucket for i in (1, 2, 3)}) == 1


def test_topk_per_group_rank_and_tiebreak(spark):
    from com_danliris_service_etl_spark.operators.windows import topk_per_group

    df = spark.createDataFrame(
        [
            ("g1", 1, 10.0),
            ("g1", 2, 30.0),
            ("g1", 3, 30.0),
            ("g1", 4, 5.0),
            ("g2", 5, 1.0),
        ],
        "grp string, id long, v double",
    )
    out = topk_per_group(
        df, "grp", [F.col("v").desc(), F.col("id")], k=2
    ).collect()
    got = {(r.grp, r.id): r.rn for r in out}
    # tie at 30.0 broken by id: 2 before 3; 4 (v=5.0) cut by k=2
    assert got == {("g1", 2): 1, ("g1", 3): 2, ("g2", 5): 1}


def test_hourly_anomalies_mad_flags(spark):
    from com_danliris_service_etl_spark.operators.quality import hourly_anomalies

    # type a: counts per hour = [4, 4, 4, 5, 40] → med 4, MAD 0... use
    # spread counts instead: [2, 4, 4, 6, 40] → med 4, devs [2,0,0,2,36],
    # MAD 2 → only the 40-bucket exceeds 3*MAD=6.
    rows = []
    counts = {0: 2, 1: 4, 2: 4, 3: 6, 4: 40}
    for hb, n in counts.items():
        rows += [("a", hb * 3_600_000_000 + i) for i in range(n)]
    # type b: flat-lined [3, 3, 3] → MAD 0 → nothing deviates, no flags
    for hb in range(3):
        rows += [("b", hb * 3_600_000_000 + i) for i in range(3)]
    ev = spark.createDataFrame(rows, "event_type string, ts_us long")
    out = {
        (r.event_type, r.bucket_start_us // 3_600_000_000): r
        for r in hourly_anomalies(ev).collect()
    }
    a = {hb: out[("a", hb)] for hb in counts}
    assert a[0].med == 4.0 and a[0].mad == 2.0
    assert [a[hb].is_anomaly for hb in range(5)] == [
        False, False, False, False, True,
    ]
    # degenerate MAD=0 branch: deviation 0 everywhere → clean
    assert all(not out[("b", hb)].is_anomaly for hb in range(3))


def test_hourly_anomalies_mad_zero_flags_any_deviation(spark):
    from com_danliris_service_etl_spark.operators.quality import hourly_anomalies

    # counts [5, 5, 5, 5, 6]: med 5, devs [0,0,0,0,1] → MAD 0 → the
    # lone 6-bucket is flagged even though 3*MAD would pass it.
    rows = []
    for hb, n in enumerate([5, 5, 5, 5, 6]):
        rows += [("a", hb * 3_600_000_000 + i) for i in range(n)]
    ev = spark.createDataFrame(rows, "event_type string, ts_us long")
    out = {
        r.bucket_start_us // 3_600_000_000: r
        for r in hourly_anomalies(ev).collect()
    }
    assert out[4].mad == 0.0 and out[4].is_anomaly
    assert not any(out[h].is_anomaly for h in range(4))


def test_cosine_zero_norm_yields_null_not_abort(spark):
    """A single all-zero embedding (padding / failed-embed rows) must
    yield NULL cosine — under ANSI mode a bare division aborts the job."""
    from com_danliris_service_etl_spark.operators.similarity import (
        brute_force_topk,
        ivf_assign_cells,
    )

    emb = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [1.0, 2.0]), (3, [2.0, 4.0])],
        _VEC_SCHEMA,
    )
    out = brute_force_topk(emb, emb.filter(F.col("vec_id") == 2), k=2)
    rows = {r.neighbor_id: r.cos_sim for r in out.collect()}
    assert 3 in rows  # the real neighbor survives
    assert 1 not in rows  # zero-norm candidate dropped (NULL score)
    cells = ivf_assign_cells(
        emb, centroids=emb.filter(F.col("vec_id") == 2)
    ).collect()
    assert {r.vec_id: r.cell for r in cells}[1] is None  # unassignable


def test_lsh_rejects_bad_band_config(spark):
    import pytest as _pytest

    from com_danliris_service_etl_spark.operators.dedup import minhash_lsh_pairs

    docs = spark.createDataFrame([(1, "a b c d")], _DOC_SCHEMA)
    with _pytest.raises(ValueError, match="must divide"):
        minhash_lsh_pairs(docs, n_perms=16, bands=32)
    with _pytest.raises(ValueError, match="must divide"):
        minhash_lsh_pairs(docs, n_perms=16, bands=5)


def test_passage_dedup_rejects_string_and_oversized_ids(spark):
    import pytest as _pytest

    from com_danliris_service_etl_spark.operators.dedup import passage_dedup

    sdocs = spark.createDataFrame(
        [("a", "x y z")], "doc_id string, text string"
    )
    with _pytest.raises(TypeError, match="integral"):
        passage_dedup(sdocs)
    big = spark.createDataFrame(
        [(9_220_000_000_000_000_000, "x y z")], "doc_id long, text string"
    )
    with _pytest.raises(Exception, match="overflow"):
        passage_dedup(big, k=2).collect()


def test_detect_language_without_ground_truth_column(spark):
    from com_danliris_service_etl_spark.operators.text import detect_language

    docs = spark.createDataFrame([(1, "the a of and to")], "doc_id long, text string")
    out = detect_language(docs).collect()[0]
    assert out.lang_pred == "en"
    assert "lang_actual" not in detect_language(docs).columns


def test_english_prose_with_we_not_chinese(spark):
    from com_danliris_service_etl_spark.operators.text import detect_language

    docs = spark.createDataFrame(
        [(1, "we think we can and we will do it", "en")],
        "doc_id long, text string, lang string",
    )
    out = detect_language(docs).collect()[0]
    assert out.lang_pred == "en"  # 'we' must not score as a zh marker


def test_filtered_topk_label_isolation_and_rank(spark):
    """sim13's operator contract: retrieval NEVER crosses the filter
    value (the reason post-filtering an unfiltered ANN is wrong — a
    cross-label near-neighbor must not consume a rank slot), self is
    excluded, and within a label ranks follow (cos desc, id asc)."""
    from com_danliris_service_etl_spark.operators.similarity import (
        filtered_topk,
    )

    rows = [
        # label A: 0 and 1 identical direction, 2 orthogonal
        (0, [1.0, 0.0], "A"), (1, [2.0, 0.0], "A"), (2, [0.0, 1.0], "A"),
        # label B: 3's nearest is 4; 5 is opposite
        (3, [1.0, 1.0], "B"), (4, [2.0, 2.0], "B"), (5, [-1.0, -1.0], "B"),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string"
    )
    got = {}
    for r in filtered_topk(emb, emb, k=2, filter_col="label").collect():
        got.setdefault(r.query_id, []).append((r.rank, r.neighbor_id, r.cos_sim))
    for q, hits in got.items():
        q_label = rows[q][2]
        assert all(rows[n][2] == q_label for _, n, _ in hits), (q, hits)
        assert all(n != q for _, n, _ in hits)
    assert [n for _, n, _ in sorted(got[0])] == [1, 2]  # same-dir first
    assert sorted(got[3])[0][1] == 4
    assert sorted(got[5])[0][2] < 0  # best available is still opposite


def test_mmr_rerank_skips_near_duplicate(spark):
    """The MMR contract on a hand-built pool: candidates A and A' are
    near-copies (cos(A,A') ~ 1) and both very similar to the query; B is
    moderately similar but diverse. Plain top-2 keeps {A, A'}; MMR's
    second step must penalize A' by its redundancy with the already-
    selected A and pick B instead (at lam = 0.5; at 0.7 the query term
    still dominates this pool's redundancy penalty — checked both)."""
    from com_danliris_service_etl_spark.operators.similarity import mmr_rerank

    rows = [
        (100, [1.0, 0.0, 0.0]),        # query
        (1, [0.99, 0.14, 0.0]),        # A  (cos to q ~ 0.990)
        (2, [0.99, 0.141, 0.0]),       # A' (near-copy of A)
        (3, [0.7, 0.0, 0.71]),         # B  (cos to q ~ 0.70, diverse)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        r.mmr_rank: (r.neighbor_id, r.mmr_score)
        for r in mmr_rerank(
            emb, emb.filter(F.col("vec_id") == 100), k=2, pool=3, lam=0.5
        ).collect()
    }
    assert got[1][0] == 1          # step 1 = plain argmax (A; id tiebreak)
    assert got[2][0] == 3          # step 2 diversifies to B, not A'
    # and the scores are the definition: lam*cos - (1-lam)*max_sel_sim
    assert got[1][1] > got[2][1]

    # degenerate guards
    import pytest as _pt
    with _pt.raises(ValueError):
        mmr_rerank(emb, emb.filter(F.col("vec_id") == 100), k=5, pool=3)
