"""Round-14 optimization equivalence tests: each rewrite that changed an
operator's internals gets a focused check that the NEW form computes
exactly what the old form computed (the oracle sweep proves end-to-end
equality; these pin the internal contracts so a future refactor can't
silently drift them)."""

from __future__ import annotations

from pyspark.sql import functions as F


def _docs(spark):
    rows = [
        (1, "a b c d e f"),
        (2, "a b c d e f"),          # exact dup of 1
        (3, "a b c x y z w"),        # partial overlap with 1
        (4, "q r s t u v"),          # disjoint from all
        (5, "a b"),                  # < k tokens: no shingles
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_sig_from_arrs_equals_minhash_signatures(spark):
    """dd12's shared-scan signatures: the MinHash stage over the DISTINCT
    shingle-array relation must be bit-identical to minhash_signatures
    over the multiset (array_min over the distinct set == min over the
    multiset)."""
    from com_danliris_service_etl_spark.operators.dedup import (
        DEFAULT_PERMS,
        _minhash,
        _shingle_arrays,
        _tokens,
        minhash_signatures,
    )

    docs = _docs(spark)
    arrs = _shingle_arrays(_tokens(docs, "text", "doc_id"), "doc_id", 3)
    mh = [f"mh{p}" for p in range(DEFAULT_PERMS)]
    new = {
        r.doc_id: [r[c] for c in mh]
        for r in _minhash(arrs, "doc_id", DEFAULT_PERMS).collect()
    }
    old = {
        r.doc_id: [r[c] for c in mh]
        for r in minhash_signatures(docs).collect()
    }
    assert set(new) == set(old)  # same doc set (>= k tokens only)
    for doc_id, sig in old.items():
        assert new[doc_id] == sig, f"signature drift for doc {doc_id}"


def test_pair_shingle_intersection_array_form(spark):
    """The verify stage's row-local array form: inter/na/nb must match
    hand-computed distinct-shingle set arithmetic, including the
    zero-overlap pair."""
    from com_danliris_service_etl_spark.operators.dedup import (
        _pair_overlap,
        _shingle_arrays,
        _tokens,
    )

    docs = _docs(spark)
    arrs = _shingle_arrays(_tokens(docs, "text", "doc_id"), "doc_id", 3)
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4)], "doc_a long, doc_b long"
    )
    got = {
        (r.doc_a, r.doc_b): (r.inter, r.na, r.nb)
        for r in _pair_overlap(pairs, arrs, "doc_id").collect()
    }
    # doc1/doc2: "a b c d e f" -> 4 distinct 3-shingles, all shared
    # doc3: "a b c x y z w" -> 5 shingles, shares only "a b c" with doc1
    # doc4: disjoint -> inter 0 (row must still be emitted)
    assert got == {
        (1, 2): (4, 4, 4),
        (1, 3): (1, 4, 5),
        (1, 4): (0, 4, 4),
    }


def test_label_propagation_branches_agree(spark):
    """g17's one-exchange superstep fusion lives on the broadcast_labels
    branch only; both branches must emit identical labels."""
    from com_danliris_service_etl_spark.operators.graph import group_items, label_propagation

    rows = [
        # two baskets forming one dense community, one separate pair
        (10, 1), (10, 2), (10, 3),
        (11, 1), (11, 2), (11, 3),
        (12, 2), (12, 3),
        (20, 7), (20, 8),
    ]
    df = spark.createDataFrame(rows, "g long, i long")
    a = {
        (r.node, r.label)
        for r in label_propagation(group_items(df, "g", "i"), rounds=3,
                                   broadcast_labels=True).collect()
    }
    b = {
        (r.node, r.label)
        for r in label_propagation(group_items(df, "g", "i"), rounds=3,
                                   broadcast_labels=False).collect()
    }
    assert a == b and len(a) == 5


def test_merge_upsert_empty_probe_pre_dedupe(spark, tmp_path):
    """The quiet-night probe now runs on the raw batch: an empty batch
    into an existing fact must still be a no-op, and a duplicate-keyed
    non-empty batch must still dedupe."""
    from com_danliris_service_etl_spark.sources.sinks import merge_upsert

    path = str(tmp_path / "fact")
    spark.createDataFrame([(1, "A"), (2, "B")], "k long, v string") \
        .write.mode("overwrite").parquet(path)
    empty = spark.createDataFrame([], "k long, v string")
    merge_upsert(spark, path, empty, ["k"])
    assert {(r.k, r.v) for r in spark.read.parquet(path).collect()} == {
        (1, "A"), (2, "B")
    }
    dup = spark.createDataFrame(
        [(2, "B2"), (2, "B2"), (3, "C")], "k long, v string"
    )
    merge_upsert(spark, path, dup, ["k"])
    assert {(r.k, r.v) for r in spark.read.parquet(path).collect()} == {
        (1, "A"), (2, "B2"), (3, "C")
    }
