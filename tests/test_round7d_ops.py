"""Round-7d operators: Jaccard neighbor similarity, ISO-week rollup,
systematic sampling, orphan profile — pure-Python reference models and
semantic properties."""

from __future__ import annotations

import datetime as dt
import itertools
from collections import defaultdict

from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# cooccurrence_jaccard
# ---------------------------------------------------------------------------


def _jaccard_ref(rows, min_common=2):
    groups = defaultdict(set)
    for g, item in rows:
        groups[g].add(item)
    item_groups = defaultdict(set)
    for g, items in groups.items():
        for i in items:
            item_groups[i].add(g)
    out = {}
    items = sorted(item_groups)
    for a, b in itertools.combinations(items, 2):
        common = len(item_groups[a] & item_groups[b])
        if common >= min_common:
            union = len(item_groups[a] | item_groups[b])
            out[(a, b)] = (common, round(common / union, 6))
    return out


def test_cooccurrence_jaccard_matches_set_model(spark):
    from com_danliris_service_etl_spark.operators.graph import cooccurrence_jaccard, group_items

    rows = [
        # items 1,2 share groups g1,g2; item 3 only in g1; item 4 alone;
        # duplicate fact rows must not inflate counts
        ("g1", 1), ("g1", 2), ("g1", 3), ("g1", 1),
        ("g2", 1), ("g2", 2),
        ("g3", 2), ("g3", 4),
    ]
    df = spark.createDataFrame(rows, "g string, item long")
    got = {
        (r.src, r.dst): (r.n_common, r.jaccard)
        for r in cooccurrence_jaccard(group_items(df, "g", "item")).collect()
    }
    assert got == _jaccard_ref(rows)
    # item 1 ∈ {g1,g2}, item 2 ∈ {g1,g2,g3} → 2 common / 3 union
    assert got[(1, 2)] == (2, round(2 / 3, 6))


def test_cooccurrence_jaccard_perfect_overlap_is_one(spark):
    from com_danliris_service_etl_spark.operators.graph import cooccurrence_jaccard, group_items

    rows = [(g, i) for g in ("a", "b") for i in (7, 8)]
    df = spark.createDataFrame(rows, "g string, item long")
    got = cooccurrence_jaccard(group_items(df, "g", "item")).collect()
    assert len(got) == 1 and got[0].jaccard == 1.0


# ---------------------------------------------------------------------------
# ISO week
# ---------------------------------------------------------------------------


def test_iso_week_year_boundary(spark):
    """2021-01-01 is ISO week 53 of week-year 2020; 2024-12-30 is week 1
    of week-year 2025 — the boundary cases a (year, weekofyear) grouping
    gets wrong."""
    df = spark.createDataFrame(
        [("2021-01-01",), ("2024-12-30",), ("2024-06-15",)], "d string"
    ).select(F.col("d").cast("date").alias("d"))
    rows = df.select(
        F.expr("extract(YEAROFWEEK FROM d)").cast("int").alias("iso_year"),
        F.weekofyear("d").cast("int").alias("iso_week"),
    ).collect()
    got = [(r.iso_year, r.iso_week) for r in rows]
    ref = [
        dt.date(2021, 1, 1).isocalendar()[:2],
        dt.date(2024, 12, 30).isocalendar()[:2],
        dt.date(2024, 6, 15).isocalendar()[:2],
    ]
    assert got == [(y, w) for y, w in ref]
    assert got[0] == (2020, 53) and got[1] == (2025, 1)


# ---------------------------------------------------------------------------
# systematic sample
# ---------------------------------------------------------------------------


def test_systematic_sample_stride_and_determinism(spark):
    from com_danliris_service_etl_spark.plans.registry import load_all
    from tests.conftest import SF_DIR

    fn, _ = load_all()["o7_systematic_sample"]
    rows = fn(spark, SF_DIR).collect()
    assert rows, "sample must be non-empty"
    # ordinals are exactly 1, 1+N, 1+2N, ... per type
    by_type = defaultdict(list)
    for r in rows:
        by_type[r.event_type].append(r.rn)
    for rns in by_type.values():
        rns.sort()
        assert rns == list(range(1, rns[-1] + 1, 200))
    # deterministic: a second run picks the identical event ids
    again = {(r.event_type, r.rn): r.event_id for r in fn(spark, SF_DIR).collect()}
    first = {(r.event_type, r.rn): r.event_id for r in rows}
    assert again == first


# ---------------------------------------------------------------------------
# orphan profile
# ---------------------------------------------------------------------------


def test_orphan_profile_detects_planted_orphans(spark):
    """Hand fixture: 2 of 5 child rows dangle; NULL fk is NOT an orphan
    (SQL FK semantics)."""
    child = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 99), (4, 98), (5, None)], "id long, fk long"
    )
    parent = spark.createDataFrame([(10,), (11,)], "pk long")
    dangling = child.filter(F.col("fk").isNotNull()).join(
        F.broadcast(parent.select(F.col("pk").alias("fk")).distinct()),
        "fk",
        "left_anti",
    )
    assert dangling.count() == 2


def test_q5_star_schema_is_clean_and_canary_fires(spark):
    from com_danliris_service_etl_spark.plans.registry import load_all
    from tests.conftest import SF_DIR

    fn, _ = load_all()["q5_orphan_profile"]
    got = {r.fk: r.n_orphans for r in fn(spark, SF_DIR).collect()}
    assert set(got) == {
        "lineitem->orders", "lineitem->part", "orders->customer",
        "canary(all-dangling)",
    }
    assert got["lineitem->orders"] == 0
    assert got["lineitem->part"] == 0
    assert got["orders->customer"] == 0
    # the canary's shifted keys are dangling BY CONSTRUCTION: its count
    # must equal the non-null child row count, proving the detector fires
    n_events = (
        spark.read.parquet(f"{SF_DIR}/events.parquet")
        .filter(F.col("user_id").isNotNull())
        .count()
    )
    assert got["canary(all-dangling)"] == n_events > 0
