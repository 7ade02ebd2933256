"""Round-7b operators: grouped mode, weighted median, running distinct,
winsorized stats, business-day arithmetic — each checked against a small
pure-Python reference model (the test_round6/7_ops.py strategy) — plus
consistency properties for keyset pagination and grouping sets."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# grouped_mode
# ---------------------------------------------------------------------------


def test_grouped_mode_basic_and_tiebreak(spark):
    from com_danliris_service_etl_spark.operators.windows import grouped_mode

    rows = [
        # group 1: 'b' wins on count
        (1, "a"), (1, "b"), (1, "b"),
        # group 2: tie between 'x' and 'y' → smallest value 'x' wins
        (2, "y"), (2, "x"), (2, "x"), (2, "y"),
        # group 3: single row
        (3, "z"),
    ]
    df = spark.createDataFrame(rows, "g long, v string")
    got = {
        r.g: (r.modal_value, r.cnt)
        for r in grouped_mode(df, ["g"], "v").collect()
    }
    assert got == {1: ("b", 2), 2: ("x", 2), 3: ("z", 1)}


def test_grouped_mode_multi_key_groups(spark):
    from com_danliris_service_etl_spark.operators.windows import grouped_mode

    rows = [(1, "p", 10), (1, "p", 10), (1, "p", 20), (1, "q", 30)]
    df = spark.createDataFrame(rows, "a long, b string, v long")
    got = {
        (r.a, r.b): (r.modal_value, r.cnt)
        for r in grouped_mode(df, ["a", "b"], "v").collect()
    }
    assert got == {(1, "p"): (10, 2), (1, "q"): (30, 1)}


# ---------------------------------------------------------------------------
# running_distinct
# ---------------------------------------------------------------------------


def test_running_distinct_counts_debuts_once(spark):
    from com_danliris_service_etl_spark.operators.windows import running_distinct

    rows = [
        # group g: u1 debuts day 1 (re-seen day 2 and 3 — never recounted),
        # u2 debuts day 2, u3 debuts day 2, u4 debuts day 5 (gap day 4)
        ("g", "u1", 1), ("g", "u1", 2), ("g", "u1", 3),
        ("g", "u2", 2), ("g", "u3", 2), ("g", "u3", 3),
        ("g", "u4", 5),
        # group h independent
        ("h", "u1", 7),
    ]
    df = spark.createDataFrame(rows, "g string, u string, d long")
    out = {
        (r.g, r.d): (r.new_entities, r.cum_distinct)
        for r in running_distinct(df, ["g"], "u", "d").collect()
    }
    assert out == {
        ("g", 1): (1, 1),
        ("g", 2): (2, 3),
        ("g", 5): (1, 4),
        ("h", 7): (1, 1),
    }


# ---------------------------------------------------------------------------
# weighted_median
# ---------------------------------------------------------------------------


def _wmedian_ref(pairs):
    """Lower weighted median: min v with 2 * cum_weight(<= v) >= total."""
    total = sum(w for _, w in pairs)
    cum = 0
    for v, w in sorted(pairs):
        cum += w
        if 2 * cum >= total:
            return v
    raise AssertionError("unreachable")


def test_weighted_median_hand_cases(spark):
    from com_danliris_service_etl_spark.operators.quality import weighted_median

    cases = {
        # heavy tail weight pulls the median to the single heavy value
        "a": [(1.0, 1), (2.0, 1), (10.0, 6)],
        # exact half crossing at the lower value (2*cum == total)
        "b": [(1.0, 2), (5.0, 2)],
        # duplicate value rows must merge before the crossing test
        "c": [(3.0, 1), (3.0, 1), (9.0, 1)],
        # single row
        "d": [(42.0, 7)],
    }
    rows = [(g, v, w) for g, pairs in cases.items() for v, w in pairs]
    df = spark.createDataFrame(rows, "g string, v double, w long")
    got = {
        r.g: r.weighted_median
        for r in weighted_median(df, ["g"], "v", "w").collect()
    }
    assert got == {g: _wmedian_ref(pairs) for g, pairs in cases.items()}
    assert got["a"] == 10.0 and got["b"] == 1.0 and got["c"] == 3.0


def test_weighted_median_equal_weights_is_lower_median(spark):
    from com_danliris_service_etl_spark.operators.quality import weighted_median

    df = spark.createDataFrame(
        [("g", float(v), 1) for v in [5, 1, 4, 2, 3]], "g string, v double, w long"
    )
    got = weighted_median(df, ["g"], "v", "w").collect()[0].weighted_median
    assert got == 3.0  # odd n, unit weights → the plain median


# ---------------------------------------------------------------------------
# winsorized_stats
# ---------------------------------------------------------------------------


def test_winsorized_stats_clamps_exact_quantile_band(spark):
    from com_danliris_service_etl_spark.operators.quality import winsorized_stats

    # 21 values 0..20: (n-1)*q is integral at q=0.05/0.95, so the exact
    # interpolated quantiles are the order statistics 1.0 and 19.0 —
    # no interpolation ambiguity in the fixture.
    vals = [float(v) for v in range(21)]
    df = spark.createDataFrame([("g", v) for v in vals], "g string, v double")
    row = winsorized_stats(df, ["g"], "v").collect()[0]
    clamped = [min(max(v, 1.0), 19.0) for v in vals]
    assert row.n == 21
    assert row.n_clipped == 2  # 0.0 and 20.0
    assert row.wins_mean == round(sum(clamped) / len(clamped), 4)


# ---------------------------------------------------------------------------
# business_days_between
# ---------------------------------------------------------------------------


def _bd_ref(start: dt.date, end: dt.date) -> int:
    """Brute force: weekdays in [start, end)."""
    n, d = 0, start
    while d < end:
        if d.weekday() < 5:
            n += 1
        d += dt.timedelta(days=1)
    return n


def test_business_days_hand_cases(spark):
    from com_danliris_service_etl_spark.functions.dates import business_days_between

    cases = [
        ("2024-01-01", "2024-01-01", 0),   # empty interval (Mon)
        ("2024-01-01", "2024-01-05", 4),   # Mon → Fri
        ("2024-01-05", "2024-01-08", 1),   # Fri → Mon (only Fri counts)
        ("2024-01-06", "2024-01-08", 0),   # Sat → Mon
        ("2024-01-01", "2024-01-08", 5),   # full week
        ("2024-01-07", "2024-01-14", 5),   # Sun → Sun spanning one week
    ]
    df = spark.createDataFrame(
        [(s, e) for s, e, _ in cases], "s string, e string"
    ).select(
        business_days_between(
            F.col("s").cast("date"), F.col("e").cast("date")
        ).alias("bd")
    )
    assert [r.bd for r in df.collect()] == [bd for _, _, bd in cases]


def test_business_days_matches_bruteforce_grid(spark):
    from com_danliris_service_etl_spark.functions.dates import business_days_between

    base = dt.date(1995, 3, 1)
    pairs = [
        (base + dt.timedelta(days=i), base + dt.timedelta(days=i + span))
        for i in range(14)
        for span in (0, 1, 3, 9, 30, 365)
    ]
    df = spark.createDataFrame(
        [(s.isoformat(), e.isoformat()) for s, e in pairs], "s string, e string"
    ).select(
        business_days_between(
            F.col("s").cast("date"), F.col("e").cast("date")
        ).alias("bd")
    )
    assert [r.bd for r in df.collect()] == [_bd_ref(s, e) for s, e in pairs]


def test_business_days_accepts_timestamps(spark):
    from com_danliris_service_etl_spark.functions.dates import business_days_between

    df = spark.createDataFrame(
        [("2024-01-01 23:59:59", "2024-01-05 00:00:01")], "s string, e string"
    ).select(
        business_days_between(
            F.col("s").cast("timestamp"), F.col("e").cast("timestamp")
        ).alias("bd")
    )
    assert df.collect()[0].bd == 4  # time of day truncated, Mon → Fri


# ---------------------------------------------------------------------------
# keyset pagination — page-chaining consistency
# ---------------------------------------------------------------------------


def test_keyset_pages_chain_without_gaps_or_overlap(spark):
    """Page 2 fetched with page 1's last row as cursor must equal rows
    21..40 of the full ordered scan — the seek-method contract."""
    from tests.conftest import SF_DIR

    o = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    full = [
        (r.o_orderdate, r.o_orderkey)
        for r in o.orderBy("o_orderdate", "o_orderkey").limit(40).collect()
    ]
    cur_d, cur_k = full[19]
    page2 = o.filter(
        (F.col("o_orderdate") > F.lit(cur_d))
        | ((F.col("o_orderdate") == F.lit(cur_d)) & (F.col("o_orderkey") > F.lit(cur_k)))
    ).orderBy("o_orderdate", "o_orderkey").limit(20)
    got = [(r.o_orderdate, r.o_orderkey) for r in page2.collect()]
    assert got == full[20:40]


# ---------------------------------------------------------------------------
# grouping sets — subtotal consistency
# ---------------------------------------------------------------------------


def test_grouping_sets_subtotals_are_consistent(spark):
    """Each granularity's n_orders must sum to the grand total, and
    grouping() flags must match the NULL pattern of the key columns."""
    from com_danliris_service_etl_spark.plans.queries_graph import (
        g12_grouping_sets,
    )
    from tests.conftest import SF_DIR

    rows = g12_grouping_sets(spark, SF_DIR).collect()
    grand = [r for r in rows if r.g_nation == 1 and r.g_year == 1]
    assert len(grand) == 1
    total = grand[0].n_orders
    by_nation = sum(r.n_orders for r in rows if r.g_nation == 0 and r.g_year == 1)
    by_year = sum(r.n_orders for r in rows if r.g_nation == 1 and r.g_year == 0)
    by_both = sum(r.n_orders for r in rows if r.g_nation == 0 and r.g_year == 0)
    assert by_nation == by_year == by_both == total
    for r in rows:
        assert (r.c_nationkey is None) == (r.g_nation == 1)
        assert (r.order_year is None) == (r.g_year == 1)


def test_weighted_median_twophase_equals_simple(spark):
    """The fact-scale two-phase selection must produce the identical
    weighted median to the single-window form — including groups with
    duplicate values, skewed weights, and the degenerate all-equal
    group (single-bin branch)."""
    from com_danliris_service_etl_spark.operators.quality import (
        weighted_median,
        weighted_median_twophase,
    )

    cases = {
        "a": [(1.0, 1), (2.0, 1), (10.0, 6)],
        "b": [(1.0, 2), (5.0, 2)],
        "c": [(3.0, 1), (3.0, 1), (9.0, 1)],
        "d": [(42.0, 7)],
        "e": [(7.0, 3), (7.0, 4)],           # all values equal → lo == hi
        "f": [(float(v), v % 5 + 1) for v in range(200)],  # many bins
    }
    rows = [(g, v, w) for g, pairs in cases.items() for v, w in pairs]
    df = spark.createDataFrame(rows, "g string, v double, w long")
    simple = {r.g: r.weighted_median for r in weighted_median(df, ["g"], "v", "w").collect()}
    two = {r.g: r.weighted_median for r in weighted_median_twophase(df, ["g"], "v", "w").collect()}
    assert two == simple
    # r13 global-bounds path (zone-map feed): any monotone binning is
    # correct, so GLOBAL bounds — even padded ones — must give the same
    # crossing values as the per-group grids; also the degenerate
    # hi == lo global domain (single-bin branch)
    for b in ((1.0, 199.0), (-500.0, 500.0)):
        g = {
            r.g: r.weighted_median
            for r in weighted_median_twophase(df, ["g"], "v", "w", bounds=b).collect()
        }
        assert g == simple, b
    only_e = df.filter(df.g == "e")
    ge = weighted_median_twophase(
        only_e, ["g"], "v", "w", bounds=(7.0, 7.0)
    ).collect()
    assert {r.g: r.weighted_median for r in ge} == {"e": 7.0}


def test_weighted_median_twophase_on_lineitem(spark):
    from com_danliris_service_etl_spark.operators.quality import (
        weighted_median,
        weighted_median_twophase,
    )
    from tests.conftest import SF_DIR

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    simple = {
        r.l_returnflag: r.weighted_median
        for r in weighted_median(li, ["l_returnflag"], "l_extendedprice", "l_quantity").collect()
    }
    two = {
        r.l_returnflag: r.weighted_median
        for r in weighted_median_twophase(li, ["l_returnflag"], "l_extendedprice", "l_quantity").collect()
    }
    assert two == simple and len(two) == 3


def test_weighted_median_direct_equals_preagg(spark):
    """pre_aggregate is cost-based only: both forms must agree on every
    group, including duplicate-value runs whose intra-run cumsum order
    is engine-arbitrary (the crossing depends only on run-END sums)."""
    from com_danliris_service_etl_spark.operators.quality import weighted_median
    from tests.conftest import SF_DIR

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    args = (["l_returnflag"], "l_extendedprice", "l_quantity")
    pre = {r.l_returnflag: r.weighted_median for r in weighted_median(li, *args).collect()}
    direct = {
        r.l_returnflag: r.weighted_median
        for r in weighted_median(li, *args, pre_aggregate=False).collect()
    }
    assert direct == pre
    dup = spark.createDataFrame(
        [("g", 3.0, 1), ("g", 3.0, 1), ("g", 3.0, 2), ("g", 9.0, 3)],
        "g string, v double, w long",
    )
    assert (
        weighted_median(dup, ["g"], "v", "w", pre_aggregate=False).collect()[0].weighted_median
        == weighted_median(dup, ["g"], "v", "w").collect()[0].weighted_median
        == 3.0
    )
