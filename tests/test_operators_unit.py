"""Operator-level unit tests (SURVEY.md §5.1): boundary values for the
scalar library and determinism contracts for the custom joins."""

from __future__ import annotations

import pytest

import datetime as dt

from pyspark.sql import functions as F

from com_danliris_service_etl_spark.functions import (
    bucket_days_month,
    bucket_days_week,
    category_garment,
    clamp_min_date,
    nan_guard,
    on_time_status,
    repair_year_typos,
    uom_to_meter,
)
from com_danliris_service_etl_spark.operators.joins import asof_join, first_match_join
from com_danliris_service_etl_spark.operators.multimodal import extract_features
from tests.conftest import SF_DIR


def _one(spark, expr_col, **cols):
    schema = ", ".join(f"{k} {v[1]}" for k, v in cols.items())
    df = spark.createDataFrame([tuple(v[0] for v in cols.values())], schema)
    return df.select(expr_col.alias("out")).collect()[0].out


def test_bucket_week_boundaries(spark):
    # M4 boundaries at 7/8, 14/15, 30/31 (`Pembelian/run.js:77-87`)
    df = spark.createDataFrame([(d,) for d in [0, 7, 8, 14, 15, 30, 31, None]], "d int")
    got = [r.b for r in df.select(bucket_days_week("d").alias("b")).collect()]
    assert got == [
        "0-7 hari", "0-7 hari", "8-14 hari", "8-14 hari",
        "15-30 hari", "15-30 hari", ">30 hari", None,
    ]


def test_bucket_month_boundaries(spark):
    df = spark.createDataFrame([(d,) for d in [30, 31, 60, 61, 90, 91]], "d int")
    got = [r.b for r in df.select(bucket_days_month("d").alias("b")).collect()]
    assert got == [
        "0-30 hari", "31-60 hari", "31-60 hari", "61-90 hari", "61-90 hari", ">90 hari",
    ]


def test_clamp_min_date_at_boundary(spark):
    # D6: 1752-12-31 clamps (year → current); 1753-01-01 passes through
    df = spark.createDataFrame(
        [(dt.datetime(1752, 12, 31),), (dt.datetime(1753, 1, 1),)], "d timestamp"
    )
    got = df.select(clamp_min_date("d").alias("c")).collect()
    assert got[0].c.year == dt.date.today().year
    assert (got[0].c.month, got[0].c.day) == (12, 31)
    assert got[1].c == dt.datetime(1753, 1, 1)


def test_uom_and_category_and_ontime(spark):
    assert _one(spark, uom_to_meter("q", "u"), q=(10.0, "double"), u=("YARD", "string")) == 9.144
    assert _one(spark, uom_to_meter("q", "u"), q=(10.0, "double"), u=("MTR", "string")) == 10.0
    assert _one(spark, category_garment("c"), c=("FAB", "string")) == "Bahan Baku"
    assert _one(spark, category_garment("c"), c=("wsh", "string")) == "Jasa"
    assert _one(spark, category_garment("c"), c=("zzz", "string")) == "Accessories"
    on_time = _one(
        spark,
        on_time_status("a", "p"),
        a=(dt.datetime(2024, 1, 1), "timestamp"),
        p=(dt.datetime(2024, 1, 1), "timestamp"),
    )
    assert on_time == "Tepat Waktu"


def test_nan_guard_and_year_repair(spark):
    assert _one(spark, nan_guard("x"), x=(None, "double")) == 0.0
    assert _one(spark, nan_guard("x"), x=(float("nan"), "double")) == 0.0
    assert _one(spark, nan_guard("x"), x=(2.5, "double")) == 2.5
    assert _one(spark, repair_year_typos("s"), s=("0017-05-12", "string")) == "2017-05-12"
    assert _one(spark, repair_year_typos("s", "19"), s=("0095-01-01", "string")) == "1995-01-01"
    # untouched when the century is present
    assert _one(spark, repair_year_typos("s"), s=("2017-05-12", "string")) == "2017-05-12"


def test_first_match_join_deterministic(spark):
    left = spark.createDataFrame([(1,), (2,)], "k long")
    right = spark.createDataFrame(
        [(1, "b", 2), (1, "a", 1), (1, "c", 3)], "k long, v string, ord int"
    )
    got = first_match_join(left, right, "k", F.col("ord")).orderBy("k").collect()
    assert [(r.k, r.v) for r in got] == [(1, "a"), (2, None)]


def test_asof_join_exact_and_between(spark):
    # J7: rate picked at date == doDate (exact match allowed) and latest-before
    fact = spark.createDataFrame(
        [(1, "USD", dt.datetime(2024, 1, 10)), (2, "USD", dt.datetime(2024, 1, 4)),
         (3, "EUR", dt.datetime(2024, 1, 1))],
        "fid long, code string, doDate timestamp",
    )
    rates = spark.createDataFrame(
        [("USD", dt.datetime(2024, 1, 10), 15000.0), ("USD", dt.datetime(2024, 1, 1), 14000.0),
         ("EUR", dt.datetime(2024, 2, 1), 17000.0)],
        "code string, rdate timestamp, rate double",
    )
    out = asof_join(
        fact, rates, left_on="doDate", right_on="rdate", by=[("code", "code")]
    )
    got = {r.fid: r.rate for r in out.collect()}
    assert got[1] == 15000.0  # exact-date match
    assert got[2] == 14000.0  # latest before
    assert got[3] is None  # no rate yet → caller coalesces to 1 (GarmentTotalHutang/run.js:213)
    # default-rate composition
    out2 = out.withColumn("rate_eff", F.coalesce("rate", F.lit(1.0)))
    assert {r.fid: r.rate_eff for r in out2.collect()}[3] == 1.0


def test_extract_features_plumbing(spark):
    docs = spark.createDataFrame([(1, "hello"), (2, "")], "doc_id long, text string")
    got = {r.doc_id: r for r in extract_features(docs).collect()}
    assert got[1].n_bytes == 5
    assert len(got[1].features) == 4
    assert got[1].features[0] == 5.0
    assert got[2].features == [0.0, 0.0, 0.0, 0.0]


def test_multimodal_resize_and_frame_sample(spark):
    """Binary→binary resize keeps 1:1 rows at the target size; frame
    sampling fans out 1:N with every-Nth indices (mm plumbing over
    mapInPandas)."""
    from com_danliris_service_etl_spark.operators.multimodal import (
        frame_sample,
        resize_payloads,
    )

    docs = spark.createDataFrame(
        [(1, "x" * 100), (2, "y" * 10), (3, "")], "doc_id long, text string"
    )
    resized = {r["doc_id"]: r for r in resize_payloads(docs, target_bytes=16).collect()}
    assert len(resized) == 3
    assert all(len(bytes(r["resized"])) == 16 for r in resized.values())
    assert resized[1]["n_bytes_in"] == 100

    frames = frame_sample(docs, frame_bytes=32, every_n=2).collect()
    by_doc = {}
    for r in frames:
        by_doc.setdefault(r["doc_id"], []).append(r["frame_idx"])
    # doc 1: 100 bytes → 3 frames → sampled idx 0, 2
    assert sorted(by_doc[1]) == [0, 2]
    # docs 2 and 3: single (possibly empty/short) frame 0
    assert by_doc[2] == [0] and by_doc[3] == [0]


def test_asof_join_forward_and_exclusive(spark):
    """J7 variants: forward direction picks the earliest rate at/after the
    probe; allow_exact_match=False excludes the boundary row."""
    import datetime as dt

    from com_danliris_service_etl_spark.operators.joins import asof_join

    d = dt.datetime
    left = spark.createDataFrame(
        [(1, "USD", d(2024, 2, 20))], "id long, code string, at timestamp"
    )
    rates = spark.createDataFrame(
        [("USD", d(2024, 2, 10), 100.0), ("USD", d(2024, 2, 20), 200.0),
         ("USD", d(2024, 3, 1), 300.0)],
        "code string, rate_date timestamp, rate double",
    )
    fwd = asof_join(
        left, rates, left_on="at", right_on="rate_date",
        by=[("code", "code")], direction="forward",
    ).collect()[0]
    assert fwd["rate"] == 200.0  # exact match allowed
    fwd_x = asof_join(
        left, rates, left_on="at", right_on="rate_date",
        by=[("code", "code")], direction="forward", allow_exact_match=False,
    ).collect()[0]
    assert fwd_x["rate"] == 300.0
    back_x = asof_join(
        left, rates, left_on="at", right_on="rate_date",
        by=[("code", "code")], direction="backward", allow_exact_match=False,
    ).collect()[0]
    assert back_x["rate"] == 100.0


def test_first_match_join_window_fallback_desc(spark):
    """The explicit-DESC ordering takes the row_number window path and picks
    the LAST row per key — both physical strategies agree with their
    ordering contracts."""
    from pyspark.sql import functions as F

    from com_danliris_service_etl_spark.operators.joins import first_match_join

    left = spark.createDataFrame([(1,), (2,)], "k long")
    right = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (2, 5, "c")], "k long, ord long, v string"
    )
    asc = {r["k"]: r["v"] for r in first_match_join(left, right, "k", F.col("ord")).collect()}
    desc = {
        r["k"]: r["v"]
        for r in first_match_join(left, right, "k", F.col("ord").desc()).collect()
    }
    assert asc == {1: "a", 2: "c"}
    assert desc == {1: "b", 2: "c"}


def test_salted_aggregate_matches_plain(spark):
    """Salted two-stage aggregation ≡ plain groupBy on a skewed key set."""
    from pyspark.sql import functions as F

    from com_danliris_service_etl_spark.operators.skew import salted_aggregate

    # 90% of rows share one hot key
    df = spark.range(0, 5000).select(
        F.when(F.col("id") % 10 < 9, F.lit("HOT")).otherwise(
            F.concat(F.lit("k"), (F.col("id") % 7).cast("string"))
        ).alias("k"),
        (F.col("id") % 100).cast("double").alias("v"),
    )
    plain = {
        r["k"]: r
        for r in df.groupBy("k")
        .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"),
             F.min("v").alias("mn"), F.max("v").alias("mx"))
        .collect()
    }
    salted = {
        r["k"]: r
        for r in salted_aggregate(
            df, ["k"],
            {"s": ("v", "sum"), "n": ("v", "count"), "mn": ("v", "min"), "mx": ("v", "max")},
        ).collect()
    }
    assert set(plain) == set(salted)
    for k in plain:
        assert plain[k]["n"] == salted[k]["n"]
        assert plain[k]["s"] == pytest.approx(salted[k]["s"])
        assert plain[k]["mn"] == salted[k]["mn"] and plain[k]["mx"] == salted[k]["mx"]


def test_salted_broadcast_join_matches_plain(spark):
    """Salted small-side-replicated join ≡ plain join, including unmatched
    left rows."""
    from pyspark.sql import functions as F

    from com_danliris_service_etl_spark.operators.skew import salted_broadcast_join

    big = spark.range(0, 2000).select(
        F.when(F.col("id") % 5 < 4, F.lit(1)).otherwise(F.col("id") % 50).alias("k"),
        F.col("id").alias("row_id"),
    )
    dim = spark.createDataFrame(
        [(1, "hot"), (2, "warm"), (3, "cold")], "k long, label string"
    )
    plain = sorted(
        (r["row_id"], r["label"]) for r in big.join(dim, "k", "left").collect()
    )
    salted = sorted(
        (r["row_id"], r["label"])
        for r in salted_broadcast_join(big, dim, "k", "left").collect()
    )
    assert plain == salted


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Identically-bucketed tables join with ZERO Exchange operators — the
    write-once shuffle amortized over every later join (SCALE.md)."""
    from pyspark.sql import functions as F

    from com_danliris_service_etl_spark.operators.bucketing import (
        bucketed_join,
        write_bucketed,
    )

    spark.sql("DROP TABLE IF EXISTS bkt_left")
    spark.sql("DROP TABLE IF EXISTS bkt_right")
    left = spark.range(0, 1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("a")
    )
    right = spark.range(0, 500).select(
        F.col("id").alias("k"), (F.col("id") * 3).alias("b")
    )
    write_bucketed(left, "bkt_left", ["k"], n_buckets=4, sort_cols=["k"])
    write_bucketed(right, "bkt_right", ["k"], n_buckets=4, sort_cols=["k"])
    # force the sort-merge path (a broadcast would bypass bucketing and
    # prove nothing about shuffle elimination)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bucketed_join(spark, "bkt_left", "bkt_right", "k")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        assert "Exchange hashpartitioning" not in plan, plan
        assert joined.count() == 500
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bkt_left")
        spark.sql("DROP TABLE IF EXISTS bkt_right")


LINEITEM = f"{SF_DIR}/lineitem.parquet"
CO_PURCHASE = (
    "g9_triangle_count",
    "g11_adamic_adar",
    "g13_jaccard_neighbors",
    "g16_kcore_peel",
    "g17_label_propagation",
)


def _plan(df) -> str:
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _plain_order_parts(spark, sf_dir):
    """The per-order part arrays computed from the plain scan: the
    reference every read of the stored layout must equal."""
    from com_danliris_service_etl_spark.operators.graph import group_items
    from com_danliris_service_etl_spark.sources import fsutil

    rows = fsutil.read_parquet(spark, f"{sf_dir}/lineitem.parquet")
    return group_items(rows.select("l_orderkey", "l_partkey"), "l_orderkey", "l_partkey")


def _layouts(spark, src) -> set[str]:
    """Completed and in-flight array layouts of the source at ``src``."""
    import hashlib
    import os

    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    tag = hashlib.sha1(str(src).encode()).hexdigest()[:6]
    return {d for d in os.listdir(wh) if d.startswith(f"items_lineitem_{tag}_")}


def _drop_layouts(spark, src) -> None:
    import os
    import shutil

    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for d in _layouts(spark, src):
        shutil.rmtree(os.path.join(wh, d), ignore_errors=True)


def _count_group_items(monkeypatch) -> list:
    """Record every per-group aggregate the layout module builds."""
    from com_danliris_service_etl_spark.operators import bucketing

    calls = []
    real = bucketing.group_items

    def counted(*args, **kwargs):
        calls.append(args[1:])
        return real(*args, **kwargs)

    monkeypatch.setattr(bucketing, "group_items", counted)
    return calls


def _rows(df) -> list:
    return sorted(map(tuple, df.collect()))


def test_cooccurrence_on_bucketed_layout_single_exchange(spark):
    """g11's registry path reads the stored per-order arrays, so its whole
    plan carries exactly ONE shuffle (the pair aggregation) and scans the
    array layout, never lineitem; the scores equal Adamic-Adar over the
    arrays computed from the plain scan."""
    from com_danliris_service_etl_spark.operators.graph import (
        cooccurrence_adamic_adar,
    )
    from com_danliris_service_etl_spark.plans.registry import load_all

    sf_dir = SF_DIR
    got = load_all()["g11_adamic_adar"][0](spark, sf_dir)
    plan = _plan(got)
    shuffles = plan.count("Exchange (") - plan.count("BroadcastExchange (")
    assert shuffles == 1, f"expected 1 shuffle over the array layout:\n{plan}"
    assert "items_lineitem_" in plan and "lineitem.parquet" not in plan, plan
    assert "collect_set" not in plan, plan
    plain = cooccurrence_adamic_adar(_plain_order_parts(spark, sf_dir), min_common=2)
    assert _rows(got) == _rows(plain)


def test_g13_registry_runs_on_bucketed_layout(spark, monkeypatch):
    """The co-purchase queries' registry path: the first call leaves a
    completed array layout of the fixture's lineitem in the warehouse,
    and a later pass builds no per-group aggregate at all: the frame it
    reads is a plain scan of the layout, and g13 still equals Jaccard
    over the plain-scan arrays."""
    import os

    from com_danliris_service_etl_spark.operators.graph import cooccurrence_jaccard
    from com_danliris_service_etl_spark.plans import queries_graph
    from com_danliris_service_etl_spark.plans.registry import load_all

    sf_dir = SF_DIR
    g13 = load_all()["g13_jaccard_neighbors"][0]
    g13(spark, sf_dir)
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    done = [d for d in _layouts(spark, f"{sf_dir}/lineitem.parquet")
            if os.path.exists(os.path.join(wh, d, "_SUCCESS"))]
    assert len(done) == 1, done

    built = _count_group_items(monkeypatch)
    got = g13(spark, sf_dir)
    parts_plan = _plan(queries_graph._order_parts(spark, sf_dir))
    assert built == [], "a pass over the stored layout re-ran the per-group aggregate"
    assert "Aggregate" not in parts_plan and done[0] in parts_plan, parts_plan
    plain = cooccurrence_jaccard(_plain_order_parts(spark, sf_dir), min_common=2)
    assert _rows(got) == _rows(plain)


@pytest.mark.parametrize("name", CO_PURCHASE)
def test_co_purchase_queries_equal_their_plain_scan_form(spark, name):
    """Each co-purchase query over the stored array layout equals its
    operator fed `group_items` of the plain sf0.001 lineitem scan."""
    from com_danliris_service_etl_spark.operators import graph
    from com_danliris_service_etl_spark.plans import queries_graph as qg
    from com_danliris_service_etl_spark.plans.registry import load_all

    sf_dir = SF_DIR
    plain = _plain_order_parts(spark, sf_dir)
    expected = {
        "g9_triangle_count": lambda: graph.triangle_counts(
            graph._item_pairs(plain), broadcast_degrees=True
        ),
        "g11_adamic_adar": lambda: graph.cooccurrence_adamic_adar(plain, min_common=2),
        "g13_jaccard_neighbors": lambda: graph.cooccurrence_jaccard(plain, min_common=2),
        "g16_kcore_peel": lambda: graph.kcore_peel(
            plain, k=qg._KCORE_K, rounds=qg._KCORE_ROUNDS
        ),
        "g17_label_propagation": lambda: graph.label_propagation(
            plain, rounds=qg._LPA_ROUNDS
        ),
    }[name]()
    got = _rows(load_all()[name][0](spark, sf_dir))
    assert got and got == _rows(expected)


def test_group_items_layout_idempotent_and_adoptable(
    spark, tmp_path, monkeypatch, spark_jobs
):
    """Layout lifecycle on an ISOLATED fixture copy (tmp_path — the shared
    warehouse is touched by concurrent test shards, so mtime assertions
    there would race): the first call writes one layout holding exactly
    the plain-scan arrays; a second call writes nothing; a new session
    over the same warehouse adopts the completed directory without
    rewriting it, learns its schema without a Spark job (pinned read)
    and plans a plain scan of it."""
    import os
    import shutil

    from com_danliris_service_etl_spark.operators.bucketing import ensure_group_items

    src = tmp_path / "lineitem.parquet"
    shutil.copy(LINEITEM, src)
    sf_dir = str(tmp_path)
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    try:
        first = ensure_group_items(spark, sf_dir, "lineitem", "l_orderkey", "l_partkey")
        (layout,) = _layouts(spark, src)
        assert first.columns == ["l_orderkey", "items"]
        assert _rows(first) == _rows(_plain_order_parts(spark, sf_dir))

        def stamps() -> dict:
            root = os.path.join(wh, layout)
            return {f: os.path.getmtime(os.path.join(root, f))
                    for f in [".", *os.listdir(root)]}

        before = stamps()
        built = _count_group_items(monkeypatch)
        again = ensure_group_items(spark, sf_dir, "lineitem", "l_orderkey", "l_partkey")
        assert _rows(again) == _rows(first)
        fresh = spark.newSession()
        jobs = spark_jobs()
        adopted = ensure_group_items(fresh, sf_dir, "lineitem", "l_orderkey", "l_partkey")
        assert jobs() == 0
        assert _rows(adopted) == _rows(first)
        assert built == [] and stamps() == before, "layout rewritten"
        assert _layouts(spark, src) == {layout}
        plan = _plan(adopted)
        assert "Aggregate" not in plan and layout in plan, plan
    finally:
        _drop_layouts(spark, src)


def test_group_items_layout_gc_scope(spark, tmp_path):
    """GC boundary: two specs over the same live source COEXIST; a
    REGENERATED source (new mtime) orphans its old layouts, which the next
    write defers while they are young (a parallel session may still scan
    them) and reclaims once they pass the age gate; a layout of ANOTHER
    source path is never touched, however old."""
    import os
    import shutil
    import time

    from com_danliris_service_etl_spark.operators import bucketing

    a, b = tmp_path / "a", tmp_path / "b"
    for d in (a, b):
        d.mkdir()
        shutil.copy(LINEITEM, d / "lineitem.parquet")
    src_a, src_b = a / "lineitem.parquet", b / "lineitem.parquet"
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")

    def build(d, item="l_partkey"):
        return bucketing.ensure_group_items(spark, str(d), "lineitem", "l_orderkey", item)

    def backdate(names):
        old = time.time() - 2 * bucketing._GC_MIN_AGE_SECONDS
        for n in names:
            os.utime(os.path.join(wh, n), (old, old))

    try:
        build(a)
        build(b)
        build(a, "l_suppkey")
        assert len(_layouts(spark, src_a)) == 2  # same file: specs coexist
        other = _layouts(spark, src_b)
        assert len(other) == 1

        time.sleep(0.01)
        os.utime(src_a)  # regenerated: content-identical, new mtime
        stale = _layouts(spark, src_a)
        assert build(a).count() > 0
        assert stale < _layouts(spark, src_a)  # young: deferred, not deleted

        backdate(stale | other)
        build(a, "l_suppkey")
        survivors = _layouts(spark, src_a)
        assert stale.isdisjoint(survivors), survivors
        assert len(survivors) == 2, survivors  # the live version's two specs
        assert _layouts(spark, src_b) == other  # another path: never touched
        assert _rows(build(b)) == _rows(_plain_order_parts(spark, str(b)))
    finally:
        _drop_layouts(spark, src_a)
        _drop_layouts(spark, src_b)


def test_group_items_layout_unwritable_warehouse_degrades(spark, tmp_path, monkeypatch):
    """An unwritable warehouse DEGRADES to arrays computed from the plain
    scan (correctness over layout) with a RuntimeWarning instead of
    failing the query, and leaves neither a layout nor a temp directory
    behind that a later call could mistake for a completed one. Simulated
    at both points a read-only checkout fails: the parquet write, and
    the rename onto the canonical name."""
    import shutil
    import warnings

    from pyspark.sql.readwriter import DataFrameWriter

    from com_danliris_service_etl_spark.operators import bucketing

    src = tmp_path / "lineitem.parquet"
    shutil.copy(LINEITEM, src)
    expected = _rows(_plain_order_parts(spark, str(tmp_path)))

    def boom(*a, **k):
        raise OSError("read-only file system (simulated)")

    try:
        for target, attr in ((DataFrameWriter, "parquet"), (bucketing.os, "rename")):
            monkeypatch.setattr(target, attr, boom)
            try:
                with warnings.catch_warnings(record=True) as w:
                    warnings.simplefilter("always")
                    df = bucketing.ensure_group_items(
                        spark, str(tmp_path), "lineitem", "l_orderkey", "l_partkey"
                    )
            finally:
                monkeypatch.undo()
            assert any(
                issubclass(x.category, RuntimeWarning)
                and "falling back to per-pass arrays" in str(x.message)
                for x in w
            ), (attr, [str(x.message) for x in w])
            assert df.columns == ["l_orderkey", "items"]
            assert _rows(df) == expected, attr
            assert _layouts(spark, src) == set(), attr
    finally:
        _drop_layouts(spark, src)


def test_group_items_layout_never_reads_a_bucketed_row_layout(spark, tmp_path):
    """A warehouse carried over from the bucketed-row layout still holds
    `bkt_lineitem_<srctag>_<stattag>_*` row-level copies of the same
    source, as a directory and as a catalog table. The array layout never
    reads either: it writes and scans its own `items_lineitem_*`
    directory, returns the arrays, and leaves the old copy alone."""
    import hashlib
    import os
    import shutil

    from com_danliris_service_etl_spark.operators.bucketing import (
        ensure_group_items,
        write_bucketed,
    )
    from com_danliris_service_etl_spark.sources import fsutil

    src = tmp_path / "lineitem.parquet"
    shutil.copy(LINEITEM, src)
    st = os.stat(src)
    tag = hashlib.sha1(str(src).encode()).hexdigest()[:6]
    version = hashlib.sha1(f"{st.st_mtime_ns}|{st.st_size}".encode()).hexdigest()[:6]
    old = f"bkt_lineitem_{tag}_{version}_0123456789"
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    rows = fsutil.read_parquet(spark, str(src)).select("l_orderkey", "l_partkey")
    spark.sql(f"DROP TABLE IF EXISTS {old}")
    write_bucketed(rows, old, ["l_orderkey"], n_buckets=4)
    try:
        df = ensure_group_items(spark, str(tmp_path), "lineitem", "l_orderkey", "l_partkey")
        plan = _plan(df)
        assert df.columns == ["l_orderkey", "items"]
        assert "items_lineitem_" in plan and old not in plan, plan
        assert _rows(df) == _rows(_plain_order_parts(spark, str(tmp_path)))
        assert spark.catalog.tableExists(old)
        assert os.path.exists(os.path.join(wh, old, "_SUCCESS"))
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {old}")
        _drop_layouts(spark, src)


def test_cooccurrence_stages_live_once():
    """Layout guard over operators/graph.py and plans/queries_graph.py:
    ONE function builds the per-group `collect_set` arrays and ONE
    generates in-array pairs (two explodes of the same array), and every
    co-occurrence operator and query goes through them."""
    import ast
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / "com_danliris_service_etl_spark"

    def called(n: ast.Call) -> str | None:
        f = n.func
        return f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)

    collect_sets, pair_generators = [], []
    for module in ("operators/graph.py", "plans/queries_graph.py"):
        tree = ast.parse((pkg / module).read_text())
        for fn in tree.body:
            if not isinstance(fn, ast.FunctionDef):
                continue
            calls = [n for n in ast.walk(fn) if isinstance(n, ast.Call)]
            collect_sets += [
                f"{module}:{fn.name}" for n in calls if called(n) == "collect_set"
            ]
            exploded = [
                ast.dump(n.args[0]) for n in calls if called(n) == "explode" and n.args
            ]
            if any(exploded.count(a) >= 2 for a in exploded):
                pair_generators.append(f"{module}:{fn.name}")
    assert collect_sets == ["operators/graph.py:group_items"]
    assert pair_generators == ["operators/graph.py:_item_pairs"]


def test_pagerank_node_cover_callers_pass_bidirected_edges(spark, monkeypatch):
    """`pagerank(sources_cover_nodes=True)` reads the node set off the
    out-degree aggregate, which is complete only for a bidirected edge
    list. Every engine caller that sets it (found by AST, so a new one
    joins this check) hands pagerank edges where each (u, v) has a
    matching (v, u) on the sf0.001 fixture."""
    import ast
    import pathlib

    from com_danliris_service_etl_spark.plans import queries_graph, queries_llm
    from com_danliris_service_etl_spark.plans.registry import load_all

    pkg = pathlib.Path(__file__).resolve().parents[1] / "com_danliris_service_etl_spark"
    callers = set()
    for path in pkg.rglob("*.py"):
        for fn in ast.walk(ast.parse(path.read_text())):
            if isinstance(fn, ast.FunctionDef) and any(
                isinstance(n, ast.Call)
                and getattr(n.func, "id", getattr(n.func, "attr", None)) == "pagerank"
                and any(k.arg == "sources_cover_nodes"
                        and isinstance(k.value, ast.Constant) and k.value.value is True
                        for k in n.keywords)
                for n in ast.walk(fn)
            ):
                callers.add(fn.name)
    assert callers == {"g8_pagerank", "llm12_centrality_keeper"}

    seen = []
    for module in (queries_graph, queries_llm):
        real = module.pagerank

        def recording(edges, *args, _real=real, **kwargs):
            seen.append((edges, kwargs))
            return _real(edges, *args, **kwargs)

        monkeypatch.setattr(module, "pagerank", recording)
    registry = load_all()
    for name in sorted(callers):
        seen.clear()
        registry[name][0](spark, SF_DIR)
        (edges, kwargs), = seen
        assert kwargs.get("sources_cover_nodes") is True
        e = edges.select("src", "dst")
        reverse = edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        assert e.count() > 0, name
        assert e.subtract(reverse).count() == 0, name
        assert reverse.subtract(e).count() == 0, name


def test_asof_join_broadcast_strategy_agrees_with_sort(spark):
    """The broadcast sorted-array fast path must produce the same rows as
    the union-sort default across direction/exactness, including the
    highest-tiebreak-wins rule on equal timestamps and null event times."""
    import datetime as dt

    d = dt.datetime
    left = spark.createDataFrame(
        [(1, "USD", d(2024, 2, 20)), (2, "USD", d(2024, 1, 1)),
         (3, "EUR", d(2024, 2, 20)), (4, "USD", None)],
        "id long, code string, at timestamp",
    )
    rates = spark.createDataFrame(
        [("USD", d(2024, 2, 10), 100.0), ("USD", d(2024, 2, 20), 200.0),
         ("USD", d(2024, 2, 20), 250.0), ("USD", d(2024, 3, 1), 300.0),
         ("EUR", None, 999.0)],
        "code string, rate_date timestamp, rate double",
    )
    for direction in ("backward", "forward"):
        for exact in (True, False):
            kw = dict(
                left_on="at", right_on="rate_date", by=[("code", "code")],
                direction=direction, tiebreak="rate", allow_exact_match=exact,
            )
            a = {r["id"]: r["rate"] for r in asof_join(left, rates, **kw).collect()}
            b = {
                r["id"]: r["rate"]
                for r in asof_join(left, rates, strategy="broadcast", **kw).collect()
            }
            assert a == b, (direction, exact, a, b)
            assert a[4] is None  # null probe time never matches
            assert a[3] is None  # null right time never matches
    back = {
        r["id"]: r["rate"]
        for r in asof_join(
            left, rates, left_on="at", right_on="rate_date",
            by=[("code", "code")], tiebreak="rate",
        ).collect()
    }
    assert back[1] == 250.0  # equal-ts tie -> highest tiebreak
    assert back[2] is None  # before the first rate


def test_asof_join_segmented_strategy_agrees_with_sort(spark):
    """The skew-salted segmented strategy must reproduce the union-sort
    default exactly: cross-segment carry (a probe whose latest right row
    sits many segments back), segments containing only left rows, equal-
    timestamp highest-tiebreak ties, exact-match on/off, null keys and
    null event times — on a randomized stream with one deliberately hot
    key, at several segment widths (width 1 makes every row its own
    segment = pure carry; a huge width collapses to one segment = the
    plain window)."""
    import random

    rng = random.Random(12)
    keys = ["hot"] + [f"k{i}" for i in range(5)] + [None]
    left_rows, right_rows = [], []
    for i in range(400):
        k = "hot" if rng.random() < 0.5 else rng.choice(keys)
        ts = rng.choice([None, rng.randrange(0, 1000)])
        left_rows.append((i, k, ts))
    for j in range(300):
        k = "hot" if rng.random() < 0.5 else rng.choice(keys)
        ts = rng.choice([None] + [rng.randrange(0, 500)] * 9)  # right rows
        # cluster right times in [0, 500) so probes in [500, 1000) must
        # carry across many empty segments; tb = j keeps (ts, tiebreak)
        # unique per key — the operator's documented determinism contract
        # (equal-(ts,tb) full ties are partition-order dependent in the
        # sort strategy and payload-max in the segmented one)
        right_rows.append((k, ts, j, f"p{j}"))
    left = spark.createDataFrame(left_rows, "id long, key string, ts long")
    right = spark.createDataFrame(
        right_rows, "key string, rts long, tb long, payload string"
    )
    for exact in (True, False):
        kw = dict(
            left_on="ts", right_on="rts", by=[("key", "key")],
            direction="backward", tiebreak="tb", allow_exact_match=exact,
        )
        want = {
            r["id"]: (r["payload"], r["tb"])
            for r in asof_join(left, right, **kw).collect()
        }
        for width in (1, 7, 100, 10_000):
            got = {
                r["id"]: (r["payload"], r["tb"])
                for r in asof_join(
                    left, right, strategy="segmented",
                    segment_width=width, **kw,
                ).collect()
            }
            assert got == want, (exact, width)
    with pytest.raises(ValueError):
        asof_join(
            left, right, left_on="ts", right_on="rts",
            by=[("key", "key")], direction="forward",
            strategy="segmented", segment_width=10,
        )
    with pytest.raises(ValueError):
        asof_join(
            left, right, left_on="ts", right_on="rts",
            by=[("key", "key")], strategy="segmented",
        )


def test_minhash_lsh_degenerate_corpus_capped(spark):
    """dd2 worst case, capped in code: an all-identical corpus collapses
    into ONE LSH bucket per band. max_bucket truncates each bucket to its
    N smallest member ids, so the pair fanout is bounded at C(N,2) instead
    of C(corpus,2) — and the kept pairs still link every capped member to
    the cluster's keeper ids."""
    from com_danliris_service_etl_spark.operators.dedup import minhash_lsh_pairs

    n, cap = 300, 16
    docs = spark.createDataFrame(
        [(i, "the same exact duplicated text appears here again") for i in range(n)],
        "doc_id long, text string",
    )
    pairs = minhash_lsh_pairs(docs, max_bucket=cap).collect()
    # every band has the same (sorted) capped member set -> exactly C(cap,2)
    assert len(pairs) == cap * (cap - 1) // 2
    members = {r.doc_a for r in pairs} | {r.doc_b for r in pairs}
    assert members == set(range(cap))  # deterministic: the cap smallest ids
    assert all(r.est_jaccard == 1.0 for r in pairs)


def test_multiprobe_dominates_single_probe(spark):
    """sim3 recall property: multi-probe candidates are a superset of
    single-probe's (same buckets plus Hamming-1 neighbors), so for every
    query the rank-1 multi-probe neighbor is at least as similar."""
    from com_danliris_service_etl_spark.operators.similarity import (
        lsh_bucketed_topk,
        multiprobe_lsh_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(emb.vec_id < 5)
    single = {
        (r.query_id, r.rank): r.cos_sim for r in lsh_bucketed_topk(emb, q, k=3).collect()
    }
    multi = {
        (r.query_id, r.rank): r.cos_sim
        for r in multiprobe_lsh_topk(emb, q, k=3).collect()
    }
    # every query that had any single-probe hit still has hits, and the
    # best multi-probe hit is >= the best single-probe hit
    for (qid, rank), sim_s in single.items():
        if rank == 1:
            assert multi[(qid, 1)] >= sim_s


def test_filtered_multiprobe_respects_filter_and_buckets(spark):
    """sim15 (sim13's dense-label escape): every returned neighbor must
    share the query's label AND sit within Hamming distance 1 of its
    sign-bit bucket; on clustered data (tight perturbations of a center)
    it must recover the exact in-label top-k (recall 1.0 — the property
    the r12 uniform fixture could not show)."""
    import random

    from pyspark.sql import functions as F

    from com_danliris_service_etl_spark.operators.similarity import (
        filtered_multiprobe_topk,
        filtered_topk,
        recall_at_k,
    )

    rng = random.Random(13)
    centers = [
        [rng.uniform(-0.5, 0.5) for _ in range(16)] for _ in range(6)
    ]
    rows = []
    vid = 0
    for ci, c in enumerate(centers):
        for _ in range(20):  # tight cluster around each center
            rows.append(
                (vid, [x + rng.uniform(-0.01, 0.01) for x in c], ci % 2)
            )
            vid += 1
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    q = emb.filter(F.col("vec_id").isin([0, 20, 40]))
    exact = filtered_topk(emb, q, k=5, filter_col="label")
    approx = filtered_multiprobe_topk(emb, q, k=5, filter_col="label",
                                      n_bits=8)
    labels = {r.vec_id: r.label for r in emb.select("vec_id", "label").collect()}
    for r in approx.collect():
        assert labels[r.query_id] == labels[r.neighbor_id]
    # clusters are far tighter than cross-center distance: the escape
    # must find the same top-5 (its cluster siblings) as exact retrieval
    rec = recall_at_k(exact, approx, k=5).collect()
    assert all(r.recall == 1.0 for r in rec), rec


def test_filtered_ivf_respects_filter_and_cells(spark):
    """sim16 (the IVF arm of the dense-label escape): every neighbor must
    share the query's label, and the candidate set is the (label, cell)
    intersection — a same-label vector in a DIFFERENT cell never appears
    even if it is the true nearest."""
    from pyspark.sql import functions as F

    from com_danliris_service_etl_spark.operators.similarity import (
        ivf_assign_cells,
        ivf_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    cent = emb.filter(F.col("vec_id") < 4)
    out = ivf_topk(
        emb, None, cent, k=5,
        query_filter=F.col("vec_id") < 10, filter_col="label",
    ).collect()
    labels = {r.vec_id: r.label for r in emb.select("vec_id", "label").collect()}
    cells = {
        r.vec_id: r.cell
        for r in ivf_assign_cells(emb, cent).select("vec_id", "cell").collect()
    }
    assert out, "queries must retrieve something at sf0.01"
    for r in out:
        assert labels[r.query_id] == labels[r.neighbor_id]
        assert cells[r.query_id] == cells[r.neighbor_id]


def test_mmr_fused_strategy_equals_unrolled(spark):
    """sim14 fused tail (r13): the applyInPandas greedy loop must emit
    row-for-row identical (query, neighbor, rank, score) to the unrolled
    dataframe-steps form — same Spark-computed pool and pairwise sims,
    greedy arithmetic in the same integer micro-units — across k/pool/lam
    shapes including k == pool (full drain) and a sub-pool-sized corpus
    slice (pool smaller than requested)."""
    from com_danliris_service_etl_spark.operators.similarity import mmr_rerank

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    q = emb.filter(emb.vec_id < 6)
    for k, pool, lam in ((3, 10, 0.7), (7, 7, 0.7), (5, 12, 0.3)):
        a = sorted(
            map(tuple, mmr_rerank(emb, q, k=k, pool=pool, lam=lam).collect())
        )
        b = sorted(
            map(
                tuple,
                mmr_rerank(
                    emb, q, k=k, pool=pool, lam=lam, strategy="fused"
                ).collect(),
            )
        )
        assert a == b, (k, pool, lam, a[:3], b[:3])
        assert len(a) == 6 * k
    # pool==1 edge: single candidate, no pairs relation rows (left join
    # nulls) — both strategies emit exactly the rank-1 row per query
    a1 = sorted(map(tuple, mmr_rerank(emb, q, k=1, pool=1).collect()))
    b1 = sorted(
        map(tuple, mmr_rerank(emb, q, k=1, pool=1, strategy="fused").collect())
    )
    assert a1 == b1 and len(a1) == 6


def test_mmr_fused_non_bigint_ids(spark):
    """r13 ADVICE regression: the fused tail hardcoded a bigint id
    schema (and int()-cast the pair partner), breaking any non-bigint
    id_col the unrolled strategy handles fine. The output schema is now
    derived from the pool relation: string and int ids must both run
    and match the unrolled strategy row for row."""
    from pyspark.sql import functions as F

    from com_danliris_service_etl_spark.operators.similarity import mmr_rerank

    emb = (
        spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
        .filter(F.col("vec_id") < 200)
        .select(
            F.format_string("doc-%05d", F.col("vec_id")).alias("doc_key"),
            "embedding",
        )
    )
    q = emb.filter(F.col("doc_key") < "doc-00006")
    a = sorted(
        map(
            tuple,
            mmr_rerank(emb, q, k=4, pool=9, id_col="doc_key").collect(),
        )
    )
    b = sorted(
        map(
            tuple,
            mmr_rerank(
                emb, q, k=4, pool=9, id_col="doc_key", strategy="fused"
            ).collect(),
        )
    )
    assert a == b and len(a) == 6 * 4, (a[:3], b[:3])
    assert all(isinstance(r[1], str) for r in b)


def test_ivf_cells_partition_corpus(spark):
    """sim4 structure: every vector lands in exactly one cell, and the cell
    is one of the centroid ids."""
    from com_danliris_service_etl_spark.operators.similarity import ivf_assign_cells

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cent = emb.filter(emb.vec_id < 8)
    cells = ivf_assign_cells(emb, cent).collect()
    assert len(cells) == emb.count()  # 1:1 — argmax picks exactly one cell
    assert {r.cell for r in cells} <= set(range(8))


def test_hash_split_stable_under_append(spark):
    """llm2 property: a row's split assignment depends only on its id, so
    appending new rows never moves an existing row between splits."""
    from com_danliris_service_etl_spark.operators.sampling import hash_split

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    small = docs.limit(100)
    full_assign = {r.doc_id: r.split for r in hash_split(docs).collect()}
    small_assign = {r.doc_id: r.split for r in hash_split(small).collect()}
    assert small_assign == {k: full_assign[k] for k in small_assign}
    # rough proportions at 500 docs: train dominates, all three present
    from collections import Counter

    c = Counter(full_assign.values())
    assert c["train"] > c["val"] + c["test"]
    assert set(c) == {"train", "val", "test"}


def test_quota_per_group_caps_and_is_stable(spark):
    """llm3 property: no group exceeds the cap, and the kept set is
    independent of input partitioning (hash rank, not arrival order)."""
    from com_danliris_service_etl_spark.operators.sampling import quota_per_group

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    kept1 = {r.doc_id for r in quota_per_group(docs, cap=10).collect()}
    kept2 = {
        r.doc_id for r in quota_per_group(docs.repartition(13), cap=10).collect()
    }
    assert kept1 == kept2
    sizes = (
        quota_per_group(docs, cap=10)
        .groupBy("lang", "source")
        .count()
        .collect()
    )
    assert all(r["count"] <= 10 for r in sizes)


def test_incremental_lsh_matches_full_minus_old(spark):
    """Incremental dedup contract: banding a new batch against the
    persisted corpus signatures yields exactly the full-corpus LSH pairs
    that involve a new document — same est_jaccard, no old-old pairs,
    and the old side never re-pays the signature stage."""
    from com_danliris_service_etl_spark.operators.dedup import (
        incremental_minhash_lsh_pairs,
        minhash_lsh_pairs,
        minhash_signatures,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    old = docs.filter(F.col("doc_id") < 250)
    new = docs.filter(F.col("doc_id") >= 250)

    full = {
        (r.doc_a, r.doc_b): r.est_jaccard
        for r in minhash_lsh_pairs(docs).collect()
    }
    expected = {
        k: v for k, v in full.items() if k[0] >= 250 or k[1] >= 250
    }
    store = minhash_signatures(old)  # the persisted state
    inc = {
        (r.doc_a, r.doc_b): r.est_jaccard
        for r in incremental_minhash_lsh_pairs(store, new).collect()
    }
    assert inc == expected
    assert any(k[0] < 250 for k in inc), "cross old-new pairs must appear"


def test_surrogate_key_distributed_equals_global(spark):
    """The range-partitioned two-pass surrogate key must produce exactly
    the global-window assignment — dense 1..N in key order — while never
    funneling the data through one partition."""
    from com_danliris_service_etl_spark.operators.windows import (
        surrogate_key,
        surrogate_key_distributed,
    )

    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"
    )
    order = [
        F.col("l_orderkey"),
        F.col("l_linenumber"),
        F.col("l_partkey"),
        F.col("l_suppkey"),
    ]
    want = {
        tuple(r)
        for r in surrogate_key(li, order, "sk").collect()
    }
    got = {
        tuple(r)
        for r in surrogate_key_distributed(li, order, "sk", num_partitions=7).collect()
    }
    assert got == want


def test_range_join_matches_naive_theta_join(spark):
    """The binned range join must produce exactly the naive interval
    theta-join's pairs, for bin widths smaller, equal, and larger than
    the interval length (replication-path and single-bin-path both)."""
    from com_danliris_service_etl_spark.operators.joins import range_join

    pts = spark.createDataFrame(
        [(u, t) for u in (1, 2) for t in range(0, 100, 7)], "u long, t long"
    )
    ivs = spark.createDataFrame(
        [(1, 0, 10), (1, 5, 40), (2, 33, 34), (2, 90, 200), (1, 200, 300)],
        "iu long, lo long, hi long",
    )
    naive = {
        (r.u, r.t, r.lo)
        for r in pts.join(
            ivs,
            (pts.u == ivs.iu) & (pts.t > ivs.lo) & (pts.t <= ivs.hi),
        ).collect()
    }
    assert naive  # the fixture must actually exercise matches
    for w in (3, 10, 64):
        got = {
            (r.u, r.t, r.lo)
            for r in range_join(
                pts, ivs, "t", "lo", "hi", equi_keys=[("u", "iu")], bin_width=w
            ).collect()
        }
        assert got == naive, f"bin_width={w}"


def test_incremental_rollup_equals_full_recompute(spark):
    """Continuous-aggregate contract: folding the event stream in as two
    batches through merge_rollup produces exactly the single-pass rollup
    of the full stream — count/sum/min/max all mergeable, and buckets
    seen by only one batch survive the merge."""
    from com_danliris_service_etl_spark.operators.rollup import (
        bucket_aggregate,
        merge_rollup,
    )

    from com_danliris_service_etl_spark.plans.registry import _events

    ev = _events(spark, "/root/testdata/sf0.001").select(
        "event_id", "ts_us", "event_type", "value"
    )
    hour_us = 3600 * 1_000_000
    keys = ["bucket_us", "event_type"]

    full = bucket_aggregate(ev, "ts_us", hour_us, ["event_type"], "value")
    b1 = bucket_aggregate(
        ev.filter(F.col("event_id") % 2 == 0), "ts_us", hour_us, ["event_type"], "value"
    )
    b2 = bucket_aggregate(
        ev.filter(F.col("event_id") % 2 == 1), "ts_us", hour_us, ["event_type"], "value"
    )
    merged = merge_rollup(b1, b2, keys)

    def canon(df):
        return {
            (r.bucket_us, r.event_type): (r.n, round(r.sum_v, 6), r.min_v, r.max_v)
            for r in df.collect()
        }

    assert canon(merged) == canon(full)
    # merging an empty delta is the identity
    empty = b2.filter(F.lit(False))
    assert canon(merge_rollup(full, empty, keys)) == canon(full)


def test_weighted_sample_properties(spark):
    """llm6 properties: the kept set is invariant to input partitioning,
    caps respected per group, and the weighting actually biases the
    sample — sampled docs average longer than the corpus."""
    from com_danliris_service_etl_spark.operators.sampling import (
        weighted_sample_per_group,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    s1 = weighted_sample_per_group(docs, "n_chars", k=20)
    s2 = weighted_sample_per_group(docs.repartition(11), "n_chars", k=20)
    assert {r.doc_id for r in s1.collect()} == {r.doc_id for r in s2.collect()}
    sizes = s1.groupBy("lang").count().collect()
    assert all(r["count"] <= 20 for r in sizes)
    mean_sampled = s1.agg(F.avg("weight")).first()[0]
    mean_corpus = docs.agg(F.avg("n_chars")).first()[0]
    assert mean_sampled > mean_corpus


def test_dedup_clusters_known_graph(spark):
    """Connected components on a hand-built pair graph: two chains and an
    isolated pair; labels converge to each component's min id."""
    from com_danliris_service_etl_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 20)],
        "doc_a long, doc_b long",
    )
    got = {r.doc_id: r.cluster_id for r in dedup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}


def test_dedup_clusters_string_ids(spark):
    """Non-numeric (string) ids take the changed-label-count convergence
    path: on a 6-chain the labels must propagate well past the init
    round. The decimal-sum path would cast string labels to NULL, read
    the NULL sum as an instant plateau, and return after one round with
    the chain's tail mislabeled — the exact bug this test pins."""
    from com_danliris_service_etl_spark.operators.dedup import dedup_clusters

    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), ("e", "f"), ("x", "y")],
        "doc_a string, doc_b string",
    )
    got = {r.doc_id: r.cluster_id for r in dedup_clusters(pairs).collect()}
    assert got == {
        "a": "a", "b": "a", "c": "a", "d": "a", "e": "a", "f": "a",
        "x": "x", "y": "x",
    }


def test_passage_dedup_known_corpus(spark):
    """Injected duplicate windows: doc 2 repeats doc 1's first 3-token
    passage (dropped — doc 1 owns it), doc 1 repeats its own passage at a
    later position (dropped — earlier position owns it), and unique
    passages survive. clean_md5 must equal md5 of the kept passages
    joined in position order."""
    import hashlib

    from com_danliris_service_etl_spark.operators.dedup import passage_dedup

    docs = spark.createDataFrame(
        [
            (1, "a b c x y z a b c"),      # passages: "a b c", "x y z", "a b c"(dup)
            (2, "a b c q r s"),            # "a b c"(dup of doc1), "q r s"
            (3, "u v w"),                  # unique
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_passages, r.n_dup, r.clean_md5)
        for r in passage_dedup(docs, k=3).collect()
    }
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()
    assert got[1] == (3, 1, md5("a b c x y z"))
    assert got[2] == (2, 1, md5("q r s"))
    assert got[3] == (1, 0, md5("u v w"))


def test_quality_checks_detect_violations(spark):
    """Each constraint must actually fire: inject nulls, dupes,
    out-of-range values, and a dangling FK, and read the report."""
    from com_danliris_service_etl_spark.operators import quality as Q

    child = spark.createDataFrame(
        [(1, 10, 5.0), (2, 10, -1.0), (2, 99, None), (3, None, 7.0)],
        "id long, fk long, v double",
    )
    parent = spark.createDataFrame([(10,), (11,)], "pk long")
    report = {
        r.check: (r.metric, r.passed)
        for r in Q.run_checks(
            [
                Q.completeness(child, "v"),
                Q.uniqueness(child, ["id"]),
                Q.in_range(child, "v", 0.0, 100.0),
                Q.referential_integrity(child, parent, "fk", "pk"),
            ]
        ).collect()
    }
    assert report["completeness(v)"] == (0.75, False)
    assert report["uniqueness(id)"] == (1.0, False)          # id=2 twice
    assert report["in_range(v,0.0,100.0)"] == (1.0, False)   # v=-1
    assert report["referential_integrity(fk)"] == (1.0, False)  # fk=99
    # NULL fk (id=3) is NOT a dangling reference — SQL FK semantics

    clean = spark.createDataFrame([(1, 10, 5.0)], "id long, fk long, v double")
    ok = Q.run_checks(
        [
            Q.completeness(clean, "v"),
            Q.uniqueness(clean, ["id"]),
            Q.in_range(clean, "v", 0.0, 100.0),
            Q.referential_integrity(clean, parent, "fk", "pk"),
        ]
    ).collect()
    assert all(r.passed for r in ok)

def test_dedup_stages_live_once():
    """Each near-dup stage is built by ONE function of operators/dedup.py
    and operators/text.py, and every operator calls it: the k-shingle
    array, the MinHash permutation mins, the band-bucket pair explode,
    the est_jaccard expression and the first-colliding-band filter."""
    import ast
    import pathlib

    ops = pathlib.Path(__file__).resolve().parents[1] / (
        "com_danliris_service_etl_spark/operators"
    )

    def code_strings(fn):
        doc = fn.body[0] if isinstance(fn.body[0], ast.Expr) else None
        return [
            n.value
            for n in ast.walk(fn)
            if isinstance(n, ast.Constant) and isinstance(n.value, str)
            and not (doc is not None and n is doc.value)
        ]

    def calls(fn, name, first_arg=None):
        for n in ast.walk(fn):
            if not isinstance(n, ast.Call):
                continue
            f = n.func
            called = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
            if called != name:
                continue
            if first_arg is None or (
                n.args
                and isinstance(n.args[0], ast.Constant)
                and n.args[0].value == first_arg
            ):
                return True
        return False

    stages = {
        # a shingle joins tokens i..i+k-1 (pmi_bigrams' struct pairs and
        # the passage/window slices are other stages)
        "shingles": lambda fn: any(
            "transform(sequence(0, size(" in c for c in code_strings(fn)
        )
        and any("i -> concat_ws(' '" in c for c in code_strings(fn)),
        "perm_mins": lambda fn: calls(fn, "_perm_consts"),
        "bucket_pairs": lambda fn: calls(fn, "posexplode", "ms"),
        "est_jaccard": lambda fn: any(
            "CASE WHEN a = b THEN 1 ELSE 0 END" in c for c in code_strings(fn)
        ),
        "first_band": lambda fn: any(
            "exists(sequence(0, band_idx - 1)" in c for c in code_strings(fn)
        ),
    }
    builders = {k: set() for k in stages}
    for module in ("dedup.py", "text.py"):
        tree = ast.parse((ops / module).read_text())
        for fn in tree.body:
            if isinstance(fn, ast.FunctionDef):
                for stage, builds in stages.items():
                    if builds(fn):
                        builders[stage].add(f"{module}:{fn.name}")
    assert builders == {
        "shingles": {"dedup.py:_shingle_sql"},
        "perm_mins": {"dedup.py:_minhash"},
        "bucket_pairs": {"dedup.py:_bucket_pairs"},
        "est_jaccard": {"dedup.py:_lsh_pairs"},
        "first_band": {"dedup.py:_lsh_pairs"},
    }


def test_k_anon_fractional_band_width_still_suppresses(spark):
    from com_danliris_service_etl_spark.operators.privacy import (
        pseudonymize_k_anon,
    )

    # band_width=0.5: values 0.1 and 0.4 share band 0.0; 0.6 is alone in
    # band 0.5 and must be suppressed at k=2. An int-truncated width
    # would merge ALL bands into one and never suppress.
    df = spark.createDataFrame(
        [(1, 0.1, "s1"), (2, 0.4, "s2"), (3, 0.6, "s3")],
        "id long, v double, sens string",
    )
    rows = {
        r.id: r
        for r in pseudonymize_k_anon(
            df, "id", [], "v", 0.5, [], "sens", k=2
        ).collect()
    }
    assert rows[1].v_band == 0.0 and rows[3].v_band == 0.5
    assert rows[1].sens == "s1" and rows[2].sens == "s2"  # k=2 group kept
    assert rows[3].sens == "*"  # singleton band suppressed


def test_zorder_small_float_range_uses_full_bucket_range(spark):
    from com_danliris_service_etl_spark.operators.maintenance import zorder_value

    # values in [0, 0.003]: the old (hi-lo+1) denominator put EVERY row
    # in bucket 0; min-max scaling must spread them and clamp the max
    # into the top bucket.
    df = spark.createDataFrame(
        [(i, i * 0.001, float(i)) for i in range(4)], "id long, x double, y double"
    )
    out = {r["id"]: r.asDict() for r in zorder_value(df, "x", "y", bits=2).collect()}
    assert [out[i]["__bx"] for i in range(4)] == [0, 1, 2, 3]
    assert len({out[i]["zvalue"] for i in range(4)}) == 4


def test_multimodal_null_payload_and_custom_id(spark):
    from com_danliris_service_etl_spark.operators.multimodal import (
        extract_features,
        frame_sample,
        resize_payloads,
    )

    docs = spark.createDataFrame(
        [("k1", "abcd"), ("k2", None)], "image_id string, text string"
    )
    feats = {r.image_id: r for r in extract_features(docs, id_col="image_id").collect()}
    assert set(feats) == {"k1", "k2"}  # null payload no longer kills the task
    assert feats["k2"].n_bytes is None and feats["k2"].features == [0.0] * 4
    rs = {r.image_id: r for r in resize_payloads(docs, 8, id_col="image_id").collect()}
    assert rs["k2"].resized == b"\x00" * 8
    fs = frame_sample(docs, frame_bytes=2, id_col="image_id").collect()
    assert {r.image_id for r in fs} == {"k1", "k2"}


def test_pack_assignments_with_separate_order_col(spark):
    from com_danliris_service_etl_spark.operators.packing import pack_assignments

    # order by created_at (not the id): cumulative counts must follow
    # the order column, which the projection previously dropped.
    df = spark.createDataFrame(
        [(1, "en", "a b", 20), (2, "en", "c d e", 10)],
        "doc_id long, lang string, text string, created_at long",
    )
    rows = {
        r.doc_id: r.tokens_before
        for r in pack_assignments(
            df, budget=4, order_col="created_at", n_shards=1
        ).collect()
    }
    assert rows[2] == 0 and rows[1] == 3  # doc 2 first (earlier created_at)


def test_salted_aggregate_count_skips_nulls(spark):
    from com_danliris_service_etl_spark.operators.skew import salted_aggregate

    df = spark.createDataFrame(
        [("k", 1.0), ("k", None), ("k", 3.0)], "g string, v double"
    )
    out = salted_aggregate(df, ["g"], {"n": ("v", "count")}, n_salts=4).collect()[0]
    assert out.n == 2  # count(col) semantics, not count(*)


def test_salted_broadcast_join_rejects_right_and_full(spark):
    import pytest as _pytest

    from com_danliris_service_etl_spark.operators.skew import salted_broadcast_join

    big = spark.createDataFrame([(1, "x")], "k long, v string")
    dim = spark.createDataFrame([(1, "d"), (2, "d2")], "k long, d string")
    for how in ("right", "full", "outer"):
        with _pytest.raises(ValueError):
            salted_broadcast_join(big, dim, "k", how=how)


def test_cdc_apply_handles_spaced_column_names(spark):
    from com_danliris_service_etl_spark.operators.scd import cdc_apply

    log = spark.createDataFrame(
        [(1, "I", 1, "new"), (1, "U", 2, "upd")],
        ["k", "op", "seq", "order status"],
    )
    out = cdc_apply(log, ["k"], "seq").collect()
    assert out[0]["order status"] == "upd"


def test_asof_join_null_keys_never_match(spark):
    from com_danliris_service_etl_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(None, 10, 100), ("c1", 20, 100)], "code string, ts long, v long"
    )
    right = spark.createDataFrame(
        [(None, 5, 1.0), ("c1", 5, 2.0)], "code string, rts long, rate double"
    )
    out = asof_join(
        left, right, left_on="ts", right_on="rts", by=[("code", "code")]
    )
    got = {(r.code, r.rate) for r in out.collect()}
    # NULL by-key matches nothing (equi-join semantics) — the sort path
    # previously attached the NULL-key right row.
    assert (None, None) in got and ("c1", 2.0) in got


def test_nest_children_fast_path_null_keys(spark):
    from com_danliris_service_etl_spark.operators.explode import nest_children

    parent = spark.createDataFrame(
        [(None, "a"), (None, "b"), (1, "c")], "id long, name string"
    )
    child = spark.createDataFrame(
        [(None, "orphan"), (1, "k1")], "fk long, val string"
    )
    out = nest_children(
        parent, child, "id", "fk", "items", parent_key_unique=True
    ).collect()
    by_name = {r.name: r for r in out}
    # BOTH null-key parents survive, with empty arrays and no phantom
    # NULL-fk children; the real key still gets its child.
    assert set(by_name) == {"a", "b", "c"}
    assert by_name["a"].items == [] and by_name["b"].items == []
    assert [x.val for x in by_name["c"].items] == ["k1"]


def test_explode_raises_on_column_collision(spark):
    import pytest as _pytest

    from com_danliris_service_etl_spark.operators.explode import explode_inner

    df = spark.createDataFrame(
        [(1, "x", [("y",)])],
        "id long, code string, items array<struct<code string>>",
    )
    with _pytest.raises(ValueError, match="duplicate column"):
        explode_inner(df, "items")
    # a prefix disambiguates
    assert explode_inner(df, "items", prefix="item_").columns == [
        "id", "code", "item_code",
    ]


def test_snapshot_drift_flags_zero_mean_old(spark):
    from com_danliris_service_etl_spark.operators.quality import snapshot_drift

    old = spark.createDataFrame([("g", 0.0), ("g", 0.0)], "src string, v double")
    new = spark.createDataFrame([("g", 50.0), ("g", 50.0)], "src string, v double")
    r = snapshot_drift(old, new, "src", "v").collect()[0]
    # mean 0 → relative drift undefined (NULL) — must still FLAG, not
    # emit drifted=NULL that a boolean gate silently skips
    assert r.drifted is True


def test_completeness_empty_table_fails_not_null(spark):
    from com_danliris_service_etl_spark.operators.quality import completeness

    empty = spark.createDataFrame([], "x string")
    r = completeness(empty, "x").collect()[0]
    assert r.passed is False  # NULL would slip through any gate


def test_minute_diff_subsecond_exact(spark):
    from com_danliris_service_etl_spark.functions.dates import minute_diff

    df = spark.createDataFrame(
        [(1,)], "i long"
    ).select(
        minute_diff(
            F.timestamp_micros(F.lit(60_400_000)),   # 00:01:00.4
            F.timestamp_micros(F.lit(500_000)),      # 00:00:00.5
        ).alias("m")
    )
    # true delta 59.9 s → 0 whole minutes (per-operand second-flooring
    # used to report 1)
    assert df.collect()[0].m == 0


def test_spread_skips_probe_on_composed_frames(spark):
    """ADVICE r5: `spread`'s `.rdd.getNumPartitions()` probe materializes
    upstream AQE query stages when the plan contains exchanges. The guard
    must pass composed frames (join/agg/window upstream) through untouched
    — public operators (`fuzzy_blocked_join`, `pq_topk`) accept arbitrary
    caller frames — while still spreading narrow scan-rooted inputs."""
    from com_danliris_service_etl_spark.operators.partitioning import (
        _is_scan_rooted,
        spread,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    # narrow shapes: scan, filter+project, explode, limit
    assert _is_scan_rooted(docs)
    assert _is_scan_rooted(docs.filter("n_chars > 10").select("doc_id"))
    assert _is_scan_rooted(
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("t"))
    )
    # composed shapes: aggregate, join, window, repartition
    agg = docs.groupBy("lang").count()
    joined = docs.join(docs.select("doc_id"), "doc_id")
    assert not _is_scan_rooted(agg)
    assert not _is_scan_rooted(joined)
    assert not _is_scan_rooted(docs.repartition(4))
    # composed → identity (no probe, no repartition)
    assert spread(agg) is agg
    assert spread(joined) is joined
    # scan-rooted single-file input → spread to full parallelism
    out = spread(docs)
    assert out is not docs
    assert (
        out.rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )


def _formatted(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _shuffles(plan: str) -> int:
    # "BroadcastExchange (" contains "Exchange (": count tree lines only
    return plan.count("Exchange (") - plan.count("BroadcastExchange (")


def _one_file_docs(spark):
    from tests.conftest import SF_DIR

    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def test_keyed_spread_hash_partitions_on_the_key(spark):
    """`spread(df, "doc_id")` on a one-file scan plans one exchange,
    hash-partitioned on the key rather than on the whole-row hash."""
    from com_danliris_service_etl_spark.operators.partitioning import spread

    docs = _one_file_docs(spark)
    plan = _formatted(spread(docs, "doc_id"))
    assert _shuffles(plan) == 1, plan
    assert "hashpartitioning(doc_id#" in plan, plan
    assert "xxhash64" not in plan, plan


def test_keyed_spread_satisfies_downstream_doc_groupbys(spark):
    """groupBy(doc_id, tok) and then groupBy(doc_id) over a doc-keyed
    spread run in its partitioning: the spread is the only exchange."""
    from com_danliris_service_etl_spark.operators.partitioning import spread

    docs = _one_file_docs(spark)
    per_doc = (
        spread(docs, "doc_id")
        .select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("doc_id", "tok")
        .count()
        .groupBy("doc_id")
        .agg(F.max("count").alias("top"))
    )
    assert _shuffles(_formatted(per_doc)) == 1


def test_keyed_spread_prunes_unused_columns_below_the_exchange(spark):
    """The keyed exchange references only its key, so the scan reads just
    the columns the pipeline uses (the whole-row hash reads them all)."""
    from com_danliris_service_etl_spark.operators.partitioning import spread

    docs = _one_file_docs(spark)
    assert len(docs.columns) > 2
    plan = _formatted(spread(docs, "doc_id").select("doc_id", F.length("text")))
    read_schema = plan.split("ReadSchema: ")[1].split("\n")[0]
    assert read_schema == "struct<doc_id:bigint,text:string>", plan


def test_keyed_spread_passes_tiny_and_split_inputs_through(spark, tmp_path):
    """The keyed form keeps the whole-row form's pass-through rules: an
    input under SPREAD_BYTES, and a scan that already splits into the
    target count, come back as the same frame in both forms."""
    from com_danliris_service_etl_spark.operators.partitioning import (
        SPREAD_BYTES,
        spread,
    )

    docs = _one_file_docs(spark)
    docs.limit(5).write.parquet(str(tmp_path / "tiny"))
    tiny = spark.read.parquet(str(tmp_path / "tiny"))
    leaves = tiny._jdf.queryExecution().analyzed().collectLeaves()
    assert int(leaves.apply(0).stats().sizeInBytes()) < SPREAD_BYTES
    assert spread(tiny) is tiny
    assert spread(tiny, "doc_id") is tiny

    size = int(docs._jdf.queryExecution().analyzed().stats().sizeInBytes())
    par = spark.sparkContext.defaultParallelism
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(-(-size // par)))
        assert spread(docs) is docs
        assert spread(docs, "doc_id") is docs
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)


def test_spread_probe_uses_leaf_not_projected_stats(spark, tmp_path):
    """r12 advice: the analyzed ROOT's sizeInBytes is scaled through
    Project by the basic stats visitor, so a narrow projection over a
    wide, already well-split scan would under-estimate and trigger a
    spurious repartition (extra shuffle). The probe must read the LEAF
    relation's stats — the raw file bytes FilePartition planning splits —
    so the narrow select of a big input passes through untouched."""
    import pandas as pd

    from com_danliris_service_etl_spark.operators.partitioning import spread

    # one wide file: a fat payload column plus a tiny key column; sized so
    # leaf-bytes/split >= parallelism but (key-only root stats)/split < it
    n = 2000
    pd.DataFrame(
        {"k": range(n), "payload": ["x" * 512 for _ in range(n)]}
    ).to_parquet(tmp_path / "wide.parquet")
    df = spark.read.parquet(str(tmp_path / "wide.parquet"))
    par = spark.sparkContext.defaultParallelism
    leaf_size = int(
        df._jdf.queryExecution().analyzed().stats().sizeInBytes()
    )
    narrow = df.select("k")
    root_size = int(
        narrow._jdf.queryExecution().analyzed().stats().sizeInBytes()
    )
    assert root_size < leaf_size  # the projection scaling the advice cites
    # openCost = leaf/par puts the probe in the openCost-dominated regime
    # (the one the advice hits at defaults: small-ish scan, 4MB openCost):
    # leaf estimate = ceil(leaf/oc) >= par -> pass-through, while the old
    # root-stats estimate = ceil(root/oc) << par -> spurious repartition
    oc = max(1, -(-leaf_size // par))
    old_oc = spark.conf.get("spark.sql.files.openCostInBytes")
    try:
        spark.conf.set("spark.sql.files.openCostInBytes", str(oc))
        assert -(-root_size // oc) < par  # fixture really distinguishes
        assert spread(narrow) is narrow
    finally:
        spark.conf.set("spark.sql.files.openCostInBytes", old_oc)


def test_is_scan_rooted_self_check_fails_loudly_on_drift(spark, monkeypatch):
    """ADVICE r6: a Spark version whose analyzed-plan node classes drift
    out of _NARROW_CLASSES must fail the one-time self-check LOUDLY, not
    silently classify every frame as composed (disabling spread)."""
    from com_danliris_service_etl_spark.operators import partitioning

    # simulate drift: no class is recognized as narrow
    monkeypatch.setattr(partitioning, "_NARROW_CLASSES", frozenset())
    monkeypatch.setattr(partitioning, "_SCAN_ROOT_SELF_CHECKED", False)
    docs = spark.range(3).toDF("doc_id")
    with pytest.raises(RuntimeError, match="self-check failed"):
        partitioning._is_scan_rooted(docs)


def test_grouped_running_sum_distributed_equals_window(spark):
    """The two-pass range form must reproduce the single-window grouped
    running sum exactly (integral values), including groups that span
    partition boundaries."""
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from com_danliris_service_etl_spark.operators.windows import (
        grouped_running_sum_distributed,
    )

    rng = random.Random(7)
    data = [
        (g, i, rng.randint(1, 100))
        for g in ["a", "b", "c"]
        for i in range(rng.randint(5, 40))
    ]
    df = spark.createDataFrame(data, "g string, i long, v long")
    w = (
        Window.partitionBy("g")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    expect = {
        (r.g, r.i): r.c
        for r in df.withColumn("c", F.sum("v").over(w)).collect()
    }
    # force few rows per partition so groups straddle boundaries
    got = {
        (r.g, r.i): r.run_sum
        for r in grouped_running_sum_distributed(
            df, ["g"], F.col("i"), "v", num_partitions=8
        ).collect()
    }
    assert got == expect


def test_grouped_running_sum_distributed_empty_input(spark):
    from pyspark.sql import functions as F

    from com_danliris_service_etl_spark.operators.windows import (
        grouped_running_sum_distributed,
    )

    df = spark.createDataFrame([], "g string, i long, v long")
    out = grouped_running_sum_distributed(df, ["g"], F.col("i"), "v")
    assert out.count() == 0 and "run_sum" in out.columns


def test_grouped_running_sum_distributed_guards_high_cardinality_groups(spark):
    """The driver collect is bounded by n_partitions + n_groups ONLY when
    groups are few (the operator's giant-strata design point); a
    high-cardinality group key must raise loudly (r9 verdict task 10)
    instead of shipping a fact-scale offset table to the driver — the
    plain window form is already parallel in that regime."""
    import pytest
    from pyspark.sql import functions as F

    from com_danliris_service_etl_spark.operators.windows import (
        grouped_running_sum_distributed,
    )

    df = spark.range(0, 500).select(
        F.col("id").alias("g"), F.col("id").alias("i"), F.lit(1).alias("v")
    )
    with pytest.raises(ValueError, match="high-cardinality"):
        grouped_running_sum_distributed(
            df, ["g"], F.col("i"), "v", max_offset_rows=100
        )
    # ...and the same call with an adequate bound still works
    out = grouped_running_sum_distributed(
        df, ["g"], F.col("i"), "v", max_offset_rows=10_000
    )
    assert out.count() == 500


def test_grouped_running_sum_distributed_double_values(spark):
    """Double value columns must not trip createDataFrame's strict offset
    typing; within-group prefix ordering still holds (values are all
    positive, so the running sum must be strictly increasing)."""
    from pyspark.sql import functions as F

    from com_danliris_service_etl_spark.operators.windows import (
        grouped_running_sum_distributed,
    )

    df = spark.createDataFrame(
        [("a", i, float(i) + 0.25) for i in range(20)]
        + [("b", i, 1.5) for i in range(20)],
        "g string, i long, v double",
    )
    out = grouped_running_sum_distributed(
        df, ["g"], F.col("i"), "v", num_partitions=6
    ).collect()
    assert len(out) == 40
    by_g = {}
    for r in sorted(out, key=lambda r: (r.g, r.i)):
        prev = by_g.get(r.g, 0.0)
        assert r.run_sum > prev
        by_g[r.g] = r.run_sum
    # group b: constant weights -> run_sum = 1.5 * (i + 1) exactly
    assert all(
        abs(r.run_sum - 1.5 * (r.i + 1)) < 1e-9 for r in out if r.g == "b"
    )


def test_grouped_running_sum_distributed_all_null_slice(spark):
    """An all-NULL (partition, group) slice yields a None per-slice total
    (F.sum skips NULLs); the driver-side offset accumulation must treat
    it as 0, matching the single-window form's null-skipping semantics
    (ADVICE r8: windows.py acc += None crashed)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from com_danliris_service_etl_spark.operators.windows import (
        grouped_running_sum_distributed,
    )

    # group "n" is entirely NULL-valued and long enough to span several
    # range partitions; group "a" is normal.
    df = spark.createDataFrame(
        [("n", i, None) for i in range(30)] + [("a", i, i + 1) for i in range(10)],
        "g string, i long, v long",
    )
    w = (
        Window.partitionBy("g")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    expect = {
        (r.g, r.i): r.c for r in df.withColumn("c", F.sum("v").over(w)).collect()
    }
    got = {
        (r.g, r.i): r.run_sum
        for r in grouped_running_sum_distributed(
            df, ["g"], F.col("i"), "v", num_partitions=8
        ).collect()
    }
    assert got == expect


def test_grouped_running_sum_distributed_int32_widens_to_long(spark):
    """Int32 value columns sum past int32 range; the offset column must be
    typed as F.sum's RESULT type (LongType), not the input type (ADVICE
    r8: an IntegerType __off overflowed / failed createDataFrame)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    from com_danliris_service_etl_spark.operators.windows import (
        grouped_running_sum_distributed,
    )

    big = 2_000_000_000  # close to int32 max; 40 of them >> int32 range
    df = spark.createDataFrame(
        [("a", i, big) for i in range(40)], "g string, i long, v int"
    )
    out = grouped_running_sum_distributed(
        df, ["g"], F.col("i"), "v", num_partitions=8
    )
    assert isinstance(out.schema["run_sum"].dataType, LongType)
    w = (
        Window.partitionBy("g")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    expect = {
        (r.g, r.i): r.c for r in df.withColumn("c", F.sum("v").over(w)).collect()
    }
    got = {(r.g, r.i): r.run_sum for r in out.collect()}
    assert got == expect
