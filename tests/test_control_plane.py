"""Watermark protocol + MERGE sink tests (SURVEY.md §5.4: idempotence /
incremental semantics)."""

from __future__ import annotations

import datetime as dt
import os

import pytest
from pyspark.sql import functions as F

from com_danliris_service_etl_spark.sources.sinks import date_dimension, merge_upsert
from com_danliris_service_etl_spark.sources.watermark import EPOCH, WatermarkStore


def test_watermark_protocol(spark, tmp_path):
    store = WatermarkStore(spark, str(tmp_path / "log"))
    job = "Fact Pembelian"
    # no runs yet → epoch fallback (`Pembelian/run.js:121`)
    assert store.read_watermark(job) == EPOCH

    t1 = dt.datetime(2024, 1, 1, 22, 0)
    t2 = dt.datetime(2024, 1, 2, 22, 0)
    store.commit_run(job, t1, t1 + dt.timedelta(minutes=5), "Successful", 100)
    store.commit_run(job, t2, t2 + dt.timedelta(minutes=5), "Failed: boom", None)
    # failed run does not advance the watermark
    assert store.read_watermark(job) == t1
    store.commit_run(job, t2, t2 + dt.timedelta(minutes=6), "Successful", 120)
    assert store.read_watermark(job) == t2
    # unrelated job unaffected
    assert store.read_watermark("Fact Kanban") == EPOCH


def test_incremental_filter(spark, tmp_path):
    store = WatermarkStore(spark, str(tmp_path / "log"))
    job = "j"
    t1 = dt.datetime(2024, 1, 2)
    store.commit_run(job, t1, t1, "Successful")
    df = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1)), (2, dt.datetime(2024, 1, 2)), (3, dt.datetime(2024, 1, 3))],
        "id long, lastmodifiedutc timestamp",
    )
    # strict > (Pembelian flavor) vs >= (GarmentPembelian flavor)
    assert [r.id for r in store.incremental(df, job).orderBy("id").collect()] == [3]
    assert [r.id for r in store.incremental(df, job, inclusive=True).orderBy("id").collect()] == [2, 3]


def test_merge_upsert_idempotent(spark, tmp_path):
    target = str(tmp_path / "fact")
    batch = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], "id long, name string, amt double"
    )
    merge_upsert(spark, target, batch, keys=["id"])
    merge_upsert(spark, target, batch, keys=["id"])  # re-run: unchanged
    got = spark.read.parquet(target).orderBy("id").collect()
    assert [(r.id, r.name, r.amt) for r in got] == [(1, "a", 10.0), (2, "b", 20.0)]

    # update one, insert one
    delta = spark.createDataFrame(
        [(2, "b2", 25.0), (3, "c", 30.0)], "id long, name string, amt double"
    )
    merge_upsert(spark, target, delta, keys=["id"])
    got = spark.read.parquet(target).orderBy("id").collect()
    assert [(r.id, r.name, r.amt) for r in got] == [
        (1, "a", 10.0), (2, "b2", 25.0), (3, "c", 30.0),
    ]


def test_merge_upsert_dedupes_batch_on_order_col(spark, tmp_path):
    target = str(tmp_path / "fact2")
    batch = spark.createDataFrame(
        [(1, "old", dt.datetime(2024, 1, 1)), (1, "new", dt.datetime(2024, 1, 2))],
        "id long, v string, modified timestamp",
    )
    merge_upsert(spark, target, batch, keys=["id"], order_col="modified")
    got = spark.read.parquet(target).collect()
    assert len(got) == 1 and got[0].v == "new"


def test_merge_upsert_replace_group_detail_grain(spark, tmp_path):
    """Detail-grain (grain="group") loads: keys identify a 1:N replace group,
    not a unique row (`GarmentTotalHutang/run.js:257-283` stages every detail
    row of a re-extracted intern note). All of a batch key's fact rows are
    replaced by ALL the batch's rows for it — identical detail rows must NOT
    collapse, and re-running the same batch is idempotent."""
    target = str(tmp_path / "fact_detail")
    batch = spark.createDataFrame(
        # note A: three details, two legitimately identical; note B: one
        [("A", "p1", 5.0), ("A", "p1", 5.0), ("A", "p2", 7.0), ("B", "p9", 1.0)],
        "note string, product string, qty double",
    )
    merge_upsert(spark, target, batch, keys=["note"], replace_group=True)
    merge_upsert(spark, target, batch, keys=["note"], replace_group=True)  # idempotent
    got = sorted(
        (r.note, r.product, r.qty) for r in spark.read.parquet(target).collect()
    )
    assert got == [("A", "p1", 5.0), ("A", "p1", 5.0), ("A", "p2", 7.0), ("B", "p9", 1.0)]

    # re-extraction shrinks note A to two details; note B untouched
    upd = spark.createDataFrame(
        [("A", "p1", 6.0), ("A", "p3", 2.0)], "note string, product string, qty double"
    )
    merge_upsert(spark, target, upd, keys=["note"], replace_group=True)
    got = sorted(
        (r.note, r.product, r.qty) for r in spark.read.parquet(target).collect()
    )
    assert got == [("A", "p1", 6.0), ("A", "p3", 2.0), ("B", "p9", 1.0)]


def test_merge_upsert_delta_branch_contract(spark, tmp_path):
    """S6's PRODUCTION branch: with Delta jars on the classpath,
    merge_upsert creates the fact in Delta format and compiles to `MERGE
    INTO` (row grain) / MERGE-delete + append (group grain) — and the
    exact contract the parquet-emulation tests pin (idempotent re-run,
    update+insert, detail-grain replace) must hold there unchanged. This
    sandbox image has no Delta jars, so the test SKIPS here; on a CI
    image with delta-spark it runs the full contract against the real
    transactional path.

    r10 closure on the VERDICT ask to install delta-spark locally: the
    sandbox has NO network route (maven central / pypi unreachable) and
    package installation is disallowed, so the jar cannot be vendored.
    What IS exercised in-sandbox: the Delta branch's full logic — fresh-
    create format, MERGE key predicate (null-safe <=>), matched/not-
    matched clause order, group-grain delete+append — via the stubbed
    DeltaTable in tests/test_merge_upsert_delta_mock.py; only Delta's own
    transaction engine is trusted, not re-tested."""
    from com_danliris_service_etl_spark.sources.sinks import _delta_available

    if not _delta_available(spark):
        pytest.skip(
            "Delta jars absent (no network to vendor them; install "
            "disallowed) — branch logic covered by the DeltaTable stub "
            "in test_merge_upsert_delta_mock.py; full contract runs on "
            "Delta-enabled CI"
        )

    target = str(tmp_path / "fact_delta")
    batch = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], "id long, name string, amt double"
    )
    merge_upsert(spark, target, batch, keys=["id"])
    # fresh fact must have been created IN DELTA FORMAT (otherwise every
    # later merge silently falls back to the full-rewrite emulation)
    assert (tmp_path / "fact_delta" / "_delta_log").exists()
    merge_upsert(spark, target, batch, keys=["id"])  # idempotent re-run
    read = lambda: spark.read.format("delta").load(target)  # noqa: E731
    assert sorted((r.id, r.name, r.amt) for r in read().collect()) == [
        (1, "a", 10.0), (2, "b", 20.0),
    ]
    # update one, insert one — MERGE matched-update + not-matched-insert
    delta = spark.createDataFrame(
        [(2, "b2", 25.0), (3, "c", 30.0)], "id long, name string, amt double"
    )
    merge_upsert(spark, target, delta, keys=["id"])
    assert sorted((r.id, r.name, r.amt) for r in read().collect()) == [
        (1, "a", 10.0), (2, "b2", 25.0), (3, "c", 30.0),
    ]
    # detail grain on Delta: MERGE-delete then append, idempotent
    target2 = str(tmp_path / "fact_delta_detail")
    details = spark.createDataFrame(
        [("A", "p1", 5.0), ("A", "p1", 5.0), ("B", "p9", 1.0)],
        "note string, product string, qty double",
    )
    merge_upsert(spark, target2, details, keys=["note"], replace_group=True)
    merge_upsert(spark, target2, details, keys=["note"], replace_group=True)
    got = sorted(
        (r.note, r.product, r.qty)
        for r in spark.read.format("delta").load(target2).collect()
    )
    assert got == [("A", "p1", 5.0), ("A", "p1", 5.0), ("B", "p9", 1.0)]


def test_date_dimension(spark):
    facts = spark.createDataFrame(
        [(dt.datetime(2024, 2, 29, 10, 0),), (dt.datetime(2024, 2, 29, 23, 0),), (None,)],
        "d timestamp",
    )
    dim = date_dimension(spark, facts, "d").collect()
    assert len(dim) == 1
    row = dim[0]
    assert (row.year, row.quarter, row.month, row.day) == (2024, 1, 2, 29)
    assert row.day_name == "Thursday"


def test_merge_upsert_null_keys_idempotent(spark, tmp_path):
    """Merge keys can be NULL (kanban without steps): re-merging the same
    batch must not duplicate null-key rows (null-safe key equality)."""
    from com_danliris_service_etl_spark.sources.sinks import merge_upsert

    target = str(tmp_path / "fact")
    batch = spark.createDataFrame(
        [(1, None, "a"), (1, 10, "b"), (2, None, "c")],
        "id long, step_id long, val string",
    )
    merge_upsert(spark, target, batch, keys=["id", "step_id"])
    merge_upsert(spark, target, batch, keys=["id", "step_id"])
    out = spark.read.parquet(target)
    assert out.count() == 3
    # updated value wins on re-merge
    upd = spark.createDataFrame([(1, None, "a2")], "id long, step_id long, val string")
    merge_upsert(spark, target, upd, keys=["id", "step_id"])
    rows = {(r["id"], r["step_id"]): r["val"] for r in spark.read.parquet(target).collect()}
    assert rows[(1, None)] == "a2" and len(rows) == 3


def test_jdbc_source_contract(spark):
    """S1/S2 — the live JDBC read path (`sources/catalog.py::JdbcSource`),
    exercised against the Derby in-memory DB bundled with Spark as a
    stand-in for the reference's SQL Server connections
    (`Connection/Purchasing/purchasing-connection.js:3-12`): a plain read
    and a partitioned-range read return the same rows, the partitioned
    read plans exactly num_partitions input splits (the scale lever that
    replaces the reference's OFFSET/FETCH pagination, O4), and filter
    pushdown reaches the JDBC scan."""
    from com_danliris_service_etl_spark.sources.catalog import Catalog, JdbcSource

    jvm = spark._jvm
    url = "jdbc:derby:memory:contractdb;create=true"
    conn = jvm.java.sql.DriverManager.getConnection(url)
    st = conn.createStatement()
    st.execute("CREATE TABLE items (id INT NOT NULL, name VARCHAR(20), qty DOUBLE)")
    for i in range(20):
        st.execute(f"INSERT INTO items VALUES ({i}, 'n{i}', {i * 1.5})")
    st.close()
    conn.close()

    cat = Catalog(
        spark=spark,
        tables={
            "items": JdbcSource(url=url, table="items"),
            "items_part": JdbcSource(
                url=url, table="items", partition_column="id",
                num_partitions=4, lower_bound="0", upper_bound="20",
            ),
        },
    )
    plain = cat.read("items")
    assert sorted(r["ID"] for r in plain.collect()) == list(range(20))

    part = cat.read("items_part")
    assert part.rdd.getNumPartitions() == 4
    assert sorted((r["ID"], r["QTY"]) for r in part.collect()) == [
        (i, i * 1.5) for i in range(20)
    ]
    # S2: the watermark predicate must reach the JDBC scan as a pushed filter
    plan = (
        part.filter(part.ID < 10)._jdf.queryExecution().executedPlan().toString()
    )
    assert "PushedFilters" in plan and "LessThan(ID,10)" in plan


def test_merge_upsert_empty_increments(spark, tmp_path):
    """Empty nightly increments flow through the MERGE unharmed: an
    empty batch may CREATE the fact (schema-only parquet, readable), a
    later real batch merges into it, and an empty batch onto live data
    is a no-op."""
    target = str(tmp_path / "fact_empty")
    empty = spark.createDataFrame([], "id long, v string")
    merge_upsert(spark, target, empty, keys=["id"])
    assert spark.read.parquet(target).count() == 0
    data = spark.createDataFrame([(1, "a")], "id long, v string")
    merge_upsert(spark, target, data, keys=["id"])
    import os

    before = {
        f: os.path.getmtime(os.path.join(target, f))
        for f in os.listdir(target)
    }
    merge_upsert(spark, target, empty, keys=["id"])
    assert [(r.id, r.v) for r in spark.read.parquet(target).collect()] == [(1, "a")]
    # r13 quiet-night short-circuit: the empty no-op must not REWRITE
    # the fact (PIPELINE_BENCH measured a full read->rewrite->swap per
    # job per quiet night without it) — same files, same mtimes
    after = {
        f: os.path.getmtime(os.path.join(target, f))
        for f in os.listdir(target)
    }
    assert after == before


def test_mongo_source_contract(spark):
    """S3 production path: the reference reads Mongo directly with an
    aggregation pipeline (`MigrationLogFunc/index.js:14-45`). The catalog
    descriptor carries uri/database/collection and pushes the pipeline
    into the connector's aggregation option; this image has no
    mongo-spark-connector jar, so the read must fail with a CLEAR
    actionable error (never a silent wrong-format fallback). On a
    connector-equipped cluster the same descriptor reads live; the
    semantics are covered by the DataFrame twin in jobs/control.py."""
    from com_danliris_service_etl_spark.sources.catalog import Catalog, MongoSource

    cat = Catalog(spark=spark)
    cat.tables["miglog"] = MongoSource(
        uri="mongodb://localhost:27017",
        database="dl",
        collection="migration-log",
        pipeline='[{"$match": {"status": "Successful"}},'
        ' {"$sort": {"finish": -1}}, {"$limit": 1}]',
    )
    with pytest.raises(RuntimeError, match="mongo-spark-connector"):
        cat.read("miglog")


def test_mongo_source_non_classpath_errors_pass_through(spark):
    """Only the missing-connector class of error is translated; an auth /
    URI / network failure on a connector-equipped cluster must surface
    unchanged — not be misattributed to a missing jar."""
    from com_danliris_service_etl_spark.sources.catalog import Catalog, MongoSource

    cat = Catalog(spark=spark)
    cat.tables["miglog"] = MongoSource(
        uri="mongodb://localhost:27017", database="dl", collection="log"
    )

    class _Reader:
        def format(self, *_):
            return self

        def option(self, *_):
            return self

        def load(self):
            raise ValueError("MongoSecurityException: auth failed for user etl")

    class _FakeSpark:
        read = _Reader()

    cat.spark = _FakeSpark()
    with pytest.raises(ValueError, match="auth failed"):
        cat.read("miglog")


def test_write_fact_dynamic_partition_overwrite(spark, tmp_path):
    """The incremental-nightly layout contract: overwriting a partitioned
    fact with one day's batch must replace ONLY that day's partition in
    dynamic mode — plain overwrite truncates the whole table (the hazard
    the flag exists for, pinned here so it stays loud)."""
    from com_danliris_service_etl_spark.sources.sinks import write_fact

    path = str(tmp_path / "fact_part")
    full = spark.createDataFrame(
        [(1, "2024-01-01", "a"), (2, "2024-01-02", "b"), (3, "2024-01-03", "c")],
        "id long, day string, v string",
    )
    write_fact(full, path, partition_by=["day"])
    assert spark.read.parquet(path).count() == 3

    one_day = spark.createDataFrame(
        [(9, "2024-01-02", "B")], "id long, day string, v string"
    )
    # dynamic: only 2024-01-02 replaced (partition-column inference reads
    # the day back as a DATE — compare on its string form)
    write_fact(one_day, path, partition_by=["day"], dynamic_overwrite=True)
    got = {(r.id, str(r.day), r.v) for r in spark.read.parquet(path).collect()}
    assert got == {(1, "2024-01-01", "a"), (9, "2024-01-02", "B"), (3, "2024-01-03", "c")}

    # static overwrite: whole table truncated to the batch
    write_fact(one_day, path, partition_by=["day"])
    assert spark.read.parquet(path).count() == 1


def test_merge_upsert_recovers_from_killed_first_write(spark, tmp_path):
    """A kill during the very FIRST fact write leaves a _temporary-only
    directory; the next merge must treat it as a fresh fact (the data
    was never committed) instead of wedging every retry on an unreadable
    target (review finding r6)."""
    target = tmp_path / "fact_wedged"
    (target / "_temporary" / "0").mkdir(parents=True)
    batch = spark.createDataFrame([(1, "a")], "id long, v string")
    merge_upsert(spark, str(target), batch, keys=["id"])
    got = spark.read.parquet(str(target)).collect()
    assert [(r.id, r.v) for r in got] == [(1, "a")]
    # and the merge path keeps working after the recovery
    merge_upsert(
        spark,
        str(target),
        spark.createDataFrame([(2, "b")], "id long, v string"),
        keys=["id"],
    )
    assert spark.read.parquet(str(target)).count() == 2


def test_merge_upsert_gc_stale_tmp_dirs(spark, tmp_path):
    """Crashed swaps leave full-size `.tmp-<uuid>` siblings; the next
    merge garbage-collects them instead of letting each retry add
    another complete copy of the fact."""
    target = str(tmp_path / "fact_gc")
    batch = spark.createDataFrame([(1, "a")], "id long, v string")
    merge_upsert(spark, target, batch, keys=["id"])
    stale = tmp_path / "fact_gc.tmp-deadbeef"
    stale.mkdir()
    (stale / "part-stale.parquet").write_bytes(b"junk")
    merge_upsert(spark, target, batch, keys=["id"])
    assert not stale.exists()
    assert spark.read.parquet(target).count() == 1


def test_merge_upsert_trailing_slash_target(spark, tmp_path):
    """A trailing slash must not turn the swap's tmp/backup siblings into
    CHILDREN of the live fact (rename-into-own-subdir fails on Hadoop)."""
    target = str(tmp_path / "fact_slash") + "/"
    a = spark.createDataFrame([(1, "a")], "id long, v string")
    b = spark.createDataFrame([(1, "a2"), (2, "b")], "id long, v string")
    merge_upsert(spark, target, a, keys=["id"])
    merge_upsert(spark, target, b, keys=["id"])  # exercises the swap path
    got = sorted((r.id, r.v) for r in spark.read.parquet(target).collect())
    assert got == [(1, "a2"), (2, "b")]
    assert not (tmp_path / "fact_slash" / ".old").exists()


def test_watermark_store_survives_empty_or_inflight_log_dir(spark, tmp_path):
    """A killed FIRST commit_run leaves a _temporary-only log directory;
    every job's watermark read must fall back to EPOCH (safe: re-extract
    + idempotent MERGE) instead of crashing until manual cleanup."""
    log = tmp_path / "log_wedged"
    (log / "_temporary" / "0").mkdir(parents=True)
    store = WatermarkStore(spark, str(log))
    assert store.read_watermark("Fact X") == EPOCH
    # and the protocol proceeds normally afterwards
    t1 = dt.datetime(2024, 3, 1)
    store.commit_run("Fact X", t1, t1, "Successful", 10)
    assert store.read_watermark("Fact X") == t1
    # a LATER commit_run killed mid-write leaves an in-flight part file
    # beside the committed log; the read must still see the last commit
    inflight = log / "_temporary" / "0"
    inflight.mkdir(parents=True, exist_ok=True)
    (inflight / "part-x.parquet").write_bytes(b"junk")
    assert store.read_watermark("Fact X") == t1


def test_read_watermark_runs_at_most_two_spark_jobs(spark, tmp_path):
    """The log is read with its declared schema, so a watermark read over a
    populated log launches no schema-inference job — only the lookup."""
    store = WatermarkStore(spark, str(tmp_path / "log"))
    t1, t2 = dt.datetime(2024, 3, 1), dt.datetime(2024, 3, 2)
    store.commit_run("Fact X", t1, t1, "Successful", 10)
    store.commit_run("Fact X", t2, t2, "Successful", 5)
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()  # noqa: SLF001

    def job_ids() -> set[int]:
        bus.waitUntilEmpty()  # job-start events reach the tracker async
        return set(sc.statusTracker().getJobIdsForGroup(None))

    before = job_ids()
    assert store.read_watermark("Fact X") == t2
    assert len(job_ids() - before) <= 2


def test_fsutil_store_path_containing_temporary_substring(spark, tmp_path):
    """A store whose PATH merely contains the text '_temporary' must not
    have its committed files misclassified as in-flight (component-wise
    check, not URI substring)."""
    from com_danliris_service_etl_spark.sources import fsutil

    store = tmp_path / "etl_temporary" / "sig_store"
    spark.createDataFrame([(1,)], "x long").write.parquet(str(store))
    assert fsutil.has_committed_parquet(spark, str(store))
    assert len(fsutil.parquet_file_sizes(spark, str(store))) >= 1
    # while real in-flight output is still excluded
    inflight = tmp_path / "plain_store"
    (inflight / "_temporary" / "0").mkdir(parents=True)
    (inflight / "_temporary" / "0" / "part-x.parquet").write_bytes(b"junk")
    assert not fsutil.has_committed_parquet(spark, str(inflight))


def test_merge_upsert_refuses_parquet_fallback_on_delta_fact(spark, tmp_path, monkeypatch):
    """ADVICE r6 (medium): a fact WITH a _delta_log but WITHOUT a usable
    delta-spark environment must fail loudly — the parquet emulation would
    read logically-removed data files (resurrecting deleted rows) and the
    swap would then delete _delta_log, irreversibly corrupting the fact."""
    from com_danliris_service_etl_spark.sources import sinks

    target = tmp_path / "fact_delta_noenv"
    (target / "_delta_log").mkdir(parents=True)
    (target / "_delta_log" / "00000000000000000000.json").write_text("{}")
    # removed data file a raw parquet read would resurrect
    spark.createDataFrame([(1, "stale")], "id long, v string").write.mode(
        "append"
    ).parquet(str(target))
    monkeypatch.setattr(sinks, "_delta_available", lambda sp: False)

    batch = spark.createDataFrame([(1, "new")], "id long, v string")
    with pytest.raises(RuntimeError, match="delta-spark"):
        sinks.merge_upsert(spark, str(target), batch, keys=["id"])
    # the transaction log must be untouched — no silent conversion
    assert (target / "_delta_log").exists()


def test_recover_swap_with_glob_metachars_in_target(spark, tmp_path):
    """ADVICE r6: a target path containing glob metacharacters must GC
    exactly ITS OWN `.tmp*` siblings — the old globStatus form treated
    `[2024]` as a character class, matching (and deleting) a DIFFERENT
    target's in-flight temp dir."""
    from com_danliris_service_etl_spark.sources import fsutil

    target = tmp_path / "fact[2024]"
    target.mkdir()
    stale = tmp_path / "fact[2024].tmp-dead"
    stale.mkdir()
    (stale / "x.parquet").write_bytes(b"junk")
    # 'fact2.tmp-live' MATCHES the glob char-class `fact[2024].tmp*` —
    # the concurrent-writer dir the old code would have deleted
    unrelated = tmp_path / "fact2.tmp-live"
    unrelated.mkdir()
    (unrelated / "y.parquet").write_bytes(b"keep")

    fsutil.recover_interrupted_swap(spark, str(target))
    assert not stale.exists()
    assert unrelated.exists() and (unrelated / "y.parquet").exists()


def test_nightly_crash_recovery_converges(spark, tmp_path, monkeypatch):
    """r13 task 4 — the control plane's crash-recovery NIGHT, end to end
    through `run_nightly`: a kill injected between the staging write and
    the MERGE commit (mid-swap: backup rename done, install rename
    never runs — the worst point, where the target directory is GONE)
    must (a) leave the victim's watermark unadvanced and a Failed row in
    the migration log while the sibling job completes, and (b) let the
    next plain night recover the wreckage (`recover_interrupted_swap`
    restores `<target>.old`, GCs the staged `.tmp-*` copy) and converge
    the victim's fact to exactly the never-crashed sibling's state."""
    from com_danliris_service_etl_spark.jobs import ALL_SPECS
    from com_danliris_service_etl_spark.plans.jobs import JobSpec
    from com_danliris_service_etl_spark.plans.schedule import run_nightly
    from com_danliris_service_etl_spark.sources import fsutil
    from com_danliris_service_etl_spark.sources.catalog import Catalog

    cat = Catalog(spark=spark)
    src = str(tmp_path / "src")
    batch1 = spark.createDataFrame(
        [(1, "a", dt.datetime(2024, 1, 1)), (2, "b", dt.datetime(2024, 1, 2))],
        "id long, v string, lastmodifiedutc timestamp",
    )
    batch1.write.mode("overwrite").parquet(src)
    cat.tables["src"] = src

    def build(sp, catalog, wm):
        return catalog.read("src").filter(F.col("lastmodifiedutc") > F.lit(wm))

    victim = "Fact Crash Victim Nightly Test"
    bystander = "Fact Crash Bystander Nightly Test"
    vt = str(tmp_path / "dwh" / "victim")
    bt = str(tmp_path / "dwh" / "bystander")
    monkeypatch.setitem(ALL_SPECS, victim, JobSpec(victim, build, ["id"], vt))
    monkeypatch.setitem(
        ALL_SPECS, bystander, JobSpec(bystander, build, ["id"], bt)
    )
    store = WatermarkStore(spark, str(tmp_path / "log"))
    layers = [[victim, bystander]]

    # --- night 1: clean bootstrap --------------------------------------
    n1 = lambda: dt.datetime(2024, 1, 5)  # noqa: E731
    r1 = run_nightly(spark, cat, store, layers=layers, now=n1)
    assert [r.status for r in r1] == ["Successful", "Successful"]
    assert store.read_watermark(victim) == dt.datetime(2024, 1, 5)

    # new source rows for night 2
    spark.createDataFrame(
        [(2, "b2", dt.datetime(2024, 1, 10)), (3, "c", dt.datetime(2024, 1, 10))],
        "id long, v string, lastmodifiedutc timestamp",
    ).write.mode("append").parquet(src)

    # --- night 2: kill the victim mid-swap ------------------------------
    real_swap = fsutil.swap_with_backup

    def killed_swap(sp, tmp, target):
        if target.rstrip("/") == vt:
            # replicate swap_with_backup up to the crash point: backup
            # renamed aside, install rename never happens — target is
            # GONE, `.old` holds the only copy, the staged tmp survives
            fsutil.delete(sp, target + ".old")
            fsutil.rename(sp, target, target + ".old")
            raise RuntimeError("injected kill: power loss mid-swap")
        return real_swap(sp, tmp, target)

    monkeypatch.setattr(fsutil, "swap_with_backup", killed_swap)
    n2 = lambda: dt.datetime(2024, 1, 15)  # noqa: E731
    r2 = {r.job: r for r in run_nightly(spark, cat, store, layers=layers, now=n2)}
    assert r2[victim].status.startswith("Failed")
    assert "injected kill" in r2[victim].status
    assert r2[bystander].status == "Successful"
    # watermark did NOT advance for the victim; sibling's did
    assert store.read_watermark(victim) == dt.datetime(2024, 1, 5)
    assert store.read_watermark(bystander) == dt.datetime(2024, 1, 15)
    # the migration log carries the Failed telemetry row
    log = store._log().filter(F.col("description") == victim).collect()
    assert any(row.status.startswith("Failed") for row in log)
    # wreckage on disk: target gone, backup holds night-1 state, staged
    # tmp copy orphaned
    assert not fsutil.exists(spark, vt)
    assert fsutil.exists(spark, vt + ".old")
    parent = os.path.dirname(vt)
    assert any(
        n.startswith("victim.tmp") for n in os.listdir(parent)
    ), os.listdir(parent)

    # --- night 3: plain re-run recovers and converges --------------------
    monkeypatch.setattr(fsutil, "swap_with_backup", real_swap)
    n3 = lambda: dt.datetime(2024, 1, 20)  # noqa: E731
    r3 = {r.job: r for r in run_nightly(spark, cat, store, layers=layers, now=n3)}
    assert r3[victim].status == "Successful"
    assert store.read_watermark(victim) == dt.datetime(2024, 1, 20)
    # wreckage cleaned: no backup, no tmp siblings
    assert not fsutil.exists(spark, vt + ".old")
    assert not any(n.startswith("victim.tmp") for n in os.listdir(parent))
    # convergence: the crashed-then-recovered fact equals the
    # never-crashed sibling's fact, row for row
    vrows = sorted(map(tuple, spark.read.parquet(vt).collect()))
    brows = sorted(map(tuple, spark.read.parquet(bt).collect()))
    assert vrows == brows
    assert {(r[0], r[1]) for r in vrows} == {(1, "a"), (2, "b2"), (3, "c")}
