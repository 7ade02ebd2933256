"""Watermark protocol + MERGE sink tests (SURVEY.md §5.4: idempotence /
incremental semantics)."""

from __future__ import annotations

import datetime as dt
import os
import shutil

import pytest
from pyspark.sql import functions as F

from com_danliris_service_etl_spark.sources.sinks import date_dimension, merge_upsert
from com_danliris_service_etl_spark.sources.watermark import EPOCH, LOG_SCHEMA, WatermarkStore


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


def test_merge_upsert_replace_group_fanout_and_null_keys(spark, tmp_path):
    """The parquet MERGE anti-joins the fact against the batch's keys as
    they come, duplicates included: a group-grain batch that fans out to
    several rows per key, NULL keys among them, replaces exactly the fact
    rows of its keys (null-safe), keeps every other row, and inserts every
    batch row; re-running it changes nothing."""
    target = str(tmp_path / "fact_fanout")
    schema = "note string, line long, qty double"
    fact = [("A", 1, 1.0), ("A", 2, 2.0), ("B", 1, 3.0), (None, 1, 4.0), (None, 2, 5.0),
            ("C", None, 6.0)]
    merge_upsert(spark, target, spark.createDataFrame(fact, schema), keys=["note"],
                 replace_group=True)
    batch = [("A", 7, 1.5), ("A", 7, 1.5), ("A", 8, 2.5), (None, 9, 9.0), (None, 9, 9.0),
             ("D", 1, 1.0), ("D", 1, 1.0)]
    want = sorted(
        [r for r in fact if r[0] not in {b[0] for b in batch}] + batch, key=repr
    )
    for _ in range(2):
        merge_upsert(spark, target, spark.createDataFrame(batch, schema), keys=["note"],
                     replace_group=True)
        got = sorted(map(tuple, spark.read.parquet(target).collect()), key=repr)
        assert got == want


def test_merge_upsert_empty_batch_by_callers_count(spark, spark_jobs, tmp_path):
    """A caller's row count answers the empty-batch test: a counted empty
    first-night batch still creates the fact, and a counted empty batch
    into a committed fact is a no-op that launches no Spark job."""
    target = str(tmp_path / "fact_counted")
    empty = spark.createDataFrame([], "id long, v string")
    merge_upsert(spark, target, empty, keys=["id"], rows=0)
    assert spark.read.parquet(target).count() == 0
    merge_upsert(spark, target, spark.createDataFrame([(1, "a")], "id long, v string"),
                 keys=["id"], rows=1)
    jobs = spark_jobs()
    merge_upsert(spark, target, empty, keys=["id"], rows=0)
    assert jobs() == 0
    assert [(r.id, r.v) for r in spark.read.parquet(target).collect()] == [(1, "a")]


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


def _log_parts(log) -> list[str]:
    """Committed log files (the local FileSystem adds `.crc` siblings)."""
    return sorted(n for n in os.listdir(log) if n.startswith("part-"))


def test_read_watermark_runs_at_most_two_spark_jobs(spark, spark_jobs, tmp_path):
    """The migration log lives on the driver: appending a row (pyarrow
    encode + Hadoop FileSystem write, and the fold once the log holds more
    than COMPACT_AT files) and reading the watermark (one listing +
    pyarrow decode) launch NO Spark job."""
    from com_danliris_service_etl_spark.sources.watermark import COMPACT_AT

    store = WatermarkStore(spark, str(tmp_path / "log"))
    t0 = dt.datetime(2024, 3, 1)
    days = [t0 + dt.timedelta(days=i) for i in range(COMPACT_AT + 1)]
    jobs = spark_jobs()
    for i, t in enumerate(days):
        store.commit_run("Fact X", t, t, "Successful", i)
    assert jobs() == 0
    assert len(_log_parts(tmp_path / "log")) == 1, "the last append folded the log"
    assert store.read_watermark("Fact X") == days[-1]
    assert jobs() == 0
    # the counter does see Spark jobs (guards against a vacuous pass)
    spark.range(3).count()
    assert jobs() >= 1


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
    log = (
        spark.read.schema(LOG_SCHEMA).parquet(store.path)
        .filter(F.col("description") == victim).collect()
    )
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


@pytest.fixture()
def local_zone(monkeypatch):
    """Run with a non-UTC, DST-observing process zone, so the naive
    local-time conversion on both sides of the log is exercised."""
    import time

    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


def test_watermark_log_mixed_writers_compat(spark, tmp_path, local_zone):
    """A log that mixes rows appended by Spark (INT96 timestamps, the
    historical writer), rows from the driver-side `commit_run` (micros,
    UTC-adjusted) and in-flight leftovers must read identically through
    `read_watermark`, Spark and DuckDB."""
    import duckdb

    log = str(tmp_path / "log")
    a, b = "Fact A", "Fact B"
    summer = dt.datetime(2024, 7, 1, 22, 0, 5, 123456)
    winter = dt.datetime(2024, 1, 2, 22, 0, 0, 654321)
    old_rows = [
        (a, winter, winter + dt.timedelta(minutes=5), "5.00 minutes", "Successful", 10),
        (a, summer, summer + dt.timedelta(minutes=1), "1.00 minutes", "Failed: boom", None),
        (b, summer, summer + dt.timedelta(seconds=1), "0.02 minutes", "Successful", 3),
    ]
    spark.createDataFrame(old_rows, LOG_SCHEMA).write.mode("append").parquet(log)

    def old_read(job):  # the Spark-side reader the log used before
        return (
            spark.read.schema(LOG_SCHEMA).parquet(log)
            .filter((F.col("description") == job) & (F.col("status") == "Successful"))
            .agg(F.max_by("start", "finish").alias("wm"))
            .collect()[0]["wm"]
        ) or EPOCH

    store = WatermarkStore(spark, log)
    for job, want in ((a, winter), (b, summer), ("Fact C", EPOCH)):
        got = store.read_watermark(job)
        assert got == old_read(job) == want
        assert got.tzinfo is None and got.microsecond == want.microsecond

    # (not inside the DST fold: a naive time there is ambiguous, for
    # createDataFrame as much as for commit_run)
    later = dt.datetime(2024, 11, 4, 1, 30, 0, 7)
    store.commit_run(a, later, later + dt.timedelta(minutes=2), "Successful", 4)
    store.commit_run(b, later, later, "Failed: injected", None)
    new_rows = [
        (a, later, later + dt.timedelta(minutes=2), "2.00 minutes", "Successful", 4),
        (b, later, later, "0.00 minutes", "Failed: injected", None),
    ]
    # leftovers no reader may see, each holding a LATER Successful row:
    # a hidden append that never got renamed, and a crashed Spark append
    ghost_store = WatermarkStore(spark, str(tmp_path / "ghost"))
    ghost_store.commit_run(a, dt.datetime(2030, 1, 1), dt.datetime(2030, 1, 1))
    (ghost,) = [p for p in (tmp_path / "ghost").iterdir() if p.name.startswith("part-")]
    (tmp_path / "log" / "_temporary" / "0").mkdir(parents=True)
    shutil.copy(ghost, tmp_path / "log" / ".part-x.parquet")
    shutil.copy(ghost, tmp_path / "log" / "_temporary" / "0" / "part-x.parquet")
    (tmp_path / "log" / "_SUCCESS").write_bytes(b"")

    def readers_agree():
        for job, want in ((a, later), (b, summer)):
            got = store.read_watermark(job)
            assert got == old_read(job) == want
            assert got.microsecond == want.microsecond

        committed = sorted(old_rows + new_rows, key=repr)
        via_spark = [tuple(r) for r in spark.read.schema(LOG_SCHEMA).parquet(log).collect()]
        assert sorted(via_spark, key=repr) == committed

        # DuckDB unifies the INT96 (TIMESTAMP) and micros (TIMESTAMPTZ) files
        # through its session zone; pinned to UTC, both name the same instants.
        def utc(t):
            us = LOG_SCHEMA["start"].dataType.toInternal(t)
            return EPOCH + dt.timedelta(microseconds=us)

        con = duckdb.connect()
        con.execute("SET TimeZone='UTC'")
        via_duckdb = con.execute(
            "SELECT description, CAST(start AS TIMESTAMP), CAST(finish AS TIMESTAMP),"
            " executionTime, status, rowCount"
            f" FROM read_parquet('{log}/[!._]*.parquet')"
        ).fetchall()
        con.close()
        assert sorted(via_duckdb, key=repr) == sorted(
            [(d, utc(s), utc(f), e, st, n) for d, s, f, e, st, n in committed], key=repr
        )

    readers_agree()
    # folding the mixed log re-encodes its INT96 rows as micros, value for
    # value, and leaves the leftovers alone
    store.compact()
    assert {".part-x.parquet", "_SUCCESS", "_temporary"} <= set(os.listdir(log))
    assert len(_log_parts(log)) == 1
    readers_agree()


def test_watermark_log_compaction(spark, tmp_path, monkeypatch):
    """The log stays at most COMPACT_AT files: the append past it folds
    every committed file into one. Rows a crashed fold left visible twice
    are folded back to one copy, and a read racing a fold (its listed
    files deleted under it) lists again and returns the right watermark."""
    from com_danliris_service_etl_spark.sources import fsutil
    from com_danliris_service_etl_spark.sources.watermark import COMPACT_AT

    log = tmp_path / "log"
    store = WatermarkStore(spark, str(log))
    t0 = dt.datetime(2024, 5, 1, 22, 0, 0, 1)
    runs = [(f"Fact {i % 3}", t0 + dt.timedelta(days=i)) for i in range(COMPACT_AT + 1)]
    expected = {}
    for i, (job, t) in enumerate(runs):
        store.commit_run(job, t, t + dt.timedelta(minutes=1), "Successful", i)
        expected[job] = t
        assert len(_log_parts(log)) == (i + 1 if i < COMPACT_AT else 1)
    (folded,) = _log_parts(log)
    store.commit_run("Fact 0", t0 + dt.timedelta(days=99), t0, "Failed: boom", None)

    def log_rows():
        rows = spark.read.schema(LOG_SCHEMA).parquet(str(log)).collect()
        return sorted(map(tuple, rows), key=repr)

    rows = log_rows()
    assert len(rows) == COMPACT_AT + 2
    for job, t in expected.items():
        assert store.read_watermark(job) == t

    # a fold killed between publishing its file and deleting the inputs
    shutil.copy(log / folded, log / "part-crashed-fold.parquet")
    assert len(log_rows()) == 2 * (COMPACT_AT + 1) + 1
    assert store.read_watermark("Fact 1") == expected["Fact 1"]
    store.compact()
    assert len(_log_parts(log)) == 1
    assert log_rows() == rows

    # a read whose listed files another writer folds away before it
    # opens them retries from a fresh listing
    for i in range(3):
        t = t0 + dt.timedelta(days=200 + i)
        store.commit_run("Fact 2", t, t, "Successful", i)
        expected["Fact 2"] = t
    real_read = fsutil.read_bytes
    raced = []

    def racing_read(sp, path):
        if not raced:
            raced.append(path)
            WatermarkStore(spark, str(log)).compact()
        return real_read(sp, path)

    monkeypatch.setattr(fsutil, "read_bytes", racing_read)
    assert store.read_watermark("Fact 2") == expected["Fact 2"]
    monkeypatch.undo()
    assert not os.path.exists(raced[0]), "the read did race a fold"
    assert len(_log_parts(log)) == 1
    assert log_rows() == sorted(rows + [
        ("Fact 2", t0 + dt.timedelta(days=200 + i), t0 + dt.timedelta(days=200 + i),
         "0.00 minutes", "Successful", i) for i in range(3)
    ], key=repr)


def _two_target_job(spark, tmp_path, monkeypatch, name, base):
    """A toy job loading two targets from one source: a row-grain main
    fact keyed on id, and an extra fact of (id, upper(v))."""
    from com_danliris_service_etl_spark.jobs import ALL_SPECS
    from com_danliris_service_etl_spark.plans.jobs import JobSpec
    from com_danliris_service_etl_spark.sources.catalog import Catalog

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(1, "a", dt.datetime(2024, 1, 1)), (2, "b", dt.datetime(2024, 1, 2))],
        "id long, v string, lastmodifiedutc timestamp",
    ).write.mode("overwrite").parquet(src)
    cat = Catalog(spark=spark, tables={"src": src})

    def build(sp, catalog, wm):
        return catalog.read("src").filter(F.col("lastmodifiedutc") > F.lit(wm))

    def build_extra(sp, catalog, wm):
        return build(sp, catalog, wm).select("id", F.upper("v").alias("v_up"))

    def spec(root):
        return JobSpec(
            name, build, ["id"], f"{root}/main", order_col="lastmodifiedutc",
            extra_targets={f"{root}/extra": (build_extra, ["id"])},
        )

    monkeypatch.setitem(ALL_SPECS, name, spec(base))

    def add_rows(rows):
        spark.createDataFrame(rows, "id long, v string, lastmodifiedutc timestamp").write.mode(
            "append"
        ).parquet(src)

    return cat, spec, add_rows


@pytest.mark.parametrize("failing", ["main", "extra"])
def test_run_job_concurrent_loads_injected_failure(spark, tmp_path, monkeypatch, failing):
    """One target's MERGE fails while the other load is still writing.
    The job is Failed in its JobResult and its log row, the row is written
    only after BOTH loads returned, the watermark stays put, no cache
    leaks, and the next clean night converges both facts to a full
    recompute."""
    import threading

    from com_danliris_service_etl_spark.plans import jobs as plans_jobs
    from com_danliris_service_etl_spark.plans.jobs import run_job
    from com_danliris_service_etl_spark.plans.schedule import run_nightly

    name = "Fact Two Target Failure Test"
    dwh = str(tmp_path / "dwh")
    cat, spec, add_rows = _two_target_job(spark, tmp_path, monkeypatch, name, dwh)
    store = WatermarkStore(spark, str(tmp_path / "log"))
    night = lambda day: run_nightly(  # noqa: E731
        spark, cat, store, layers=[[name]], now=lambda: dt.datetime(2024, 1, day)
    )
    assert [r.status for r in night(5)] == ["Successful"]
    add_rows([(2, "b2", dt.datetime(2024, 1, 10)), (3, "c", dt.datetime(2024, 1, 10))])

    events: list[str] = []
    other_started, failed = threading.Event(), threading.Event()
    real_merge, real_commit = plans_jobs.merge_upsert, store.commit_run
    fail_target = f"{dwh}/{failing}"

    def merge(sp, target, df, keys, **kw):
        # the other load is mid-merge when the failure is raised, and
        # commits only after it
        if target == fail_target:
            assert other_started.wait(60), "loads did not overlap"
            events.append("failed")
            failed.set()
            raise RuntimeError("injected merge failure")
        other_started.set()
        assert failed.wait(60), "the failing load never ran"
        real_merge(sp, target, df, keys, **kw)
        events.append("other committed")

    def commit(job, start, finish, status="Successful", row_count=None):
        events.append(f"log {status.split(':')[0]}")
        real_commit(job, start, finish, status, row_count)

    monkeypatch.setattr(plans_jobs, "merge_upsert", merge)
    monkeypatch.setattr(store, "commit_run", commit)
    # compared as id sets, not sizes: the ContextCleaner may unpersist an
    # earlier test's cache at any moment, which a size check reads as a leak
    cached = lambda: set(spark.sparkContext._jsc.getPersistentRDDs().keySet())  # noqa: E731, SLF001
    before = cached()
    (r2,) = night(15)
    assert r2.status.startswith("Failed") and "injected merge failure" in r2.status
    assert events == ["failed", "other committed", "log Failed"]
    assert cached() <= before, "a load leaked its persisted increment"
    assert store.read_watermark(name) == dt.datetime(2024, 1, 5)
    log = spark.read.schema(LOG_SCHEMA).parquet(store.path).filter(F.col("description") == name)
    assert log.orderBy(F.col("finish").desc()).first()["status"].startswith("Failed")

    monkeypatch.setattr(plans_jobs, "merge_upsert", real_merge)
    assert [r.status for r in night(20)] == ["Successful"]
    assert store.read_watermark(name) == dt.datetime(2024, 1, 20)
    ref = str(tmp_path / "ref")
    run_job(spark, spec(ref), cat, WatermarkStore(spark, str(tmp_path / "ref_log")))
    for t in ("main", "extra"):
        got = sorted(map(tuple, spark.read.parquet(f"{dwh}/{t}").collect()))
        assert got == sorted(map(tuple, spark.read.parquet(f"{ref}/{t}").collect())), t
    assert len(got) == 3


def test_jobspec_rejects_duplicate_targets():
    import dataclasses

    from com_danliris_service_etl_spark.jobs import ALL_SPECS
    from com_danliris_service_etl_spark.plans.jobs import JobSpec

    def b(sp, cat, wm):
        return None

    with pytest.raises(ValueError, match="duplicate load target"):
        JobSpec("j", b, ["id"], "dwh/fact/", extra_targets={"dwh/fact": (b, ["id"])})
    with pytest.raises(ValueError, match="duplicate load target"):
        JobSpec(
            "j", b, ["id"], "dwh/a", extra_targets={"dwh/x": (b, ["id"]), "dwh/x/": (b, ["id"])}
        )
    JobSpec("j", b, ["id"], "dwh/fact", extra_targets={"dwh/fact_x": (b, ["id"])})
    # every shipped spec passes the check (replace re-runs __post_init__)
    assert len(ALL_SPECS) == 23
    for spec in ALL_SPECS.values():
        dataclasses.replace(spec)



def test_nightly_layers_share_no_target():
    """Within one `NIGHTLY_LAYERS` layer no two jobs share a target (main
    or extra, compared without trailing slashes): the precondition for
    running a layer's jobs side by side (plans/schedule.py docstring)."""
    from com_danliris_service_etl_spark.jobs import ALL_SPECS
    from com_danliris_service_etl_spark.plans.schedule import NIGHTLY_LAYERS

    layered = [name for layer in NIGHTLY_LAYERS for name in layer]
    assert sorted(layered) == sorted(ALL_SPECS)
    for layer in NIGHTLY_LAYERS:
        owner = {}
        for name in layer:
            spec = ALL_SPECS[name]
            for target in (spec.target, *spec.extra_targets):
                t = target.rstrip("/")
                assert t not in owner, (t, owner.get(t), name)
                owner[t] = name
    # not vacuous: jobs sharing a target exist, in separate layers
    shared = {ALL_SPECS[n].target.rstrip("/") for n in layered if "Sales Contract" in n}
    assert len(shared) == 1


# Spark jobs launched by one night of the toy two-target job, measured
# with the driver-side migration log, footer-pinned parquet reads (an
# inferred schema costs one job per table read and per MERGE target
# read), a MERGE anti-join without a distinct, and every target's
# one-job count answering the MERGE's empty-batch test. A Spark-written
# log launched 21 and 10; inferred reads, 18 and 7; a DataFrame count of
# the main target plus a limit-1 probe of the extra one, 12 and 4.
UPSERT_NIGHT_SPARK_JOBS = 10
QUIET_NIGHT_SPARK_JOBS = 2


def test_spark_jobs_per_night_pinned(spark, spark_jobs, tmp_path, monkeypatch):
    """The nightly control-plane floor in Spark jobs: one upsert night and
    one quiet night of a two-target job through `run_nightly` may not
    launch more Spark jobs than pinned above."""
    from com_danliris_service_etl_spark.plans.schedule import run_nightly

    name = "Fact Two Target Job Count Test"
    cat, _, add_rows = _two_target_job(spark, tmp_path, monkeypatch, name, str(tmp_path / "dwh"))
    store = WatermarkStore(spark, str(tmp_path / "log"))

    def night(day):
        jobs = spark_jobs()
        results = run_nightly(
            spark, cat, store, layers=[[name]], now=lambda: dt.datetime(2024, 1, day)
        )
        assert [r.status for r in results] == ["Successful"]
        return results[0].rows, jobs()

    night(5)  # bootstrap: fresh facts
    add_rows([(2, "b2", dt.datetime(2024, 1, 10)), (3, "c", dt.datetime(2024, 1, 10))])
    rows, upsert_jobs = night(15)
    assert rows == 2
    rows, quiet_jobs = night(20)
    assert rows == 0
    # > 0: the counter sees only ungrouped jobs, so a night whose jobs
    # moved into a job group must fail here rather than pass vacuously
    assert 0 < upsert_jobs <= UPSERT_NIGHT_SPARK_JOBS, upsert_jobs
    assert 0 < quiet_jobs <= QUIET_NIGHT_SPARK_JOBS, quiet_jobs
