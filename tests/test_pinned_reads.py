"""Pinned parquet reads (`fsutil.read_parquet`): the schema read from
one footer on the driver equals Spark's own inference, so no engine
parquet read (catalog and registry tables, MERGE targets, streaming
state and stream sources) launches a Spark job to learn its schema, and
no engine module outside `fsutil` decides a parquet schema; and the
engine session builds plans without PySpark's per-call DataFrame
debugging capture."""

from __future__ import annotations

import ast
import datetime as dt
import decimal
import importlib.util
import os
import pathlib
from functools import reduce

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import com_danliris_service_etl_spark
from com_danliris_service_etl_spark.jobs import ALL_SPECS
from com_danliris_service_etl_spark.sources import fsutil
from com_danliris_service_etl_spark.sources.catalog import Catalog
from tests.conftest import SF_DIR
from tests.test_events_meta import _GENERATIONS, _write_events

PERFBENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench")
WM = dt.datetime(1970, 1, 1)
# The one spec whose build still runs Spark jobs: its surrogate key
# (`surrogate_key_distributed`) checkpoints and collects while building.
EAGER_BUILD = "Fact Total Hutang from MongoDB to Azure DWH"
EAGER_BUILD_SPARK_JOBS = 14


@pytest.fixture(scope="module")
def fixture_dir(tmp_path_factory):
    """The 23-job catalog fixture as the nightly benchmark writes it: one
    pyarrow parquet file per table."""
    mp = pytest.MonkeyPatch()
    mp.syspath_prepend(PERFBENCH)
    try:
        import nightly

        tables = nightly.fixture_tables()
    finally:
        mp.undo()
    d = tmp_path_factory.mktemp("fixture")
    return nightly.write_tables(tables, str(d))


def _datagen(sf: float, seed: int, dirpath: str) -> dict[str, str]:
    spec = importlib.util.spec_from_file_location("_datagen", os.path.join(PERFBENCH, "datagen.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    mod.write(dirpath, sf, seed)
    return {n[: -len(".parquet")]: os.path.join(dirpath, n) for n in sorted(os.listdir(dirpath))}


def _spark_written(spark, root) -> dict[str, str]:
    """Stores the engine's own writers leave behind."""
    out = {}
    frame = spark.range(6).selectExpr(
        "id",
        "CAST(id AS DECIMAL(18, 4)) / 3 AS amount",
        "TIMESTAMP'2024-03-10 12:00:00' + make_interval(0, 0, 0, id) AS ts",
        "CAST(id % 2 AS STRING) AS p",
    )
    out["int96_decimal"] = str(root / "int96_decimal")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    try:
        frame.write.parquet(out["int96_decimal"])
    finally:
        spark.conf.unset("spark.sql.parquet.outputTimestampType")
    out["partitioned"] = str(root / "partitioned")
    frame.write.partitionBy("p").parquet(out["partitioned"])
    out["empty_batch"] = str(root / "empty_batch")
    spark.createDataFrame([], "id long, v string, ts timestamp").write.parquet(out["empty_batch"])
    # _SUCCESS from the writer, plus a killed write's `_temporary` output
    # and a `.tmp` directory whose files sort first and hold another
    # schema: Spark's reader skips both.
    out["hidden_siblings"] = str(root / "hidden_siblings")
    frame.coalesce(1).write.parquet(out["hidden_siblings"])
    other = pa.table({"zzz": pa.array([1.5])})
    for hidden in ("_temporary/0", ".tmp"):
        os.makedirs(root / "hidden_siblings" / hidden)
        pq.write_table(other, root / "hidden_siblings" / hidden / "a-0.parquet")
    # Files disagreeing on the schema: inference takes the first in path
    # order and assumes it for all.
    out["first_file_wins"] = str(root / "first_file_wins")
    os.makedirs(out["first_file_wins"])
    pq.write_table(pa.table({"id": pa.array([1], pa.int64())}), root / "first_file_wins" / "a.parquet")
    pq.write_table(
        pa.table({"id": pa.array([2], pa.int64()), "v": ["x"]}), root / "first_file_wins" / "b.parquet"
    )
    # pyarrow's INT96 (no Spark schema in the footer: the converter decides)
    out["pyarrow_int96"] = str(root / "pyarrow_int96.parquet")
    pq.write_table(
        pa.table({
            "ts": pa.array([dt.datetime(2024, 1, 1, 3)], pa.timestamp("us")),
            "tz": pa.array([dt.datetime(2024, 1, 1, 3)], pa.timestamp("us", tz="UTC")),
            "amount": pa.array([decimal.Decimal("12.50")], pa.decimal128(10, 2)),
        }),
        out["pyarrow_int96"],
        use_deprecated_int96_timestamps=True,
    )
    return out


def _fingerprints(frames: dict) -> dict:
    """store -> (row count, order-free hash of its rows), for every frame
    in one Spark job."""
    hashed = [
        df.select(F.lit(name).alias("store"), F.xxhash64(*df.columns).cast("decimal(38,0)").alias("h"))
        for name, df in frames.items()
    ]
    return {
        r["store"]: (r["n"], r["h"])
        for r in reduce(DataFrame.unionByName, hashed)
        .groupBy("store")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("h").alias("h"))
        .collect()
    }


def test_parquet_schema_equals_spark_inference(spark, fixture_dir, tmp_path):
    """For every fixture table, every datagen sf0.1 table, every shape
    of Spark-written store, each events `ts` generation and the
    documents fixture, the pinned read has the inferred read's schema and
    reads the same rows."""
    stores = {f"fixture/{k}": v for k, v in fixture_dir.items()}
    stores.update({f"datagen/{k}": v for k, v in _datagen(0.1, 42, str(tmp_path / "sf")).items()})
    stores.update(_spark_written(spark, tmp_path))
    for kind, ts in _GENERATIONS.items():
        (tmp_path / kind).mkdir()
        stores[f"events/{kind}"] = _write_events(tmp_path / kind, ts) + "/events.parquet"
    stores["documents"] = f"{SF_DIR}/documents.parquet"
    assert len(stores) == len(fixture_dir) + 10 + 6 + 4

    pinned, inferred = {}, {}
    for name, path in stores.items():
        inferred[name] = spark.read.parquet(path)
        schema = fsutil.parquet_schema(spark, path)
        pinned[name] = spark.read.schema(schema).parquet(path)
        assert pinned[name].schema == inferred[name].schema, name
        if name != "partitioned":
            assert schema == inferred[name].schema, name
    # the partition column is appended by the read, not pinned
    assert fsutil.parquet_schema(spark, stores["partitioned"]).fieldNames() == ["id", "amount", "ts"]

    want = _fingerprints(inferred)
    assert _fingerprints(pinned) == want
    assert want["datagen/lineitem"][0] == 600000 and want["first_file_wins"][0] == 2


def test_parquet_schema_raises_without_a_visible_file(spark, tmp_path):
    store = tmp_path / "store"
    (store / "_temporary" / "0").mkdir(parents=True)
    pq.write_table(pa.table({"id": [1]}), store / "_temporary" / "0" / "part-0.parquet")
    (store / "_SUCCESS").write_bytes(b"")
    for path in (store, tmp_path / "absent"):
        with pytest.raises(FileNotFoundError):
            fsutil.parquet_schema(spark, str(path))


def test_building_plans_launches_no_spark_job(spark, spark_jobs, fixture_dir):
    """Every spec's plans (main and extra targets) built over a parquet
    catalog of the fixture: table reads are pinned, so a build launches no
    Spark job, except the one spec with an eager surrogate key."""
    cat = Catalog(spark=spark, tables=dict(fixture_dir))
    assert len(ALL_SPECS) == 23
    jobs = {}
    for name, spec in sorted(ALL_SPECS.items()):
        count = spark_jobs()
        spec.build(spark, cat, WM)
        for build_fn, *_ in spec.extra_targets.values():
            build_fn(spark, cat, WM)
        jobs[name] = count()
    eager = jobs.pop(EAGER_BUILD)
    assert jobs == dict.fromkeys(jobs, 0)
    # > 0: the counter sees the eager build's jobs, so the zeros above
    # are not vacuous
    assert 0 < eager <= EAGER_BUILD_SPARK_JOBS, eager


def test_engine_session_builds_without_dataframe_debugging(spark):
    """PySpark's call-site capture around every Column/DataFrame call is
    off in the engine's session (session.get_session docstring)."""
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert not is_debugging_enabled()
    assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"


def test_reads_learn_their_schema_without_a_spark_job(spark, spark_jobs, tmp_path, monkeypatch):
    """A registry table, the events view over it, a stream source and a
    fold's state read take their schema from a footer: 0 Spark jobs each
    (an inferred schema costs one)."""
    from com_danliris_service_etl_spark.plans.registry import _events, _t
    from com_danliris_service_etl_spark.streaming import jobs as stream_jobs

    sf_dir = _write_events(tmp_path, _GENERATIONS["ntz"])
    for read in (
        lambda: _t(spark, sf_dir, "events"),
        lambda: _events(spark, sf_dir),
        lambda: stream_jobs.streaming_events(spark, sf_dir),
    ):
        count = spark_jobs()
        read()
        assert count() == 0

    state = str(tmp_path / "state")
    batch = spark.createDataFrame([("click", 1.5, 10)], "event_type string, value double, ts_us long")
    stream_jobs.fold_rollup(batch, state, batch_id=0)
    state_reads = []
    read_parquet = fsutil.read_parquet

    def counted(*args, **kwargs):
        count = spark_jobs()
        df = read_parquet(*args, **kwargs)
        state_reads.append(count())
        return df

    monkeypatch.setattr(fsutil, "read_parquet", counted)
    stream_jobs.fold_rollup(batch, state, batch_id=1)
    assert state_reads == [0]


ENGINE = pathlib.Path(com_danliris_service_etl_spark.__file__).parent
# A local warehouse cache with its own adopt protocol, outside the rule.
SCHEMA_RULE_EXEMPT = {"sources/fsutil.py", "operators/bucketing.py"}


def _chain(node: ast.AST) -> list[ast.Call]:
    """The method calls of a chain, outermost first (``a.b(x).c(y)`` →
    ``[c(y), b(x)]``)."""
    calls = []
    while isinstance(node, (ast.Call, ast.Attribute)):
        if isinstance(node, ast.Call):
            if isinstance(node.func, ast.Attribute):
                calls.append(node)
            node = node.func
        else:
            node = node.value
    return calls


def _attrs(node: ast.AST) -> set[str]:
    return {n.attr for n in ast.walk(node) if isinstance(n, ast.Attribute)}


def _registered_bodies(tree: ast.Module) -> set[ast.AST]:
    """Nodes inside registry query bodies (``@register``-decorated)."""
    return {
        n
        for fn in tree.body
        if isinstance(fn, ast.FunctionDef)
        and any(isinstance(d, ast.Call) and getattr(d.func, "id", None) == "register"
                for d in fn.decorator_list)
        for n in ast.walk(fn)
    }


def _is_parquet_read(call: ast.Call) -> bool:
    """``….parquet(…)`` or ``….format("parquet")….load(…)``."""
    if call.func.attr == "parquet":
        return True
    return call.func.attr == "load" and any(
        c.func.attr == "format" and any(isinstance(a, ast.Constant) and a.value == "parquet"
                                        for a in c.args)
        for c in _chain(call)
    )


def test_only_fsutil_decides_a_parquet_schema():
    """Layout guard: outside `fsutil`, no engine module reads parquet
    through a reader without a schema (``.read.parquet(``: Spark's
    inference, one job per read) or hands a reader a schema that is not
    `fsutil.parquet_schema`'s. Bucketing and registry query bodies are
    exempt."""
    offences, pinned = [], 0
    for path in sorted(ENGINE.rglob("*.py")):
        rel = path.relative_to(ENGINE).as_posix()
        if rel in SCHEMA_RULE_EXEMPT:
            continue
        tree = ast.parse(path.read_text())
        exempt = _registered_bodies(tree)
        for node in ast.walk(tree):
            if node in exempt or not isinstance(node, ast.Call):
                continue
            if not isinstance(node.func, ast.Attribute):
                continue
            if not _attrs(node.func.value) & {"read", "readStream"}:
                continue  # not a reader
            chain = _chain(node)
            if node.func.attr == "schema":
                arg = node.args[0] if node.args else None
                if isinstance(arg, ast.Call) and "parquet_schema" in _attrs(arg.func):
                    pinned += 1
                else:
                    offences.append(f"{rel}:{node.lineno}: reader schema of its own")
            elif _is_parquet_read(node) and not any(c.func.attr == "schema" for c in chain):
                offences.append(f"{rel}:{node.lineno}: inferred parquet read")
    assert offences == []
    # the stream source's pinned reader is seen, so the rule is not vacuous
    assert pinned >= 1
