"""The crash-safe replace shared by every self-managed parquet store
(`fsutil.replace_store`): the four writers built on it behave the same
under a trailing-slash path and under a kill between the swap's two
renames, and the committed-data probe sees what Spark's reader sees."""

from __future__ import annotations

import os

import pytest

from com_danliris_service_etl_spark.operators.maintenance import compact_small_files
from com_danliris_service_etl_spark.sources import fsutil
from com_danliris_service_etl_spark.sources.sinks import merge_upsert
from com_danliris_service_etl_spark.streaming.jobs import fold_first_seen, fold_rollup


def _rollup(spark, path, i):
    batch = spark.createDataFrame(
        [("a", float(i + 1), 100 * i), ("b", 1.0, 2500)],
        "event_type string, value double, ts_us long",
    )
    fold_rollup(batch, path, bucket_us=1000, batch_id=i)


def _first_seen(spark, path, i):
    batch = spark.createDataFrame(
        [("click", 1, 9 - i), ("view", i, 5)], "event_type string, user_id long, d long"
    )
    fold_first_seen(batch, path, batch_id=i)


def _merge(spark, path, i):
    batch = spark.createDataFrame([(1, f"a{i}"), (i + 2, "b")], "id long, v string")
    merge_upsert(spark, path, batch, keys=["id"])


def _fragmented(spark, path):
    spark.range(40).selectExpr("id", "id % 3 AS g").repartition(8).write.parquet(path)


def _compact(spark, path, i):
    compact_small_files(spark, path, target_file_bytes=1 << 20)


# writer name -> (seed the store before the first call or None, call i)
WRITERS = {
    "fold_rollup": (None, _rollup),
    "fold_first_seen": (None, _first_seen),
    "merge_upsert": (None, _merge),
    "compact_small_files": (_fragmented, _compact),
}


def _rows(spark, path):
    return sorted(map(tuple, spark.read.parquet(path).collect()))


def _leftovers(root) -> list[str]:
    """Every `.tmp*` or `.old` entry at or below ``root``."""
    return [
        os.path.join(d, n)
        for d, dirs, files in os.walk(root)
        for n in dirs + files
        if ".tmp" in n or n.endswith(".old")
    ]


@pytest.mark.parametrize("writer", list(WRITERS))
def test_trailing_slash_store_matches_plain_path(spark, tmp_path, writer):
    """A trailing slash must not turn the temp dir or the backup into a
    CHILD of the store: the rename into its own subdirectory fails and
    every later call trips over the half-written child."""
    seed, call = WRITERS[writer]
    slashed, plain = str(tmp_path / "slashed") + "/", str(tmp_path / "plain")
    for path in (slashed, plain):
        if seed:
            seed(spark, path)
        call(spark, path, 0)
        call(spark, path, 1)
    assert _rows(spark, slashed) == _rows(spark, plain)
    assert sorted(os.listdir(tmp_path)) == ["plain", "slashed"]
    assert _leftovers(tmp_path) == []


@pytest.mark.parametrize(
    "writer,kill_at",
    [(w, 1) for w in WRITERS] + [("merge_upsert", 0)],
    ids=[*WRITERS, "merge_upsert-fresh"],
)
def test_kill_mid_swap_recovers_and_converges(spark, tmp_path, monkeypatch, writer, kill_at):
    """A kill between the swap's renames (backup rename done, install
    rename never run; on a fresh store there is nothing to back up) must
    be repaired by the next call, which converges to the never-crashed
    store and leaves no backup or temp sibling behind."""
    seed, call = WRITERS[writer]
    ref, victim = str(tmp_path / "ref"), str(tmp_path / "victim")
    for path in (ref, victim):
        if seed:
            seed(spark, path)
    for i in range(2):
        call(spark, ref, i)

    real_swap = fsutil.swap_with_backup

    def killed_swap(sp, tmp, target):
        fsutil.delete(sp, target + ".old")
        if fsutil.exists(sp, target):
            fsutil.rename(sp, target, target + ".old")
        raise RuntimeError("injected kill: power loss mid-swap")

    for i in range(kill_at):
        call(spark, victim, i)
    monkeypatch.setattr(fsutil, "swap_with_backup", killed_swap)
    with pytest.raises(RuntimeError, match="injected kill"):
        call(spark, victim, kill_at)
    monkeypatch.setattr(fsutil, "swap_with_backup", real_swap)
    assert not os.path.exists(victim)
    assert os.path.exists(victim + ".old") == (kill_at > 0)
    assert any(n.startswith("victim.tmp") for n in os.listdir(tmp_path))

    for i in range(kill_at, 2):  # the retry, then any later call
        call(spark, victim, i)
    assert _rows(spark, victim) == _rows(spark, ref)
    assert sorted(os.listdir(tmp_path)) == ["ref", "victim"]
    assert _leftovers(tmp_path) == []


def test_committed_probe_skips_what_spark_hides(spark, tmp_path):
    """Parquet under a `.`-prefixed or `_`-prefixed directory is invisible
    to Spark's reader, so it is no committed data; a `name=value`
    partition directory starting with `_` is read, so it is."""
    src = tmp_path / "src"
    spark.range(3).coalesce(1).write.parquet(str(src))
    data = next(p for p in src.iterdir() if p.name.endswith(".parquet")).read_bytes()

    for hidden in (".tmp", "_x"):
        store = tmp_path / f"store{hidden}"
        (store / hidden).mkdir(parents=True)
        (store / hidden / "part-0.parquet").write_bytes(data)
        assert not fsutil.has_committed_parquet(spark, str(store))
        assert fsutil.parquet_file_sizes(spark, str(store)) == []

    store = tmp_path / "partitioned"
    (store / "__p_date=2024-01-01").mkdir(parents=True)
    (store / "__p_date=2024-01-01" / "part-0.parquet").write_bytes(data)
    assert spark.read.parquet(str(store)).count() == 3
    assert fsutil.has_committed_parquet(spark, str(store))
    assert fsutil.parquet_file_sizes(spark, str(store)) == [len(data)]


def test_hidden_rule_matches_spark(spark):
    """The probe's path-component rule agrees with Spark's own listing
    filter on every shape of name it distinguishes."""
    spark_rule = spark._jvm.org.apache.spark.util.HadoopFSUtils  # noqa: SLF001
    for name in (
        "part-0.parquet", ".tmp", ".tmp-1a2b3c4d", "_temporary", "_x", "__p_date=2024-01-01",
        "_a=b", ".a=b", "_metadata", "_common_metadata", "x._COPYING_", "_SUCCESS", "a=b",
    ):
        assert fsutil._hidden(name) == spark_rule.shouldFilterOutPathName(name), name


def test_is_dir_and_delete_on_absent_and_file_paths(spark, tmp_path):
    f = tmp_path / "f.bin"
    f.write_bytes(b"x")
    assert not fsutil.is_dir(spark, str(f))
    assert fsutil.is_dir(spark, str(tmp_path))
    assert not fsutil.is_dir(spark, str(tmp_path / "absent"))
    fsutil.delete(spark, str(tmp_path / "absent"))
    fsutil.delete(spark, str(f))
    assert not f.exists()


@pytest.mark.parametrize("writer", list(WRITERS))
def test_one_listing_per_replace(spark, tmp_path, monkeypatch, writer):
    """`replace_store` lists the store once and hands that listing to the
    writer, whose pinned read (and the compaction's size stats) use it:
    one `_visible_parquet` walk per replace, fresh store or not. The
    compaction's report of its new layout lists once more, after the
    swap."""
    seed, call = WRITERS[writer]
    path = str(tmp_path / "store")
    if seed:
        seed(spark, path)
    walked = []
    walk = fsutil._visible_parquet

    def counted(sess, p):
        walked.append(p)
        return walk(sess, p)

    monkeypatch.setattr(fsutil, "_visible_parquet", counted)
    after_report = 1 if writer == "compact_small_files" else 0
    for i in range(2):
        walked.clear()
        call(spark, path, i)
        assert walked == [path] * (1 + after_report), (writer, i)
