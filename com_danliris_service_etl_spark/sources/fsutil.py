"""Hadoop FileSystem helpers, and the one crash-safe replace every
self-managed parquet store uses.

Self-managed parquet stores (the parquet fact in `sinks.merge_upsert`,
`maintenance.compact_small_files`, the streaming folds in
`streaming/jobs.py`, the migration log in `sources/watermark.py`) need
existence probes, directory listings, renames and whole-file byte
reads/writes against the SAME filesystem Spark reads — which is NOT the
driver's local filesystem once paths are `hdfs://`, `s3a://` or
`abfss://`. Driver-local `os.path` calls silently return False there, so
every probe here goes through `org.apache.hadoop.fs.FileSystem` resolved
from the path's own scheme + the session's Hadoop configuration. Local
paths resolve to `RawLocalFileSystem` and behave exactly as before.

The replace protocol (:func:`replace_store`) rewrites a store whose new
contents are computed from its old ones, so it can never overwrite the
path it reads:

- Recovery before listing. A kill between the swap's two renames leaves the
  store missing and ``<store>.old`` holding the only copy; it is restored
  (and stale ``<store>.tmp*`` siblings deleted) before anything asks
  whether the store holds data — or a "fresh store" branch would rebuild
  it from one batch and the next swap would delete the backup.
- Committed data is what Spark's reader sees. A bare directory appears
  as soon as a write STARTS, so "fresh" means no visible parquet file,
  where a file is hidden if any path component below the store is hidden
  by Spark's rule (`HadoopFSUtils.shouldFilterOutPathName`: a name
  starting with ``.``, or with ``_`` and holding no ``=``). In-flight
  ``_temporary`` output and a nested ``.tmp`` dir are hidden; a
  ``__p_date=…`` partition dir is not.
- Sibling temp. The new contents land in ``<store>.tmp-<uuid8>`` beside
  the store (same filesystem: rename must not cross schemes; never a
  child, which a trailing slash on the path would make it), and
  :func:`swap_with_backup` installs them with a recovery copy at every
  step.
- Single writer per store. Recovery deletes every ``<store>.tmp*``
  sibling, so two writers on one store (a merge racing a compaction)
  can GC each other's temp dir and race the swap; the nightly DAG and
  the streaming query each serialize their own store.

Crash-atomicity rests on `FileSystem.rename`, which is atomic on
POSIX-like stores (local, HDFS, ABFS). On S3A it is a COPY+DELETE, so the
protocol is only crash-atomic on an atomic-rename store; object-store
deployments should use a transactional table format (Delta/Iceberg)
instead, as `sinks.merge_upsert` does when available.

Pinned reads (:func:`read_parquet`): every engine parquet read — catalog
tables, registry tables, MERGE targets, compaction, streaming state and
stream sources — is ``spark.read.schema(parquet_schema(...)).parquet(...)``.
``spark.read.parquet(store)`` would infer the schema with a Spark job per
read. With ``spark.sql.parquet.mergeSchema`` off, Spark's inference reads
ONE footer — the first file Spark's reader sees, in path order — so the
driver reads that footer itself and converts it with Spark's own
converter under the session's SQLConf (``nanosAsLong`` included); the
read then takes the schema as given and launches no job. This module is
the only place the engine decides a parquet store's schema.

Every JVM class (and static member) used here is resolved once per py4j
gateway (:func:`_java`): ``jvm.org.apache.…`` attribute access costs one
round trip per package segment on every call.
"""

from __future__ import annotations

import json
import uuid
import weakref
from collections.abc import Callable, Iterator

from py4j.java_gateway import JavaClass
from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

_PARQUET = "org.apache.spark.sql.execution.datasources.parquet."

# gateway client -> {name: JavaClass | static member}; weak, so a stopped
# gateway's entries go with it.
_RESOLVED: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _java(spark: SparkSession, fqn: str, member: str | None = None):
    """The JVM class ``fqn``, or its static ``member`` (method or field),
    resolved once per py4j gateway. A class costs no round trip (its
    constructor call names it); a member costs one lookup, then none.
    Threads may race to fill an entry; both resolve the same object."""
    client = spark._jvm._gateway_client  # noqa: SLF001 — py4j gateway is the only route to the JVM
    cache = _RESOLVED.setdefault(client, {})
    key = fqn if member is None else f"{fqn}#{member}"
    obj = cache.get(key)
    if obj is None:
        obj = JavaClass(fqn, client)
        if member is not None:
            obj = getattr(obj, member)
        cache[key] = obj
    return obj


def _fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path``, resolved by the path's scheme."""
    hpath = _java(spark, "org.apache.hadoop.fs.Path")(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())  # noqa: SLF001
    return fs, hpath


def exists(spark: SparkSession, path: str) -> bool:
    fs, p = _fs(spark, path)
    return bool(fs.exists(p))


def _not_found(exc: Py4JJavaError) -> bool:
    """True iff a Hadoop call failed because its path does not exist."""
    return exc.java_exception.getClass().getName() == "java.io.FileNotFoundException"


def is_dir(spark: SparkSession, path: str) -> bool:
    """One status call: absence is its FileNotFoundException."""
    fs, p = _fs(spark, path)
    try:
        return bool(fs.getFileStatus(p).isDirectory())
    except Py4JJavaError as exc:
        if _not_found(exc):
            return False
        raise


def child_names(spark: SparkSession, path: str) -> list[str]:
    """Immediate child names of a directory ([] when absent). One
    listing call: absence is the listing's FileNotFoundException, not a
    separate `exists` probe."""
    fs, p = _fs(spark, path)
    try:
        return [st.getPath().getName() for st in fs.listStatus(p)]
    except Py4JJavaError as exc:
        if _not_found(exc):
            return []
        raise


def read_bytes(spark: SparkSession, path: str) -> bytes:
    """Whole content of the file at ``path``; FileNotFoundError when it
    does not exist (e.g. deleted between a listing and this read). py4j
    moves the bytes at ~0.4 µs each (57 ms for 150 KB): fine for control
    files, not for data."""
    fs, p = _fs(spark, path)
    try:
        stream = fs.open(p)
    except Py4JJavaError as exc:
        if _not_found(exc):
            raise FileNotFoundError(path) from exc
        raise
    try:
        return bytes(stream.readAllBytes())
    finally:
        stream.close()


def write_bytes(spark: SparkSession, path: str, data: bytes) -> None:
    """Create the file ``path`` (and missing parents) holding ``data``;
    raises if it already exists. Not atomic — write under a hidden name
    and :func:`rename` it into place to publish."""
    fs, p = _fs(spark, path)
    out = fs.create(p, False)
    try:
        out.write(bytearray(data))
    finally:
        out.close()


def _hidden(name: str) -> bool:
    """Spark's reader rule for a path component it skips
    (`HadoopFSUtils.shouldFilterOutPathName`)."""
    if name.startswith(("_metadata", "_common_metadata")):
        return False
    hidden_prefix = name.startswith(".") or (name.startswith("_") and "=" not in name)
    return hidden_prefix or name.endswith("._COPYING_")


def _visible_parquet(spark: SparkSession, path: str) -> Iterator[tuple]:
    """(path string, FileStatus) of every parquet file under ``path`` that
    Spark's reader would see (recursive; nothing when the path is absent).
    Only the components BELOW ``path`` are tested, so a store that itself
    lives under a hidden-looking directory still counts its files."""
    fs, p = _fs(spark, path)
    base = fs.makeQualified(p).toUri().getPath()
    try:
        it = fs.listFiles(p, True)  # recursive RemoteIterator
    except Py4JJavaError as exc:
        if _not_found(exc):
            return
        raise
    while it.hasNext():
        st = it.next()
        f = st.getPath().toUri().getPath()
        if f.endswith(".parquet") and not any(map(_hidden, f[len(base) :].split("/"))):
            yield f, st


def has_committed_parquet(spark: SparkSession, path: str) -> bool:
    """True iff ``path`` holds at least one parquet file Spark's reader
    sees — the "fresh store" test, since a bare directory appears as
    soon as a write STARTS (module docstring)."""
    return next(_visible_parquet(spark, path), None) is not None


def parquet_file_sizes(spark: SparkSession, path: str) -> list[int]:
    """Byte sizes of every parquet file Spark's reader sees under
    ``path``; [] when the path is absent. Metadata-only listing — never
    reads data."""
    return [int(st.getLen()) for _, st in _visible_parquet(spark, path)]


def parquet_schema(spark: SparkSession, path: str, files: list | None = None) -> StructType:
    """The schema ``spark.read.parquet(path)`` infers, read on the driver
    from one footer (module docstring: pinned reads).

    The footer is that of the first file Spark's reader sees under
    ``path`` in path order — Spark's own rule with ``mergeSchema`` off,
    which assumes every file of a store shares its schema. ``files`` is
    the store's visible listing when the caller already holds one
    (:func:`replace_store` passes it to its writer); otherwise the store
    is listed here. The footer is converted by Spark's
    ``ParquetFileFormat.readSchemaFromFooter`` (the Spark schema a Spark
    writer stored, else the parquet schema) with a
    ``ParquetToSparkSchemaConverter`` built from the session's SQLConf,
    and made nullable as every file-source read is. Partition columns are
    not in it: the read appends them from the directory names, as it does
    for an inferred schema. Raises FileNotFoundError when ``path`` holds
    no such file."""
    if files is None:
        files = _visible_parquet(spark, path)
    first = min(files, key=lambda f: f[0], default=None)
    if first is None:
        raise FileNotFoundError(f"no parquet file Spark's reader sees under {path}")
    st = first[1]
    meta = _java(spark, "org.apache.parquet.hadoop.ParquetFileReader", "readFooter")(
        spark._jsc.hadoopConfiguration(),  # noqa: SLF001
        st,
        _java(spark, "org.apache.parquet.format.converter.ParquetMetadataConverter",
              "SKIP_ROW_GROUPS"),
    )
    footer = _java(spark, "org.apache.parquet.hadoop.Footer")(st.getPath(), meta)
    conf = spark._jsparkSession.sessionState().conf()  # noqa: SLF001
    converter = _java(spark, _PARQUET + "ParquetToSparkSchemaConverter")(conf)
    schema = _java(spark, _PARQUET + "ParquetFileFormat", "readSchemaFromFooter")(
        footer, converter
    )
    return StructType.fromJson(json.loads(schema.asNullable().json()))


def read_parquet(spark: SparkSession, path: str, files: list | None = None) -> DataFrame:
    """The parquet store at ``path`` as a DataFrame whose schema is pinned
    by :func:`parquet_schema` (``files`` as there), so the read launches
    no Spark job. Raises FileNotFoundError when ``path`` holds no parquet
    file Spark's reader sees."""
    return spark.read.schema(parquet_schema(spark, path, files)).parquet(path)


def rename(spark: SparkSession, src: str, dst: str) -> None:
    """File or directory move (atomic on local/HDFS/ABFS — see module docstring).
    Raises OSError on any failure — Hadoop signals them inconsistently
    (silent False on some stores, FileNotFoundException on others)."""
    fs, s = _fs(spark, src)
    _, d = _fs(spark, dst)
    try:
        ok = fs.rename(s, d)
    except Exception as exc:
        raise OSError(f"rename failed: {src} -> {dst}: {exc}") from exc
    if not ok:
        raise OSError(f"rename failed: {src} -> {dst}")


def delete(spark: SparkSession, path: str) -> None:
    """Recursive delete; no-op when absent (Hadoop's delete returns False)."""
    fs, p = _fs(spark, path)
    fs.delete(p, True)


def touch(spark: SparkSession, path: str) -> None:
    """Create an empty file (overwriting), e.g. an ``_applied_N`` marker."""
    fs, p = _fs(spark, path)
    fs.create(p, True).close()


def recover_interrupted_swap(spark: SparkSession, target: str) -> None:
    """Repair the aftermath of a crashed :func:`swap_with_backup` before
    touching ``target`` again (module docstring: recovery before probe).

    - ``target`` missing and ``<target>.old`` present: a kill between the
      swap's two renames — restore the backup, the only copy.
    - ``<target>.tmp*`` siblings: a kill during a temp write leaves a
      full-size copy that no later run overwrites (uuid-suffixed names);
      each crash-retry cycle would add another next to a 100 TB fact, so
      delete them (safe under the single-writer rule)."""
    target = target.rstrip("/")
    backup = target + ".old"
    if not exists(spark, target) and exists(spark, backup):
        rename(spark, backup, target)
    # Temp-sibling GC via parent listing + literal prefix match, NOT
    # globStatus: a target path containing glob metacharacters ([]{}*?)
    # would make a glob match unintended siblings (or nothing at all).
    # listStatus + startswith treats the name as the literal it is.
    fs, tpath = _fs(spark, target)
    parent = tpath.getParent()
    if parent is None or not fs.exists(parent):
        return
    prefix = tpath.getName() + ".tmp"
    for st in fs.listStatus(parent):
        if st.getPath().getName().startswith(prefix):
            fs.delete(st.getPath(), True)


def swap_with_backup(spark: SparkSession, tmp: str, target: str) -> None:
    """Install the fully-written ``tmp`` directory at ``target`` with a
    recovery copy at every step: the old target is renamed aside
    (atomic), the new data moved into place (atomic), and only then is
    the backup removed — a crash at any point leaves either the old or
    the new store intact on disk (as ``<target>.old`` if the final rename
    didn't run; :func:`recover_interrupted_swap` restores it). A missing
    target (first install) skips the backup step."""
    target = target.rstrip("/")
    backup = target + ".old"
    delete(spark, backup)
    if exists(spark, target):
        rename(spark, target, backup)
    rename(spark, tmp, target)
    delete(spark, backup)


def replace_store(spark: SparkSession, path: str, write: Callable[[list, str], bool]) -> None:
    """Replace the parquet store at ``path`` by the module's protocol:
    recover a crashed swap, list the committed data, let ``write``
    produce the new contents in a sibling temp dir, swap them in.

    ``write(files, tmp)`` gets the store's one listing — the (path,
    FileStatus) pairs of every parquet file Spark's reader sees, in path
    order; empty for a fresh store — and the temp path to write. It reads
    the old contents itself when it needs them (nothing here reads data),
    passing ``files`` on to :func:`read_parquet` so the store is listed
    once per replace. It returns True to install ``tmp`` or False to
    leave the store as it is. Nothing is cleaned up when ``write`` or the
    swap raises: the next call's recovery does that."""
    path = path.rstrip("/")
    recover_interrupted_swap(spark, path)
    tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
    if write(sorted(_visible_parquet(spark, path), key=lambda f: f[0]), tmp):
        swap_with_backup(spark, tmp, path)
