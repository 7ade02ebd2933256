"""Hadoop FileSystem helpers for storage probes and swaps.

Self-managed parquet stores (the streaming folds in `streaming/jobs.py`,
the maintenance compactors, the migration log in `sources/watermark.py`)
need existence probes, directory listings, renames and whole-file byte
reads/writes against the SAME filesystem Spark reads — which is NOT the
driver's local filesystem once paths are `hdfs://`, `s3a://` or
`abfss://`. Driver-local `os.path` calls silently return False there (the
failure class `sources/watermark.py` documents for its read path), so
every probe here goes through `org.apache.hadoop.fs.FileSystem` resolved
from the path's own scheme + the session's Hadoop configuration. Local
paths resolve to `RawLocalFileSystem` and behave exactly as before.

Atomicity note: `rename` maps to `FileSystem.rename`, which is atomic on
POSIX-like stores (local, HDFS, ABFS). On S3A it is a COPY+DELETE — any
swap protocol built on these helpers is only crash-atomic on an
atomic-rename store; object-store deployments should use a transactional
table format (Delta/Iceberg) instead, as `sinks.merge_upsert` already
does when available.
"""

from __future__ import annotations

from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession


def _fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path``, resolved by the path's scheme."""
    jvm = spark._jvm  # noqa: SLF001 — py4j gateway is the only route to Hadoop FS
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())  # noqa: SLF001
    return fs, hpath


def exists(spark: SparkSession, path: str) -> bool:
    fs, p = _fs(spark, path)
    return bool(fs.exists(p))


def is_dir(spark: SparkSession, path: str) -> bool:
    fs, p = _fs(spark, path)
    return bool(fs.exists(p) and fs.getFileStatus(p).isDirectory())


def _not_found(exc: Py4JJavaError) -> bool:
    """True iff a Hadoop call failed because its path does not exist."""
    return exc.java_exception.getClass().getName() == "java.io.FileNotFoundException"


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


def _in_temporary(base, f) -> bool:
    """True iff file ``f`` sits under a ``_temporary`` PATH COMPONENT
    inside ``base``. A substring test over the whole URI would also hit
    stores whose own path merely CONTAINS the text (e.g.
    `/data/etl_temporary/sig_store`) and misclassify every committed
    file as in-flight — so walk the parent components instead."""
    p = f.getParent()
    stop = base.toString()
    while p is not None and p.toString() != stop:
        if p.getName() == "_temporary":
            return True
        p = p.getParent()
    return False


def has_committed_parquet(spark: SparkSession, path: str) -> bool:
    """True iff ``path`` contains at least one COMMITTED parquet file
    (ignoring in-flight ``_temporary`` output) — the existence test every
    crash-retried reader of a self-managed parquet store needs, since a
    bare directory appears as soon as a write STARTS."""
    fs, p = _fs(spark, path)
    if not fs.exists(p):
        return False
    it = fs.listFiles(p, True)  # recursive RemoteIterator
    while it.hasNext():
        f = it.next().getPath()
        if _in_temporary(p, f):
            continue
        if f.getName().endswith(".parquet"):
            return True
    return False


def parquet_file_sizes(spark: SparkSession, path: str) -> list[int]:
    """Byte sizes of every committed parquet file under ``path``
    (recursive, `_temporary` excluded); [] when the path is absent.
    Metadata-only listing — never reads data."""
    fs, p = _fs(spark, path)
    if not fs.exists(p):
        return []
    sizes: list[int] = []
    it = fs.listFiles(p, True)
    while it.hasNext():
        st = it.next()
        f = st.getPath()
        if _in_temporary(p, f) or not f.getName().endswith(".parquet"):
            continue
        sizes.append(int(st.getLen()))
    return sizes


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
    """Recursive delete; no-op when absent."""
    fs, p = _fs(spark, path)
    if fs.exists(p):
        fs.delete(p, True)


def touch(spark: SparkSession, path: str) -> None:
    """Create an empty file (overwriting), e.g. an ``_applied_N`` marker."""
    fs, p = _fs(spark, path)
    fs.create(p, True).close()


def recover_interrupted_swap(spark: SparkSession, target: str) -> None:
    """Repair the aftermath of a crashed :func:`swap_with_backup` before
    touching ``target`` again, and garbage-collect stale temp siblings.

    - A kill between the swap's two renames leaves ``target`` missing and
      ``<target>.old`` holding the only copy — restore it FIRST, or a
      fresh-target branch would silently rebuild the store from one batch
      and a later successful swap would delete the backup (data loss).
    - A kill during a temp write leaves a full-size ``<target>.tmp*``
      sibling that no later run overwrites (uuid-suffixed names) — each
      crash-retry cycle would otherwise add another complete copy next to
      a 100 TB fact. Single-writer-per-target is already the module's
      protocol (two concurrent merges into one fact race the swap
      itself), so deleting this target's temp siblings here is safe."""
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
    target (first install) skips the backup step. Crash-atomicity rests
    on atomic rename — local/HDFS/ABFS, NOT S3A (module docstring)."""
    target = target.rstrip("/")
    backup = target + ".old"
    delete(spark, backup)
    if exists(spark, target):
        rename(spark, target, backup)
    rename(spark, tmp, target)
    delete(spark, backup)
