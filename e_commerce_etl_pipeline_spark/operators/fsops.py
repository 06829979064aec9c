"""Filesystem shim for the layout operators: Hadoop FileSystem API first.

The dated-retention and bucketed-upsert layouts live wherever the table
lives — HDFS or S3/GCS on a real cluster, local disk in tests. The
original implementations used POSIX calls (``os.listdir``,
``shutil.rmtree``, ``open``), which on a cluster would silently see an
EMPTY directory for an ``hdfs://`` or ``s3a://`` table and, e.g., drop
no partitions while reporting success (r4 finding #5). Every operation
here goes through the JVM's ``org.apache.hadoop.fs.FileSystem`` resolved
from the session's Hadoop configuration, so the same code handles
``file:``, ``hdfs:``, ``s3a:`` — exactly the resolution path Spark's own
readers/writers use.

Fallback policy: when no SparkSession is active (pure-Python unit use),
POSIX handles LOCAL paths only; a remote scheme without a session raises
instead of silently missing data — degrade loudly, never wrongly.
"""

from __future__ import annotations

import glob
import os
import shutil
from urllib.parse import urlparse

from pyspark.sql import SparkSession


def _active_spark(spark: SparkSession | None) -> SparkSession | None:
    return spark or SparkSession.getActiveSession()


# JVM classes are looked up by their full name, in one gateway round trip:
# ``jvm.org.apache.hadoop.fs.Path`` looks up each dotted segment in a
# round trip of its own, and each miss searches the whole classpath.
def _jpath(jvm, path_str: str):
    return getattr(jvm, "org.apache.hadoop.fs.Path")(path_str)


def _hadoop(spark: SparkSession, path_str: str):
    jvm = spark._jvm
    jpath = _jpath(jvm, path_str)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath, jvm


def _local_path(path_str: str) -> str:
    """POSIX fallback: accept plain and ``file:`` paths, refuse remote
    schemes loudly."""
    scheme = urlparse(path_str).scheme
    if scheme and scheme != "file":
        raise RuntimeError(
            f"no active SparkSession to reach {path_str!r} through the "
            "Hadoop FileSystem API, and the POSIX fallback only supports "
            "local paths"
        )
    if path_str.startswith("file://"):
        return path_str[len("file://"):]
    if path_str.startswith("file:"):
        return path_str[len("file:"):]
    return path_str


def exists(path_str: str, spark: SparkSession | None = None) -> bool:
    spark = _active_spark(spark)
    if spark is None:
        return os.path.exists(_local_path(path_str))
    fs, jpath, _ = _hadoop(spark, path_str)
    return fs.exists(jpath)


def list_child_names(path_str: str, spark: SparkSession | None = None) -> list[str]:
    """Names (not full paths) of the directory's immediate children."""
    spark = _active_spark(spark)
    if spark is None:
        return sorted(os.listdir(_local_path(path_str)))
    fs, jpath, _ = _hadoop(spark, path_str)
    return sorted(
        st.getPath().getName() for st in fs.listStatus(jpath)
    )


def count_files_with_suffix(
    path_str: str, suffix: str, spark: SparkSession | None = None
) -> int:
    spark = _active_spark(spark)
    if spark is None:
        return sum(
            1 for f in os.listdir(_local_path(path_str)) if f.endswith(suffix)
        )
    fs, jpath, _ = _hadoop(spark, path_str)
    return sum(
        1
        for st in fs.listStatus(jpath)
        if st.isFile() and st.getPath().getName().endswith(suffix)
    )


# Name prefix of the delta directories (``.s=<n>``) of
# operators/upsert.py's merge-on-read layout, defined here once: the
# upsert writes them and list_file_stats counts them as table content.
DELTA_PREFIX = ".s="


def _hidden(name: str) -> bool:
    if name.startswith(DELTA_PREFIX) and name[len(DELTA_PREFIX):].isdigit():
        return False
    return name.startswith(("_", "."))


def list_file_stats(
    path_str: str, spark: SparkSession | None = None
) -> list[tuple[str, int, int]]:
    """(relative path, size bytes, mtime ms) of every DATA file under
    ``path_str``, recursive, sorted. Hidden entries (any path component
    starting with ``_`` or ``.``) are skipped at every level — the same
    visibility rule Spark's file index applies, so index artifacts under
    ``_index/`` and commit markers never perturb the listing. The one
    exception is an upsert table's delta directories (``.s=<n>``): raw
    Spark reads skip them, but they are table content. This is the
    metadata source for content fingerprints (index_store): names+sizes+
    mtimes change on any rewrite, which is exactly the signal a lakehouse
    snapshot id provides. Missing path -> empty list."""
    spark = _active_spark(spark)
    if spark is None:
        base = _local_path(path_str)
        if os.path.isfile(base):
            st = os.stat(base)
            return [(os.path.basename(base), st.st_size,
                     st.st_mtime_ns // 1_000_000)]
        out: list[tuple[str, int, int]] = []
        for root, dirs, files in os.walk(base):
            dirs[:] = [d for d in dirs if not _hidden(d)]
            for f in files:
                if _hidden(f):
                    continue
                p = os.path.join(root, f)
                st = os.stat(p)
                out.append((os.path.relpath(p, base), st.st_size,
                            st.st_mtime_ns // 1_000_000))
        return sorted(out)
    fs, jpath, _ = _hadoop(spark, path_str)
    if not fs.exists(jpath):
        return []
    status = fs.getFileStatus(jpath)
    if status.isFile():
        return [(jpath.getName(), status.getLen(),
                 status.getModificationTime())]
    base_uri = fs.makeQualified(jpath).toString().rstrip("/")
    it = fs.listFiles(jpath, True)
    out = []
    while it.hasNext():
        st = it.next()
        full = st.getPath().toString()
        rel = full[len(base_uri):].lstrip("/")
        if any(_hidden(seg) for seg in rel.split("/")):
            continue
        out.append((rel, st.getLen(), st.getModificationTime()))
    return sorted(out)


def glob_parent_names(pattern: str, spark: SparkSession | None = None) -> list[str]:
    """Names of the directories that hold an entry matching the glob
    ``pattern``, sorted — e.g. which ``s=*`` directories hold a
    completeness marker, in one listing call. Hidden names match like
    any other."""
    spark = _active_spark(spark)
    if spark is None:
        return sorted(os.path.basename(os.path.dirname(p))
                      for p in glob.glob(_local_path(pattern)))
    fs, jpath, _ = _hadoop(spark, pattern)
    return sorted(st.getPath().getParent().getName()
                  for st in fs.globStatus(jpath) or [])


def rename(src: str, dst: str, spark: SparkSession | None = None) -> None:
    """Move ``src`` to a ``dst`` that does not exist; raises on failure."""
    spark = _active_spark(spark)
    if spark is None:
        os.rename(_local_path(src), _local_path(dst))
        return
    fs, jsrc, jvm = _hadoop(spark, src)
    if not fs.rename(jsrc, _jpath(jvm, dst)):
        raise RuntimeError(f"rename failed: {src} -> {dst}")


def delete(path_str: str, spark: SparkSession | None = None) -> bool:
    """Recursive delete; True when something was removed."""
    spark = _active_spark(spark)
    if spark is None:
        p = _local_path(path_str)
        if not os.path.exists(p):
            return False
        shutil.rmtree(p)
        return True
    fs, jpath, _ = _hadoop(spark, path_str)
    return fs.delete(jpath, True)


def read_text(path_str: str, spark: SparkSession | None = None) -> str | None:
    """Contents of a small text file (marker/metadata), None if absent."""
    spark = _active_spark(spark)
    if spark is None:
        try:
            with open(_local_path(path_str)) as f:
                return f.read()
        except OSError:
            return None
    fs, jpath, jvm = _hadoop(spark, path_str)
    if not fs.exists(jpath):
        return None
    stream = fs.open(jpath)
    try:
        return getattr(jvm, "org.apache.commons.io.IOUtils").toString(stream, "UTF-8")
    finally:
        stream.close()


def write_text(
    path_str: str, content: str, spark: SparkSession | None = None
) -> None:
    """Write/overwrite a small text file (marker/metadata)."""
    spark = _active_spark(spark)
    if spark is None:
        with open(_local_path(path_str), "w") as f:
            f.write(content)
        return
    fs, jpath, _ = _hadoop(spark, path_str)
    out = fs.create(jpath, True)
    try:
        out.write(content.encode("utf-8"))
    finally:
        out.close()


def write_text_atomic(
    path_str: str, content: str, spark: SparkSession | None = None
) -> None:
    """Write a small text file via temp + rename-into-place, so a
    reader sees either the OLD complete content or the NEW complete
    content — never a created-then-truncated or half-written file.
    ``write_text`` creates/truncates in place, which is fine for probe
    files and markers whose absence is harmless, but NOT for commit
    points (nd_store ``_META``/``meta.json``): a crash mid-write there
    would leave an empty/partial file that reads as "not seeded" or
    fails to parse (ADVICE r10 #1). Rename is atomic on POSIX and HDFS;
    object stores emulate it per-object (single small file)."""
    spark = _active_spark(spark)
    if spark is None:
        p = _local_path(path_str)
        tmp = p + ".__tmp__"
        with open(tmp, "w") as f:
            f.write(content)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, p)
        return
    fs, jpath, jvm = _hadoop(spark, path_str)
    tmp_path = _jpath(jvm, path_str + ".__tmp__")
    out = fs.create(tmp_path, True)
    try:
        out.write(content.encode("utf-8"))
    finally:
        out.close()
    # rename-with-overwrite: FileContext exposes the atomic variant the
    # FileSystem API hides; fall back to delete+rename for FS impls
    # without a FileContext binding (the fallback's unprotected window
    # is the delete→rename gap — still strictly smaller than in-place
    # truncate+write, and the tmp file survives for manual recovery)
    try:
        ctx = getattr(jvm, "org.apache.hadoop.fs.FileContext").getFileContext(
            jpath.toUri(), spark._jsc.hadoopConfiguration()
        )
        rename_opt = getattr(jvm, "org.apache.hadoop.fs.Options$Rename")
        overwrite = spark._sc._gateway.new_array(rename_opt, 1)
        overwrite[0] = rename_opt.OVERWRITE
        ctx.rename(tmp_path, jpath, overwrite)
    except Exception:  # noqa: BLE001 — FS without FileContext support
        if fs.exists(jpath):
            fs.delete(jpath, False)
        if not fs.rename(tmp_path, jpath):
            raise RuntimeError(
                f"atomic rename failed: {path_str}.__tmp__ -> {path_str}"
            )
