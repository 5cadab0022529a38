"""Hadoop FileSystem helpers for store/lineage metadata operations.

``TripleStore`` and ``LineageLog`` paths may live on any scheme Hadoop
supports (file://, hdfs://, s3a://, gs://, abfs://) — a real 100 TB
deployment is on an object store, where ``os.path``/``shutil`` silently
report "missing" and break merge/resume semantics (data loss: merge()
would skip existing rows). Every existence check, directory listing,
and partition delete routes through the JVM FileSystem API instead, so
the same code runs on local disk in tests and object stores in
production.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def _jfs(spark: SparkSession, path: str):
    """(FileSystem, Path) for the scheme of ``path``."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath


def exists(spark: SparkSession, path: str) -> bool:
    fs, p = _jfs(spark, path)
    return bool(fs.exists(p))


def list_names(spark: SparkSession, path: str) -> list[str]:
    """Child entry names of a directory ([] if it doesn't exist)."""
    fs, p = _jfs(spark, path)
    if not fs.exists(p):
        return []
    return [st.getPath().getName() for st in fs.listStatus(p)]


def delete(spark: SparkSession, path: str, recursive: bool = True) -> bool:
    """Delete a file or directory tree; True if something was removed.
    On object stores this is the partition-drop primitive (O(keys) but
    metadata-only — no data movement)."""
    fs, p = _jfs(spark, path)
    if not fs.exists(p):
        return False
    return bool(fs.delete(p, recursive))


def create_text_file(spark: SparkSession, path: str, content: str) -> bool:
    """Create-if-absent write; ``False`` if the path already exists.

    This is the triple store's manifest commit primitive: Hadoop's
    ``create(path, overwrite=false)`` fails when the file exists, which
    on HDFS is an atomic compare-and-swap — two racing writers get a
    deterministic winner. On ``file://`` (tests) the check-then-create
    window is not atomic and on S3 the guarantee needs a catalog or
    conditional PUT.
    """
    from py4j.protocol import Py4JJavaError

    fs, p = _jfs(spark, path)
    try:
        out = fs.create(p, False)
    except Py4JJavaError as e:
        # only "already exists" means losing the CAS; a permission or
        # connectivity error must surface as itself, not masquerade as
        # a lost commit race
        msg = str(e.java_exception) if e.java_exception else str(e)
        if "ExistsException" in msg or "already exists" in msg.lower():
            return False
        raise
    try:
        out.write(bytearray(content.encode("utf-8")))
    finally:
        out.close()
    return True


def list_status(spark: SparkSession, path: str) -> list[dict]:
    """Child entries of a directory as ``{"name", "is_dir", "length"}``
    dicts ([] if it doesn't exist) — the sized variant of
    ``list_names`` for manifest bookkeeping."""
    fs, p = _jfs(spark, path)
    if not fs.exists(p):
        return []
    return [
        {
            "name": st.getPath().getName(),
            "is_dir": bool(st.isDirectory()),
            "length": int(st.getLen()),
            # epoch seconds; drives the triple store's grace windows
            # (torn-manifest recovery, orphan-dir sweep)
            "mtime": st.getModificationTime() / 1000.0,
        }
        for st in fs.listStatus(p)
    ]


def list_files(spark: SparkSession, path: str) -> list[tuple[str, int]]:
    """``(path, length)`` of every file directly in a directory or in
    one of its subdirectories ([] if it doesn't exist) — the layout of
    a Hive-style partitioned write. Two listing calls cover the tree
    and Python pays a few py4j calls per file; one ``list_status`` per
    subdirectory, or a recursive ``listFiles``, is several times slower
    on local disk."""
    fs, p = _jfs(spark, path)
    if not fs.exists(p):
        return []
    children = spark._jvm.org.apache.hadoop.fs.FileUtil.stat2Paths(
        fs.listStatus(p))
    return [(str(st.getPath().toString()), int(st.getLen()))
            for st in fs.listStatus(children) if st.isFile()]


def write_text_file(spark: SparkSession, path: str, content: str) -> None:
    """Write a small metadata file (overwrite) through the Hadoop FS —
    works on file:// in tests and object stores in production."""
    fs, p = _jfs(spark, path)
    out = fs.create(p, True)
    try:
        out.write(bytearray(content.encode("utf-8")))
    finally:
        out.close()


def read_text_file(spark: SparkSession, path: str) -> str:
    """Read a small metadata file fully into a string (UTF-8)."""
    fs, p = _jfs(spark, path)
    stream = fs.open(p)
    try:
        jvm = spark._jvm
        return jvm.org.apache.commons.io.IOUtils.toString(
            stream, "UTF-8"
        )
    finally:
        stream.close()


def join(base: str, *parts: str) -> str:
    """URI-safe path join (os.path.join mangles scheme-qualified paths
    on some platforms; Hadoop paths are always '/'-separated)."""
    out = base.rstrip("/")
    for part in parts:
        out += "/" + part.strip("/")
    return out
