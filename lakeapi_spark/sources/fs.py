"""Hadoop FileSystem helpers (URI-generic file listing / metadata).

The reference walks storage with fsspec so ``folder/*`` configs and
modified-date checks work on local disk AND object stores (ref
core/config.py:341-382, df_duckdb.py:321-379 keys its FTS index by the
table's modified date). The Spark-native equivalent is the Hadoop
FileSystem API: the same ``FileSystem.get(uri, conf)`` call resolves
``file:``, ``hdfs:``, ``s3a:``, ``abfss:``, … from the classpath, so
none of this code is local-FS-only.

Accessed through the JVM gateway (``spark._jvm``) — these are
driver-side metadata calls (list a directory, stat a file), never data
reads, so the py4j hop is irrelevant at any scale.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def _fs_and_path(spark: SparkSession, uri: str):
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    path = jvm.org.apache.hadoop.fs.Path(uri)
    return path.getFileSystem(hconf), path


def list_children(spark: SparkSession, uri: str) -> list[tuple[str, bool, int]]:
    """``[(path, is_dir, mtime_ms)]`` for the direct children of ``uri``,
    sorted by name. Raises FileNotFoundError on a missing base."""
    fs, path = _fs_and_path(spark, uri)
    if not fs.exists(path):
        raise FileNotFoundError(uri)
    out = []
    for st in fs.listStatus(path):
        out.append((st.getPath().toString(), st.isDirectory(), st.getModificationTime()))
    return sorted(out)


def path_exists(spark: SparkSession, uri: str) -> bool:
    """Existence probe through the Hadoop FileSystem — unlike
    ``os.path`` checks this answers correctly for ``s3a:``/``abfss:``/
    ``hdfs:`` URIs, not just the driver's local disk."""
    fs, path = _fs_and_path(spark, uri)
    return bool(fs.exists(path))


def delete_recursive(spark: SparkSession, uri: str) -> bool:
    """Recursive delete via the Hadoop FileSystem (False when the path
    was already absent). Driver-side metadata call like the rest of
    this module; used for snapshot-retention cleanup of versioned
    index directories."""
    fs, path = _fs_and_path(spark, uri)
    if not fs.exists(path):
        return False
    return bool(fs.delete(path, True))


def latest_modification(spark: SparkSession, uri: str) -> int:
    """Newest modification time (ms) under ``uri`` — one listing level,
    which covers both a single file and a dataset directory of part
    files. The reference keys its persisted FTS index by exactly this
    signal (df_duckdb.py:321-379 'modified date')."""
    fs, path = _fs_and_path(spark, uri)
    if not fs.exists(path):
        raise FileNotFoundError(uri)
    st = fs.getFileStatus(path)
    newest = st.getModificationTime()
    if st.isDirectory():
        for child in fs.listStatus(path):
            newest = max(newest, child.getModificationTime())
    return newest


def data_version(spark: SparkSession, uri: str) -> tuple[int, int, int, int]:
    """A version stamp of the data under ``uri`` that changes whenever a
    reader's file listing would: ``(newest mtime one level down, bytes,
    file count, directory count)``, the last three at any depth from
    ``FileSystem.getContentSummary``. The mtime alone misses a file added
    two levels down (``a=1/b=2/``), which only bumps its own directory;
    the summary catches it. A same-size, same-name in-place rewrite
    deeper than one level is the one change neither sees. Costs a few
    metadata calls (a few ms locally), against a full listing plus a
    schema-inference job for re-reading the table."""
    newest = latest_modification(spark, uri)
    fs, path = _fs_and_path(spark, uri)
    summary = fs.getContentSummary(path)
    return newest, summary.getLength(), summary.getFileCount(), summary.getDirectoryCount()
