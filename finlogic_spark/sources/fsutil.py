"""Hadoop FileSystem helpers (engine-scope addition): the one sanctioned
way to list, check, delete and rename what the engine writes.

Everything here goes through ``org.apache.hadoop.fs.FileSystem`` — the
same abstraction Spark's committers use — so callers behave identically
on ``file:``, ``hdfs:`` and ``s3a:`` URIs. ``os.listdir`` on the driver
is NOT equivalent: on a real cluster the driver's POSIX view is not the
store, and even locally it rejects a ``file://`` URI as a literal path.

Users: the streaming drain's ``batch_id=N`` directories and the upsert
sink's ``v=N`` snapshots (streaming/__init__.py), PageRank's durable
``round{N}`` tables and their sidecar check (operators/graph.py), and
the compaction operator's file listing and swap (operators/compact.py).
No other module touches ``org.apache.hadoop.fs``. Reading what was
written goes through ``sources/index_table.py``.
"""

from __future__ import annotations

import re


def hadoop_fs(spark, path: str):
    """(FileSystem, Path, jvm) for ``path``."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath, jvm


def exists(spark, path: str) -> bool:
    fs, jpath, _ = hadoop_fs(spark, path)
    return bool(fs.exists(jpath))


def numbered_dirs(spark, path: str, prefix: str) -> dict[int, bool]:
    """{N: committed} for the child directories ``{prefix}{N}`` of
    ``path`` ({} when ``path`` is missing). Committed = the directory
    carries the committer's ``_SUCCESS`` marker. One listStatus plus
    one exists per directory — the two calls object stores price as
    LIST + HEAD."""
    fs, jpath, jvm = hadoop_fs(spark, path)
    if not fs.exists(jpath):
        return {}
    pattern = re.compile(re.escape(prefix) + r"(\d+)")
    out: dict[int, bool] = {}
    for status in fs.listStatus(jpath):
        m = pattern.fullmatch(status.getPath().getName())
        if m and status.isDirectory():
            marker = jvm.org.apache.hadoop.fs.Path(status.getPath(), "_SUCCESS")
            out[int(m.group(1))] = bool(fs.exists(marker))
    return out


def list_data_files(spark, path: str) -> list[tuple[str, int]]:
    """(uri, bytes) of the parquet data files directly under ``path``,
    sorted by file name. Name order is write order for Spark output
    (part-00000 < part-00001 < ...), which for a range-partitioned
    write is also clustering order — consumers that bin-pack
    consecutive files preserve clustering by relying on this sort."""
    fs, jpath, _ = hadoop_fs(spark, path)
    if not fs.exists(jpath):
        return []
    out = []
    for status in fs.listStatus(jpath):
        name = status.getPath().getName()
        if status.isDirectory() or name.startswith(("_", ".")):
            continue
        if not name.endswith(".parquet"):
            continue
        out.append((status.getPath().toString(), int(status.getLen())))
    return sorted(out, key=lambda t: t[0].rsplit("/", 1)[-1])


def delete_path(spark, path: str, recursive: bool = True) -> bool:
    fs, jpath, _ = hadoop_fs(spark, path)
    return bool(fs.delete(jpath, recursive))


def rename_path(spark, src: str, dest: str) -> bool:
    fs, jsrc, jvm = hadoop_fs(spark, src)
    return bool(fs.rename(jsrc, jvm.org.apache.hadoop.fs.Path(dest)))
