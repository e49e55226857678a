"""Compaction tests: file-count reduction, data equality, stat
(min/max span) preservation on z-ordered layouts, convergence
(second run is a no-op), and the upsert-snapshot pairing."""

from __future__ import annotations

import glob
import os

from pyspark.sql import functions as F

from finlogic_spark.operators.compact import (
    compact_dir,
    compact_snapshot,
    plan_bins,
)
from finlogic_spark.operators.zorder import zorder_write
from finlogic_spark.sources.fsutil import list_data_files


def test_plan_bins_consecutive_packing():
    files = [(f"f{i}", 10) for i in range(10)]
    bins = plan_bins(files, 35)
    assert [len(b) for b in bins] == [3, 3, 3, 1]
    # consecutive: bin k's names all precede bin k+1's
    flat = [f for b in bins for f, _ in b]
    assert flat == [f for f, _ in files]


def test_plan_bins_oversized_file_own_bin():
    files = [("a", 10), ("big", 100), ("c", 10), ("d", 10)]
    bins = plan_bins(files, 50)
    assert bins == [[("a", 10)], [("big", 100)], [("c", 10), ("d", 10)]]


def _file_ranges(spark, path, col):
    ranges = []
    for f in sorted(glob.glob(os.path.join(path, "*.parquet"))):
        r = (
            spark.read.parquet(f)
            .agg(F.min(col).alias("lo"), F.max(col).alias("hi"))
            .collect()[0]
        )
        ranges.append((r["lo"], r["hi"]))
    return ranges


def test_compact_reduces_files_preserves_rows_and_stats(spark, tmp_path):
    # 16 z-ordered files over a 32x32 grid; compact ~4:1. Bins pack
    # CONSECUTIVE z-ranges, so compacted files still carry bounded
    # min/max spans in BOTH z dimensions (the data-skipping property
    # survives compaction).
    rows = [(x, y) for x in range(32) for y in range(32)]
    df = spark.createDataFrame(rows, "x long, y long").repartition(8)
    path = str(tmp_path / "z")
    zorder_write(df, path, [F.col("x"), F.col("y")], bits=5, num_files=16)
    files = list_data_files(spark, path)
    assert len(files) == 16
    total = sum(sz for _, sz in files)

    stats = compact_dir(spark, path, target_bytes=total // 4 + 1)
    assert stats["files_before"] == 16
    assert 3 <= stats["files_after"] <= 6
    assert stats["files_after"] == len(list_data_files(spark, path))

    out = spark.read.parquet(path)
    assert out.count() == 1024
    assert out.select("x", "y").distinct().count() == 1024
    # ~4 consecutive z-runs per file -> a contiguous quarter of the z
    # curve -> each dimension still spans at most half the domain.
    for col in ("x", "y"):
        for lo, hi in _file_ranges(spark, path, col):
            assert hi - lo <= 16, f"{col} span widened past a half-domain"


def test_compact_is_idempotent_and_skips_right_sized_files(spark, tmp_path):
    rows = [(i, i % 7) for i in range(2000)]
    df = spark.createDataFrame(rows, "a long, b long")
    path = str(tmp_path / "d")
    df.repartitionByRange(10, "a").write.parquet(path)
    total = sum(sz for _, sz in list_data_files(spark, path))

    first = compact_dir(spark, path, target_bytes=total // 2 + 1, sort_cols=["a"])
    assert first["bins_rewritten"] >= 1
    assert first["files_after"] < first["files_before"]
    # Second run: every file is already a singleton bin at/over target.
    second = compact_dir(spark, path, target_bytes=total // 2 + 1)
    assert second["bins_rewritten"] == 0
    assert second["files_after"] == first["files_after"]
    got = sorted(r["a"] for r in spark.read.parquet(path).collect())
    assert got == list(range(2000))


def test_compact_snapshot_pairs_with_upsert_sink(spark, tmp_path):
    import finlogic_spark.streaming as st

    path = str(tmp_path / "snap")
    writer = st.foreach_batch_upsert_writer(path, keys=["k"], order_cols=["seq"])
    # AQE would coalesce this tiny merge shuffle to one file; disable
    # coalescing so the version carries the many small files a real
    # per-batch MERGE sheds at scale.
    coalesce_key = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(coalesce_key)
    spark.conf.set(coalesce_key, "false")
    try:
        for bid in range(3):
            batch = spark.createDataFrame(
                [(i, f"b{bid}", bid * 100 + i) for i in range(200)],
                "k long, v string, seq long",
            ).repartition(8)
            writer(batch, bid)
    finally:
        spark.conf.set(coalesce_key, old)
    before = spark.read.parquet(os.path.join(path, "v=2"))
    rows_before = sorted(map(tuple, before.collect()))
    n_files = len(list_data_files(spark, os.path.join(path, "v=2")))
    assert n_files >= 8

    stats = compact_snapshot(spark, path, target_bytes=1 << 30, sort_cols=["k"])
    assert stats["version"] == 2
    assert stats["files_after"] == 1
    snap = st.read_upsert_snapshot(spark, path)
    assert sorted(map(tuple, snap.collect())) == rows_before
    # _SUCCESS survived: the version still reads as committed.
    assert st.list_upsert_versions(spark, path)[-1] == 2
