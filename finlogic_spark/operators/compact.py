"""Small-file compaction (engine-scope addition): bin-pack a directory
of parquet files toward a target file size, preserving clustering and
per-file min/max stats.

Why it exists: streaming sinks (one snapshot per micro-batch), MERGE
rewrites and z-order range writes all shed many small files over time;
at 100 TB small files mean driver-side listing pain, task-launch
overhead per scan, and poor min/max pruning density. The standard
companion operator (Delta OPTIMIZE, Iceberg rewrite_data_files) is a
bin-packing rewrite, re-expressed here on plain parquet dirs:

1. list data files (Hadoop FS, name order == write/clustering order);
2. greedily pack CONSECUTIVE files into bins of <= target_bytes —
   consecutive in name order, so each bin covers a contiguous
   clustering range and the compacted file's min/max stats stay as
   tight as the union of its inputs (never wider: compaction moves no
   row across a bin boundary);
3. rewrite each multi-file bin as one file (read bin -> coalesce(1) ->
   sortWithinPartitions(sort_cols) to restore intra-file order ->
   write), leaving already-right-sized singleton bins untouched;
4. swap each bin's output in with Hadoop FS delete+rename, named after
   the bin's first input so name order still matches clustering order.

Scale notes: each bin is an independent ~target_bytes job — a
production run submits them concurrently (fair-scheduler pool), the
loop here is sequential for determinism. The swap in step 4 is
file-level, not transactional: a crash mid-swap can briefly lose a
bin's rows for readers racing the rewrite. Run it on quiesced
partitions/versions (e.g. the upsert sink's OLD committed snapshots —
``compact_snapshot`` below) or behind a table-format commit when one
is available; the read path itself (parquet dir listing) needs no
coordination.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import SparkSession

from finlogic_spark.sources.fsutil import (
    delete_path,
    list_data_files,
    numbered_dirs,
    rename_path,
)


def plan_bins(
    files: Sequence[tuple[str, int]],
    target_bytes: int,
    min_bytes: int | None = None,
) -> list[list[tuple[str, int]]]:
    """Greedy consecutive bin-packing: walk files in (name) order,
    closing a bin when adding the next file would exceed
    ``target_bytes``. Files at/above ``min_bytes`` (default
    target/2) are already right-sized: they become singleton-bin
    barriers and are never rewritten — without this floor compaction
    never converges, because a rewritten parquet file re-encodes
    SMALLER than the sum of its inputs and would qualify for packing
    again on the next run (unbounded write amplification).
    Consecutive-only packing is what preserves clustering/stat
    tightness — a size-sorted first-fit would pack files from
    far-apart key ranges into one wide-stats file."""
    if min_bytes is None:
        min_bytes = target_bytes // 2
    bins: list[list[tuple[str, int]]] = []
    cur: list[tuple[str, int]] = []
    cur_bytes = 0
    for f, sz in files:
        if sz >= min_bytes:
            if cur:
                bins.append(cur)
                cur, cur_bytes = [], 0
            bins.append([(f, sz)])
            continue
        if cur and cur_bytes + sz > target_bytes:
            bins.append(cur)
            cur, cur_bytes = [], 0
        cur.append((f, sz))
        cur_bytes += sz
    if cur:
        bins.append(cur)
    return bins


def compact_dir(
    spark: SparkSession,
    path: str,
    target_bytes: int,
    sort_cols: Sequence[str] | None = None,
    min_bytes: int | None = None,
) -> dict:
    """Bin-pack the parquet files under ``path`` in place toward
    ``target_bytes`` per file. Returns
    {files_before, files_after, bins_rewritten, bytes_rewritten}.

    Only multi-file bins are rewritten; a file already at/above
    ``min_bytes`` (default target/2) is untouched — repeated
    compaction converges instead of rewriting the same bytes every
    run (write amplification)."""
    files = list_data_files(spark, path)
    bins = plan_bins(files, target_bytes, min_bytes=min_bytes)
    root = path.rstrip("/")
    rewritten = 0
    bytes_rewritten = 0
    for i, b in enumerate(bins):
        if len(b) < 2:
            continue
        in_paths = [f for f, _ in b]
        df = spark.read.parquet(*in_paths).coalesce(1)
        if sort_cols:
            df = df.sortWithinPartitions(*sort_cols)
        tmp = f"{root}/.compact_tmp_{i}"
        df.write.mode("overwrite").parquet(tmp)
        out_parts = list_data_files(spark, tmp)
        assert len(out_parts) == 1, "coalesce(1) must yield one data file"
        # Name the output after the bin's first input (+ suffix) so the
        # directory's name order keeps matching clustering order.
        first_name = in_paths[0].rsplit("/", 1)[-1]
        dest = f"{root}/{first_name[:-len('.parquet')]}.c.parquet"
        for f in in_paths:
            delete_path(spark, f, recursive=False)
        rename_path(spark, out_parts[0][0], dest)
        delete_path(spark, tmp)
        rewritten += 1
        bytes_rewritten += sum(sz for _, sz in b)
    return {
        "files_before": len(files),
        "files_after": len(list_data_files(spark, path)),
        "bins_rewritten": rewritten,
        "bytes_rewritten": bytes_rewritten,
    }


def compact_snapshot(
    spark: SparkSession,
    snapshot_path: str,
    target_bytes: int,
    sort_cols: Sequence[str] | None = None,
    version: int | None = None,
    min_bytes: int | None = None,
) -> dict:
    """Compact one committed version of a streaming-upsert snapshot
    store (``streaming.foreach_batch_upsert_writer`` layout: v=N dirs
    gated by _SUCCESS). Defaults to the latest committed version; the
    _SUCCESS marker is untouched, so readers keep resolving the same
    version before/during/after. Pair: the sink bounds version COUNT
    via ``retain``; this bounds FILE COUNT within a version."""
    v = version
    if v is None:
        versions = numbered_dirs(spark, snapshot_path, "v=")
        v = max((n for n, ok in versions.items() if ok), default=None)
    if v is None:
        raise FileNotFoundError(f"no committed snapshot under {snapshot_path}")
    stats = compact_dir(
        spark,
        snapshot_path.rstrip("/") + f"/v={v}",
        target_bytes,
        sort_cols=sort_cols,
        min_bytes=min_bytes,
    )
    stats["version"] = v
    return stats
