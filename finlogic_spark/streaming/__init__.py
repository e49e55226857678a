"""Structured Streaming operators over the `events` surface
(engine-scope addition — the reference has no streaming, SURVEY.md
§2.10; the `events` table is the driver-provided streaming twin).

Design: every streaming transform here has a batch twin in
``finlogic_spark.driver_queries`` (events_tumbling_hourly,
events_sessionize, events_dedup_earliest) with a DuckDB oracle — the
streaming functions apply the SAME column logic to an unbounded
DataFrame, so correctness is pinned by the batch oracle and the
streaming tests only need to check incremental/watermark mechanics.

Scale notes:
- Watermarks bound state: without one, windowed aggs and dropDuplicates
  keep state forever and OOM a cluster.
- ``session_window`` is the native gap-sessionization operator (state
  merge on overlap) — no custom applyInPandasWithState needed for the
  30-min-gap semantics.
- Output modes: windowed aggs use "append" (emit on watermark close) in
  production sinks; tests use "complete"/memory sink for determinism.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from finlogic_spark.sources.fsutil import delete_path, exists, numbered_dirs
from finlogic_spark.sources.index_table import read_written

DEFAULT_WATERMARK = "1 hour"
SESSION_GAP = "30 minutes"


def read_events_stream(
    spark, sf_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-source stream over the events parquet (each file is one
    micro-batch). Schema comes from a batch peek — a streaming source
    needs an explicit schema."""
    # Schema must match the RAW file layout (ts is INT64 nanos there);
    # with_event_time() converts to timestamp downstream.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw_schema = spark.read.parquet(
        sf_dir.rstrip("/") + "/events.parquet"
    ).schema
    return (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        # File sources take a directory; select just the events file.
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )


def with_event_time(df: DataFrame) -> DataFrame:
    """Normalize the ts column to TIMESTAMP: events parquet has carried
    INT64-nanos and TIMESTAMP_NTZ layouts across driver versions, and
    watermarks/event-time ops accept only TIMESTAMP (session tz UTC, so
    the NTZ walltime maps 1:1 onto the epoch)."""
    dtype = dict(df.dtypes).get("ts")
    if dtype == "bigint":
        df = df.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
    elif dtype == "timestamp_ntz":
        # The NTZ→TIMESTAMP cast reads the walltime in the SESSION tz;
        # it is epoch-preserving only under UTC. Guard instead of
        # silently shifting every window boundary when a caller brings
        # a non-UTC session (get_spark pins UTC, arbitrary sessions
        # may not).
        tz = df.sparkSession.conf.get("spark.sql.session.timeZone", "")
        if tz not in ("UTC", "Etc/UTC", "GMT"):
            raise ValueError(
                "with_event_time requires spark.sql.session.timeZone=UTC "
                f"(got {tz!r}): casting TIMESTAMP_NTZ under a non-UTC "
                "session tz silently shifts event times"
            )
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def tumbling_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = DEFAULT_WATERMARK,
) -> DataFrame:
    """Windowed count+sum per (window, event_type) with a watermark —
    the streaming twin of the events_tumbling_hourly batch query."""
    return (
        with_event_time(events)
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sliding_value_avg(
    events: DataFrame,
    window: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str = DEFAULT_WATERMARK,
) -> DataFrame:
    """Sliding-window average value per event_type."""
    return (
        with_event_time(events)
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(F.avg("value").alias("avg_value"), F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "avg_value",
            "n_events",
        )
    )


def session_counts(
    events: DataFrame,
    gap: str = SESSION_GAP,
    watermark: str = DEFAULT_WATERMARK,
) -> DataFrame:
    """Native gap-based sessionization: one row per (user, session)
    with bounds and event count — streaming twin of events_sessionize
    (which counts sessions per user in batch)."""
    return (
        with_event_time(events)
        .withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("s"), "user_id")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            "user_id",
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def dedup_stream(
    events: DataFrame,
    keys: list[str] | None = None,
    watermark: str = DEFAULT_WATERMARK,
) -> DataFrame:
    """Streaming exactly-once dedup on (user_id, event_type) within the
    watermark horizon — state is dropped once the watermark passes, so
    memory stays bounded (dropDuplicatesWithinWatermark)."""
    keys = keys or ["user_id", "event_type"]
    df = with_event_time(events).withWatermark("ts", watermark)
    return df.dropDuplicatesWithinWatermark(keys)


def stream_interval_join(
    clicks: DataFrame,
    purchases: DataFrame,
    window_minutes: int = 30,
    watermark: str = DEFAULT_WATERMARK,
) -> DataFrame:
    """Stream-stream inner join with an event-time range condition:
    each click pairs with the same user's purchases from the preceding
    ``window_minutes``. The batch twin is
    ``operators.rangejoin.interval_join`` (events_interval_join oracle).

    Scale notes: Structured Streaming buffers BOTH sides as keyed state;
    the watermark + time-range condition let it evict state older than
    (watermark + window), so memory is bounded by in-horizon traffic,
    not stream length. Without the range condition in the join predicate
    the state store can never evict — the condition is load-bearing,
    not an optimization."""
    c = with_event_time(clicks).withWatermark("ts", watermark)
    p = (
        with_event_time(purchases)
        .selectExpr(
            "user_id AS p_user_id", "ts AS p_ts", "value AS p_value"
        )
        .withWatermark("p_ts", watermark)
    )
    cond = F.expr(
        f"user_id = p_user_id AND p_ts >= ts - INTERVAL {window_minutes} MINUTES "
        "AND p_ts <= ts"
    )
    return c.join(p, cond, "inner").select(
        "event_id", "user_id", "ts", "p_ts", "p_value"
    )


def run_to_memory_sink(
    stream_df: DataFrame, name: str, output_mode: str = "complete", timeout: int = 120
):
    """Drain a bounded file-source stream into an in-memory table and
    return the query handle (test/debug harness, not a prod sink)."""
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(timeout):
        q.stop()
        raise TimeoutError(
            f"memory-sink drain did not finish within {timeout}s; "
            "the in-memory table would be partial"
        )
    return q


def drain_stream_to_df(
    stream_df: DataFrame,
    path: str | None = None,
    output_mode: str = "update",
    timeout: int = 600,
) -> DataFrame:
    """Scale-safe drain of a bounded stream: ``run_to_parquet_sink``
    (foreachBatch, one ``batch_id=<id>`` parquet directory per
    micro-batch — distributed executor writes, NOTHING routes through
    the driver) followed by a read-back of the result as a DataFrame.

    This exists because the memory sink collects every emission into
    driver memory: in update mode its table APPENDS each batch's
    output, so a stateful query over a big source dies on
    spark.driver.maxResultSize long before the state itself is a
    problem (observed: stream_resample_ffill at sf100, 1 GiB of
    serialized task results). The registry's streaming queries drain
    through this; ``run_to_memory_sink`` stays a test/debug harness
    for fixture-sized streams.

    Complete mode re-emits the ENTIRE result every batch, so only the
    final batch's directory is the answer — reading the union would
    duplicate rows. Update/append read all batches (downstream
    keep-last collapses tentative re-emissions exactly as with the
    memory sink). The batches are listed through ``sources/fsutil``
    (so ``file:``, ``hdfs:`` and ``s3a:`` paths drain alike) and read
    back with ``stream_df``'s schema (``index_table.read_written``),
    so the read-back runs no schema-inference job.

    An explicit ``path`` must be FRESH: reusing one resumes from the
    old run's checkpoint offsets and the read-back unions the stale
    ``batch_id=`` directories, silently returning duplicated/stale
    rows — so pre-existing batch output raises instead. ``path=None``
    temp dirs are removed at interpreter exit (the returned DataFrame
    reads the files lazily, so they must outlive this call); persist
    to a real ``path`` for results that must outlive the process."""
    import atexit
    import shutil
    import tempfile

    spark = stream_df.sparkSession
    if path is None:
        base = tempfile.mkdtemp(prefix="fl_stream_sink_")
        atexit.register(shutil.rmtree, base, ignore_errors=True)
        path = os.path.join(base, "data")
        checkpoint = os.path.join(base, "ckpt")
    else:
        checkpoint = path.rstrip("/") + "_ckpt"
        stale = numbered_dirs(spark, path, "batch_id=")
        has_ckpt = exists(spark, checkpoint)
        if stale or has_ckpt:
            raise ValueError(
                f"drain_stream_to_df path {path!r} holds output/checkpoint "
                f"state from a previous run ({len(stale)} batch_id dirs; "
                f"checkpoint={has_ckpt}); draining into it "
                "would resume stale offsets and union stale batches — "
                "clear both or pass a fresh path"
            )
    q = run_to_parquet_sink(
        stream_df, path, checkpoint, output_mode=output_mode, timeout=timeout
    )
    q.stop()
    batch_ids = sorted(numbered_dirs(spark, path, "batch_id="))
    if not batch_ids:  # empty bounded source: zero micro-batches ran
        return spark.createDataFrame([], stream_df.schema)
    if output_mode == "complete":
        last = os.path.join(path, f"batch_id={batch_ids[-1]}")
        return read_written(spark, last, stream_df.schema)
    return read_written(spark, path, stream_df.schema).drop("batch_id")


def foreach_batch_idempotent_writer(path: str):
    """``foreachBatch`` writer with per-batch-id directories: each
    micro-batch overwrites ``{path}/batch_id={id}``, so a retried batch
    (same deterministic batch id after failure recovery) replaces its
    own output instead of appending duplicates — exactly-once OUTPUT on
    top of at-least-once execution, with no transactional store.
    This is the production sink pattern when the target is plain
    parquet/object storage; read the result with
    ``spark.read.option("basePath", path).parquet(path)`` (batch_id
    becomes a partition column; last-writer-wins consumers dedup on it
    if the stream runs in update mode)."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            os.path.join(path, f"batch_id={batch_id}")
        )

    return write_batch


def foreach_batch_upsert_writer(
    path: str,
    keys: list[str],
    order_cols: list[str],
    delete_col: str | None = None,
    retain: int | None = None,
):
    """``foreachBatch`` MERGE sink: each micro-batch upserts its CDC
    rows into a keyed snapshot — the streaming half of
    ``operators.merge.merge_upsert``.

    Per batch id N:
    1. base snapshot = highest committed version v<N (None → empty),
       read back with the batch's schema (no inference job);
    2. the batch dedups to one change per key (``keep_last`` on
       ``order_cols`` — CDC batches carry multiple versions per key);
    3. ``merge_upsert`` applies update/insert/delete semantics;
    4. the merged snapshot overwrites ``{path}/v=N``.

    Exactly-once without a transactional store: batch ids are
    deterministic under checkpoint recovery, so a REPLAYED batch N
    recomputes v=N from the same base v<N and overwrites its own
    half-written output (versions without _SUCCESS are never read).
    Readers serve the highest committed version — snapshot isolation,
    no reader/writer coordination.

    Scale shape: one full-outer shuffle join per batch on the merge
    key (the merge_upsert plan) over snapshot + batch — the same
    MERGE cost a Delta/Iceberg sink pays, minus file-level pruning;
    ``retain`` bounds storage by dropping committed versions older
    than the last max(retain, 2). The floor of 2 is load-bearing: a
    checkpoint replay of batch N rebuilds v=N from the newest
    committed base v<N, so at least one committed version strictly
    below the newest must always survive pruning. Torn dirs (no
    _SUCCESS) below the current batch are deleted outright and never
    consume retain budget. All listing/deletion goes through
    ``sources/fsutil`` (the Hadoop FileSystem API), so the sink works
    on hdfs:/s3a: paths, not just the driver's local disk."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        from finlogic_spark.operators.dedup import keep_last
        from finlogic_spark.operators.merge import merge_upsert

        spark = batch_df.sparkSession
        root = path.rstrip("/")
        below = [v for v in list_upsert_versions(spark, path) if v < batch_id]
        base_v = below[-1] if below else None
        target_cols = [c for c in batch_df.columns if c != delete_col]
        if base_v is None:
            target = batch_df.select(*target_cols).limit(0)
        else:
            target = read_written(
                spark, f"{root}/v={base_v}", batch_df.select(*target_cols).schema
            )
        changes = keep_last(batch_df, keys, order_cols)
        # order_cols makes the MERGE order-robust: a stale change row
        # (older order tuple than the snapshot's) is a no-op, so a
        # reordered/replayed source cannot clobber newer state.
        merged = merge_upsert(
            target, changes, keys, delete_col=delete_col, order_cols=order_cols
        )
        merged.write.mode("overwrite").parquet(f"{root}/v={batch_id}")
        if retain is not None:
            versions = numbered_dirs(spark, path, "v=")
            # Torn writes below this batch are unreadable garbage.
            for v, ok in versions.items():
                if not ok and v < batch_id:
                    delete_path(spark, f"{root}/v={v}")
            committed = sorted(v for v, ok in versions.items() if ok)
            keep = max(retain, 2)
            for v in committed[: max(0, len(committed) - keep)]:
                delete_path(spark, f"{root}/v={v}")

    return write_batch


def run_upsert_sink(
    stream_df: DataFrame,
    path: str,
    checkpoint: str,
    keys: list[str],
    order_cols: list[str],
    delete_col: str | None = None,
    retain: int | None = None,
    timeout: int = 120,
):
    """Drain a bounded stream (availableNow) through the foreachBatch
    MERGE sink; returns the query handle. Read the result with
    ``read_upsert_snapshot``."""
    q = (
        stream_df.writeStream.foreachBatch(
            foreach_batch_upsert_writer(path, keys, order_cols, delete_col, retain)
        )
        .outputMode("update")
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    _await_drain(q, timeout)
    return q


def _await_drain(q, timeout: int) -> None:
    """Wait for an availableNow drain to finish; a timeout means the
    snapshot/output is PARTIAL, so raise instead of letting the caller
    silently read a half-folded result (awaitTermination returns False
    on timeout — the boolean is load-bearing)."""
    finished = q.awaitTermination(timeout)
    if not finished:
        q.stop()
        raise TimeoutError(
            f"streaming drain did not finish within {timeout}s; "
            "output is partial — raise the timeout or check the source"
        )
    q.stop()


def read_upsert_snapshot(spark, path: str, version: int | None = None) -> DataFrame:
    """Snapshot read with time travel: the highest committed ``v=N``
    dir by default, or the exact committed ``version`` when given —
    the same version-pinned read a table format's ``VERSION AS OF``
    serves. Reading a torn (uncommitted) or pruned version raises
    rather than returning partial rows."""
    versions = numbered_dirs(spark, path, "v=")
    if version is None:
        committed = [v for v, ok in versions.items() if ok]
        if not committed:
            raise FileNotFoundError(f"no committed snapshot under {path}")
        v = max(committed)
    else:
        if not versions.get(version, False):
            raise FileNotFoundError(
                f"snapshot v={version} under {path} is "
                + ("uncommitted (torn write)" if version in versions
                   else "absent (never written or pruned)")
            )
        v = version
    return spark.read.parquet(path.rstrip("/") + f"/v={v}")


def list_upsert_versions(spark, path: str) -> list[int]:
    """Committed snapshot versions under ``path``, ascending — the
    time-travel history ``read_upsert_snapshot(version=...)`` accepts."""
    return sorted(v for v, ok in numbered_dirs(spark, path, "v=").items() if ok)


def run_to_parquet_sink(
    stream_df: DataFrame,
    path: str,
    checkpoint: str,
    output_mode: str = "append",
    timeout: int = 120,
):
    """Drain a bounded stream (availableNow) through the idempotent
    foreachBatch parquet sink. The checkpoint dir carries source offsets
    + batch ids — restarting after a crash resumes from the last
    committed batch, and the per-batch-id dirs absorb replays."""
    q = (
        stream_df.writeStream.foreachBatch(foreach_batch_idempotent_writer(path))
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    _await_drain(q, timeout)
    return q


def sliding_distinct_users(
    events: DataFrame,
    window: str = "3 hours",
    slide: str = "1 hour",
    watermark: str = DEFAULT_WATERMARK,
    rsd: float = 0.02,
) -> DataFrame:
    """Streaming rolling reach: approximate distinct users per sliding
    event-time window — the streaming twin of
    ``operators.sliding.sliding_distinct_*`` (a window ending at
    bucket b + slide covers the trailing window/slide buckets).

    Exact COUNT(DISTINCT) is not a supported streaming aggregate (its
    state is the full key set); ``approx_count_distinct`` keeps HLL
    state per open window — fixed size, watermark-bounded, and its
    merge is order-independent, so the result is micro-batch-boundary
    independent and equals the identical batch expression.
    """
    return (
        with_event_time(events)
        .withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"))
        .agg(F.approx_count_distinct("user_id", rsd).alias("u_approx"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "u_approx",
        )
    )


def trend_stats_stream(events: DataFrame) -> DataFrame:
    """Streaming per-(user, event_type) OLS sufficient statistics —
    the incremental twin of ``operators.profile.trend_slope``. The six
    statistics are plain associative sums over exact integers, so
    Structured Streaming's stateful aggregation maintains them with
    six numbers of state per key, updates are micro-batch-boundary
    independent, and the drained result is BIT-IDENTICAL to the batch
    aggregate (hence shares its SQL oracle). Finish with
    ``operators.profile.ols_finish`` on the sink table — the finishing
    projection is stateless and belongs downstream of the store, where
    a dashboard can re-derive slopes from live stats at any time.

    ``wide=True`` is PINNED here even though batch trend_stats now
    defaults to the faster hi/lo-split long layout: a streaming
    aggregate's state schema is part of its checkpoint contract, and
    the wide layout (six decimal sums) is what every checkpoint
    written by earlier releases holds. Switching the streaming twin to
    the 11-accumulator fast layout would fail state-schema validation
    on restart — an upgrade that can't resume is worse than the hi/lo
    speedup, which only pays off at batch scan scale anyway (streaming
    state updates are per-key, not scan-bound).

    Production shape: update mode into an upsert/kv sink keyed by the
    group (state and sink both O(keys)); the memory-sink complete-mode
    drain used in tests is the bounded-stream harness, not the
    deployment pattern.
    """
    from finlogic_spark.operators.profile import trend_stats

    e = with_event_time(events)
    x = F.unix_timestamp(F.col("ts")) - F.unix_timestamp(
        F.lit("2024-01-01 00:00:00").cast("timestamp")
    )
    return trend_stats(e, ["user_id", "event_type"], x, F.col("value"), wide=True)


def read_documents_stream(
    spark, sf_dir: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-source stream over the documents parquet (each file is one
    micro-batch) — the ingest shape of a continuously-arriving corpus.
    Schema comes from a batch peek, same contract as
    read_events_stream."""
    raw_schema = spark.read.parquet(
        sf_dir.rstrip("/") + "/documents.parquet"
    ).schema
    return (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
    )
