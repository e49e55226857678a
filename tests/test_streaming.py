"""Structured Streaming tests: the streaming transforms must agree
with their batch twins (whose correctness the DuckDB oracle pins)."""

from __future__ import annotations

import pytest
from conftest import count_jobs
from pyspark.sql import functions as F

from finlogic_spark import streaming as st
from finlogic_spark.driver_queries import _events


@pytest.fixture(scope="module")
def events_batch(spark, sf_dir):
    return _events(spark, sf_dir)


def _drain(spark, stream_df, name, mode="complete"):
    q = st.run_to_memory_sink(stream_df, name, output_mode=mode)
    out = spark.table(name)
    q.stop()
    return out


def test_tumbling_counts_match_batch(spark, sf_dir, events_batch):
    stream = st.read_events_stream(spark, sf_dir)
    got = _drain(spark, st.tumbling_counts(stream), "t_tumbling")
    batch = (
        events_batch.groupBy(
            F.date_trunc("hour", "ts").alias("window_start"), "event_type"
        )
        .agg(F.count("*").alias("n_events"))
    )
    g = {(r["window_start"], r["event_type"]): r["n_events"] for r in got.collect()}
    b = {(r["window_start"], r["event_type"]): r["n_events"] for r in batch.collect()}
    assert g == b


def test_session_counts_match_batch_session_window(spark, sf_dir, events_batch):
    stream = st.read_events_stream(spark, sf_dir)
    got = _drain(spark, st.session_counts(stream), "t_sessions")
    # Batch twin with the same native session_window operator.
    batch = (
        events_batch.groupBy(
            F.session_window("ts", st.SESSION_GAP).alias("s"), "user_id"
        )
        .agg(F.count("*").alias("n_events"))
        .select("user_id", F.col("s.start").alias("session_start"), "n_events")
    )
    g = {(r["user_id"], r["session_start"]): r["n_events"] for r in got.collect()}
    b = {(r["user_id"], r["session_start"]): r["n_events"] for r in batch.collect()}
    assert g == b
    # Session count per user must also match the lag-gap batch query.
    from finlogic_spark.driver_queries import QUERIES

    lag_based = {
        r["user_id"]: r["n_sessions"]
        for r in QUERIES["events_sessionize"](spark, str(sf_dir)).collect()
    }
    by_user = {}
    for (uid, _), _n in g.items():
        by_user[uid] = by_user.get(uid, 0) + 1
    assert by_user == lag_based


def test_sliding_window_covers_each_event_k_times(spark, sf_dir):
    stream = st.read_events_stream(spark, sf_dir)
    got = _drain(spark, st.sliding_value_avg(stream), "t_sliding")
    rows = got.collect()
    assert rows
    # 1h window sliding by 15min → every event lands in exactly 4 windows.
    total_events = _events(spark, sf_dir).count()
    assert sum(r["n_events"] for r in rows) == 4 * total_events


def test_dedup_stream_bounded_state(spark, sf_dir, events_batch):
    stream = st.read_events_stream(spark, sf_dir)
    got = _drain(spark, st.dedup_stream(stream), "t_dedup", mode="append")
    n_exact = events_batch.select("user_id", "event_type").distinct().count()
    # Within one watermark horizon the stream dedup equals exact dedup.
    assert got.select("user_id", "event_type").distinct().count() == n_exact
    assert got.count() == n_exact


def test_stateful_user_profile_matches_batch(spark, sf_dir, events_batch):
    from finlogic_spark.streaming.stateful import user_profile_stream

    stream = st.read_events_stream(spark, sf_dir)
    out = _drain(spark, user_profile_stream(stream), "user_profiles", mode="update")
    # One micro-batch (one file) → one update row per user, none expired.
    got = {r["user_id"]: r for r in out.collect()}
    exp = {
        r["user_id"]: r
        for r in st.with_event_time(events_batch)
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            # The stateful op accumulates exact integer cents
            # (order-independent across batches); mirror that here.
            (F.sum(F.floor(F.col("value") * 100.0 + F.lit(0.5))) / 100.0).alias(
                "value_sum"
            ),
            F.count_distinct("event_type").alias("n_event_types"),
        )
        .collect()
    }
    assert set(got) == set(exp)
    for uid, e in exp.items():
        g = got[uid]
        assert g["n_events"] == e["n_events"]
        assert g["value_sum"] == e["value_sum"]
        assert g["n_event_types"] == e["n_event_types"]
        assert not g["expired"]


def test_stream_interval_join_matches_batch(spark, sf_dir, events_batch):
    from finlogic_spark.operators.rangejoin import interval_join

    clicks_s = st.read_events_stream(spark, sf_dir).filter(
        F.col("event_type") == "click"
    )
    purch_s = st.read_events_stream(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    )
    got = _drain(
        spark,
        st.stream_interval_join(clicks_s, purch_s),
        "t_ss_join",
        mode="append",
    )
    batch_pairs = interval_join(
        events_batch.filter(F.col("event_type") == "click").select(
            "event_id", "user_id", "ts"
        ),
        events_batch.filter(F.col("event_type") == "purchase").select(
            "user_id", "ts", "value"
        ),
        on="ts",
        by=["user_id"],
        lower=-1800 * 1_000_000,
        upper=0,
        right_cols=["value"],
    )
    g = {(r["event_id"], r["p_ts"]) for r in got.collect()}
    b = {(r["event_id"], r["ts_right"]) for r in batch_pairs.collect()}
    assert g == b


def test_foreach_batch_sink_idempotent_and_matches_batch(
    spark, sf_dir, events_batch, tmp_path
):
    out_dir = str(tmp_path / "out")
    st.run_to_parquet_sink(
        st.tumbling_counts(st.read_events_stream(spark, sf_dir)),
        out_dir,
        str(tmp_path / "ck"),
        output_mode="complete",
    )
    files = spark.read.option("basePath", out_dir).parquet(out_dir)
    last = files.agg(F.max("batch_id")).first()[0]
    got = files.filter(F.col("batch_id") == last)
    batch = events_batch.groupBy(
        F.date_trunc("hour", "ts").alias("window_start"), "event_type"
    ).agg(F.count("*").alias("n_events"))
    g = {(r["window_start"], r["event_type"]): r["n_events"] for r in got.collect()}
    b = {(r["window_start"], r["event_type"]): r["n_events"] for r in batch.collect()}
    assert g == b
    # Replaying a batch id overwrites its directory instead of doubling
    # it. Materialize the replay rows first: a lazy DataFrame over the
    # target dir would be overwritten out from under its own read.
    writer = st.foreach_batch_idempotent_writer(out_dir)
    one = spark.createDataFrame(
        got.drop("batch_id").limit(7).collect()
    )
    writer(one, int(last))
    writer(one, int(last))
    replay = spark.read.option("basePath", out_dir).parquet(out_dir)
    assert replay.filter(F.col("batch_id") == last).count() == 7


def test_upsert_sink_folds_to_keep_last(spark, tmp_path):
    # Three CDC batches applied through the MERGE sink must equal the
    # global keep-last snapshot, with update/insert/delete all hit.
    path, rows_schema = str(tmp_path / "snap"), "k long, v string, seq long"
    writer = st.foreach_batch_upsert_writer(
        path, keys=["k"], order_cols=["seq"], delete_col="is_del"
    )

    def batch(rows):
        return spark.createDataFrame(
            [(k, v, s, d) for k, v, s, d in rows],
            "k long, v string, seq long, is_del boolean",
        )

    writer(batch([(1, "a0", 0, False), (2, "b0", 1, False)]), 0)
    # update 1, insert 3; batch-internal dup on key 3 (seq 4 wins)
    writer(
        batch([(1, "a1", 2, False), (3, "c0", 3, False), (3, "c1", 4, False)]), 1
    )
    # delete 2, update 3
    writer(batch([(2, None, 5, True), (3, "c2", 6, False)]), 2)

    snap = st.read_upsert_snapshot(spark, path)
    got = {r["k"]: (r["v"], r["seq"]) for r in snap.collect()}
    assert got == {1: ("a1", 2), 3: ("c2", 6)}


def test_upsert_sink_reads_its_base_without_inference(spark, tmp_path):
    # A batch with a committed base reads it with the batch's schema:
    # three jobs, one fewer than with parquet schema inference.
    path = str(tmp_path / "snap")
    writer = st.foreach_batch_upsert_writer(path, keys=["k"], order_cols=["seq"])
    schema = "k long, v string, seq long"
    writer(spark.createDataFrame([(1, "a", 0), (2, "b", 1)], schema), 0)
    b1 = spark.createDataFrame([(1, "a1", 2), (3, "c", 3)], schema)
    assert count_jobs(spark, "upsert-batch", lambda: writer(b1, 1)) == 3
    snap = st.read_upsert_snapshot(spark, path)
    assert sorted(map(tuple, snap.collect())) == [(1, "a1", 2), (2, "b", 1), (3, "c", 3)]


def test_upsert_sink_replay_is_idempotent(spark, tmp_path):
    # A replayed batch (same deterministic id after crash recovery)
    # rebuilds its version from the SAME base and overwrites itself.
    path = str(tmp_path / "snap")
    writer = st.foreach_batch_upsert_writer(path, keys=["k"], order_cols=["seq"])
    b0 = spark.createDataFrame([(1, "a", 0), (2, "b", 1)], "k long, v string, seq long")
    b1 = spark.createDataFrame([(1, "a1", 2), (3, "c", 3)], "k long, v string, seq long")
    writer(b0, 0)
    writer(b1, 1)
    before = sorted(map(tuple, st.read_upsert_snapshot(spark, path).collect()))
    writer(b1, 1)  # replay
    after = sorted(map(tuple, st.read_upsert_snapshot(spark, path).collect()))
    assert before == after
    assert {r[0] for r in after} == {1, 2, 3}


def test_upsert_sink_crash_restart_exactly_once(spark, tmp_path):
    """Failure injection across BOTH commit points of a real
    checkpointed stream. The sink has two commit points per batch: the
    snapshot parquet commit (v=N + _SUCCESS) and the streaming
    checkpoint commit (batch N marked done). Two induced crashes:

    - batch 1 dies MID-WRITE (torn v=1, no _SUCCESS marker);
    - batch 2 dies BETWEEN the points (v=2 fully committed, checkpoint
      not), so the restart REPLAYS batch 2 — the at-least-once window
      exactly-once output must absorb.

    After restarting from the same checkpoint, the final snapshot must
    equal the batch twin (global keep-last + delete fold over all CDC
    rows) — no duplicates, no lost changes, torn dir ignored."""
    import os

    import pytest
    from pyspark.errors import StreamingQueryException

    from finlogic_spark.operators.dedup import keep_last
    from finlogic_spark.operators.merge import merge_upsert

    cdc_schema = "k long, v string, seq long, is_del boolean"
    batches = [
        [(1, "a0", 0, False), (2, "b0", 1, False)],
        [(1, "a1", 2, False), (3, "c0", 3, False)],
        [(2, None, 4, True), (3, "c1", 5, False), (4, "d0", 6, False)],
        [(4, "d1", 7, False), (1, None, 8, True)],
    ]
    src = str(tmp_path / "cdc_src")
    os.makedirs(src)
    import glob as _glob

    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, cdc_schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(src + "_tmp")
        part = _glob.glob(src + "_tmp/part-*.parquet")[0]
        os.rename(part, f"{src}/b{i}.parquet")

    path, ck = str(tmp_path / "snap"), str(tmp_path / "ck")
    inner = st.foreach_batch_upsert_writer(
        path, keys=["k"], order_cols=["seq"], delete_col="is_del"
    )
    crash1 = str(tmp_path / "crashed_midwrite")
    crash2 = str(tmp_path / "crashed_between")

    def failing(df, bid):
        if bid == 1 and not os.path.exists(crash1):
            open(crash1, "w").close()
            # torn write: snapshot dir exists, no _SUCCESS — then die
            os.makedirs(f"{path}/v=1", exist_ok=True)
            with open(f"{path}/v=1/part-garbage.parquet", "wb") as f:
                f.write(b"\x00torn")
            raise RuntimeError("induced crash mid-write of v=1")
        inner(df, bid)
        if bid == 2 and not os.path.exists(crash2):
            open(crash2, "w").close()
            raise RuntimeError("induced crash between commit points")

    schema = spark.read.parquet(f"{src}/b0.parquet").schema

    def start():
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(failing)
            .outputMode("update")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )

    for _ in range(2):  # two induced crashes -> two dead queries
        q = start()
        with pytest.raises(StreamingQueryException):
            q.awaitTermination(120)
    q = start()  # final restart drains to completion
    assert q.awaitTermination(120)
    q.stop()

    snap = sorted(
        map(tuple, st.read_upsert_snapshot(spark, path).collect())
    )
    # batch twin: identical merge semantics over ALL rows at once
    all_rows = spark.createDataFrame(
        [r for b in batches for r in b], cdc_schema
    )
    empty = all_rows.select("k", "v", "seq").limit(0)
    twin = sorted(
        map(
            tuple,
            merge_upsert(
                empty,
                keep_last(all_rows, ["k"], ["seq"]),
                ["k"],
                delete_col="is_del",
                order_cols=["seq"],
            ).collect(),
        )
    )
    assert snap == twin
    assert {r[0] for r in snap} == {3, 4}  # 1 and 2 deleted


def test_upsert_sink_ignores_uncommitted_partial_writes(spark, tmp_path):
    # A crash mid-write leaves v=N without _SUCCESS: readers must not
    # serve it, and the replay must rebuild from the last committed base.
    import os
    import shutil

    path = str(tmp_path / "snap")
    writer = st.foreach_batch_upsert_writer(path, keys=["k"], order_cols=["seq"])
    writer(spark.createDataFrame([(1, "a", 0)], "k long, v string, seq long"), 0)
    # simulate the torn write of batch 1
    torn = os.path.join(path, "v=1")
    os.makedirs(torn)
    with open(os.path.join(torn, "part-corrupt.parquet"), "w") as f:
        f.write("not parquet")
    assert st.list_upsert_versions(spark, path)[-1] == 0
    assert {r["k"] for r in st.read_upsert_snapshot(spark, path).collect()} == {1}
    writer(spark.createDataFrame([(2, "b", 1)], "k long, v string, seq long"), 1)
    assert st.list_upsert_versions(spark, path)[-1] == 1
    assert {r["k"] for r in st.read_upsert_snapshot(spark, path).collect()} == {1, 2}
    shutil.rmtree(str(tmp_path / "snap"), ignore_errors=True)


def test_upsert_sink_retain_bounds_versions(spark, tmp_path):
    import os

    path = str(tmp_path / "snap")
    writer = st.foreach_batch_upsert_writer(
        path, keys=["k"], order_cols=["seq"], retain=2
    )
    for i in range(5):
        writer(
            spark.createDataFrame([(i, f"v{i}", i)], "k long, v string, seq long"), i
        )
    kept = sorted(n for n in os.listdir(path) if n.startswith("v="))
    assert kept == ["v=3", "v=4"]
    assert st.read_upsert_snapshot(spark, path).count() == 5


def test_upsert_sink_retain_floor_keeps_replay_base(spark, tmp_path):
    # retain=1 must still keep one committed version strictly below the
    # newest: a checkpoint replay of batch N rebuilds from base v<N, so
    # pruning everything but v=N would silently drop all prior keys on
    # replay (the effective retain floor is 2).
    import os

    path = str(tmp_path / "snap")
    writer = st.foreach_batch_upsert_writer(
        path, keys=["k"], order_cols=["seq"], retain=1
    )
    for i in range(3):
        writer(
            spark.createDataFrame([(i, f"v{i}", i)], "k long, v string, seq long"), i
        )
    kept = sorted(n for n in os.listdir(path) if n.startswith("v="))
    assert kept == ["v=1", "v=2"]
    # Replay of the newest batch finds its base and loses nothing.
    writer(
        spark.createDataFrame([(2, "v2", 2)], "k long, v string, seq long"), 2
    )
    assert st.read_upsert_snapshot(spark, path).count() == 3


def test_upsert_sink_torn_dirs_do_not_consume_retain_budget(spark, tmp_path):
    # A torn (no _SUCCESS) dir must not evict a committed version that
    # replay still needs; it is deleted outright instead.
    import os

    path = str(tmp_path / "snap")
    writer = st.foreach_batch_upsert_writer(
        path, keys=["k"], order_cols=["seq"], retain=2
    )
    writer(spark.createDataFrame([(0, "a", 0)], "k long, v string, seq long"), 0)
    writer(spark.createDataFrame([(1, "b", 1)], "k long, v string, seq long"), 1)
    torn = os.path.join(path, "v=2")
    os.makedirs(torn)
    with open(os.path.join(torn, "part-corrupt.parquet"), "w") as f:
        f.write("not parquet")
    writer(spark.createDataFrame([(3, "c", 3)], "k long, v string, seq long"), 3)
    kept = sorted(n for n in os.listdir(path) if n.startswith("v="))
    # torn v=2 deleted; committed {0,1,3} pruned to newest 2
    assert kept == ["v=1", "v=3"]
    assert st.read_upsert_snapshot(spark, path).count() == 3


def test_upsert_sink_works_on_file_uri_via_hadoop_fs(spark, tmp_path):
    # Version discovery/pruning goes through the Hadoop FileSystem API:
    # a file: URI (which os.listdir/os.path.isdir would reject as a
    # literal path) must work end to end, proving the sink is not
    # coupled to the driver's POSIX view of the store.
    import os

    local = str(tmp_path / "snap")
    uri = "file://" + local
    writer = st.foreach_batch_upsert_writer(
        uri, keys=["k"], order_cols=["seq"], retain=2
    )
    for i in range(4):
        writer(
            spark.createDataFrame([(i, f"v{i}", i)], "k long, v string, seq long"), i
        )
    assert not os.path.isdir(uri)  # the URI is not a POSIX path
    assert st.list_upsert_versions(spark, uri)[-1] == 3
    kept = sorted(n for n in os.listdir(local) if n.startswith("v="))
    assert kept == ["v=2", "v=3"]
    snap = st.read_upsert_snapshot(spark, uri)
    assert snap.count() == 4


def test_stream_resample_ffill_across_batch_boundaries(spark, tmp_path):
    """The stateful gap-fill must produce the batch operator's exact
    output even when the stream splits mid-series: the open bucket at
    the boundary is finalized by the next batch's events, and gap rows
    spanning the boundary carry the pre-boundary average."""
    import pandas as pd

    from finlogic_spark.operators.dedup import keep_last
    from finlogic_spark.operators.resample import resample_ffill
    from finlogic_spark.streaming import (
        read_events_stream,
        run_to_memory_sink,
    )
    from finlogic_spark.streaming.stateful import resample_ffill_stream
    from pyspark.sql import functions as F

    def ev(uid, ts, val, eid):
        return (eid, pd.Timestamp(ts).value, uid, "click", val, "{}")

    # batch 1: hours 0 (two events -> avg) and 1; batch 2: hour 4
    # (closes hour 1, emits gaps 2-3) plus a LATE hour-0 event (dropped)
    b1 = [ev(1, "2024-01-01 00:10:00", 10.0, 1),
          ev(1, "2024-01-01 00:40:00", 20.0, 2),
          ev(1, "2024-01-01 01:30:00", 30.0, 3)]
    b2 = [ev(1, "2024-01-01 04:05:00", 50.0, 4),
          ev(1, "2024-01-01 00:59:00", 999.0, 5)]  # late, below open bucket
    cols = "event_id long, ts long, user_id long, event_type string, value double, props string"
    d = str(tmp_path / "stream_src")
    import glob as _glob
    import os as _os
    _os.makedirs(d)
    # two files -> two micro-batches (maxFilesPerTrigger=1), written in
    # lexicographic = chronological order like the CDC staging layout
    for name, batch in (("b1", b1), ("b2", b2)):
        spark.createDataFrame(batch, cols).coalesce(1).write.mode(
            "overwrite"
        ).parquet(d + "_tmp")
        part = _glob.glob(d + "_tmp/part-*.parquet")[0]
        _os.rename(part, f"{d}/{name}.parquet")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(f"{d}/b1.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )

    handle = run_to_memory_sink(
        resample_ffill_stream(stream), "q_test_resample", output_mode="update"
    )
    handle.stop()
    rows = keep_last(
        spark.table("q_test_resample"), ["key", "bucket_ts"], ["n_obs"]
    )
    got = {(r.key, r.bucket_ts.hour): (r.val, r.is_gap)
           for r in rows.collect()}
    assert got[(1, 0)] == (15.0, False)   # late 999 NOT folded in
    assert got[(1, 1)] == (30.0, False)
    assert got[(1, 2)] == (30.0, True)
    assert got[(1, 3)] == (30.0, True)
    assert got[(1, 4)] == (50.0, False)
    assert len(got) == 5
    # the drop is observable, not silent: the key's cumulative late
    # counter reaches 1 (so batch-twin comparisons can gate on it)
    max_late = (
        spark.table("q_test_resample").agg(F.max("n_late")).first()[0]
    )
    assert max_late == 1


def test_stream_resample_ffill_unordered_input_surfaces_late_and_gates(
    spark, tmp_path
):
    """Deliberately OUT-OF-ORDER delivery across micro-batches (a later
    hour's file lands before earlier hours): the stateful gap-fill must
    (a) drop the below-open-bucket events but surface the drop via
    n_late > 0 on the key's emissions — never silently — and (b) the
    registry's batch-twin gate (assert_no_late_drops, the exact code
    stream_resample_ffill runs before comparing against its SQL oracle)
    must refuse the comparison with a pointed error instead of letting
    a value-hash mismatch surface with no cause attached."""
    import glob as _glob
    import os as _os

    import pandas as pd
    import pytest

    from finlogic_spark.streaming import run_to_memory_sink
    from finlogic_spark.streaming.stateful import (
        assert_no_late_drops,
        resample_ffill_stream,
    )
    from pyspark.sql import functions as F

    def ev(uid, ts, val, eid):
        return (eid, pd.Timestamp(ts).value, uid, "click", val, "{}")

    # File "a" (first micro-batch) carries hour 4; file "b" (second)
    # carries hours 0 and 1 — both BELOW the by-then-open bucket 4.
    early = [ev(1, "2024-01-01 00:10:00", 10.0, 1),
             ev(1, "2024-01-01 01:30:00", 30.0, 2)]
    late_file_first = [ev(1, "2024-01-01 04:05:00", 50.0, 3)]
    cols = ("event_id long, ts long, user_id long, event_type string, "
            "value double, props string")
    d = str(tmp_path / "unordered_src")
    _os.makedirs(d)
    for name, batch in (("a", late_file_first), ("b", early)):
        spark.createDataFrame(batch, cols).coalesce(1).write.mode(
            "overwrite"
        ).parquet(d + "_tmp")
        part = _glob.glob(d + "_tmp/part-*.parquet")[0]
        _os.rename(part, f"{d}/{name}.parquet")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = spark.read.parquet(f"{d}/a.parquet").schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    handle = run_to_memory_sink(
        resample_ffill_stream(stream), "q_test_unordered",
        output_mode="update",
    )
    handle.stop()
    rows = spark.table("q_test_unordered")
    # (a) both early events were dropped, and the drop is OBSERVABLE:
    max_late = rows.agg(F.max("n_late")).first()[0]
    assert max_late == 2, rows.collect()
    # only hour 4 ever materialized — the dropped hours produced
    # neither data rows nor gap rows
    assert {r.bucket_ts.hour for r in rows.collect()} == {4}
    # (b) the oracle comparison is gated OFF with a cause, not left to
    # hash-mismatch:
    with pytest.raises(AssertionError, match="2 late event"):
        assert_no_late_drops(rows)


def test_sliding_distinct_stream_matches_batch_and_exact(spark, sf_dir, events_batch):
    # Streaming HLL sliding reach == the identical batch expression
    # (order-independent sketch merge), and within the documented
    # error of the exact per-window distinct count.
    stream = st.read_events_stream(spark, sf_dir)
    got = _drain(
        spark, st.sliding_distinct_users(stream), "t_sliding_distinct"
    )
    batch = (
        events_batch.groupBy(F.window("ts", "3 hours", "1 hour").alias("w"))
        .agg(F.approx_count_distinct("user_id", 0.02).alias("u_approx"))
        .select(F.col("w.start").alias("window_start"), "u_approx")
    )
    g = {r["window_start"]: r["u_approx"] for r in got.collect()}
    b = {r["window_start"]: r["u_approx"] for r in batch.collect()}
    assert g == b
    exact = {
        r["ws"]: r["n"]
        for r in events_batch.groupBy(
            F.window("ts", "3 hours", "1 hour")["start"].alias("ws")
        )
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert g.keys() == exact.keys()
    for ws, est in g.items():
        assert abs(est - exact[ws]) <= max(2, 0.06 * exact[ws]), (
            ws, est, exact[ws],
        )


def test_stream_trend_stats_match_batch(spark, sf_dir, events_batch):
    """The OLS sufficient statistics are associative integer sums, so
    the streaming stateful aggregation must be BIT-identical to the
    batch aggregate regardless of micro-batch boundaries — the parity
    claim stream_trend_slope's shared oracle rests on."""
    from pyspark.sql import functions as F

    from finlogic_spark.operators.profile import ols_finish, trend_stats

    stream = st.read_events_stream(spark, sf_dir)
    got = _drain(
        spark, st.trend_stats_stream(stream), "t_trend_stats"
    )
    x = F.unix_timestamp(F.col("ts")) - F.unix_timestamp(
        F.lit("2024-01-01 00:00:00").cast("timestamp")
    )
    want = trend_stats(
        events_batch, ["user_id", "event_type"], x, F.col("value")
    )
    key = lambda r: (r["user_id"], r["event_type"])  # noqa: E731
    g = {key(r): r.asDict() for r in got.collect()}
    w = {key(r): r.asDict() for r in want.collect()}
    assert g == w
    # and the finished slopes agree end-to-end
    fg = sorted(map(tuple, ols_finish(got, ["user_id", "event_type"]).collect()))
    fw = sorted(map(tuple, ols_finish(want, ["user_id", "event_type"]).collect()))
    assert fg == fw


def test_trend_stats_upsert_sink_crash_restart_exactly_once(spark, tmp_path):
    """Production shape for the streaming trend twin (VERDICT r9 item):
    trend_stats_stream in update mode draining into the upsert/kv sink,
    under the SAME two-commit-point failure injection as the CDC upsert
    test — batch 1 dies mid-write (torn v=1, no _SUCCESS), batch 2 dies
    between the snapshot commit and the checkpoint commit (so the
    restart REPLAYS batch 2). The stateful aggregation's state lives in
    the streaming checkpoint, so the replayed batch re-emits the same
    cumulative stats and the overwrite-by-batch-id sink absorbs the
    at-least-once window. Final stats table must be exactly-once: equal
    to the batch trend_stats twin over all events, and ols_finish over
    the live snapshot must equal the batch slopes."""
    import datetime as dt
    import glob as _glob
    import os

    from pyspark.errors import StreamingQueryException

    from finlogic_spark.operators.profile import ols_finish, trend_stats

    schema = "ts timestamp, user_id long, event_type string, value double"
    t0 = dt.datetime(2024, 1, 1)

    def ev(minutes, uid, etype, value):
        return (t0 + dt.timedelta(minutes=minutes), uid, etype, value)

    batches = [
        [ev(0, 1, "click", 1.0), ev(10, 1, "click", 2.0), ev(0, 2, "view", 5.0)],
        [ev(20, 1, "click", 2.5), ev(5, 2, "view", 4.0), ev(0, 3, "buy", 9.0)],
        [ev(30, 1, "click", 4.0), ev(10, 2, "view", 3.5), ev(15, 3, "buy", 8.0)],
        [ev(40, 1, "click", 4.5), ev(15, 2, "view", 3.0), ev(1, 4, "click", 7.0)],
    ]
    src = str(tmp_path / "ev_src")
    os.makedirs(src)
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(src + "_tmp")
        part = _glob.glob(src + "_tmp/part-*.parquet")[0]
        os.rename(part, f"{src}/b{i}.parquet")

    path, ck = str(tmp_path / "trend_snap"), str(tmp_path / "trend_ck")
    keys = ["user_id", "event_type"]
    # n is monotone per key under cumulative stateful aggregation, so
    # it is the natural order column: a stale replayed row can never
    # clobber a newer aggregate.
    inner = st.foreach_batch_upsert_writer(path, keys=keys, order_cols=["n"])
    crash1 = str(tmp_path / "crashed_midwrite")
    crash2 = str(tmp_path / "crashed_between")

    def failing(df, bid):
        if bid == 1 and not os.path.exists(crash1):
            open(crash1, "w").close()
            os.makedirs(f"{path}/v=1", exist_ok=True)
            with open(f"{path}/v=1/part-garbage.parquet", "wb") as f:
                f.write(b"\x00torn")
            raise RuntimeError("induced crash mid-write of v=1")
        inner(df, bid)
        if bid == 2 and not os.path.exists(crash2):
            open(crash2, "w").close()
            raise RuntimeError("induced crash between commit points")

    file_schema = spark.read.parquet(f"{src}/b0.parquet").schema

    def start():
        stream = (
            spark.readStream.schema(file_schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        return (
            st.trend_stats_stream(stream)
            .writeStream.foreachBatch(failing)
            .outputMode("update")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )

    for _ in range(2):  # two induced crashes -> two dead queries
        q = start()
        with pytest.raises(StreamingQueryException):
            q.awaitTermination(120)
    q = start()  # final restart drains to completion
    assert q.awaitTermination(120)
    q.stop()

    snap = st.read_upsert_snapshot(spark, path)
    x = F.unix_timestamp(F.col("ts")) - F.unix_timestamp(
        F.lit("2024-01-01 00:00:00").cast("timestamp")
    )
    all_rows = spark.createDataFrame(
        [r for b in batches for r in b], schema
    )
    want = trend_stats(all_rows, keys, x, F.col("value"))
    key = lambda r: (r["user_id"], r["event_type"])  # noqa: E731
    g = {key(r): r.asDict() for r in snap.collect()}
    w = {key(r): r.asDict() for r in want.collect()}
    assert g == w  # exactly-once: no double counts, no lost batches
    fg = sorted(map(tuple, ols_finish(snap, keys).collect()))
    fw = sorted(map(tuple, ols_finish(want, keys).collect()))
    assert fg == fw


def test_parquet_sink_matches_memory_sink_update_mode(spark, sf_dir):
    """drain_stream_to_df (the scale-safe registry drain — executor
    parquet writes, nothing through the driver) must produce exactly
    the rows the memory sink collects, update mode included."""
    from finlogic_spark.streaming.stateful import user_profile_stream

    via_mem = _drain(
        spark,
        user_profile_stream(st.read_events_stream(spark, sf_dir)),
        "q_sink_parity_mem",
        mode="update",
    )
    via_pq = st.drain_stream_to_df(
        user_profile_stream(st.read_events_stream(spark, sf_dir)),
        output_mode="update",
    )
    assert via_pq.schema == via_mem.schema
    assert sorted(map(tuple, via_pq.collect())) == sorted(
        map(tuple, via_mem.collect())
    )


def test_parquet_sink_complete_mode_keeps_last_batch_only(spark, sf_dir):
    via_mem = _drain(
        spark,
        st.tumbling_counts(st.read_events_stream(spark, sf_dir)),
        "q_sink_parity_complete",
        mode="complete",
    )
    via_pq = st.drain_stream_to_df(
        st.tumbling_counts(st.read_events_stream(spark, sf_dir)),
        output_mode="complete",
    )
    # complete mode: memory sink holds the final snapshot; the parquet
    # sink must read back ONLY the final batch directory (the union
    # would duplicate every earlier re-emission)
    assert sorted(map(tuple, via_pq.collect())) == sorted(
        map(tuple, via_mem.collect())
    )


def test_parquet_sink_empty_source_returns_empty_frame(spark, sf_dir):
    stream = st.read_events_stream(spark, sf_dir).filter(F.lit(False))
    out = st.drain_stream_to_df(
        st.tumbling_counts(stream), output_mode="complete"
    )
    assert out.count() == 0


def test_parquet_sink_refuses_stale_path(spark, sf_dir, tmp_path):
    """Reusing an explicit drain path would resume the old checkpoint
    offsets AND union the old run's batch_id dirs into the read-back —
    silent duplicated/stale rows. The drain must refuse up front."""
    import pytest

    stream = st.tumbling_counts(st.read_events_stream(spark, sf_dir))
    sink = tmp_path / "drain_out"
    (sink / "batch_id=0").mkdir(parents=True)
    with pytest.raises(ValueError, match="previous run"):
        st.drain_stream_to_df(stream, path=str(sink))
    # a leftover checkpoint alone (output cleared, offsets not) is just
    # as unsafe: the resumed query would skip the source entirely
    sink2 = tmp_path / "drain_out2"
    (tmp_path / "drain_out2_ckpt").mkdir()
    with pytest.raises(ValueError, match="previous run"):
        st.drain_stream_to_df(stream, path=str(sink2))
    # a file: URI names the same directories; the guard lists them
    # through the Hadoop FileSystem, not the driver's POSIX view
    for stale in (sink, sink2):
        with pytest.raises(ValueError, match="previous run"):
            st.drain_stream_to_df(stream, path="file://" + str(stale))


@pytest.mark.parametrize("mode", ["update", "complete"])
def test_parquet_sink_drains_file_uri_like_plain_path(spark, sf_dir, tmp_path, mode):
    """A ``file:`` URI drain returns the rows of a plain-path drain: the
    batches are listed through the Hadoop FileSystem (a driver-side
    os.listdir takes the URI for a missing directory and returns no
    rows)."""

    def drain(path):
        stream = st.tumbling_counts(st.read_events_stream(spark, sf_dir))
        out = st.drain_stream_to_df(stream, path=path, output_mode=mode)
        return sorted(map(tuple, out.collect()))

    plain = drain(str(tmp_path / "plain"))
    assert plain
    assert drain("file://" + str(tmp_path / "uri")) == plain


def test_parquet_sink_read_back_runs_no_inference_job(spark, sf_dir):
    """The drained batches are read back with the stream's schema: the
    drain call itself runs no Spark job on the caller's thread (the
    micro-batches run under the stream's own job group). An inferring
    read-back costs one job here."""
    stream = st.tumbling_counts(st.read_events_stream(spark, sf_dir))
    out = []
    n = count_jobs(
        spark, "drain-read-back", lambda: out.append(st.drain_stream_to_df(stream))
    )
    assert n == 0, n
    assert out[0].count() > 0


def test_stream_kll_state_carries_across_batches(spark, tmp_path):
    """KLL sketch as streaming aggregate state: three files -> three
    micro-batches; the final emission per key must reflect ALL rows
    (the sketch round-trips through the state store) and land inside
    the exact rank band."""
    import numpy as np

    from finlogic_spark.streaming import drain_stream_to_df
    from finlogic_spark.streaming.stateful import kll_quantiles_stream

    rng = np.random.RandomState(53)
    src = tmp_path / "stream_src"
    all_vals: dict[str, list[float]] = {"a": [], "b": []}
    eid = 0
    for part in range(3):
        rows = []
        for g in ("a", "b"):
            vals = rng.lognormal(1.0, 1.0, 2000)
            all_vals[g].extend(float(v) for v in vals)
            for v in vals:
                rows.append((eid, 1700000000000000000 + eid, 1, g, float(v), "{}"))
                eid += 1
        spark.createDataFrame(
            rows,
            "event_id long, ts long, user_id long, event_type string, "
            "value double, props string",
        ).coalesce(1).write.parquet(str(src / f"part{part}"))
    import glob as _glob
    import shutil as _shutil

    for i, f in enumerate(sorted(_glob.glob(str(src / "part*" / "*.parquet")))):
        _shutil.copy(f, str(src / f"events_{i}.parquet"))
    stream = (
        spark.readStream.schema(
            spark.read.parquet(str(src / "part0")).schema
        )
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "events_*.parquet")
        .parquet(str(src))
    )
    out = drain_stream_to_df(kll_quantiles_stream(stream), output_mode="update")
    rows = out.collect()
    # 3 batches x 2 keys = up to 6 emissions; final per key has n=6000
    finals = {}
    for r in rows:
        if r["event_type"] not in finals or r["n"] > finals[r["event_type"]]["n"]:
            finals[r["event_type"]] = r
    assert set(finals) == {"a", "b"}
    for g, r in finals.items():
        vals = np.array(all_vals[g])
        assert r["n"] == vals.size  # state survived every batch boundary
        for p, est in ((0.5, r["kll_p50"]), (0.99, r["kll_p99"])):
            n = vals.size
            lo = np.sum(vals < est) / n
            hi = np.sum(vals <= est) / n
            assert lo <= p + 0.02 and hi >= p - 0.02, (g, p)
    assert len(rows) > len(finals)  # genuinely multiple emissions per key


def test_resample_update_vectorized_matches_per_event_reference():
    """r17: the vectorized _resample_update (np.unique + add.reduceat
    + repeat) must reproduce the original per-event fold EXACTLY —
    same emitted rows (values bit-equal), same state after every
    invocation — across randomized multi-invocation scenarios that
    cover state carry-over, bucket-extension vs bucket-close at the
    batch boundary, multi-hour gaps, late events (dropped + counted),
    all-late batches, and empty batches. Pure-Python: drives the
    update function directly with a fake GroupState."""
    import numpy as np
    import pandas as pd

    from finlogic_spark.streaming.stateful import _HOUR_US, _resample_update

    def reference(key, pdfs, state):
        (user_id,) = key
        hour_us, sum_cents, n, late = (
            state.get if state.exists else (-1, 0, 0, 0)
        )
        out = []
        chunks = [p for p in pdfs if len(p)]
        if not chunks:
            state.update((hour_us, sum_cents, n, late))
            return
        events = pd.concat(chunks, ignore_index=True)
        events = events.sort_values(["ts", "event_id"], kind="stable")
        ts_us = pd.to_datetime(events["ts"]).astype("int64") // 1000
        ev_hour_us = (ts_us // _HOUR_US) * _HOUR_US
        cents = np.floor(
            events["value"].to_numpy() * 100.0 + 0.5
        ).astype("int64")
        for h, c in zip(ev_hour_us.to_numpy(), cents):
            h = int(h)
            if hour_us == -1:
                hour_us, sum_cents, n = h, 0, 0
            if h < hour_us:
                late += 1
                continue
            if h > hour_us:
                fill = (sum_cents / 100.0) / n
                out.append({"key": user_id, "hour_us": hour_us,
                            "val": fill, "is_gap": False, "n_obs": n})
                for gap in range(hour_us + _HOUR_US, h, _HOUR_US):
                    out.append({"key": user_id, "hour_us": gap,
                                "val": fill, "is_gap": True, "n_obs": 0})
                hour_us, sum_cents, n = h, 0, 0
            sum_cents += int(c)
            n += 1
        state.update((hour_us, sum_cents, n, late))
        if n > 0:
            out.append({"key": user_id, "hour_us": hour_us,
                        "val": (sum_cents / 100.0) / n,
                        "is_gap": False, "n_obs": n})
        if out:
            pdf = pd.DataFrame(out)
            pdf["bucket_ts"] = pd.to_datetime(pdf.pop("hour_us"), unit="us")
            pdf["n_late"] = int(late)
            yield pdf[["key", "bucket_ts", "val", "is_gap", "n_obs",
                       "n_late"]]

    class FakeState:
        def __init__(self):
            self.exists = False
            self._v = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = tuple(v)
            self.exists = True

    def collect(fn, batches, state):
        frames = []
        for batch in batches:
            frames.extend(fn((7,), iter(batch), state))
        if not frames:
            return pd.DataFrame(
                columns=["key", "bucket_ts", "val", "is_gap", "n_obs",
                         "n_late"]
            )
        return pd.concat(frames, ignore_index=True)

    rng = np.random.RandomState(41)
    base = pd.Timestamp("2024-03-01").value // 1000
    for trial in range(20):
        # random event stream split into random micro-batches; later
        # batches sometimes rewind below the open bucket (late data)
        n_ev = int(rng.randint(1, 120))
        hours = np.cumsum(rng.randint(0, 4, size=n_ev))  # gaps of 0-3h
        if trial % 3 == 0 and n_ev > 5:
            hours[-3:] = 0  # stragglers far below the open bucket
        ts = base + hours * _HOUR_US + rng.randint(0, _HOUR_US, size=n_ev)
        vals = np.round(rng.rand(n_ev) * 50, 3)
        rows = pd.DataFrame(
            {
                "user_id": 7,
                "ts": pd.to_datetime(ts, unit="us"),
                "value": vals,
                "event_id": np.arange(n_ev),
            }
        )
        cuts = sorted(
            rng.choice(n_ev, size=min(3, n_ev - 1), replace=False)
        ) if n_ev > 3 else [n_ev]
        batches = []
        prev = 0
        for c in list(cuts) + [n_ev]:
            part = rows.iloc[prev:c]
            batches.append([part] if len(part) else [])
            prev = c
        batches.append([])  # trailing empty batch
        s_ref, s_vec = FakeState(), FakeState()
        got_ref = collect(reference, batches, s_ref)
        got_vec = collect(_resample_update, batches, s_vec)
        assert s_ref._v == s_vec._v, (trial, s_ref._v, s_vec._v)
        assert len(got_ref) == len(got_vec), trial
        # every (key, bucket_ts) is unique within an invocation (gap
        # hours lie strictly between bucket hours), so row order within
        # the emitted frame is immaterial to the keep-last consumer —
        # compare as sorted sets of full rows, values bit-equal
        key_cols = ["bucket_ts", "n_obs"]
        got_ref = got_ref.sort_values(key_cols, ignore_index=True)
        got_vec = got_vec.sort_values(key_cols, ignore_index=True)
        for col in ["key", "bucket_ts", "val", "is_gap", "n_obs",
                    "n_late"]:
            assert (
                got_ref[col].to_numpy() == got_vec[col].to_numpy()
            ).all(), (trial, col)
