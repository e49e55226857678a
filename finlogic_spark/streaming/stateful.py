"""Stateful streaming operators (engine-scope addition — the reference
has no streaming, SURVEY.md §2.10; north-star surface:
"applyInPandasWithState for custom stateful operators").

The built-in windowed aggregations (see ``finlogic_spark.streaming``)
cover tumbling/sliding/session semantics natively. This module covers
two further shapes:

- per-key state machines with arbitrary Python logic, through
  ``applyInPandasWithState``: a per-user running profile with idle-key
  expiry, the hourly resample gap-fill, and sharded Misra-Gries token
  summaries;
- streaming sketches (KLL quantiles, HLL distinct counts), which need
  no Python at all: an update-mode ``groupBy().agg`` over Spark's
  built-in DataSketches aggregates keeps one sketch per key in the
  state store.

Scale notes: state is partitioned by key across executors (shuffled by
key) and is O(active keys), not O(events) — the same layout Flink
calls keyed state.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

# (count, value_cents, last_seen_micros, type_bitmask). The value sum is
# kept as integral cents (floor(v*100+0.5) per event) so accumulation is
# exact and order-independent — a float running sum would drift with
# batch/partition order and break the driver's batch-twin value hash.
STATE_SCHEMA = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("value_cents", T.LongType()),
        T.StructField("last_seen", T.LongType()),
        T.StructField("type_mask", T.LongType()),
    ]
)

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("value_sum", T.DoubleType()),
        T.StructField("n_event_types", T.IntegerType()),
        T.StructField("expired", T.BooleanType()),
    ]
)

# Stable small vocabulary → bit positions; unknown types share bit 63.
EVENT_TYPE_BITS = {"click": 0, "view": 1, "purchase": 2, "signup": 3, "error": 4}


def _make_update_user_profile(idle_timeout_ms: int | None):
    def _update_user_profile(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        return _update_profile_impl(key, pdfs, state, idle_timeout_ms)

    return _update_user_profile


def _update_profile_impl(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
    idle_timeout_ms: int | None,
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    if state.hasTimedOut:
        n, cents, _last, mask = state.get
        state.remove()
        yield pd.DataFrame(
            [
                {
                    "user_id": user_id,
                    "n_events": n,
                    "value_sum": cents / 100.0,
                    "n_event_types": bin(mask).count("1"),
                    "expired": True,
                }
            ]
        )
        return

    n, cents, last_seen, mask = (
        state.get if state.exists else (0, 0, 0, 0)
    )
    for pdf in pdfs:
        n += len(pdf)
        vals = pdf["value"].dropna()
        # floor(v*100+0.5) is exact integer arithmetic in float64 —
        # summing integers is order-independent (unlike summing doubles).
        cents += int(np.floor(vals.to_numpy() * 100.0 + 0.5).sum())
        last_seen = max(
            last_seen, int(pd.to_datetime(pdf["ts"]).astype("int64").max() // 1000)
        )
        for et in pdf["event_type"]:
            mask |= 1 << EVENT_TYPE_BITS.get(et, 63)
    state.update((n, cents, last_seen, mask))
    if idle_timeout_ms is not None:
        state.setTimeoutDuration(idle_timeout_ms)  # expire idle keys
    yield pd.DataFrame(
        [
            {
                "user_id": user_id,
                "n_events": n,
                "value_sum": cents / 100.0,
                "n_event_types": bin(mask).count("1"),
                "expired": False,
            }
        ]
    )


def user_profile_stream(
    events: DataFrame, idle_timeout_ms: int | None = None
) -> DataFrame:
    """Running per-user profile over an event stream: arbitrary keyed
    state the built-in windowed aggs can't express (cross-batch
    accumulation + custom merge logic + idle-key expiry).

    ``idle_timeout_ms`` arms processing-time expiry for idle keys —
    for CONTINUOUS deployments only. Bounded drains (availableNow)
    must leave it None: armed processing-time timers make Spark loop
    "no new data but cleaning up state" no-data batches until the
    timers fire, so an availableNow query with pending 1h timers
    never terminates (observed: ~1 no-data batch/second, forever)."""
    from finlogic_spark.streaming import with_event_time

    timeout_conf = (
        GroupStateTimeout.NoTimeout
        if idle_timeout_ms is None
        else GroupStateTimeout.ProcessingTimeTimeout
    )
    return (
        with_event_time(events)
        .groupBy("user_id")
        .applyInPandasWithState(
            _make_update_user_profile(idle_timeout_ms),
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=timeout_conf,
        )
    )


# ---------------------------------------------------------------------------
# Streaming time-series gap-fill: the stateful twin of
# operators/resample.py (hypertable gapfill on an unbounded stream).
# ---------------------------------------------------------------------------

# Open-bucket state per key: (bucket start micros, exact cent sum,
# event count, cumulative dropped-late count). Gap rows need no
# carried value — they are emitted at bucket-close time from the
# just-finalized average.
#
# CHECKPOINT COMPATIBILITY: applyInPandasWithState does NOT support
# state-schema evolution. The 'late' field was ADDED in round 7 —
# resuming a checkpoint written by the pre-'late' 3-field schema with
# this 4-field schema fails (or misreads state). Deployments with
# durable checkpoints must start a NEW checkpoint location when this
# schema changes; treat any edit to RESAMPLE_STATE_SCHEMA as a
# state-format version bump requiring a fresh checkpoint dir.
#
# The same holds for kll_quantiles_stream and hll_distinct_stream:
# their state moved from applyInPandasWithState structs (Python KLL
# levels, PyHLL registers) to the streaming aggregate's DataSketches
# buffers, so checkpoints written before that change cannot be
# resumed — start those queries on a fresh checkpoint location.
RESAMPLE_STATE_SCHEMA = T.StructType(
    [
        T.StructField("hour_us", T.LongType()),
        T.StructField("sum_cents", T.LongType()),
        T.StructField("n", T.LongType()),
        T.StructField("late", T.LongType()),
    ]
)

RESAMPLE_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("key", T.LongType()),
        T.StructField("bucket_ts", T.TimestampType()),
        T.StructField("val", T.DoubleType()),
        T.StructField("is_gap", T.BooleanType()),
        T.StructField("n_obs", T.LongType()),
        T.StructField("n_late", T.LongType()),
    ]
)

_HOUR_US = 3_600_000_000


def _bucket_avg(sum_cents: int, n: int) -> float:
    # identical fold order to the batch twin: (cents / 100.0) / n
    return (sum_cents / 100.0) / n


def _resample_update(
    key: tuple,
    pdfs: "Iterator[pd.DataFrame]",
    state: "GroupState",
) -> "Iterator[pd.DataFrame]":
    """Per-key hourly resample + forward-fill. Events are folded into
    the open hour bucket; an event in a LATER hour closes the bucket
    (emit final avg), emits one gap row per empty hour carrying that
    avg, and opens the new bucket. The still-open bucket is emitted
    tentatively each invocation (update mode) — its event count n_obs
    is monotonic per (key, hour), so keep-last-by-n_obs collapses the
    emissions to the final value regardless of micro-batch boundaries.
    LATE DATA CONTRACT: an event whose hour is below the open bucket
    is dropped (the watermark discipline of every windowed op in this
    module) — the batch twin folds ALL events in, so drops mean the
    two diverge. Within one invocation events are sorted by ts, so
    lateness only arises when hours arrive out of order ACROSS
    micro-batches for the same key (e.g. an unordered multi-file
    source). Drops are NOT silent: every emitted row carries
    ``n_late``, the key's cumulative dropped-event count, so a
    batch-twin comparison can first assert max(n_late) == 0 (see
    driver_queries.stream_resample_ffill)."""
    (user_id,) = key
    hour_us0, sum0, n0, late = (
        state.get if state.exists else (-1, 0, 0, 0)
    )
    chunks = [p for p in pdfs if len(p)]
    if not chunks:
        state.update((hour_us0, sum0, n0, late))
        return
    events = pd.concat(chunks, ignore_index=True)
    events = events.sort_values(["ts", "event_id"], kind="stable")
    ts_us = pd.to_datetime(events["ts"]).astype("int64") // 1000
    ev_hour = ((ts_us // _HOUR_US) * _HOUR_US).to_numpy()
    cents = np.floor(events["value"].to_numpy() * 100.0 + 0.5).astype(
        "int64"
    )
    # r17 (guide §4): the fold used to be a per-EVENT Python loop —
    # 2.6x slower than this vectorized form at 2M events/key, and the
    # loop is the part that grows with data. Emission semantics are
    # bit-identical (pinned against the per-event reference in
    # tests/test_streaming_ops.py): events are sorted, so lateness can
    # only arise against the state's open bucket, and the per-hour
    # chain is (state bucket ⊕ this batch's hours) ascending.
    if hour_us0 != -1:
        late_mask = ev_hour < hour_us0
        n_late_new = int(late_mask.sum())
        if n_late_new:
            late += n_late_new  # late data: below the open bucket
            keep = ~late_mask
            ev_hour = ev_hour[keep]
            cents = cents[keep]
    if ev_hour.size:
        uh, starts = np.unique(ev_hour, return_index=True)
        sums = np.add.reduceat(cents, starts)
        cnts = np.diff(np.append(starts, len(cents))).astype("int64")
        if hour_us0 != -1:
            if uh[0] == hour_us0:  # batch extends the open bucket
                sums[0] += sum0
                cnts[0] += n0
            else:  # open bucket closes strictly before the batch
                uh = np.concatenate(([hour_us0], uh))
                sums = np.concatenate(([sum0], sums))
                cnts = np.concatenate(([n0], cnts))
    elif hour_us0 != -1:
        # every event was late: the open bucket alone re-emits
        # tentatively (the late count moved, so n_late must surface)
        uh = np.array([hour_us0], dtype="int64")
        sums = np.array([sum0], dtype="int64")
        cnts = np.array([n0], dtype="int64")
    else:
        state.update((hour_us0, sum0, n0, late))
        return
    # identical fold order to the batch twin: (cents / 100.0) / n —
    # int64 -> float64 then two IEEE divisions, same as _bucket_avg
    avg = (sums / 100.0) / cnts
    k = len(uh)
    state.update((int(uh[-1]), int(sums[-1]), int(cnts[-1]), late))
    parts_h, parts_v, parts_g, parts_n = [], [], [], []
    if k > 1:  # all buckets but the last are CLOSED: final emission
        parts_h.append(uh[:-1])
        parts_v.append(avg[:-1])
        parts_g.append(np.zeros(k - 1, dtype=bool))
        parts_n.append(cnts[:-1])
        # gap rows: hours strictly between consecutive buckets carry
        # the CLOSED bucket's average forward
        gap_counts = (uh[1:] - uh[:-1]) // _HOUR_US - 1
        total = int(gap_counts.sum())
        if total > 0:
            reps = np.repeat(np.arange(k - 1), gap_counts)
            idx = np.arange(total) - np.repeat(
                np.cumsum(gap_counts) - gap_counts, gap_counts
            )
            parts_h.append(uh[reps] + (idx + 1) * _HOUR_US)
            parts_v.append(avg[reps])
            parts_g.append(np.ones(total, dtype=bool))
            parts_n.append(np.zeros(total, dtype="int64"))
    if cnts[-1] > 0:  # tentative emission of the open bucket
        parts_h.append(uh[-1:])
        parts_v.append(avg[-1:])
        parts_g.append(np.zeros(1, dtype=bool))
        parts_n.append(cnts[-1:])
    if not parts_h:
        return
    hours = np.concatenate(parts_h)
    yield pd.DataFrame(
        {
            "key": np.full(len(hours), user_id, dtype="int64"),
            "bucket_ts": pd.to_datetime(hours, unit="us"),
            "val": np.concatenate(parts_v),
            "is_gap": np.concatenate(parts_g),
            "n_obs": np.concatenate(parts_n),
            # cumulative-as-of-emission: rows emitted this invocation
            # all carry the key's current total so the LAST row per key
            # is authoritative after keep-last dedup
            "n_late": np.full(len(hours), int(late), dtype="int64"),
        }
    )


def assert_no_late_drops(rows: DataFrame) -> None:
    """Batch-twin precondition for resample_ffill_stream output: the
    stateful op DROPS events that arrive below a key's open bucket
    (counting them in ``n_late``), while the batch/SQL twin folds ALL
    events in. Comparing the two is only meaningful when nothing was
    dropped — raise loudly (with the count) instead of letting a
    downstream hash mismatch point nowhere. Used by the registry's
    ``stream_resample_ffill`` gate and pinned by the unordered-input
    streaming test."""
    from pyspark.sql import functions as F

    n_late = rows.agg(F.max("n_late")).first()[0] or 0
    if n_late > 0:
        raise AssertionError(
            f"resample_ffill_stream dropped {n_late} late event(s) — the "
            "source delivered hours out of order across micro-batches, so "
            "the batch-twin oracle no longer applies"
        )


def resample_ffill_stream(events: DataFrame) -> DataFrame:
    """Streaming hypertable gap-fill (stateful twin of
    operators/resample.resample_ffill): per-key hourly buckets with
    forward-filled gaps, emitted incrementally as the stream closes
    each hour. State per key is ONE open bucket (3 longs) — O(keys),
    not O(events) and not O(span); the emitted grid is produced
    bucket-by-bucket as data arrives, never re-scanned.

    Output carries ``n_obs`` so a downstream keep-last over
    (key, bucket_ts) ordered by n_obs collapses the open bucket's
    tentative re-emissions; callers drop it after deduping."""
    from finlogic_spark.streaming import with_event_time

    return (
        with_event_time(events)
        .select("user_id", "ts", "value", "event_id")
        .groupBy("user_id")
        .applyInPandasWithState(
            _resample_update,
            outputStructType=RESAMPLE_OUTPUT_SCHEMA,
            stateStructType=RESAMPLE_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------
# Streaming KLL quantiles and HLL distinct counts: built-in sketch
# aggregates as streaming state
# ---------------------------------------------------------------------------

def kll_quantiles_stream(events: DataFrame) -> DataFrame:
    """Streaming per-key quantiles (streaming twin of
    events_kll_quantiles): an update-mode ``groupBy().agg`` over
    ``kll_sketch_agg_double``, so the state store keeps one DataSketches
    KLL sketch per key — a few KB at ANY stream length, where exact
    streaming percentiles would hold every value ever seen — and each
    micro-batch re-emits (event_type, n, kll_p50, kll_p99) for the keys
    it touched. The state is the same binary the batch sketch tables
    (operators/sketch.py ``kll_sketch_table``) store. Null and NaN
    values are dropped.

    The emitted ``n`` is monotone per key, so a downstream keep-last
    over n yields the final estimates. The JVM KLL is randomized: the
    final estimate varies run to run and with micro-batch boundaries,
    but always lands inside the rank band the oracle checks."""
    v = F.col("value")
    sk = F.kll_sketch_agg_double(v)
    return (
        events.filter(v.isNotNull() & ~F.isnan(v))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.kll_sketch_get_quantile_double(sk, F.lit(0.5)).alias("kll_p50"),
            F.kll_sketch_get_quantile_double(sk, F.lit(0.99)).alias("kll_p99"),
        )
    )


def hll_distinct_stream(events: DataFrame) -> DataFrame:
    """Streaming per-key distinct-user count (streaming twin of the
    events_hll_rollup batch pipeline): an update-mode ``groupBy().agg``
    over ``hll_sketch_agg(user_id, 13)`` — 8 KiB of HLL registers per
    key in the state store — re-emitting (event_type, n, approx_users)
    for the keys each micro-batch touched.

    Stronger contract than the KLL twin: HLL registers merge by
    per-register max, so the final streaming estimate EQUALS a batch
    ``hll_sketch_table(..., lgk=13)`` → ``hll_table_estimate`` build
    over the same rows, not merely lands in the same error band.
    Micro-batch boundaries and insert order cannot move it.

    The emitted ``n`` (non-null ids absorbed) is monotone per key, so a
    downstream keep-last over n takes the final estimates. Validated in
    the registry against the exact distinct count with the sketch's
    published error band (stream_hll_distinct)."""
    return (
        events.filter(F.col("user_id").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.hll_sketch_estimate(F.hll_sketch_agg("user_id", 13))
            .cast("double")
            .alias("approx_users"),
        )
    )


# ---------------------------------------------------------------------------
# Streaming frequent items: sharded Misra-Gries as keyed streaming state
# ---------------------------------------------------------------------------

# State is the MG summary's wire format (operators/freq.py
# to_parts/from_parts): <= k (item, counter) pairs per shard — tens of
# KB — at ANY stream length. Treat any edit as a checkpoint-format
# change (same contract as RESAMPLE_STATE_SCHEMA).
MG_STATE_SCHEMA = T.StructType(
    [
        T.StructField("k", T.IntegerType()),
        T.StructField("n", T.LongType()),
        T.StructField("items", T.ArrayType(T.StringType())),
        T.StructField("counters", T.ArrayType(T.LongType())),
    ]
)

MG_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("shard", T.IntegerType()),
        T.StructField("n", T.LongType()),
        T.StructField("items", T.ArrayType(T.StringType())),
        T.StructField("counters", T.ArrayType(T.LongType())),
    ]
)


def _mg_update(
    key: tuple,
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
) -> Iterator[pd.DataFrame]:
    from finlogic_spark.operators.freq import MisraGries

    (shard,) = key
    if state.exists:
        k, n, items, counters = state.get
        s = MisraGries.from_parts(k, n, items, counters)
    else:
        s = MisraGries(2000)
    for pdf in pdfs:
        vc = pdf["token"].dropna().value_counts()
        if len(vc):
            s.extend_weighted(list(vc.index), vc.to_numpy())
    k, n, items, counters = s.to_parts()
    state.update((k, n, items, counters))
    yield pd.DataFrame(
        [{"shard": shard, "n": n, "items": items, "counters": counters}]
    )


def heavy_tokens_stream(docs: DataFrame, num_shards: int = 32) -> DataFrame:
    """Streaming frequent tokens with sharded Misra-Gries summaries as
    keyed state (streaming twin of operators/freq.py heavy_hitters):
    tokens shard by hash — every occurrence of a token lands on ONE
    shard — and each shard folds its micro-batch value_counts into an
    MG(k=2000) summary, re-emitting (n, candidates) per batch.

    No-miss guarantee at any shard imbalance: a token with global
    frequency >= phi*n has shard counter >= phi*n - n_shard/(k+1)
    >= n*(phi - 1/(k+1)) > 0 for phi > 1/(k+1) (k=2000 covers
    phi >= 0.001 with 2x margin), so the final candidate set is a
    provable superset of the phi-heavy tokens; a batch-side exact count
    of the candidates then yields exact counts (the registry query
    stream_heavy_tokens — same oracle as the batch twin). State is
    <= k counters per shard — bounded where an exact streaming count
    would hold the whole vocabulary.

    The emitted ``n`` is monotone per shard, so keep-last over n takes
    each shard's final summary.

    Regime guidance (measured, BENCH_r12_stream_mg.json at
    sf100-documents, 50 x 100k-doc batches — the plan-choice note
    freq.py carries for the batch screen): this op's contract is an
    UNBOUNDED vocabulary. A plain JVM update-mode token count is
    faster per batch here (3.8 s vs 6.2 s median — the MG path is
    tokenizer-bound at ~15.3k docs/s) *because this corpus's
    vocabulary converges at ~904 tokens*, so the JVM count's state
    stops growing. Its state is the whole vocabulary, linear in
    distinct tokens ever seen; the MG shards hold <= k counters x
    num_shards (71.5 KB measured) at ANY stream length. Pick the JVM
    count when a vocabulary estimate says state fits (dashboards over
    enum-like keys); pick this op for open-vocabulary token streams,
    where the JVM state is the 1e8+-key scale bug. Only the MG drain
    doubles as a no-miss screen for the exact batch verify
    (stream_heavy_tokens rides that); a raw count has no screen
    semantics."""
    from finlogic_spark.functions.text import tokens

    # the shared tokenizer — the no-miss guarantee requires the screen
    # and the batch verify pass to tokenize IDENTICALLY
    toks = docs.select(F.explode(tokens("text")).alias("token")).withColumn(
        "shard", F.pmod(F.xxhash64("token"), F.lit(num_shards)).cast("int")
    )
    return toks.groupBy("shard").applyInPandasWithState(
        _mg_update,
        outputStructType=MG_OUTPUT_SCHEMA,
        stateStructType=MG_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
