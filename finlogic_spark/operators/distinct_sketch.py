"""Persistable distinct-count (HLL) and set-operation (Theta) sketch
tables on Spark's built-in DataSketches aggregates.

The 100 TB distinct-count shape (sibling of operators/sketch.py's KLL
quantile tables): store ONE sketch row per (partition key, group) —
e.g. per (day, event_type) — and any window's distinct count is a
re-merge of the stored rows, KBs of input, ZERO raw rows re-scanned.
Reference parity: the reference's n_unique (SURVEY §2.4 A4) done the
only way that works when the raw data is 100 TB and the question is
"distinct users this month" asked daily.

Every operator here is a JVM aggregate with map-side partials
(``hll_sketch_agg`` / ``hll_union_agg`` / ``hll_sketch_estimate`` for
counts, ``theta_sketch_agg`` / ``theta_intersection`` /
``theta_sketch_estimate`` for overlaps); the sketch binaries round-trip
through parquet unchanged, and no plan holds a Python worker. The
streaming twin (streaming/stateful.py ``hll_distinct_stream``) runs the
same ``hll_sketch_agg`` as a streaming aggregate, so its final estimate
equals the batch table's over the same rows.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "hll_sketch_table",
    "hll_table_estimate",
    "hll_window_estimate",
    "theta_pair_overlap",
    "theta_sketch_table",
]


def hll_sketch_table(
    df: DataFrame,
    key_cols: Sequence[str],
    value_col: str,
    lgk: int = 12,
) -> DataFrame:
    """ONE Datasketches-HLL binary per group — the persistable daily
    artifact. Schema: (keys..., __hll binary). Write this per
    day/partition; distinct counts over any key subset then come from
    :func:`hll_table_estimate` over the stored rows. Plan: a single
    hash aggregate with map-side sketch partials (each map task ships
    one ~2^lgk-byte sketch per group, never its raw values)."""
    return df.groupBy(*key_cols).agg(
        F.hll_sketch_agg(value_col, F.lit(lgk)).alias("__hll")
    )


def hll_table_estimate(
    sketch_df: DataFrame,
    key_cols: Sequence[str],
    out_col: str = "approx_distinct",
) -> DataFrame:
    """Re-merge stored sketch rows down to ``key_cols`` and estimate:
    e.g. daily (day, event_type) rows → per-event_type distinct over
    the whole stored range. Union of HLL registers is lossless w.r.t.
    the sketch's error bound (RSE ≈ 1.04/√2^lgk), so the rollup
    estimate carries the same guarantee as a direct single-pass build
    over the raw rows."""
    return sketch_df.groupBy(*key_cols).agg(
        F.hll_sketch_estimate(F.hll_union_agg("__hll")).alias(out_col)
    )


def hll_window_estimate(
    sketch_df: DataFrame,
    key_cols: Sequence[str],
    day_col: str,
    window_days: int,
    out_col: str = "approx_distinct",
) -> DataFrame:
    """Trailing-window distinct counts from STORED daily sketch rows:
    for every (keys, day) present, the estimate over
    [day - window_days + 1, day] — the sliding-distinct dashboard
    ("7-day active users, per day") computed from KBs of sketches,
    zero raw rows re-scanned, where the exact answer needs a window-
    sized distinct per output day (the window self-join below carries
    window_days sketch rows per group-day, each 2^lgk bytes).

    The sketch table is broadcast (it is days x groups rows); the
    range condition is a broadcast-join filter, so the plan has no
    data-sized exchange at all."""
    keys = list(key_cols)
    grid = sketch_df.select(*keys, F.col(day_col).alias("day")).distinct()
    contrib = grid.join(
        F.broadcast(
            sketch_df.withColumnRenamed(day_col, "__sday")
        ),
        keys,
    ).filter(
        (F.datediff(F.col("day"), F.col("__sday")) >= 0)
        & (F.datediff(F.col("day"), F.col("__sday")) < window_days)
    )
    return contrib.groupBy(*keys, "day").agg(
        F.hll_sketch_estimate(F.hll_union_agg("__hll")).alias(out_col)
    )


def theta_sketch_table(
    df: DataFrame,
    key_cols: Sequence[str],
    value_col: str,
    lg_nom_entries: int = 12,
) -> DataFrame:
    """ONE DataSketches Theta sketch per group: (keys..., __theta
    binary) — the persistable artifact for distinct AND set-operation
    estimates. What HLL cannot do, Theta can: INTERSECTION estimates
    (:func:`theta_pair_overlap`), where the HLL alternative
    (inclusion-exclusion |A|+|B|-|A∪B|) degrades without bound as the
    intersection shrinks relative to the union.

    One hash aggregate with map-side partial sketches; each partial is
    at most ~2^(lg_nom_entries+1) hashes, never the raw set. A group
    with at most 2^lg_nom_entries distinct values keeps every hash, so
    its distinct count and its intersections with other such groups
    are EXACT; above that the relative error is ~1/sqrt(2^lg) on the
    union, scaled by |A∪B|/|A∩B| for an intersection. Null values are
    dropped; null keys form their own group. Integral, string and
    binary values all hash natively (int and bigint of the same number
    hash alike), so the value column needs no cast."""
    return df.groupBy(*key_cols).agg(
        F.theta_sketch_agg(value_col, lg_nom_entries).alias("__theta")
    )


def theta_pair_overlap(
    sketch_df: DataFrame,
    key_col: str,
    out_col: str = "approx_overlap",
) -> DataFrame:
    """Pairwise distinct-intersection estimates between every two
    groups of a Theta sketch table: a broadcast self-join of the (tiny)
    sketch rows on key_a < key_b, then ``theta_intersection`` per pair
    — |groups|² pairs of sketches, never the raw sets. DataSketches
    checks the seed hash stored in every sketch, so rows hashed under a
    different seed fail loudly instead of estimating garbage.

    Tables written in the retired KMV format (an ``__kmv`` array<long>
    column) are refused with a ``ValueError``: they cannot be read as
    Theta sketches."""
    cols = sketch_df.columns
    if "__theta" not in cols:
        got = (
            "the retired KMV format (__kmv xxhash64 longs)"
            if "__kmv" in cols
            else f"columns {cols}"
        )
        raise ValueError(
            "theta_pair_overlap needs a __theta DataSketches column, "
            f"got {got}; rebuild the table with theta_sketch_table"
        )
    a = sketch_df.select(
        F.col(key_col).alias("key_a"), F.col("__theta").alias("__theta_a")
    )
    b = sketch_df.select(
        F.col(key_col).alias("key_b"), F.col("__theta").alias("__theta_b")
    )
    return a.join(F.broadcast(b), F.col("key_a") < F.col("key_b")).select(
        "key_a",
        "key_b",
        F.theta_sketch_estimate(F.theta_intersection("__theta_a", "__theta_b"))
        .cast("double")
        .alias(out_col),
    )
