"""Mergeable per-group quantile sketches (KLL) as persistable tables —
the primitive behind every percentile-shaped operator in this engine
(winsorize bounds, MAD outliers, resample bands) once a single group no
longer fits one pass of exact percentile state.

Algorithm: KLL (Karnin, Lang, Liberty — "Optimal Quantile
Approximation in Streams", FOCS'16), as Apache DataSketches ships it
and Spark exposes it: ``kll_sketch_agg_double`` builds one sketch per
group with map-side partial aggregation, ``kll_merge_agg_double``
merges stored sketches, and ``kll_sketch_get_quantile_double`` reads
an array of probs in one call. A k=200 sketch is a few KB of binary at
any n, so the only exchange carries sketches, never rows:

    map side:    partial sketch per (task, group)    [HashAggregate]
    shuffle:     sketches only — KBs per group
    reduce side: merge, read quantiles              [HashAggregate]

The sketch column (``__kll``, DataSketches binary) is the persistable
artifact of the rollup pipeline: today's sketch table + yesterday's =
the week's percentiles without re-reading either day. It round-trips
through parquet unchanged, and everything runs in the JVM — no Python
worker in the plan.

Run-to-run contract: the DataSketches KLL compactor is randomized, so
the same input can give a different (equally valid) estimate on every
run. What holds is the rank band: the estimate's exact rank lies
within eps·n of the requested rank (eps ≈ 1.33% at k=200,
DataSketches' 99%-confidence single-rank bound; the registry asserts
2%). A group with at most k values is never compacted, so its
quantiles are exact (inclusive-rank convention: the smallest value
whose rank reaches p·n).

Tables written in the earlier Python KLL format (``__k, __n, __items,
__lvls, __par`` columns) are refused with a ``ValueError``; rebuild
them from the raw rows.

Reference parity note: the reference engine (crdcj/FinLogic) has no
sketch operator; this is an engine-scope addition per SURVEY §2.10.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SKETCH_COL = "__kll"


def _probs(probs: Sequence[float]) -> Column:
    return F.array(*[F.lit(float(p)) for p in probs])


def kll_sketch_table(
    df: DataFrame,
    key_cols: Sequence[str],
    value_col: str,
    k: int = 200,
) -> DataFrame:
    """ONE sketch row per group: (keys..., __kll binary). Write this
    table per day/partition; any window's percentiles are then a merge
    of the stored rows via :func:`kll_table_quantiles` — KBs per group
    read back, ZERO raw rows re-scanned. Null and NaN values are
    dropped; a group with no other values gets no row."""
    v = F.col(value_col)
    return (
        df.filter(v.isNotNull() & ~F.isnan(v))
        .groupBy(*key_cols)
        .agg(F.kll_sketch_agg_double(v.cast("double"), k).alias(SKETCH_COL))
    )


def _quantile_rows(sketch_df: DataFrame, keys: list[str], probs) -> DataFrame:
    pa = _probs(probs)
    return sketch_df.select(
        *keys,
        F.inline(
            F.arrays_zip(
                pa.alias("prob"),
                F.kll_sketch_get_quantile_double(SKETCH_COL, pa).alias("value"),
            )
        ),
    )


def kll_group_quantiles(
    df: DataFrame,
    key_cols: Sequence[str],
    value_col: str,
    probs: Sequence[float],
    k: int = 200,
) -> DataFrame:
    """Per-group quantile estimates: (keys..., prob, value), one row per
    group per requested prob. One hash aggregate with map-side sketch
    partials; the raw rows shuffle NOWHERE."""
    keys = list(key_cols)
    return _quantile_rows(kll_sketch_table(df, keys, value_col, k), keys, probs)


def kll_table_quantiles(
    sketch_df: DataFrame,
    key_cols: Sequence[str],
    probs: Sequence[float],
) -> DataFrame:
    """Quantiles from stored sketch rows — one table, or a UNION of
    tables across days: rows sharing a key merge (the KLL merge is
    associative and commutative), then each requested prob is read
    out. Input is sketch-sized, so this costs O(groups·tables), never
    O(rows)."""
    cols = sketch_df.columns
    if SKETCH_COL not in cols:
        got = (
            "the retired Python KLL format (__items/__lvls level arrays)"
            if "__items" in cols
            else f"columns {cols}"
        )
        raise ValueError(
            f"kll_table_quantiles needs a {SKETCH_COL} DataSketches column, "
            f"got {got}; rebuild the table with kll_sketch_table"
        )
    keys = list(key_cols)
    merged = sketch_df.groupBy(*keys).agg(
        F.kll_merge_agg_double(SKETCH_COL).alias(SKETCH_COL)
    )
    return _quantile_rows(merged, keys, probs)


def kll_bucketize(
    df: DataFrame,
    key_cols: Sequence[str],
    value_col: str,
    num_buckets: int = 4,
    k: int = 200,
    bucket_col: str = "bucket",
) -> DataFrame:
    """Equi-depth feature binning at scale: per-group KLL sketches
    yield the ``num_buckets - 1`` boundary values, which BROADCAST back
    onto the input; every row's bucket is then a map-side codegen'd
    expression (count of boundaries below the value). The raw rows
    shuffle NOWHERE — the one exchange carries sketch partials — which
    is the only viable shape for binning a 100 TB feature column (the
    exact alternative, ntile() over a global sort, is a full-data
    range-exchange + sort).

    Bucket populations inherit the sketch's rank guarantee: boundary
    i's exact rank is within eps*n of i*n/num_buckets, so every bucket
    holds n/num_buckets +- 2*eps*n rows — the property the registry
    query (events_kll_bucketize) asserts exactly.

    Returns ``df`` plus an integer ``bucket_col`` in
    [0, num_buckets). The boundaries ignore null and NaN values, but
    such rows still get a bucket (null → 0, NaN → the top one, as Spark
    orders NaN above every double): filter them upstream. Groups with
    no other values get no boundaries and drop out of the inner join."""
    if num_buckets < 2:
        raise ValueError(f"num_buckets must be >= 2, got {num_buckets}")
    keys = list(key_cols)
    # quantiles read from one sketch are monotone in prob: the array is
    # the group's sorted boundary list as it comes out
    bounds = kll_sketch_table(df, keys, value_col, k).select(
        *keys,
        F.kll_sketch_get_quantile_double(
            SKETCH_COL, _probs([i / num_buckets for i in range(1, num_buckets)])
        ).alias("__bs"),
    )
    out = df.join(F.broadcast(bounds), keys, "inner")
    v = F.col(value_col)
    bucket = F.aggregate(
        "__bs",
        F.lit(0),
        lambda acc, b: acc + F.when(v > b, F.lit(1)).otherwise(F.lit(0)),
    )
    return out.withColumn(bucket_col, bucket).drop("__bs")
