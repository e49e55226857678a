"""KLL mergeable quantile sketch tables (operators/sketch.py, on Spark's
DataSketches aggregates).

Pins: (1) rank-error bound on single-group builds across
distributions, (2) merge-of-chunks lands in the same band (the
distributed-aggregate property), (3) the Spark aggregate end-to-end
with multi-key groups and degenerate groups (identical values, one
row, n < k exact, null/NaN dropped, empty input), (4) stored tables
roll up across days and refuse the retired Python format, (5) sketch
size stays O(k log n/k).
"""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from finlogic_spark.operators.sketch import (
    kll_group_quantiles,
    kll_sketch_table,
    kll_table_quantiles,
)
from finlogic_spark.session import local_frame

EPS = 0.02  # k=200 band used by the registry oracle
PROBS = [0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99]


def _rank_err(values: np.ndarray, est: float, p: float) -> float:
    """Distance from p to the estimate's feasible exact-rank interval."""
    n = values.size
    lo = float(np.sum(values < est)) / n
    hi = float(np.sum(values <= est)) / n
    if lo <= p <= hi:
        return 0.0
    return min(abs(p - lo), abs(p - hi))


def _frame(spark, rows, schema="grp string, value double"):
    return local_frame(spark, rows, schema).repartition(4)


@pytest.mark.parametrize(
    "dist",
    ["uniform", "lognormal", "sorted", "reversed", "ties"],
)
def test_kll_rank_bound_single_stream(spark, dist):
    rng = np.random.RandomState(7)
    n = 50_000
    if dist == "uniform":
        vals = rng.uniform(0, 1000, n)
    elif dist == "lognormal":
        vals = rng.lognormal(3.0, 2.0, n)
    elif dist == "sorted":
        vals = np.sort(rng.uniform(0, 1000, n))
    elif dist == "reversed":
        vals = np.sort(rng.uniform(0, 1000, n))[::-1].copy()
    else:  # heavy ties: 100 distinct values
        vals = rng.randint(0, 100, n).astype(np.float64)
    df = local_frame(spark, [("g", float(v)) for v in vals], "grp string, value double")
    got = kll_group_quantiles(df, ["grp"], "value", PROBS).collect()
    assert sorted(r["prob"] for r in got) == PROBS
    for r in got:
        assert _rank_err(vals, r["value"], r["prob"]) <= EPS, (dist, r["prob"])


def test_kll_merge_matches_band_and_counts(spark):
    """Twelve separately built sketch rows merge into one sketch whose
    count is the total and whose quantiles hold the band."""
    rng = np.random.RandomState(11)
    chunks = [rng.lognormal(2.0, 1.5, 7000) for _ in range(12)]
    full = np.concatenate(chunks)
    df = _frame(
        spark,
        [(i, float(v)) for i, c in enumerate(chunks) for v in c],
        "chunk int, value double",
    )
    parts = kll_sketch_table(df, ["chunk"], "value").withColumn("g", F.lit(1))
    assert parts.count() == 12
    merged = parts.groupBy("g").agg(F.kll_merge_agg_double("__kll").alias("s"))
    assert merged.select(F.kll_sketch_get_n_double("s")).first()[0] == full.size
    for r in kll_table_quantiles(parts.drop("chunk"), ["g"], PROBS).collect():
        assert _rank_err(full, r["value"], r["prob"]) <= EPS, r["prob"]


def test_kll_size_stays_logarithmic(spark):
    df = spark.range(1_000_000).select(
        F.lit(1).alias("g"), F.rand(5).alias("value")
    )
    r = (
        kll_sketch_table(df, ["g"], "value")
        .select(
            F.kll_sketch_get_n_double("__kll").alias("n"),
            F.octet_length("__kll").alias("bytes"),
        )
        .first()
    )
    assert r["n"] == 1_000_000
    assert r["bytes"] < 16_000  # O(k log(n/k)) — ~KBs, never the stream


def test_kll_group_quantiles_spark(spark):
    rng = np.random.RandomState(17)
    rows = []
    for g in ("a", "b", "c"):
        scale = {"a": 1.0, "b": 50.0, "c": 0.01}[g]
        for x in rng.lognormal(1.0, 1.0, 4000) * scale:
            rows.append((g, 1, float(x)))
    # nulls/nans must be ignored, not crash
    rows += [("a", 1, None), ("b", 1, float("nan"))]
    # degenerate groups: all-identical values, one row, n < k (exact:
    # the smallest value whose rank reaches p*n), and a group holding
    # only null/NaN values, which gets no rows at all
    small = rng.uniform(-5, 5, 37)
    rows += [("same", 1, 7.25)] * 500 + [("one", 1, -3.5)]
    rows += [("small", 1, float(x)) for x in small]
    rows += [("small", 1, None), ("small", 1, float("nan"))]
    rows += [("void", 1, None), ("void", 1, float("nan"))]
    df = _frame(spark, rows, "grp string, sub int, value double")
    out = kll_group_quantiles(df, ["grp", "sub"], "value", [0.25, 0.5, 0.9])
    got = {(r["grp"], r["sub"], r["prob"]): r["value"] for r in out.collect()}
    assert len(got) == 18
    by_g = {g: np.array([v for (gg, _, v) in rows if gg == g and v == v and v is not None])
            for g in ("a", "b", "c")}
    srt = np.sort(small)
    for (g, sub, p), est in got.items():
        assert sub == 1
        if g in by_g:
            assert _rank_err(by_g[g], est, p) <= EPS, (g, p)
        elif g == "same":
            assert est == 7.25
        elif g == "one":
            assert est == -3.5
        else:
            assert est == srt[math.ceil(p * srt.size) - 1], (p, est)


def test_kll_empty_input_gives_no_rows(spark):
    df = local_frame(spark, [], "grp string, value double")
    assert kll_group_quantiles(df, ["grp"], "value", [0.5]).collect() == []
    assert kll_sketch_table(df, ["grp"], "value").collect() == []


def test_kll_table_refuses_retired_python_format(spark):
    """A table persisted by the earlier Python KLL (level arrays, no
    DataSketches binary) must raise a clear error, never be misread."""
    legacy = local_frame(
        spark,
        [("g", 200, 3, [1.0, 2.0, 3.0], [0, 0, 0], 0)],
        "grp string, __k int, __n bigint, __items array<double>, "
        "__lvls array<int>, __par bigint",
    )
    with pytest.raises(ValueError, match="retired Python KLL format"):
        kll_table_quantiles(legacy, ["grp"], [0.5])
    with pytest.raises(ValueError, match="__kll"):
        kll_table_quantiles(legacy.select("grp"), ["grp"], [0.5])


def test_kll_sketch_table_rollup_across_days(spark, tmp_path):
    """The 100TB rollup contract: per-day sketch tables persisted to
    parquet, read back, unioned, and merged must give band-valid
    quantiles for the WHOLE period without re-reading any raw rows."""
    rng = np.random.RandomState(41)
    days = []
    for d in range(5):
        rows = [
            ("g1", float(x)) for x in rng.lognormal(1.0 + 0.3 * d, 1.0, 4000)
        ] + [("g2", float(x)) for x in rng.uniform(d, d + 50, 3000)]
        days.append(rows)
    all_rows = [r for day in days for r in day]
    paths = []
    for d, rows in enumerate(days):
        df = spark.createDataFrame(rows, "grp string, value double")
        p = str(tmp_path / f"day_{d}")
        kll_sketch_table(df, ["grp"], "value").write.parquet(p)
        paths.append(p)
    union = spark.read.parquet(*paths)
    got = {
        (r["grp"], r["prob"]): r["value"]
        for r in kll_table_quantiles(union, ["grp"], [0.25, 0.5, 0.9]).collect()
    }
    assert len(got) == 6
    by_g = {
        g: np.array([v for (gg, v) in all_rows if gg == g])
        for g in ("g1", "g2")
    }
    for (g, p), est in got.items():
        assert _rank_err(by_g[g], est, p) <= EPS, (g, p)
    # the persisted artifact stays sketch-sized: one row per group/day
    assert union.count() == 10


def test_kll_group_quantiles_registry_query(spark, sf_dir):
    from finlogic_spark.driver_queries import QUERIES

    rows = QUERIES["events_kll_quantiles"](spark, sf_dir).collect()
    assert rows, "no groups"
    for r in rows:
        assert r["p50_ok"] and r["p99_ok"], r["event_type"]
