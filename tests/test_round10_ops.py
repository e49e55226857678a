"""Round-10 operators: step-function TWAP and per-group winsorization.
Hand-computed golden values (independent of both engines' SQL)."""

import datetime as dt

from pyspark.sql import functions as F


def test_time_weighted_avg_golden(spark):
    """Three samples in one day-bucket: 10.0 held 60 s, 20.0 held
    120 s, 40.0 held to day end. TWAP = integral / covered duration —
    NOT the sample mean."""
    from finlogic_spark.operators.windows import time_weighted_avg

    t0 = dt.datetime(2024, 3, 5, 0, 0, 0)
    rows = [
        ("m", t0, 1, 10.0),
        ("m", t0 + dt.timedelta(seconds=60), 2, 20.0),
        ("m", t0 + dt.timedelta(seconds=180), 3, 40.0),
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, id long, v double")
    out = time_weighted_avg(df, ["k"], "ts", "v", tiebreak_cols=["id"]).collect()
    assert len(out) == 1
    r = out[0]
    day_secs = 86400
    covered = day_secs  # first sample at day start: full day covered
    integral = 10.0 * 60 + 20.0 * 120 + 40.0 * (day_secs - 180)
    assert r["n"] == 3
    assert abs(r["twap"] - integral / covered) < 1e-9
    # a plain mean would say 23.33; TWAP is dominated by the long hold
    assert r["twap"] > 39.0


def test_time_weighted_avg_tied_timestamps_deterministic(spark):
    """Equal timestamps: the earlier-id sample gets duration 0 under
    the total order — result must not depend on partitioning."""
    from finlogic_spark.operators.windows import time_weighted_avg

    t0 = dt.datetime(2024, 3, 5, 12, 0, 0)
    rows = [
        ("m", t0, 2, 100.0),   # tied, higher id -> holds
        ("m", t0, 1, 7.0),     # tied, lower id -> 0 duration
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, id long, v double")
    r = time_weighted_avg(df, ["k"], "ts", "v", tiebreak_cols=["id"]).collect()[0]
    assert r["twap"] == 100.0  # only the id=2 sample ever holds


def test_winsorize_stats_golden(spark):
    """100 values 1..99 plus one 10_000 outlier: p99 bound clips the
    outlier, the winsorized mean barely moves from the clean mean."""
    from finlogic_spark.operators.profile import winsorize_stats

    rows = [("g", float(i)) for i in range(1, 100)] + [("g", 10_000.0)]
    df = spark.createDataFrame(rows, "k string, v double")
    r = winsorize_stats(df, ["k"], "v").collect()[0]
    assert r["n"] == 100
    assert r["n_clipped_hi"] == 1 and r["n_clipped_lo"] == 1
    # raw mean is ~149.5 (outlier-dragged); winsorized stays near 50
    assert 45 < r["win_mean"] < 55
    assert r["p_hi_val"] < 10_000.0


def _exact_winsorize_stats(df, key_cols, value_col, p_lo, p_hi):
    """The former exact tier of ``winsorize_stats``, inlined as the
    reference: per-group exact ``percentile`` aggregates, bounds
    broadcast back onto the rows, one pass for the clipped stats."""
    from finlogic_spark.operators.profile import _cents_sum_guard

    v = F.col(value_col)
    base = df.filter(v.isNotNull() & ~F.isnan(v)).select(*key_cols, value_col)
    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    bounds = base.groupBy(*key_cols).agg(
        r6(F.expr(f"percentile(`{value_col}`, {p_lo})")).alias("p_lo_val"),
        r6(F.expr(f"percentile(`{value_col}`, {p_hi})")).alias("p_hi_val"),
    )
    clipped = F.least(F.greatest(v, F.col("p_lo_val")), F.col("p_hi_val"))
    cq = F.floor(clipped * F.lit(100.0) + F.lit(0.5)).cast("long")
    agg = (
        base.join(F.broadcast(bounds), list(key_cols))
        .groupBy(*key_cols)
        .agg(
            F.first("p_lo_val").alias("p_lo_val"),
            F.first("p_hi_val").alias("p_hi_val"),
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(v < F.col("p_lo_val"), 1).otherwise(0)).alias("n_clipped_lo"),
            F.sum(F.when(v > F.col("p_hi_val"), 1).otherwise(0)).alias("n_clipped_hi"),
            F.sum(cq).alias("__scq"),
            F.max(F.abs(cq)).alias("__max_acq"),
        )
    )
    return agg.select(
        *key_cols,
        "p_lo_val",
        "p_hi_val",
        "n",
        "n_clipped_lo",
        "n_clipped_hi",
        (
            _cents_sum_guard("__max_acq", "n", "__scq", "winsorize_stats")
            / (F.lit(100.0) * F.col("n"))
        ).alias("win_mean"),
    )


def test_winsorize_tier_parity(spark):
    """The compact-histogram winsorize_stats must be BIT-IDENTICAL to
    per-group exact percentile() aggregates — same interpolation
    arithmetic, same integer-cents mean — across tied values, skewed
    groups, fractional interpolation positions, and a single-row group
    (the outlier-MAD two-strategy discipline)."""
    import random

    from finlogic_spark.operators.profile import winsorize_stats

    rng = random.Random(71)
    rows = (
        # heavy ties (quantized cents), one group
        [("a", round(rng.uniform(0, 50), 2)) for _ in range(600)]
        # continuous doubles, fractional positions guaranteed
        + [("b", rng.uniform(-100, 100)) for _ in range(457)]
        # tiny group: n=1 (position 0 on both percentiles)
        + [("c", 42.17)]
        # constant group
        + [("d", 5.0)] * 31
    )
    df = spark.createDataFrame(rows, "k string, v double")
    for p_lo, p_hi in [(0.01, 0.99), (0.25, 0.75), (0.0, 1.0)]:
        exact = sorted(
            _exact_winsorize_stats(df, ["k"], "v", p_lo, p_hi).collect(),
            key=lambda r: r["k"],
        )
        compact = sorted(
            winsorize_stats(df, ["k"], "v", p_lo, p_hi).collect(),
            key=lambda r: r["k"],
        )
        assert [r.asDict() for r in exact] == [r.asDict() for r in compact]


def test_twap_single_shuffle_plan(spark):
    """The window partitioning on (keys, bucket) must be REUSED by the
    groupBy on the same keys — one data-sized exchange total."""
    from finlogic_spark import plans
    from finlogic_spark.operators.windows import time_weighted_avg

    t0 = dt.datetime(2024, 3, 5)
    rows = [("m", t0 + dt.timedelta(seconds=i), i, float(i)) for i in range(50)]
    df = spark.createDataFrame(rows, "k string, ts timestamp, id long, v double")
    out = time_weighted_avg(df, ["k"], "ts", "v", tiebreak_cols=["id"])
    assert plans.count_shuffles(out) <= 1
