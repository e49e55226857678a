"""Single-pass data profiling / expectation checks — the validation
pass a 100 TB ingest runs before anything downstream trusts the data
(engine-scope addition; the reference validates eagerly per-row at
load, which doesn't survive scale-out).

Shape: counts/nulls come from ONE aggregate over the table
(conditional sums, map-side combine); the exact distinct counts come
from one single-distinct aggregate PER COLUMN, unioned. That split is
measured, not aesthetic: packing all the COUNT(DISTINCT)s into the
one aggregate makes Spark rewrite through Expand — every input row is
replicated (n_cols+1)x through the partial hash agg — while the union
form scans each branch pruned to ONE parquet column (same total
column I/O as a single all-column scan) and hashes each row once. At
sf100 (15M-row customer, 5 columns) the union plan wins 2.26 s vs
2.89 s (BENCH_r12_probes.json sf100:data_profile_decomposition, which
also pins the floor: the same scan+agg minus the distincts is 0.19 s
— exact distinct counting IS the cost of this contract).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def profile_columns(
    df: DataFrame, cols: Sequence[str], approx: bool = False,
    rsd: float = 0.05
) -> DataFrame:
    """Per-column profile in long form: (col_name, n_rows, n_nulls,
    n_distinct, frac_null). n_distinct counts non-null values (both
    engines' COUNT(DISTINCT) convention). frac_null is exact-rounded
    (6 dp) so the double is engine-independent.

    ``approx=True`` is the 100 TB tier: n_distinct comes from Spark's
    HLL++ (``approx_count_distinct`` at ``rsd``, default 0.05) folded
    into the SAME single aggregate that computes rows/nulls — one
    scan, one map-side-combining exchange of fixed-size sketch
    buffers, no per-column distinct branches at all. The estimate is
    DETERMINISTIC for given data (hash-based, no randomness), so band
    checks against it are stable.

    Aggregate choice, measured twice (BENCH_r13_probes.json,
    BENCH_r14_probes.json — 150M rows x 5 columns): the r13 probe
    tried ``approx_count_distinct(rsd=0.015)`` — a 4x register
    inflation over the default — and found it 4x slower than
    Datasketches ``hll_sketch_agg(lgk=12)``, so r13 shipped
    Datasketches. The r14 probe at the DEFAULT rsd inverts that:
    HLL++ 3.6 s vs Datasketches 9.5 s vs exact 13.1 s. The reason is
    the aggregate's row path, not the sketch math: HLL++ is a plain
    ImperativeAggregate over a fixed-width word buffer that lives
    INSIDE the hash-agg's UnsafeRow (no per-row object, buffer mutated
    in place), while Datasketches is a TypedImperativeAggregate whose
    per-row path goes through a heap sketch object and takes the whole
    combined aggregate off whole-stage codegen. Sub-default rsd is a
    register-inflation trap, not a property of HLL++. HLL++ also
    hashes every atomic type natively, so the injective int-mapping
    layer the Datasketches input contract needed (hll_sketch_agg
    accepts int/long/string/binary only) is gone.

    Same schema either way; the exact tier stays the oracle-gated
    default (its sf100 row IS the exact-COUNT(DISTINCT)-of-15M-strings
    contract — r12 decomposition pinned the scan+agg floor at 0.19 s
    of it). The scale argument for the approx tier is the EXCHANGE,
    not just the clock: the exact tier's partial-distinct exchange
    carries every distinct value per column (data-sized at high
    cardinality), the approx tier exchanges one fixed-size sketch
    buffer per column per task — the BENCH_r14_probes.json
    exchange-bytes table quantifies both."""
    from functools import reduce

    if approx:
        aggs = [F.count(F.lit(1)).alias("__rows")]
        for c in cols:
            aggs.append(
                F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(
                    f"__nn_{c}"
                )
            )
            aggs.append(
                F.approx_count_distinct(F.col(c), rsd).alias(f"__nd_{c}")
            )
        row = df.agg(*aggs)
        structs = [
            F.struct(
                F.lit(c).alias("col_name"),
                F.col("__rows").cast("long").alias("n_rows"),
                F.col(f"__nn_{c}").cast("long").alias("n_nulls"),
                F.col(f"__nd_{c}").cast("long").alias("n_distinct"),
                (
                    F.floor(
                        F.col(f"__nn_{c}") / F.col("__rows") * 1e6 + F.lit(0.5)
                    )
                    / F.lit(1e6)
                ).alias("frac_null"),
            )
            for c in cols
        ]
        return row.select(F.explode(F.array(*structs)).alias("p")).select(
            "p.*"
        )

    aggs = [F.count(F.lit(1)).alias("__rows")]
    for c in cols:
        aggs.append(
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(f"__nn_{c}")
        )
    row = df.agg(*aggs)
    structs = [
        F.struct(
            F.lit(c).alias("col_name"),
            F.col("__rows").cast("long").alias("n_rows"),
            F.col(f"__nn_{c}").cast("long").alias("n_nulls"),
            (
                F.floor(F.col(f"__nn_{c}") / F.col("__rows") * 1e6 + F.lit(0.5))
                / F.lit(1e6)
            ).alias("frac_null"),
        )
        for c in cols
    ]
    long_counts = row.select(F.explode(F.array(*structs)).alias("p")).select(
        "p.*"
    )
    # one single-distinct aggregate per column (NOT one multi-distinct
    # aggregate): each branch's scan prunes to its one column and its
    # two-phase hash agg sees each row once — see module docstring
    distincts = reduce(
        DataFrame.unionAll,
        [
            df.agg(F.count_distinct(F.col(c)).alias("n_distinct")).select(
                F.lit(c).alias("col_name"),
                F.col("n_distinct").cast("long").alias("n_distinct"),
            )
            for c in cols
        ],
    )
    return long_counts.join(distincts, "col_name").select(
        "col_name", "n_rows", "n_nulls", "n_distinct", "frac_null"
    )


def expect(
    df: DataFrame,
    expectations: dict[str, "F.Column"],
) -> DataFrame:
    """Constraint violation counts in one pass: {name: boolean Column
    that should be TRUE for every row} -> (expectation, n_violations,
    n_rows). A row violates when the predicate is FALSE **or NULL**
    (three-valued logic would otherwise let NULL rows dodge every
    check). One map-side-combining aggregate, no shuffle of data rows.
    """
    aggs = [F.count(F.lit(1)).alias("__rows")] + [
        F.sum(F.when(pred.isNull() | ~pred, 1).otherwise(0)).alias(f"__v_{name}")
        for name, pred in expectations.items()
    ]
    row = df.agg(*aggs)
    structs = [
        F.struct(
            F.lit(name).alias("expectation"),
            F.col(f"__v_{name}").cast("long").alias("n_violations"),
            F.col("__rows").cast("long").alias("n_rows"),
        )
        for name in expectations
    ]
    return row.select(F.explode(F.array(*structs)).alias("e")).select("e.*")


def robust_outliers(
    df: DataFrame,
    group_col: str,
    value_col: str,
    threshold: float = 3.5,
    spill_safe: bool = False,
) -> DataFrame:
    """Rows whose modified z-score |0.6745·(x − median)/MAD| exceeds
    ``threshold`` (Iglewicz–Hoaglin robust outlier test), computed per
    group. Median/MAD resist the very outliers they detect — a
    mean/stddev z-score at 100 TB is dragged by the tail it's hunting.

    Two exact-median strategies, measured head-to-head at 100x bench
    scale (10M rows, 2M-row groups):

    - default (``spill_safe=False``): exact percentile() aggregates —
      3.8x faster (4.0 s vs 15.2 s) because the sort never leaves the
      aggregation buffer. The contract: a single group's values must
      fit an executor's memory (2M doubles = 16 MB — fine for far
      larger groups than that; the buffer is per-group, not
      per-partition).
    - ``spill_safe=True``: order statistics over a window sort —
      row_number within the group (a running counter over the sorted
      stream, no buffer), middle row(s) picked against broadcast group
      counts, averaged. Slower, but the sort is a spillable shuffle
      sort: correct even when one group exceeds executor memory.

    Both compute the same median (the ≤2 middle rows averaged; adding
    two doubles is commutative — deterministic), quantized to 6 dp
    before the z computation so the flag decision is a deterministic
    function of (value, med6, mad6) on any engine. Groups with
    MAD = 0 (constant series) yield no outliers (null z), matching the
    statistic's domain.
    """
    from pyspark.sql import Window

    q6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731

    def _median_sorted(data: DataFrame, col: Column, alias: str) -> DataFrame:
        """(group, median) via order statistics: values at positions
        ceil(n/2) and floor(n/2)+1 (identical for odd n), averaged."""
        data = data.filter(col.isNotNull())  # percentile-parity: skip nulls
        counts = data.groupBy(group_col).agg(F.count(F.lit(1)).alias("__n"))
        w = Window.partitionBy(group_col).orderBy(col)
        ranked = data.select(
            F.col(group_col),
            col.alias("__v"),
            F.row_number().over(w).alias("__rn"),
        )
        mid = ranked.join(F.broadcast(counts), group_col).filter(
            (F.col("__rn") == F.ceil(F.col("__n") / 2))
            | (F.col("__rn") == F.floor(F.col("__n") / 2) + 1)
        )
        return mid.groupBy(group_col).agg(q6(F.avg("__v")).alias(alias))

    def _median_agg(data: DataFrame, col: Column, alias: str) -> DataFrame:
        return data.groupBy(group_col).agg(
            q6(F.percentile(col, F.lit(0.5))).alias(alias)
        )

    _median = _median_sorted if spill_safe else _median_agg
    med = _median(df, F.col(value_col), "__med")
    j = df.join(F.broadcast(med), group_col)
    mad = _median(
        j, F.abs(F.col(value_col) - F.col("__med")), "__mad"
    )
    z = (
        F.lit(0.6745)
        * (F.col(value_col) - F.col("__med"))
        / F.nullif(F.col("__mad"), F.lit(0.0))
    )
    return (
        j.join(F.broadcast(mad), group_col)
        .withColumn("mod_z", z)
        .filter(F.abs(F.col("mod_z")) > F.lit(threshold))
        .withColumnRenamed("__med", "grp_median")
        .withColumnRenamed("__mad", "grp_mad")
    )


def histogram_fixed(
    df: DataFrame,
    group_col: str,
    value_col: str,
    lo: float,
    hi: float,
    n_bins: int,
) -> DataFrame:
    """Per-group equi-width histogram over FIXED bounds [lo, hi):
    (group, bin, bin_lo, bin_hi, n). Values at/above ``hi`` clamp into
    the last bin; values below ``lo`` into bin 0. Fixed bounds are the
    scale-friendly shape — one map-side-combining aggregate over
    (group, bin) keys, a single pass; data-driven bounds need a min/max
    pre-pass (two scans) and make bins non-comparable across runs.
    """
    w = (hi - lo) / n_bins
    bin_col = F.greatest(
        F.lit(0),
        F.least(
            F.floor((F.col(value_col) - F.lit(lo)) / F.lit(w)),
            F.lit(n_bins - 1),
        ),
    ).cast("int")
    # NULL/NaN rows are excluded, not silently mis-binned: least/
    # greatest SKIP null operands, so floor(NULL) -> least(NULL, 9)
    # would land every NULL in the TOP bin; floor(NaN) casts to 0 and
    # would land every NaN in bin 0. A histogram that invents counts in
    # its extreme bins for missing data is worse than no histogram.
    clean = df.filter(
        F.col(value_col).isNotNull()
        & ~F.isnan(F.col(value_col).cast("double"))
    )
    return (
        clean.groupBy(F.col(group_col), bin_col.alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("bin_lo", F.lit(lo) + F.col("bin") * F.lit(w))
        .withColumn("bin_hi", F.lit(lo) + (F.col("bin") + 1) * F.lit(w))
    )


def psi_drift(
    ref: DataFrame,
    cur: DataFrame,
    group_col: str,
    value_col: str,
    lo: float,
    hi: float,
    n_bins: int = 10,
) -> DataFrame:
    """Population Stability Index per group between a reference and a
    current sample: PSI = Σ_bins (q_b − p_b)·ln(q_b / p_b) over fixed
    equi-width bins — the standard drift gate for feature/score
    distributions (rule of thumb: <0.1 stable, >0.25 shifted).

    Bins are the ``histogram_fixed`` bins (same clamp/NULL/NaN
    contract); proportions are Laplace-smoothed ((n_b+1)/(N+B)) so an
    empty bin on either side contributes a finite term instead of
    ±inf. Each bin's term is quantized to integer micro-units before
    the per-group sum, so the result is independent of aggregation
    order and engine.

    Returns (group, psi, n_ref, n_cur). Scale: two histogram passes
    (each one map-side-combining aggregate) + a join on (group, bin) ×
    a B-row grid — nothing proportional to row count crosses a second
    shuffle. Groups absent from either sample are omitted (PSI against
    an empty sample is undefined).
    """
    h_ref = histogram_fixed(ref, group_col, value_col, lo, hi, n_bins).select(
        group_col, "bin", F.col("n").alias("nr")
    )
    h_cur = histogram_fixed(cur, group_col, value_col, lo, hi, n_bins).select(
        group_col, "bin", F.col("n").alias("nc")
    )
    tr = h_ref.groupBy(group_col).agg(F.sum("nr").alias("tr"))
    tc = h_cur.groupBy(group_col).agg(F.sum("nc").alias("tc"))
    # Full (group, bin) grid over groups present in BOTH samples, so
    # empty bins still contribute their smoothed term.
    grid = (
        tr.join(tc, group_col)
        .select(
            group_col,
            "tr",
            "tc",
            F.explode(F.sequence(F.lit(0), F.lit(n_bins - 1))).alias("bin"),
        )
    )
    joined = (
        grid.join(h_ref, [group_col, "bin"], "left")
        .join(h_cur, [group_col, "bin"], "left")
        .select(
            group_col,
            "tr",
            "tc",
            F.coalesce("nr", F.lit(0)).alias("nr"),
            F.coalesce("nc", F.lit(0)).alias("nc"),
        )
    )
    p = (joined["nr"] + F.lit(1)) / (joined["tr"] + F.lit(n_bins))
    qq = (joined["nc"] + F.lit(1)) / (joined["tc"] + F.lit(n_bins))
    term = (qq - p) * F.log(qq / p)
    return (
        joined.withColumn(
            "__t", F.floor(term * F.lit(1e6)).cast("long")
        )
        .groupBy(group_col)
        .agg(
            (F.sum("__t") / F.lit(1e6)).alias("psi"),
            F.first("tr").alias("n_ref"),
            F.first("tc").alias("n_cur"),
        )
    )


def trend_slope(
    df: DataFrame,
    key_cols: Sequence[str],
    x_col: "F.Column",
    y_col: "F.Column",
) -> DataFrame:
    """Per-key ordinary-least-squares trend: (keys..., n, slope,
    intercept, r2) of y against x — the "is this metric drifting"
    primitive (per-user spend trend, per-feature decay, per-shard
    latency creep) a monitoring pass runs over billions of keys.

    Shape: ONE groupBy computing the five OLS sufficient statistics
    (n, Σx, Σy, Σxy, Σx², Σy²) — every one a plain sum, so the whole
    operator is a single fully map-side-combinable aggregate: the only
    shuffle carries 6 numbers per key regardless of group size. That is
    the 100 TB plan; there is no second pass, window, or join.

    Determinism: callers pass x as an exact INTEGER column (e.g.
    seconds from a fixed epoch) and y is quantized here to integer
    cents, so all six statistics are exact integer/decimal sums —
    aggregation-order independent. decimal(38,0) keeps Σxy/Σx² exact
    far past int64 (x·y_cents products overflow bigint at corpus
    scale). The final slope/intercept/r2 are a fixed tree of double ops
    over those exact stats, identical on any engine.

    Groups need n ≥ 2 and x-variance > 0 (vertical stacks have no
    slope); r2 is null when y has zero variance (0/0 by convention).
    """
    stats = trend_stats(df, key_cols, x_col, y_col)
    return ols_finish(stats, key_cols)


def trend_stats(
    df: DataFrame,
    key_cols: Sequence[str],
    x_col: "F.Column",
    y_col: "F.Column",
    wide: bool = False,
) -> DataFrame:
    """The sufficient-statistics half of trend_slope: per-key exact
    (n, Σx, Σy, Σxy, Σx², Σy²). Split out because every sum is
    ASSOCIATIVE — the same aggregate runs unchanged as a Structured
    Streaming stateful aggregation (state = a handful of numbers per
    key, incremental updates, exact parity with the batch result
    whatever the micro-batch boundaries). ols_finish() turns either
    engine's stats into the final slopes.

    Arithmetic: the default path keeps every accumulator a LONG inside
    whole-stage codegen by splitting each product into exact hi/lo
    halves — p = (p >> 31)·2³¹ + (p & (2³¹−1)) holds for any int64
    under arithmetic shift, and each half is summed as a plain bigint
    (measured 1.8× faster than decimal(38,0) sums at sf100, whose
    per-row BigDecimal accumulation falls off the primitive fast
    path). The halves recombine to the same decimal(38,0) columns
    AFTER the aggregate — one decimal op per GROUP, not per row — so
    the output schema and values are bit-identical to the wide path.
    Exactness requires |x| < 2³¹ (seconds within ±68 years of the
    epoch), |ŷ| < 2³¹ (quantized cents within ±$21M), and n < 2³¹ per
    key: per-row products then stay under 2⁶² and no intermediate sum
    can wrap. The bounds are ENFORCED, not assumed — max(|x|),
    max(|ŷ|) ride the same aggregate and a violating group raises
    with a pointer to ``wide=True`` (unbounded decimal sums) rather
    than returning silently-wrapped sums.
    """
    yq_l = F.floor(y_col * F.lit(100.0) + F.lit(0.5)).cast("long")
    xl = x_col.cast("long")
    base = df.filter(
        y_col.isNotNull() & ~F.isnan(y_col) & x_col.isNotNull()
    )
    if wide:
        yq = yq_l.cast("decimal(38,0)")
        xd = xl.cast("decimal(38,0)")
        return base.groupBy(*key_cols).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(xd).alias("sx"),
            F.sum(yq).alias("sy"),
            F.sum(xd * yq).alias("sxy"),
            F.sum(xd * xd).alias("sxx"),
            F.sum(yq * yq).alias("syy"),
        )

    mask = F.lit((1 << 31) - 1)
    bound = F.lit(1 << 31).cast("long")

    def _hi(c):
        return F.shiftright(c, 31)

    def _lo(c):
        return c.bitwiseAND(mask)

    # try_multiply: under ANSI mode a plain * throws ARITHMETIC_OVERFLOW
    # at the first out-of-bounds row with no pointer to the fix; NULL
    # products can't corrupt the sums because any product that overflows
    # int64 implies |x| or |yq| >= 2^31, which the max-abs guard below
    # turns into the explicit wide=True error.
    pxy = F.try_multiply(xl, yq_l)
    pxx = F.try_multiply(xl, xl)
    pyy = F.try_multiply(yq_l, yq_l)
    agg = base.groupBy(*key_cols).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(xl).alias("__sx_l"),
        F.sum(yq_l).alias("__sy_l"),
        F.sum(_hi(pxy)).alias("__sxy_h"),
        F.sum(_lo(pxy)).alias("__sxy_l"),
        F.sum(_hi(pxx)).alias("__sxx_h"),
        F.sum(_lo(pxx)).alias("__sxx_l"),
        F.sum(_hi(pyy)).alias("__syy_h"),
        F.sum(_lo(pyy)).alias("__syy_l"),
        F.max(F.abs(xl)).alias("__max_ax"),
        F.max(F.abs(yq_l)).alias("__max_ay"),
    )
    violated = (
        (F.col("__max_ax") >= bound)
        | (F.col("__max_ay") >= bound)
        | (F.col("n") >= bound)
    )
    shift = F.lit(1 << 31).cast("decimal(38,0)")

    def _join(h, l):
        guarded = F.when(
            violated,
            F.raise_error(
                F.lit(
                    "trend_stats fast path bounds exceeded (|x| or "
                    "quantized |y| >= 2^31, or n >= 2^31 in a group): "
                    "rerun with wide=True for unbounded decimal sums"
                )
            ).cast("long"),
        ).otherwise(F.col(h))
        return (
            guarded.cast("decimal(38,0)") * shift
            + F.col(l).cast("decimal(38,0)")
        )

    return agg.select(
        *key_cols,
        F.col("n"),
        F.col("__sx_l").cast("decimal(38,0)").alias("sx"),
        F.col("__sy_l").cast("decimal(38,0)").alias("sy"),
        _join("__sxy_h", "__sxy_l").alias("sxy"),
        _join("__sxx_h", "__sxx_l").alias("sxx"),
        _join("__syy_h", "__syy_l").alias("syy"),
    )


def ols_finish(stats: DataFrame, key_cols: Sequence[str]) -> DataFrame:
    """Finishing projection over trend_stats output: a fixed tree of
    double ops plus exact-integer variance gates — see trend_slope."""
    n = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double") / F.lit(100.0)
    sxy = F.col("sxy").cast("double") / F.lit(100.0)
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double") / F.lit(10000.0)
    cov_n = n * sxy - sx * sy
    varx_n = n * sxx - sx * sx
    vary_n = n * syy - sy * sy
    slope = cov_n / varx_n
    # Variance gates decided on the EXACT integer statistics, not their
    # double projections: n·Σx² − (Σx)² for an all-equal-x group is a
    # catastrophic cancellation in doubles (1e19 − 1e19), and whether
    # it lands on +0.0 or 1024.0 is fp luck — exact arithmetic makes
    # "vertical stack" and "constant y" true properties of the data.
    nd = F.col("n").cast("decimal(38,0)")
    varx_exact = nd * F.col("sxx") - F.col("sx") * F.col("sx")
    vary_exact = nd * F.col("syy") - F.col("sy") * F.col("sy")
    return (
        stats.filter((F.col("n") >= 2) & (varx_exact > F.lit(0)))
        .select(
            *key_cols,
            F.col("n").cast("long").alias("n"),
            slope.alias("slope"),
            ((sy - slope * sx) / n).alias("intercept"),
            F.when(
                vary_exact > F.lit(0), (cov_n * cov_n) / (varx_n * vary_n)
            ).alias("r2"),
        )
    )


def js_divergence(
    df: DataFrame,
    group_col: str,
    token_col: "F.Column",
) -> DataFrame:
    """Jensen-Shannon divergence (nats) between each group's token
    distribution and the whole corpus — "which source/shard/day reads
    differently" for corpus QA. Returns (group, js_nats, n_tokens).

    JS needs no smoothing: M = (P+Q)/2 is positive wherever either side
    is, and zero-P terms are handled in CLOSED FORM — a token absent
    from the group contributes exactly 0.5·Q·ln 2, so the whole
    absent-token mass collapses to 0.5·ln 2·(1 − Σ_{t∈g} Q_t), with
    Σ_{t∈g} Q_t derived from an EXACT integer sum of the group's own
    corpus counts. Nothing is ever materialized per (group, absent
    token): the naive |groups| × |vocab| grid this replaces was the
    query's dominant cost from sf10 on (a corpus-squared-ish join that
    only existed to emit rows whose value is a one-liner).

    Shape: one explode+count by (group, token) — the only shuffle that
    sees corpus-sized data; corpus token counts REUSE that aggregate's
    output (a second small agg over it, not a second scan); present
    rows join corpus counts ON TOKEN (gt-sized, same key as the corpus
    agg), per-group totals and the 1-row corpus total ride in by
    broadcast. Present terms are micro-nat quantized (floor·1e6 as
    bigint) before summing and the absent-mass term is one more floored
    micro-nat value per group, so the result is aggregation-order and
    engine independent.
    """
    gt = (
        df.select(F.col(group_col).alias("g"), token_col.alias("tok"))
        .select("g", F.explode("tok").alias("t"))
        .groupBy("g", "t")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # r16: gt is consumed FOUR times in the final plan (j, corpus — and
    # through corpus the 1-row total — and the per-group totals), and
    # Spark shares no subplans, so the corpus-sized explode+count ran
    # 4x. One lazy barrier materializes the (group, token, count)
    # aggregate once — post-shuffle vocab×groups rows, spill-safe —
    # measured better in all 3 alternating A/B samples at sf0.1
    # (BENCH_r16_probes.json agg_reuse: 1.02-1.13 s vs 1.31-1.47 s).
    from pyspark.storagelevel import StorageLevel

    gt = gt.localCheckpoint(
        eager=False, storageLevel=StorageLevel.MEMORY_AND_DISK
    )
    corpus = gt.groupBy("t").agg(F.sum("c").alias("ct"))
    totals = gt.groupBy("g").agg(F.sum("c").alias("tg"))
    total = corpus.agg(F.sum("ct").alias("tt"))
    j = (
        gt.join(corpus, "t")
        .join(F.broadcast(totals), "g")
        .crossJoin(F.broadcast(total))
    )
    p = F.col("c").cast("double") / F.col("tg").cast("double")
    qq = F.col("ct").cast("double") / F.col("tt").cast("double")
    m = (p + qq) / F.lit(2.0)
    term = p * F.log(p / m) / F.lit(2.0) + qq * F.log(qq / m) / F.lit(2.0)
    per_g = (
        j.withColumn("__t", F.floor(term * F.lit(1e6)).cast("long"))
        .groupBy("g")
        .agg(
            F.sum("__t").alias("__sp"),
            F.sum("ct").alias("__sg"),  # exact: Σ corpus counts of g's vocab
            F.first("tg").alias("tg"),
            F.first("tt").alias("tt"),
        )
    )
    absent = F.floor(
        F.log(F.lit(2.0))
        / F.lit(2.0)
        * (
            (F.col("tt") - F.col("__sg")).cast("double")
            / F.col("tt").cast("double")
        )
        * F.lit(1e6)
    ).cast("long")
    return per_g.select(
        F.col("g").alias(group_col),
        ((F.col("__sp") + absent) / F.lit(1e6)).alias("js_nats"),
        F.col("tg").cast("long").alias("n_tokens"),
    )


def _cents_sum_guard(max_abs_col: str, n_col: str, sum_col: str, op: str):
    """Exactness guard for Σ quantized-cents aggregates (the
    trend_stats discipline): the long sum is exact iff per-row
    |cents| < 2³¹ AND the group has < 2³¹ rows — then |Σ| < 2⁶² and
    nothing wraps. A violating group raises with the bound and the fix
    rather than returning a wrapped (ANSI off) or opaquely failed
    (ANSI on) mean."""
    bound = F.lit(1 << 31).cast("long")
    return F.when(
        (F.col(max_abs_col) >= bound) | (F.col(n_col) >= bound),
        F.raise_error(
            F.lit(
                f"{op} exact-cents bound exceeded: quantized |value| "
                "cents >= 2^31 (values beyond +/-$21M) or >= 2^31 rows "
                "in one group; rescale the value column first"
            )
        ).cast("long"),
    ).otherwise(F.col(sum_col))


def winsorize_stats(
    df: DataFrame,
    key_cols: Sequence[str],
    value_col: str,
    p_lo: float = 0.01,
    p_hi: float = 0.99,
) -> DataFrame:
    """Per-group winsorization summary: clip bounds at the p_lo/p_hi
    percentiles, how many rows each bound clipped, and the mean of the
    clipped values — the outlier-robust location estimate a feature/
    metrics pipeline reports instead of a raw mean that one fat-fingered
    value can drag anywhere.

    ONE scan builds the per-group value-frequency histogram —
    groupBy(keys, value) with a map-side-combining count, so what
    shuffles is |distinct (key, value)| rows, not |rows| (measurement
    values quantize heavily in practice: 100M sf100 event rows compact
    to ~280k). Exact percentiles then come from cumulative counts over
    the sorted histogram (``histogram_percentiles``), reproducing Spark
    ``percentile``'s interpolation arithmetic step for step, and the
    clip counts and winsorized mean are count-weighted sums over the
    SAME histogram — the raw rows are never touched again. Worst case
    (a truly continuous column, zero compaction) this degrades to an
    n-row shuffle and a spillable per-group sort — no per-group
    in-memory percentile buffer at any shape. Bit-identical to per-group
    exact ``percentile`` aggregates (parity-pinned in tests against
    that form, inlined there).

    Bounds are rounded to 1e-6 BEFORE clipping so the clip decision is
    a property of the data, not of which engine's linear interpolation
    landed 1e-12 away; the clipped mean uses the exact integer-cents
    sum under the enforced |cents| < 2³¹ bound (order-independent,
    same discipline as trend_stats).

    The histogram is lazily localCheckpointed so the bounds and stats
    branches share one scan; in a long-lived session scrub with
    spark.catalog.clearCache() between unrelated jobs (see
    _hashed_set_verify's cleanup note).

    Returns (keys..., p_lo_val, p_hi_val, n, n_clipped_lo,
    n_clipped_hi, win_mean).
    """
    from pyspark.storagelevel import StorageLevel

    keys = list(key_cols)
    v = F.col(value_col)
    r6 = lambda c: F.floor(c * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)  # noqa: E731
    hist = (
        df.filter(v.isNotNull() & ~F.isnan(v))
        .groupBy(*keys, value_col)
        .agg(F.count(F.lit(1)).alias("__c"))
        # both the bounds branch and the stats branch hang off this
        # frame; without materialization the full-table scan + partial
        # agg would run twice
        .localCheckpoint(eager=False, storageLevel=StorageLevel.MEMORY_AND_DISK)
    )
    pct = histogram_percentiles(
        hist, keys, value_col, "__c", {"lo": p_lo, "hi": p_hi}
    )
    bounds = pct.select(
        *keys,
        r6(F.col("lo")).alias("p_lo_val"),
        r6(F.col("hi")).alias("p_hi_val"),
    )
    # clipped stats from the SAME histogram: every row with value v
    # contributes identically, so per-row sums become count-weighted
    # sums over distinct values — the raw table is never re-read
    clipped = F.least(
        F.greatest(F.col("__v"), F.col("p_lo_val")), F.col("p_hi_val")
    )
    cq = F.floor(clipped * F.lit(100.0) + F.lit(0.5)).cast("long")
    agg = (
        hist.join(F.broadcast(bounds), keys)
        .select(
            *keys, F.col(value_col).alias("__v"), "__c", "p_lo_val", "p_hi_val"
        )
        .groupBy(*keys)
        .agg(
            F.first("p_lo_val").alias("p_lo_val"),
            F.first("p_hi_val").alias("p_hi_val"),
            F.sum("__c").alias("n"),
            F.sum(
                F.when(F.col("__v") < F.col("p_lo_val"), F.col("__c")).otherwise(
                    F.lit(0)
                )
            ).alias("n_clipped_lo"),
            F.sum(
                F.when(F.col("__v") > F.col("p_hi_val"), F.col("__c")).otherwise(
                    F.lit(0)
                )
            ).alias("n_clipped_hi"),
            F.sum(F.try_multiply(F.col("__c"), cq)).alias("__scq"),
            F.max(F.abs(cq)).alias("__max_acq"),
        )
    )
    return agg.select(
        *keys,
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


def histogram_percentiles(
    hist: DataFrame,
    key_cols: Sequence[str],
    value_col: str,
    count_col: str,
    probs: dict[str, float],
) -> DataFrame:
    """EXACT interpolated percentiles from a per-group value-frequency
    histogram (keys..., value, count) — the shared primitive behind
    ``winsorize_stats`` and the KLL validation path: cumulative
    counts over the sorted distinct values reproduce Spark
    ``percentile``'s interpolation arithmetic step for step
    (position = p·(n−1) in doubles; at a fractional position,
    (higher−pos)·v_lo + (pos−lower)·v_hi), so the result is
    bit-identical to the exact-buffer aggregate without any per-group
    memory buffer — worst case (zero compaction) degrades to a
    spillable n-row window sort.

    ``probs`` maps output column name -> p. Returns one row per group:
    (keys..., __n, <name> for each prob).
    """
    from pyspark.sql import Window

    keys = list(key_cols)
    v = F.col(value_col)
    w_cum = (
        Window.partitionBy(*keys)
        .orderBy(v)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy(*keys)
    # each histogram row (one DISTINCT value — the row frame is
    # tie-free by construction) covers 0-indexed ranks
    # [cum − c, cum − 1] of the group's sorted values
    ranked = hist.select(
        *keys,
        v.alias("__v"),
        F.col(count_col).alias("__c"),
        F.sum(count_col).over(w_cum).alias("__cum"),
        F.sum(count_col).over(w_all).alias("__n"),
    )
    sel = ["*"]
    for tag, p in probs.items():
        pos = F.lit(float(p)) * (F.col("__n") - F.lit(1)).cast("double")
        sel += [
            F.floor(pos).cast("long").alias(f"__l_{tag}"),
            F.ceil(pos).cast("long").alias(f"__h_{tag}"),
            pos.alias(f"__pos_{tag}"),
        ]
    with_pos = ranked.select(*sel)

    def rank_value(pos):
        # conditional-max extraction of the value at 0-indexed rank
        # ``pos``: exactly one histogram row's rank range covers it
        lo = F.col("__cum") - F.col("__c")
        return F.max(
            F.when((lo <= pos) & (pos < F.col("__cum")), F.col("__v"))
        )

    aggs = []
    for tag in probs:
        aggs += [
            rank_value(F.col(f"__l_{tag}")).alias(f"__vl_{tag}"),
            rank_value(F.col(f"__h_{tag}")).alias(f"__vh_{tag}"),
            F.max(f"__l_{tag}").alias(f"__l_{tag}"),
            F.max(f"__h_{tag}").alias(f"__h_{tag}"),
            F.max(f"__pos_{tag}").alias(f"__pos_{tag}"),
        ]
    aggs.append(F.max("__n").alias("__n"))
    agg = with_pos.groupBy(*keys).agg(*aggs)
    out = [*keys, F.col("__n")]
    for tag in probs:
        l, h, pos = (
            F.col(f"__l_{tag}"),
            F.col(f"__h_{tag}"),
            F.col(f"__pos_{tag}"),
        )
        vl, vh = F.col(f"__vl_{tag}"), F.col(f"__vh_{tag}")
        out.append(
            F.when(l == h, vl)
            .otherwise(
                (h.cast("double") - pos) * vl + (pos - l.cast("double")) * vh
            )
            .alias(tag)
        )
    return agg.select(*out)


def vector_profile(df: DataFrame, vec_col: str, dim: int) -> DataFrame:
    """Vector data-quality profile — the embedding-column sibling of
    profile_columns, the QA gate an embedding-ingest pipeline runs
    before indexing: ONE row of (n_vectors, n_null, n_wrong_dim,
    n_nonfinite, n_zero, min/max/mean norm²) from ONE scan and ONE
    aggregate (no per-check passes).

    Norm² is a per-row left-to-right fold over the array (the same
    fold-order parity contract the cosine oracles pin), rounded to
    6 dp per row BEFORE min/max (order-independent extremes) and
    micro-quantized before the mean (exact integer partial sums, so
    the mean is independent of partitioning). Rows counted
    ``n_nonfinite`` (any NULL/NaN/±Inf element) are excluded from the
    norm statistics — a NaN would otherwise poison every aggregate
    silently; here it is a counted, visible defect class. NULL
    elements are in that class too (ADVICE r14: F.exists skips them,
    so a null-element vector used to read as clean while its norm²
    folded to NULL and silently dropped out of the mean's numerator
    but not its denominator)."""
    v = F.col(vec_col)
    is_null = v.isNull()
    wrong = (~is_null) & (F.size(v) != dim)
    ok = (~is_null) & (F.size(v) == dim)
    nonfinite = ok & F.exists(
        v,
        lambda x: x.isNull() | F.isnan(x) | (F.abs(x) == F.lit(float("inf"))),
    )
    clean = ok & ~nonfinite
    norm2 = F.aggregate(
        v, F.lit(0.0), lambda acc, x: acc + x.cast("double") * x.cast("double")
    )
    n2r = F.floor(norm2 * 1e6 + F.lit(0.5)) / F.lit(1e6)
    n2m = F.floor(norm2 * 1e6 + F.lit(0.5)).cast("long")
    return df.agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.sum(is_null.cast("long")).alias("n_null"),
        F.sum(wrong.cast("long")).alias("n_wrong_dim"),
        F.sum(nonfinite.cast("long")).alias("n_nonfinite"),
        F.sum((clean & (norm2 == 0.0)).cast("long")).alias("n_zero"),
        F.min(F.when(clean, n2r)).alias("min_norm2"),
        F.max(F.when(clean, n2r)).alias("max_norm2"),
        (
            F.floor(
                F.sum(F.when(clean, n2m)).cast("double")
                / F.greatest(F.sum(clean.cast("long")), F.lit(1))
                + F.lit(0.5)
            )
            / F.lit(1e6)
        ).alias("mean_norm2"),
    )
