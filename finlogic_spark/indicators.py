"""Indicator derivation — the engine's one non-trivial dataflow DAG.

Semantics mirror the reference's indicator build (reference:
src/finlogic/indicators.py:25-159): filter to the 17 indicator account
codes → dedupe to one value per logical key → pivot long→wide per
reporting cadence (annual/quarterly) → derived balance columns →
trailing-average window columns → quarterly keep-latest → guarded
ratios → union. Here the whole thing is ONE lazy Spark DAG: a single
shuffle for the dedup window, map-side pivot aggregation with an
explicit value list (no distinct-collection job), one window shuffle
for the lags, and AQE handles skewed hot companies.

Documented deviations from Polars semantics (SURVEY.md §4.3):
- Division by zero yields null (Polars: inf/NaN). The only unguarded
  ratio is ``effective_tax_rate``; all others carry the reference's own
  CUT_OFF guards, so they match exactly.
- Row order inside groups is explicit (``period_end``), not physical.
- Duplicate-key resolution before the pivot uses an explicit ingestion
  sequence column (``entry_id``) when present; the reference relied on
  file row order, which does not exist on a cluster.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from finlogic_spark.operators.dedup import keep_last
from finlogic_spark.operators.reshape import pivot_wide
from finlogic_spark.operators.windows import lag_smooth

TAX_RATE = 0.34
CUT_OFF_VALUE = 1_000_000

# Account code → indicator name (reference: src/finlogic/indicators.py:4-22;
# this mapping is the public API surface of the indicators table).
INDICATORS_CODES = {
    "1": "total_assets",
    "1.01": "current_assets",
    "1.01.01": "cash_equivalents",
    "1.01.02": "financial_investments",
    "2.01": "current_liabilities",
    "2.01.04": "short_term_debt",
    "2.02.01": "long_term_debt",
    "2.03": "equity",
    "3.01": "revenues",
    "3.03": "gross_profit",
    "3.05": "ebit",
    "3.07": "ebt",
    "3.08": "effective_tax",
    "3.11": "net_income",
    "6.01": "operating_cash_flow",
    "6.01.01.04": "depreciation_amortization",
    "3.99.01.01": "eps",
}

# Currency-denominated indicator columns (unit scaling applies; EPS never
# scales — reference src/finlogic/indicators.py:162-184).
CURRENCY_COLS = [
    "total_assets",
    "current_assets",
    "current_liabilities",
    "equity",
    "revenues",
    "gross_profit",
    "ebit",
    "ebt",
    "effective_tax",
    "net_income",
    "operating_cash_flow",
    "depreciation_amortization",
    "total_cash",
    "total_debt",
    "net_debt",
    "working_capital",
    "ebitda",
    "invested_capital",
]

# Canonical indicator display order (reference src/finlogic/indicators.py:188-216).
INDICATOR_ORDER = [
    "total_assets",
    "current_assets",
    "total_cash",
    "working_capital",
    "invested_capital",
    "current_liabilities",
    "total_debt",
    "net_debt",
    "equity",
    "revenues",
    "gross_profit",
    "net_income",
    "ebitda",
    "ebit",
    "ebt",
    "effective_tax",
    "operating_cash_flow",
    "depreciation_amortization",
    "effective_tax_rate",
    "return_on_assets",
    "return_on_equity",
    "roic",
    "gross_margin",
    "ebitda_margin",
    "operating_margin",
    "net_margin",
    "eps",
]

_GROUP = ["cvm_id", "is_annual", "is_consolidated"]
_PIVOT_INDEX = ["cvm_id", "name_id", "is_annual", "is_consolidated", "period_end"]


def _guarded(num, den, guard_col, cutoff: float = CUT_OFF_VALUE):
    """reference-style ratio guard: 0.0 unless guard_col > cutoff."""
    return F.when(guard_col > cutoff, num / den).otherwise(F.lit(0.0))


def _cadence_indicators(wide: DataFrame, is_annual: bool) -> DataFrame:
    """Derived + averaged + ratio columns for one reporting cadence."""
    df = wide.withColumns(
        {
            "total_cash": F.col("cash_equivalents") + F.col("financial_investments"),
            "total_debt": F.col("short_term_debt") + F.col("long_term_debt"),
        }
    ).drop("cash_equivalents", "financial_investments", "short_term_debt", "long_term_debt")

    df = df.withColumns(
        {
            "working_capital": F.col("current_assets") - F.col("current_liabilities"),
            # Unguarded in the reference; Spark yields null on ebt == 0
            # (documented deviation — Polars would yield ±inf/NaN).
            "effective_tax_rate": -F.col("effective_tax") / F.col("ebt"),
            "ebitda": F.col("ebit") + F.col("depreciation_amortization"),
            "invested_capital": F.col("total_debt") + F.col("equity") - F.col("total_cash"),
            "net_debt": F.col("total_debt") - F.col("total_cash"),
        }
    )

    # Trailing 2-period averages: annual prefers lag-1; quarterly prefers
    # same-quarter-last-year (lag 4), else previous quarter (lag 1), else
    # the current value. One window spec → one shuffle for all three.
    lags = (1,) if is_annual else (4, 1)
    df = df.withColumns(
        {
            f"avg_{c}": (
                F.col(c) + lag_smooth(c, _GROUP, "period_end", lags)
            ) / F.lit(2.0)
            for c in ("invested_capital", "total_assets", "equity")
        }
    )

    if not is_annual:
        # Keep each company's latest quarter only; drop rows lacking
        # history (null trailing averages). Subset excludes
        # effective_tax_rate: it is null-on-zero here but inf in Polars,
        # and the reference's drop_nulls never saw a null there.
        df = keep_last(df, _GROUP, ["period_end"]).na.drop(
            "any", subset=["avg_invested_capital", "avg_total_assets", "avg_equity"]
        )

    rev = F.col("revenues")
    df = df.withColumns(
        {
            "gross_margin": _guarded(F.col("gross_profit"), rev, rev),
            "ebitda_margin": _guarded(F.col("ebitda"), rev, rev),
            "operating_margin": _guarded(F.col("ebit"), rev, rev),
            "net_margin": _guarded(F.col("net_income"), rev, rev),
        }
    )
    nopat = F.col("ebit") * (1 - TAX_RATE)
    df = df.withColumns(
        {
            "return_on_assets": _guarded(nopat, F.col("avg_total_assets"), F.col("avg_total_assets")),
            "return_on_equity": _guarded(nopat, F.col("avg_equity"), F.col("avg_equity")),
            "roic": _guarded(nopat, F.col("avg_invested_capital"), F.col("avg_invested_capital")),
        }
    )
    return df.drop("avg_total_assets", "avg_equity", "avg_invested_capital")


def build_indicators(financials: DataFrame, entry_order_col: str | None = None) -> DataFrame:
    """financials (long form) → wide indicators table, lazily.

    ``entry_order_col``: ingestion-sequence column for deterministic
    duplicate resolution (keep the latest-ingested value per logical
    key). Without it, the max ``acc_value`` is kept — deterministic,
    unlike relying on physical row order.
    """
    codes = list(INDICATORS_CODES)
    base = financials.filter(F.col("acc_code").isin(codes)).select(
        *_PIVOT_INDEX, "acc_code", "acc_value",
        *([entry_order_col] if entry_order_col else []),
    )
    key = ["cvm_id", "is_consolidated", "acc_code", "period_end"]
    if entry_order_col:
        base = keep_last(base, key, [entry_order_col]).drop(entry_order_col)
    else:
        base = keep_last(base, key, ["acc_value"])

    def cadence(flag: bool) -> DataFrame:
        wide = pivot_wide(
            base.filter(F.col("is_annual") == flag),
            index=_PIVOT_INDEX,
            on="acc_code",
            values="acc_value",
            pivot_values=codes,  # explicit list: no distinct-collection job
            agg="first",  # exact: upstream dedup guarantees one row per key
            fill=0.0,
        )
        renamed = wide.withColumnsRenamed(INDICATORS_CODES)
        return _cadence_indicators(renamed, flag)

    return cadence(True).unionByName(cadence(False))


def adjust_unit(df: DataFrame, unit: float) -> DataFrame:
    """Divide currency columns by unit; EPS and ratios untouched."""
    present = [c for c in CURRENCY_COLS if c in df.columns]
    return df.withColumns({c: F.col(c) / F.lit(unit) for c in present})


def format_indicators(df: DataFrame, unit: float) -> DataFrame:
    """Wide indicators → display pivot: one row per indicator, one
    column per period (presentation edge only — the canonical form
    stays wide-by-indicator).

    Meant for one company's rows: the period set is collected with one
    small aggregate and named explicitly, so the pivot is a single
    conditional aggregation with no distinct-collection job, and the
    27 output rows are ordered in one partition, not by a range sort."""
    df = adjust_unit(df, unit)
    melt_cols = ["cvm_id", "name_id", "is_annual", "is_consolidated", "period_end"]
    value_cols = [c for c in df.columns if c not in melt_cols]
    long = df.unpivot(melt_cols, value_cols, "indicator", "value").withColumn(
        "period_end", F.col("period_end").cast("string")
    )
    periods = sorted(
        df.agg(F.collect_set(F.col("period_end").cast("string"))).first()[0]
    )
    keys = ["cvm_id", "is_consolidated", "indicator"]
    cells = [
        F.first(
            F.when(F.col("period_end") == F.lit(p), F.col("value")),
            ignorenulls=True,
        ).alias(p)
        for p in periods
    ]
    out = long.groupBy(*keys).agg(*cells) if cells else long.select(*keys).distinct()
    order = F.array(*[F.lit(i) for i in INDICATOR_ORDER])
    return (
        out.withColumn("_order", F.array_position(order, F.col("indicator")))
        .filter(F.col("_order") > 0)
        .coalesce(1)
        .sortWithinPartitions("_order")
        .drop("_order")
    )
