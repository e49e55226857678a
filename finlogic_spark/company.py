"""Company — per-company reports and indicators
(reference: src/finlogic/company.py).

Validated mutable properties re-derive state like the reference, but
"state" here is a cheap lazy plan rebuild; the only eager work per
re-set is one aggregate collect for the period boundaries and the row
count (the same driver boundary the reference has,
src/finlogic/company.py:267-278).

Each call runs a small, fixed number of Spark jobs: per-call fixed cost,
not data volume, dominates an interactive session on one company's few
hundred accounts. ``report`` collects its period set with one small
aggregate and names every period column explicitly, so the table is one
``groupBy("acc_code")`` aggregation ordered inside one partition.
"""

from __future__ import annotations

from typing import Literal

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from finlogic_spark import indicators as ic
from finlogic_spark.api import Engine
from finlogic_spark.functions import hierarchy_depth, multi_prefix
from finlogic_spark.session import local_frame

# acc_code first segment selects the statement; prefix lists per report
# type (reference: src/finlogic/company.py:449-464).
REPORT_TYPES: dict[str, list[str]] = {
    "balance_sheet": ["1", "2"],
    "assets": ["1"],
    "cash": ["1.01.01", "1.01.02"],
    "current_assets": ["1.01"],
    "non_current_assets": ["1.02"],
    "liabilities": ["2.01", "2.02"],
    "debt": ["2.01.04", "2.02.01"],
    "current_liabilities": ["2.01"],
    "non_current_liabilities": ["2.02"],
    "liabilities_and_equity": ["2"],
    "equity": ["2.03"],
    "income_statement": ["3"],
    "earnings_per_share": ["3.99"],
    "cash_flow": ["6"],
}

ACC_UNITS = {"t": 1_000.0, "m": 1_000_000.0, "b": 1_000_000_000.0}


class Company:
    def __init__(
        self,
        engine: Engine,
        identifier: int | str,
        is_consolidated: bool = True,
        acc_unit: float | Literal["t", "m", "b"] = 1.0,
        tax_rate: float = 0.34,
        language: Literal["english", "portuguese"] = "english",
    ):
        self._engine = engine
        self._initialized = False
        self.identifier = identifier
        self.is_consolidated = is_consolidated
        self.acc_unit = acc_unit
        self.tax_rate = tax_rate
        self.language = language
        self._initialized = True
        self._set_df()

    # ---- validated properties (semantics: company.py:94-246) ----
    @property
    def identifier(self) -> int | str:
        return self._identifier

    @identifier.setter
    def identifier(self, identifier: int | str):
        col = "cvm_id" if isinstance(identifier, int) else "tax_id"
        row = (
            self._engine.financials.select("cvm_id", "tax_id", "name_id")
            .filter(F.col(col) == identifier)
            .first()
        )
        if row is None:
            raise KeyError(f"Company 'identifier' {identifier} not found.")
        self._cvm_id = row["cvm_id"]
        self.tax_id = row["tax_id"]
        self.name_id = row["name_id"]
        self._identifier = identifier
        if self._initialized:
            self._set_df()

    @property
    def is_consolidated(self) -> bool:
        return self._is_consolidated

    @is_consolidated.setter
    def is_consolidated(self, value: bool):
        if not isinstance(value, bool):
            raise ValueError("Company 'is_consolidated' value is invalid")
        self._is_consolidated = value
        if self._initialized:
            self._set_df()

    @property
    def acc_unit(self) -> float:
        return self._acc_unit

    @acc_unit.setter
    def acc_unit(self, value):
        if isinstance(value, str):
            if value not in ACC_UNITS:
                raise ValueError("Invalid string for Accounting Unit")
            self._acc_unit = ACC_UNITS[value]
        elif isinstance(value, (int, float)) and value > 0:
            self._acc_unit = float(value)
        else:
            raise ValueError("Accounting Unit is invalid")
        if self._initialized:
            self._set_df()

    @property
    def tax_rate(self) -> float:
        return self._tax_rate

    @tax_rate.setter
    def tax_rate(self, value: float):
        if not (0 <= value <= 1):
            raise ValueError("Company 'tax_rate' value is invalid")
        self._tax_rate = value

    @property
    def language(self) -> str:
        return self._language

    @language.setter
    def language(self, language: str):
        if language.lower() not in ("english", "portuguese"):
            raise KeyError(
                f"'{language}' not supported. Supported languages: english, portuguese"
            )
        self._language = language.capitalize()

    # ---- state (company.py:248-281) ----
    def _set_df(self) -> None:
        df = self._engine.financials.filter(
            (F.col("cvm_id") == self._cvm_id)
            & (F.col("is_consolidated") == self._is_consolidated)
        )
        # Unit scaling, EPS accounts (3.99*) exempt (company.py:259-265).
        df = df.withColumn(
            "acc_value",
            F.when(
                ~F.col("acc_code").startswith("3.99"),
                F.col("acc_value") / F.lit(self._acc_unit),
            ).otherwise(F.col("acc_value")),
        )
        # ONE eager collect for the period boundaries and the row count.
        bounds = df.agg(
            F.count("*").alias("rows"),
            F.min("period_end").alias("first"),
            F.max("period_end").alias("last"),
            F.max(F.when(F.col("is_annual"), F.col("period_end"))).alias("last_annual"),
            F.max(F.when(~F.col("is_annual"), F.col("period_end"))).alias("last_quarterly"),
        ).first()
        self._n_rows = bounds["rows"]
        self._first_period = bounds["first"]
        self._last_period = bounds["last"]
        self._last_annual = bounds["last_annual"]
        if self._last_period == self._last_annual:
            self._last_period_type = "annual"
            self._last_quarterly = None
        else:
            self._last_period_type = "quarterly"
            self._last_quarterly = bounds["last_quarterly"]
        self._df = df.drop("name_id", "cvm_id", "tax_id", "is_consolidated")

    def info(self) -> DataFrame:
        rows = [
            ("Name", str(self.name_id)),
            ("CVM ID", str(self._cvm_id)),
            ("Fiscal ID (CNPJ)", str(self.tax_id)),
            ("Total Accounting Rows", str(self._n_rows)),
            (
                "Selected Accounting Method",
                "consolidated" if self._is_consolidated else "separate",
            ),
            ("Selected Accounting Unit", str(self._acc_unit)),
            ("Selected Tax Rate", str(self._tax_rate)),
            ("First Report", str(self._first_period)),
            ("Last Report", str(self._last_period)),
        ]
        return local_frame(
            self._engine.spark, rows, "key string, `Company Info` string"
        )

    # ---- report pipeline (company.py:310-477) ----
    def _period_label(self, period) -> str:
        """"yyyy-MM-dd", with " ltm" on a trailing quarterly period."""
        label = period.isoformat()
        if period == self._last_period and self._last_period_type == "quarterly":
            label += " ltm"
        return label

    def _build_report(self, dfi: DataFrame, periods: list) -> DataFrame:
        """One row per acc_code: its latest acc_name and one column per
        period, 0.0 where the account has no value. The reference's
        per-period loop-join (company.py:323-336) is one conditional
        aggregation over explicit period columns here. The output is
        one company's few hundred accounts, so it is ordered in a
        single partition instead of through a range-partitioning sort."""
        labels = sorted((self._period_label(p), p) for p in periods)
        cells = [
            F.coalesce(
                F.first(
                    F.when(F.col("period_end") == F.lit(p), F.col("acc_value")),
                    ignorenulls=True,
                ),
                F.lit(0.0),
            ).alias(label)
            for label, p in labels
        ]
        return (
            dfi.groupBy("acc_code")
            .agg(F.max_by("acc_name", "period_end").alias("acc_name"), *cells)
            .coalesce(1)
            .sortWithinPartitions("acc_code")
        )

    def _remove_not_last_quarters(self, df: DataFrame) -> DataFrame:
        return df.filter(
            F.col("is_annual") | (F.col("period_end") == F.lit(self._last_period))
        )

    def report(
        self, report_type: str, acc_level: int = 0, num_years: int = 0
    ) -> DataFrame:
        if acc_level not in (0, 1, 2, 3, 4):
            raise ValueError("acc_level expects 0, 1, 2, 3 or 4")
        if report_type not in REPORT_TYPES:
            raise ValueError(f"Invalid report_type: {report_type}")
        df = self._remove_not_last_quarters(self._df)
        if acc_level:
            df = df.filter(hierarchy_depth("acc_code") <= acc_level)
        df = df.filter(multi_prefix("acc_code", REPORT_TYPES[report_type]))
        # The report's period set: one small aggregate over the
        # company's filtered rows, collected once.
        periods = sorted(df.agg(F.collect_set("period_end")).first()[0])
        if num_years:
            periods = periods[-num_years:]
            df = df.filter(F.col("period_end").isin(periods))
        if self._language == "English":
            lang = self._engine.language
            df = (
                df.join(
                    F.broadcast(lang),
                    df["acc_name"] == lang["pt"],
                    "left",
                )
                .withColumn(
                    "acc_name",
                    F.coalesce(F.col("en"), F.concat(F.lit("(pt) "), F.col("acc_name"))),
                )
                .drop("pt", "en")
            )
        return self._build_report(df, periods)

    def custom_report(self, acc_list: list[str], num_years: int = 0) -> DataFrame:
        df_bs = self.report("balance_sheet", num_years=num_years)
        df_is = self.report("income_statement", num_years=num_years)
        df_cf = self.report("cash_flow", num_years=num_years)
        out = df_bs.unionByName(df_is, allowMissingColumns=True).unionByName(
            df_cf, allowMissingColumns=True
        )
        return out.filter(F.col("acc_code").isin(acc_list))

    def indicators(self, num_years: int = 0) -> DataFrame:
        df = self._engine.indicators.filter(
            (F.col("cvm_id") == self._cvm_id)
            & (F.col("is_consolidated") == self._is_consolidated)
        )
        df = ic.format_indicators(df, unit=self._acc_unit)
        df = df.drop("cvm_id", "is_consolidated")
        if num_years > 0:
            period_cols = df.columns[1:]
            df = df.select("indicator", *period_cols[-num_years:])
        return df
