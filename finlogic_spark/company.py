"""Company — per-company reports and indicators
(reference: src/finlogic/company.py).

One company's statements are bounded by years × periods × accounts (a
few thousand rows) however large the financials grow, and the
reference answers ``report`` and ``indicators`` with a small in-memory
pivot over them. Here too:

- setting the identifier runs ONE Spark job, a filtered ``toArrow()``
  of the cached financials (both consolidation flags); the name, tax
  id, row count and period bounds come from those rows, so re-setting
  ``is_consolidated`` or ``acc_unit`` runs no job;
- ``report`` filters, dedups, translates and pivots them on the driver
  and returns a ``local_frame``: no job;
- ``indicators`` fetches the company's indicator rows with one
  ``toArrow()`` on its first call and pivots them on the driver
  (``indicators.format_rows``); repeats and re-sets run no job.

Each fetch is one filtered scan of a cached table at any data size.
``spark.driver.maxResultSize`` bounds the transfer: a company over it
fails the fetch with Spark's error for that limit. It does not bound
the driver-side copy. The fetched rows stay columnar in Arrow, but the
selected consolidation flag's rows become Python dicts for the pivot,
several times their Arrow size, so a result just under the limit can
still need more driver memory than the limit suggests.
"""

from __future__ import annotations

from typing import Literal

import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from finlogic_spark import indicators as ic
from finlogic_spark.api import Engine
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

# The financials columns a report reads (plus the Engine's entry order).
_FETCH_COLS = (
    "cvm_id", "name_id", "tax_id", "is_consolidated", "is_annual",
    "period_end", "acc_code", "acc_name", "acc_value",
)


def _desc_rank(v):
    """Sort key of Spark's descending order: nulls last, NaN above
    every number."""
    if v is None:
        return (0, 0)
    return (2, 0) if v != v else (1, v)


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
        self._set_rows()

    # ---- validated properties (semantics: company.py:94-246) ----
    @property
    def identifier(self) -> int | str:
        return self._identifier

    @identifier.setter
    def identifier(self, identifier: int | str):
        col = "cvm_id" if isinstance(identifier, int) else "tax_id"
        order = self._engine.entry_order_col
        fetched = (
            self._engine.financials.filter(F.col(col) == identifier)
            .select(*_FETCH_COLS, *([order] if order else []))
            .toArrow()
        )
        if not fetched.num_rows:
            raise KeyError(f"Company 'identifier' {identifier} not found.")
        first = fetched.slice(0, 1).to_pylist()[0]
        self._cvm_id = first["cvm_id"]
        self.tax_id = first["tax_id"]
        self.name_id = first["name_id"]
        self._fetched = fetched.filter(pc.equal(fetched["cvm_id"], self._cvm_id))
        self._indicator_rows = None
        self._identifier = identifier
        if self._initialized:
            self._set_rows()

    @property
    def is_consolidated(self) -> bool:
        return self._is_consolidated

    @is_consolidated.setter
    def is_consolidated(self, value: bool):
        if not isinstance(value, bool):
            raise ValueError("Company 'is_consolidated' value is invalid")
        self._is_consolidated = value
        if self._initialized:
            self._set_rows()

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
    def _set_rows(self) -> None:
        """The selected statements of the fetched rows and their bounds."""
        fetched = self._fetched
        rows = fetched.filter(
            pc.equal(fetched["is_consolidated"], self._is_consolidated)
        ).to_pylist()
        periods = [r["period_end"] for r in rows if r["period_end"] is not None]
        last_annual = max(
            (r["period_end"] for r in rows if r["is_annual"] and r["period_end"] is not None),
            default=None,
        )
        self._n_rows = len(rows)
        self._first_period = min(periods, default=None)
        self._last_period = max(periods, default=None)
        self._last_period_type = (
            "annual" if self._last_period == last_annual else "quarterly"
        )
        # One row per (acc_code, period_end): the latest entry, or the
        # largest value without an entry order (build_indicators' D5).
        order = self._engine.entry_order_col or "acc_value"
        ranked = sorted(rows, key=lambda r: _desc_rank(r[order]))
        self._rows = list({(r["acc_code"], r["period_end"]): r for r in ranked}.values())

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

    def _acc_name(self, pt: str | None) -> str | None:
        if self._language != "English" or pt is None:
            return pt
        en = self._engine.language_names.get(pt)
        return en if en is not None else f"(pt) {pt}"

    def _report_rows(
        self, report_type: str, acc_level: int, num_years: int
    ) -> tuple[list[str], list[tuple]]:
        """(period labels, rows): one row per acc_code in code order, its
        latest acc_name and one value per period, 0.0 where the account
        has none. The reference's per-period loop-join
        (company.py:323-336) is one pass over the company's rows."""
        if acc_level not in (0, 1, 2, 3, 4):
            raise ValueError("acc_level expects 0, 1, 2, 3 or 4")
        if report_type not in REPORT_TYPES:
            raise ValueError(f"Invalid report_type: {report_type}")
        prefixes = tuple(REPORT_TYPES[report_type])
        rows = [
            r
            for r in self._rows
            if (r["is_annual"] or r["period_end"] == self._last_period)
            and (r["acc_code"] or "").startswith(prefixes)
            # depth = separators + 1 (functions.hierarchy_depth)
            and (not acc_level or r["acc_code"].count(".") < acc_level)
        ]
        periods = sorted({r["period_end"] for r in rows} - {None})
        if num_years:
            periods = periods[-num_years:]
            kept = set(periods)
            rows = [r for r in rows if r["period_end"] in kept]
        named: dict = {}  # acc_code -> (period_end, acc_name)
        cells: dict = {}  # acc_code -> {period_end: value}
        for r in rows:
            code, period, value = r["acc_code"], r["period_end"], r["acc_value"]
            by_period = cells.setdefault(code, {})
            if period is None:
                continue
            if code not in named or period > named[code][0]:
                named[code] = (period, r["acc_name"])
            # Unit scaling, EPS accounts (3.99*) exempt (company.py:259-265).
            if value is not None and not code.startswith("3.99"):
                value = value / self._acc_unit
            by_period[period] = value
        out = [
            (
                code,
                self._acc_name(named[code][1]) if code in named else None,
                *(0.0 if cells[code].get(p) is None else cells[code][p] for p in periods),
            )
            for code in sorted(cells)
        ]
        return [self._period_label(p) for p in periods], out

    def _report_frame(self, labels: list[str], rows: list[tuple]) -> DataFrame:
        schema = ", ".join(["acc_code string, acc_name string", *(f"`{p}` double" for p in labels)])
        return local_frame(self._engine.spark, rows, schema)

    def report(
        self, report_type: str, acc_level: int = 0, num_years: int = 0
    ) -> DataFrame:
        return self._report_frame(*self._report_rows(report_type, acc_level, num_years))

    def custom_report(self, acc_list: list[str], num_years: int = 0) -> DataFrame:
        """The balance sheet, income statement and cash flow rows whose
        code is in ``acc_list``, in that order; a period column missing
        from one statement is null in its rows."""
        parts = [
            self._report_rows(t, 0, num_years)
            for t in ("balance_sheet", "income_statement", "cash_flow")
        ]
        labels = list(dict.fromkeys(label for part, _ in parts for label in part))
        wanted = set(acc_list)
        rows = [
            (row[0], row[1], *(dict(zip(part, row[2:])).get(label) for label in labels))
            for part, part_rows in parts
            for row in part_rows
            if row[0] in wanted
        ]
        return self._report_frame(labels, rows)

    def indicators(self, num_years: int = 0) -> DataFrame:
        if self._indicator_rows is None:
            self._indicator_rows = self._engine.indicators.filter(
                F.col("cvm_id") == self._cvm_id
            ).toArrow()
        rows = self._indicator_rows
        rows = rows.filter(pc.equal(rows["is_consolidated"], self._is_consolidated))
        schema, out = ic.format_rows(rows, self._acc_unit)
        keep = list(range(2, len(schema.fields)))  # drop cvm_id, is_consolidated
        if num_years > 0:
            keep = [2, *keep[1:][-num_years:]]
        return local_frame(
            self._engine.spark,
            [tuple(r[i] for i in keep) for r in out],
            T.StructType([schema.fields[i] for i in keep]),
        )
