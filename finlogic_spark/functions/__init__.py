"""Scalar/column helper functions (SURVEY.md §2.9 F1-F7 and the
composite predicate idioms P10-P13). All pure Column expressions —
JVM-side, whole-stage-codegen'd, no Python UDFs.
"""

from __future__ import annotations

import functools
import operator
from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F


def multi_prefix(col: str | Column, prefixes: Sequence[str]) -> Column:
    """OR of startswith over a prefix list — the reference's report-type
    account selector (src/finlogic/company.py:465-470)."""
    c = F.col(col) if isinstance(col, str) else col
    return functools.reduce(operator.or_, [c.startswith(p) for p in prefixes])


def hierarchy_depth(col: str | Column, sep: str = ".") -> Column:
    """Depth of a dotted hierarchy code: ``"2.01.04"`` → 3.

    Reference drill-down filter counts separators
    (src/finlogic/company.py:421-422); sep count + 1 == level.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.split(c, "\\" + sep))


def safe_div(num: Column, den: Column, cutoff: float | None = None) -> Column:
    """Guarded ratio. Spark yields null on x/0 (Polars yields inf/NaN);
    the engine standardizes on null, mirroring the reference's explicit
    ``CUT_OFF_VALUE`` guards (src/finlogic/indicators.py:118-144):
    denominators at or below ``cutoff`` produce null."""
    if cutoff is not None:
        return F.when(den > F.lit(cutoff), num / den).otherwise(F.lit(None))
    return F.when(den != F.lit(0), num / den).otherwise(F.lit(None))
