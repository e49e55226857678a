"""Physical-plan inspection helpers.

The scale contract of this engine is enforced here: tests assert that
filters reach the parquet scan (PushedFilters), that small dimensions
broadcast, that top-k plans as TakeOrderedAndProject (no full sort),
and that scans prune columns (ReadSchema). A query that silently loses
one of these properties regresses at 100 TB long before it fails any
row-level correctness check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def has_pushed_filter(df: DataFrame, fragment: str = "") -> bool:
    """True if the scan reports non-empty PushedFilters (optionally
    containing ``fragment``)."""
    plan = formatted_plan(df)
    for line in plan.splitlines():
        if "PushedFilters:" in line and "PushedFilters: []" not in line:
            if fragment in line:
                return True
    return False


def read_schema_columns(df: DataFrame) -> list[list[str]]:
    """Column lists each parquet scan actually reads (pruning check)."""
    out = []
    for line in formatted_plan(df).splitlines():
        line = line.strip()
        if line.startswith("ReadSchema:"):
            cols = line.split("struct<", 1)[-1].rstrip(">")
            out.append([c.split(":")[0] for c in cols.split(",") if c])
    return out


def uses_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in formatted_plan(df) or "BroadcastNestedLoopJoin" in formatted_plan(df)


def uses_take_ordered(df: DataFrame) -> bool:
    return "TakeOrderedAndProject" in formatted_plan(df)


def count_scans(df: DataFrame) -> int:
    """Number of file scans in the plan (each scan detail block reports
    one Location line; the bare node name appears twice in formatted
    output, so count locations instead)."""
    return sum(
        1
        for line in formatted_plan(df).splitlines()
        if line.strip().startswith("Location:")
    )


def count_shuffles(df: DataFrame) -> int:
    """Number of exchange operators in the physical plan — the scale
    currency. Every unnecessary one is a full-data network pass."""
    import re

    # Count only the detail-section headers "(N) Exchange" — each
    # physical node appears once there (the tree repeats the name).
    return sum(
        1
        for line in formatted_plan(df).splitlines()
        if re.match(r"^\(\d+\) Exchange", line.strip())
    )
