"""Per-company plans: ``Company.report`` and ``format_indicators`` name
their period columns explicitly after one small aggregate, and order
their rows inside one partition. These tests pin them to the previous
forms (pivot with a collected value list, index ⋈ pivot join, range
sort), inlined here, and guard the number of Spark jobs per call.
``local_frame`` is pinned as the driver-rows → ``LocalRelation`` path."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from finlogic_spark import indicators as ic
from finlogic_spark.company import REPORT_TYPES, Company
from finlogic_spark.functions import hierarchy_depth, multi_prefix
from finlogic_spark.operators.dedup import keep_last
from finlogic_spark.operators.reshape import pivot_wide
from finlogic_spark.session import local_frame


def _legacy_report(c: Company, report_type: str, acc_level: int, num_years: int):
    """The index ⋈ pivot form: latest name per code by a window, the
    periods by ``groupBy().pivot()`` over collected values, ``num_years``
    as a broadcast semi-join, ``na.fill`` and a global ``orderBy``."""
    df = c._remove_not_last_quarters(c._df)
    if acc_level:
        df = df.filter(hierarchy_depth("acc_code") <= acc_level)
    if c.language == "English":
        lang = c._engine.language
        df = (
            df.join(F.broadcast(lang), df["acc_name"] == lang["pt"], "left")
            .withColumn(
                "acc_name",
                F.coalesce(F.col("en"), F.concat(F.lit("(pt) "), F.col("acc_name"))),
            )
            .drop("pt", "en")
        )
    df = df.filter(multi_prefix("acc_code", REPORT_TYPES[report_type]))
    if num_years:
        periods = (
            df.select("period_end").distinct()
            .orderBy(F.col("period_end").desc())
            .limit(num_years)
        )
        df = df.join(F.broadcast(periods), "period_end", "left_semi")
    index = keep_last(
        df.select("acc_code", "acc_name", "period_end"), ["acc_code"], ["period_end"]
    ).select("acc_code", "acc_name")
    labeled = df.withColumn(
        "period_str",
        F.when(
            (F.col("period_end") == F.lit(c._last_period))
            & F.lit(c._last_period_type == "quarterly"),
            F.concat(F.date_format("period_end", "yyyy-MM-dd"), F.lit(" ltm")),
        ).otherwise(F.date_format("period_end", "yyyy-MM-dd")),
    )
    values = pivot_wide(
        labeled, index=["acc_code"], on="period_str", values="acc_value",
        agg="first", fill=None,
    )
    return index.join(values, "acc_code", "left").na.fill(0.0).orderBy("acc_code")


def _legacy_format_indicators(df, unit: float):
    df = ic.adjust_unit(df, unit)
    melt_cols = ["cvm_id", "name_id", "is_annual", "is_consolidated", "period_end"]
    value_cols = [c for c in df.columns if c not in melt_cols]
    long = df.unpivot(melt_cols, value_cols, "indicator", "value").withColumn(
        "period_end", F.col("period_end").cast("string")
    )
    out = pivot_wide(
        long, index=["cvm_id", "is_consolidated", "indicator"], on="period_end",
        values="value", agg="first", fill=None,
    )
    order = F.array(*[F.lit(i) for i in ic.INDICATOR_ORDER])
    return (
        out.withColumn("_order", F.array_position(order, F.col("indicator")))
        .filter(F.col("_order") > 0)
        .orderBy("_order")
        .drop("_order")
    )


def _company_indicators(c: Company):
    return c._engine.indicators.filter(
        (F.col("cvm_id") == c._cvm_id) & (F.col("is_consolidated") == c.is_consolidated)
    )


def _same(got, want):
    """Same column names and types in the same order, same rows in the
    same order."""
    assert [(f.name, f.dataType) for f in got.schema] == [
        (f.name, f.dataType) for f in want.schema
    ]
    assert [tuple(r) for r in got.collect()] == [tuple(r) for r in want.collect()]


# Company 1000 ends on an annual report, 1001 on a quarter (the " ltm"
# column); 1003 gets the Portuguese and separate-statement cases.
@pytest.fixture(scope="module")
def company(engine):
    return Company(engine, 1000, acc_unit="m")


@pytest.mark.parametrize("report_type", ["cash", "earnings_per_share", "income_statement"])
@pytest.mark.parametrize("acc_level", [0, 2])
@pytest.mark.parametrize("num_years", [0, 2])
def test_report_matches_pivot_form(company, report_type, acc_level, num_years):
    c = company
    _same(
        c.report(report_type, acc_level, num_years),
        _legacy_report(c, report_type, acc_level, num_years),
    )


@pytest.mark.parametrize(
    "kwargs, report_type, num_years",
    [
        ({"identifier": 1003, "language": "portuguese"}, "balance_sheet", 0),
        ({"identifier": 1003, "is_consolidated": False, "acc_unit": "t"}, "cash_flow", 3),
        ({"identifier": 1001}, "income_statement", 2),
    ],
    ids=["portuguese", "separate", "quarterly_ltm"],
)
def test_report_matches_pivot_form_cases(engine, kwargs, report_type, num_years):
    c = Company(engine, **kwargs)
    got = c.report(report_type, 0, num_years)
    if kwargs["identifier"] == 1001:
        assert got.columns[-1].endswith(" ltm")
    _same(got, _legacy_report(c, report_type, 0, num_years))


def test_report_with_no_rows_matches_pivot_form(company):
    # "cash" accounts sit at depth 3, so level 2 leaves no rows.
    got = company.report("cash", acc_level=2)
    assert got.columns == ["acc_code", "acc_name"] and got.count() == 0
    _same(got, _legacy_report(company, "cash", 2, 0))


@pytest.mark.parametrize(
    "cvm_id, is_consolidated, rows", [(1000, True, True), (1001, False, True), (1001, True, False)]
)
def test_format_indicators_matches_pivot_form(engine, cvm_id, is_consolidated, rows):
    c = Company(engine, cvm_id, is_consolidated=is_consolidated, acc_unit="b")
    df = _company_indicators(c).filter(F.lit(rows))  # rows=False: no statements
    _same(ic.format_indicators(df, c.acc_unit), _legacy_format_indicators(df, c.acc_unit))


def _jobs(spark, group: str, fn) -> int:
    """Spark jobs that ``fn`` runs, counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_report_and_indicators_job_floor(spark, engine):
    """A per-company call runs a small fixed number of jobs: at most 6
    for ``report`` and 5 for ``indicators``. The previous forms run more
    than that on the same call, so the bound tells the two apart."""
    c = Company(engine, 1001, acc_unit="m")
    engine.indicators.count()  # fill the cache outside the counted calls
    report = _jobs(spark, "floor-report", lambda: c.report("income_statement", 2, 2).collect())
    legacy_report = _jobs(
        spark, "floor-report-legacy",
        lambda: _legacy_report(c, "income_statement", 2, 2).collect(),
    )
    ind = _jobs(spark, "floor-ind", lambda: c.indicators(num_years=2).collect())
    legacy_ind = _jobs(
        spark, "floor-ind-legacy",
        lambda: _legacy_format_indicators(_company_indicators(c), c.acc_unit).collect(),
    )
    assert report <= 6 < legacy_report
    assert ind <= 5 < legacy_ind


def test_info_collects_without_a_job(spark, company):
    info = company.info()
    assert _jobs(spark, "info-company", info.collect) == 0
    rows = dict(map(tuple, info.collect()))
    assert int(rows["Total Accounting Rows"]) == company._df.count()


def test_local_frame_is_a_local_relation(spark):
    schema = "id long, vec array<double>, `Company Info` string"
    rows = [(1, [0.5, None, -1.0], "a"), (None, None, None), (3, [], "c.d")]
    df = local_frame(spark, rows, schema)
    plan = df._jdf.queryExecution().optimizedPlan()
    assert plan.nodeName() == "LocalRelation"
    assert df.schema.simpleString() == "struct<id:bigint,vec:array<double>,Company Info:string>"
    got = []
    assert _jobs(spark, "local-frame", lambda: got.extend(df.collect())) == 0
    assert [tuple(r) for r in got] == rows
    assert [r[0] for r in df.select("`Company Info`").collect()] == ["a", None, "c.d"]

    empty = local_frame(spark, [], schema)
    assert empty._jdf.queryExecution().optimizedPlan().nodeName() == "LocalRelation"
    assert empty.columns == ["id", "vec", "Company Info"] and empty.collect() == []
