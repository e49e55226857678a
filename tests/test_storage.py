"""Storage-layout tests: the physical levers that matter at 100 TB —
partition pruning on partitioned writes, shuffle-free joins on
bucketed tables."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from finlogic_spark import plans
from finlogic_spark.driver_queries import _t
from finlogic_spark.sources import write_bucketed, write_parquet


def test_once_rebinds_table_on_new_session(spark, sf_dir):
    """A memoized relation made under a stopped/replaced session must
    not be served to a different live session (regression: sequential
    bench scripts and multi-session pytest runs got DataFrames bound
    to a dead SparkContext)."""
    import finlogic_spark.driver_queries as dq

    key = ("table", sf_dir, "region")
    dq._MEMO[key] = (object(), "stale")  # made under another session
    df = dq._t(spark, sf_dir, "region")
    assert df.sparkSession is spark
    assert dq._MEMO[key] == (spark, df)  # memo refreshed, not bypassed
    assert dq._t(spark, sf_dir, "region") is df
    assert df.count() > 0


def test_partitioned_write_prunes(spark, sf_dir):
    o = _t(spark, sf_dir, "orders").withColumn("order_year", F.year("o_orderdate"))
    out = tempfile.mkdtemp(prefix="fl_part_") + "/orders_by_year"
    write_parquet(o, out, partition_by=["order_year"])

    back = spark.read.parquet(out)
    one_year = back.filter(F.col("order_year") == 1997)
    plan = plans.formatted_plan(one_year)
    # Partition filter present and non-empty → only 1997 files read.
    assert "PartitionFilters" in plan
    assert any(
        "PartitionFilters" in line and "order_year" in line
        for line in plan.splitlines()
    )
    assert one_year.count() == o.filter(F.col("order_year") == 1997).count()


def test_bucketed_join_no_shuffle(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    l = _t(spark, sf_dir, "lineitem")
    write_bucketed(o, "t_orders_b", ["o_orderkey"], 8, sort_cols=["o_orderkey"])
    write_bucketed(
        l.withColumnRenamed("l_orderkey", "o_orderkey"),
        "t_lineitem_b",
        ["o_orderkey"],
        8,
        sort_cols=["o_orderkey"],
    )
    ob = spark.table("t_orders_b")
    lb = spark.table("t_lineitem_b")
    # Force sort-merge on both sides (at test scale Catalyst would
    # broadcast; at 100 TB neither side broadcasts and SMJ is the
    # realistic plan — exactly where bucketing pays).
    joined = ob.hint("merge").join(lb, "o_orderkey").groupBy("o_orderstatus").agg(
        F.count("*").alias("n")
    )
    with_bucketing = plans.count_shuffles(joined)
    plain = plans.count_shuffles(
        o.hint("merge")
        .join(l, o.o_orderkey == l.l_orderkey)
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"))
    )
    # Bucketed: only the aggregation's own exchange; plain SMJ adds one
    # per join side.
    assert with_bucketing < plain
    assert with_bucketing == 1
    # And the result matches the unbucketed computation.
    a = {r["o_orderstatus"]: r["n"] for r in joined.collect()}
    b = {
        r["o_orderstatus"]: r["n"]
        for r in o.join(l, o.o_orderkey == l.l_orderkey)
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert a == b


def test_bucketed_window_and_group_no_shuffle(spark, sf_dir):
    """The rank_flagship / tpch_q3 bucket story at test scale: a
    keep-last window partitioned by the bucket key plans with ZERO
    exchanges (its Exchange hashpartitioning(o_custkey) rides the
    bucketed scan), and a groupBy on a SUPERSET of the bucket key also
    needs none — HashPartitioning(k) satisfies clustering on (k, ...).
    This is what tools/bench_bucketed_tpch.py audits at sf10."""
    from finlogic_spark.operators.dedup import keep_last

    o = _t(spark, sf_dir, "orders")
    write_bucketed(
        o.repartition(8, F.col("o_custkey")),
        "t_orders_bc",
        ["o_custkey"],
        8,
        sort_cols=["o_custkey", "o_orderdate", "o_orderkey"],
    )
    ob = spark.table("t_orders_bc")
    latest = keep_last(ob, ["o_custkey"], ["o_orderdate", "o_orderkey"])
    assert plans.count_shuffles(latest) == 0
    grouped = ob.groupBy("o_custkey", "o_orderstatus").agg(
        F.count("*").alias("n")
    )
    assert plans.count_shuffles(grouped) == 0
    # values still correct vs the flat computation
    flat = keep_last(o, ["o_custkey"], ["o_orderdate", "o_orderkey"])
    assert sorted(r["o_orderkey"] for r in latest.collect()) == sorted(
        r["o_orderkey"] for r in flat.collect()
    )


def test_bucketed_twap_no_exchange_no_sort(spark, sf_dir):
    """Layout-assisted TWAP: on a table whose truncated timestamp is a
    STORED column and which is written bucketed+sorted by
    (event_type, bkt_day, ts, event_id), time_weighted_avg's window
    must ride the layout completely — ZERO exchanges (bucket
    HashPartitioning on a subset of the window partition keys) AND
    ZERO sorts (single-file buckets carry their sortBy order, which is
    exactly the window's required ordering). The operator is sort-
    bound by design on a flat layout, so this is its 100 TB answer.

    Sort elision needs spark.sql.legacy.bucketedTableScan.outputOrdering
    — off by default since 3.0 because a MULTI-file bucket would need a
    merge to honor its sortBy; our one-file-per-bucket writes (the
    repartition-before-write discipline) are exactly the case the conf
    exists for. Exchange elision holds with or without it."""
    import re

    from finlogic_spark.operators.windows import time_weighted_avg

    e = _t(spark, sf_dir, "events")
    write_bucketed(
        e.withColumn("bkt_day", F.date_trunc("day", F.col("ts"))).repartition(
            8, F.col("event_type"), F.col("bkt_day")
        ),
        "t_events_twap",
        ["event_type", "bkt_day"],
        8,
        sort_cols=["event_type", "bkt_day", "ts", "event_id"],
    )
    conf_key = "spark.sql.legacy.bucketedTableScan.outputOrdering"
    prev = spark.conf.get(conf_key, "false")
    spark.conf.set(conf_key, "true")
    try:
        eb = spark.table("t_events_twap")
        out = time_weighted_avg(
            eb,
            ["event_type"],
            "ts",
            "value",
            tiebreak_cols=["event_id"],
            bucket_col="bkt_day",
        )
        assert plans.count_shuffles(out) == 0
        sorts = [
            line
            for line in plans.formatted_plan(out).splitlines()
            if re.match(r"^\(\d+\) Sort\b", line.strip())
        ]
        assert not sorts, f"window should ride the bucket sort: {sorts}"
        # same values as the flat derived-bucket path
        flat = time_weighted_avg(
            e, ["event_type"], "ts", "value", tiebreak_cols=["event_id"]
        )
        key = lambda r: (r["event_type"], r["bucket_start"])  # noqa: E731
        got = sorted(out.collect(), key=key)
        want = sorted(flat.collect(), key=key)
        assert [r.asDict() for r in got] == [r.asDict() for r in want]
    finally:
        spark.conf.set(conf_key, prev)


def test_fact_layout_twap_rides_api(spark, sf_dir):
    """write_fact_layout/read_fact_layout — the first-class API over
    the bucketed+sorted recipe — must produce the SAME zero-exchange,
    zero-sort TWAP plan the hand-built layout does (the sf100 0.25x
    recipe), and the registry's events_twap must ride it when the
    layout is registered for its sf_dir."""
    import re

    from finlogic_spark import driver_queries as dq
    from finlogic_spark.operators.windows import time_weighted_avg
    from finlogic_spark.sources import read_fact_layout, write_fact_layout

    e = _t(spark, sf_dir, "events")
    bkt = write_fact_layout(
        e, "t_events_fact_api", ["event_type"], "ts",
        num_buckets=8, grain="day", tiebreak_cols=["event_id"],
    )
    assert bkt == "bkt_day"
    conf_key = "spark.sql.legacy.bucketedTableScan.outputOrdering"
    prev = spark.conf.get(conf_key, "false")
    try:
        eb = read_fact_layout(spark, "t_events_fact_api")
        assert spark.conf.get(conf_key) == "true"  # read enables reporting
        out = time_weighted_avg(
            eb, ["event_type"], "ts", "value",
            tiebreak_cols=["event_id"], bucket_col=bkt,
        )
        assert plans.count_shuffles(out) == 0
        sorts = [
            line
            for line in plans.formatted_plan(out).splitlines()
            if re.match(r"^\(\d+\) Sort\b", line.strip())
        ]
        assert not sorts, f"window should ride the layout sort: {sorts}"
        # registry integration: with the layout registered for this
        # sf_dir, events_twap itself plans exchange-free and returns
        # the same rows as the flat path
        flat = dq.QUERIES["events_twap"](spark, sf_dir)
        flat_rows = sorted(map(tuple, flat.collect()))
        dq.TWAP_LAYOUTS[sf_dir] = "t_events_fact_api"
        try:
            laid = dq.QUERIES["events_twap"](spark, sf_dir)
            # the window's exchange AND the groupBy's are gone; the one
            # left is the query's output ORDER BY over the group-sized
            # (~|event_type|·days) result — data-sized shuffles: zero
            assert plans.count_shuffles(laid) == 1
            assert sorted(map(tuple, laid.collect())) == flat_rows
        finally:
            dq.TWAP_LAYOUTS.pop(sf_dir, None)
    finally:
        spark.conf.set(conf_key, prev)


def test_fact_layout_partition_pruning(spark, fixture_dir, tmp_path):
    from finlogic_spark import plans
    from finlogic_spark.sources import write_financials_layout

    fin = spark.read.parquet(f"{fixture_dir}/financials.parquet")
    out = str(tmp_path / "fact_layout")
    write_financials_layout(fin, out)

    laid = spark.read.parquet(out)
    # Same data back (layout is a storage projection, not a transform).
    assert laid.count() == fin.count()

    pruned = laid.filter(F.col("report_year") == 2022)
    plan = plans.formatted_plan(pruned)
    assert "PartitionFilters" in plan and "report_year" in plan.split("PartitionFilters", 1)[1][:200]
    # Partition pruning: only the matching year's files are listed.
    years = fin.select(F.year("period_end")).distinct().count()
    assert pruned.count() == fin.filter(F.year("period_end") == 2022).count()
    assert years > 1  # fixture spans multiple years, so pruning is real


def test_csv_json_roundtrip_with_explicit_schema(spark, tmp_path):
    """Text-format ingest: explicit-schema CSV and JSON scans reproduce
    a typed frame exactly (no inference pass); FAILFAST surfaces
    malformed rows instead of nulling them."""
    import pytest as _pytest

    from finlogic_spark.sources import read_csv, read_json, write_csv, write_json

    df = spark.createDataFrame(
        [(1, "a", 1.5, True), (2, "b,c", 2.5, False), (3, None, None, True)],
        "id long, name string, score double, flag boolean",
    )
    ddl = "id long, name string, score double, flag boolean"

    cpath = str(tmp_path / "c")
    write_csv(df, cpath)
    back_c = read_csv(spark, cpath, ddl)
    assert back_c.schema == df.schema
    assert sorted(map(tuple, back_c.collect())) == sorted(map(tuple, df.collect()))

    jpath = str(tmp_path / "j")
    write_json(df, jpath)
    back_j = read_json(spark, jpath, ddl)
    assert back_j.schema == df.schema
    assert sorted(map(tuple, back_j.collect())) == sorted(map(tuple, df.collect()))

    # strict mode rejects malformed rows rather than silently nulling
    bad = tmp_path / "bad" ; bad.mkdir()
    (bad / "x.csv").write_text("id,name,score,flag\nnot_a_long,a,1.5,true\n")
    with _pytest.raises(Exception, match="(?i)malformed|failfast|cannot"):
        read_csv(spark, str(bad), ddl, mode="FAILFAST").collect()


@pytest.mark.parametrize(
    "builder, key", [("_lsh_index", "lsh"), ("_ivf_index", "ivf")]
)
def test_once_rebinds_index_on_new_session(spark, sf_dir, builder, key):
    """An index is served while its session is live and rebuilt, never
    served, for another session: a DataFrame-valued entry (LSH) and a
    NamedTuple-valued one (IVF) alike."""
    import finlogic_spark.driver_queries as dq

    build = getattr(dq, builder)
    live = build(spark, sf_dir)
    assert build(spark, sf_dir) is live  # memo hit while live
    dq._MEMO[(key, sf_dir)] = (object(), live)  # made under another session
    fresh = build(spark, sf_dir)
    assert fresh is not live
    assert dq._MEMO[(key, sf_dir)] == (spark, fresh)
    frame = fresh if builder == "_lsh_index" else fresh.df
    assert frame.sparkSession is spark
    assert frame.count() > 0


def test_pq_ivf_index_rebinds_on_new_session(spark, sf_dir):
    """The PQ-IVF index must be rebuilt for a second session of the
    same process, not served from the first (regression: its cache
    had no session check, so emb_pq_ivf_topk failed after a session
    restart)."""
    import finlogic_spark.driver_queries as dq

    cents, live = dq._pq_ivf_index(spark, sf_dir)
    other = spark.newSession()  # same JVM, a different session
    other_cents, idx = dq._pq_ivf_index(other, sf_dir)
    assert idx.sparkSession is other
    assert other_cents == cents
    assert idx.count() == live.count()


def test_pq_ivf_index_builds_no_ivf_index(spark, sf_dir):
    """The PQ-IVF index takes its 8 centroids from the seed vectors, not
    from the IVF index: a session that asks for it first builds no IVF
    index (no corpus pass, write or cached frame it never reads)."""
    import finlogic_spark.driver_queries as dq

    other = spark.newSession()
    dq._pq_ivf_index(other, sf_dir)
    hit = dq._MEMO.get(("ivf", sf_dir))
    assert hit is None or hit[0] is not other


def test_orc_roundtrip_pushdown_and_partitioning(spark, tmp_path):
    """ORC scan/sink: typed round-trip, pushed predicate on the
    vectorized reader, and hive-partitioned writes pruning like
    parquet's."""
    from finlogic_spark.sources import read_orc, write_orc

    df = spark.createDataFrame(
        [(i, f"n{i}", float(i) / 2, i % 3) for i in range(300)],
        "id long, name string, score double, part int",
    )
    path = str(tmp_path / "orc_flat")
    write_orc(df, path)
    back = read_orc(spark, path)
    assert back.schema == df.schema
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))
    filtered = back.filter(F.col("id") > 250)
    plan = plans.formatted_plan(filtered)
    assert "PushedFilters" in plan and "id" in plan.split("PushedFilters", 1)[1][:120]

    ppath = str(tmp_path / "orc_part")
    write_orc(df, ppath, partition_by=["part"])
    one = read_orc(spark, ppath).filter(F.col("part") == 1)
    pplan = plans.formatted_plan(one)
    assert "PartitionFilters" in pplan and "part" in pplan
    assert one.count() == 100
