"""Unit tests for the core operator library on tiny in-memory frames —
the hermetic operator-level coverage the reference lacks (its tests hit
live production data; SURVEY.md §5)."""

from __future__ import annotations

import datetime as dt

import pytest
from conftest import count_jobs
from pyspark.sql import functions as F

from finlogic_spark.functions import hierarchy_depth, multi_prefix, safe_div
from finlogic_spark.operators.asof import asof_join
from finlogic_spark.operators.dedup import distinct_on, keep_first, keep_last
from finlogic_spark.operators.reshape import pivot_wide, unpivot_long
from finlogic_spark.operators.topk import top_k


def test_keep_last_tiebreak(spark):
    df = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (2, 5, "c"), (2, 5, "d")],
        "k int, ord int, v string",
    )
    got = {r["k"]: r["v"] for r in keep_last(df, ["k"], ["ord", "v"]).collect()}
    assert got == {1: "b", 2: "d"}  # ties broken by the v column


def test_keep_first(spark):
    df = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b")], "k int, ord int, v string"
    )
    assert keep_first(df, ["k"], ["ord"]).collect()[0]["v"] == "a"


def test_keep_last_idempotent(spark):
    df = spark.createDataFrame(
        [(1, i, f"v{i}") for i in range(5)] + [(2, 0, "x")],
        "k int, ord int, v string",
    )
    once = keep_last(df, ["k"], ["ord"])
    twice = keep_last(once, ["k"], ["ord"])
    assert sorted(once.collect()) == sorted(twice.collect())


def test_distinct_on_plain(spark):
    df = spark.createDataFrame([(1, "a"), (1, "a"), (2, "b")], "k int, v string")
    assert distinct_on(df, ["k"]).count() == 2


def test_pivot_unpivot_roundtrip(spark):
    long = spark.createDataFrame(
        [(1, "x", 10.0), (1, "y", 20.0), (2, "x", 30.0)],
        "k int, cat string, val double",
    )
    wide = pivot_wide(long, ["k"], "cat", "val", pivot_values=["x", "y"])
    assert {r["k"]: (r["x"], r["y"]) for r in wide.collect()} == {
        1: (10.0, 20.0),
        2: (30.0, 0.0),  # fill_null(0) semantics
    }
    back = unpivot_long(wide, ["k"], ["x", "y"], "cat", "val")
    assert back.count() == 4


def test_top_k_deterministic(spark):
    df = spark.createDataFrame(
        [(i, float(i % 3)) for i in range(10)], "id int, score double"
    )
    rows = top_k(df, [F.col("score").desc(), F.col("id").asc()], 3).collect()
    assert [r["id"] for r in rows] == [2, 5, 8]


def test_multi_prefix_and_depth(spark):
    df = spark.createDataFrame(
        [("1.01",), ("1.01.02",), ("2.03",), ("3.99.01.01",)], "code string"
    )
    got = df.filter(multi_prefix("code", ["1.01", "3.99"])).count()
    assert got == 3
    depths = {
        r["code"]: r["d"]
        for r in df.select("code", hierarchy_depth("code").alias("d")).collect()
    }
    assert depths == {"1.01": 2, "1.01.02": 3, "2.03": 2, "3.99.01.01": 4}


def test_safe_div_null_on_zero(spark):
    df = spark.createDataFrame([(1.0, 0.0), (4.0, 2.0)], "a double, b double")
    vals = [r["r"] for r in df.select(safe_div(F.col("a"), F.col("b")).alias("r")).collect()]
    assert vals == [None, 2.0]


def test_asof_join_backward(spark):
    t0 = dt.datetime(2024, 1, 1)
    left = spark.createDataFrame(
        [(1, t0 + dt.timedelta(minutes=m)) for m in (5, 15, 25)],
        "uid int, ts timestamp",
    )
    right = spark.createDataFrame(
        [(1, t0 + dt.timedelta(minutes=10), 100.0),
         (1, t0 + dt.timedelta(minutes=25), 200.0),
         (2, t0, 999.0)],
        "uid int, ts timestamp, px double",
    )
    out = asof_join(left, right, on="ts", by=["uid"], right_cols=["px"])
    got = {r["ts"].minute: r["px"] for r in out.collect()}
    # t=5: no prior px; t=15: px@10; t=25: exact tie matches (at-or-before)
    assert got == {5: None, 15: 100.0, 25: 200.0}


def test_salted_join_matches_plain_join(spark, sf_dir):
    from finlogic_spark.operators.skew import salted_join

    l = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_suppkey", "l_quantity"
    )
    s = spark.read.parquet(f"{sf_dir}/supplier.parquet").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_name"
    )
    plain = l.join(s, "l_suppkey").groupBy("l_suppkey").count()
    salted = salted_join(l, s, "l_suppkey", salts=8).groupBy("l_suppkey").count()
    assert sorted(plain.collect()) == sorted(salted.collect())

    # Left join keeps unmatched fact rows exactly once.
    s_half = s.filter(F.col("l_suppkey") % 2 == 0)
    plain_left = l.join(s_half, "l_suppkey", "left").count()
    salted_left = salted_join(l, s_half, "l_suppkey", salts=8, how="left").count()
    assert plain_left == salted_left == l.count()


def test_connected_components_labels_min_id(spark):
    from finlogic_spark.operators.graph import connected_components

    # chain 1-2-3, clique 10-11-12, isolated 20.
    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (10, 11), (11, 12), (10, 12)], "src long, dst long"
    )
    vertices = spark.createDataFrame(
        [(v,) for v in (1, 2, 3, 10, 11, 12, 20)], "id long"
    )
    got = {
        r["id"]: r["label"]
        for r in connected_components(edges, vertices).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10, 20: 20}


def test_connected_components_long_chain_converges(spark):
    from finlogic_spark.operators.graph import connected_components

    n = 12  # diameter 11: exercises multi-round propagation + checkpoints
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long"
    )
    vertices = spark.createDataFrame([(v,) for v in range(n)], "id long")
    got = connected_components(edges, vertices).collect()
    assert {r["label"] for r in got} == {0}


def test_connected_components_one_job_per_round(spark, monkeypatch):
    # The convergence certificate must ride the same action that
    # materializes the round's checkpoint: each star round costs ONE
    # Spark action (an eager checkpoint plus a separate certificate
    # job would be 2 actions per round of pure driver latency at
    # web-scale graph sizes).
    from finlogic_spark.operators import graph
    from finlogic_spark.operators.graph import connected_components

    monkeypatch.setattr(graph, "SMALL_GRAPH_MAX_BYTES", 0)
    n = 8
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long"
    )
    vertices = spark.createDataFrame([(v,) for v in range(n)], "id long")
    # AQE splits one action into a job per query stage, which makes raw
    # job counts a noisy proxy for driver round-trips.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    stats: dict = {}
    out = []
    try:
        jobs_inside = count_jobs(
            spark,
            "cc-jobcount",
            lambda: out.append(connected_components(edges, vertices, stats=stats)),
        )
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    labels = out[0]
    assert stats["auto_choice"] == "star-first" and stats["converged"]
    # gate job + first certificate + one certificate per round + the
    # fixpoint round's certificate and except-check
    assert jobs_inside <= stats["star_rounds"] + 4, (jobs_inside, stats)
    assert {r["label"] for r in labels.collect()} == {0}


def test_connected_components_star_chain_sublinear_rounds(spark, monkeypatch):
    """The adversarial case for min-label propagation: a 10k-vertex
    chain (diameter 10k) must converge in O(log² n) star alternations —
    under 15 rounds, where min-label propagation needs ~10k. This is the
    100 TB guarantee: round count, i.e. number of full-graph shuffles,
    cannot degrade to graph diameter."""
    from finlogic_spark.operators import graph
    from finlogic_spark.operators.graph import connected_components

    monkeypatch.setattr(graph, "SMALL_GRAPH_MAX_BYTES", 0)
    n = 10_000
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long"
    )
    vertices = spark.range(n).select(F.col("id").cast("long").alias("id"))
    stats: dict = {}
    out = connected_components(edges, vertices, max_iters=40, stats=stats)
    assert out.filter(F.col("label") == 0).count() == n
    assert stats["star_rounds"] < 15, stats


def test_connected_components_auto_is_shape_aware(spark, monkeypatch):
    """The regime follows the measured edge-list size: under
    SMALL_GRAPH_MAX_BYTES the driver kernel runs ('single-job'), above
    it star alternation runs ('star-first') — the measured winner on
    the sf100 117.9M-edge dedup graph (BENCH_r8_probes.json)."""
    from finlogic_spark.operators import graph
    from finlogic_spark.operators.graph import connected_components

    clique = spark.createDataFrame(
        [(i, j) for i in range(6) for j in range(i + 1, 6)],
        "src long, dst long",
    )
    v = spark.createDataFrame([(i,) for i in range(6)], "id long")

    small_stats: dict = {}
    out = connected_components(clique, v, stats=small_stats)
    assert {r["label"] for r in out.collect()} == {0}
    assert small_stats["auto_choice"] == "single-job"
    assert small_stats["star_rounds"] == 0

    monkeypatch.setattr(graph, "SMALL_GRAPH_MAX_BYTES", 0)
    big_stats: dict = {}
    out2 = connected_components(clique, v, stats=big_stats)
    assert {r["label"] for r in out2.collect()} == {0}
    assert big_stats["auto_choice"] == "star-first"
    assert big_stats["star_rounds"] > 0


def test_connected_components_converged_flag_and_warning(spark, monkeypatch):
    """Budget exhaustion must never be silent: stats['converged'] is
    True when a fixpoint was reached, and a too-small max_iters yields
    converged=False plus a RuntimeWarning (the returned labels are
    partial/over-segmented in that case)."""
    import warnings

    from finlogic_spark.operators import graph
    from finlogic_spark.operators.graph import connected_components

    monkeypatch.setattr(graph, "SMALL_GRAPH_MAX_BYTES", 0)
    n = 64
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long"
    )
    vertices = spark.createDataFrame([(v,) for v in range(n)], "id long")

    stats_ok: dict = {}
    out = connected_components(edges, vertices, max_iters=40, stats=stats_ok)
    assert {r["label"] for r in out.collect()} == {0}
    assert stats_ok["converged"] is True

    stats_exhausted: dict = {}
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        partial = connected_components(
            edges, vertices, max_iters=1, stats=stats_exhausted
        )
        partial.count()  # labels still materialize, just partially merged
    assert stats_exhausted["converged"] is False
    assert any(
        issubclass(w.category, RuntimeWarning)
        and "PARTIAL" in str(w.message)
        for w in caught
    ), [str(w.message) for w in caught]


def test_connected_components_max_iters_total_budget(spark, monkeypatch):
    """max_iters caps the full-graph shuffle rounds star runs (a caller
    asking for <= 5 rounds gets at most 5, converged or not)."""
    from finlogic_spark.operators import graph
    from finlogic_spark.operators.graph import connected_components

    monkeypatch.setattr(graph, "SMALL_GRAPH_MAX_BYTES", 0)

    n = 40
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long"
    )
    vertices = spark.createDataFrame([(v,) for v in range(n)], "id long")
    stats: dict = {}
    # the 39-hop chain needs more than 5 rounds, so the budget binds
    with pytest.warns(RuntimeWarning, match="PARTIAL"):
        connected_components(edges, vertices, max_iters=5, stats=stats).collect()
    assert stats["star_rounds"] <= 5, stats


def test_connected_components_single_job_regime_bitwise(spark, monkeypatch):
    """The r16 small-graph (single-job) regime must (a) actually be
    chosen for a gate-sized edge list, (b) produce IDENTICAL labels to
    the distributed regimes (min reachable id has exactly one answer)
    on adversarial shapes — a long chain (pointer-jump stress), a
    clique, isolated vertices — for BOTH long and string id types
    (string min = lexicographic: the Arrow rank order must agree with
    Spark's)."""
    import random

    from finlogic_spark.operators import graph
    from finlogic_spark.operators.graph import connected_components

    rng = random.Random(41)
    # chain 0..99 + clique 200..204 + random extra edges
    edges = [(i, i + 1) for i in range(99)]
    edges += [(i, j) for i in range(200, 205) for j in range(i + 1, 205)]
    edges += [
        (rng.randrange(300, 340), rng.randrange(300, 340)) for _ in range(60)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    verts = sorted({v for e in edges for v in e} | {999})

    # python union-find reference (min id per component)
    parent = {v: v for v in verts}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[rb] = ra
    comp: dict = {}
    for v_ in verts:
        comp.setdefault(find(v_), []).append(v_)
    ref = {v_: min(members) for members in comp.values() for v_ in members}

    for typ, conv in (("long", int), ("string", lambda v: f"n{v:04d}")):
        e = spark.createDataFrame(
            [(conv(a), conv(b)) for a, b in edges], f"src {typ}, dst {typ}"
        )
        v = spark.createDataFrame([(conv(x),) for x in verts], f"id {typ}")
        st_fast: dict = {}
        fast = {
            r["id"]: r["label"]
            for r in connected_components(e, v, stats=st_fast).collect()
        }
        assert st_fast["auto_choice"] == "single-job", st_fast
        assert st_fast["converged"] is True
        assert fast == {conv(k): conv(lab) for k, lab in ref.items()}
        st_dist: dict = {}
        with monkeypatch.context() as m:
            m.setattr(graph, "SMALL_GRAPH_MAX_BYTES", 0)
            dist = {
                r["id"]: r["label"]
                for r in connected_components(e, v, stats=st_dist).collect()
            }
        assert st_dist["auto_choice"] != "single-job"
        assert fast == dist
        assert fast[conv(999)] == conv(999)  # isolated self-label
        assert fast[conv(99)] == conv(0)  # chain fully merged


def test_connected_components_single_job_tolerates_null_endpoints(
    spark, monkeypatch
):
    """ADVICE r16: a null src/dst used to crash the single-job regime
    (nulls in enc.indices make zero-copy to_numpy raise), and the
    distributed regimes labelled a null into a component or emitted a
    (null, null) row. Both regimes now drop null endpoints on entry:
    connectivity among non-null ids is unchanged and the two regimes
    agree."""
    from finlogic_spark.operators import graph
    from finlogic_spark.operators.graph import connected_components

    e = spark.createDataFrame(
        [(None, 5), (1, 2), (2, None)], "src long, dst long"
    )
    v = spark.createDataFrame([(1,), (2,), (5,)], "id long")
    st: dict = {}
    got = {
        r["id"]: r["label"]
        for r in connected_components(e, v, stats=st).collect()
    }
    assert st["auto_choice"] == "single-job", st
    # non-null connectivity: 1-2 merged; 5 only touched a null edge so
    # it self-labels through the isolated-vertex union
    assert got == {1: 1, 2: 1, 5: 5}

    monkeypatch.setattr(graph, "SMALL_GRAPH_MAX_BYTES", 0)
    st_dist: dict = {}
    dist = [
        (r["id"], r["label"])
        for r in connected_components(e, v, stats=st_dist).collect()
    ]
    assert st_dist["auto_choice"] != "single-job", st_dist
    assert len(dist) == len(got) and dict(dist) == got, dist


def test_interval_join_bounds_inclusive(spark):
    from finlogic_spark.operators.rangejoin import interval_join

    left = spark.createDataFrame(
        [(1, "k", 100), (2, "k", 200), (3, "x", 100)], "lid long, k string, t long"
    )
    right = spark.createDataFrame(
        [("k", 90, 9.0), ("k", 100, 1.0), ("k", 101, 2.0),
         ("k", 189, 8.0), ("k", 190, 3.0), ("x", 95, 4.0)],
        "k string, t long, v double",
    )
    out = interval_join(
        left, right, on="t", by=["k"], lower=-10, upper=0, right_cols=["v"]
    )
    got = {(r["lid"], r["t_right"]) for r in out.collect()}
    # [t-10, t] inclusive both ends; bucket-boundary matches included.
    assert got == {(1, 90), (1, 100), (2, 190), (3, 95)}


def test_interval_join_rejects_empty_window(spark):
    import pytest

    from finlogic_spark.operators.rangejoin import interval_join

    left = spark.createDataFrame([(1, "k", 100)], "lid long, k string, t long")
    with pytest.raises(ValueError):
        interval_join(left, left, on="t", by=["k"], lower=5, upper=5)
