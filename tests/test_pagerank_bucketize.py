"""Integer PageRank (operators/graph.py) and sketch-driven equi-depth
binning (operators/sketch.py kll_bucketize)."""

import numpy as np
import pytest
from conftest import count_jobs
from pyspark.sql import functions as F

from finlogic_spark.operators import graph
from finlogic_spark.operators.graph import pagerank
from finlogic_spark.operators.sketch import kll_bucketize


def _reference_pagerank(edges, iterations, scale=1_000_000):
    """Driver-side integer PageRank on a plain dict graph — the
    independent implementation the distributed one must match
    bit-for-bit (exact integer arithmetic has ONE correct answer).
    All nodes (sources AND sinks) hold rank; nodes without
    in-neighbours keep teleport mass each round."""
    from collections import defaultdict

    out = defaultdict(list)
    deg = defaultdict(int)
    nodes = set()
    for s, d in edges:
        out[s].append(d)
        deg[s] += 1
        nodes.add(s)
        nodes.add(d)
    ranks = {n: scale for n in nodes}
    teleport = 15 * scale // 100
    for _ in range(iterations):
        nxt = defaultdict(int)
        for s, ds in out.items():
            c = (85 * ranks[s]) // (100 * deg[s])
            for d in ds:
                nxt[d] += c
        ranks = {n: teleport + nxt.get(n, 0) for n in nodes}
    return ranks


def test_pagerank_matches_reference_bitwise(spark):
    rng = np.random.RandomState(5)
    raw = {(int(a), int(b)) for a, b in rng.randint(0, 60, (400, 2)) if a != b}
    sym = sorted(raw | {(b, a) for a, b in raw})
    df = spark.createDataFrame(sym, "src long, dst long")
    got = {r["node"]: r["rank"] for r in pagerank(df, iterations=4).collect()}
    want = _reference_pagerank(sym, 4)
    assert got == want


def test_pagerank_directed_keeps_source_only_nodes(spark):
    """A directed chain with a source-only node: node 1 must stay in
    the output with teleport-only rank every round, and node 2 must
    keep receiving 1's contribution (the first formulation dropped
    no-in-edge nodes from the rank table after round one)."""
    edges = [(1, 2), (2, 3), (3, 2)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["rank"] for r in pagerank(df, iterations=3).collect()}
    want = _reference_pagerank(edges, 3)
    assert got == want
    assert got[1] == 150_000  # teleport only, still present


def test_pagerank_mass_shape_and_guard(spark):
    # a star graph: the hub must outrank every leaf; total mass stays
    # near N*scale (floor losses only shrink it, bounded by edges*iters)
    edges = [(0, i) for i in range(1, 9)] + [(i, 0) for i in range(1, 9)]
    df = spark.createDataFrame(edges, "src long, dst long")
    rows = {r["node"]: r["rank"] for r in pagerank(df, iterations=6).collect()}
    assert rows[0] > max(v for n, v in rows.items() if n != 0)
    total = sum(rows.values())
    assert 9 * 1_000_000 >= total > 9 * 1_000_000 - 16 * 6  # <=1 unit/edge/round
    with pytest.raises(ValueError, match="iterations"):
        pagerank(df, iterations=0)


def test_kll_bucketize_band_and_range(spark):
    rng = np.random.RandomState(17)
    rows = [
        ("g" + str(int(g)), float(v))
        for g, v in zip(rng.randint(0, 3, 30_000), rng.lognormal(0, 1, 30_000))
    ]
    df = spark.createDataFrame(rows, "grp string, value double")
    out = kll_bucketize(df, ["grp"], "value", num_buckets=4)
    counts = (
        out.groupBy("grp", "bucket").count().collect()
    )
    per_grp = {}
    for r in counts:
        assert 0 <= r["bucket"] <= 3
        per_grp.setdefault(r["grp"], {})[r["bucket"]] = r["count"]
    for g, bs in per_grp.items():
        n = sum(bs.values())
        assert set(bs) == {0, 1, 2, 3}
        for b, c in bs.items():
            assert abs(c - n / 4) <= 0.05 * n, (g, b, c, n)


def test_kll_bucketize_rejects_bad_buckets(spark):
    df = spark.createDataFrame([("a", 1.0)], "grp string, value double")
    with pytest.raises(ValueError, match="num_buckets"):
        kll_bucketize(df, ["grp"], "value", num_buckets=1)


def test_heavy_tokens_matches_brute_force(spark):
    """The pandas-tokenizing screen + JVM verify (heavy_tokens) must
    reproduce the brute-force explode+groupBy answer exactly."""
    import numpy as np

    from finlogic_spark.functions.text import tokens as jvm_tokens
    from finlogic_spark.operators.freq import heavy_tokens

    rng = np.random.RandomState(41)
    vocab = ["hot%d" % i for i in range(4)] + ["t%d" % i for i in range(800)]
    w = np.array([120.0] * 4 + [1.0] * 800)
    w /= w.sum()
    rows = [
        (i, " ".join(rng.choice(vocab, size=30, p=w)))
        for i in range(500)
    ] + [(9999, None)]
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(5)
    phi = 0.01
    docs = df.filter(F.col("text").isNotNull())
    got = {r["token"]: r["cnt"] for r in heavy_tokens(docs, "text", phi).collect()}
    occ = docs.select(F.explode(jvm_tokens("text")).alias("token"))
    n = occ.count()
    want = {
        r["token"]: r["cnt"]
        for r in occ.groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= phi * n)
        .collect()
    }
    assert got == want and len(want) >= 4


def test_heavy_tokens_nonascii_case_parity(spark):
    """Screen/verify case parity (ADVICE r12): lowercasing happens
    JVM-side, so a heavy token whose lowercase DIFFERS between Java
    full case mapping and Arrow's simple mapping (U+0130 'İ' → JVM
    'i'+U+0307) cannot be screened out. The dotted-I token dominates
    the corpus; it must surface with its exact count under the JVM's
    lowercase form."""
    from finlogic_spark.operators.freq import heavy_tokens

    # 60 docs x 5 occurrences of 'İstanbul' + light tail noise
    rows = [(i, "İstanbul " * 5 + f"t{i} u{i % 7}") for i in range(60)]
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(4)
    got = {r["token"]: r["cnt"] for r in heavy_tokens(df, "text", 0.2).collect()}
    jvm_lower = (
        df.limit(1).select(F.lower(F.lit("İstanbul")).alias("t")).collect()[0]["t"]
    )
    assert jvm_lower in got and got[jvm_lower] == 300, (jvm_lower, got)


def test_heavy_hitters_exact_phi_boundary(spark):
    """ge_phi_n (ADVICE r12): an item whose count is EXACTLY phi*n
    must pass, as it does under the oracle's exact-DECIMAL HAVING —
    float64 phi*n rounds 0.001 slightly high and would drop it.
    Corpus: n=1000 occurrences, one item with exactly 1 (= 0.001*n)."""
    from finlogic_spark.operators.freq import heavy_hitters

    rows = [("common",)] * 999 + [("edge",)]
    df = spark.createDataFrame(rows, "item string").repartition(3)
    got = {r["item"]: r["cnt"] for r in heavy_hitters(df, "item", 0.001).collect()}
    assert got.get("edge") == 1, got
    assert got.get("common") == 999


def test_pagerank_round_table_variant_bit_identical(spark, tmp_path):
    """round_table_dir (per-round parquet persistence, the restartable
    100 TB variant) must produce bit-for-bit the localCheckpoint
    variant's ranks — only the round boundary's materialization
    differs."""
    rng = np.random.RandomState(11)
    raw = {(int(a), int(b)) for a, b in rng.randint(0, 50, (300, 2)) if a != b}
    edges = sorted(raw | {(b, a) for a, b in raw})
    df = spark.createDataFrame(edges, "src long, dst long")
    base = {r["node"]: r["rank"] for r in pagerank(df, iterations=4).collect()}
    via_tables = {
        r["node"]: r["rank"]
        for r in pagerank(
            df, iterations=4, round_table_dir=str(tmp_path / "pr")
        ).collect()
    }
    assert via_tables == base
    import os
    assert os.path.exists(str(tmp_path / "pr" / "round3"))


def test_pagerank_round_join_exchanges_ranks_only(spark):
    """The persisted edge list is hash-partitioned + sorted by src, so
    a round's rank join must plan exactly ONE exchange (the rank side)
    — re-exchanging the cached edges every round measured ~50 GB of
    shuffle per round at sf100 (1.17B edges)."""
    edges = spark.range(2000).selectExpr(
        "id % 50 AS src", "(id * 7) % 50 AS dst"
    )
    ed = (
        edges.join(
            edges.groupBy("src").agg(F.count(F.lit(1)).alias("__deg")), "src"
        )
        .repartition("src")
        .sortWithinPartitions("src")
        .persist()
    )
    ed.count()
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # disable broadcast so the join takes the SMJ/SHJ shape a
        # |V|-sized rank table forces at scale
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        ranks = spark.range(50).selectExpr("id AS src", "id * 10 AS rank")
        plan = (
            ed.join(ranks, "src")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        lines = plan.splitlines()
        smj = next(
            i for i, ln in enumerate(lines)
            if "SortMergeJoin" in ln or "ShuffledHashJoin" in ln
        )
        # left (cached-edges) branch: lines printed with ':' until the
        # InMemoryTableScan — must contain neither an Exchange nor a
        # Sort (partitioning AND ordering come from the cache)
        left: list = []
        for ln in lines[smj + 1:]:
            left.append(ln)
            if "InMemoryTableScan" in ln:
                break
        assert left and "InMemoryTableScan" in left[-1], plan
        assert not any("Exchange" in ln or "Sort" in ln for ln in left[:-1]), (
            plan
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        ed.unpersist()


def test_pagerank_broadcast_regime_hints_rank_side(spark):
    """Small-|V| regime plan pin (the mirror of the SMJ pin above):
    from round 2 on, ranks come from localCheckpoint, whose LogicalRDD
    carries no size stats — without pagerank's explicit F.broadcast
    hint the static planner would fall to SMJ and re-exchange the
    unpartitioned cached edge list every round. Reproduce that round
    shape (stats-less rank side + unpartitioned cache) and assert the
    hint forces BroadcastHashJoin with an exchange-free edge branch."""
    edges = spark.range(2000).selectExpr(
        "id % 50 AS src", "(id * 7) % 50 AS dst"
    )
    ed = edges.join(
        edges.groupBy("src").agg(F.count(F.lit(1)).alias("__deg")), "src"
    ).persist()
    ed.count()
    try:
        ranks = (
            spark.range(50)
            .selectExpr("id AS src", "id * 10 AS rank")
            .localCheckpoint(eager=True)  # stats-less, like round >= 2
        )
        plan = (
            ed.join(F.broadcast(ranks), "src")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "BroadcastHashJoin" in plan, plan
        lines = plan.splitlines()
        bhj = next(i for i, ln in enumerate(lines) if "BroadcastHashJoin" in ln)
        left = []
        for ln in lines[bhj + 1:]:
            left.append(ln)
            if "InMemoryTableScan" in ln:
                break
        assert left and "InMemoryTableScan" in left[-1], plan
        assert not any("Exchange" in ln for ln in left[:-1]), plan
    finally:
        ed.unpersist()


def test_pagerank_broadcast_round_shape_r15(spark):
    """r15 broadcast-regime round shape: the BARE edge cache joins a
    broadcast degree table AND a broadcast rank table — two
    BroadcastHashJoins, zero exchanges and zero sorts on the edge
    branch (the r14 shape materialized a fused (edge, degree) cache;
    r15 keeps one string-pair cache and broadcasts deg, which is
    |V|-row bounded by the regime's own definition)."""
    edges = spark.range(2000).selectExpr(
        "id % 50 AS src", "(id * 7) % 50 AS dst"
    )
    ep = edges.persist()
    ep.count()
    try:
        deg = (
            ep.groupBy("src")
            .agg(F.count(F.lit(1)).alias("__deg"))
            .localCheckpoint(eager=True)
        )
        ranks = (
            spark.range(50)
            .selectExpr("id AS src", "id * 10 AS rank")
            .localCheckpoint(eager=True)
        )
        plan = (
            ep.join(F.broadcast(deg), "src")
            .join(F.broadcast(ranks), "src")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert plan.count("BroadcastHashJoin") == 2, plan
        lines = plan.splitlines()
        bhj = next(
            i for i, ln in enumerate(lines) if "BroadcastHashJoin" in ln
        )
        left = []
        for ln in lines[bhj + 1:]:
            left.append(ln)
            if "InMemoryTableScan" in ln:
                break
        assert left and "InMemoryTableScan" in left[-1], plan
        assert not any(
            "Exchange" in ln or "Sort [" in ln for ln in left[:-1]
        ), plan
    finally:
        ep.unpersist()


def test_pagerank_resume_from_last_complete_round(spark, tmp_path):
    """resume=True restarts from the highest COMPLETE round table
    (contiguous _SUCCESS scan from round 0) and must produce the same
    bit-exact ranks as an uninterrupted run; the resumed run must not
    rewrite the rounds it resumed past."""
    import os

    rng = np.random.RandomState(7)
    raw = {(int(a), int(b)) for a, b in rng.randint(0, 40, (200, 2)) if a != b}
    df = spark.createDataFrame(sorted(raw), "src long, dst long")
    full = {r["node"]: r["rank"] for r in pagerank(df, iterations=5).collect()}

    d = str(tmp_path / "pr")
    # simulate a job killed after round 2: run 3 rounds to the dir
    pagerank(df, iterations=3, round_table_dir=d)
    stamp = os.path.getmtime(f"{d}/round1/_SUCCESS")
    resumed = {
        r["node"]: r["rank"]
        for r in pagerank(
            df, iterations=5, round_table_dir=d, resume=True
        ).collect()
    }
    assert resumed == full
    assert os.path.getmtime(f"{d}/round1/_SUCCESS") == stamp  # untouched
    assert os.path.exists(f"{d}/round4/_SUCCESS")

    # a GAP (round1 incomplete) must force restart from round 0's table
    os.remove(f"{d}/round1/_SUCCESS")
    from finlogic_spark.operators.graph import _last_complete_round

    assert _last_complete_round(spark, d, 5) == 0
    regapped = {
        r["node"]: r["rank"]
        for r in pagerank(
            df, iterations=5, round_table_dir=d, resume=True
        ).collect()
    }
    assert regapped == full


def test_pagerank_single_job_regime_bitwise_and_stats(spark, monkeypatch):
    """The small-graph (driver) regime must (a) actually be chosen for
    a gate-sized edge cache, (b) produce bit-identical ranks to the
    distributed broadcast regime (a zero SMALL_GRAPH_MAX_BYTES forces
    it) and to the reference — exact integer arithmetic has ONE answer
    regardless of which engine shape computes it."""
    rng = np.random.RandomState(23)
    raw = {(int(a), int(b)) for a, b in rng.randint(0, 70, (500, 2)) if a != b}
    sym = sorted(raw | {(b, a) for a, b in raw})
    df = spark.createDataFrame(sym, "src long, dst long")
    st_small: dict = {}
    got = {
        r["node"]: r["rank"]
        for r in pagerank(df, iterations=4, stats=st_small).collect()
    }
    assert st_small["regime"] == "single_job"
    assert st_small["n_edges"] == len(sym)
    st_multi: dict = {}
    monkeypatch.setattr(graph, "SMALL_GRAPH_MAX_BYTES", 0)
    multi = {
        r["node"]: r["rank"]
        for r in pagerank(df, iterations=4, stats=st_multi).collect()
    }
    assert st_multi["regime"] == "broadcast"
    want = _reference_pagerank(sym, 4)
    assert got == want and multi == want


def test_pagerank_symmetrize_matches_explicit_union_all_regimes(spark, monkeypatch):
    """r17: pagerank(symmetrize=True) over DIRECTED edges must be
    bit-identical to pagerank over the explicit
    distinct(e UNION swap(e)) — in BOTH the driver regime (both-
    direction relax over unordered unique pairs) and the distributed
    regime (operator builds the union itself). The
    edge set deliberately contains BOTH orientations of some pairs and
    self-loops, the cases where a naive both-direction relax of the
    raw directed list would double-count."""
    rng = np.random.RandomState(29)
    raw = {(int(a), int(b)) for a, b in rng.randint(0, 60, (400, 2))}
    raw |= {(b, a) for a, b in list(raw)[:50]}  # both orientations
    raw |= {(7, 7), (11, 11)}  # self-loops
    directed = sorted(raw)
    bi = sorted(raw | {(b, a) for a, b in raw})
    df_dir = spark.createDataFrame(directed, "src long, dst long")
    df_bi = spark.createDataFrame(bi, "src long, dst long")

    def ranks(df, **kw):
        return {r["node"]: r["rank"] for r in pagerank(df, iterations=4, **kw).collect()}

    st: dict = {}
    got_sym_small = ranks(df_dir, symmetrize=True, stats=st)
    assert st["regime"] == "single_job"
    want = ranks(df_bi)  # explicit union, single-job
    assert got_sym_small == want
    st2: dict = {}
    monkeypatch.setattr(graph, "SMALL_GRAPH_MAX_BYTES", 0)
    got_sym_dist = ranks(df_dir, symmetrize=True, stats=st2)
    assert st2["regime"] == "broadcast"
    assert got_sym_dist == want


def test_pagerank_null_endpoints_are_not_vertices(spark, monkeypatch):
    """An edge with a null endpoint is dropped on entry in every regime.
    The driver regime used to fail on it (nulls in the dictionary
    indices) while the distributed one ranked a None node and counted
    c -> null in c's out-degree, so c sent mass nowhere."""
    edges = [("a", "b"), ("b", "c"), (None, "a"), ("c", None)]
    df = spark.createDataFrame(edges, "src string, dst string")
    want = _reference_pagerank([("a", "b"), ("b", "c")], 3)

    def ranks(stats):
        out = pagerank(df, iterations=3, stats=stats).collect()
        return {r["node"]: r["rank"] for r in out}

    st: dict = {}
    small = ranks(st)
    assert st["regime"] == "single_job"
    monkeypatch.setattr(graph, "SMALL_GRAPH_MAX_BYTES", 0)
    st_dist: dict = {}
    dist = ranks(st_dist)
    assert st_dist["regime"] == "broadcast"
    assert small == want and dist == want


def test_pagerank_small_regime_job_floor(spark):
    """A symmetrized PageRank over a ~2k-edge string graph runs at most
    5 Spark jobs (5 measured): the edge-cache fill with its size
    measurement, then one collect of the edges to the driver. The
    Python-worker form ran 7 here (a repartition(1) shuffle, the
    mapInArrow task and its eager checkpoint)."""
    rng = np.random.RandomState(31)
    cust, supp = rng.randint(0, 300, 2000), rng.randint(0, 40, 2000)
    raw = {(f"c{a}", f"s{b}") for a, b in zip(cust, supp)}
    df = spark.createDataFrame(sorted(raw), "src string, dst string")
    rows = []
    n_jobs = count_jobs(
        spark,
        "pagerank-floor",
        lambda: rows.extend(pagerank(df, iterations=5, symmetrize=True).collect()),
    )
    got = {r["node"]: r["rank"] for r in rows}
    assert got == _reference_pagerank(sorted(raw | {(b, a) for a, b in raw}), 5)
    assert n_jobs <= 5, n_jobs


def test_pagerank_resume_refuses_foreign_round_tables(spark, tmp_path):
    """The _stats sidecar (ADVICE r14): resume must refuse round
    tables written under different parameters (damping here) or a
    different edge set, and refuse tables with no sidecar at all —
    silently resuming from wrong ranks is the failure mode."""
    edges = [(1, 2), (2, 3), (3, 1), (2, 1)]
    df = spark.createDataFrame(edges, "src long, dst long")
    d = str(tmp_path / "pr")
    pagerank(df, iterations=2, round_table_dir=d)

    with pytest.raises(ValueError, match="resume refused"):
        pagerank(
            df, iterations=4, round_table_dir=d, resume=True,
            damping_num=80,
        )
    other = spark.createDataFrame(edges + [(3, 2)], "src long, dst long")
    with pytest.raises(ValueError, match="resume refused"):
        pagerank(other, iterations=4, round_table_dir=d, resume=True)

    # no sidecar but rounds present -> provenance unverifiable; this is
    # also the layout written before the sidecar was named _stats
    import os

    os.rename(f"{d}/_stats", f"{d}/_params")
    with pytest.raises(ValueError, match="_stats sidecar"):
        pagerank(df, iterations=4, round_table_dir=d, resume=True)

    # matching params on an intact dir still resumes and extends
    d2 = str(tmp_path / "pr2")
    pagerank(df, iterations=2, round_table_dir=d2)
    full = {r["node"]: r["rank"] for r in pagerank(df, iterations=4).collect()}
    resumed = {
        r["node"]: r["rank"]
        for r in pagerank(
            df, iterations=4, round_table_dir=d2, resume=True
        ).collect()
    }
    assert resumed == full


def test_pagerank_fresh_run_clears_stale_rounds(spark, tmp_path):
    """ADVICE r15: a fresh (resume=False) run re-stamps the sidecar but
    used to leave pre-existing round tables BEYOND its own iteration
    count in place. Scenario: run A (edge set E1) writes rounds 0..4;
    fresh run B (edge set E2) writes rounds 0..2 and re-stamps the
    sidecar for E2; resume run C (E2, iterations=5) passes the sidecar
    check and would walk the contiguous _SUCCESS scan into A's stale
    rounds 3..4 — ranks from the WRONG graph. The fresh-stamp path must
    delete stale round tables so C recomputes 3..4 from B's round 2."""
    import os

    e1 = [(1, 2), (2, 3), (3, 1), (2, 1)]
    e2 = e1 + [(3, 2), (1, 3)]
    df1 = spark.createDataFrame(e1, "src long, dst long")
    df2 = spark.createDataFrame(e2, "src long, dst long")
    d = str(tmp_path / "pr")
    pagerank(df1, iterations=5, round_table_dir=d)  # run A: rounds 0..4
    pagerank(df2, iterations=3, round_table_dir=d)  # run B: fresh stamp
    assert not os.path.exists(f"{d}/round3")  # stale A rounds cleared
    assert not os.path.exists(f"{d}/round4")
    full = {
        r["node"]: r["rank"] for r in pagerank(df2, iterations=5).collect()
    }
    resumed = {
        r["node"]: r["rank"]
        for r in pagerank(
            df2, iterations=5, round_table_dir=d, resume=True
        ).collect()
    }
    assert resumed == full


def test_pagerank_smj_regime_end_to_end_bitwise(spark):
    """Force the big-graph (SMJ) regime through the public API
    (broadcast disabled) and require bit-exact ranks: exercises the
    unpersist-then-rebuild path that keeps the transient disk budget
    at one edge cache + one shuffle (repartitioning FROM the cache
    held ~3x at the sf100 scale)."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        rng = np.random.RandomState(5)
        raw = {(int(a), int(b))
               for a, b in rng.randint(0, 60, (400, 2)) if a != b}
        df = spark.createDataFrame(sorted(raw), "src long, dst long")
        got = {r["node"]: r["rank"]
               for r in pagerank(df, iterations=4).collect()}
        assert got == _reference_pagerank(sorted(raw), 4)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
