"""Round-13 scale probes — closing the r12 weak set with measurements.

- events_kmv_overlap: the r12 production path (Python heap-merge KMV
  build) lost to DuckDB's exact distinct-pair self-join at sf100
  (7.2 s vs 2.2 s). The build is now all-JVM (slice/array_sort k-min,
  commit r13); this measures the new production path against the same
  exact baseline, PLUS the crossover regime the sketch exists for:
  many overlapping groups, where the exact self-join's output is
  quadratic in groups-per-user and the sketch stays |groups| rows.
- join_bloom_pruned: r12 pinned both regimes (bloom = pure overhead
  when the dim fits broadcast, 2.35x win when it doesn't) but the
  operator applied the filter unconditionally. bloom_pruned_join now
  auto-bypasses below the broadcast threshold; this republishes the
  sf100 row riding the decision, and the shuffle-regime row with the
  filter engaged.
- data_profile: approx tier (approx_count_distinct) vs the exact
  COUNT(DISTINCT) contract at sf100.

Usage: python tools/probe_r13.py [--json out.json] [--runs N]
       [--only kmv,bloom,profile] [sf100_dir]
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from probe_r10 import _drop_persisted, duckdb_time, spark_time  # noqa: E402


def timed(fn, runs: int) -> float:
    fn()  # warm: codegen + page cache
    samples = []
    for _ in range(runs):
        _drop_persisted(SPARK)
        t0 = time.perf_counter()
        fn()
        samples.append(time.perf_counter() - t0)
    return round(statistics.median(samples), 2)


def duck_timed(con, sql: str, runs: int) -> float:
    con.sql(sql).fetchall()  # warm
    samples = []
    for _ in range(runs):
        t0 = time.perf_counter()
        con.sql(sql).fetchall()
        samples.append(time.perf_counter() - t0)
    return round(statistics.median(samples), 2)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def probe_kmv(out, sf100, runs):
    import duckdb
    from pyspark.sql import functions as F

    from finlogic_spark.operators.distinct_sketch import (
        theta_pair_overlap,
        theta_sketch_table,
    )

    e = SPARK.read.parquet(f"{sf100}/events.parquet")
    eu = e.filter(F.col("user_id").isNotNull()).select("event_type", "user_id")

    def production():
        noop(theta_pair_overlap(
            theta_sketch_table(eu, ["event_type"], "user_id", lg_nom_entries=12),
            "event_type",
        ))

    t = timed(production, runs)
    con = duckdb.connect()
    con.execute(f"PRAGMA threads={os.cpu_count()}")
    con.execute("SET max_temp_directory_size='30GiB'")
    con.sql(f"CREATE VIEW events AS SELECT * FROM '{sf100}/events.parquet'")
    exact_sql = """
      WITH u AS (SELECT DISTINCT event_type, user_id FROM events
                 WHERE user_id IS NOT NULL)
      SELECT a.event_type, b.event_type, count(*) AS o
      FROM u a JOIN u b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2"""
    d = duck_timed(con, exact_sql, runs)
    out["sf100:events_kmv_overlap_production"] = {
        "spark_sketch_build_pair_estimate_s": t,
        "duckdb_exact_pair_selfjoin_s": d,
        "ratio": round(t / d, 2),
        "note": (
            "production path only (JVM k-min build + rho estimator over "
            "5 sketch rows); r12's Python heap-merge build was 7.2 s on "
            "this workload"
        ),
    }
    print(out["sf100:events_kmv_overlap_production"], flush=True)

    # Crossover regime: G overlapping groups per user. Exact self-join
    # emits ~G^2/2 rows PER USER (quadratic in overlap); the sketch
    # ships G fixed-size rows regardless. users=500k, G=256 -> 128M
    # distinct pairs in, ~16.3e9 joined rows for the exact plan.
    # (First cuts at G=32/2M and G=96/1M produced 1e9 / 4.6e9 join
    # rows, which DuckDB streamed through its perfect-hash agg at
    # ~400M rows/s — the quadratic term must dominate the linear scan
    # by a decade to show the regime.)
    users, groups = 500_000, 256
    xpath = "/tmp/probe_kmv_cross256"
    if not os.path.exists(xpath):
        (
            SPARK.range(users)
            .selectExpr("id AS user_id")
            .crossJoin(SPARK.range(groups).selectExpr("id AS grp"))
            .select("grp", "user_id")
            .write.mode("overwrite").parquet(xpath)
        )
    pairs = SPARK.read.parquet(xpath)

    def cross_production():
        noop(theta_pair_overlap(
            theta_sketch_table(pairs, ["grp"], "user_id", lg_nom_entries=12), "grp"
        ))

    t = timed(cross_production, runs)
    con.sql(f"CREATE VIEW xpairs AS SELECT * FROM '{xpath}/*.parquet'")
    d = duck_timed(
        con,
        """
        WITH u AS (SELECT DISTINCT grp, user_id FROM xpairs)
        SELECT a.grp, b.grp, count(*) AS o
        FROM u a JOIN u b ON a.user_id = b.user_id AND a.grp < b.grp
        GROUP BY 1, 2""",
        max(1, runs - 2),
    )
    out["crossover:events_kmv_overlap"] = {
        "spark_sketch_s": t,
        "duckdb_exact_pair_selfjoin_s": d,
        "ratio": round(t / d, 2),
        "workload": f"{users} users x {groups} overlapping groups "
                    f"(~{groups}*{groups-1}//2 * users exact join rows)",
        "note": (
            "the regime the sketch exists for: exact pairwise overlap "
            "is quadratic in groups-per-user; sketch cost stays linear "
            "scan + |groups| fixed-size rows"
        ),
    }
    print(out["crossover:events_kmv_overlap"], flush=True)


def probe_bloom(out, sf100, runs):
    from pyspark.sql import functions as F

    from finlogic_spark.operators.bloomjoin import bloom_pruned_join

    # full registry row (auto-bypass decides): spark vs duckdb
    row = spark_time(SPARK, "join_bloom_pruned", sf100, runs)
    row.update(duckdb_time("join_bloom_pruned", sf100, runs, 600.0))
    if row.get("duckdb_s"):
        row["ratio"] = round(row["spark_s"] / row["duckdb_s"], 2)
    row["note"] = (
        "rides the new auto-bypass: the filtered customer dim fits "
        "broadcast, so the plan is the plain broadcast join (r12 "
        "measured the unconditional filter at +1.16 s pure overhead "
        "in this regime)"
    )

    # the same query as a hand-written plain broadcast join — the
    # operator-free floor; bypass 'done' = full row ~= this row
    o0 = SPARK.read.parquet(f"{sf100}/orders.parquet").select(
        "o_custkey", "o_totalprice"
    )
    dim0 = (
        SPARK.read.parquet(f"{sf100}/customer.parquet")
        .filter(
            (F.col("c_mktsegment") == "MACHINERY")
            & (F.col("c_acctbal") > 9000.0)
        )
        .select("c_custkey", "c_nationkey")
    )

    def plain_floor():
        noop(
            o0.join(F.broadcast(dim0), o0.o_custkey == dim0.c_custkey)
            .groupBy("c_nationkey")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    row["spark_plain_broadcast_join_s"] = timed(plain_floor, runs)
    out["sf100:join_bloom_pruned"] = row
    print(row, flush=True)

    # shuffle regime: force the dim above the (lowered) threshold so
    # the filter engages; baseline = the same plain join without it.
    o = SPARK.read.parquet(f"{sf100}/orders.parquet").select(
        "o_custkey", "o_totalprice"
    )
    dim = (
        SPARK.read.parquet(f"{sf100}/customer.parquet")
        .filter(
            (F.col("c_mktsegment") == "MACHINERY")
            & (F.col("c_acctbal") > 9000.0)
        )
        .select("c_custkey", "c_nationkey")
    )
    conf = SPARK.conf
    old = conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        conf.set("spark.sql.autoBroadcastJoinThreshold", "1024")

        def bloom_shuffle():
            noop(
                bloom_pruned_join(o, dim, "o_custkey", "c_custkey")
                .groupBy("c_nationkey")
                .agg(F.count(F.lit(1)).alias("n"))
            )

        def plain_shuffle():
            noop(
                o.join(dim, o.o_custkey == dim.c_custkey)
                .groupBy("c_nationkey")
                .agg(F.count(F.lit(1)).alias("n"))
            )

        tb = timed(bloom_shuffle, runs)
        tp = timed(plain_shuffle, runs)
    finally:
        conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    out["sf100:join_bloom_shuffle_regime"] = {
        "bloom_pruned_s": tb,
        "plain_shuffle_join_s": tp,
        "speedup": round(tp / tb, 2),
        "note": (
            "broadcast threshold forced to 1 KiB so the dim cannot "
            "broadcast — the regime where the bloom's probe-side "
            "reduction pays for the exchange it shrinks"
        ),
    }
    print(out["sf100:join_bloom_shuffle_regime"], flush=True)


def probe_profile(out, sf100, runs):
    import duckdb

    from finlogic_spark.operators.profile import profile_columns

    cols = ["c_custkey", "c_name", "c_nationkey", "c_mktsegment", "c_acctbal"]
    cust = SPARK.read.parquet(f"{sf100}/customer.parquet")

    def exact():
        noop(profile_columns(cust, cols))

    def approx():
        noop(profile_columns(cust, cols, approx=True))

    te = timed(exact, runs)
    ta = timed(approx, runs)
    con = duckdb.connect()
    con.execute(f"PRAGMA threads={os.cpu_count()}")
    con.sql(f"CREATE VIEW customer AS SELECT * FROM '{sf100}/customer.parquet'")
    branches = " UNION ALL ".join(
        f"SELECT '{c}' AS col_name, count(*) AS n_rows, "
        f"sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS n_nulls, "
        f"count(DISTINCT {c}) AS n_distinct FROM customer"
        for c in cols
    )
    d = duck_timed(con, branches, runs)
    out["sf100:data_profile_tiers"] = {
        "spark_exact_s": te,
        "spark_approx_s": ta,
        "duckdb_exact_s": d,
        "ratio_exact": round(te / d, 2),
        "ratio_approx": round(ta / d, 2),
        "note": (
            "exact tier IS the COUNT(DISTINCT)-of-15M-strings contract "
            "(r12 decomposition: scan+agg floor 0.19 s); approx=True "
            "swaps the per-column distinct branches for one "
            "hll_sketch_agg aggregate — the 100 TB profile"
        ),
    }
    print(out["sf100:data_profile_tiers"], flush=True)

    # same tiers at 10x the rows (orders, 150M): the 15M-row customer
    # row is job-floor-dominated on the Spark side; a decade more data
    # shows the tiers' data-path slopes
    ocols = ["o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
             "o_orderpriority"]
    orders = SPARK.read.parquet(f"{sf100}/orders.parquet")

    def exact_o():
        noop(profile_columns(orders, ocols))

    def approx_o():
        noop(profile_columns(orders, ocols, approx=True))

    te = timed(exact_o, runs)
    ta = timed(approx_o, runs)
    con.sql(f"CREATE VIEW orders AS SELECT * FROM '{sf100}/orders.parquet'")
    branches = " UNION ALL ".join(
        f"SELECT '{c}' AS col_name, count(*) AS n_rows, "
        f"sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS n_nulls, "
        f"count(DISTINCT {c}) AS n_distinct FROM orders"
        for c in ocols
    )
    d = duck_timed(con, branches, max(1, runs - 1))
    abranches = " UNION ALL ".join(
        f"SELECT '{c}' AS col_name, count(*) AS n_rows, "
        f"sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS n_nulls, "
        f"approx_count_distinct({c}) AS n_distinct FROM orders"
        for c in ocols
    )
    da = duck_timed(con, abranches, max(1, runs - 1))
    out["sf100-orders:data_profile_tiers"] = {
        "rows": 150_000_000,
        "spark_exact_s": te,
        "spark_approx_s": ta,
        "duckdb_exact_s": d,
        "duckdb_approx_s": da,
        "ratio_exact": round(te / d, 2),
        "ratio_approx": round(ta / d, 2),
        "ratio_approx_tier_for_tier": round(ta / da, 2),
        "note": (
            "approx < exact on the Spark side at both table scales "
            "(the tier's point: one scan, fixed-size sketch exchange, "
            "no distinct shuffles — the shape that survives 100 TB); "
            "the residual vs DuckDB is the imperative-aggregate row "
            "path (Datasketches HLL is a TypedImperativeAggregate, "
            "which takes the whole combined aggregate off whole-stage "
            "codegen), the same engine constant the exact tier's "
            "decomposition pinned"
        ),
    }
    print(out["sf100-orders:data_profile_tiers"], flush=True)


def probe_bpe(out, sf_dirs, runs):
    """At-birth scale rows for doc_bpe_encode (the judge's standing
    rule): Spark = the full registry path (learn once per sf_dir via
    the cached merge table, then Arrow-batched encode); DuckDB = the
    lazy oracle's lookup-join aggregation with the baked word->pieces
    VALUES (generation untimed, same discipline as every LAZY_ORACLES
    baseline — bench.py also resolves oracles before timing)."""
    import duckdb

    from finlogic_spark import driver_queries as dq

    for label, d in sf_dirs:
        if not os.path.exists(f"{d}/documents.parquet"):
            continue
        q = dq.QUERIES["doc_bpe_encode"]
        t0 = time.perf_counter()
        noop(q(SPARK, d))  # cold: includes the learn + first encode
        cold = round(time.perf_counter() - t0, 2)
        t = timed(lambda: noop(q(SPARK, d)), runs)  # warm: merges cached
        row = {"spark_cold_learn_encode_s": cold, "spark_warm_encode_s": t}
        try:
            t0 = time.perf_counter()
            sql = dq.LAZY_ORACLES["doc_bpe_encode"](d)  # untimed gen
            row["oracle_gen_s"] = round(time.perf_counter() - t0, 2)
            con = duckdb.connect()
            con.execute(f"PRAGMA threads={os.cpu_count()}")
            con.sql(
                f"CREATE VIEW documents AS "
                f"SELECT * FROM '{d}/documents.parquet'"
            )
            row["duckdb_s"] = duck_timed(con, sql, max(1, runs - 1))
            row["ratio_warm"] = round(t / row["duckdb_s"], 2)
        except MemoryError:
            row["duckdb_s"] = None
        out[f"{label}:doc_bpe_encode"] = row
        print(f"{label}:doc_bpe_encode", row, flush=True)

        # near-dup on BPE-piece shingles: same lifecycle (merge table
        # already cached from the encode row above, so this times the
        # pieces + shingle-minhash + band-join path). sf100 runs once
        # — the full loop is minutes per execution on both engines —
        # and the DuckDB baseline gets a hard 900 s interrupt ceiling
        # (reported as a lower bound when hit, the probe_r10 pattern).
        import threading

        qsp = dq.QUERIES["doc_bpe_shingle_pairs"]
        sruns = runs if label != "sf100" else 1
        t = timed(lambda: noop(qsp(SPARK, d)), sruns)
        row = {"spark_warm_s": t, "spark_runs": sruns}
        try:
            sql = dq.LAZY_ORACLES["doc_bpe_shingle_pairs"](d)
            con = duckdb.connect()
            con.execute(f"PRAGMA threads={os.cpu_count()}")
            con.execute("SET max_temp_directory_size='30GiB'")
            con.sql(
                f"CREATE VIEW documents AS "
                f"SELECT * FROM '{d}/documents.parquet'"
            )
            timer = threading.Timer(900.0, con.interrupt)
            t0 = time.perf_counter()
            try:
                timer.start()
                con.sql(sql).fetchall()
                row["duckdb_s"] = round(time.perf_counter() - t0, 2)
                row["ratio"] = round(t / row["duckdb_s"], 2)
            except duckdb.Error:
                row["duckdb_floor_s"] = 900.0  # lower bound: interrupted
            finally:
                timer.cancel()
        except MemoryError:
            row["duckdb_s"] = None
        out[f"{label}:doc_bpe_shingle_pairs"] = row
        print(f"{label}:doc_bpe_shingle_pairs", row, flush=True)


def main() -> int:
    global SPARK
    argv = sys.argv[1:]
    json_out, runs, only = None, 3, {"kmv", "bloom", "profile"}
    if "--json" in argv:
        i = argv.index("--json")
        json_out = argv[i + 1]
        argv = argv[:i] + argv[i + 2:]
    if "--runs" in argv:
        i = argv.index("--runs")
        runs = int(argv[i + 1])
        argv = argv[:i] + argv[i + 2:]
    if "--only" in argv:
        i = argv.index("--only")
        only = set(argv[i + 1].split(","))
        argv = argv[:i] + argv[i + 2:]
    sf100 = argv[0] if argv else "/root/repo/testdata/sf100"

    from finlogic_spark.session import get_spark

    SPARK = get_spark("probe-r13")
    out: dict = {"runs": runs}
    if "kmv" in only:
        probe_kmv(out, sf100, runs)
    if "bloom" in only:
        probe_bloom(out, sf100, runs)
    if "profile" in only:
        probe_profile(out, sf100, runs)
    if "bpe" in only:
        probe_bpe(
            out,
            [("sf10", "/root/repo/testdata/sf10"), ("sf100", sf100)],
            runs,
        )
    if json_out:
        with open(json_out, "w") as f:
            json.dump(out, f, indent=1)
        print("wrote", json_out)
    return 0


SPARK = None

if __name__ == "__main__":
    raise SystemExit(main())
