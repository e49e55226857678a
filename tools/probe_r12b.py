"""At-birth scale probes for the round-12b newcomers (the verdict's
standing rule: nothing enters a weak set for lack of a scale number).

- events_hll_rollup  — sf10 + sf100 vs the DuckDB exact-distinct
  oracle. The full query also WRITES + reads back the daily sketch
  parquet and runs the exact-distinct validation branch, so a
  decomposition row isolates the production path (build+store+merge,
  no exact branch) the way the kll_rollup row did.
- doc_heavy_tokens   — sf10 + sf100 vs the DuckDB GROUP BY/HAVING
  oracle, plus a same-engine decomposition against the full-shuffle
  Spark plan (explode → groupBy over the whole distribution → filter)
  the screen+verify design replaces.
- events_kll_bucketize — sf10 + sf100. The registry oracle is a
  trivial keys×4 frame (the band flags carry the semantics), so the
  honest baseline here is the EXACT equi-depth assignment both ways:
  DuckDB ntile(4) and Spark ntile(4) over a per-group sort.
- orders_supplier_pagerank — sf10 vs the unrolled-CTE DuckDB oracle
  (integer arithmetic: both engines do identical work per round).
  sf100 orders/lineitem would be 2.6B rows — out of this host's disk;
  the sf10 point (60M lineitem) is the decade this box affords.
- stream_hll_distinct — streaming ops are measured on their own
  contract (per-batch latency + state size) in BENCH_r12_stream_kll
  style by tools/probe_stream_kll.py --op hll, not here.

Usage: python tools/probe_r12b.py [--json out.json] [--runs N]
       [--timeout S] [sf10_dir] [sf100_dir]
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
        t0 = time.perf_counter()
        fn()
        samples.append(time.perf_counter() - t0)
    return round(statistics.median(samples), 2)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _row(spark, name, sf_dir, runs, timeout):
    row = spark_time(spark, name, sf_dir, runs)
    row.update(duckdb_time(name, sf_dir, runs, timeout))
    if row.get("duckdb_s"):
        row["ratio"] = round(row["spark_s"] / row["duckdb_s"], 2)
    return row


def probe_hll_rollup(spark, out, sf_dirs, runs, timeout):
    from pyspark.sql import functions as F

    from finlogic_spark.operators.distinct_sketch import (
        hll_sketch_table,
        hll_table_estimate,
    )

    for label, d in sf_dirs:
        out[f"{label}:events_hll_rollup"] = _row(
            spark, "events_hll_rollup", d, runs, timeout
        )
        print(f"{label}:events_hll_rollup", out[f"{label}:events_hll_rollup"], flush=True)

    # decomposition at the largest scale: the production path alone
    # (build daily sketches → write parquet → read back → merge), no
    # exact-distinct validation branch
    label, d = sf_dirs[-1]
    e = spark.read.parquet(f"{d}/events.parquet")
    base = e.filter(F.col("user_id").isNotNull()).select(
        F.to_date(F.expr("timestamp_micros(ts DIV 1000)")
                  if dict(e.dtypes).get("ts") == "bigint" else F.col("ts")).alias("day"),
        "event_type",
        "user_id",
    )
    path = "/tmp/probe_hllroll"

    def production():
        _drop_persisted(spark)
        daily = hll_sketch_table(base, ["day", "event_type"], "user_id", lgk=12)
        daily.write.mode("overwrite").parquet(path)
        noop(hll_table_estimate(spark.read.parquet(path), ["event_type"]))

    t = timed(production, runs)
    full = out[f"{label}:events_hll_rollup"]
    out[f"{label}:events_hll_rollup_decomposition"] = {
        "production_build_store_merge_s": t,
        "full_with_exact_validation_s": full["spark_s"],
        "note": (
            "production path = sketch build + parquet store + read-back "
            "merge (what runs daily at 100 TB); the registry query adds "
            "an exact count_distinct branch purely to validate the band"
        ),
    }
    print(out[f"{label}:events_hll_rollup_decomposition"], flush=True)


def probe_heavy_tokens(spark, out, sf_dirs, runs, timeout):
    from pyspark.sql import functions as F

    from finlogic_spark.functions.text import tokens

    for label, d in sf_dirs:
        out[f"{label}:doc_heavy_tokens"] = _row(
            spark, "doc_heavy_tokens", d, runs, timeout
        )
        print(f"{label}:doc_heavy_tokens", out[f"{label}:doc_heavy_tokens"], flush=True)

    # same-engine decomposition at the largest scale: the full-shuffle
    # plan the screen replaces (explode → groupBy the WHOLE token
    # distribution → broadcast-threshold filter)
    label, d = sf_dirs[-1]

    def full_shuffle():
        _drop_persisted(spark)
        docs = spark.read.parquet(f"{d}/documents.parquet").filter(
            F.col("text").isNotNull()
        )
        occ = docs.select(F.explode(tokens("text")).alias("token"))
        tot = occ.agg(F.count(F.lit(1)).alias("__n"))
        full = (
            occ.groupBy("token")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .crossJoin(F.broadcast(tot))
            .filter(F.col("cnt") >= 0.001 * F.col("__n"))
            .drop("__n")
        )
        noop(full)

    t = timed(full_shuffle, runs)

    # the cluster-scale variable a one-box wall clock can't show: rows
    # entering each plan's exchange. The full plan's partial agg emits
    # one row per DISTINCT token per map task; screen+verify's exchange
    # carries only candidate tokens per map task.
    docs = spark.read.parquet(f"{d}/documents.parquet").filter(
        F.col("text").isNotNull()
    )
    occ = docs.select(
        F.spark_partition_id().alias("__pid"),
        F.explode(tokens("text")).alias("token"),
    )
    full_rows = occ.distinct().count()
    from finlogic_spark.operators.freq import token_frequency_screen

    scr_df = token_frequency_screen(docs, "text", 0.001)
    cand = scr_df.filter(F.col("token").isNotNull()).select("token").distinct()
    screen_rows = (
        occ.join(F.broadcast(cand), "token", "left_semi").distinct().count()
        + scr_df.count()
    )
    scr = out[f"{label}:doc_heavy_tokens"]
    out[f"{label}:doc_heavy_tokens_decomposition"] = {
        "screen_verify_s": scr["spark_s"],
        "full_distribution_shuffle_s": t,
        "exchange_rows_full_plan": full_rows,
        "exchange_rows_screen_verify": screen_rows,
        "note": (
            "same engine, same answer. The verdict on THIS corpus is "
            "unambiguous: its post-combine vocabulary is tiny (see "
            "exchange_rows_full_plan), so the full one-shuffle plan "
            "wins both wall clock and exchange volume, and the screen "
            "is pure tokenize-twice overhead — which is why "
            "doc_heavy_tokens is registry-gated but bench-exempt. The "
            "screen's regime is a heavy-tailed web-scale vocabulary "
            "(1e8+ distinct tokens x 1e4 map tasks in the exchange) "
            "where exchange_rows_full_plan explodes and the screen's "
            "stays <= 2/phi per partition; the plan choice belongs to "
            "a catalog vocabulary estimate (operators/freq.py "
            "docstring)"
        ),
    }
    print(out[f"{label}:doc_heavy_tokens_decomposition"], flush=True)


def probe_bucketize(spark, out, sf_dirs, runs, timeout):
    import duckdb


    for label, d in sf_dirs:
        row = spark_time(spark, "events_kll_bucketize", d, runs)

        # honest exact baselines: equi-depth via ntile(4) on both engines
        def spark_ntile():
            from pyspark.sql import Window
            from pyspark.sql import functions as F

            _drop_persisted(spark)
            e = spark.read.parquet(f"{d}/events.parquet")
            v = F.col("value")
            base = e.filter(v.isNotNull() & ~F.isnan(v)).select(
                "event_type", "value"
            )
            w = Window.partitionBy("event_type").orderBy("value")
            noop(
                base.withColumn("bucket", F.ntile(4).over(w))
                .groupBy("event_type", "bucket")
                .count()
            )

        row["spark_ntile_exact_s"] = timed(spark_ntile, runs)

        con = duckdb.connect()
        con.execute(f"PRAGMA threads={os.cpu_count()}")
        con.sql(
            f"CREATE VIEW events AS SELECT * FROM '{d}/events.parquet'"
        )
        sql = """
        SELECT event_type, bucket, count(*) FROM (
          SELECT event_type, ntile(4) OVER (
            PARTITION BY event_type ORDER BY value) AS bucket
          FROM events WHERE value IS NOT NULL AND NOT isnan(value))
        GROUP BY 1, 2"""

        def duck_run():
            con.sql(sql).fetchall()

        row["duckdb_ntile_exact_s"] = timed(duck_run, runs)
        row["ratio_sketch_vs_duckdb_ntile"] = round(
            row["spark_s"] / row["duckdb_ntile_exact_s"], 2
        )
        out[f"{label}:events_kll_bucketize"] = row
        print(f"{label}:events_kll_bucketize", row, flush=True)


def probe_pagerank(spark, out, sf1, sf10, runs, timeout):
    """Spark at sf10 (60M lineitem); the DuckDB unrolled-CTE oracle is
    measured at sf1 only — at sf10 it spilled >70 GB of temp and
    filled this host's disk (each CTE level materializes the full
    rank×edge join), which is recorded as the finding it is. The
    integer-arithmetic contract is already hash-verified at sf0.01 and
    sf0.1 by the gate."""
    if not os.path.exists(f"{sf10}/orders.parquet"):
        print("pagerank probe skipped: no orders/lineitem at", sf10)
        return
    row = spark_time(spark, "orders_supplier_pagerank", sf10, runs)
    row["duckdb_s"] = None
    row["duckdb_note"] = (
        "DNF at sf10: unrolled-CTE recursion spilled >70 GB temp and "
        "exhausted the disk; sf1 point below"
    )
    out["sf10:orders_supplier_pagerank"] = row
    print("sf10:orders_supplier_pagerank", row, flush=True)
    if os.path.exists(f"{sf1}/orders.parquet"):
        try:
            out["sf1:orders_supplier_pagerank"] = _row(
                spark, "orders_supplier_pagerank", sf1, runs, timeout
            )
        except Exception as exc:  # duckdb temp-spill / OOM — record it
            out["sf1:orders_supplier_pagerank"] = {
                "duckdb_s": None,
                "duckdb_note": f"DNF: {exc}"[:200],
            }
        print("sf1:orders_supplier_pagerank",
              out["sf1:orders_supplier_pagerank"], flush=True)


def main() -> int:
    argv = sys.argv[1:]
    json_out, runs, timeout = None, 3, 600.0
    if "--json" in argv:
        i = argv.index("--json")
        json_out = argv[i + 1]
        argv = argv[:i] + argv[i + 2:]
    if "--runs" in argv:
        i = argv.index("--runs")
        runs = int(argv[i + 1])
        argv = argv[:i] + argv[i + 2:]
    if "--timeout" in argv:
        i = argv.index("--timeout")
        timeout = float(argv[i + 1])
        argv = argv[:i] + argv[i + 2:]
    which = "all"
    if "--which" in argv:
        i = argv.index("--which")
        which = argv[i + 1]
        argv = argv[:i] + argv[i + 2:]
    sf10 = argv[0] if argv else "/root/repo/testdata/sf10"
    sf100 = argv[1] if len(argv) > 1 else "/root/repo/testdata/sf100"
    sf1 = os.path.join(os.path.dirname(sf10.rstrip("/")), "sf1")

    from finlogic_spark.session import get_spark

    spark = get_spark("probe-r12b")
    sf_dirs = [("sf10", sf10), ("sf100", sf100)]
    out: dict = {"runs": runs, "sf10": sf10, "sf100": sf100}
    # --which merges into an existing --json file so a single probe
    # family can be re-measured after a plan change
    if json_out and which != "all" and os.path.exists(json_out):
        with open(json_out) as f:
            out.update(json.load(f))
    if which in ("all", "hll"):
        probe_hll_rollup(spark, out, sf_dirs, runs, timeout)
    if which in ("all", "heavy"):
        probe_heavy_tokens(spark, out, sf_dirs, runs, timeout)
    if which in ("all", "bucketize"):
        probe_bucketize(spark, out, sf_dirs, runs, timeout)
    if which in ("all", "pagerank"):
        probe_pagerank(spark, out, sf1, sf10, runs, timeout)
    if which in ("all", "winkmv", "window", "kmv"):
        # at-birth rows for the later round-12b newcomers: windowed
        # distinct from stored sketches, KMV pairwise overlap
        names = {
            "window": ["events_hll_window"],
            "kmv": ["events_kmv_overlap"],
        }.get(which, ["events_hll_window", "events_kmv_overlap"])
        for name in names:
            for label, d in sf_dirs:
                out[f"{label}:{name}"] = _row(spark, name, d, runs, timeout)
                print(f"{label}:{name}", out[f"{label}:{name}"], flush=True)

        do_window = which in ("all", "winkmv", "window")
        do_kmv = which in ("all", "winkmv", "kmv")
        # decomposition at the largest scale: the production path alone
        # (daily sketch build -> window merge), no exact-windowed-
        # distinct validation branch (the same adjudication shape as
        # events_hll_rollup: the exact branch exists only to check the
        # band, and is the expensive part by construction — it is the
        # very work the operator exists to avoid)
        from pyspark.sql import functions as F

        from finlogic_spark.operators.distinct_sketch import (
            hll_sketch_table,
            hll_window_estimate,
        )

        label, d = sf_dirs[-1]
        e = spark.read.parquet(f"{d}/events.parquet")
        ts = (
            F.expr("timestamp_micros(ts DIV 1000)")
            if dict(e.dtypes).get("ts") == "bigint"
            else F.col("ts")
        )
        base = e.filter(F.col("user_id").isNotNull()).select(
            F.to_date(ts).alias("day"), "event_type", "user_id"
        )

        def production():
            _drop_persisted(spark)
            daily = hll_sketch_table(
                base, ["day", "event_type"], "user_id", lgk=12
            )
            noop(hll_window_estimate(daily, ["event_type"], "day", 7))

        if do_window:
            t = timed(production, runs)
            out[f"{label}:events_hll_window_decomposition"] = {
                "production_build_window_merge_s": t,
                "full_with_exact_validation_s": out[
                    f"{label}:events_hll_window"
                ]["spark_s"],
                "note": (
                    "production path = daily sketch build + <=7-row "
                    "window merges per output day; the registry query "
                    "adds an exact windowed re-distinct branch purely to "
                    "validate the band — at 100 TB that branch "
                    "re-distincts 7x the corpus per dashboard refresh, "
                    "which is precisely what the stored-sketch design "
                    "avoids"
                ),
            }
            print(out[f"{label}:events_hll_window_decomposition"], flush=True)

        # kmv production path: sketch build + pair estimator, no exact
        # self-join validation branch
        from finlogic_spark.operators.distinct_sketch import (
            theta_pair_overlap,
            theta_sketch_table,
        )

        eu = e.filter(F.col("user_id").isNotNull()).select(
            "event_type", "user_id"
        )

        def kmv_production():
            _drop_persisted(spark)
            sk = theta_sketch_table(eu, ["event_type"], "user_id", lg_nom_entries=12)
            noop(theta_pair_overlap(sk, "event_type"))

        if do_kmv:
            t = timed(kmv_production, runs)
            out[f"{label}:events_kmv_overlap_decomposition"] = {
                "production_build_pair_estimate_s": t,
                "full_with_exact_validation_s": out[
                    f"{label}:events_kmv_overlap"
                ]["spark_s"],
                "note": (
                    "production path = k-min sketch build (sketch-only "
                    "shuffle) + pair estimator over 5 sketch rows; the "
                    "registry query adds the exact distinct-(type,user) "
                    "self-join branch purely to validate the band — the "
                    "quadratic-in-overlap work the sketch exists to avoid"
                ),
            }
            print(out[f"{label}:events_kmv_overlap_decomposition"], flush=True)
    if json_out:
        with open(json_out, "w") as f:
            json.dump(out, f, indent=1)
        print("wrote", json_out)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
