"""KLL rollup probe — measures the sketch's actual 100 TB value
proposition, which is NOT single-pass speed (a histogram or exact
percentile wins a one-shot race on data that fits) but MERGEABILITY:
persisted per-day sketch tables roll up into period percentiles
without re-reading a single raw row.

Scenario at sf100 (100M event rows split into 7 equal time slices):
- daily_build_s: cost of one day's sketch-table build+persist (the
  incremental pipeline's recurring cost; a DataSketches build over
  the day's raw rows).
- rollup_merge_s: union the 7 persisted sketch tables and extract
  week percentiles — the query a dashboard runs; reads KBs.
- day_arrival_s: day 7 raw build + merge with 6 stored sketches —
  the full daily increment.
- spark_full_s / duckdb_full_s: the recompute-from-raw alternative
  (exact percentile over all 7 days) both engines pay WITHOUT
  mergeable sketches, every day.
- sketch_bytes: total persisted artifact size.

Usage: python tools/probe_kll_rollup.py [--json out.json] [sf_dir]
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

PROBS = [0.5, 0.99]


def main() -> int:
    argv = sys.argv[1:]
    json_out = None
    if "--json" in argv:
        i = argv.index("--json")
        json_out = argv[i + 1]
        argv = argv[:i] + argv[i + 2:]
    sf_dir = argv[0] if argv else "/root/repo/testdata/sf100"

    from pyspark.sql import functions as F

    from finlogic_spark.operators.sketch import (
        kll_sketch_table,
        kll_table_quantiles,
    )
    from finlogic_spark.session import get_spark

    spark = get_spark("probe-kll-rollup")
    events = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    epoch = F.unix_timestamp(F.col("ts").cast("timestamp"))
    lo, hi = events.agg(
        F.min(epoch), F.max(epoch)
    ).first()
    span = (hi - lo) // 7 + 1
    day_col = ((epoch - F.lit(lo)) / F.lit(span)).cast("int")
    base = events.withColumn("__day", day_col)

    root = tempfile.mkdtemp(prefix="kll_rollup_")
    out: dict = {"sf_dir": sf_dir, "n_days": 7, "probs": PROBS}

    # --- daily builds (persist one sketch table per day) ---
    build_times = []
    for d in range(7):
        day = base.filter(F.col("__day") == d).select("event_type", "value")
        t0 = time.perf_counter()
        kll_sketch_table(day, ["event_type"], "value").write.mode(
            "overwrite"
        ).parquet(os.path.join(root, f"day={d}"))
        build_times.append(time.perf_counter() - t0)
    out["daily_build_s_median"] = round(sorted(build_times)[3], 2)
    out["sketch_bytes"] = sum(
        os.path.getsize(p)
        for p in glob.glob(os.path.join(root, "day=*", "*.parquet"))
    )

    # --- the rollup query: week percentiles from stored sketches ---
    def rollup():
        union = spark.read.parquet(*[os.path.join(root, f"day={d}") for d in range(7)])
        kll_table_quantiles(union, ["event_type"], PROBS).write.format(
            "noop"
        ).mode("overwrite").save()

    rollup()  # warm
    samples = []
    for _ in range(3):
        t0 = time.perf_counter()
        rollup()
        samples.append(time.perf_counter() - t0)
    out["rollup_merge_s"] = round(sorted(samples)[1], 3)

    # --- a day's full increment: build day 6 fresh + merge with stored 0-5 ---
    def day_arrival():
        fresh = kll_sketch_table(
            base.filter(F.col("__day") == 6).select("event_type", "value"),
            ["event_type"],
            "value",
        )
        stored = spark.read.parquet(
            *[os.path.join(root, f"day={d}") for d in range(6)]
        )
        kll_table_quantiles(
            stored.unionByName(fresh), ["event_type"], PROBS
        ).write.format("noop").mode("overwrite").save()

    day_arrival()  # warm
    t0 = time.perf_counter()
    day_arrival()
    out["day_arrival_s"] = round(time.perf_counter() - t0, 2)

    # --- recompute-from-raw alternative, Spark exact ---
    def spark_full():
        events.filter(
            F.col("value").isNotNull() & ~F.isnan("value")
        ).groupBy("event_type").agg(
            F.percentile("value", F.lit(0.5)).alias("p50"),
            F.percentile("value", F.lit(0.99)).alias("p99"),
        ).write.format("noop").mode("overwrite").save()

    spark_full()  # warm
    t0 = time.perf_counter()
    spark_full()
    out["spark_full_recompute_s"] = round(time.perf_counter() - t0, 2)

    # --- recompute-from-raw alternative, DuckDB ---
    import duckdb

    con = duckdb.connect()
    con.execute(f"PRAGMA threads={os.cpu_count()}")
    con.sql(
        f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet'"
    )
    sql = """
        SELECT event_type,
               quantile_cont(value, 0.5) AS p50,
               quantile_cont(value, 0.99) AS p99
        FROM events WHERE value IS NOT NULL AND NOT isnan(value)
        GROUP BY 1"""
    con.sql(sql).fetchall()  # warm
    t0 = time.perf_counter()
    con.sql(sql).fetchall()
    out["duckdb_full_recompute_s"] = round(time.perf_counter() - t0, 2)

    # --- sanity: rollup answers land in the exact rank band ---
    union = spark.read.parquet(*[os.path.join(root, f"day={d}") for d in range(7)])
    est = {
        (r["event_type"], r["prob"]): r["value"]
        for r in kll_table_quantiles(union, ["event_type"], PROBS).collect()
    }
    ok = True
    for (g, p), v in est.items():
        lt, le, n = con.sql(
            f"""SELECT sum(CASE WHEN value < {v} THEN 1 ELSE 0 END),
                       sum(CASE WHEN value <= {v} THEN 1 ELSE 0 END),
                       count(*)
                FROM events WHERE event_type = '{g}'
                  AND value IS NOT NULL AND NOT isnan(value)"""
        ).fetchall()[0]
        if not (lt <= (p + 0.02) * n and le >= (p - 0.02) * n):
            ok = False
    out["rollup_band_valid"] = ok
    out["note"] = (
        "rollup_merge_s reads ONLY the persisted sketch tables "
        f"({out['sketch_bytes']} bytes total) — the recompute "
        "alternatives re-scan all raw rows every time; at 100 TB the "
        "raw re-scan is the thing that stops being possible, not slow"
    )
    shutil.rmtree(root, ignore_errors=True)
    print(json.dumps(out, indent=1))
    if json_out:
        with open(json_out, "w") as f:
            json.dump(out, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
