"""Streaming-KLL contract probe (VERDICT r11 item 3).

The r11 batch-drain ratio (20.5x vs a batch SQL baseline at sf100)
measured the wrong contract: a streaming stateful operator's honest
metrics are per-micro-batch latency and state size at a steady input
rate — "can the dashboard keep up, and does state stay bounded" — not
how fast it can replay history against a one-shot columnar aggregate.

Method: the sf events table is split into N parquet files (one file
per micro-batch via maxFilesPerTrigger=1 + availableNow), streamed
through kll_quantiles_stream into the noop sink, and per-batch
numbers read back from the StreamingQuery progress log:

- triggerExecution ms per batch (median / p95 over the steady batches,
  i.e. excluding batch 0 which pays codegen + state-store open)
- input rows/s sustained across the run
- state rows (= live keys) and state-store bytes, total and per key
- the same stream through groupBy().approx_percentile, Spark's other
  update-mode percentile aggregate, for comparison. Its state is the
  percentile digest, which cannot be persisted or merged with the
  batch sketch tables; kll_quantiles_stream keeps the same
  DataSketches KLL binary the batch tables store.

Usage: python tools/probe_stream_kll.py [--json out.json]
       [--batches N] [sf_dir]
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _batch_stats(progresses: list[dict]) -> dict:
    rows = [p for p in progresses if p["numInputRows"] > 0]
    durs = [p["durationMs"]["triggerExecution"] / 1000.0 for p in rows]
    steady = durs[1:] if len(durs) > 1 else durs
    n_rows = sum(p["numInputRows"] for p in rows)
    out = {
        "batches": len(rows),
        "input_rows": n_rows,
        "batch_s_median": round(statistics.median(steady), 3),
        "batch_s_p95": round(
            sorted(steady)[max(0, int(len(steady) * 0.95) - 1)], 3
        ),
        "batch0_s": round(durs[0], 3),
        "rows_per_s": round(n_rows / sum(durs), 0),
    }
    st = rows[-1].get("stateOperators") or []
    if st:
        keys = st[0].get("numRowsTotal")
        mem = st[0].get("memoryUsedBytes")
        out["state_keys"] = keys
        out["state_bytes"] = mem
        if keys:
            out["state_bytes_per_key"] = round(mem / keys, 0)
    return out


def _run_stream(spark, src_dir: str, schema, build_df) -> dict:
    ckpt = tempfile.mkdtemp(prefix="kllprobe_ckpt_")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    q = (
        build_df(stream)
        .writeStream.outputMode("update")
        .format("noop")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    t0 = time.perf_counter()
    q.awaitTermination()
    wall = round(time.perf_counter() - t0, 2)
    # recentProgress keeps the last ~100 entries — size batches <= 100
    stats = _batch_stats([json.loads(p.json) for p in q.recentProgress])
    stats["wall_s"] = wall
    shutil.rmtree(ckpt, ignore_errors=True)
    return stats


def main() -> int:
    argv = sys.argv[1:]

    def opt(flag, default, cast):
        if flag in argv:
            i = argv.index(flag)
            v = cast(argv[i + 1])
            del argv[i : i + 2]
            return v
        return default

    json_out = opt("--json", None, str)
    n_batches = opt("--batches", 50, int)
    # --op hll probes hll_distinct_stream on the same contract (its
    # JVM comparison is approx_count_distinct update-mode state)
    op = opt("--op", "kll", str)
    sf_dir = argv[0] if argv else "/root/repo/testdata/sf100"

    from pyspark.sql import functions as F

    from finlogic_spark.session import get_spark
    from finlogic_spark.streaming import with_event_time
    from finlogic_spark.streaming.stateful import (
        heavy_tokens_stream,
        hll_distinct_stream,
        kll_quantiles_stream,
    )

    spark = get_spark("probe-stream-kll")
    table = "documents" if op == "mg" else "events"
    source = spark.read.parquet(f"{sf_dir}/{table}.parquet")
    n_rows = source.count()

    # one parquet file per micro-batch: a steady arrival of
    # ~n_rows/n_batches rows each
    src = tempfile.mkdtemp(prefix="kllprobe_src_")
    source.repartition(n_batches).write.mode("overwrite").parquet(src)
    schema = source.schema

    out = {
        "sf_dir": sf_dir,
        "table": table,
        "rows": n_rows,
        "batches_requested": n_batches,
        "rows_per_batch": n_rows // n_batches,
    }

    if op == "mg":
        out["mg_shard_state"] = _run_stream(
            spark, src, schema, heavy_tokens_stream
        )
        print("mg_shard_state", out["mg_shard_state"], flush=True)

        # the unbounded alternative: update-mode token counts — its
        # state is the WHOLE vocabulary, growing with the stream
        def jvm_token_counts(stream):
            return (
                stream.select(
                    F.explode(
                        F.filter(
                            F.split(F.lower("text"), "\\s+"),
                            lambda t: t != "",
                        )
                    ).alias("token")
                )
                .groupBy("token")
                .count()
            )

        out["jvm_vocab_count_state"] = _run_stream(
            spark, src, schema, jvm_token_counts
        )
        print("jvm_vocab_count_state",
              out["jvm_vocab_count_state"], flush=True)
    elif op == "hll":
        out["hll_register_state"] = _run_stream(
            spark, src, schema, hll_distinct_stream
        )
        print("hll_register_state", out["hll_register_state"], flush=True)

        def jvm_approx(stream):
            return (
                with_event_time(stream)
                .select("event_type", "user_id")
                .groupBy("event_type")
                .agg(
                    F.count("user_id").alias("n"),
                    F.approx_count_distinct("user_id", 0.0115).alias(
                        "approx_users"
                    ),
                )
            )

        out["jvm_approx_count_distinct"] = _run_stream(
            spark, src, schema, jvm_approx
        )
        print("jvm_approx_count_distinct",
              out["jvm_approx_count_distinct"], flush=True)
    else:
        out["kll_sketch_state"] = _run_stream(
            spark, src, schema, kll_quantiles_stream
        )
        print("kll_sketch_state", out["kll_sketch_state"], flush=True)

        def jvm_approx(stream):
            return (
                with_event_time(stream)
                .select("event_type", "value")
                .groupBy("event_type")
                .agg(
                    F.count("value").alias("n"),
                    F.approx_percentile(
                        "value", F.lit(0.5), F.lit(10000)
                    ).alias("p50"),
                    F.approx_percentile(
                        "value", F.lit(0.99), F.lit(10000)
                    ).alias("p99"),
                )
            )

        out["jvm_approx_percentile"] = _run_stream(spark, src, schema, jvm_approx)
        print("jvm_approx_percentile", out["jvm_approx_percentile"], flush=True)

    shutil.rmtree(src, ignore_errors=True)
    print(json.dumps(out))
    if json_out:
        with open(json_out, "w") as f:
            json.dump(out, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
