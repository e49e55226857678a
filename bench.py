"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "sf": ...}.

Each query executes its full plan through the noop sink (no driver-side
collect overhead, no result materialization skew).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from finlogic_spark import driver_queries as dq
from finlogic_spark.session import get_spark

BENCH_QUERIES = [
    # TPC-H classics: scan-heavy aggregation, join pyramid, top-k
    "tpch_q1",
    "tpch_q3",
    "tpch_q5",
    # flagship rank shape: dedup window + broadcast joins + top-k
    "rank_flagship",
    # signature operators
    "dedup_keep_last",
    "window_lag_trailing",
    "pivot_wide_status",
    # events / time-series
    "events_tumbling_hourly",
    "events_sessionize",
    "events_asof_join",
    # text pipeline
    "doc_lsh_pairs",
    "doc_ngram_jaccard",
    "doc_simhash",
    # similarity search
    "emb_cosine_topk",
    "emb_lsh_topk",
    "emb_ivf_topk",
    # sliding windows + vector near-dup
    "events_sliding_avg",
    "emb_cosine_neardup",
    # training-data pipeline: vocab, interval join, dedup clustering
    "doc_topk_tokens",
    "events_interval_join",
    "doc_dedup_clusters",
    # corpus curation + q18
    "doc_repetition",
    "doc_vocab_prune",
    "tpch_q18_big_orders",
    "doc_decontaminate",
    "doc_curation_pipeline",
    # round 2: TPC-H breadth, merge/upsert, embedding quantization,
    # funnel + SCD2
    "tpch_q6",
    "tpch_q10",
    "merge_upsert_orders",
    "emb_scalar_quantize",
    "emb_pq_encode",
    # round 5: fused PQ-IVF ANN serving
    "emb_pq_ivf_topk",
    "events_funnel",
    "events_scd2",
    "events_zorder",
    "events_incremental_agg",
    # round 6: TPC-H completion set representatives (nation-pair join
    # pyramid, profit agg, pre-agg custdist, double-EXISTS windows),
    # curation additions, skew-salted join
    "tpch_q7",
    "tpch_q9",
    "tpch_q13",
    "tpch_q21",
    "doc_pii_redact",
    "doc_chunk",
    "join_skew_salted",
    # round 6 (cont.): winnowing, repeated-span dedup, unigram LM gate,
    # CDC diff, weighted sampling, one-scan profiling
    "doc_winnow_fp",
    "doc_segment_dedup",
    "doc_unigram_logprob",
    "snapshot_diff",
    "sample_weighted",
    "data_profile",
    # round 6 (cont.): runtime-filter join, lexical retrieval,
    # time-series gap-fill, robust outlier sweep
    "join_bloom_pruned",
    "doc_bm25_search",
    "events_resample_ffill",
    "events_outlier_mad",
    "events_histogram",
    "emb_covariance",
    "doc_tfidf_similar",
    "doc_token_pmi",
    "doc_source_cap",
    "events_retention_cohorts",
    "events_markov_transitions",
    "stream_resample_ffill",
    # round 7: sliding distinct reach, SNM dedup pass, positional
    # phrase search, bigram LM gate, streaks, grouping sets
    "events_sliding_distinct",
    "doc_sorted_neighborhood",
    "doc_phrase_search",
    "doc_bigram_logprob",
    "events_streaks",
    "agg_grouping_sets",
    "doc_canonical_select",
    "emb_hard_negatives",
    "events_psi_drift",
    # round 8: cluster-fenced semantic dedup (SemDeDup).
    # doc_jaccard_prefix is registry-only by design: the prefix filter
    # is the stop-shingle-skew tool and the bench corpus is flat-df —
    # its docstring and test_round8_ops pin the crossover; benching the
    # deliberately-wrong algorithm for this corpus would measure
    # nothing (ngram_jaccard, the right tool here, stays benched).
    "emb_semantic_dedup",
    # round 9: asymmetric containment, substring dup, corpus JS drift,
    # per-key OLS, EWMA, skyline
    "doc_containment_pairs",
    "doc_dup_spans",
    "doc_source_divergence",
    "events_trend_slope",
    "events_ewma",
    "orders_pareto_frontier",
    # round 10: irregular-sample TWAP, outlier-robust winsorized stats
    "events_twap",
    "events_winsorize",
    "events_kll_quantiles",
    "doc_dsir_select",
    # round 12: cross-day sketch rollup, incremental-ANN serve,
    # incremental text-dedup index serve
    "events_kll_rollup",
    "emb_lsh_append_topk",
    "doc_lsh_append_pairs",
    # round 12b: persisted-HLL distinct rollup, integer PageRank,
    # sketch-driven equi-depth binning.
    # doc_heavy_tokens is registry-only by design (the doc_jaccard_prefix
    # precedent): its frequency screen guards the exchange against a
    # web-scale vocabulary, and this corpus's post-combine vocabulary
    # measures 29k exchange rows TOTAL (BENCH_r12b_probes.json
    # sf100:doc_heavy_tokens_decomposition) — benching the screen here
    # would measure tokenize-twice overhead, not the operator; the
    # one-shuffle plan that is right for THIS corpus shape is already
    # benched as doc_topk_tokens. stream_hll_distinct /
    # stream_heavy_tokens are measured on the streaming contract
    # (BENCH_r12_stream_kll.json pattern), not here.
    "events_hll_rollup",
    "orders_supplier_pagerank",
    "events_kll_bucketize",
    "events_hll_window",
    "events_kmv_overlap",
    # round 13: BPE subword tokenization + BPE-length sequence packing
    # + near-dup candidates on BPE-piece shingles + the profile approx
    # tier (band-oracled)
    "doc_bpe_encode",
    "doc_bpe_pack",
    "doc_bpe_shingle_pairs",
    "doc_bpe_pack_segments",
    "data_profile_approx",
    # round 14: learned quality gate (expression-only scoring) +
    # RRF fusion of the two persisted serving indexes + budgeted
    # selection on the learned score
    "doc_quality_classifier",
    "doc_hybrid_search",
    "doc_budget_select",
    "doc_domain_mix",
    "doc_exact_dedup_incremental",
    "doc_curation_learned",
    "doc_quality_calibration",
    "emb_lsh_recall",
    "emb_vector_profile",
    # round 15: leakage-safe cluster split, deterministic epoch
    # ordering composed with packing, repeated-substring excision
    "doc_cluster_split",
    "doc_epoch_order",
    "doc_substring_excise",
    "doc_training_export",
    "doc_length_batches",
    "doc_curriculum_order",
]


def duckdb_baseline(sf_dir: str, runs: int = 3) -> dict[str, float]:
    """Warm-run DuckDB timings of each bench query's oracle SQL on the
    same parquet — the binding yardstick (BASELINE.md: the reference
    publishes no numbers). Inlined here so every BENCH_r{N}.json carries
    per-query ratios: a regression shows up in the query that caused
    it, not just the total.

    Median of ``runs`` timed executions after one warmup: a single
    warm run still swung a heavy query ~4x round-over-round (r4→r5:
    doc_curation_pipeline 28.7→7.2 s moved ratio_total 0.41→0.58 with
    an actually-faster Spark side) — the median makes the headline
    ratio reflect the engine, not baseline variance.

    Per-query ceiling via $SPARK_GRAFT_BASELINE_TIMEOUT seconds
    (default 300, 0 disables): at sf1 some baseline queries blow up
    super-linearly (the engine's bucketed designs don't) — a timed-out
    query is reported in ``timeouts`` as a LOWER BOUND instead of
    stalling the bench for an hour."""
    import statistics
    import threading

    import duckdb

    timeout = float(os.environ.get("SPARK_GRAFT_BASELINE_TIMEOUT", "300"))
    con = duckdb.connect()
    con.execute(f"PRAGMA threads={os.cpu_count()}")
    for t in (
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    def timed_run(sql: str) -> float | None:
        """Wall time of one execution, or None if interrupted at the
        timeout (duckdb.interrupt() aborts the running query)."""
        timer = (
            threading.Timer(timeout, con.interrupt) if timeout > 0 else None
        )
        start = time.perf_counter()
        try:
            if timer:
                timer.start()
            con.sql(sql).fetchall()
            return time.perf_counter() - start
        except duckdb.InterruptException:
            return None
        except duckdb.Error:
            # interrupt can surface as a generic error mid-operator
            if timeout > 0 and time.perf_counter() - start >= timeout * 0.95:
                return None
            raise
        finally:
            if timer:
                timer.cancel()

    timings: dict[str, float] = {}
    timeouts: dict[str, float] = {}
    oracles = dq.resolve_oracles(sf_dir)  # static + data-dependent SQL
    for name in BENCH_QUERIES:
        if name not in oracles:
            continue  # rows-only query: no SQL-expressible oracle
        sql = oracles[name]
        first = timed_run(sql)  # warmup (page cache, catalog)
        if first is None:
            timeouts[name] = timeout  # lower bound: killed at ceiling
            continue
        samples = []
        for _ in range(runs):
            s = timed_run(sql)
            if s is not None:
                samples.append(s)
        timings[name] = round(
            statistics.median(samples) if samples else first, 3
        )
    return timings, timeouts


def baseline_detail_path(subset: bool) -> str:
    """Where the per-query detail sidecar goes: $SPARK_GRAFT_BASELINE_DETAIL
    when set; else the committed BENCH_baseline_detail.json for a full
    run, and a fresh temp file for a subset run — a subset's few rows
    must never replace the full run's committed sidecar."""
    env = os.environ.get("SPARK_GRAFT_BASELINE_DETAIL")
    if env:
        return env
    if subset:
        fd, path = tempfile.mkstemp(prefix="bench_detail_", suffix=".json")
        os.close(fd)
        return path
    return os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_baseline_detail.json"
    )


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # Optional subset (comma-separated names): scaling studies rerun
    # just the queries under investigation at big SFs.
    subset = os.environ.get("SPARK_GRAFT_BENCH_QUERIES")
    if subset:
        wanted = [n.strip() for n in subset.split(",") if n.strip()]
        unknown = [n for n in wanted if n not in BENCH_QUERIES]
        if unknown:
            raise SystemExit(f"unknown bench queries: {unknown}")
        BENCH_QUERIES[:] = wanted
    spark = get_spark("finlogic-bench")

    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    # Median-of-N steady-state timing: the first run pays one-off
    # JVM/whole-stage codegen compilation (irrelevant at any real scale
    # and absent from the DuckDB baseline, which is also measured
    # warm); the median of the subsequent N runs measures the actual
    # data-path cost. A single warm run proved noise-dominated for
    # sub-second queries (round-9 per-query ratios swung ±50% on
    # nothing), matching the baseline's median-of-3 discipline fixes
    # that symmetrically.
    spark_runs = max(1, int(os.environ.get("SPARK_GRAFT_SPARK_RUNS", "3")))
    for name in BENCH_QUERIES:
        # A single failing query must never sink the whole bench line:
        # record its error and keep measuring the rest.
        try:
            dq.QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            samples = []
            for _ in range(spark_runs):
                start = time.perf_counter()
                dq.QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
                samples.append(time.perf_counter() - start)
            timings[name] = round(statistics.median(samples), 3)
        except Exception as exc:  # noqa: BLE001
            errors[name] = f"{type(exc).__name__}: {exc}"[:500]

    total = round(sum(timings.values()), 3)
    # Spark's fixed per-query job floor on this host (scheduler +
    # noop-sink round trip on an empty plan): measured here so the
    # headline ratio carries a floor-adjusted companion. Rationale:
    # every sub-second registry query added to the bench pays ~this
    # floor against DuckDB's milliseconds, so ratio_total drifts
    # toward the floor as the query set grows even when no plan
    # changed (0.688 -> 0.756 r10 -> r11 on ~flat real performance).
    # The companion subtracts ONE floor per query — conservative for
    # multi-job queries — making round-over-round totals comparable
    # across registry growth.
    floor_df = spark.range(1)
    floor_df.write.format("noop").mode("overwrite").save()  # warm
    floor_samples = []
    for _ in range(7):
        t0 = time.perf_counter()
        floor_df.write.format("noop").mode("overwrite").save()
        floor_samples.append(time.perf_counter() - t0)
    job_floor = statistics.median(floor_samples)
    baseline_runs = int(os.environ.get("SPARK_GRAFT_BASELINE_RUNS", "3"))
    try:
        base, base_timeouts = duckdb_baseline(sf_dir, runs=baseline_runs)
    except Exception:  # baseline must never break the bench line
        base, base_timeouts = {}, {}
    # Compare totals over the same query set: drop baselines for queries
    # that errored on the Spark side (listed separately in "errors"),
    # and exclude baseline-timeout queries from BOTH sides of
    # ratio_total (their per-query ratios appear as upper bounds).
    base = {n: v for n, v in base.items() if n in timings}
    base_total = round(sum(base.values()), 3) if base else None
    spark_on_base = round(sum(timings[n] for n in base), 3) if base else None
    ratios = {
        n: round(timings[n] / base[n], 2)
        for n in base
        if base[n] > 0 and n in timings
    }
    for n, floor_s in base_timeouts.items():
        if n in timings and floor_s > 0:
            # baseline died at its ceiling: the true ratio is SMALLER
            ratios[n] = round(timings[n] / floor_s, 2)
    line = {
        "metric": "bench_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        # When any query errored, the headline total covers a
        # smaller query set — flag it so round-over-round total
        # comparisons can't mistake a failure for a speedup.
        **({"errors": errors, "partial": True} if errors else {}),
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "baseline_runs": baseline_runs,  # per-query median of N warm runs
        "spark_runs": spark_runs,  # Spark side: same median-of-N
        "duckdb_baseline_total": base_total,
        # Queries whose BASELINE was killed at the per-query
        # ceiling (value = the ceiling, a lower bound on the
        # true baseline time; their ratio entries are upper
        # bounds and they are excluded from ratio_total).
        **(
            {"duckdb_baseline_timeouts": base_timeouts}
            if base_timeouts
            else {}
        ),
        "ratio_total": (
            round(spark_on_base / base_total, 3) if base_total else None
        ),
        # companion metric: the same total with one measured
        # job floor subtracted per query (see job-floor note
        # above) — compares plans across rounds without the
        # registry-growth drift
        "job_floor_s": round(job_floor, 3),
        "ratio_total_floor_adjusted": (
            round(
                max(0.0, spark_on_base - job_floor * len(base))
                / base_total,
                3,
            )
            if base_total
            else None
        ),
        # r17 (VERDICT r16 item 2): the per-query DuckDB baseline and
        # ratio maps used to ride on this line; with 109 queries they
        # tripled its length and the driver's r15 stdout capture
        # truncated the JSON mid-object, losing the round-over-round
        # comparison. They now live in the sidecar artifact named
        # here (see baseline_detail_path: this file's directory on a
        # full run, a temp file on a subset run). Same queries, same
        # env contract, same methodology; nothing removed from
        # "queries".
        "baseline_detail_file": None,
    }
    detail_path = baseline_detail_path(bool(subset))
    try:
        with open(detail_path, "w") as fh:
            json.dump(
                {
                    "sf": line["sf"],
                    "queries": timings,
                    "duckdb_baseline": base,
                    "duckdb_baseline_total": base_total,
                    **(
                        {"duckdb_baseline_timeouts": base_timeouts}
                        if base_timeouts
                        else {}
                    ),
                    "ratio_vs_duckdb": ratios,
                    "ratio_total": line["ratio_total"],
                },
                fh,
                indent=1,
            )
        line["baseline_detail_file"] = detail_path
    except OSError:
        # a read-only checkout must not sink the bench line: fall back
        # to the old inline maps so no information is ever lost
        line["duckdb_baseline"] = base
        line["ratio_vs_duckdb"] = ratios
    print(json.dumps(line))


if __name__ == "__main__":
    main()
