"""Round-16 optimization probes: same-session alternating A/B of each
optimized path against the prior shape, through the noop sink (guide
§1.4). Usage: python tools/probe_r16.py <probe> [out.json]

Probes:
  cc_single_job — the CC-regime queries with the r16 single-job gate
      (default) vs the distributed path forced (small_graph_max_bytes=0
      via monkeypatch), alternating A/B/A/B, median of 3 each.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from finlogic_spark import driver_queries as dq
from finlogic_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def _time(fn, runs=3):
    fn()  # warm
    samples = []
    for _ in range(runs):
        t0 = time.perf_counter()
        fn()
        samples.append(time.perf_counter() - t0)
    return round(statistics.median(samples), 3)


def cc_single_job(out: dict) -> None:
    from finlogic_spark.operators import graph

    spark = get_spark("probe-r16")
    queries = [
        "doc_dedup_clusters",
        "doc_cluster_split",
        "doc_canonical_select",
        "doc_training_export",
        "doc_split_drift",
        "doc_split_assign_sticky",
        "doc_curation_pipeline",
        "doc_decontaminate",
    ]
    orig = graph.connected_components

    def forced_distributed(*args, **kwargs):
        kwargs["small_graph_max_bytes"] = 0
        return orig(*args, **kwargs)

    for name in queries:
        def run_new():
            spark.sparkContext.setJobDescription(f"{name}: single-job cc")
            _noop(dq.QUERIES[name](spark, SF_DIR))

        def run_old():
            graph.connected_components = forced_distributed
            try:
                spark.sparkContext.setJobDescription(f"{name}: distributed cc")
                _noop(dq.QUERIES[name](spark, SF_DIR))
            finally:
                graph.connected_components = orig

        # alternate to cancel session drift
        new_t = _time(run_new)
        old_t = _time(run_old)
        new_t2 = _time(run_new)
        old_t2 = _time(run_old)
        out[name] = {
            "single_job_s": round(min(new_t, new_t2), 3),
            "distributed_s": round(min(old_t, old_t2), 3),
            "samples": {
                "single_job": [new_t, new_t2],
                "distributed": [old_t, old_t2],
            },
        }
        print(name, out[name], flush=True)


def pagerank_edges(out: dict) -> None:
    """orders_supplier_pagerank edge-pipeline variants:
    V0 current (union re-evaluates the orders x lineitem join twice),
    V1 explode-symmetrize keeping the query-side distinct,
    V2 explode-symmetrize, pagerank's internal distinct only."""
    from pyspark.sql import functions as F

    from finlogic_spark.operators.graph import pagerank

    spark = get_spark("probe-r16")

    def edges_base():
        o = dq._t(spark, SF_DIR, "orders")
        l = dq._t(spark, SF_DIR, "lineitem")
        return (
            o.join(l, o.o_orderkey == l.l_orderkey)
            .select(
                F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
                F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
            )
        )

    def sym_explode(e):
        return e.select(
            F.explode(
                F.array(
                    F.struct(F.col("src"), F.col("dst")),
                    F.struct(
                        F.col("dst").alias("src"), F.col("src").alias("dst")
                    ),
                )
            ).alias("e")
        ).select("e.src", "e.dst")

    def tail(ranks):
        return (
            ranks.filter(F.col("node").startswith("s"))
            .select("node", F.col("rank").alias("rank_micro"))
            .orderBy(F.col("rank_micro").desc(), F.col("node").asc())
            .limit(20)
        )

    def v0():
        e = edges_base().distinct()
        bi = e.union(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        _noop(tail(pagerank(bi, iterations=5)))

    def v1():
        _noop(tail(pagerank(sym_explode(edges_base().distinct()), iterations=5)))

    def v2():
        _noop(tail(pagerank(sym_explode(edges_base()), iterations=5)))

    for name, fn in [("v0_current", v0), ("v1_explode_distinct", v1),
                     ("v2_explode_only", v2)]:
        spark.sparkContext.setJobDescription(f"pagerank_edges:{name}")
        out[name] = [_time(fn)]
    for name, fn in [("v0_current", v0), ("v1_explode_distinct", v1),
                     ("v2_explode_only", v2)]:
        spark.sparkContext.setJobDescription(f"pagerank_edges:{name}")
        out[name].append(_time(fn))
    print(out, flush=True)

    # value equality across variants (bit-exact contract)
    a = tail(pagerank(sym_explode(edges_base().distinct()), iterations=5)).collect()
    e = edges_base().distinct()
    bi = e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    b = tail(pagerank(bi, iterations=5)).collect()
    c = tail(pagerank(sym_explode(edges_base()), iterations=5)).collect()
    out["variants_equal"] = (
        [tuple(r) for r in a] == [tuple(r) for r in b] == [tuple(r) for r in c]
    )
    print("variants_equal:", out["variants_equal"], flush=True)


def simhash_decompose(out: dict) -> None:
    """doc_simhash stage decomposition + kernel variants, alternating.
    s0: scan+spread+tokenize+explode+md5 only (noop)
    s1: + conv parses
    full_current: simhash_agg as shipped (incl. orderBy)
    no_orderby: full minus the final sort
    packed16: 16 long accumulators with 32-bit lanes instead of 32 sums
    """
    from pyspark.sql import functions as F

    from finlogic_spark.operators.text_dedup import simhash_agg, tokens

    spark = get_spark("probe-r16")
    d = dq._t(spark, SF_DIR, "documents")

    def tok_md5():
        t = d.select(
            F.col("doc_id"), F.explode(tokens("text")).alias("__tok")
        ).withColumn("__hx", F.md5(F.col("__tok")))
        _noop(t)

    def tok_conv():
        t = d.select(
            F.col("doc_id"), F.explode(tokens("text")).alias("__tok")
        ).withColumn("__hx", F.md5(F.col("__tok")))
        for c in range(4):
            t = t.withColumn(
                f"__v{c}",
                F.conv(F.substring("__hx", 8 * c + 1, 8), 16, 10).cast("long"),
            )
        _noop(t.drop("__tok", "__hx"))

    def full_current():
        _noop(simhash_agg(d, "text", "doc_id").orderBy("doc_id"))

    def no_orderby():
        _noop(simhash_agg(d, "text", "doc_id"))

    def packed16():
        SIMHASH_BITS = 32
        tok = d.select(
            F.col("doc_id"), F.explode(tokens("text")).alias("__tok")
        ).withColumn("__hx", F.md5(F.col("__tok")))
        for c in range(4):
            tok = tok.withColumn(
                f"__v{c}",
                F.conv(F.substring("__hx", 8 * c + 1, 8), 16, 10).cast("long"),
            )
        # per 32-bit chunk c: nibble-high bits at positions 4d+3; pack
        # digit d's bit into one of two longs with 32-bit lanes
        packs = []
        for c in range(4):
            v = F.col(f"__v{c}")
            lo = (
                F.shiftright(v, 3).bitwiseAND(F.lit(1))
                + F.shiftleft(F.shiftright(v, 7).bitwiseAND(F.lit(1)), 32)
            )
            # lanes: digits d and d+1 per long -> 4 longs per chunk? use
            # 2 lanes/long x 4 pairs = 4 longs/chunk: simplest 2 digits
            # per long
            for dpos in range(0, 8, 2):
                packs.append(
                    (
                        F.shiftright(v, 4 * dpos + 3).bitwiseAND(F.lit(1))
                        + F.shiftleft(
                            F.shiftright(v, 4 * (dpos + 1) + 3).bitwiseAND(
                                F.lit(1)
                            ),
                            32,
                        )
                    ).alias(f"__p{c}_{dpos // 2}")
                )
        tok = tok.select("doc_id", *packs)
        sums = tok.groupBy("doc_id").agg(
            F.count(F.lit(1)).alias("__n"),
            *[
                F.sum(f"__p{c}_{i}").alias(f"__s{c}_{i}")
                for c in range(4)
                for i in range(4)
            ],
        )
        fp = None
        for j in range(1, SIMHASH_BITS + 1):
            dglobal = j - 1  # hex digit index 0..31
            c, dpos = dglobal // 8, dglobal % 8
            col = F.col(f"__s{c}_{dpos // 2}")
            ones = (
                F.shiftright(col, 32).bitwiseAND(F.lit((1 << 32) - 1))
                if dpos % 2
                else col.bitwiseAND(F.lit((1 << 32) - 1))
            )
            bit = F.when(
                ones * 2 >= F.col("__n"), F.lit(2 ** (j - 1)).cast("long")
            ).otherwise(F.lit(0).cast("long"))
            fp = bit if fp is None else fp + bit
        _noop(
            sums.select(F.col("doc_id"), fp.alias("simhash_fp")).orderBy(
                "doc_id"
            )
        )

    variants = [
        ("s0_tok_md5", tok_md5),
        ("s1_tok_conv", tok_conv),
        ("full_current", full_current),
        ("no_orderby", no_orderby),
        ("packed16", packed16),
    ]
    for rnd in range(2):
        for name, fn in variants:
            spark.sparkContext.setJobDescription(f"simhash:{name}")
            out.setdefault(name, []).append(_time(fn))
    print(out, flush=True)
    # equality of packed16 vs current
    from pyspark.sql import functions as F2

    cur = simhash_agg(d, "text", "doc_id").orderBy("doc_id").collect()
    out["n_rows"] = len(cur)


def simhash_ab(out: dict) -> None:
    """doc_simhash: the shipped packed-lane aggregate (17 agg columns)
    vs the r15 32-conditional-sum form, alternating, plus the DuckDB
    baseline in the same session — the weak-row adjudication VERDICT
    item 2 asked for."""
    from pyspark.sql import functions as F

    from finlogic_spark.operators.text_dedup import SIMHASH_BITS, simhash_agg, tokens

    spark = get_spark("probe-r16")
    d = dq._t(spark, SF_DIR, "documents")

    def old_form():
        tok = d.select(
            F.col("doc_id"), F.explode(tokens("text")).alias("__tok")
        ).withColumn("__hx", F.md5(F.col("__tok")))
        for c in range(SIMHASH_BITS // 8):
            tok = tok.withColumn(
                f"__v{c}",
                F.conv(F.substring("__hx", 8 * c + 1, 8), 16, 10).cast("long"),
            )

        def high_bit(j):
            c, dd = (j - 1) // 8, (j - 1) % 8
            return F.shiftright(
                F.col(f"__v{c}"), 4 * (7 - dd) + 3
            ).bitwiseAND(F.lit(1))

        sums = tok.groupBy("doc_id").agg(
            F.count("*").alias("__n"),
            *[
                F.sum(high_bit(j)).alias(f"__b{j}")
                for j in range(1, SIMHASH_BITS + 1)
            ],
        )
        fp = None
        for j in range(1, SIMHASH_BITS + 1):
            bit = F.when(
                F.col(f"__b{j}") * 2 >= F.col("__n"),
                F.lit(2 ** (j - 1)).cast("long"),
            ).otherwise(F.lit(0).cast("long"))
            fp = bit if fp is None else fp + bit
        _noop(
            sums.select(F.col("doc_id"), fp.alias("simhash_fp")).orderBy(
                "doc_id"
            )
        )

    def new_form():
        _noop(simhash_agg(d, "text", "doc_id").orderBy("doc_id"))

    for rnd in range(3):
        for name, fn in [("packed_r16", new_form), ("sums32_r15", old_form)]:
            spark.sparkContext.setJobDescription(f"simhash_ab:{name}")
            out.setdefault(name, []).append(_time(fn))
    # DuckDB baseline, same session/host
    import duckdb

    con = duckdb.connect()
    con.execute(f"PRAGMA threads={os.cpu_count()}")
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM '{SF_DIR}/documents.parquet'"
    )
    sql = dq.resolve_oracles(SF_DIR)["doc_simhash"]
    con.sql(sql).fetchall()
    samples = []
    for _ in range(3):
        t0 = time.perf_counter()
        con.sql(sql).fetchall()
        samples.append(time.perf_counter() - t0)
    out["duckdb_s"] = round(statistics.median(samples), 3)
    out["ratio_packed"] = round(min(out["packed_r16"]) / out["duckdb_s"], 2)
    print(out, flush=True)


def lsh_index_shape(out: dict) -> None:
    """emb_lsh serve queries with the r16 one-pass explode index vs the
    r15 16-branch union index (monkeypatched back), alternating. The
    union index caches 16 x input partitions, so every serve join
    schedules that many tasks."""
    from pyspark.sql import functions as F

    from finlogic_spark.operators import similarity as sim

    spark = get_spark("probe-r16")
    new_impl = sim.lsh_index_multi

    def union_impl(corpus, vec_col, dim, num_planes, num_tables, id_col="vec_id"):
        parts = [
            sim.lsh_assign_buckets(
                corpus.select(id_col, vec_col), vec_col, dim, num_planes, table=t
            ).withColumn("__tbl", F.lit(t))
            for t in range(num_tables)
        ]
        outdf = parts[0]
        for p in parts[1:]:
            outdf = outdf.unionByName(p)
        return outdf

    queries = ["emb_lsh_topk", "emb_lsh_recall", "emb_lsh_append_topk"]

    def run(name):
        _noop(dq.QUERIES[name](spark, SF_DIR))

    def with_impl(impl, label):
        sim.lsh_index_multi = impl
        # the bench's build-once index cache must be rebuilt per arm
        dq._ANN_INDEX.clear()
        res = {}
        for name in queries:
            spark.sparkContext.setJobDescription(f"lsh_shape:{label}:{name}")
            res[name] = _time(lambda: run(name))
        sim.lsh_index_multi = new_impl
        return res

    for rnd in range(2):
        for label, impl in [("explode_r16", new_impl), ("union_r15", union_impl)]:
            res = with_impl(impl, label)
            for name, v in res.items():
                out.setdefault(f"{label}:{name}", []).append(v)
    # partition counts of the cached index under each impl
    dq._ANN_INDEX.clear()
    out["partitions_explode"] = dq._lsh_index(spark, SF_DIR).rdd.getNumPartitions()
    sim.lsh_index_multi = union_impl
    dq._ANN_INDEX.clear()
    out["partitions_union"] = dq._lsh_index(spark, SF_DIR).rdd.getNumPartitions()
    sim.lsh_index_multi = new_impl
    dq._ANN_INDEX.clear()
    print(out, flush=True)


def curation_reuse(out: dict) -> None:
    """Multi-use-subtree elimination in the curation family.
    doc_curation_pipeline evaluates its gates subtree 4x (twice inside
    exact_dedup's groupBy+semi-join, once under the LSH pair pipeline,
    once as the anti-join's left side); doc_curation_learned evaluates
    tokenize+logit 2x + domain_mix passes. Variants: current vs lazy
    localCheckpoint of the reused frame vs window-form exact_dedup."""
    from pyspark.sql import Window
    from pyspark.storagelevel import StorageLevel

    from finlogic_spark.driver_queries import (
        _MIX_BUDGET_DEN,
        _MIX_TARGETS,
        _qclf_params,
        rN,
    )
    from finlogic_spark.functions.text import quality_score
    from finlogic_spark.functions.text import tokens as _tok
    from finlogic_spark.operators.corpus import domain_mix_sample
    from finlogic_spark.operators.quality_model import _logit_from_tokens
    from finlogic_spark.operators.text_dedup import (
        exact_dedup,
        minhash_lsh_pairs,
    )
    from finlogic_spark.functions.text import repetition_signals
    from finlogic_spark.operators.corpus import stratified_sample_hash
    from pyspark.sql import functions as F

    spark = get_spark("probe-r16")

    def gated_pipe():
        d = dq._t(spark, SF_DIR, "documents").filter(F.col("text").isNotNull())
        sig = d.select(
            "doc_id", "lang", "source", "text",
            repetition_signals("text").alias("__s"),
        )
        return (
            sig.withColumn("__dr", rN(F.col("__s.distinct_ratio"), 6))
            .withColumn("__tbf", rN(F.col("__s.top_bigram_frac"), 6))
            .withColumn("__q", rN(quality_score("text"), 6))
            .filter(
                (F.col("__s.n_tokens") >= 20)
                & ~F.coalesce(
                    (F.col("__tbf") > 0.3) | (F.col("__dr") < 0.5),
                    F.lit(False),
                )
                & (F.col("__q") >= 0.55)
            )
            .select(
                "doc_id", "lang", "source", "text",
                F.col("__s.n_tokens").alias("n_tokens"),
            )
        )

    def tail_pipe(ded):
        pairs = minhash_lsh_pairs(
            ded, "text", "doc_id", k=3, num_hashes=6, bands=2
        )
        kept = ded.join(
            pairs.select(F.col("id_b").alias("doc_id")).distinct(),
            "doc_id",
            "left_anti",
        )
        final = stratified_sample_hash(
            kept, "lang", {"en": "g0", "de": "80", "fr": "80"},
            id_col="doc_id", default_rate="40",
        )
        _noop(
            final.select("doc_id", "lang", "source", "n_tokens").orderBy(
                "doc_id"
            )
        )

    def p0_current():
        tail_pipe(exact_dedup(gated_pipe(), "text", "doc_id"))

    def p1_ckpt():
        ded = exact_dedup(gated_pipe(), "text", "doc_id").localCheckpoint(
            eager=False, storageLevel=StorageLevel.MEMORY_AND_DISK
        )
        tail_pipe(ded)

    def window_dedup(df):
        nulls = df.filter(F.col("text").isNull())
        from finlogic_spark.operators.text_dedup import canonical_text

        keyed = df.filter(F.col("text").isNotNull()).withColumn(
            "__h", F.md5(canonical_text("text"))
        )
        w = Window.partitionBy("__h")
        return (
            keyed.withColumn("__m", F.min("doc_id").over(w))
            .filter(F.col("doc_id") == F.col("__m"))
            .drop("__h", "__m")
            .unionByName(nulls)
        )

    def p2_window():
        tail_pipe(window_dedup(gated_pipe()))

    def p3_window_ckpt():
        ded = window_dedup(gated_pipe()).localCheckpoint(
            eager=False, storageLevel=StorageLevel.MEMORY_AND_DISK
        )
        tail_pipe(ded)

    w, b = _qclf_params(SF_DIR)

    def learned(ckpt):
        d = dq._t(spark, SF_DIR, "documents")
        base = d.select(
            "doc_id", "source", _tok(F.col("text")).alias("__ts")
        ).filter(F.size("__ts") > 0)
        gated = base.filter(
            _logit_from_tokens(F.col("__ts"), w, b) >= 0
        ).select(
            "doc_id",
            "source",
            F.size("__ts").cast("long").alias("__n"),
            F.md5(F.array_join("__ts", " ")).alias("__hx"),
        )
        if ckpt:
            gated = gated.localCheckpoint(
                eager=False, storageLevel=StorageLevel.MEMORY_AND_DISK
            )
        reps = gated.groupBy("__hx").agg(F.min("doc_id").alias("doc_id"))
        surv = gated.join(reps, ["__hx", "doc_id"], "left_semi")
        _noop(
            domain_mix_sample(
                surv, "source", "doc_id", F.col("__n"), _MIX_TARGETS,
                lambda total: total // _MIX_BUDGET_DEN,
            ).orderBy("doc_id")
        )

    variants = [
        ("p0_current", p0_current),
        ("p1_ckpt", p1_ckpt),
        ("p2_window", p2_window),
        ("p3_window_ckpt", p3_window_ckpt),
        ("learned_c0", lambda: learned(False)),
        ("learned_c1_ckpt", lambda: learned(True)),
    ]
    for rnd in range(3):
        for name, fn in variants:
            spark.sparkContext.setJobDescription(f"curation:{name}")
            out.setdefault(name, []).append(_time(fn))
    print(out, flush=True)


def token_stream_reuse(out: dict) -> None:
    """Queries whose exploded token/shingle stream is consumed k>=2
    times (tokenize re-runs per consumer — no subplan sharing): current
    vs a lazy checkpoint barrier on the stream (the dup_spans
    precedent). Alternating, min-of-3."""
    from pyspark.sql import functions as F
    from pyspark.storagelevel import StorageLevel

    from finlogic_spark.functions.text import tokens as _tokens
    from finlogic_spark.operators.text_dedup import shingles

    spark = get_spark("probe-r16")
    _SPILL = StorageLevel.MEMORY_AND_DISK

    def decon(ckpt):
        d = dq._t(spark, SF_DIR, "documents").filter(F.col("text").isNotNull())
        sh = d.select(
            "doc_id", F.explode(F.array_distinct(shingles("text"))).alias("s")
        )
        if ckpt:
            sh = sh.localCheckpoint(eager=False, storageLevel=_SPILL)
        total = d.agg(F.count("*").alias("__n"))
        rare = (
            sh.groupBy("s")
            .agg(F.count("*").alias("__nd"))
            .crossJoin(F.broadcast(total))
            .filter(F.col("__nd") <= F.col("__n") * 0.05)
            .select("s")
        )
        is_val = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) >= "e6"
        val_sh = sh.filter(is_val).select("s").distinct()
        hits = sh.filter(~is_val)
        _noop(
            hits.join(val_sh, "s", "left_semi")
            .join(rare, "s", "left_semi")
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_shared"))
            .orderBy("doc_id")
        )

    def unigram(ckpt):
        d = dq._t(spark, SF_DIR, "documents")
        tok = d.select(F.col("doc_id"), F.explode(_tokens("text")).alias("token"))
        if ckpt:
            tok = tok.localCheckpoint(eager=False, storageLevel=_SPILL)
        vocab_counts = tok.groupBy("token").agg(F.count("*").alias("n"))
        total = vocab_counts.agg(F.sum("n").cast("double").alias("__total"))
        logp = vocab_counts.crossJoin(F.broadcast(total)).select(
            "token",
            F.floor(F.log(F.col("n") / F.col("__total")) * F.lit(1e6))
            .cast("long")
            .alias("__lpq"),
        )
        scored = (
            tok.join(logp, "token")
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_tokens"), F.sum("__lpq").alias("__s"))
        )
        _noop(
            scored.select(
                "doc_id",
                F.col("n_tokens").cast("long").alias("n_tokens"),
                (
                    F.floor(
                        F.col("__s") / F.lit(1e6) / F.col("n_tokens") * F.lit(1e6)
                        + F.lit(0.5)
                    )
                    / F.lit(1e6)
                ).alias("logprob_per_token"),
            ).orderBy("doc_id")
        )

    def pmi(ckpt):
        from finlogic_spark.operators import corpus as corpus_mod

        d = dq._t(spark, SF_DIR, "documents")
        toks = d.select(
            F.col("doc_id"),
            F.explode(F.array_distinct(_tokens("text"))).alias("token"),
        )
        if ckpt:
            toks = toks.localCheckpoint(eager=False, storageLevel=_SPILL)
        n_t = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
        n_docs = (
            toks.groupBy("doc_id")
            .agg(F.lit(1).alias("__one"))
            .agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
        )
        a = toks.select(F.col("doc_id"), F.col("token").alias("tok_a"))
        b = toks.select(F.col("doc_id"), F.col("token").alias("tok_b"))
        pairs = (
            a.join(b, "doc_id")
            .filter(F.col("tok_a") < F.col("tok_b"))
            .groupBy("tok_a", "tok_b")
            .agg(F.count(F.lit(1)).alias("n_ab"))
            .filter(F.col("n_ab") >= 5)
        )
        na = n_t.select(F.col("token").alias("tok_a"), F.col("n").alias("n_a"))
        nb = n_t.select(F.col("token").alias("tok_b"), F.col("n").alias("n_b"))
        pmi_e = F.log(
            F.col("n_ab").cast("double")
            * F.col("n_docs")
            / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
        )
        scored = (
            pairs.join(F.broadcast(na), "tok_a")
            .join(F.broadcast(nb), "tok_b")
            .join(F.broadcast(n_docs))
            .select(
                "tok_a", "tok_b", "n_ab",
                (F.floor(pmi_e * F.lit(1e6) + F.lit(0.5)) / F.lit(1e6)).alias(
                    "pmi"
                ),
            )
        )
        _noop(
            scored.orderBy(
                F.col("pmi").desc(), F.col("tok_a"), F.col("tok_b")
            ).limit(20)
        )

    variants = [
        ("decon_c0", lambda: decon(False)),
        ("decon_c1", lambda: decon(True)),
        ("unigram_c0", lambda: unigram(False)),
        ("unigram_c1", lambda: unigram(True)),
        ("pmi_c0", lambda: pmi(False)),
        ("pmi_c1", lambda: pmi(True)),
    ]
    for rnd in range(3):
        for name, fn in variants:
            spark.sparkContext.setJobDescription(f"tokreuse:{name}")
            out.setdefault(name, []).append(_time(fn))
    print(out, flush=True)


def covariance_kernel(out: dict) -> None:
    """emb_covariance / emb_pca_project: r16 Arrow outer-product
    partials vs the prior explode-d²-structs expression form (rebuilt
    here verbatim). Alternating, min-of-3; equality asserted once."""
    from pyspark.sql import functions as F

    from finlogic_spark.operators.linalg import _cov_joined

    spark = get_spark("probe-r16")

    def expr_form(df, vec_col, dim):
        df = df.filter(F.size(F.col(vec_col)) == dim)
        v = F.col(vec_col)
        cells = F.explode(
            F.flatten(
                F.transform(
                    v,
                    lambda x, i: F.transform(
                        v,
                        lambda y, j: F.struct(
                            i.alias("i"),
                            j.alias("j"),
                            F.floor(
                                x.cast("double") * y.cast("double")
                                * F.lit(1e6) + F.lit(0.5)
                            ).cast("long").alias("p"),
                        ),
                    ),
                )
            )
        ).alias("c")
        sums = (
            df.select(cells).select("c.*").groupBy("i", "j")
            .agg(F.sum("p").alias("sp"), F.count(F.lit(1)).alias("n"))
        )
        means = (
            df.select(F.posexplode(v).alias("i", "x"))
            .groupBy("i")
            .agg(
                F.sum(
                    F.floor(
                        F.col("x").cast("double") * F.lit(1e6) + F.lit(0.5)
                    ).cast("long")
                ).alias("sx")
            )
        )
        mi = means.select(F.col("i").alias("i"), F.col("sx").alias("sx_i"))
        mj = means.select(F.col("i").alias("j"), F.col("sx").alias("sx_j"))
        exy = F.col("sp").cast("double") / F.lit(1e6) / F.col("n")
        m_i = F.col("sx_i").cast("double") / F.lit(1e6) / F.col("n")
        m_j = F.col("sx_j").cast("double") / F.lit(1e6) / F.col("n")
        return (
            sums.join(F.broadcast(mi), "i").join(F.broadcast(mj), "j")
            .select("i", "j", (exy - m_i * m_j).alias("cov"))
        )

    def emb():
        return dq._t(spark, SF_DIR, "embeddings")

    def run_old():
        _noop(
            expr_form(emb(), "embedding", 64)
            .select("i", "j", dq.rN(F.col("cov"), 6).alias("cov"))
            .orderBy("i", "j")
        )

    def run_new():
        _noop(dq.QUERIES["emb_covariance"](spark, SF_DIR))

    a = {
        tuple(r[:2]): r[2]
        for r in expr_form(emb(), "embedding", 64).collect()
    }
    b = {
        (r["i"], r["j"]): r["cov"]
        for r in _cov_joined(emb(), "embedding", 64)
        .select("i", "j", "cov").collect()
    }
    out["bit_equal"] = a == b
    for rnd in range(3):
        for name, fn in (("arrow_r16", run_new), ("expr_r15", run_old)):
            spark.sparkContext.setJobDescription(f"cov:{name}")
            out.setdefault(name, []).append(_time(fn, runs=1))
    print(out, flush=True)


def sketch_exact_subtrees(out: dict) -> None:
    """events_hll_window / events_kmv_overlap: their exact-validation
    branches re-evaluate shared distinct subtrees (triples feeds
    grid+fan; u feeds both self-join sides). Current vs a lazy
    checkpoint barrier on the shared distinct frame."""
    from pyspark.sql import functions as F
    from pyspark.storagelevel import StorageLevel

    spark = get_spark("probe-r16")
    _S = StorageLevel.MEMORY_AND_DISK

    def hll(ckpt):
        from finlogic_spark.operators.distinct_sketch import (
            hll_sketch_table,
            hll_window_estimate,
        )

        e = dq._t(spark, SF_DIR, "events").filter(F.col("user_id").isNotNull())
        base = e.select(F.to_date("ts").alias("day"), "event_type", "user_id")
        daily = hll_sketch_table(base, ["day", "event_type"], "user_id", lgk=12)
        est = hll_window_estimate(daily, ["event_type"], "day", 7, "approx_users")
        triples = base.distinct()
        if ckpt:
            triples = triples.localCheckpoint(eager=False, storageLevel=_S)
        grid = triples.select("event_type", "day").distinct()
        fan = triples.select(
            "event_type", "user_id",
            F.explode(
                F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
            ).alias("day"),
        )
        exact = (
            fan.join(F.broadcast(grid), ["event_type", "day"], "left_semi")
            .groupBy("event_type", "day")
            .agg(F.count_distinct("user_id").alias("exact_users"))
        )
        band_ok = (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            / F.col("exact_users") <= 0.06
        )
        _noop(
            exact.join(est, ["event_type", "day"])
            .select(
                F.date_format("day", "yyyy-MM-dd").alias("day"),
                "event_type", "exact_users", band_ok.alias("est_ok"),
            )
            .orderBy("day", "event_type")
        )

    def kmv(ckpt):
        from finlogic_spark.operators.distinct_sketch import (
            theta_pair_overlap,
            theta_sketch_table,
        )

        e = dq._t(spark, SF_DIR, "events").filter(F.col("user_id").isNotNull())
        sk = theta_sketch_table(
            e.select("event_type", "user_id"), ["event_type"], "user_id",
            lg_nom_entries=12,
        )
        est = theta_pair_overlap(sk, "event_type", out_col="approx_overlap")
        u = e.select("event_type", "user_id").distinct()
        if ckpt:
            u = u.localCheckpoint(eager=False, storageLevel=_S)
        ua = u.select(F.col("event_type").alias("type_a"), "user_id")
        ub = u.select(F.col("event_type").alias("type_b"), "user_id")
        exact = (
            ua.join(ub, "user_id")
            .filter(F.col("type_a") < F.col("type_b"))
            .groupBy("type_a", "type_b")
            .agg(F.count(F.lit(1)).alias("exact_overlap"))
        )
        band_ok = (
            F.abs(F.col("approx_overlap") - F.col("exact_overlap"))
            <= 0.25 * F.col("exact_overlap") + 2
        )
        _noop(
            exact.join(
                est.withColumnsRenamed({"key_a": "type_a", "key_b": "type_b"}),
                ["type_a", "type_b"],
            )
            .select(
                "type_a", "type_b", "exact_overlap", band_ok.alias("est_ok")
            )
            .orderBy("type_a", "type_b")
        )

    variants = [
        ("hll_c0", lambda: hll(False)),
        ("hll_c1", lambda: hll(True)),
        ("kmv_c0", lambda: kmv(False)),
        ("kmv_c1", lambda: kmv(True)),
    ]
    for rnd in range(3):
        for name, fn in variants:
            spark.sparkContext.setJobDescription(f"sketchx:{name}")
            out.setdefault(name, []).append(_time(fn, runs=1))
    print(out, flush=True)


def lsh_recall_shape(out: dict) -> None:
    """emb_lsh_recall: the exact brute-force top-5 leg is consumed
    TWICE (hits join + the query-id spine) and both post-topk joins
    fall to SortMergeJoin (stats lost after Window/TopK). Variants:
    current; barrier on exact5; barrier + broadcast hints."""
    from pyspark.sql import functions as F
    from pyspark.storagelevel import StorageLevel

    from finlogic_spark.operators.similarity import (
        cosine_topk,
        lsh_cosine_topk,
    )

    spark = get_spark("probe-r16")

    def build(barrier, bcast):
        e = dq._t(spark, SF_DIR, "embeddings")
        as_double = F.transform("embedding", lambda x: x.cast("double"))
        corpus = e.select("vec_id", as_double.alias("embedding"))
        queries = e.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"), as_double.alias("query_vec")
        )
        exact5 = cosine_topk(corpus, queries, k=5).select(
            "query_id", "vec_id"
        )
        if barrier:
            exact5 = exact5.localCheckpoint(
                eager=False, storageLevel=StorageLevel.MEMORY_AND_DISK
            )
        lsh5 = lsh_cosine_topk(
            dq._lsh_index(spark, SF_DIR),
            queries,
            k=5,
            dim=64,
            num_planes=dq._LSH_PLANES,
            num_tables=dq._LSH_TABLES,
            probe_radius=dq._LSH_RADIUS,
            corpus_bucketed=True,
            local_query_probes=True,
        ).select("query_id", "vec_id")
        if bcast:
            lsh5 = F.broadcast(lsh5)
        hits = exact5.join(lsh5, ["query_id", "vec_id"]).groupBy(
            "query_id"
        ).agg(F.count(F.lit(1)).alias("n_hits"))
        if bcast:
            hits = F.broadcast(hits)
        return (
            exact5.select("query_id")
            .distinct()
            .join(hits, "query_id", "left")
            .select(
                "query_id",
                F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias(
                    "n_hits"
                ),
                (
                    F.coalesce(F.col("n_hits"), F.lit(0)) / F.lit(5.0)
                ).alias("recall_at_5"),
            )
            .orderBy("query_id")
        )

    variants = [
        ("v0_current", lambda: _noop(build(False, False))),
        ("v1_barrier", lambda: _noop(build(True, False))),
        ("v2_barrier_bcast", lambda: _noop(build(True, True))),
    ]
    rows = {
        n: sorted(map(tuple, build(n in ("v1", "v2"), n == "v2").collect()))
        for n in ("v0", "v1", "v2")
    }
    out["rows_equal"] = rows["v0"] == rows["v1"] == rows["v2"]
    for rnd in range(3):
        for name, fn in variants:
            spark.sparkContext.setJobDescription(f"recall:{name}")
            out.setdefault(name, []).append(_time(fn, runs=1))
    print(out, flush=True)


def agg_reuse(out: dict) -> None:
    """Aggregated-but-multi-consumed frames (unlike the raw token
    streams, these are post-shuffle SMALL): dsir's vocab (2 consumers:
    totals + ratio) and js_divergence's gt group×token counts (4
    consumers: j, corpus×2 via total, totals). Current vs lazy
    checkpoint on the aggregated frame."""
    from pyspark.sql import functions as F
    from pyspark.storagelevel import StorageLevel

    from finlogic_spark.functions.text import tokens as _tokens
    from finlogic_spark.operators.dsir import _micro

    spark = get_spark("probe-r16")
    _S = StorageLevel.MEMORY_AND_DISK

    def dsir(ckpt):
        d = dq._t(spark, SF_DIR, "documents")
        raw, target = d, d.filter(F.col("lang") == "en")
        tok_raw = raw.select(
            F.col("doc_id"), F.explode(_tokens("text")).alias("token")
        )
        tok_tgt = target.select(F.explode(_tokens("text")).alias("token"))
        cnt_raw = tok_raw.groupBy("token").agg(
            F.count(F.lit(1)).alias("n_raw")
        )
        cnt_tgt = tok_tgt.groupBy("token").agg(
            F.count(F.lit(1)).alias("n_tgt")
        )
        vocab = cnt_raw.join(cnt_tgt, "token", "full_outer").select(
            "token",
            F.coalesce("n_raw", F.lit(0)).alias("n_raw"),
            F.coalesce("n_tgt", F.lit(0)).alias("n_tgt"),
        )
        if ckpt:
            vocab = vocab.localCheckpoint(eager=False, storageLevel=_S)
        totals = vocab.agg(
            F.count(F.lit(1)).cast("double").alias("__v"),
            F.sum("n_raw").cast("double").alias("__traw"),
            F.sum("n_tgt").cast("double").alias("__ttgt"),
        )
        a = F.lit(0.5)
        ratio = vocab.crossJoin(F.broadcast(totals)).select(
            "token",
            (
                _micro(F.log((F.col("n_tgt") + a)
                             / (F.col("__ttgt") + a * F.col("__v"))))
                - _micro(F.log((F.col("n_raw") + a)
                               / (F.col("__traw") + a * F.col("__v"))))
            ).alias("__lwq"),
        )
        per_doc = (
            tok_raw.join(ratio, "token")
            .groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).alias("n_tokens"),
                F.sum("__lwq").alias("__slwq"),
            )
        )
        w = per_doc.select(
            "doc_id", "n_tokens",
            (F.col("__slwq") / F.lit(1e6)).alias("log_weight"),
        )
        sel = (
            w.withColumn("__key", F.col("log_weight"))
            .orderBy(F.col("__key").desc(), F.col("doc_id"))
            .limit(100)
            .drop("__key")
        )
        _noop(
            sel.select(
                "doc_id", "n_tokens",
                dq.rN(F.col("log_weight"), 6).alias("log_weight"),
            ).orderBy("doc_id")
        )

    def jsd(ckpt):
        from finlogic_spark.functions.text import tokens
        from finlogic_spark.operators import profile

        d = dq._t(spark, SF_DIR, "documents")
        gt = (
            d.select(F.col("source").alias("g"), tokens("text").alias("tok"))
            .select("g", F.explode("tok").alias("t"))
            .groupBy("g", "t")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        if ckpt:
            gt = gt.localCheckpoint(eager=False, storageLevel=_S)
        corpus = gt.groupBy("t").agg(F.sum("c").alias("ct"))
        totals = gt.groupBy("g").agg(F.sum("c").alias("tg"))
        total = corpus.agg(F.sum("ct").alias("tt"))
        j = (
            gt.join(corpus, "t")
            .join(F.broadcast(totals), "g")
            .crossJoin(F.broadcast(total))
        )
        p = F.col("c").cast("double") / F.col("tg").cast("double")
        qq = F.col("ct").cast("double") / F.col("tt").cast("double")
        m = (p + qq) / F.lit(2.0)
        term = (
            p * F.log(p / m) / F.lit(2.0)
            + qq * F.log(qq / m) / F.lit(2.0)
        )
        per_g = (
            j.withColumn("__t", F.floor(term * F.lit(1e6)).cast("long"))
            .groupBy("g")
            .agg(
                F.sum("__t").alias("__sp"),
                F.sum("ct").alias("__sg"),
                F.first("tg").alias("tg"),
                F.first("tt").alias("tt"),
            )
        )
        absent = F.floor(
            F.log(F.lit(2.0)) / F.lit(2.0)
            * ((F.col("tt") - F.col("__sg")).cast("double")
               / F.col("tt").cast("double"))
            * F.lit(1e6)
        ).cast("long")
        _noop(
            per_g.select(
                F.col("g").alias("source"),
                ((F.col("__sp") + absent) / F.lit(1e6)).alias("js_nats"),
                F.col("tg").cast("long").alias("n_tokens"),
            ).orderBy("source")
        )

    variants = [
        ("dsir_c0", lambda: dsir(False)),
        ("dsir_c1", lambda: dsir(True)),
        ("jsd_c0", lambda: jsd(False)),
        ("jsd_c1", lambda: jsd(True)),
    ]
    for rnd in range(3):
        for name, fn in variants:
            spark.sparkContext.setJobDescription(f"aggreuse:{name}")
            out.setdefault(name, []).append(_time(fn, runs=1))
    print(out, flush=True)


def png_vectorized(out: dict) -> None:
    """VERDICT r15 item 5: the mixed-filter PNG decode floor after
    vectorizing the closed-form arms (Up = one wrapping uint8 add,
    Sub = per-channel cumsum mod 256, + vectorized RGB24 conversion;
    Avg/Paeth stay per-byte). Same 100k-image 64x48 RGB corpus recipe
    as BENCH_r15_probes.json multimodal:png_mixed_filters (scanline
    filters cycle 0-4), exact round-trip asserted first."""
    import numpy as np
    from pyspark.sql import functions as F

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from probe_r15 import _encode_png_mixed

    from finlogic_spark.operators.multimodal import (
        extract_features,
        png_decoder,
    )

    spark = get_spark("probe-r16")
    for i in (0, 1, 2, 3, 4):
        data, px = _encode_png_mixed(i)
        d = png_decoder("image", data)
        got = np.frombuffer(d["body"], dtype=np.uint8).reshape(px.shape)
        assert (got == px).all(), f"filter round-trip failed for seed {i}"
    out["round_trip_exact"] = True

    n_images = 100_000
    tmp = "/tmp/probe_r16_media"
    if not os.path.exists(f"{tmp}/_SUCCESS"):
        schema = "media_id long, kind string, data binary"
        first = True
        for lo in range(0, n_images, 20_000):
            rows = [
                (i, "image", bytearray(_encode_png_mixed(i)[0]))
                for i in range(lo, min(lo + 20_000, n_images))
            ]
            spark.createDataFrame(rows, schema).write.mode(
                "overwrite" if first else "append"
            ).parquet(tmp)
            first = False
            print(f"  png corpus: {min(lo + 20_000, n_images)}", flush=True)
    media = spark.read.parquet(tmp)
    n = media.count()

    def extract():
        _noop(extract_features(media, decoder=png_decoder))

    spark.sparkContext.setJobDescription("png_vectorized:extract")
    t = _time(extract, runs=2)

    def meter(it):
        import resource

        import pandas as pd

        for pdf in it:
            for kind, data in zip(pdf["kind"], pdf["data"]):
                png_decoder(kind, bytes(data))
            rss = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss // 1024
            yield pd.DataFrame(
                {"rows": [len(pdf)], "worker_rss_mb": [int(rss)]}
            )

    b = (
        media.select("media_id", "kind", "data")
        .mapInPandas(meter, "rows long, worker_rss_mb long")
        .agg(
            F.max("rows").alias("max_rows"),
            F.max("worker_rss_mb").alias("max_rss"),
        )
        .collect()[0]
    )
    out.update(
        {
            "images": n,
            "image_shape": "64x48x3 RGB PNG, scanline filters cycle 0-4",
            "extract_s": t,
            "images_per_s": round(n / t),
            "max_arrow_batch_rows": int(b["max_rows"]),
            "peak_python_worker_rss_mb": int(b["max_rss"]),
            "r15_baseline_images_per_s": 4077,
            "note": (
                "closed-form filter arms (None/Sub/Up) + RGB24 "
                "conversion vectorized with numpy; Avg/Paeth remain the "
                "left-sequential per-byte residual floor (2 of 5 "
                "scanlines in this corpus)."
            ),
        }
    )
    print(out, flush=True)


PROBES = {
    "cc_single_job": cc_single_job,
    "pagerank_edges": pagerank_edges,
    "simhash_decompose": simhash_decompose,
    "simhash_ab": simhash_ab,
    "lsh_index_shape": lsh_index_shape,
    "curation_reuse": curation_reuse,
    "token_stream_reuse": token_stream_reuse,
    "covariance_kernel": covariance_kernel,
    "sketch_exact_subtrees": sketch_exact_subtrees,
    "lsh_recall_shape": lsh_recall_shape,
    "agg_reuse": agg_reuse,
    "png_vectorized": png_vectorized,
}


def main() -> None:
    which = sys.argv[1]
    out_path = sys.argv[2] if len(sys.argv) > 2 else None
    out: dict = {}
    PROBES[which](out)
    line = json.dumps({which: out})
    print(line)
    if out_path:
        with open(out_path, "w") as fh:
            fh.write(line + "\n")


if __name__ == "__main__":
    main()
