"""Round-17 optimization probes: same-session alternating A/B of each
candidate against the current shape, through the noop sink (guide
§1.4), exactly the r16 discipline (tools/probe_r16.py): this host's
run-to-run variance reaches 2x, so decisions come ONLY from
alternating same-session samples, never cross-run diffs.

Usage: python tools/probe_r17.py <probe> [out.json]

Probes:
  pagerank_decompose — stage-by-stage cost of orders_supplier_pagerank
      (VERDICT r16 item 1): edge pipeline vs distinct exchanges vs the
      repartition(1) Arrow funnel vs the numpy kernel itself.
  pagerank_variants — A/B of candidate restructures (all verified
      row-identical in-probe before timing).
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


def _edges_base(spark):
    from pyspark.sql import functions as F

    o = dq._t(spark, SF_DIR, "orders")
    l = dq._t(spark, SF_DIR, "lineitem")
    return (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .select(
            F.concat(F.lit("c"), F.col("o_custkey")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey")).alias("dst"),
        )
    )


def _bi(spark):
    from pyspark.sql import functions as F

    edges = _edges_base(spark).distinct()
    return edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def pagerank_decompose(out: dict) -> None:
    from pyspark.sql import functions as F

    from finlogic_spark.operators.graph import pagerank

    spark = get_spark("probe-r17")
    sc = spark.sparkContext

    stages = {
        "branch_join_only": lambda: _edges_base(spark),
        "edges_distinct": lambda: _edges_base(spark).distinct(),
        "bi_union": lambda: _bi(spark),
        "bi_distinct": lambda: _bi(spark).distinct(),
        "pagerank_bi": lambda: pagerank(_bi(spark), iterations=5),
        "full_query": lambda: dq.QUERIES["orders_supplier_pagerank"](
            spark, SF_DIR
        ),
    }
    for label, mk in stages.items():
        sc.setJobDescription(f"pagerank_decompose: {label}")
        out[label] = _time(lambda: _noop(mk()))
        print(label, out[label], flush=True)

    # kernel-local: the numpy recurrence on the driver, data collected
    # once outside the timer — isolates the Arrow worker's own cost
    import numpy as np
    import pyarrow as pa

    tbl = _bi(spark).distinct().toArrow()
    src = tbl.column("src").combine_chunks()
    dst = tbl.column("dst").combine_chunks()

    def kernel():
        enc = pa.chunked_array([src, dst]).combine_chunks().dictionary_encode()
        nodes = enc.dictionary
        inv = enc.indices.to_numpy().astype(np.int64, copy=False)
        m = len(src)
        si, di = inv[:m], inv[m:]
        counts = np.bincount(si, minlength=len(nodes))
        denom = np.int64(100) * counts[si]
        rank = np.full(len(nodes), 1_000_000, dtype=np.int64)
        for _ in range(5):
            contrib = (np.int64(85) * rank[si]) // denom
            inflow = np.zeros(len(nodes), dtype=np.int64)
            np.add.at(inflow, di, contrib)
            rank = np.int64(150_000) + inflow
        return rank

    t0 = time.perf_counter()
    kernel()
    out["kernel_local_s"] = round(time.perf_counter() - t0, 3)
    out["n_bi_rows"] = tbl.num_rows
    print("kernel_local_s", out["kernel_local_s"], "rows", tbl.num_rows,
          flush=True)

    # sub-splits of the kernel: dictionary_encode vs the iteration
    # loop, and the loop with np.add.at replaced by sort-once +
    # np.add.reduceat (CSR-style — exact int64 both ways)
    t0 = time.perf_counter()
    enc = pa.chunked_array([src, dst]).combine_chunks().dictionary_encode()
    out["kernel_dictencode_s"] = round(time.perf_counter() - t0, 3)
    nodes = enc.dictionary
    inv = enc.indices.to_numpy().astype(np.int64, copy=False)
    m = len(src)
    si, di = inv[:m], inv[m:]
    nn = len(nodes)
    counts = np.bincount(si, minlength=nn)
    denom = np.int64(100) * counts[si]

    def loop_addat():
        rank = np.full(nn, 1_000_000, dtype=np.int64)
        for _ in range(5):
            contrib = (np.int64(85) * rank[si]) // denom
            inflow = np.zeros(nn, dtype=np.int64)
            np.add.at(inflow, di, contrib)
            rank = np.int64(150_000) + inflow
        return rank

    def loop_reduceat():
        perm = np.argsort(di, kind="stable")
        si_p = si[perm]
        den_p = denom[perm]
        di_p = di[perm]
        starts = np.flatnonzero(
            np.diff(di_p, prepend=np.int64(di_p[0] - 1))
        )
        uniq = di_p[starts]
        rank = np.full(nn, 1_000_000, dtype=np.int64)
        for _ in range(5):
            contrib = (np.int64(85) * rank[si_p]) // den_p
            inflow = np.zeros(nn, dtype=np.int64)
            inflow[uniq] = np.add.reduceat(contrib, starts)
            rank = np.int64(150_000) + inflow
        return rank

    t0 = time.perf_counter()
    r_a = loop_addat()
    out["kernel_loop_addat_s"] = round(time.perf_counter() - t0, 3)
    t0 = time.perf_counter()
    r_r = loop_reduceat()
    out["kernel_loop_reduceat_s"] = round(time.perf_counter() - t0, 3)
    out["kernel_loops_equal"] = bool(np.array_equal(r_a, r_r))
    print({k: out[k] for k in (
        "kernel_dictencode_s", "kernel_loop_addat_s",
        "kernel_loop_reduceat_s", "kernel_loops_equal")}, flush=True)


def _rows_sorted(df):
    return sorted(tuple(r) for r in df.collect())


def pagerank_variants(out: dict) -> None:
    """A/B candidate restructures of orders_supplier_pagerank. Every
    variant is first checked row-identical to the current query, then
    timed alternating (2 passes of median-of-3 each, min taken)."""
    from pyspark.sql import functions as F

    from finlogic_spark.operators.graph import (
        _SPILL,
        _pagerank_single_job,
        pagerank,
    )

    spark = get_spark("probe-r17")
    sc = spark.sparkContext

    def tail(ranks):
        return (
            ranks.filter(F.col("node").startswith("s"))
            .select("node", F.col("rank").alias("rank_micro"))
            .orderBy(F.col("rank_micro").desc(), F.col("node").asc())
            .limit(20)
        )

    def v0_current():
        return dq.QUERIES["orders_supplier_pagerank"](spark, SF_DIR)

    def v1_ckpt_edges():
        # lazy checkpoint of the directed distinct edges before the
        # union: the orders x lineitem join + distinct evaluates once
        edges = (
            _edges_base(spark)
            .distinct()
            .localCheckpoint(eager=False, storageLevel=_SPILL)
        )
        bi = edges.union(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        return tail(pagerank(bi, iterations=5))

    def v2_sym_worker():
        # directed distinct edges only: no union, no bi-wide distinct;
        # the funnel symmetrizes in the worker (relax both directions,
        # degree = both-direction bincount). Disjoint directions here
        # ('c'/'s' prefixes), so sym == distinct(bi) exactly.
        import numpy as np
        import pyarrow as pa
        from pyspark.sql import types as T

        e = _edges_base(spark).distinct().persist(_SPILL)
        e.count()  # fill outside nothing — gate job stand-in
        out_schema = T.StructType(
            [
                T.StructField("node", T.StringType()),
                T.StructField("rank", T.LongType()),
            ]
        )

        def _run(batches):
            tbls = [pa.Table.from_batches([b]) for b in batches]
            if not tbls:
                return
            t = pa.concat_tables(tbls)
            src = t.column("src").combine_chunks()
            dst = t.column("dst").combine_chunks()
            enc = (
                pa.chunked_array([src, dst]).combine_chunks().dictionary_encode()
            )
            nodes = enc.dictionary
            inv = enc.indices.to_numpy().astype(np.int64, copy=False)
            m = len(src)
            si, di = inv[:m], inv[m:]
            nn = len(nodes)
            deg = np.bincount(si, minlength=nn) + np.bincount(di, minlength=nn)
            den_f = np.int64(100) * deg[si]
            den_r = np.int64(100) * deg[di]
            rank = np.full(nn, 1_000_000, dtype=np.int64)
            for _ in range(5):
                inflow = np.zeros(nn, dtype=np.int64)
                np.add.at(inflow, di, (np.int64(85) * rank[si]) // den_f)
                np.add.at(inflow, si, (np.int64(85) * rank[di]) // den_r)
                rank = np.int64(150_000) + inflow
            yield pa.record_batch(
                [nodes, pa.array(rank, type=pa.int64())], ["node", "rank"]
            )

        ranks = (
            e.select("src", "dst")
            .repartition(1)
            .mapInArrow(_run, out_schema)
            .localCheckpoint(eager=True, storageLevel=_SPILL)
        )
        res = tail(ranks)
        e.unpersist()
        return res

    variants = {
        "v1_ckpt_edges": v1_ckpt_edges,
        "v2_sym_worker": v2_sym_worker,
    }
    ref = _rows_sorted(v0_current())
    for name, mk in variants.items():
        got = _rows_sorted(mk())
        out[f"{name}_rows_equal"] = got == ref
        print(name, "rows_equal", got == ref, flush=True)
        assert got == ref, f"{name} output differs"

    def run(label, mk):
        sc.setJobDescription(f"pagerank_variants: {label}")
        return _time(lambda: _noop(mk()))

    a1 = run("v0", v0_current)
    b1 = {n: run(n, mk) for n, mk in variants.items()}
    a2 = run("v0", v0_current)
    b2 = {n: run(n, mk) for n, mk in variants.items()}
    out["v0_current"] = min(a1, a2)
    for n in variants:
        out[n] = min(b1[n], b2[n])
    out["samples"] = {
        "v0": [a1, a2],
        **{n: [b1[n], b2[n]] for n in variants},
    }
    print(json.dumps(out, indent=1), flush=True)


def lsh_recall_leftjoin(out: dict) -> None:
    """emb_lsh_recall (VERDICT r16 item 3): the exact brute-force leg
    is consumed twice (hits inner-join side + the distinct-query_id
    left frame). Restructure to ONE left join + groupBy — a single
    exact-leg evaluation with no materialization barrier (the r16
    barrier probe lost to core-overlap; this removes the duplicate
    outright instead of serializing it)."""
    from pyspark.sql import functions as F

    from finlogic_spark.operators.similarity import (
        cosine_topk,
        lsh_cosine_topk,
    )

    spark = get_spark("probe-r17")
    sc = spark.sparkContext

    def legs():
        e = dq._t(spark, SF_DIR, "embeddings")
        as_double = F.transform("embedding", lambda x: x.cast("double"))
        corpus = e.select("vec_id", as_double.alias("embedding"))
        queries = e.filter(F.col("vec_id") < 10).select(
            F.col("vec_id").alias("query_id"), as_double.alias("query_vec")
        )
        exact5 = cosine_topk(corpus, queries, k=5).select(
            "query_id", "vec_id"
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
        return exact5, lsh5

    def v0_current():
        return dq.QUERIES["emb_lsh_recall"](spark, SF_DIR)

    def v1_leftjoin():
        exact5, lsh5 = legs()
        return (
            exact5.join(
                lsh5.withColumn("__hit", F.lit(1)),
                ["query_id", "vec_id"],
                "left",
            )
            .groupBy("query_id")
            .agg(F.count("__hit").alias("__nh"))
            .select(
                "query_id",
                F.col("__nh").cast("long").alias("n_hits"),
                (F.col("__nh") / F.lit(5.0)).alias("recall_at_5"),
            )
            .orderBy("query_id")
        )

    ref = _rows_sorted(v0_current())
    got = _rows_sorted(v1_leftjoin())
    out["rows_equal"] = got == ref
    print("rows_equal", got == ref, flush=True)
    assert got == ref

    def run(label, mk):
        sc.setJobDescription(f"lsh_recall: {label}")
        return _time(lambda: _noop(mk()))

    a1 = run("v0", v0_current)
    b1 = run("v1", v1_leftjoin)
    a2 = run("v0", v0_current)
    b2 = run("v1", v1_leftjoin)
    out["v0_current"] = min(a1, a2)
    out["v1_leftjoin"] = min(b1, b2)
    out["samples"] = {"v0": [a1, a2], "v1": [b1, b2]}
    print(json.dumps(out), flush=True)


def curation_pipeline(out: dict) -> None:
    """doc_curation_pipeline (VERDICT r16 item 4): stage decomposition
    + the curation_learned barrier pattern applied to the `gated`
    signal projection (repetition_signals + quality_score per row),
    which the plan consumes up to 4x (exact_dedup two sides; the ded
    frame twice more downstream)."""
    from pyspark.sql import functions as F

    from finlogic_spark.operators.text_dedup import (
        exact_dedup,
        minhash_lsh_pairs,
    )

    spark = get_spark("probe-r17")
    sc = spark.sparkContext

    def pipeline(ckpt_gated=False, ckpt_ded=False, stop=None):
        d = dq._t(spark, SF_DIR, "documents").filter(
            F.col("text").isNotNull()
        )
        sig = d.select(
            "doc_id", "lang", "source", "text",
            dq.repetition_signals("text").alias("__s"),
        )
        gated = (
            sig.withColumn("__dr", dq.rN(F.col("__s.distinct_ratio"), 6))
            .withColumn("__tbf", dq.rN(F.col("__s.top_bigram_frac"), 6))
            .withColumn("__q", dq.rN(dq.quality_score("text"), 6))
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
        if ckpt_gated:
            gated = gated.localCheckpoint(eager=False)
        if stop == "gated":
            return gated
        ded = exact_dedup(gated, "text", "doc_id")
        if ckpt_ded:
            ded = ded.localCheckpoint(eager=False)
        if stop == "ded":
            return ded
        pairs = minhash_lsh_pairs(
            ded, "text", "doc_id", k=3, num_hashes=6, bands=2
        )
        if stop == "pairs":
            return pairs
        kept = ded.join(
            pairs.select(F.col("id_b").alias("doc_id")).distinct(),
            "doc_id",
            "left_anti",
        )
        final = dq.stratified_sample_hash(
            kept, "lang", {"en": "g0", "de": "80", "fr": "80"},
            id_col="doc_id", default_rate="40",
        )
        return final.select(
            "doc_id", "lang", "source", "n_tokens"
        ).orderBy("doc_id")

    # stage decomposition (current shape)
    for stage in ("gated", "ded", "pairs", None):
        label = stage or "full"
        sc.setJobDescription(f"curation stages: {label}")
        out[f"stage_{label}"] = _time(lambda: _noop(pipeline(stop=stage)))
        print("stage", label, out[f"stage_{label}"], flush=True)

    ref = _rows_sorted(dq.QUERIES["doc_curation_pipeline"](spark, SF_DIR))
    variants = {
        "ckpt_gated": lambda: pipeline(ckpt_gated=True),
        "ckpt_gated_ded": lambda: pipeline(ckpt_gated=True, ckpt_ded=True),
    }
    for name, mk in variants.items():
        got = _rows_sorted(mk())
        out[f"{name}_rows_equal"] = got == ref
        assert got == ref, name

    def run(label, mk):
        sc.setJobDescription(f"curation: {label}")
        return _time(lambda: _noop(mk()))

    a1 = run("v0", lambda: pipeline())
    b1 = {n: run(n, mk) for n, mk in variants.items()}
    a2 = run("v0", lambda: pipeline())
    b2 = {n: run(n, mk) for n, mk in variants.items()}
    out["v0_current"] = min(a1, a2)
    for n in variants:
        out[n] = min(b1[n], b2[n])
    out["samples"] = {"v0": [a1, a2], **{n: [b1[n], b2[n]] for n in variants}}
    print(json.dumps(out), flush=True)


def segment_dedup(out: dict) -> None:
    """doc_segment_dedup (VERDICT r16 item 6): decompose, then A/B the
    guide-§8 restructure — ship only the (doc_id, pos) of BOILERPLATE
    hits (rare) through the shuffle and reassemble per document from a
    second expression pass over the source, instead of funnelling every
    segment string through the final groupBy exchange."""
    from pyspark.sql import functions as F

    from finlogic_spark.operators.text_dedup import (
        repeated_segment_dedup,
        token_segments,
    )

    spark = get_spark("probe-r17")
    sc = spark.sparkContext

    def v0_current():
        return dq.QUERIES["doc_segment_dedup"](spark, SF_DIR)

    def v1_positions():
        d = dq._t(spark, SF_DIR, "documents")
        segs = d.select(
            "doc_id",
            F.posexplode_outer(token_segments("text", 8)).alias(
                "__pos", "__seg"
            ),
        ).withColumn("__sh", F.md5(F.col("__seg")))
        boiler = (
            segs.filter(F.col("__seg").isNotNull())
            .groupBy("__sh")
            .agg(F.count_distinct(F.col("doc_id")).alias("__nd"))
            .filter(F.col("__nd") >= F.lit(3))
            .select("__sh")
        )
        dropped = (
            segs.join(boiler, "__sh", "left_semi")
            .groupBy("doc_id")
            .agg(F.collect_set("__pos").alias("__drop"))
        )
        segarr = F.coalesce(
            token_segments("text", 8), F.array().cast("array<string>")
        )
        kept_arr = F.filter(
            F.transform(
                segarr,
                lambda s, i: F.struct(i.alias("i"), s.alias("s")),
            ),
            lambda st: ~F.coalesce(
                F.array_contains(F.col("__drop"), st["i"]), F.lit(False)
            ),
        )
        return (
            d.join(dropped, "doc_id", "left")
            .select(
                "doc_id",
                F.size(segarr).cast("long").alias("n_seg_total"),
                F.size(kept_arr).cast("long").alias("n_seg_kept"),
                F.md5(
                    F.array_join(
                        F.transform(kept_arr, lambda st: st["s"]), " "
                    )
                ).alias("clean_digest"),
            )
            .orderBy("doc_id")
        )

    ref = _rows_sorted(v0_current())
    got = _rows_sorted(v1_positions())
    out["rows_equal"] = got == ref
    print("rows_equal", got == ref, flush=True)
    if got != ref:
        diff = [(a, b) for a, b in zip(ref, got) if a != b][:3]
        print("first diffs", diff, flush=True)
        return

    def run(label, mk):
        sc.setJobDescription(f"segment_dedup: {label}")
        return _time(lambda: _noop(mk()))

    a1 = run("v0", v0_current)
    b1 = run("v1", v1_positions)
    a2 = run("v0", v0_current)
    b2 = run("v1", v1_positions)
    out["v0_current"] = min(a1, a2)
    out["v1_positions"] = min(b1, b2)
    out["samples"] = {"v0": [a1, a2], "v1": [b1, b2]}
    print(json.dumps(out), flush=True)


def resample_vec(out: dict) -> None:
    """stream_resample_ffill (VERDICT r16 item 7): the state op's
    per-key fold is a per-EVENT Python loop (stateful.py
    _resample_update) — the guide-§4 shape. Vectorized candidate:
    np.unique over event hours + add.reduceat per-hour sums + repeat
    for gap rows, identical emission semantics (same floats: int64
    cents -> (s/100.0)/n in the same order). A/B via monkeypatch."""
    import numpy as np
    import pandas as pd

    from finlogic_spark.streaming import stateful as st

    spark = get_spark("probe-r17")
    sc = spark.sparkContext

    _HOUR_US = st._HOUR_US

    def _vec_update(key, pdfs, state):
        (user_id,) = key
        hour_us0, sum0, n0, late = (
            state.get if state.exists else (-1, 0, 0, 0)
        )
        chunks = [p for p in pdfs if len(p)]
        if not chunks:
            state.update((hour_us0, sum0, n0, late))
            return
        events = pd.concat(chunks, ignore_index=True)
        events = events.sort_values(["ts", "event_id"], kind="stable")
        ts_us = pd.to_datetime(events["ts"]).astype("int64") // 1000
        ev_hour = ((ts_us // _HOUR_US) * _HOUR_US).to_numpy()
        cents = np.floor(
            events["value"].to_numpy() * 100.0 + 0.5
        ).astype("int64")
        if hour_us0 != -1:
            late_mask = ev_hour < hour_us0
            n_late_new = int(late_mask.sum())
            if n_late_new:
                late += n_late_new
                keep = ~late_mask
                ev_hour = ev_hour[keep]
                cents = cents[keep]
        # per-hour chain: state's open bucket (if any) + this batch's
        # hours, ascending (events sorted; late already filtered)
        if ev_hour.size:
            uh, starts = np.unique(ev_hour, return_index=True)
            sums = np.add.reduceat(cents, starts)
            cnts = np.diff(np.append(starts, len(cents))).astype("int64")
            if hour_us0 != -1:
                if uh[0] == hour_us0:
                    sums[0] += sum0
                    cnts[0] += n0
                else:
                    uh = np.concatenate(([hour_us0], uh))
                    sums = np.concatenate(([sum0], sums))
                    cnts = np.concatenate(([n0], cnts))
        elif hour_us0 != -1:
            uh = np.array([hour_us0], dtype="int64")
            sums = np.array([sum0], dtype="int64")
            cnts = np.array([n0], dtype="int64")
        else:
            state.update((hour_us0, sum0, n0, late))
            return
        avg = (sums / 100.0) / cnts
        k = len(uh)
        state.update((int(uh[-1]), int(sums[-1]), int(cnts[-1]), late))
        parts_h, parts_v, parts_g, parts_n = [], [], [], []
        if k > 1:
            parts_h.append(uh[:-1])
            parts_v.append(avg[:-1])
            parts_g.append(np.zeros(k - 1, dtype=bool))
            parts_n.append(cnts[:-1])
            gap_counts = (uh[1:] - uh[:-1]) // _HOUR_US - 1
            total = int(gap_counts.sum())
            if total > 0:
                reps = np.repeat(np.arange(k - 1), gap_counts)
                idx = np.arange(total) - np.repeat(
                    np.cumsum(gap_counts) - gap_counts, gap_counts
                )
                parts_h.append(uh[reps] + (idx + 1) * _HOUR_US)
                parts_v.append(avg[reps])
                parts_g.append(np.ones(total, dtype=bool))
                parts_n.append(np.zeros(total, dtype="int64"))
        if cnts[-1] > 0:  # tentative emission of the open bucket
            parts_h.append(uh[-1:])
            parts_v.append(avg[-1:])
            parts_g.append(np.zeros(1, dtype=bool))
            parts_n.append(cnts[-1:])
        if not parts_h:
            return
        hours = np.concatenate(parts_h)
        pdf = pd.DataFrame(
            {
                "key": np.full(len(hours), user_id, dtype="int64"),
                "bucket_ts": pd.to_datetime(hours, unit="us"),
                "val": np.concatenate(parts_v),
                "is_gap": np.concatenate(parts_g),
                "n_obs": np.concatenate(parts_n),
                "n_late": np.full(len(hours), int(late), dtype="int64"),
            }
        )
        yield pdf

    def v0():
        return dq.QUERIES["stream_resample_ffill"](spark, SF_DIR)

    orig = st._resample_update

    def v1():
        st._resample_update = _vec_update
        try:
            return dq.QUERIES["stream_resample_ffill"](spark, SF_DIR)
        finally:
            st._resample_update = orig

    ref = _rows_sorted(v0())
    got = _rows_sorted(v1())
    out["rows_equal"] = got == ref
    print("rows_equal", got == ref, flush=True)
    if got != ref:
        diff = [(a, b) for a, b in zip(ref, got) if a != b][:3]
        print("first diffs", diff, len(ref), len(got), flush=True)
        return

    def run(label, mk):
        sc.setJobDescription(f"resample_vec: {label}")
        return _time(lambda: _noop(mk()))

    a1 = run("v0", v0)
    b1 = run("v1", v1)
    a2 = run("v0", v0)
    b2 = run("v1", v1)
    out["v0_current"] = min(a1, a2)
    out["v1_vectorized"] = min(b1, b2)
    out["samples"] = {"v0": [a1, a2], "v1": [b1, b2]}
    print(json.dumps(out), flush=True)


def cc_decompose(out: dict) -> None:
    """VERDICT r16 item 5 follow-through: attribute the CC-family rows'
    cost between the minhash pair pipeline and the single-job funnel,
    and time the funnel's kernel pieces locally (dictencode /
    sort_indices / minimum.at loop) — decides whether the CC funnel
    needs the pagerank treatment or is already upstream-dominated."""
    import time as _t_

    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql import functions as F

    from finlogic_spark.operators.text_dedup import minhash_lsh_pairs

    spark = get_spark("probe-r17")
    sc = spark.sparkContext

    d = dq._t(spark, SF_DIR, "documents")

    def pairs():
        return minhash_lsh_pairs(
            d, "text", "doc_id", k=3, num_hashes=6, bands=2
        )

    sc.setJobDescription("cc_decompose: pairs_only")
    out["pairs_only"] = _time(lambda: _noop(pairs()))
    sc.setJobDescription("cc_decompose: full_query")
    out["full_query"] = _time(
        lambda: _noop(dq.QUERIES["doc_dedup_clusters"](spark, SF_DIR))
    )
    print("pairs_only", out["pairs_only"], "full", out["full_query"],
          flush=True)

    # funnel kernel, locally: same ops as _cc_single_job
    tbl = (
        pairs()
        .select(F.col("id_a").alias("s"), F.col("id_b").alias("d"))
        .toArrow()
    )
    s = tbl.column("s").combine_chunks()
    dd = tbl.column("d").combine_chunks()
    t0 = _t_.perf_counter()
    enc = pa.chunked_array([s, dd]).combine_chunks().dictionary_encode()
    out["kernel_dictencode_s"] = round(_t_.perf_counter() - t0, 3)
    nodes = enc.dictionary
    n = len(nodes)
    t0 = _t_.perf_counter()
    order = pc.sort_indices(nodes).to_numpy().astype(np.int64, copy=False)
    rank_of = np.empty(n, dtype=np.int64)
    rank_of[order] = np.arange(n, dtype=np.int64)
    out["kernel_sort_s"] = round(_t_.perf_counter() - t0, 3)
    idx = enc.indices.to_numpy().astype(np.int64, copy=False)
    m = len(s)
    si, di = idx[:m], idx[m:]
    t0 = _t_.perf_counter()
    lab = rank_of.copy()
    rounds = 0
    while True:
        old = lab
        lab = lab.copy()
        np.minimum.at(lab, di, old[si])
        np.minimum.at(lab, si, old[di])
        np.minimum(lab, lab[order[lab]], out=lab)
        rounds += 1
        if np.array_equal(lab, old):
            break
    out["kernel_loop_s"] = round(_t_.perf_counter() - t0, 3)
    out["kernel_rounds"] = rounds
    out["n_edges"] = m
    out["n_nodes"] = n
    print({k: out[k] for k in (
        "kernel_dictencode_s", "kernel_sort_s", "kernel_loop_s",
        "kernel_rounds", "n_edges", "n_nodes")}, flush=True)


def ngram_jaccard_reuse(out: dict) -> None:
    """doc_ngram_jaccard: the exploded distinct-shingle stream feeds
    the self-join's BOTH sides (same exchange — likely reused) AND the
    per-doc size aggregate (different key — full re-evaluation).
    A/B a lazy checkpoint of the (doc_id, sh) stream. r16 precedent
    says raw token-stream barriers are wash-or-worse; this one feeds
    three consumers, so measure rather than assume."""
    from pyspark.sql import functions as F

    from finlogic_spark.operators.text_dedup import ngram_jaccard_pairs

    spark = get_spark("probe-r17")
    sc = spark.sparkContext

    def v0():
        return dq.QUERIES["doc_ngram_jaccard"](spark, SF_DIR)

    def run(label, mk):
        sc.setJobDescription(f"ngram_jaccard: {label}")
        return _time(lambda: _noop(mk()))

    # decomposition only (the operator owns the shape; a barrier would
    # need an operator param — measure the potential first)
    a1 = run("v0", v0)
    a2 = run("v0", v0)
    out["v0_current"] = min(a1, a2)
    out["samples"] = {"v0": [a1, a2]}
    print(json.dumps(out), flush=True)


def hybrid_decompose(out: dict) -> None:
    """doc_hybrid_search: attribute cost between the BM25 leg, the LSH
    serve leg, and fusion — both legs are index-served and top-20
    bounded, so if each leg's standalone cost ~= its in-query share,
    there is no shared subtree to barrier."""
    from pyspark.sql import functions as F
    from pyspark.sql import Window

    from finlogic_spark.operators.search import bm25_topk

    spark = get_spark("probe-r17")
    sc = spark.sparkContext

    def lex():
        idx = dq._postings_index(spark, SF_DIR)
        return bm25_topk(None, dq._HYBRID_TERMS, k=20, postings=idx)

    def sem():
        corpus = dq._lsh_index(spark, SF_DIR)
        q0 = (
            dq._emb_corpus(spark, SF_DIR)
            .filter(F.col("vec_id") == 0)
            .select(
                F.col("vec_id").alias("query_id"),
                F.col("embedding").alias("query_vec"),
            )
        )
        from finlogic_spark.operators.similarity import lsh_cosine_topk

        return lsh_cosine_topk(
            corpus, q0, k=20, dim=64, num_planes=dq._LSH_PLANES,
            num_tables=dq._LSH_TABLES, probe_radius=dq._LSH_RADIUS,
            corpus_bucketed=True, local_query_probes=True,
        )

    stages = {
        "lex_leg": lex,
        "sem_leg": sem,
        "full_query": lambda: dq.QUERIES["doc_hybrid_search"](
            spark, SF_DIR
        ),
    }
    for label, mk in stages.items():
        sc.setJobDescription(f"hybrid: {label}")
        out[label] = _time(lambda: _noop(mk()))
        print(label, out[label], flush=True)


def bpe_shingle_onepass(out: dict) -> None:
    """doc_bpe_shingle_pairs: the banding unions two selects of `sig`
    and then SELF-JOINS the union — the expensive sig pipeline
    (bpe_pieces Arrow stage -> piece shingles -> 4 seeded-md5 minhash
    aggregate) is evaluated 4x (2 union branches x 2 join sides; Spark
    shares no subplans across union/join branches). Candidate: band by
    exploding an array of (band, bh) structs (the lsh_buckets shape —
    ONE sig evaluation) and expand pairs bucket-side via bucket_pairs'
    collect_list + _pairs_within (no self-join). Same (band, bh)
    hashes, same (id_a < id_b) pair set."""
    from pyspark.sql import functions as F

    from finlogic_spark.operators.bpe import bpe_pieces
    from finlogic_spark.operators.text_dedup import (
        array_shingles,
        bucket_pairs,
    )

    spark = get_spark("probe-r17")
    sc = spark.sparkContext

    def v0():
        return dq.QUERIES["doc_bpe_shingle_pairs"](spark, SF_DIR)

    def v1():
        d = dq._t(spark, SF_DIR, "documents")
        m, lk = dq._bpe_index_store(spark, SF_DIR)
        p = bpe_pieces(d, m, pieces_lookup=lk)
        sh = p.select(
            "doc_id",
            F.explode(
                F.array_distinct(array_shingles(F.col("pieces"), 3))
            ).alias("__sh"),
        )
        sig = sh.groupBy("doc_id").agg(
            *[
                F.min(
                    F.md5(F.concat(F.lit(f"{i}|"), F.col("__sh")))
                ).alias(f"m{i}")
                for i in range(4)
            ]
        )
        buckets = sig.select(
            "doc_id",
            F.explode(
                F.array(
                    F.struct(
                        F.lit(0).alias("band"),
                        F.md5(
                            F.concat(F.col("m0"), F.lit("|"), F.col("m1"))
                        ).alias("band_hash"),
                    ),
                    F.struct(
                        F.lit(1).alias("band"),
                        F.md5(
                            F.concat(F.col("m2"), F.lit("|"), F.col("m3"))
                        ).alias("band_hash"),
                    ),
                )
            ).alias("bb"),
        ).select("doc_id", "bb.band", "bb.band_hash")
        return bucket_pairs(buckets, "doc_id").orderBy("id_a", "id_b")

    ref = _rows_sorted(v0())
    got = _rows_sorted(v1())
    out["rows_equal"] = got == ref
    print("rows_equal", got == ref, flush=True)
    assert got == ref

    def run(label, mk):
        sc.setJobDescription(f"bpe_shingle: {label}")
        return _time(lambda: _noop(mk()))

    a1 = run("v0", v0)
    b1 = run("v1", v1)
    a2 = run("v0", v0)
    b2 = run("v1", v1)
    out["v0_current"] = min(a1, a2)
    out["v1_onepass"] = min(b1, b2)
    out["samples"] = {"v0": [a1, a2], "v1": [b1, b2]}
    print(json.dumps(out), flush=True)


def neardup_bucketpairs(out: dict) -> None:
    """emb_cosine_neardup: cosine_neardup_pairs self-joins each
    table's bucket assignment (a_side x b_side on (__tbl, __bucket)) —
    the bucket-assign subtree (embedding scan + cast + plane
    projection) is evaluated TWICE per table; the item-8 shape.
    Candidate: sort_array(collect_list(id)) per bucket +
    _pairs_within explode — ONE bucket-assign evaluation; a vector
    belongs to exactly one bucket per table so within-table pairs are
    unique either way, and the size filter on the collected array is
    equivalent to the old a_side semi-join on bucket sizes."""
    from pyspark.sql import functions as F

    from finlogic_spark.operators.similarity import (
        cosine,
        lsh_assign_buckets,
    )
    from finlogic_spark.operators.text_dedup import _pairs_within

    spark = get_spark("probe-r17")
    sc = spark.sparkContext

    def v0():
        return dq.QUERIES["emb_cosine_neardup"](spark, SF_DIR)

    def v1():
        e = dq._t(spark, SF_DIR, "embeddings")
        as_double = F.transform("embedding", lambda x: x.cast("double"))
        vecs = e.select("vec_id", as_double.alias("embedding"))
        b = lsh_assign_buckets(
            vecs.select("vec_id", "embedding"), "embedding", 64, 6, table=0
        )
        grouped = b.groupBy("__bucket").agg(
            F.sort_array(F.collect_list("vec_id")).alias("__ids")
        )
        cands = (
            grouped.filter(F.size("__ids") >= 2)
            .select(F.explode(_pairs_within(F.col("__ids"))).alias("p"))
            .select(
                F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b")
            )
        )
        va = vecs.select(
            F.col("vec_id").alias("id_a"), F.col("embedding").alias("__va")
        )
        vb = vecs.select(
            F.col("vec_id").alias("id_b"), F.col("embedding").alias("__vb")
        )
        out_df = (
            cands.join(va, "id_a")
            .join(vb, "id_b")
            .withColumn("cos_sim", cosine(F.col("__va"), F.col("__vb")))
            .filter(F.col("cos_sim") >= 0.4)
            .select("id_a", "id_b", "cos_sim")
        )
        return out_df.select(
            "id_a", "id_b", dq.rN(F.col("cos_sim"), 6).alias("cos_sim")
        ).orderBy("id_a", "id_b")

    ref = _rows_sorted(v0())
    got = _rows_sorted(v1())
    out["rows_equal"] = got == ref
    print("rows_equal", got == ref, flush=True)
    assert got == ref

    def run(label, mk):
        sc.setJobDescription(f"neardup: {label}")
        return _time(lambda: _noop(mk()))

    a1 = run("v0", v0)
    b1 = run("v1", v1)
    a2 = run("v0", v0)
    b2 = run("v1", v1)
    out["v0_current"] = min(a1, a2)
    out["v1_bucketpairs"] = min(b1, b2)
    out["samples"] = {"v0": [a1, a2], "v1": [b1, b2]}
    print(json.dumps(out), flush=True)


PROBES = {
    "pagerank_decompose": pagerank_decompose,
    "pagerank_variants": pagerank_variants,
    "lsh_recall_leftjoin": lsh_recall_leftjoin,
    "curation_pipeline": curation_pipeline,
    "segment_dedup": segment_dedup,
    "resample_vec": resample_vec,
    "cc_decompose": cc_decompose,
    "ngram_jaccard_reuse": ngram_jaccard_reuse,
    "hybrid_decompose": hybrid_decompose,
    "bpe_shingle_onepass": bpe_shingle_onepass,
    "neardup_bucketpairs": neardup_bucketpairs,
}


def main() -> None:
    if len(sys.argv) < 2 or sys.argv[1] not in PROBES:
        raise SystemExit(f"usage: probe_r17.py <{'|'.join(PROBES)}> [out.json]")
    name = sys.argv[1]
    out: dict = {}
    PROBES[name](out)
    payload = {name: out, "sf_dir": SF_DIR}
    print(json.dumps(payload))
    if len(sys.argv) > 2:
        with open(sys.argv[2], "w") as fh:
            json.dump(payload, fh, indent=1)


if __name__ == "__main__":
    main()
