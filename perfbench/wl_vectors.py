"""vector_serving: one closed-loop client reading and growing indexes.

Set-up fits k-means centroids and builds the LSH, IVF and BM25 indexes
on disk. The client then cycles: it appends the next batch of held-back
docs to the LSH and IVF indexes, then runs four top-k reads (LSH, IVF,
BM25 and an RRF fusion of IVF + BM25) on one query. Reads are checked
afterwards against exact numpy/Python answers over the vectors each
index held at the time.
"""

from __future__ import annotations

import math
import os
from collections import Counter

import numpy as np

import gen

N_DOCS = 10_000
N_QUERIES = 400
APPEND_BATCH = 50
N_APPENDS = 200
K = 10
N_CELLS = 8
LSH_PLANES, LSH_TABLES, LSH_RADIUS = 10, 4, 3
N_PROBE = 6  # IVF cells searched per query, of N_CELLS
KINDS = [
    "similarity.lsh_cosine_topk",
    "similarity.ivf_topk",
    "search.bm25_topk",
    "search.rrf_fuse",
    "similarity.append_to_lsh_index",
    "similarity.append_to_ivf_index",
]
READS, APPENDS = KINDS[:4], KINDS[4:]
BUILDS = [
    "kmeans.kmeans_fit",
    "similarity.build_lsh_index_table",
    "similarity.build_ivf_index_table",
    "search.build_postings_table",
]

MIN_OPS = len(KINDS)
WARMUP = False
SETUP_REPS = 1


def generate(data: str, seed: int) -> dict:
    return gen.make_vectors(data, seed, N_DOCS, APPEND_BATCH * N_APPENDS, N_QUERIES)


def setup(spark, rec, data: str, truth: dict, rep: int) -> dict:
    """k-means centroids plus the three on-disk indexes, built from
    scratch under a fresh directory for every repeat. ``kmeans_fit``
    runs no Lloyd iteration: its deterministic init (the k lowest-id
    vectors) is the IVF centroid table, because two iterations cost
    ~5 s of a cold set-up."""
    from pyspark.sql import functions as F

    from finlogic_spark.operators import kmeans, search, similarity

    root = os.path.join(data, f"index{rep}")
    corpus = spark.read.parquet(os.path.join(data, "corpus.parquet"))
    with rec.op(BUILDS[0]):
        with rec.span("action"):
            cents = kmeans.kmeans_fit(corpus, N_CELLS, gen.DIM, max_iters=0)
    with rec.op(BUILDS[1]):
        with rec.span("action"):
            lsh = similarity.build_lsh_index_table(
                corpus, os.path.join(root, "lsh"), gen.DIM, LSH_PLANES, LSH_TABLES
            )
    with rec.op(BUILDS[2]):
        with rec.span("action"):
            ivf = similarity.build_ivf_index_table(
                corpus, list(enumerate(cents)), os.path.join(root, "ivf")
            )
    with rec.op(BUILDS[3]):
        with rec.span("action"):
            bm25 = search.build_postings_table(
                corpus.select(F.col("vec_id").alias("doc_id"), "text"),
                os.path.join(root, "bm25"),
                n_buckets=4,
            )
    return {
        "spark": spark, "root": root, "lsh": lsh, "ivf": ivf, "bm25": bm25,
        "n_lsh": N_DOCS, "n_ivf": N_DOCS, "truth": truth,
    }


def teardown(state: dict) -> None:
    pass


class Client:
    """Queries in seeded order; append batches in id order."""

    def __init__(self, seed: int, truth: dict):
        self.order = np.random.default_rng(seed + 11).permutation(N_QUERIES)
        self.i = 0

    def next_query(self) -> int:
        q = int(self.order[self.i % N_QUERIES])
        self.i += 1
        return q


def _query_df(spark, truth, q: int):
    return spark.createDataFrame(
        [(q, [float(x) for x in truth["queries"][q]])],
        "query_id int, query_vec array<double>",
    )


def _batch_df(spark, truth, lo: int, hi: int):
    rows = [
        (int(truth["ids"][i]), [float(x) for x in truth["vecs"][i]]) for i in range(lo, hi)
    ]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def read(rec, state: dict, kind: str, q: int) -> dict:
    """One timed top-k read for query ``q``."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from finlogic_spark.operators import search, similarity

    spark, truth = state["spark"], state["truth"]
    with rec.op(kind) as o:
        with rec.span("plan"):
            qdf = None if kind == KINDS[2] else _query_df(spark, truth, q)
            if kind == KINDS[0]:
                lsh = state["lsh"]
                df = similarity.lsh_cosine_topk(
                    lsh.df, qdf, K, gen.DIM, lsh.num_planes, lsh.num_tables, LSH_RADIUS,
                    corpus_bucketed=True, local_query_probes=True,
                ).select("query_id", "vec_id", "cos_sim", "rk")
            elif kind == KINDS[1]:
                ivf = state["ivf"]
                df = similarity.ivf_topk(
                    ivf.df, qdf, ivf.cents, K, n_probe=N_PROBE, corpus_assigned=True
                ).select("query_id", "vec_id", "cos_sim", "rk")
            elif kind == KINDS[2]:
                df = search.bm25_topk(None, truth["query_terms"][q], K, postings=state["bm25"])
            else:
                ivf = state["ivf"]
                sem = similarity.ivf_topk(
                    ivf.df, qdf, ivf.cents, K, n_probe=N_PROBE, corpus_assigned=True
                ).select(F.col("vec_id").alias("doc_id"), F.col("rk").cast("int").alias("r_sem"))
                lex = search.bm25_topk(None, truth["query_terms"][q], K, postings=state["bm25"])
                w = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
                lex = lex.select("doc_id", F.row_number().over(w).cast("int").alias("r_lex"))
                df = (
                    search.rrf_fuse([(sem, "r_sem"), (lex, "r_lex")], "doc_id")
                    .orderBy(F.col("rrf_score").desc(), F.col("doc_id").asc())
                    .limit(K)
                )
        with rec.span("action"):
            o["rows"] = [tuple(r) for r in df.collect()]
        o.update(q=q, n_index=state["n_ivf"])
    return o


def append(rec, state: dict, kind: str) -> dict:
    from finlogic_spark.operators import similarity

    key = "n_lsh" if kind == KINDS[4] else "n_ivf"
    lo = state[key]
    hi = min(lo + APPEND_BATCH, len(state["truth"]["ids"]))
    with rec.op(kind) as o:
        with rec.span("plan"):
            batch = _batch_df(state["spark"], state["truth"], lo, hi)
        with rec.span("action"):
            if kind == KINDS[4]:
                state["lsh"] = similarity.append_to_lsh_index(batch, os.path.join(state["root"], "lsh"))
            else:
                state["ivf"] = similarity.append_to_ivf_index(batch, os.path.join(state["root"], "ivf"))
    state[key] = hi
    sub = "lsh" if kind == KINDS[4] else "ivf"
    o["files_after"] = sum(
        f.endswith(".parquet")
        for _, _, fs in os.walk(os.path.join(state["root"], sub)) for f in fs
    )
    return o


def calls(rec, state: dict, client: Client):
    """Endless cycles: one append to each ANN index (the same batch, so
    both indexes hold the same docs whenever a read runs), then the four
    reads on one query, so every read follows an append."""
    while True:
        if state["n_ivf"] < len(state["truth"]["ids"]):
            for kind in APPENDS:
                yield append(rec, state, kind)
        q = client.next_query()
        for kind in READS:
            yield read(rec, state, kind, q)


# ---------------------------------------------------------------------------
# Output checks (untimed)
# ---------------------------------------------------------------------------


def _exact_topk(truth, q: int, n_index: int):
    """Exact cosine top-K over the first ``n_index`` vectors (ties by id)."""
    v = truth["vecs"][:n_index]
    qv = truth["queries"][q]
    sims = v @ qv / (np.linalg.norm(v, axis=1) * np.linalg.norm(qv))
    order = np.lexsort((truth["ids"][:n_index], -sims))[:K]
    return [int(truth["ids"][i]) for i in order], sims


class Bm25:
    """Python twin of search.bm25_topk over the initial corpus."""

    def __init__(self, truth):
        docs = truth["texts"][:truth["n_docs"]]
        self.tf = [Counter(t.lower().split()) for t in docs]
        self.dl = [sum(c.values()) for c in self.tf]
        self.ids = [int(i) for i in truth["ids"][:truth["n_docs"]]]
        self.df = Counter(t for c in self.tf for t in c)
        self.n, self.total = len(docs), sum(self.dl)

    def topk(self, terms, k1=1.2, b=0.75):
        terms = list(dict.fromkeys(terms))
        avgdl = self.total / self.n
        scores = {}
        for i, c in enumerate(self.tf):
            s = 0
            for t in terms:
                if t in c:
                    df = self.df[t]
                    idf = math.log(1.0 + (self.n - df + 0.5) / (df + 0.5))
                    ts = idf * (c[t] * (k1 + 1.0)) / (c[t] + k1 * (1.0 - b + b * self.dl[i] / avgdl))
                    s += math.floor(ts * 1e6 + 0.5)
            if s:
                scores[self.ids[i]] = s / 1e6
        return sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))[:K]


def _same_ranking(got, want, tol=2e-6) -> bool:
    """Equal scores within ``tol`` and equal ids except among ties."""
    if len(got) != len(want):
        return False
    if any(abs(g[1] - w[1]) > tol for g, w in zip(got, want)):
        return False
    edge = want[-1][1] if want else 0
    return {g[0] for g in got if g[1] > edge + tol} == {w[0] for w in want if w[1] > edge + tol}


def check(data: str, truth: dict, state: dict, ops: list[dict]) -> tuple[int, float]:
    """(failed ops, recall@10 over all LSH and IVF reads of the run)."""
    bm25 = Bm25(truth)
    failed, recalls = 0, []
    for o in ops:
        ok = o["ok"]
        if ok and o["kind"] in (KINDS[0], KINDS[1]):
            pos = {int(i): j for j, i in enumerate(truth["ids"][:o["n_index"]])}
            exact, sims = _exact_topk(truth, o["q"], o["n_index"])
            rows = sorted(o["rows"], key=lambda r: r[3])
            ok = all(r[0] == o["q"] for r in rows) and [r[3] for r in rows] == list(
                range(1, len(rows) + 1)
            ) and all(r[1] in pos and abs(sims[pos[r[1]]] - r[2]) < 1e-9 for r in rows)
            o["recall"] = len({r[1] for r in rows} & set(exact)) / K
            recalls.append(o["recall"])
        elif ok and o["kind"] == KINDS[2]:
            ok = _same_ranking(
                [(r[0], r[1]) for r in o["rows"]], bm25.topk(truth["query_terms"][o["q"]])
            )
        elif ok and o["kind"] == KINDS[3]:
            ok = len(o["rows"]) <= K and all(
                abs(r[3] - sum(1.0 / (60 + x) for x in r[1:3] if x is not None)) < 1e-12
                for r in o["rows"]
            )
        failed += not ok
    return failed, float(np.mean(recalls)) if recalls else 0.0


def layers(ops, groups, truth, state) -> dict:
    from harness import kind_layers

    out = kind_layers(ops, groups, BUILDS, ("ms",))
    out.update(kind_layers(ops, groups, READS, ("ms", "jobs", "tasks", "cpu_ms")))
    out.update(kind_layers(ops, groups, APPENDS, ("ms", "jobs")))
    for kind in APPENDS:
        out[f"{kind}.files_after"] = max([o["files_after"] for o in ops if o["kind"] == kind], default=0)
    for kind in READS[:2]:
        rs = [o["recall"] for o in ops if o["kind"] == kind and "recall" in o]
        out[f"{kind}.recall_at_10"] = float(np.mean(rs)) if rs else 0.0
    return out
