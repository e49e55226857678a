"""Inverted index + BM25 keyword search over a document corpus
(engine-scope addition: the lexical-retrieval companion to the
embedding ANN tier in operators/similarity.py — a training-data
pipeline needs both for decontamination lookups, corpus QA, and
building retrieval eval sets).

Shape at 100 TB:
- postings build = tokenize → explode → groupBy(token, doc) — one
  shuffle keyed by (token, doc) with map-side combine; the result is
  the classic inverted index laid out as a DataFrame, written bucketed
  by token (build_postings_table, in the one on-disk index format of
  sources/index_table.py) so later term lookups are partition-pruned
  scans.
- document frequency / corpus stats = partial-aggregated counts, a
  few-row side output.
- scoring a query = semi-join of the postings on the (tiny,
  broadcast) term list — touches only the matching postings, never
  the corpus; then one groupBy(doc) to sum per-term contributions and
  a TakeOrderedAndProject top-k. Nothing in the plan scales with
  corpus size except the pruned postings read.

Determinism: BM25 term scores are doubles; summing doubles across an
unordered shuffle is partition-order-dependent at the ulp level. Each
per-term contribution is therefore quantized to integer micro-units
(floor(x*1e6 + 0.5)) BEFORE the sum — integer addition commutes, so
the final score is bitwise-stable under any partitioning (same trick
as corpus.unigram_logprob_score).
"""

from __future__ import annotations

import os
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from finlogic_spark.functions.text import tokens
from finlogic_spark.session import local_frame
from finlogic_spark.sources.index_table import (
    params_frame,
    read_params,
    write_index,
    write_params,
)


def build_postings(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Inverted-index postings: one row per (token, doc) with the term
    frequency and the document's token length.

    dl is derived as sum(tf) per doc and joined back, NOT carried
    through the explode: emitting dl on every exploded token row (plus
    the second tokenize for size()) measured 2.7x slower at 100x bench
    scale (19.2 s vs 7.2 s) — the Generate output then hauls a redundant
    column through 250x more rows. The dl aggregate re-uses the tf
    shuffle (same child plan → ReusedExchange) and the join's small
    side is one row per doc, which AQE broadcasts while it fits."""
    tf = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(tokens(text_col)).alias("token"),
        )
        .groupBy("token", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    return tf.join(dl, "doc_id").select("token", "doc_id", "dl", "tf")


def _token_bucket(col, n_buckets: int):
    """Stable token -> partition bucket: pmod(xxhash64(token), n).
    Computable from a query term alone (no corpus access), so a term
    lookup's bucket list is a LITERAL partition filter — static
    partition pruning, not a join the planner must see through."""
    return F.pmod(F.xxhash64(col), F.lit(n_buckets)).cast("int")


def _doc_bucket(col, n_buckets: int):
    """Stable doc-id -> partition bucket for the FORWARD index — same
    construction as _token_bucket, so a query-doc list's bucket set is
    computable without touching the index."""
    return F.pmod(F.xxhash64(col), F.lit(n_buckets)).cast("int")


class PostingsIndex(NamedTuple):
    """Handle to a persisted inverted index (see build_postings_table):
    ``postings`` (token, doc_id, dl, tf, df, __tok_bkt partition col),
    ``stats`` (1 row: n_docs, total_dl, n_buckets), ``norms`` per-doc
    tf-idf L2 norms (doc_id, norm), ``forward`` the same rows
    partitioned by doc-id bucket (``__doc_bkt``) — the forward-index
    twin that makes BY-DOCUMENT lookups (tf-idf more-like-this query
    vectors) a pruned scan instead of a full pass over a
    token-partitioned table."""

    postings: DataFrame
    stats: DataFrame
    norms: DataFrame
    n_buckets: int
    forward: DataFrame


# ``_stats`` sidecar schemas (sources/index_table.py).
_POSTINGS_STATS = "n_docs long, total_dl long, n_buckets int"
_POSITIONAL_STATS = "n_buckets int"


def build_postings_table(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 64,
) -> "PostingsIndex":
    """Build the inverted index ONCE and persist it partitioned by
    token-hash bucket — the serving path the module docstring promises.
    At 100 TB the index build (full-corpus tokenize + shuffle) dwarfs
    any single query; serving from this table makes a term lookup a
    partition-PRUNED scan of |terms| buckets (plan-pinned in
    tests/test_plan_shape.py) with zero corpus passes.

    Layout under ``path`` (the persisted-index format of
    sources/index_table.py):
    - bucketed postings, partitioned by ``__tok_bkt``, with the
      token's document frequency df DENORMALIZED onto every row (one
      int per posting buys scoring without the per-query df aggregate);
    - ``_stats/``: 1 row (n_docs, total_dl, n_buckets);
    - ``_norms/``: per-doc tf-idf L2 norm, precomputed with the same
      integer micro-unit quantization as the live path so persisted
      and from-scratch cosines are bit-identical;
    - ``_forward/``: the same rows partitioned by doc-id bucket.

    Size n_buckets so one bucket ≈ one scan task's worth of postings
    (4096+ for a web-scale corpus; 64 keeps small test tables from
    fragmenting into thousands of files).
    """
    postings = build_postings(docs, id_col, text_col)
    dfs = postings.groupBy("token").agg(
        F.count_distinct("doc_id").alias("df")
    )
    enriched = postings.join(dfs, "token").withColumn(
        "__tok_bkt", _token_bucket(F.col("token"), n_buckets)
    )
    # stats/norms describe the persisted table, and downstream plans
    # scan parquet instead of recomputing the postings
    persisted = write_index(enriched, path, "__tok_bkt")
    spark = docs.sparkSession
    n_docs, total_dl = (
        persisted.groupBy("doc_id")
        .agg(F.first("dl").alias("dl"))
        .agg(F.count(F.lit(1)), F.sum("dl"))
        .first()
    )
    write_params(spark, path, _POSTINGS_STATS, [(n_docs, total_dl, n_buckets)])
    norms = _tfidf_norms(
        _tfidf_weight(
            persisted.withColumn("n_docs", F.lit(float(n_docs)))
        )
    )
    norms.write.mode("overwrite").parquet(os.path.join(path, "_norms"))
    # Forward-index twin: the SAME enriched rows partitioned by doc-id
    # bucket. One extra copy of the postings buys by-document lookups
    # (tf-idf query vectors) as a |Q|-bucket pruned scan — without it
    # the doc_id filter full-scans a token-partitioned table (measured
    # 4.4 s warm per tf-idf serve at sf10; the classic inverted+forward
    # index pair every search engine ships).
    forward = write_index(
        persisted.withColumn(
            "__doc_bkt", _doc_bucket(F.col("doc_id"), n_buckets)
        ).drop("__tok_bkt"),
        os.path.join(path, "_forward"),
        "__doc_bkt",
    )
    return PostingsIndex(
        postings=persisted,
        stats=params_frame(spark, path, _POSTINGS_STATS),
        norms=spark.read.parquet(os.path.join(path, "_norms")),
        n_buckets=n_buckets,
        forward=forward,
    )


def read_postings(spark: SparkSession, path: str) -> "PostingsIndex":
    """Open a persisted postings table for serving. An index without
    its ``_forward`` twin raises: it was not written by
    build_postings_table."""
    stats = params_frame(spark, path, _POSTINGS_STATS)
    return PostingsIndex(
        postings=spark.read.parquet(path),
        stats=stats,
        norms=spark.read.parquet(os.path.join(path, "_norms")),
        n_buckets=stats.first()["n_buckets"],
        forward=spark.read.parquet(os.path.join(path, "_forward")),
    )


def _bucket_pruned_terms(
    postings: DataFrame, terms: list[str], n_buckets: int
) -> DataFrame:
    """Filter a ``__tok_bkt``-carrying postings table to ``terms`` via
    LITERAL partition pruning: the bucket of each term is computed
    driver-side from the term string alone, so the scan carries
    PartitionFilters on __tok_bkt plus a pushed token IN-filter — it
    reads |distinct buckets| partitions, never the corpus. Shared by
    the frequency (_term_lookup) and positional (phrase_search) serve
    paths. The terms are a local frame, so the optimizer folds the
    bucket projection into it and the collect runs no Spark job."""
    uniq = list(dict.fromkeys(terms))
    spark = postings.sparkSession
    bkts = sorted(
        {
            int(r[0])
            for r in local_frame(spark, [(t,) for t in uniq], "token string")
            .select(_token_bucket(F.col("token"), n_buckets))
            .collect()
        }
    )
    return postings.filter(
        F.col("__tok_bkt").isin(bkts) & F.col("token").isin(uniq)
    )


def _term_lookup(index: "PostingsIndex", terms: list[str]) -> DataFrame:
    return _bucket_pruned_terms(index.postings, terms, index.n_buckets)


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    text_col: str = "text",
    postings: "PostingsIndex | None" = None,
) -> DataFrame:
    """Top-k docs by BM25 for a bag of query terms. Returns
    (doc_id, score, n_terms_hit) ordered by score desc, doc_id asc.

    idf is the standard Robertson–Sparck-Jones form
    ln(1 + (N - df + 0.5)/(df + 0.5)) — always positive, no negative-idf
    clamp needed. avgdl is computed as exact-integer sum(dl)/N (NOT
    avg(dl)): the two integers aggregate deterministically, and the one
    double division is identical on every engine — a double avg() would
    drift with partial-agg order.

    ``postings=``: a PostingsIndex from build_postings_table/
    read_postings. When given, ``docs`` is ignored and the query runs
    the 100 TB serving shape — a partition-pruned term lookup against
    the persisted index (df/stats prebuilt, zero corpus passes).
    Scores are identical to the from-scratch path: df is the same
    corpus-wide count either way, just denormalized at build time.
    """
    if postings is not None:
        hits = _term_lookup(postings, query_terms)
        stats = F.broadcast(
            postings.stats.select("n_docs", "total_dl")
        )
        scored = hits.join(stats)
    else:
        built = build_postings(docs, id_col, text_col)

        # Corpus stats: N docs + total token count, one tiny aggregate
        # over per-doc lengths (distinct (doc, dl) pairs collapse free).
        stats = (
            built.select("doc_id", "dl")
            .groupBy("doc_id")
            .agg(F.first("dl").alias("dl"))
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("dl").alias("total_dl"),
            )
        )

        # dict.fromkeys dedupes while keeping caller order — a
        # duplicated query term must not double-count its postings.
        terms = F.broadcast(
            built.sparkSession.createDataFrame(
                [(t,) for t in dict.fromkeys(query_terms)], "token string"
            )
        )
        # Postings for the query terms only — broadcast semi-reduction,
        # the corpus-size-independent part of the plan.
        hits = built.join(terms, "token")
        df_per_term = hits.groupBy("token").agg(
            F.count_distinct("doc_id").alias("df")
        )
        scored = hits.join(F.broadcast(df_per_term), "token").join(
            F.broadcast(stats)
        )
    scored = (
        scored
        .withColumn(
            "idf",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
            ),
        )
        .withColumn(
            "term_score",
            F.col("idf")
            * (F.col("tf") * (F.lit(k1) + 1.0))
            / (
                F.col("tf")
                + F.lit(k1)
                * (
                    F.lit(1.0)
                    - F.lit(b)
                    + F.lit(b)
                    * F.col("dl")
                    / (F.col("total_dl").cast("double") / F.col("n_docs"))
                )
            ),
        )
        # quantize BEFORE summing: integer micro-units commute across
        # any shuffle order; a double sum would not.
        .withColumn(
            "score_u",
            F.floor(F.col("term_score") * F.lit(1e6) + F.lit(0.5)).cast("long"),
        )
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            (F.sum("score_u").cast("double") / F.lit(1e6)).alias("score"),
            F.count(F.lit(1)).alias("n_terms_hit"),
        )
        .orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(k)
    )


def _tfidf_weight(df: DataFrame) -> DataFrame:
    """tf-idf weight w = tf · ln(N/df) from a postings DataFrame that
    already carries df and (double) n_docs — the one formula both the
    live and persisted paths must share for bit-identical cosines."""
    return df.withColumn(
        "w",
        F.col("tf") * F.log(F.col("n_docs") / F.col("df").cast("double")),
    ).drop("n_docs")


def _tfidf_norms(weighted: DataFrame) -> DataFrame:
    """Per-doc tf-idf L2 norm from a weighted postings DataFrame (must
    carry doc_id, w). Norm-square terms quantize to integer micro-units
    before the sum — partition-order independent, so a norm computed at
    index-build time equals one computed live."""
    return (
        weighted.groupBy("doc_id")
        .agg(
            F.sum(
                F.floor(F.col("w") * F.col("w") * F.lit(1e6) + F.lit(0.5))
                .cast("long")
            ).alias("nsq_u")
        )
        .select(
            "doc_id",
            F.sqrt(F.col("nsq_u").cast("double") / F.lit(1e6)).alias("norm"),
        )
    )


def tfidf_similar(
    docs: DataFrame,
    query_ids: list[int],
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    postings: "PostingsIndex | None" = None,
) -> DataFrame:
    """Top-k most similar docs per query doc by tf-idf cosine —
    lexical "more like this" retrieval (and a 4th near-dup signal next
    to MinHash/SimHash/n-gram Jaccard). Returns
    (query_id, doc_id, cos_sim, rk), rk 1..k, excluding self-matches.

    Shape: the query side is a broadcast-filtered slice of the
    postings (|Q| docs); candidates come from an equi-join on token —
    only docs sharing >= 1 term with a query are ever touched, and the
    join output is bounded by |Q| x corpus-df of the shared tokens,
    never all-pairs. Per-term dot-product contributions and per-doc
    norm-square terms are quantized to integer micro-units before
    their sums (partition-order independent); the final cosine is a
    fixed sequence of double ops on those integers.

    ``postings=``: a PostingsIndex from build_postings_table/
    read_postings. When given, ``docs`` is ignored: df, corpus stats,
    and per-doc norms are read prebuilt (zero corpus passes), the
    query docs' term vectors come from one scan of the index, and the
    candidate scan is partition-pruned to the buckets of the query
    docs' tokens (a bounded ≤ n_buckets literal list). Cosines are
    bit-identical to the from-scratch path.
    """
    if postings is not None:
        nd_b = F.broadcast(
            postings.stats.select(
                F.col("n_docs").cast("double").alias("n_docs")
            )
        )
        # Forward-index path: the query docs' bucket list is computed
        # from the id literals alone (a tiny literal-frame job, zero
        # index access), so fetching the |Q| query vectors is a pruned
        # scan of ≤|Q| doc-bucket directories — never a full pass over
        # the token-partitioned table.
        spark = postings.forward.sparkSession
        # xxhash64 is TYPE-sensitive (xxhash64(5 int) != xxhash64(5L)),
        # so the literal query frame must hash the ids at the exact
        # dtype the index was built over — cast to the stored
        # forward-index doc_id type, never a hard-coded long (which
        # silently pruned to wrong buckets for int32 ids and crashed
        # outright on string ids).
        stored_t = postings.forward.schema["doc_id"].dataType
        doc_bkts = sorted(
            int(r[0])
            for r in spark.createDataFrame(
                # Normalize numpy scalars (a caller iterating a
                # pandas/numpy id array hands us np.int64 / np.str_)
                # to native Python values: schema inference rejects
                # numpy types outright.
                [(i.item() if hasattr(i, "item") else i,) for i in query_ids],
                ["doc_id"],
            )
            .select(
                _doc_bucket(F.col("doc_id").cast(stored_t), postings.n_buckets)
            )
            .distinct()
            .collect()
        )
        q_rows = postings.forward.filter(
            F.col("__doc_bkt").isin(doc_bkts)
        ).filter(F.col("doc_id").isin(query_ids))
        # The query vectors are |Q|-bounded by the more-like-this
        # contract, and BOTH the candidate pruning below and the dots
        # broadcast consume them — eagerly checkpoint so the pruned
        # forward scan runs ONCE (the r15 serve decomposition measured
        # the un-checkpointed shape re-running it per consumer).
        qp = (
            _tfidf_weight(q_rows.join(nd_b))
            .select(
                F.col("doc_id").alias("query_id"),
                "token",
                F.col("w").alias("wq"),
            )
            .localCheckpoint(eager=True)
        )
        # Candidate side = the query terms' POSTINGS LISTS, nothing
        # else: a literal __tok_bkt partition filter plus a pushed
        # token IN-filter (_bucket_pruned_terms, the term-lookup serve
        # path). The r14 shape pruned by bucket ONLY — a handful of
        # query docs carry enough distinct tokens to hit every bucket,
        # so "pruned" degenerated to a full postings scan feeding the
        # join; the token filter is what actually bounds the read (the
        # dot product only ever involves shared tokens, so the result
        # is bit-identical). The term-list collect is |Q|-doc-vocab
        # bounded — same class as the query vectors themselves — and
        # capped: past ~20k distinct terms a literal IN-list stops
        # being a pushed filter and starts being a codegen hazard, so
        # pathological query vocabularies fall back to bucket-only
        # pruning + the join (same result, the pre-r15 plan).
        qtok = [
            r[0]
            for r in qp.select("token").distinct().limit(20_001).collect()
        ]
        if len(qtok) <= 20_000:
            pruned = _bucket_pruned_terms(
                postings.postings, qtok, postings.n_buckets
            )
        else:
            q_bkts = sorted(
                int(r[0])
                for r in qp.select(
                    _token_bucket(F.col("token"), postings.n_buckets)
                )
                .distinct()
                .collect()
            )
            pruned = postings.postings.filter(
                F.col("__tok_bkt").isin(q_bkts)
            )
        cand = _tfidf_weight(pruned.join(nd_b))
        norms = postings.norms
    else:
        built = build_postings(docs, id_col, text_col)
        # n_docs stays IN the plan (1-row aggregate, broadcast onto the
        # postings) — an eager .count() here would execute the whole
        # postings build once extra, per call, before the real query
        # runs.
        nd = (
            built.groupBy("doc_id")
            .agg(F.lit(1).alias("__one"))
            .agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
        )
        dfs = built.groupBy("token").agg(
            F.count_distinct("doc_id").alias("df")
        )
        # idf = ln(N/df); weight = tf * idf (derived from exact ints)
        weighted = _tfidf_weight(
            built.join(F.broadcast(dfs), "token").join(F.broadcast(nd))
        )
        norms = _tfidf_norms(weighted)
        qp = weighted.filter(F.col("doc_id").isin(query_ids)).select(
            F.col("doc_id").alias("query_id"),
            "token",
            F.col("w").alias("wq"),
        )
        cand = weighted
    dots = (
        cand.join(F.broadcast(qp), "token")
        .filter(F.col("doc_id") != F.col("query_id"))
        .groupBy("query_id", "doc_id")
        .agg(
            F.sum(
                F.floor(F.col("wq") * F.col("w") * F.lit(1e6) + F.lit(0.5))
                .cast("long")
            ).alias("dot_u")
        )
    )
    qn = norms.select(
        F.col("doc_id").alias("query_id"), F.col("norm").alias("qnorm")
    )
    scored = (
        dots.join(F.broadcast(qn), "query_id")
        .join(norms, "doc_id")
        .select(
            "query_id",
            "doc_id",
            # 6-dp floor-quantized so rank ties break identically on
            # any engine; zero-norm docs (empty after tokenize) can't
            # reach here (no shared token), so no divide guard needed.
            (
                F.floor(
                    F.col("dot_u").cast("double")
                    / F.lit(1e6)
                    / (F.col("qnorm") * F.col("norm"))
                    * F.lit(1e6)
                    + F.lit(0.5)
                )
                / F.lit(1e6)
            ).alias("cos_sim"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("cos_sim").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("query_id", "doc_id", "cos_sim", "rk")
    )


# ---------------------------------------------------------------------------
# Positional phrase search
# ---------------------------------------------------------------------------

def build_positional_postings(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int | None = None,
) -> DataFrame:
    """Positional inverted index: one row per token OCCURRENCE —
    (token, doc_id, pos), pos 1-based in the whitespace token stream.
    ~dl rows per doc (vs one per distinct token in build_postings).
    ``n_buckets`` also emits the ``__tok_bkt`` partition column of the
    persisted form (build_positional_postings_table)."""
    out = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(tokens(text_col)).alias("pos0", "token"),
    ).select("token", "doc_id", (F.col("pos0") + F.lit(1)).alias("pos"))
    if n_buckets is not None:
        out = out.withColumn(
            "__tok_bkt", _token_bucket(F.col("token"), n_buckets)
        )
    return out


class PositionalIndex(NamedTuple):
    """Handle to a PERSISTED positional index
    (build_positional_postings_table): ``postings`` (token, doc_id,
    pos, __tok_bkt partition col) and the ``n_buckets`` the table was
    BUILT with, read back from its ``_stats`` sidecar — serving through
    this handle makes a stale/mismatched bucket count impossible."""

    postings: DataFrame
    n_buckets: int


def build_positional_postings_table(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = 64,
) -> "PositionalIndex":
    """Build the positional index ONCE and persist it partitioned by
    token-hash bucket, with ``n_buckets`` recorded in a ``_stats``
    sidecar (the persisted-index format of sources/index_table.py).
    Serving goes through the returned handle / read_positional_postings:
    the bucket count is read from the sidecar, never re-supplied by the
    caller, so a value differing from build time cannot prune to the
    WRONG partitions and silently drop matches."""
    out = build_positional_postings(docs, id_col, text_col, n_buckets=n_buckets)
    df = write_index(
        out, path, "__tok_bkt", params=(_POSITIONAL_STATS, [(n_buckets,)])
    )
    return PositionalIndex(postings=df, n_buckets=n_buckets)


def append_positional_postings(
    new_docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> "PositionalIndex":
    """Incrementally extend a persisted positional index with NEW
    documents — no rebuild, no read of the existing index data. Sound
    for THIS index because positional postings carry no corpus-level
    statistics (no df, no dl, no norms): the merged table is row-for-row
    identical to a from-scratch build over the union (pinned by
    tests/test_round8_ops.py). The frequency postings (BM25/tf-idf)
    deliberately have NO append path — df/total_dl/norms are
    corpus-global, so those indexes rebuild.

    The bucket count comes from the existing ``_stats`` sidecar (never
    the caller), so appended rows land in the same ``__tok_bkt``
    partition scheme and serve-time pruning stays correct. Append mode
    adds new files to the bucket directories; existing files are
    untouched — at 100 TB this is the hourly-ingest path: tokenize the
    new batch, one partitioned write, done.

    Caller contract: ``new_docs`` must be documents NOT already in the
    index (re-appending an existing doc_id would double its positions
    and inflate its match counts); dedup upstream on doc_id.
    """
    (n_buckets,) = read_params(new_docs.sparkSession, path, _POSITIONAL_STATS)[0]
    out = build_positional_postings(new_docs, id_col, text_col, n_buckets=n_buckets)
    df = write_index(out, path, "__tok_bkt", mode="append")
    return PositionalIndex(postings=df, n_buckets=n_buckets)


def read_positional_postings(
    spark: SparkSession, path: str
) -> "PositionalIndex":
    """Open a persisted positional index for serving; ``n_buckets``
    comes from the ``_stats`` sidecar written at build time."""
    (n_buckets,) = read_params(spark, path, _POSITIONAL_STATS)[0]
    return PositionalIndex(postings=spark.read.parquet(path), n_buckets=n_buckets)


def phrase_search(
    docs: DataFrame,
    phrase: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    postings: "PositionalIndex | None" = None,
) -> DataFrame:
    """Exact token-sequence match: (doc_id, n_matches) for documents
    containing ``phrase`` as consecutive tokens.

    Plan shape: each phrase term filters the positional postings with
    a LITERAL equality (pushed to the scan), normalizes its positions
    to the would-be phrase START (pos - i), and the terms equi-join on
    (doc_id, start): an occurrence survives all k-1 joins iff the full
    sequence is adjacent. Join inputs are |occurrences of term|, never
    |corpus| — selectivity does the work, no regex scan of every
    document.

    ``postings=``: the ``PositionalIndex`` handle from
    ``build_positional_postings_table`` / ``read_positional_postings``.
    When given, ``docs`` is ignored: the terms' buckets are computed
    driver-side from the literals alone and added as a partition
    predicate — static partition pruning, same as the BM25 term lookup
    (without it a bucket-partitioned index would be scanned in full,
    token filter notwithstanding). The bucket count always comes from
    the index's ``_stats`` sidecar: a caller-supplied count that
    differed from build time would prune to the WRONG partitions and
    silently drop matches, undetectable from the pruned read itself.
    Without ``postings`` the positional rows are built live from
    ``docs``.

    A repeated term in the phrase self-joins the same postings slice
    at different offsets; positions are unique per doc so counts never
    double.
    """
    if not phrase:
        raise ValueError("phrase must contain at least one token")
    norm = [t.lower() for t in phrase]
    if postings is not None:
        p = _bucket_pruned_terms(postings.postings, norm, postings.n_buckets)
    else:
        p = build_positional_postings(docs, id_col, text_col)
    parts = [
        p.filter(F.col("token") == F.lit(t)).select(
            "doc_id", (F.col("pos") - F.lit(i)).alias("start")
        )
        for i, t in enumerate(norm)
    ]
    cur = parts[0]
    for nxt in parts[1:]:
        cur = cur.join(nxt, ["doc_id", "start"])
    return (
        cur.groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_matches"))
        .orderBy("doc_id")
    )


def rrf_fuse(
    legs: "list[tuple[DataFrame, str]]",
    id_col: str = "doc_id",
    k: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion [Cormack et al., SIGIR'09] over N ranked
    lists: score(d) = Σ_legs 1 / (k + rank_leg(d)), summed over the
    legs that contain d (absent legs contribute 0 — the standard
    formulation). k=60 is the canonical constant from the paper.

    ``legs``: (DataFrame, rank_col) pairs; each frame carries
    ``id_col`` + its 1-based rank column and is TOP-K BOUNDED by
    construction (the output of a top-k retrieval leg) — so every join
    here is a broadcast of at most k rows per leg, and fusion cost is
    independent of corpus size: the 100 TB work happened inside each
    leg's index-served retrieval, fusion is rank arithmetic over
    bounded lists. Full-outer joins keep documents found by ANY leg
    (the union semantics RRF needs — an inner join would silently
    demote single-leg hits).

    Determinism: each 1/(k + r) is ONE IEEE division of exact integers
    and the legs sum left-to-right in the given order — bit-identical
    across engines, so the fused ordering (score DESC, id ASC) is
    hash-stable without quantization."""
    if not legs:
        raise ValueError("rrf_fuse needs at least one ranked leg")
    out, rank_cols = None, []
    for df, rank_col in legs:
        leg = df.select(id_col, rank_col)
        rank_cols.append(rank_col)
        out = leg if out is None else out.join(leg, [id_col], "full_outer")
    score = None
    for rc in rank_cols:
        term = F.coalesce(
            F.lit(1.0) / (F.lit(k) + F.col(rc)), F.lit(0.0)
        )
        score = term if score is None else score + term
    return out.select(id_col, *rank_cols, score.alias("rrf_score"))
