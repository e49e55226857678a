"""Deduplication operators for document corpora (engine-scope addition;
SURVEY.md §7 phase 4). Four tiers, cheapest first:

1. exact       — md5 of canonical text, rank() by id within each hash
                 class, rank 1 kept: one hash shuffle, map-side group
                 limit.
2. ngram       — pairwise Jaccard over word shingles via shingle-join
                 (exact near-dup, quadratic only within shared shingles).
3. minhash+LSH — per-doc MinHash signature, banded into LSH buckets;
                 candidate pairs only from shared buckets (sub-quadratic,
                 the 100 TB path). The bucket rows persist as an index
                 (sources/index_table.py) that new batches append to.
4. simhash     — 32-bit weighted fingerprint; near-dups share all but a
                 few bits.

All hashing is md5-based (seeded by string concat) so the DuckDB oracle
reproduces signatures exactly; taking the lexicographic MIN of hex
digests is a valid min-hash (md5 is uniform on hex strings, and any
fixed total order works for the min-permutation trick).

Scale notes: the shingle-join (tier 2) shuffles on shingle text — skewed
common shingles are capped via a document-frequency filter. MinHash-LSH
(tier 3) shuffles on (band_id, band_hash) — bucket sizes are bounded by
collision probability, not corpus size, so candidate generation stays
near-linear; this is the standard web-scale dedup layout.
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from finlogic_spark.functions.text import bind, tokens
from finlogic_spark.sources.index_table import read_params, read_written, write_index

DEFAULT_NUM_HASHES = 12
DEFAULT_BANDS = 4  # 4 bands × 3 rows: ~Jaccard 0.6+ candidates


def canonical_text(col: str | Column) -> Column:
    """Whitespace/case-normalized text: the exact-dedup key domain."""
    c = F.col(col) if isinstance(col, str) else col
    return F.array_join(F.filter(F.split(F.lower(c), "\\s+"), lambda t: t != ""), " ")


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep the lowest-id representative of each exact (canonicalized)
    duplicate class. Null-text rows pass through untouched: they carry
    no comparable content. Tied lowest ids keep every tied row; a null
    id never survives, so a class whose ids are all null drops out.

    Plan: ``rank()`` over the md5 key ordered by id, rank 1 kept — ONE
    hash shuffle, and Spark plans a ``WindowGroupLimit`` before it, so
    duplicates are cut map-side. The older min()-aggregate plus
    semi-join form (same rows) paid a second exchange at scale, or a
    broadcast job, and evaluated its input twice."""
    nulls = df.filter(F.col(text_col).isNull())
    w = Window.partitionBy("__h").orderBy(F.col(id_col).asc_nulls_last())
    return (
        df.filter(F.col(text_col).isNotNull())
        .withColumn("__h", F.md5(canonical_text(text_col)))
        .withColumn("__r", F.rank().over(w))
        .filter((F.col("__r") == 1) & F.col(id_col).isNotNull())
        .drop("__h", "__r")
        .unionByName(nulls)
    )


def array_shingles(arr: Column, k: int = 3) -> Column:
    """k-gram shingles ("e1 e2 e3") over an ALREADY-TOKENIZED array
    column (word tokens, BPE pieces, any string sequence). Short
    sequences (< k) collapse to one shingle of the whole sequence —
    the same contract the word-shingle SQL twin pins.

    The array is bound to a lambda variable via a one-element array
    transform so the producing expression is evaluated ONCE per row.
    Referencing a non-trivial expression from inside a
    higher-order-function lambda re-evaluates it per element (Catalyst
    inlines, HOFs don't share subexpressions) — with a tokenizer that
    inlining is O(tokens²) per document and costs ~10× on real text."""

    def shingle_list(t: Column) -> Column:
        n = F.size(t)
        idx = F.sequence(F.lit(1), F.greatest(n - F.lit(k - 1), F.lit(1)))
        return F.when(n < k, F.array(F.array_join(t, " "))).otherwise(
            F.transform(idx, lambda i: F.array_join(F.slice(t, i, k), " "))
        )

    return F.flatten(F.transform(F.array(arr), shingle_list))


def shingles(col: str | Column, k: int = 3) -> Column:
    """k-word shingles as strings ("w1 w2 w3") over the engine's
    shared whitespace tokenizer."""
    return array_shingles(tokens(col), k)


def minhash_value(shingle_col: Column, seed: int) -> Column:
    """One min-hash: lexicographic min of md5("{seed}|" + shingle)."""
    prefix = F.lit(f"{seed}|")
    return F.array_min(F.transform(shingle_col, lambda s: F.md5(F.concat(prefix, s))))


def minhash_signature(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    num_hashes: int = DEFAULT_NUM_HASHES,
) -> DataFrame:
    """(id, minhash_0..minhash_{n-1}), one row per non-null-text
    document, computed row-locally: ids must be unique (every in-repo
    caller passes a document table keyed by its id, or a deduplicated
    frame of one).

    The distinct shingle array is bound ONCE per row (``text.bind``)
    and every ``minhash_i`` is an ``array_min`` over md5s of that array,
    all inside one struct — a narrow map, no exchange. The earlier
    explode + ``groupBy(id).min`` form computed the same minimum over
    the same md5 set but exploded every shingle into a row, shuffled,
    and sort-aggregated the string mins: on the 2k-document curation
    batch that was one job and a sort per pass for no change in the
    values.

    Null-text documents produce no signature row (a MinHash over no
    tokens is undefined). The explode form emitted an all-null row for
    them (under ANSI ``size(null)`` is null, so the shingle array was
    [null]), and ``lsh_buckets`` then gave every such row the same band
    hashes, pairing all null-text documents with each other."""
    sig = bind(
        F.array_distinct(shingles(text_col, k)),
        lambda sh: F.struct(
            *[minhash_value(sh, i).alias(f"minhash_{i}") for i in range(num_hashes)]
        ),
    )
    return (
        df.filter(F.col(text_col).isNotNull())
        .select(F.col(id_col), sig.alias("__sig"))
        .select(id_col, "__sig.*")
    )


def lsh_buckets(
    sig_df: DataFrame,
    id_col: str,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
) -> DataFrame:
    """Explode each doc into ``bands`` rows of (band, band_hash, id).
    Docs sharing any (band, band_hash) are candidate near-dups."""
    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by bands ({bands}); "
            "trailing hashes would be silently ignored, changing recall"
        )
    rows_per_band = num_hashes // bands
    band_structs = []
    for b in range(bands):
        cols = [F.col(f"minhash_{i}") for i in range(b * rows_per_band, (b + 1) * rows_per_band)]
        band_structs.append(
            F.struct(F.lit(b).alias("band"), F.md5(F.concat_ws("|", *cols)).alias("band_hash"))
        )
    return (
        sig_df.select(F.col(id_col), F.explode(F.array(*band_structs)).alias("bb"))
        .select(id_col, "bb.band", "bb.band_hash")
    )


def _pairs_within(ids: Column) -> Column:
    """All (id_a < id_b) pairs from a sorted id array, as an array of
    structs — the shuffle-free alternative to a self-join when groups
    are already collected and bounded."""
    n = F.size(ids)
    return F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + 2, n),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Candidate near-duplicate pairs (id_a < id_b) from shared LSH
    buckets.

    Pairs are generated by collecting each bucket's ids and expanding
    (a < b) combinations array-side — ONE shuffle on (band, band_hash)
    and ONE pass over the signature pipeline. A bucket self-join would
    evaluate the whole tokenize→shingle→minhash subtree twice (Spark
    does not share subplans across join branches). Bucket sizes are
    bounded by collision probability, not corpus size, so the
    collect_list per bucket stays small; ``max_bucket_size`` drops
    degenerate mega-buckets (boilerplate-heavy corpora) before the
    quadratic expansion."""
    # No cap by default: ``max_bucket_size`` DROPS pairs, so it changes
    # the result (and the oracle's). Buckets stay small only while the
    # documents differ; n identical documents share every bucket and
    # expand to n²/2 pairs inside one task. Curation runs exact_dedup
    # first, which removes that case; the pair-preserving fix (chunked
    # expansion of oversized buckets) is the ROADMAP item "Bound
    # `bucket_pairs` for giant buckets".
    sig = minhash_signature(df, text_col, id_col, k, num_hashes)
    buckets = lsh_buckets(sig, id_col, num_hashes, bands)
    return bucket_pairs(buckets, id_col, max_bucket_size)


def bucket_pairs(
    buckets: DataFrame,
    id_col: str,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Candidate (id_a < id_b) pairs from (band, band_hash, id) bucket
    rows — the shared tail of minhash_lsh_pairs and the persisted-index
    path (the index stores exactly these rows)."""
    grouped = buckets.groupBy("band", "band_hash").agg(
        F.sort_array(F.collect_list(id_col)).alias("__ids")
    )
    if max_bucket_size is not None:
        grouped = grouped.filter(F.size("__ids") <= max_bucket_size)
    return (
        grouped.filter(F.size("__ids") >= 2)
        .select(F.explode(_pairs_within(F.col("__ids"))).alias("p"))
        .select(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .distinct()
    )


class MinhashIndex(NamedTuple):
    """Handle on a persisted MinHash-LSH bucket index: the serving
    frame plus the sidecar parameters every lookup must reuse."""

    df: DataFrame
    k: int
    num_hashes: int
    bands: int


_MINHASH_STATS = "k int, num_hashes int, bands int"


def build_minhash_index_table(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = DEFAULT_BANDS,
) -> MinhashIndex:
    """Build and PERSIST the corpus's MinHash-LSH bucket index:
    (id, band, band_hash) rows, parquet partitioned by ``band`` and
    sorted by ``band_hash`` inside each file (row-group min/max
    skipping for hash-selective lookups), plus a ``_stats`` sidecar
    pinning (k, num_hashes, bands) — the layout of every persisted
    index (sources/index_table.py). At 100 TB the corpus's near-dup
    fingerprints are an ASSET you maintain, not a derivation you
    re-run: pair generation, clustering, and new-batch screening all
    serve from these rows without touching document text again.
    """
    sig = minhash_signature(docs, text_col, id_col, k, num_hashes)
    df = write_index(
        lsh_buckets(sig, id_col, num_hashes, bands), path, "band",
        sort_col="band_hash", n_parts=bands,
        params=(_MINHASH_STATS, [(k, num_hashes, bands)]),
    )
    return MinhashIndex(df, k, num_hashes, bands)


def read_minhash_index(spark, path: str) -> MinhashIndex:
    return MinhashIndex(
        spark.read.parquet(path), *read_params(spark, path, _MINHASH_STATS)[0]
    )


def append_to_minhash_index(
    new_docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> MinhashIndex:
    """Incrementally extend a persisted MinHash index with NEW
    documents — no rebuild, no read of the existing bucket rows.
    Sound for the same reason the vector-LSH append is: a document's
    (band, band_hash) rows are a PURE per-doc function of the
    sidecar's (k, num_hashes, bands) — the md5 hash family is
    positional constants, no corpus-global statistic exists to go
    stale (contrast BM25's df/total_dl, which rebuild). The appended
    index is row-for-row identical to a from-scratch build over the
    union — pinned by tests/test_minhash_index.py, and the registry's
    ``doc_lsh_append_pairs`` shares ``doc_lsh_pairs``' oracle verbatim
    so the correctness gate certifies it too.

    Caller contract: ``new_docs`` must not already be in the index (a
    re-appended id would pair with itself through every band); dedup
    upstream. Parameters come from the sidecar, never the caller.
    """
    k, num_hashes, bands = read_params(new_docs.sparkSession, path, _MINHASH_STATS)[0]
    sig = minhash_signature(new_docs, text_col, id_col, k, num_hashes)
    df = write_index(
        lsh_buckets(sig, id_col, num_hashes, bands), path, "band",
        sort_col="band_hash", n_parts=bands, mode="append",
    )
    return MinhashIndex(df, k, num_hashes, bands)


def screen_against_index(
    new_docs: DataFrame,
    index: MinhashIndex,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(new_id, corpus_id) candidate near-dup pairs of an ARRIVING
    batch against the persisted corpus index — the ingest-time screen:
    hash the batch with the sidecar's parameters and join its bucket
    rows against the stored ones. Work is O(|batch| · bands) plus the
    bucket-row join; the corpus's documents are never re-read. The
    batch side is broadcast when small (the common case: an hourly
    slice against a corpus-sized index).

    Returns distinct (new_id, corpus_id) with corpus_id from the
    index; screen → exact-verify on the candidates (a point lookup of
    candidate texts) is the standard two-step. A batch id colliding
    with a corpus id is the caller's upstream key bug, not detectable
    here."""
    new_buckets = lsh_buckets(
        minhash_signature(new_docs, text_col, id_col, index.k, index.num_hashes),
        id_col,
        index.num_hashes,
        index.bands,
    ).select(
        F.col(id_col).alias("new_id"), "band", "band_hash"
    )
    return (
        index.df.join(
            F.broadcast(new_buckets), ["band", "band_hash"]
        )
        .select("new_id", F.col(id_col).alias("corpus_id"))
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = 1000,
) -> DataFrame:
    """Exact pairwise Jaccard over k-shingle sets, computed by exploding
    shingles and self-joining on shingle text (only docs sharing ≥1
    shingle ever meet — no cross join).

    ``max_doc_freq`` drops stop-shingles appearing in more rows than the
    cap before pair expansion: at corpus scale a shingle shared by 1e6
    docs would produce 1e12 pairs; such shingles carry no dedup signal.

    Plan shape: tokenize→shingle ONCE (the expensive expression), carry
    each doc's distinct-shingle count through the explode, group by
    shingle collecting packed (id, n) longs, expand (a < b) pairs
    array-side, then one aggregation per pair. Two shuffles total (by
    shingle, by pair); a shingle self-join would re-evaluate the
    tokenize subtree per branch plus need a third aggregation + two
    joins for sizes. (id, n) is packed into one BIGINT so the collected
    array stays primitive — collect_list/sort over struct arrays falls
    out of codegen and costs ~5× more. Limits: id < 2^42, n < 2^21
    distinct shingles per document (a multi-MB doc; chunk above that).
    """
    return (
        _shingle_pair_intersections(df, text_col, id_col, k, max_doc_freq)
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _shingle_pair_intersections(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int,
    max_doc_freq: int | None,
) -> DataFrame:
    """Shared two-shuffle skeleton of the exact set-similarity joins
    (Jaccard + containment): unordered (id_a < id_b) pairs with both
    distinct-shingle set sizes and the exact intersection count —
    (id_a, id_b, n_a, n_b, inter). See ngram_jaccard_pairs for the
    plan-shape rationale (packed longs, carried sizes, two shuffles)."""
    pack = 1 << 21
    # Bind the distinct-shingle array once and emit (shingle, count)
    # structs from inside the lambda: explode-with-carried-size written
    # as two Projects would get the array expression re-inlined into
    # both size() and explode() — per-output-row recompute (~8× here).
    bound = F.explode(
        F.flatten(
            F.transform(
                F.array(F.array_distinct(shingles(text_col, k))),
                lambda a: F.transform(
                    a, lambda x: F.struct(x.alias("s"), F.size(a).alias("n"))
                ),
            )
        )
    )
    sh = df.select(F.col(id_col), bound.alias("__e")).select(
        (F.col(id_col).cast("long") * pack + F.col("__e.n")).alias("__idn"),
        F.col("__e.s").alias("s"),
    )
    grouped = sh.groupBy("s").agg(F.collect_list("__idn").alias("__docs"))
    if max_doc_freq is not None:
        grouped = grouped.filter(F.size("__docs") <= max_doc_freq)
    docs = F.col("__docs")
    # Packing sorts by id automatically (n is functionally dependent on
    # id), so least/greatest orients each unordered pair as id_a < id_b.
    pairs = F.flatten(
        F.transform(
            docs,
            lambda x, i: F.transform(
                F.slice(docs, i + 2, F.size(docs)),
                lambda y: F.struct(
                    F.least(x, y).alias("pa"), F.greatest(x, y).alias("pb")
                ),
            ),
        )
    )
    return (
        grouped.filter(F.size("__docs") >= 2)
        .select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.pa").alias("pa"), F.col("p.pb").alias("pb"))
        .agg(F.count("*").alias("inter"))
        .select(
            F.shiftright("pa", 21).alias("id_a"),
            F.shiftright("pb", 21).alias("id_b"),
            F.col("pa").bitwiseAND(pack - 1).alias("n_a"),
            F.col("pb").bitwiseAND(pack - 1).alias("n_b"),
            F.col("inter"),
        )
    )


def containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    threshold: float = 0.8,
    max_doc_freq: int | None = 1000,
) -> DataFrame:
    """Directed shingle CONTAINMENT |S_a ∩ S_b| / |S_a| ≥ t — the
    asymmetric near-dup signal Jaccard is blind to. A short document
    quoted whole inside a long one has Jaccard ≈ |short|/|long| (→ 0 as
    the host grows) but containment(short → host) = 1.0; quote/
    boilerplate/superset duplication in a training corpus is exactly
    this shape, so a Jaccard-only dedup pass keeps every contained
    copy. Output is DIRECTED: (id_a, id_b, containment) means id_a's
    shingles are ≥ t contained in id_b — the id_a side is the
    removal/flag candidate.

    Plan: identical two-shuffle skeleton to ngram_jaccard_pairs
    (_shingle_pair_intersections) — the only difference is the last
    projection, which fans each unordered pair into its two directions
    and filters each against its OWN size denominator. Nothing new
    shuffles: direction fan-out is a 2× map on the (already tiny)
    surviving-pair set. Same packing limits (id < 2^42, n < 2^21
    distinct shingles/doc) and the same ``max_doc_freq`` stop-shingle
    cap apply.

    WARNING — the ``max_doc_freq`` cap is LOSSY for containment: a
    shingle whose doc frequency exceeds the cap silently drops out of
    every intersection it belongs to, which UNDERCOUNTS containment
    (a boilerplate header shared by >cap docs stops counting toward
    any pair's |S_a ∩ S_b|). On a real corpus prefer
    ``containment_prefix_pairs``: it is byte-identical to
    ``containment_pairs(max_doc_freq=None)`` at the same threshold
    while bounding the candidate fan losslessly (frequent shingles
    sort last and never enter a prefix), so it needs no cap at all.
    Keep the cap only when an approximate, recall-losing screen is
    explicitly acceptable and pass ``max_doc_freq=None`` whenever the
    result must be exact.
    """
    undirected = _shingle_pair_intersections(
        df, text_col, id_col, k, max_doc_freq
    )
    directed = F.explode(
        F.array(
            F.struct(
                F.col("id_a").alias("da"),
                F.col("id_b").alias("db"),
                (F.col("inter") / F.col("n_a")).alias("containment"),
            ),
            F.struct(
                F.col("id_b").alias("da"),
                F.col("id_a").alias("db"),
                (F.col("inter") / F.col("n_b")).alias("containment"),
            ),
        )
    )
    return (
        undirected.select(directed.alias("d"))
        .select(
            F.col("d.da").alias("id_a"),
            F.col("d.db").alias("id_b"),
            F.col("d.containment").alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


def _ranked_shingle_stream(
    df: DataFrame, text_col: str, id_col: str, k: int
) -> DataFrame:
    """Shared input of the prefix-filtered similarity joins: the
    distinct-shingle stream (id, s) with each shingle's per-doc rank
    ``__rn`` under the global rarest-first (df, shingle) order and the
    doc's distinct-shingle count ``__n``.

    Prefix membership via a per-doc rank window — NOT a
    collect_list(struct)/array_sort build, which falls out of
    whole-stage codegen and measured ~6x slower (same lesson as
    ngram_jaccard_pairs' packed longs). The stream feeds FOUR branches
    (prefix candidates, both verify probes, sizes); Spark's exchange
    reuse can't dedupe them (each branch prunes different columns, so
    the subplans differ) and the tokenize→shingle explode would re-run
    per branch — measured as the whole query's dominant cost. A lazy
    spill-safe checkpoint materializes it once (same pattern as
    graph.py's per-round frames)."""
    from pyspark.sql import Window
    from pyspark.storagelevel import StorageLevel

    sh = df.select(
        F.col(id_col).cast("long").alias("id"),
        F.explode(F.array_distinct(shingles(text_col, k))).alias("s"),
    )
    dfs = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    wd = Window.partitionBy("id")
    return (
        sh.join(dfs, "s")
        .withColumn("__rn", F.row_number().over(wd.orderBy("df", "s")))
        .withColumn("__n", F.count(F.lit(1)).over(wd))
        .localCheckpoint(
            eager=False, storageLevel=StorageLevel.MEMORY_AND_DISK
        )
    )


def _exact_ceil_tn(threshold: float) -> Column:
    """⌈t·__n⌉ in EXACT integer arithmetic. A floating ceil(t*n) can
    round a mathematically-integer product UP (0.55*100 =
    55.00000000000001 → ceil 56), shortening the prefix by 1 and
    breaking the lossless guarantee for pairs exactly at threshold.
    Fraction(str(t)) reads the threshold the caller *wrote* (0.7 →
    7/10), then ⌈n·num/den⌉ = (n·num + den − 1) div den; the double
    division is exact because the numerator is adjusted to an exact
    multiple."""
    from fractions import Fraction

    th = Fraction(str(threshold)).limit_denominator(1_000_000)
    num, den = th.numerator, th.denominator
    x = F.col("__n") * F.lit(num) + F.lit(den - 1)
    return ((x - F.pmod(x, F.lit(den))) / F.lit(den)).cast("int")


# Largest per-doc set table _hashed_set_verify broadcasts (2M docs ≈
# 1 GB of fingerprint arrays, safe in any reasonable driver).
BROADCAST_MAX_DOCS = 2_000_000


def _hashed_set_verify(cands: DataFrame, ranked: DataFrame) -> DataFrame:
    """Exact intersection counts for candidate pairs WITHOUT the
    per-pair shingle fan: each doc's distinct shingles are packed ONCE
    into a sorted array of xxhash64 fingerprints (8 B/element vs
    ~25 B/shingle string), candidates pick up both sides' arrays via
    two plain equi-joins, and ``array_intersect`` counts the overlap
    per pair inside the JVM.

    WHY this shape: the previous counting-join verify fanned every
    candidate pair by side A's full shingle list and probed B's stream
    on (id, shingle) — Σ_pairs |A| rows carrying shingle STRINGS.
    At sf10 (500k docs, 31.6M candidate pairs, ~58 shingles/doc) that
    is 2.1e9 join rows ≈ 95 GB of shuffle: measured spill-to-death
    (SPILL_OUT_OF_MEMORY, disk exhausted). The array-carry verify
    moves |pairs|·|set| work from SHUFFLED ROWS into per-row JVM array
    intersections: the only data-sized shuffles are the two pair-side
    joins (~|pairs| rows × one 8·|set|-byte array), ~6× smaller and
    linear in the candidate count. (An earlier array-carry attempt
    that measured 2× slower carried string arrays built by
    collect_list(struct) — the fingerprint packing is what flips the
    trade.)

    Exactness: intersection counts are exact up to 64-bit fingerprint
    collisions — P(any cross-doc collision affecting one pair) <
    |set|²/2⁶⁴ ≈ 1e-15 per pair, the standard Rabin/Broder fingerprint
    trade, vastly tighter than the MinHash tiers this verifies for.

    Broadcast gate: on a family-clustered corpus the candidate set
    ≈ the true result (every intra-family pair is a match), so no
    filter can shrink it — the array carry through the pair joins is
    OUTPUT-inherent. When the per-doc set table is small relative to
    the pair stream (it is |docs| rows vs |pairs| ≈ Σ C(family, 2)),
    broadcasting it turns BOTH pair joins map-side: the pair stream
    never shuffles at all (measured at sf10: 94M candidate pairs ×
    ~950 B of arrays ≈ 90 GB of shuffle — more than a single box's
    free disk — drops to ~zero). The set table is broadcast when
    |docs| ≤ ``BROADCAST_MAX_DOCS``; on a corpus too big to broadcast
    the shuffle join is the right plan anyway, because a cluster's
    aggregate shuffle disk scales with its executor count while a
    broadcast must fit every single one.
    Returns (id_a, id_b, inter, n_a, n_b)."""
    from pyspark.storagelevel import StorageLevel

    sets = (
        ranked.select("id", F.xxhash64("s").alias("h"))
        .groupBy("id")
        .agg(F.array_sort(F.collect_list("h")).alias("hs"))
        .select("id", "hs", F.size("hs").alias("n"))
    )
    # Checkpoint UNCONDITIONALLY: the per-doc set build (shingle →
    # xxhash64 → groupBy → array_sort) feeds BOTH pair-side joins, and
    # without materialization it runs twice — and when broadcast, the
    # same ~|docs|-sized table is broadcast-BUILT twice. The lazy
    # checkpoint computes on first use and is reused by the second
    # join and the broadcast decision's count. Cleanup contract: the
    # MEMORY_AND_DISK blocks live until the session drops them — a
    # long-lived shared session running many verifies back-to-back
    # should scrub between calls (spark.catalog.clearCache() plus
    # unpersisting every RDD in sc._jsc.getPersistentRDDs(), as the
    # runs behind BENCH_r10_probes.json did between queries); a
    # per-job session gets cleanup for free at stop().
    sets = sets.localCheckpoint(
        eager=False, storageLevel=StorageLevel.MEMORY_AND_DISK
    )
    broadcast = sets.count() <= BROADCAST_MAX_DOCS
    side = (lambda d: F.broadcast(d)) if broadcast else (lambda d: d)
    return (
        cands.join(
            side(
                sets.select(
                    F.col("id").alias("id_a"),
                    F.col("hs").alias("__ha"),
                    F.col("n").alias("n_a"),
                )
            ),
            "id_a",
        )
        .join(
            side(
                sets.select(
                    F.col("id").alias("id_b"),
                    F.col("hs").alias("__hb"),
                    F.col("n").alias("n_b"),
                )
            ),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("__ha", "__hb")).alias("inter"),
            "n_a",
            "n_b",
        )
    )


def jaccard_prefix_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """PPJoin-style prefix-filtered exact Jaccard join (Xiao et al.,
    WWW '08): byte-identical output to
    ``ngram_jaccard_pairs(max_doc_freq=None)`` with far fewer candidate
    pairs, and LOSSLESS — unlike a document-frequency cap, which
    undercounts intersections through the shingles it drops.

    The prefix lemma: fix one GLOBAL canonical order over shingles
    (here ascending document frequency, shingle text tiebreak — rare
    shingles first, so prefixes are maximally selective). If
    J(A,B) ≥ t, the sets must share an element inside each one's first
    ``|x| − ⌈t·|x|⌉ + 1`` shingles under that order; pairs colliding
    nowhere in their prefixes can be skipped without looking. Candidate
    generation therefore explodes ONLY prefixes, and survivors are
    verified exactly against the full sorted-set arrays
    (``array_intersect``).

    WHEN to use which — measured, not assumed. The trade is: plain
    ``ngram_jaccard_pairs`` pays Σ_s C(df_s, 2) pair rows over ALL
    shared shingles (quadratic in every stop-shingle's document
    frequency); this operator pays that sum over PREFIX occurrences
    only, plus per-pair array-intersect verify work (see
    ``_hashed_set_verify`` — the row-fanning counting verify it
    replaced died of shuffle spill at sf10). On a flat-df corpus the
    plain counting join wins (driver testdata sf1: 17.5 s plain vs
    100.7 s for the prefix path's pre-rework verify, identical 246,784
    pairs) — there are no stop-shingles to dodge, so candidate
    filtering is pure overhead. On a Zipfian corpus the inequality
    flips catastrophically
    the other way: one boilerplate shingle shared by 100k docs feeds
    C(100k, 2) ≈ 5e9 pair rows into the plain join while never
    entering any prefix (most-common shingles sort LAST in the
    canonical order) — see
    tests/test_round8_ops.py::test_jaccard_prefix_candidate_volume_on_skew
    for the deterministic pair-volume proof. A df CAP
    (``max_doc_freq``) also dodges stop-shingles but silently
    undercounts intersections through the shingles it drops; the
    prefix filter is the lossless version of that dodge.
    """
    ranked = _ranked_shingle_stream(df, text_col, id_col, k)
    prefix_len = F.col("__n") - _exact_ceil_tn(threshold) + F.lit(1)
    pref = ranked.filter(F.col("__rn") <= prefix_len).select("id", "s")
    cands = (
        pref.groupBy("s")
        .agg(F.array_sort(F.collect_list("id")).alias("ids"))
        .filter(F.size("ids") >= 2)
        .select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.col("ids"),
                        lambda x, i: F.transform(
                            F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                            lambda y: F.struct(
                                x.alias("pa"), y.alias("pb")
                            ),
                        ),
                    )
                )
            ).alias("p")
        )
        .select(F.col("p.pa").alias("id_a"), F.col("p.pb").alias("id_b"))
        .distinct()
    )
    verified = _hashed_set_verify(cands, ranked)
    return (
        verified.withColumn(
            "jaccard",
            F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def containment_prefix_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Prefix-filtered DIRECTED containment join — the scale path for
    ``containment_pairs``, byte-identical to
    ``containment_pairs(max_doc_freq=None)`` at the same threshold.

    The asymmetric prefix lemma: if |A∩B| ≥ t·|A|, then A's first
    ``|A| − ⌈t·|A|⌉ + 1`` shingles under the global rarest-first order
    must intersect B **anywhere** (if none of A's first p shingles hit
    B, the intersection is ≤ |A| − p < t·|A|). So candidate (a → b)
    edges come from joining A-side PREFIXES against the FULL shingle
    stream — only the contained side gets a prefix, because only its
    size appears in the denominator. Candidate volume is
    Σ_s pref_df(s)·df(s): stop-shingles sort LAST in the canonical
    order, so they almost never enter a prefix and their huge df never
    multiplies — the same dodge that keeps the Jaccard variant off the
    quadratic (and what the df CAP in ``containment_pairs`` buys only
    by silently undercounting). Survivors are verified exactly with
    the hashed-set array intersect (``_hashed_set_verify``).

    Measured trade (same as jaccard_prefix_pairs): on a flat-df corpus
    the plain packed-pairs formulation wins; on a Zipfian corpus with
    boilerplate the plain join's Σ C(df,2) pair fan exhausts shuffle
    disk from sf10 on (observed: 43 GB spill → out of space) while the
    prefix filter never materializes those pairs.
    """
    ranked = _ranked_shingle_stream(df, text_col, id_col, k)
    sh = ranked.select("id", "s")
    prefix_len = F.col("__n") - _exact_ceil_tn(threshold) + F.lit(1)
    pref = ranked.filter(F.col("__rn") <= prefix_len).select("id", "s")
    cands = (
        pref.select(F.col("id").alias("id_a"), "s")
        .join(sh.select(F.col("id").alias("id_b"), "s"), "s")
        .filter(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    verified = _hashed_set_verify(cands, ranked)
    return (
        verified.withColumn("containment", F.col("inter") / F.col("n_a"))
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
    )


SIMHASH_BITS = 32


def simhash(col: str | Column) -> Column:
    """32-bit SimHash over word tokens. Bit j of each token's hash is
    the high bit of hex digit j of md5(token) (digit >= '8'); the
    fingerprint bit is the sign of the token-weighted sum. Pure
    expression (transform + aggregate), oracle-reproducible."""
    t = tokens(col)
    hashed = F.transform(t, lambda x: F.md5(x))
    acc0 = F.array_repeat(F.lit(0), SIMHASH_BITS)
    sums = F.aggregate(
        hashed,
        acc0,
        lambda acc, h: F.zip_with(
            acc,
            F.transform(
                F.sequence(F.lit(1), F.lit(SIMHASH_BITS)),
                lambda j: F.when(h.substr(j, F.lit(1)) >= "8", 1).otherwise(-1),
            ),
            lambda a, b: a + b,
        ),
    )
    bits = F.transform(sums, lambda s: F.when(s >= 0, F.lit(1)).otherwise(F.lit(0)))
    # Fold bits into one BIGINT: bit j (0-based) contributes 2^j.
    return F.aggregate(
        F.zip_with(
            bits,
            F.sequence(F.lit(0), F.lit(SIMHASH_BITS - 1)),
            lambda b, j: b.cast("long") * F.pow(F.lit(2.0), j).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def simhash_agg(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """SimHash as explode + hash-aggregate: same fingerprint as
    ``simhash()`` but computed with one shuffle-free partial-agg pass
    instead of a per-row nested fold — ~5× faster and the shape that
    scales: partial aggregation combines map-side, so the shuffle
    carries one row per document, not one per token.

    r16 kernel trim (the doc_simhash weak-row fix): the 32 per-bit
    conditional sums are PACKED two to a long — each accumulator
    carries two 32-bit lanes, one hex digit's ones-count per lane — so
    the aggregate runs 17 update expressions instead of 33. Measured
    ~9 ms per aggregate column at the bench shape (decomposition in
    BENCH_r16_probes.json), so halving the column count removes ~0.15 s
    of pure agg-update cost at identical output. Lanes are 32-bit:
    exact up to 2^31 tokens per document (a document's token count is
    bounded by its byte length, so the lane cannot saturate on real
    text)."""
    tok = df.select(
        F.col(id_col), F.explode(tokens(text_col)).alias("__tok")
    ).withColumn("__hx", F.md5(F.col("__tok")))
    # Hex digit j's high bit == bit of the 32-bit int parsed from its
    # 8-digit chunk: 4 conv() parses per token replace 32 substring
    # string-compares — integer shift/mask stays in codegen.
    for c in range(SIMHASH_BITS // 8):
        tok = tok.withColumn(
            f"__v{c}", F.conv(F.substring("__hx", 8 * c + 1, 8), 16, 10).cast("long")
        )

    def digit_bit(v, d: int):  # high bit of hex digit d (0-based) of chunk v
        return F.shiftright(v, 4 * (7 - d) + 3).bitwiseAND(F.lit(1))

    # pack digits (2p, 2p+1) of chunk c: low lane = digit 2p's bit,
    # high lane (<<32) = digit 2p+1's bit
    packs = []
    for c in range(SIMHASH_BITS // 8):
        v = F.col(f"__v{c}")
        for p in range(4):
            packs.append(
                (
                    digit_bit(v, 2 * p)
                    + F.shiftleft(digit_bit(v, 2 * p + 1), 32)
                ).alias(f"__p{c}_{p}")
            )
    tok = tok.select(F.col(id_col), *packs)
    sums = tok.groupBy(id_col).agg(
        F.count("*").alias("__n"),
        *[
            F.sum(f"__p{c}_{p}").alias(f"__s{c}_{p}")
            for c in range(SIMHASH_BITS // 8)
            for p in range(4)
        ],
    )
    # sign(sum of ±1) >= 0  ⇔  2 * (#ones) >= #tokens; ones for the
    # 1-based hex digit j live in lane (j-1)%2 of accumulator
    # __s{(j-1)//8}_{((j-1)%8)//2}
    fp = None
    for j in range(1, SIMHASH_BITS + 1):
        c, d = (j - 1) // 8, (j - 1) % 8
        acc = F.col(f"__s{c}_{d // 2}")
        ones = (
            F.shiftright(acc, 32)
            if d % 2
            else acc.bitwiseAND(F.lit((1 << 32) - 1))
        )
        bit = F.when(
            ones * 2 >= F.col("__n"), F.lit(2 ** (j - 1)).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        fp = bit if fp is None else fp + bit
    return sums.select(F.col(id_col), fp.alias("simhash_fp"))


def winnow_fingerprints(col: str | Column, k: int = 3, w: int = 4) -> Column:
    """Winnowing document fingerprint (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS algorithm): hash every k-token shingle, slide
    a window of ``w`` consecutive shingle hashes, keep the minimum of
    each window, return the sorted distinct minima. Any shared
    substring of length >= k + w - 1 tokens between two documents is
    GUARANTEED to contribute at least one common fingerprint — the
    coverage guarantee simple minhash sampling lacks.

    Rolling-hash flavor: the shingle hash stream IS the rolling hash
    (position-ordered k-gram hashes); window-minima selection is the
    winnowing step. md5 hex strings compare lexicographically on both
    engines, so min() needs no numeric conversion.

    Expression-only (no explode, no shuffle): the fingerprint set of a
    bounded-length document is computed in one scan pass, by
    higher-order functions that Spark evaluates interpreted (outside
    whole-stage codegen) — at 100 TB this is scan-shaped,
    embarrassingly parallel, and the output (distinct minima) is a
    small fraction of the shingle count (expected |fp| ~ 2/(w+1) of
    positions). The shingle hashes are bound once per document
    (``bind``): referenced from the window lambda unbound, they would
    be re-hashed for every window, O(n²) md5 calls per document.

    Documents with fewer than ``w`` windows degrade to min-of-all —
    the standard short-document convention."""

    def winnow(hashes: Column) -> Column:
        n = F.size(hashes)
        idx = F.sequence(F.lit(1), F.greatest(n - F.lit(w - 1), F.lit(1)))
        minima = F.transform(idx, lambda i: F.array_min(F.slice(hashes, i, w)))
        return F.array_sort(F.array_distinct(minima))

    return bind(F.transform(shingles(col, k), lambda s: F.md5(s)), winnow)


def token_segments(col: str | Column, seg: int = 8) -> Column:
    """Non-overlapping ``seg``-token segments of a document, in order.
    The fixed-granularity unit for repeated-span removal on corpora
    without line structure. Empty/null token streams yield an empty
    array (never a reversed sequence() blowup)."""

    def segment_list(t: Column) -> Column:
        n = F.size(t)
        n_seg = F.ceil(n / F.lit(float(seg))).cast("int")
        return F.when(n <= F.lit(0), F.array().cast("array<string>")).otherwise(
            F.transform(
                F.sequence(F.lit(1), F.greatest(n_seg, F.lit(1))),
                lambda i: F.array_join(
                    F.slice(t, (i - F.lit(1)) * F.lit(seg) + F.lit(1), seg), " "
                ),
            )
        )

    return F.flatten(F.transform(F.array(tokens(col)), segment_list))


def repeated_segment_dedup(
    df: DataFrame,
    text_col: str,
    id_col: str,
    seg: int = 8,
    min_docs: int = 3,
) -> DataFrame:
    """Corpus-level repeated-span removal (the C4 'dedup repeated
    lines' / Lee et al. 2022 'Deduplicating Training Data' idea at
    fixed segment granularity): split every document into consecutive
    ``seg``-token segments, find segments whose exact content occurs in
    >= ``min_docs`` DISTINCT documents (boilerplate: headers, license
    blocks, navigation chrome), delete those segments from every
    document, and reassemble the survivors in original order.

    Returns one row per input document:
    (id, n_seg_total, n_seg_kept, clean_digest) where clean_digest is
    md5 of the space-joined surviving segments ('' when everything was
    boilerplate — the row is kept so downstream length filters see it).

    Plan shape at 100 TB: segments explode (narrow) -> hash-groupBy on
    the segment hash with partial countDistinct (one shuffle, combines
    map-side) -> the boilerplate set is FILTERED BEFORE the join
    (segments repeated >= min_docs times are a tiny fraction of the
    corpus), then ONE left join on the segment hash marks boilerplate
    membership and ONE groupBy(id) computes total/kept counts and the
    ordered reassembly together via conditional aggregates (a separate
    totals branch would scan and shuffle the corpus a third time). No
    step is quadratic; no driver-side state. The boilerplate side is
    small enough that AQE will broadcast it at most scales, but
    correctness never depends on that."""
    segs = df.select(
        F.col(id_col),
        F.posexplode_outer(token_segments(text_col, seg)).alias("__pos", "__seg"),
    ).withColumn("__sh", F.md5(F.col("__seg")))
    boiler = (
        segs.filter(F.col("__seg").isNotNull())
        .groupBy("__sh")
        .agg(F.count_distinct(F.col(id_col)).alias("__nd"))
        .filter(F.col("__nd") >= F.lit(min_docs))
        .select("__sh", F.lit(1).alias("__boiler"))
    )
    # boiler's key is unique (groupBy output), so the left join never
    # duplicates segment rows; null-segment rows (empty/null docs) have
    # a null key, never match, and flow through to the final groupBy so
    # every input document gets an output row.
    marked = segs.join(boiler, "__sh", "left")
    is_seg = F.col("__seg").isNotNull()
    is_kept = is_seg & F.col("__boiler").isNull()
    return marked.groupBy(id_col).agg(
        F.sum(is_seg.cast("int")).cast("long").alias("n_seg_total"),
        F.sum(is_kept.cast("int")).cast("long").alias("n_seg_kept"),
        F.md5(
            F.array_join(
                F.transform(
                    # collect_list drops nulls: only kept segments enter
                    F.array_sort(
                        F.collect_list(
                            F.when(is_kept, F.struct("__pos", "__seg"))
                        )
                    ),
                    lambda s: s["__seg"],
                ),
                " ",
            )
        ).alias("clean_digest"),
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    sort_key: Column,
    block_key: Column,
    window: int = 2,
    payload: Column | None = None,
    score=None,
) -> DataFrame:
    """Tier-5 candidate generation: the sorted-neighborhood method
    (SNM) of classic entity resolution. Rows are ordered by
    ``sort_key`` within each ``block_key`` partition, and every row is
    paired with its next ``window`` neighbours in that order — the
    cheap way to surface near-dups that HASH-based blocking splits
    (typo in the blocking token) but that sort ADJACENT (shared
    prefix).

    Emits (id_a, id_b, payload_a, payload_b[, score]) with id_a's row
    sorting strictly before id_b's; the caller applies the verify
    predicate (edit distance, token Jaccard, ...) — candidates only,
    like ``minhash_lsh_candidates``.

    ``score``: optional ``fn(payload_a, payload_b) -> Column``. When
    the verify is expensive (levenshtein), pass it here instead of
    filtering the output: the expression is evaluated ONCE per
    neighbour in the pre-explode projection, whereas a post-explode
    ``filter(expensive <= t)`` collapses onto the Project and Catalyst
    evaluates the expression twice (once in the pushed Filter, once in
    the projection — measured 2x the verify cost). The caller then
    filters on the cheap scalar ``score`` column.

    Scale shape: ONE shuffle (hash on block) + in-partition sort, then
    ``window`` lead() columns exploded — linear in rows, never a self
    join. Block boundaries truncate neighbourhoods (standard SNM:
    recall across blocks comes from running extra passes with a
    different block/sort key, each pass independently linear). Skew =
    the largest single block; pick block keys accordingly.

    Deterministic: ties in ``sort_key`` break on ``id_col``.
    """
    from pyspark.sql import Window as W

    if window < 1:
        raise ValueError(f"window must be >= 1; got {window}")
    pay = payload if payload is not None else F.lit(None)
    base = df.select(
        F.col(id_col).alias("id_a"),
        sort_key.alias("__key"),
        block_key.alias("__blk"),
        pay.alias("payload_a"),
    )
    w = W.partitionBy("__blk").orderBy("__key", "id_a")
    # Materialize the leads as plain columns FIRST (one Window operator,
    # one sort — all leads share the spec); a generator may not contain
    # window expressions, so the array/explode is built over these
    # columns in a later projection.
    led = base.select(
        "id_a",
        "payload_a",
        *[
            c
            for j in range(1, window + 1)
            for c in (
                F.lead("id_a", j).over(w).alias(f"__id_{j}"),
                F.lead("payload_a", j).over(w).alias(f"__pay_{j}"),
            )
        ],
    )
    neigh = F.array(
        *[
            F.struct(
                F.col(f"__id_{j}").alias("id_b"),
                F.col(f"__pay_{j}").alias("payload_b"),
                *(
                    [
                        score(
                            F.col("payload_a"), F.col(f"__pay_{j}")
                        ).alias("score")
                    ]
                    if score is not None
                    else []
                ),
            )
            for j in range(1, window + 1)
        ]
    )
    # End-of-block rows have null leads: drop them INSIDE the array
    # (HOF filter) rather than a post-explode WHERE.
    neigh_nn = F.filter(neigh, lambda s: s["id_b"].isNotNull())
    out_cols = [
        "id_a",
        F.col("__n.id_b").alias("id_b"),
        "payload_a",
        F.col("__n.payload_b").alias("payload_b"),
    ]
    if score is not None:
        out_cols.append(F.col("__n.score").alias("score"))
    return led.withColumn("__n", F.explode(neigh_nn)).select(*out_cols)


def dup_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    span_len: int = 40,
    sel_nibbles: int = 1,
) -> DataFrame:
    """Cross-document EXACT substring duplication: per document, how
    many of its content-sampled ``span_len``-char spans also occur in
    at least one other document — the character-level twin of shingle
    dedup that catches verbatim boilerplate/license/quote blocks which
    word-shingle Jaccard dilutes below threshold inside long documents
    (the "deduplicating training data" substring signal). Returns
    (id, n_spans, n_dup_spans, dup_ratio).

    Sampling is CONTENT-KEYED (Broder/Manber mod-p fingerprint
    selection): every char offset is hashed but only spans whose md5
    ends in ``sel_nibbles`` zero hex chars are kept — a 16^-n sample.
    Selection depends only on span content, so two copies of a
    duplicated region keep the SAME spans no matter how the copies are
    aligned. A fixed-stride sample cannot do this: copies at offsets
    with different residues mod the stride sample disjoint
    region-relative positions and NEVER collide — silent 100% miss, the
    failure mode this design exists to avoid. Spans travel as md5
    digests, never raw text — the shuffle carries fixed 32-char keys
    whatever span_len is, and only the kept 1/16^n of offsets ever
    leaves the row.

    Shape: one explode pass materialized once (lazy spill-safe
    checkpoint — three consumers would otherwise re-run the substring
    explode per branch), then three partial-aggregatable counts: spans
    per doc, docs per span (≥2 = shared), shared spans per doc via one
    semi-join back. No pair expansion anywhere — cost is linear in
    total kept-span count even when one license block appears in a
    million documents (contrast any pairwise formulation: that block
    alone would fan to 10^12 pairs). The per-offset md5 is the
    dominant compute — same order as winnowing's per-offset k-gram
    hashing, the accepted price of alignment-robust fingerprints.
    """
    zeros = "0" * sel_nibbles
    t = f"`{text_col}`"
    span_expr = F.expr(
        f"filter(transform(sequence(1, greatest(length({t}) -"
        f" {span_len - 1}, 1), 1), i -> md5(substr({t}, i, {span_len}))),"
        f" h -> right(h, {sel_nibbles}) = '{zeros}')"
    )
    from pyspark.storagelevel import StorageLevel

    sp = (
        df.select(F.col(id_col).alias("id"), span_expr.alias("__sp"))
        .select("id", F.explode(F.array_distinct("__sp")).alias("h"))
        .localCheckpoint(eager=False, storageLevel=StorageLevel.MEMORY_AND_DISK)
    )
    per_doc = sp.groupBy("id").agg(F.count(F.lit(1)).alias("n_spans"))
    shared = (
        sp.groupBy("h")
        .agg(F.count(F.lit(1)).alias("__nd"))
        .filter(F.col("__nd") >= 2)
        .select("h")
    )
    dup = (
        sp.join(shared, "h", "left_semi")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_dup_spans"))
    )
    return (
        per_doc.join(dup, "id", "left")
        .select(
            F.col("id").alias(id_col),
            "n_spans",
            F.coalesce("n_dup_spans", F.lit(0)).alias("n_dup_spans"),
            (
                F.floor(
                    F.coalesce("n_dup_spans", F.lit(0))
                    / F.col("n_spans")
                    * F.lit(1e6)
                    + F.lit(0.5)
                )
                / F.lit(1e6)
            ).alias("dup_ratio"),
        )
    )


def substring_excise(
    df: DataFrame,
    text_col: str,
    id_col: str,
    span_len: int = 40,
    sel_nibbles: int = 1,
) -> DataFrame:
    """Repeated-substring EXCISION — the removal step on top of
    ``dup_spans``' detection (the Lee et al. "Deduplicating Training
    Data" / C4 boilerplate treatment at document granularity): find the
    content-sampled spans shared across documents, coalesce each
    document's shared spans into maximal character intervals, CUT the
    intervals out, and rebuild the host text — the document survives,
    the verbatim license block / navigation chrome / quoted boilerplate
    does not. Returns every input row as
    (id, n_intervals, excised_chars, new_text); documents with no
    cross-document span keep their text BYTE-IDENTICAL.

    Same alignment-robust Broder/Manber sampling as dup_spans (span
    selection rides on the span's own md5, so every copy of a
    duplicated region keeps the same spans), same no-pair-expansion
    guarantee (a block in a million docs costs a million interval rows,
    never 10^12 pairs). New pieces, all exact integer arithmetic so the
    result is engine-bit-identical:

    - intervals: per doc, sort shared offsets and merge overlap/adjacency
      (gaps-and-islands: break where s > max(prev s + span_len), island
      id = running sum of breaks — two window passes over SHARED
      offsets only, keyed by doc id);
    - rebuild: intervals collect into ONE sorted array per doc, a
      single equi-join puts it next to the text (no per-interval
      fan-out of the text), and one ``aggregate`` fold walks the
      intervals left to right concatenating the kept slices —
      expression-only, JVM-side, no UDF.

    Caveat shared with every single-pass excision: cutting can create
    NEW seams, and for two FULLY identical documents the rebuilt texts
    are again identical (their seam spans re-collide) — whole-doc
    duplicates are exact_dedup's job before this operator; this one is
    for shared REGIONS inside otherwise-distinct documents (pinned in
    tests/test_round15_props.py). Accounting nuance: an interval's end
    is ``offset + span_len`` even when the (short) document ends
    sooner, so ``excised_chars`` can exceed the characters actually
    removed for documents shorter than ``span_len`` — the rebuild
    clamps every slice (``greatest(·, 0)`` lengths) and the oracle
    uses identical arithmetic, so outputs stay bit-identical; the
    count is an upper bound for sub-span_len docs only."""
    zeros = "0" * sel_nibbles
    t = f"`{text_col}`"
    span_expr = F.expr(
        f"filter(transform(sequence(1, greatest(length({t}) -"
        f" {span_len - 1}, 1), 1), i -> struct(i AS s,"
        f" md5(substr({t}, i, {span_len})) AS h)),"
        f" x -> right(x.h, {sel_nibbles}) = '{zeros}')"
    )
    from pyspark.sql import Window
    from pyspark.storagelevel import StorageLevel

    sp = (
        df.select(F.col(id_col).alias("id"), span_expr.alias("__sp"))
        .select("id", F.explode("__sp").alias("x"))
        .select("id", F.col("x.s").alias("s"), F.col("x.h").alias("h"))
        .localCheckpoint(eager=False, storageLevel=StorageLevel.MEMORY_AND_DISK)
    )
    shared = (
        sp.select("id", "h")
        .distinct()
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("__nd"))
        .filter(F.col("__nd") >= 2)
        .select("h")
    )
    so = sp.join(shared, "h", "left_semi").select("id", "s")
    w_prev = (
        Window.partitionBy("id")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("id")
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    grp = so.withColumn(
        "__brk",
        F.when(
            F.col("s") <= F.max(F.col("s") + span_len).over(w_prev), 0
        ).otherwise(1),
    ).withColumn("__g", F.sum("__brk").over(w_run))
    iv = grp.groupBy("id", "__g").agg(
        F.min("s").alias("s"), (F.max("s") + span_len).alias("e")
    )
    ivs = iv.groupBy("id").agg(
        F.array_sort(F.collect_list(F.struct("s", "e"))).alias("__iv"),
        F.count(F.lit(1)).cast("long").alias("n_intervals"),
        F.sum(F.col("e") - F.col("s")).cast("long").alias("excised_chars"),
    )
    rebuilt = F.expr(
        f"aggregate(__iv, named_struct('pos', 1, 'acc', ''),"
        f" (a, x) -> named_struct('pos', x.e,"
        f" 'acc', concat(a.acc, substr({t}, a.pos, x.s - a.pos))),"
        f" a -> concat(a.acc, substr({t}, a.pos,"
        f" length({t}) - a.pos + 1)))"
    )
    return (
        df.select(F.col(id_col), F.col(text_col))
        .join(
            ivs.withColumnRenamed("id", id_col), id_col, "left"
        )
        .select(
            F.col(id_col),
            F.coalesce("n_intervals", F.lit(0).cast("long")).alias(
                "n_intervals"
            ),
            F.coalesce("excised_chars", F.lit(0).cast("long")).alias(
                "excised_chars"
            ),
            F.when(F.col("__iv").isNull(), F.col(text_col))
            .otherwise(rebuilt)
            .alias("new_text"),
        )
    )


# ----------------------------------------------- incremental exact dedup

def build_fingerprint_store(
    docs: DataFrame, path: str, text_col: str, id_col: str
) -> DataFrame:
    """Persisted exact-dedup fingerprint store: ONE row per distinct
    canonical-text md5 with its lowest owning id — the corpus-history
    side of incremental ingestion dedup ("have we seen this exact text
    before"), the exact-dedup sibling of the persisted LSH/postings
    indexes. Null-text docs carry no fingerprint and are not stored
    (the exact_dedup null contract). At 100 TB the store is one row
    per DISTINCT document — write it partitioned/bucketed by a hash
    prefix if the ingest join needs co-location; the store schema is
    (hash, owner). Returns the store as written, read back with that
    schema (``index_table.read_written``: no schema-inference job)."""
    keyed = (
        docs.filter(F.col(text_col).isNotNull())
        .select(
            F.md5(canonical_text(text_col)).alias("hash"),
            F.col(id_col).alias("owner"),
        )
        .groupBy("hash")
        .agg(F.min("owner").alias("owner"))
    )
    keyed.write.mode("overwrite").parquet(path)
    return read_written(docs.sparkSession, path, keyed.schema)


def dedup_against_store(
    new_docs: DataFrame, store: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Flag each batch document against corpus history AND its own
    batch: ``is_novel`` iff its canonical hash is not in the store and
    no smaller-id batch doc carries it; ``dup_of`` names the owning id
    (store owner wins over batch-mate — history precedes the batch),
    NULL for novel docs. Null-text docs are novel by the exact_dedup
    contract (no comparable content) with a NULL hash.

    Plan: batch hashes once (projection), one partial-min aggregate
    over the BATCH (batch-sized), one equi-join against the store —
    the only history-sized exchange, and it moves only (hash, owner)
    pairs, never text."""
    keyed = new_docs.select(
        F.col(id_col),
        F.when(
            F.col(text_col).isNotNull(), F.md5(canonical_text(text_col))
        ).alias("text_hash"),
    )
    batch_min = (
        keyed.filter(F.col("text_hash").isNotNull())
        .groupBy("text_hash")
        .agg(F.min(id_col).alias("__bmin"))
    )
    st = store.select(
        F.col("hash").alias("text_hash"), F.col("owner").alias("__owner")
    )
    return (
        keyed.join(batch_min, "text_hash", "left")
        .join(st, "text_hash", "left")
        .select(
            F.col(id_col),
            "text_hash",
            (
                F.col("text_hash").isNull()
                | (
                    F.col("__owner").isNull()
                    & (F.col(id_col) == F.col("__bmin"))
                )
            ).alias("is_novel"),
            F.when(F.col("__owner").isNotNull(), F.col("__owner"))
            .when(
                F.col("text_hash").isNotNull()
                & (F.col(id_col) != F.col("__bmin")),
                F.col("__bmin"),
            )
            .alias("dup_of"),
        )
    )


def append_fingerprints(
    new_docs: DataFrame, path: str, text_col: str, id_col: str
) -> int:
    """Ingest-commit for the fingerprint store: append the batch's
    NOVEL hashes (min batch id per hash, anti-joined against the
    store — the frozen-parameter append shape shared with the BPE and
    ANN indexes). Returns the number of hashes added. Append ≡ rebuild
    over the union because min() is associative and history owners
    precede batch ids by the ingest contract (pinned in
    tests/test_text_dedup_incremental.py)."""
    spark = new_docs.sparkSession
    store = spark.read.parquet(path)
    fresh = (
        new_docs.filter(F.col(text_col).isNotNull())
        .select(
            F.md5(canonical_text(text_col)).alias("hash"),
            F.col(id_col).alias("owner"),
        )
        .groupBy("hash")
        .agg(F.min("owner").alias("owner"))
        .join(store.select("hash"), "hash", "left_anti")
        .localCheckpoint(eager=True)  # don't race the append below
    )
    n = fresh.count()
    if n:
        fresh.write.mode("append").parquet(path)
    return n
