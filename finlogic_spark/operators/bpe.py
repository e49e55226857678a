"""Subword (BPE) tokenization — learn a deterministic merge table,
apply it Arrow-batched across the corpus (engine-scope addition per
VERDICT r12 item 6: training pipelines count BPE tokens, pack by BPE
length, and dedup on BPE shingles; every other text operator here
tokenizes by whitespace only).

Algorithm is the public byte-pair-encoding-for-NMT procedure (Sennrich
et al., ACL'16) over word frequencies, with the standard greedy
lowest-rank-first merge application at encode time (as popularized by
the GPT-2 tokenizer). Everything is deterministic: merge ties break on
the lexicographically smallest pair, so two engines that agree on word
counts learn IDENTICAL merge tables.

Scale shape (100 TB):
- learning reads only a WORD-FREQUENCY table (one explode + groupBy,
  vocab-bounded exchange), capped to the top ``top_words`` words by
  (count desc, word asc) — a bounded driver materialization, the
  centroids/kmeans precedent. BPE statistics concentrate in the head
  of the word distribution; the cap is the standard practice and the
  tail still encodes fine through the learned merges.
- the serial learner is O(num_merges x Σ|word|) over that capped
  vocab — seconds for 30k words x 200 merges, independent of corpus
  row count.
- encoding broadcasts the merge ranks (KBs) and runs mapInPandas
  (Arrow-batched — the justified Python class: per-word iterative
  merging is data-dependent control flow no Catalyst expression
  expresses). Each task keeps a word -> pieces cache, so the per-task
  cost is bounded by its DISTINCT words, not its occurrences.

Tokenizer parity contract: words come from lower() + Java-\\s splitting.
Python's str.lower() applies the same full case mapping as the JVM's
(U+0130 'İ' -> 'i'+U+0307 in both — the freq.py screen divergence
cannot happen here), and the split class is the explicit ASCII
[ \\t\\n\\x0b\\f\\r] both sides.
"""

from __future__ import annotations

import re
from collections import Counter
from collections.abc import Iterable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from finlogic_spark.session import local_frame
from finlogic_spark.sources.index_table import read_params, write_params

__all__ = [
    "append_bpe_index",
    "bpe_doc_stats",
    "bpe_pieces",
    "build_bpe_index",
    "corpus_word_counts",
    "encode_word",
    "learn_bpe_merges",
    "load_pieces_lookup",
    "read_bpe_index",
]

# Java \s (non-UNICODE_CHARACTER_CLASS), same class freq.py pins
_WS_RE = re.compile(r"[ \t\n\x0b\f\r]+")


def _words(text: str) -> list[str]:
    return [w for w in _WS_RE.split(text.lower()) if w]


def learn_bpe_merges(
    word_counts: Iterable[tuple[str, int]], num_merges: int
) -> list[tuple[str, str]]:
    """Sennrich BPE over a word-frequency table: repeatedly merge the
    most frequent adjacent symbol pair (ties -> lexicographically
    smallest pair), ``num_merges`` times or until no pair repeats.
    Returns the ordered merge list; order IS the rank. Pure Python,
    deterministic, O(num_merges x total symbols)."""
    if num_merges < 1:
        raise ValueError(f"num_merges must be >= 1, got {num_merges}")
    vocab: dict[tuple[str, ...], int] = {}
    for w, c in word_counts:
        syms = tuple(w)
        vocab[syms] = vocab.get(syms, 0) + int(c)
    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        pairs: Counter = Counter()
        for syms, c in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += c
        if not pairs:
            break
        mc = max(pairs.values())
        if mc < 2:  # nothing repeats — further merges are noise
            break
        best = min(p for p, c in pairs.items() if c == mc)
        merges.append(best)
        merged = best[0] + best[1]
        nxt: dict[tuple[str, ...], int] = {}
        for syms, c in vocab.items():
            out = []
            i = 0
            while i < len(syms):
                if (
                    i + 1 < len(syms)
                    and syms[i] == best[0]
                    and syms[i + 1] == best[1]
                ):
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            key = tuple(out)
            nxt[key] = nxt.get(key, 0) + c
        vocab = nxt
    return merges


def encode_word(
    word: str, ranks: dict[tuple[str, str], int]
) -> tuple[str, ...]:
    """Greedy BPE encode of one word: repeatedly merge the present
    pair with the LOWEST rank (all its non-overlapping occurrences,
    left to right) until no learned pair remains. The GPT-2-style
    application; consistent with learn_bpe_merges' training order."""
    syms = list(word)
    while len(syms) > 1:
        best_rank = None
        best_pair = None
        for a, b in zip(syms, syms[1:]):
            r = ranks.get((a, b))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_pair = r, (a, b)
        if best_pair is None:
            break
        merged = best_pair[0] + best_pair[1]
        out = []
        i = 0
        while i < len(syms):
            if (
                i + 1 < len(syms)
                and syms[i] == best_pair[0]
                and syms[i + 1] == best_pair[1]
            ):
                out.append(merged)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return tuple(syms)


def corpus_word_counts(
    docs: DataFrame, text_col: str = "text", top_words: int = 30_000
) -> list[tuple[str, int]]:
    """Top-``top_words`` (word, count) pairs by (count desc, word asc)
    — the learner's input, computed with the engine's shared JVM
    tokenizer (one explode + map-side-combining groupBy; the exchange
    carries the vocabulary, never occurrences). Bounded driver
    materialization by construction."""
    from finlogic_spark.functions.text import tokens

    rows = (
        docs.filter(F.col(text_col).isNotNull())
        .select(F.explode(tokens(text_col)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.col("c").desc(), F.col("w").asc())
        .limit(top_words)
        .collect()
    )
    return [(r["w"], r["c"]) for r in rows]


def bpe_doc_stats(
    docs: DataFrame,
    merges: Sequence[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    pieces_lookup: dict[str, tuple[str, ...]] | None = None,
) -> DataFrame:
    """Per-document BPE statistics: (id, n_words, n_pieces,
    n_distinct_pieces). Documents with no tokens (null/empty text) are
    dropped — no features, no row (the dsir_log_weights contract);
    callers packing sequences left-join and coalesce to 0.

    The merge ranks broadcast with the closure (KBs); encoding runs in
    mapInPandas with a per-task word->pieces cache, so cost scales
    with distinct words per task. n_pieces is the packing length
    (doc_bpe_pack rides it) and n_distinct_pieces makes the output
    hash sensitive to the piece IDENTITIES, not just their count.

    ``pieces_lookup`` (optional): a word->pieces dict from the
    persisted index (load_pieces_lookup) SEEDS each task's cache, so
    serving pays a lookup for known words and the merge loop only for
    unseen ones — identical output either way (encode_word is pure)."""
    ranks = {tuple(p): i for i, p in enumerate(merges)}
    out_schema = (
        f"{id_col} long, n_words long, n_pieces long, "
        "n_distinct_pieces long"
    )

    def enc(batches):
        import pandas as pd

        cache: dict[str, tuple[str, ...]] = (
            dict(pieces_lookup) if pieces_lookup else {}
        )
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:
                    continue
                words = _words(text)
                if not words:
                    continue
                n_pieces = 0
                distinct: set[str] = set()
                for w in words:
                    pieces = cache.get(w)
                    if pieces is None:
                        pieces = encode_word(w, ranks)
                        cache[w] = pieces
                    n_pieces += len(pieces)
                    distinct.update(pieces)
                rows.append((int(doc_id), len(words), n_pieces, len(distinct)))
            yield pd.DataFrame(
                rows,
                columns=[id_col, "n_words", "n_pieces", "n_distinct_pieces"],
            )

    return docs.select(id_col, text_col).mapInPandas(enc, schema=out_schema)


def bpe_pieces(
    docs: DataFrame,
    merges: Sequence[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    pieces_lookup: dict[str, tuple[str, ...]] | None = None,
) -> DataFrame:
    """Per-document BPE piece SEQUENCE: (id, pieces array<string>) in
    document order — the input to piece-level shingling (near-dup on
    BPE shingles: subword pieces normalize morphology and whitespace
    quirks that word shingles split on). Same drop-no-token-docs
    contract, broadcast ranks, and per-task word cache as
    bpe_doc_stats; the only difference is emitting the sequence
    instead of its summary counts. ``pieces_lookup`` seeds the task
    caches from the persisted index, as in bpe_doc_stats."""
    ranks = {tuple(p): i for i, p in enumerate(merges)}

    def enc(batches):
        import pandas as pd

        cache: dict[str, tuple[str, ...]] = (
            dict(pieces_lookup) if pieces_lookup else {}
        )
        for pdf in batches:
            ids, seqs = [], []
            for doc_id, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:
                    continue
                words = _words(text)
                if not words:
                    continue
                out: list[str] = []
                for w in words:
                    pieces = cache.get(w)
                    if pieces is None:
                        pieces = encode_word(w, ranks)
                        cache[w] = pieces
                    out.extend(pieces)
                ids.append(int(doc_id))
                seqs.append(out)
            # dtype=object keeps pandas from promoting equal-length
            # piece lists to a 2-D ndarray, which Arrow can't convert
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids, dtype="int64"),
                    "pieces": pd.Series(seqs, dtype=object),
                }
            )

    return docs.select(id_col, text_col).mapInPandas(
        enc, schema=f"{id_col} long, pieces array<string>"
    )


# --------------------------------------------------------------- persistence

BPE_INDEX_VERSION = 2  # v2: word_pieces carries per-word corpus counts
_BPE_STATS = "version int, num_merges int, top_words int"
_MERGES = "rank int, left string, right string"
_WORD_PIECES = "word string, n long, pieces array<string>"


def _encode_words_df(
    words: DataFrame, merges: Sequence[tuple[str, str]]
) -> DataFrame:
    """(word, n) -> (word, n, pieces array<string>): the distributed
    encode of a DISTINCT-word table under broadcast merge ranks —
    vocab-sized in and out, never occurrence-sized. ``n`` (the word's
    corpus occurrence count) rides along so the serving lookup can be
    capped to the FREQUENCY HEAD instead of an arbitrary subset."""
    ranks = {tuple(p): i for i, p in enumerate(merges)}

    def enc(batches):
        import pandas as pd

        for pdf in batches:
            pdf = pdf.copy()
            pdf["pieces"] = [
                list(encode_word(w, ranks)) for w in pdf["word"]
            ]
            yield pdf

    return words.mapInPandas(enc, schema=_WORD_PIECES)


def build_bpe_index(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    num_merges: int = 200,
    top_words: int = 30_000,
) -> None:
    """Durable BPE serving index (the r13 verdict's item 5: every other
    serving structure — postings, LSH, IVF — has a persisted store with
    an append path; the merge table was a per-session cache). Layout:

    - ``{path}/merges``       (rank, left, right) — the model, ~KBs
    - ``{path}/word_pieces``  (word, n, pieces) — per-word encodings
      + occurrence counts for every distinct corpus word (vocab-sized;
      serving seeds encode caches from its FREQUENCY HEAD so known
      words cost a lookup, not a merge loop)
    - ``{path}/_stats``       version + build parameters (the sidecar
      of every persisted index, sources/index_table.py: serving can
      never bind to stale parameters, and a format change refuses to
      decode)

    Scale: learning reads the vocab-bounded word-frequency table
    (top-``top_words`` driver materialization, the centroids
    precedent); word_pieces is ONE distinct over exploded tokens
    (vocabulary-sized exchange) + an Arrow-batched encode of distinct
    words only."""
    spark = docs.sparkSession
    wc = corpus_word_counts(docs, text_col, top_words)
    merges = learn_bpe_merges(wc, num_merges)
    from finlogic_spark.functions.text import tokens

    local_frame(
        spark,
        [(i, a, b) for i, (a, b) in enumerate(merges)],
        _MERGES,
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/merges")
    words = (
        docs.filter(F.col(text_col).isNotNull())
        .select(F.explode(tokens(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    _encode_words_df(words, merges).write.mode("overwrite").parquet(
        f"{path}/word_pieces"
    )
    write_params(
        spark, path, _BPE_STATS, [(BPE_INDEX_VERSION, num_merges, top_words)]
    )


def read_bpe_index(spark, path: str):
    """-> (merges list ordered by rank, word_pieces DataFrame). The
    merge table is bounded (num_merges rows) by construction — a
    driver read, like every consumer of the model. Raises on a stats
    version mismatch (silent format drift makes silently-wrong
    encodings)."""
    st = read_params(spark, path, _BPE_STATS)[0]
    if st["version"] != BPE_INDEX_VERSION:
        raise ValueError(
            f"BPE index at {path} has version {st['version']}, this build "
            f"reads {BPE_INDEX_VERSION} — rebuild the index"
        )
    # schemas given: no schema-inference job per table
    merges_df = spark.read.schema(_MERGES).parquet(f"{path}/merges")
    mrows = merges_df.orderBy("rank").collect()
    merges = [(r["left"], r["right"]) for r in mrows]
    return merges, spark.read.schema(_WORD_PIECES).parquet(f"{path}/word_pieces")


def append_bpe_index(
    new_docs: DataFrame, path: str, text_col: str = "text"
) -> int:
    """Incremental append for a new corpus batch under FROZEN merges
    (the frozen-parameter ANN-append precedent: the model does not
    move, only the lookup grows): encode ONLY the new batch's words
    not already in word_pieces (distinct -> left-anti against the
    store) and append them. Returns the number of words added.
    Append == rebuild-with-frozen-merges because encode_word is a pure
    function of (word, merges) — pinned in tests/test_bpe.py. A word's
    stored ``n`` is its count in the batch that INTRODUCED it (a
    cache-seeding priority, not a verified statistic — recount on
    rebuild if exact corpus frequencies are needed)."""
    spark = new_docs.sparkSession
    merges, wp = read_bpe_index(spark, path)
    from finlogic_spark.functions.text import tokens

    fresh = (
        new_docs.filter(F.col(text_col).isNotNull())
        .select(F.explode(tokens(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .join(wp.select("word"), "word", "left_anti")
        # the anti-join source must not race the append below
        .localCheckpoint(eager=True)
    )
    n = fresh.count()
    if n:
        _encode_words_df(fresh, merges).write.mode("append").parquet(
            f"{path}/word_pieces"
        )
    return n


def load_pieces_lookup(
    spark, path: str, max_words: int = 200_000
) -> dict[str, tuple[str, ...]]:
    """word -> pieces dict from the persisted index, CAPPED to the
    ``max_words`` most frequent words (count desc, word asc — the
    top-30k-materialization precedent made explicit: a real corpus's
    vocabulary is unbounded, so an uncapped collect here would be a
    driver hazard at 100 TB). Seeding with the frequency head is the
    right cap: cache hits are weighted by occurrence, and misses fall
    back to the pure merge loop — correctness is unaffected by which
    subset loads (encode_word is deterministic)."""
    _merges, wp = read_bpe_index(spark, path)
    head = (
        wp.orderBy(F.col("n").desc(), F.col("word").asc())
        .limit(max_words)
        .collect()
    )
    return {r["word"]: tuple(r["pieces"]) for r in head}
