"""Exact φ-heavy-hitters without shuffling the full item distribution.

The 100 TB frequent-items shape: a straight ``groupBy(item).count()``
over token occurrences shuffles one row per DISTINCT item per map task
— at corpus scale that is the full vocabulary (10⁸⁺ keys) crossing the
wire to answer a question whose output is a handful of rows. This
operator answers it EXACTLY in two scans, neither of which shuffles
the distribution:

1. **Screen** (map-only): each partition computes its exact local item
   counts (a per-partition dict — bounded by the partition's own
   vocabulary, the same memory shape as the map-side hash aggregate
   Spark would build anyway) and emits only items with LOCAL frequency
   ≥ φ/2, plus one row carrying the partition's total. This is a
   provable superset of the global φ-heavy-hitters with NO balance
   assumptions: if an item's local count were < (φ/2)·n_p in every
   partition p, its global count would be < (φ/2)·Σn_p = (φ/2)·n < φ·n.
   Candidate volume is ≤ 2/φ per partition (the Misra-Gries bound with
   k = ⌈2/φ⌉ counters) — a few thousand rows total, never the vocab.
2. **Verify** (exact): count ONLY the candidates — a broadcast
   semi-join prunes the explode before the shuffle, so the exchange
   carries candidate occurrences, not the distribution — and keep
   items with exact global count ≥ φ·n. The output is exact and
   deterministic: the screen can only add candidates, never lose a
   true heavy hitter, and the final counts are true counts.

(The reference has no frequent-items operator; this is engine scope —
SURVEY §2.10 — motivated by vocab/stopword extraction over a training
corpus where the distribution itself is too heavy to shuffle.)

Measured adjudication (BENCH_r12b_probes.json,
sf100:doc_heavy_tokens_decomposition): the screen is a plan choice a
catalog statistic should make, not a universal win. On the bench
corpus the post-map-side-combine vocabulary is 29k exchange rows
TOTAL, so the plain one-shuffle groupBy is cheaper (13.5 s vs 35.5 s —
one box, exchange ≈ memcpy, and the screen tokenizes a second time);
the screen's regime is a heavy-tailed web-scale vocabulary (1e8+
distinct tokens × 1e4 map tasks in the exchange) on a network. Pick
screen+verify when (est. distinct items × map tasks) dwarfs 2/phi ×
partitions; both plans are answer-identical (parity-pinned).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "MisraGries",
    "frequency_screen",
    "ge_phi_n",
    "heavy_hitters",
    "heavy_tokens",
    "token_frequency_screen",
]


def ge_phi_n(count_col: Column, n_col: Column, phi: float) -> Column:
    """``count >= phi*n`` compared EXACTLY: phi is rationalized
    (Fraction.limit_denominator(10^6) — 0.001 becomes exactly 1/1000)
    and both sides compare in decimal(38,0) integer arithmetic,
    ``count*den >= n*num``. The float64 form is a boundary bug: 0.001
    rounds slightly ABOVE 1/1000, so an item whose count is exactly
    n/1000 passes an oracle's exact-DECIMAL ``HAVING cnt >= 0.001*n``
    but fails the float threshold — a data-dependent, boundary-only
    divergence. decimal(38,0) keeps the products exact far past int64
    (counts up to ~1e32 at den=1e6) with no ANSI overflow."""
    from fractions import Fraction

    fr = Fraction(phi).limit_denominator(1_000_000)
    return (
        count_col.cast("decimal(38,0)") * F.lit(fr.denominator)
        >= n_col.cast("decimal(38,0)") * F.lit(fr.numerator)
    )


def frequency_screen(items: DataFrame, item_col: str, phi: float) -> DataFrame:
    """Map-only candidate screen: rows ``(item, local_cnt)`` for items
    with local frequency ≥ φ/2, plus one ``(NULL, n_p)`` total row per
    partition. Output is ≤ ⌈2/φ⌉ + 1 rows per partition."""
    if not (0.0 < phi < 1.0):
        raise ValueError(f"phi must be in (0, 1), got {phi}")
    half = phi / 2.0
    item_type = items.schema[item_col].dataType.simpleString()
    schema = f"`{item_col}` {item_type}, __cnt bigint"

    def screen(batches):
        import pandas as pd

        counts: dict[str, int] = {}
        total = 0
        for pdf in batches:
            col = pdf[item_col].dropna()
            total += len(col)
            # vectorized per Arrow batch; the dict holds the partition's
            # exact local distribution (same footprint as the map-side
            # hash aggregate a plain groupBy would build here)
            for item, c in col.value_counts().items():
                counts[item] = counts.get(item, 0) + int(c)
        thresh = half * total
        rows = [(it, c) for it, c in counts.items() if c >= thresh]
        rows.append((None, total))  # partition-total marker row
        yield pd.DataFrame(rows, columns=[item_col, "__cnt"])

    return items.mapInPandas(screen, schema=schema)


def heavy_hitters(
    items: DataFrame,
    item_col: str | Column,
    phi: float,
    out_count: str = "cnt",
) -> DataFrame:
    """Items whose global frequency is ≥ φ, with EXACT counts.

    ``items`` is the occurrence frame (one row per occurrence, e.g. an
    exploded token column). Two scans of it: the screen (map-only, no
    shuffle of the distribution) and the candidate-filtered exact
    count. The φ·n threshold is applied inside the plan from the
    screen's total rows — no driver-side count, no collect."""
    if isinstance(item_col, Column):
        items = items.select(item_col.alias("__item"))
        item_col = "__item"
    scr = frequency_screen(items, item_col, phi).localCheckpoint(eager=False)
    total = scr.filter(F.col(item_col).isNull()).agg(
        F.sum("__cnt").alias("__n")
    )
    cand = scr.filter(F.col(item_col).isNotNull()).select(item_col).distinct()
    exact = (
        items.join(F.broadcast(cand), item_col, "left_semi")
        .groupBy(item_col)
        .agg(F.count(F.lit(1)).alias(out_count))
    )
    return (
        exact.crossJoin(F.broadcast(total))
        .filter(ge_phi_n(F.col(out_count), F.col("__n"), phi))
        .drop("__n")
    )


class MisraGries:
    """Mergeable Misra-Gries frequent-items summary [Misra & Gries
    1982; mergeability per Agarwal et al., "Mergeable Summaries",
    PODS'12]: at most ``k`` (item, counter) pairs; every item's true
    count c satisfies counter <= c <= counter + err, with the total
    undercount ``err`` bounded by n/(k+1) for n items absorbed.

    Batch decrement: when the table exceeds k entries, subtract the
    (k+1)-th largest counter from ALL entries and drop the non-positive
    — each such event removes >= (k+1)*delta of stored mass, which is
    what gives the n/(k+1) bound. Any item with frequency > 1/(k+1)
    therefore always survives with a positive counter — the no-miss
    screen guarantee the streaming twin (stream_heavy_tokens) relies
    on with k = ceil(2/phi).

    ``to_parts``/``from_parts`` give the wire format (arrays of items
    and counters) that rides an applyInPandasWithState state row."""

    __slots__ = ("k", "n", "counts")

    def __init__(self, k: int):
        if k < 1:
            raise ValueError(f"k must be >= 1, got {k}")
        self.k = k
        self.n = 0
        self.counts: dict[str, int] = {}

    def extend_weighted(self, items, weights) -> None:
        """Fold (item, count) pairs in (e.g. a pandas value_counts) —
        equivalent to inserting each item `count` times."""
        import numpy as np

        d = self.counts
        for it, w in zip(items, weights):
            w = int(w)
            self.n += w
            d[it] = d.get(it, 0) + w
        if len(d) > self.k:
            vals = np.fromiter(d.values(), dtype=np.int64, count=len(d))
            # (k+1)-th largest = ascending index len-k-1
            delta = int(np.partition(vals, len(d) - self.k - 1)[len(d) - self.k - 1])
            self.counts = {it: c - delta for it, c in d.items() if c > delta}

    def to_parts(self) -> tuple[int, int, list[str], list[int]]:
        items = sorted(self.counts)  # deterministic state bytes
        return self.k, self.n, items, [self.counts[i] for i in items]

    @classmethod
    def from_parts(cls, k: int, n: int, items, counters) -> "MisraGries":
        s = cls(k)
        s.n = n
        s.counts = dict(zip(items, counters))
        return s


# Java's \s (non-UNICODE_CHARACTER_CLASS) — the exact splitter
# functions/text.py tokens() uses JVM-side. The pandas screen must
# tokenize identically or a heavy token containing an exotic space
# could be screened out (the verify pass always uses the JVM
# tokenizer, so correctness of COUNTS never depends on this — only
# screen recall does).
_JAVA_WS = "[ \\t\\n\\x0b\\f\\r]+"


def token_frequency_screen(
    docs: DataFrame, text_col: str, phi: float
) -> DataFrame:
    """The frequency screen specialized for token streams: tokenize
    INSIDE pandas so only the document strings cross Arrow, not one
    row per token occurrence. Measured at sf100 (5M docs, 430M
    occurrences): the generic screen over a Spark-side explode ships
    430M single-token rows into Python (~70 s); this ships 5M strings
    and does the split + value_counts vectorized per batch.

    Emits the same contract as frequency_screen: (token, local_cnt)
    for tokens with local frequency >= phi/2 plus one (NULL, n_p)
    total row per partition.

    Case-mapping parity: lowercasing happens JVM-SIDE (``F.lower`` in
    the projection shipped to the screen), never in Arrow —
    ``pc.utf8_lower`` is utf8proc's simple 1:1 mapping while Java's
    ``lower()`` applies full case mapping (U+0130 'İ' → 'i'+U+0307 on
    the JVM, plain 'i' in Arrow), so an Arrow-lowered candidate string
    could differ from the JVM token the verify pass counts and a
    non-ASCII heavy token would be silently screened out. Shipping
    JVM-lowered strings makes the screen tokenize the exact bytes the
    verify pass sees; full-lowered text is a fixed point of simple
    lowering, so no second mapping happens in Arrow."""
    import numpy as np

    if not (0.0 < phi < 1.0):
        raise ValueError(f"phi must be in (0, 1), got {phi}")
    half = phi / 2.0

    def screen(batches):
        import pandas as pd
        import pyarrow as pa
        import pyarrow.compute as pc

        # tokenize in Arrow C++ (RE2 \s == Java's ASCII \s) and hold
        # the partition's tokens as Arrow chunks — ONE C++ value_counts
        # at the end; only the candidate rows ever become Python
        # objects. (The pandas str.split + per-batch dict-merge path
        # was the sf100 bottleneck: ~30 s of Python re + vocab-sized
        # dict churn per partition.)
        chunks = []
        for pdf in batches:
            texts = pdf[text_col].dropna()
            if not len(texts):
                continue
            arr = pc.split_pattern_regex(
                pa.array(texts, type=pa.string()), _JAVA_WS
            )
            flat = pc.list_flatten(arr)
            # split keeps a leading empty for leading whitespace
            chunks.append(pc.filter(flat, pc.not_equal(flat, "")))
        if chunks:
            vc = pc.value_counts(pa.chunked_array(chunks))
            cnts = vc.field("counts").to_numpy(zero_copy_only=False)
            total = int(cnts.sum())
            keep = np.flatnonzero(cnts >= half * total)
            items = vc.field("values").take(pa.array(keep)).to_pylist()
            rows = [(it, int(cnts[i])) for it, i in zip(items, keep)]
        else:
            total, rows = 0, []
        rows.append((None, total))
        yield pd.DataFrame(rows, columns=["token", "__cnt"])

    lowered = docs.select(F.lower(F.col(text_col)).alias(text_col))
    return lowered.mapInPandas(screen, schema="token string, __cnt bigint")


def heavy_tokens(docs: DataFrame, text_col: str, phi: float) -> DataFrame:
    """phi-heavy tokens over a document corpus with EXACT counts: the
    pandas-tokenizing screen (one scan of the document strings, map
    only) + the JVM-tokenized exact verify (explode pruned by a
    broadcast semi-join BEFORE its shuffle). Same two-scan shape and
    guarantees as heavy_hitters, with the screen's Arrow traffic cut
    from one row per occurrence to one per document."""
    from finlogic_spark.functions.text import tokens

    scr = token_frequency_screen(docs, text_col, phi).localCheckpoint(
        eager=False
    )
    total = scr.filter(F.col("token").isNull()).agg(F.sum("__cnt").alias("__n"))
    cand = scr.filter(F.col("token").isNotNull()).select("token").distinct()
    occ = docs.select(F.explode(tokens(text_col)).alias("token"))
    exact = (
        occ.join(F.broadcast(cand), "token", "left_semi")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return (
        exact.crossJoin(F.broadcast(total))
        .filter(ge_phi_n(F.col("cnt"), F.col("__n"), phi))
        .drop("__n")
    )
