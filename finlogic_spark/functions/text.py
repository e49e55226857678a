"""Text-analysis column functions for the training-data pipeline surface
(engine-scope addition — the reference has no text ops; SURVEY.md §2.10).

Everything is a pure Column expression over built-in functions (split,
transform, aggregate, regexp) — JVM-side, no Python UDFs — and every
hash is ``md5``-based so the DuckDB oracle can reproduce results
bit-for-bit (Spark's xxhash64/hash have no DuckDB twin).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny built-in stopword lists for the language-ID heuristic. Real
# deployments swap in a proper table; the mechanism (broadcast join +
# argmax over per-language hit ratios) is what matters at scale.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "it", "for", "on", "with"),
    "es": ("el", "la", "de", "que", "y", "en", "un", "es", "por", "con"),
    "de": ("der", "die", "und", "das", "von", "zu", "mit", "ist", "auf", "ein"),
    "fr": ("le", "la", "de", "et", "un", "que", "est", "pour", "dans", "avec"),
    "pt": ("o", "a", "de", "que", "e", "em", "um", "para", "com", "por"),
}

_WORD_RE = "[A-Za-z0-9]+"


def tokens(col: str | Column) -> Column:
    """Lower-cased whitespace tokens, empties removed."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.lower(c), "\\s+"), lambda t: t != "")


def bind(expr: Column, fn) -> Column:
    """Evaluate ``fn(x)`` with ``expr`` bound to the lambda variable
    ``x``: the expression computes ONCE per row no matter how many times
    ``fn`` references it. Catalyst HOF lambdas don't share
    subexpressions — an expression referenced d times is re-inlined and
    re-evaluated d times without this (measured: dominates per-row cost
    for array-building exprs)."""
    return F.element_at(F.transform(F.array(expr), fn), 1)


def _with_tokens(col: str | Column, fn) -> Column:
    """``bind`` specialized to the tokenizer."""
    return bind(tokens(col), fn)


def bigrams(ts: Column) -> Column:
    """Adjacent-token bigram strings from a (lambda-bound) token array.
    Empty for fewer than two tokens; null for null input."""
    n = F.size(ts)
    return F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.concat(
                F.element_at(ts, i), F.lit(" "), F.element_at(ts, i + 1)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


def token_count(col: str | Column) -> Column:
    """Whitespace token count."""
    return F.size(tokens(col))


def bpe_ish_token_count(col: str | Column) -> Column:
    """Sub-word-ish token count: alphanumeric runs + each remaining
    non-space symbol counts as one token (a cheap BPE proxy)."""
    c = F.col(col) if isinstance(col, str) else col
    words = F.regexp_count(c, F.lit(_WORD_RE))
    symbols = F.regexp_count(c, F.lit("[^A-Za-z0-9\\s]"))
    return words + symbols


def char_count(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.length(c)


def punct_ratio(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit("[^A-Za-z0-9\\s]")) / F.greatest(
        F.length(c), F.lit(1)
    )


def mean_token_len(col: str | Column) -> Column:
    def calc(t: Column) -> Column:
        total = F.aggregate(
            t, F.lit(0).cast("double"), lambda acc, x: acc + F.length(x)
        )
        return total / F.greatest(F.size(t), F.lit(1))

    return _with_tokens(col, calc)


def _stopword_ratio_expr(t: Column, lang: str) -> Column:
    sw = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    hits = F.size(F.filter(t, lambda x: F.array_contains(sw, x)))
    return hits / F.greatest(F.size(t), F.lit(1))


def stopword_ratio(col: str | Column, lang: str = "en") -> Column:
    """Fraction of tokens that are stopwords of ``lang``."""
    return _with_tokens(col, lambda t: _stopword_ratio_expr(t, lang))


def quality_score(col: str | Column) -> Column:
    """Heuristic document quality in [0, 1]: rewards moderate length,
    penalizes punctuation soup and degenerate token lengths. The exact
    recipe is arbitrary; determinism and SQL-expressibility are the
    contract (oracle mirrors it term by term)."""
    length_term = F.least(char_count(col) / F.lit(500.0), F.lit(1.0))
    punct_term = F.lit(1.0) - F.least(punct_ratio(col) * F.lit(4.0), F.lit(1.0))
    # Bind the mean token length so its aggregate runs once, not once
    # per comparison in the range check.
    tok_term = F.element_at(
        F.transform(
            F.array(mean_token_len(col)),
            lambda m: F.when((m >= 3) & (m <= 10), F.lit(1.0)).otherwise(F.lit(0.5)),
        ),
        1,
    )
    return (length_term + punct_term + tok_term) / F.lit(3.0)


def lang_id(col: str | Column) -> Column:
    """Argmax language by stopword ratio; deterministic tiebreak by
    language code order (array_position → first max wins); 'und'
    (undetermined) when no stopword hits.

    One tokenization + one ratio per language per row: the token array
    and the score array are both lambda-bound, where the naive
    when-chain re-evaluates every ratio (and its tokenization) once in
    greatest() and again per comparison."""
    langs = list(STOPWORDS)

    def pick(t: Column) -> Column:
        scores = F.array(*[_stopword_ratio_expr(t, lang) for lang in langs])

        def argmax(s: Column) -> Column:
            best = F.array_max(s)
            idx = F.array_position(s, best).cast("int")
            return F.when(
                best > 0, F.element_at(F.array(*[F.lit(x) for x in langs]), idx)
            ).otherwise(F.lit("und"))

        return F.element_at(F.transform(F.array(scores), argmax), 1)

    return _with_tokens(col, pick)


def fingerprint(col: str | Column) -> Column:
    """Order-insensitive document fingerprint: md5 over the sorted
    token multiset — robust to token reordering, cheap, and exactly
    reproducible in SQL (oracle: md5 of the same canonical string)."""
    canonical = F.array_join(F.array_sort(tokens(col)), " ")
    return F.md5(canonical)


def repetition_signals(col: str | Column) -> Column:
    """Gopher-style within-document repetition signals as one struct:
    ``n_tokens``, ``distinct_ratio`` (distinct/total tokens — low means
    the doc loops over few words), ``top_bigram_frac`` (share of the
    doc's bigrams taken by its most frequent bigram — high means boiler-
    plate/chant repetition). Nulls propagate (null text, <2 tokens →
    null bigram fraction); downstream filters coalesce.

    Expression-only and shuffle-FREE: the per-row mode count is
    O(distinct·n) over the (lambda-bound, computed-once) bigram array —
    for bounded-length documents that beats the explode→groupBy(doc,
    gram) alternative, whose shuffle carries every bigram occurrence of
    the corpus."""

    def stats(ts: Column) -> Column:
        n = F.size(ts)

        def inner(bg: Column) -> Column:
            top = F.array_max(
                F.transform(
                    F.array_distinct(bg),
                    lambda x: F.size(F.filter(bg, lambda y: y == x)),
                )
            )
            return F.struct(
                n.cast("long").alias("n_tokens"),
                F.try_divide(
                    F.size(F.array_distinct(ts)).cast("double"),
                    n.cast("double"),
                ).alias("distinct_ratio"),
                F.try_divide(
                    top.cast("double"), F.size(bg).cast("double")
                ).alias("top_bigram_frac"),
            )

        return bind(bigrams(ts), inner)

    return _with_tokens(col, stats)
