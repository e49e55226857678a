"""Tests for round-7b operators: sliding distinct (exact + HLL
sketch), sorted-neighborhood candidate pairs, positional phrase
search, bigram LM scoring."""

from __future__ import annotations

import inspect
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from finlogic_spark.operators.corpus import bigram_logprob_score
from finlogic_spark.operators.search import (
    build_positional_postings_table,
    phrase_search,
)
from finlogic_spark.operators.sliding import (
    sliding_distinct_exact,
    sliding_distinct_sketch,
)
from finlogic_spark.operators.text_dedup import sorted_neighborhood_pairs


def _ts(s):
    return datetime.strptime(s, "%Y-%m-%d %H:%M:%S")


# ------------------------------------------------------- sliding distinct

def _events(spark):
    rows = []
    # hour 0: users 1,2; hour 1: users 2,3; hour 3: user 9 (hour 2 silent)
    for u in (1, 2):
        rows.append((u, _ts("2024-01-01 00:15:00")))
    for u in (2, 3):
        rows.append((u, _ts("2024-01-01 01:45:00")))
    rows.append((9, _ts("2024-01-01 03:05:00")))
    return spark.createDataFrame(rows, "user_id long, ts timestamp")


def test_sliding_distinct_exact_semantics(spark):
    out = {
        r.bucket_ts.hour: r.u_trailing
        for r in sliding_distinct_exact(
            _events(spark), "ts", "user_id", width=3, step="1 hour"
        ).collect()
    }
    # hour 0: {1,2}; hour 1: {1,2,3}; hour 2 silent -> no row;
    # hour 3 trailing window = hours 1..3 -> {2,3,9}
    assert out == {0: 2, 1: 3, 3: 3}


def test_sliding_distinct_width_one_is_per_bucket(spark):
    out = {
        r.bucket_ts.hour: r.u_trailing
        for r in sliding_distinct_exact(
            _events(spark), "ts", "user_id", width=1, step="1 hour"
        ).collect()
    }
    assert out == {0: 2, 1: 2, 3: 1}


def test_sliding_distinct_sketch_matches_exact_within_error(spark):
    # Larger synthetic load: 48 hourly buckets, overlapping user sets.
    rows = [
        (u + 37 * (h % 5), _ts(f"2024-01-{1 + h // 24:02d} {h % 24:02d}:30:00"))
        for h in range(48)
        for u in range(120)
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp")
    exact = {
        r.bucket_ts: r.u_trailing
        for r in sliding_distinct_exact(ev, "ts", "user_id", width=3).collect()
    }
    est = {
        r.bucket_ts: r.u_trailing
        for r in sliding_distinct_sketch(
            ev, "ts", "user_id", width=3, lgk=12
        ).collect()
    }
    assert est.keys() == exact.keys()
    for b, true_n in exact.items():
        # HLL lgk=12 standard error ~1.6%; allow 5%.
        assert abs(est[b] - true_n) <= max(2, 0.05 * true_n), (
            b, true_n, est[b],
        )


def test_sliding_distinct_validates_inputs(spark):
    ev = _events(spark)
    with pytest.raises(ValueError):
        sliding_distinct_exact(ev, "ts", "user_id", width=0)
    with pytest.raises(ValueError):
        sliding_distinct_exact(ev, "ts", "user_id", step="1 month")


# --------------------------------------------------- sorted neighborhood

def test_sorted_neighborhood_window_and_blocks(spark):
    df = spark.createDataFrame(
        [
            (1, "A", "aaa"),
            (2, "A", "aab"),
            (3, "A", "aac"),
            (4, "A", "zzz"),
            (5, "B", "aaa"),
        ],
        "id long, blk string, key string",
    )
    pairs = sorted_neighborhood_pairs(
        df, "id", sort_key=F.col("key"), block_key=F.col("blk"), window=2,
        payload=F.col("key"),
    )
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    # Block A sort order: 1,2,3,4 -> (1,2),(1,3),(2,3),(2,4),(3,4);
    # block B has a single row -> no pairs; never cross-block.
    assert got == {(1, 2), (1, 3), (2, 3), (2, 4), (3, 4)}
    assert all(a != 5 and b != 5 for a, b in got)


def test_sorted_neighborhood_score_column(spark):
    # score= computes the verify expression pre-explode (single eval);
    # its values must equal computing the same expression on the
    # emitted payloads.
    df = spark.createDataFrame(
        [(1, "A", "abcd"), (2, "A", "abce"), (3, "A", "zzzz")],
        "id long, blk string, key string",
    )
    pairs = sorted_neighborhood_pairs(
        df, "id", F.col("key"), F.col("blk"), window=2,
        payload=F.col("key"),
        score=lambda a, b: F.levenshtein(a, b),
    )
    got = {(r.id_a, r.id_b): r.score for r in pairs.collect()}
    assert got == {(1, 2): 1, (1, 3): 4, (2, 3): 4}


def test_sorted_neighborhood_tiebreak_deterministic(spark):
    # Identical sort keys: order falls back to id, so pairs are stable
    # across reshuffles.
    df = spark.createDataFrame(
        [(i, "A", "same") for i in (3, 1, 2)], "id long, blk string, key string"
    )
    pairs = sorted_neighborhood_pairs(
        df.repartition(8), "id", F.col("key"), F.col("blk"), window=1
    )
    assert {(r.id_a, r.id_b) for r in pairs.collect()} == {(1, 2), (2, 3)}
    with pytest.raises(ValueError):
        sorted_neighborhood_pairs(df, "id", F.col("key"), F.col("blk"), window=0)


# -------------------------------------------------------- phrase search

def _docs(spark):
    return spark.createDataFrame(
        [
            (1, "the cat sat on the mat"),
            (2, "cat cat cat"),
            (3, "the dog"),
            (4, "THE Cat sat"),
            (5, None),
        ],
        "doc_id long, text string",
    )


def test_phrase_search_adjacency_and_case(spark):
    out = {
        r.doc_id: r.n_matches
        for r in phrase_search(_docs(spark), ["the", "cat"]).collect()
    }
    # doc 1 once, doc 4 once (case-folded); doc 3 has 'the' but not
    # 'the cat'; null text never crashes.
    assert out == {1: 1, 4: 1}


def test_phrase_search_repeated_token_counts_overlaps(spark):
    out = {
        r.doc_id: r.n_matches
        for r in phrase_search(_docs(spark), ["cat", "cat"]).collect()
    }
    # 'cat cat cat' contains TWO overlapping occurrences.
    assert out == {2: 2}


def test_phrase_search_single_token_and_prebuilt_postings(spark, tmp_path):
    docs = _docs(spark)
    p = build_positional_postings_table(docs, str(tmp_path / "posidx"))
    out = {
        r.doc_id: r.n_matches
        for r in phrase_search(docs, ["Cat"], postings=p).collect()
    }
    assert out == {1: 1, 2: 3, 4: 1}
    with pytest.raises(ValueError):
        phrase_search(docs, [])


def test_phrase_persisted_index_serves_and_pins_n_buckets(spark, tmp_path):
    from finlogic_spark.operators.search import read_positional_postings

    docs = _docs(spark)
    path = str(tmp_path / "posidx")
    idx = build_positional_postings_table(docs, path, n_buckets=8)
    assert idx.n_buckets == 8

    # Served results identical to from-scratch.
    fresh = {
        r.doc_id: r.n_matches
        for r in phrase_search(docs, ["the", "cat"]).collect()
    }
    served = {
        r.doc_id: r.n_matches
        for r in phrase_search(docs, ["the", "cat"], postings=idx).collect()
    }
    assert served == fresh == {1: 1, 4: 1}

    # Reopening reads n_buckets from the _stats sidecar.
    reopened = read_positional_postings(spark, path)
    assert reopened.n_buckets == 8
    served2 = {
        r.doc_id: r.n_matches
        for r in phrase_search(docs, ["the", "cat"],
                               postings=reopened).collect()
    }
    assert served2 == fresh

    # The footgun is CLOSED: the bucket count can only come from the
    # sidecar, so there is no caller value to contradict it.
    assert "n_buckets" not in inspect.signature(phrase_search).parameters


# ----------------------------------------------------------- bigram LM

def test_bigram_logprob_hand_check(spark):
    import math

    docs = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "a c"), (4, "x")],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: (r.n_bigrams, r.logprob_per_bigram)
        for r in bigram_logprob_score(docs, "text", "doc_id").collect()
    }
    # Corpus tokens: a,b,a,b,a,c,x (N=7). c1(a)=3. c2(a,b)=2, c2(a,c)=1.
    # p(b|a) = .75*2/3 + .25*2/7 ; p(c|a) = .75*1/3 + .25*1/7
    lp_ab = math.floor(math.log(0.75 * 2 / 3 + 0.25 * 2 / 7) * 1e6) / 1e6
    lp_ac = math.floor(math.log(0.75 * 1 / 3 + 0.25 * 1 / 7) * 1e6) / 1e6
    assert out[1] == (1, math.floor(lp_ab * 1e6 + 0.5) / 1e6)
    assert out[2] == out[1]
    assert out[3] == (1, math.floor(lp_ac * 1e6 + 0.5) / 1e6)
    assert 4 not in out  # single-token doc: no bigrams


def test_bigram_flags_word_salad_below_fluent(spark):
    # Fluent docs repeat common transitions; salad doc uses the same
    # unigrams in never-seen orders -> lower bigram score.
    fluent = [(i, "the cat sat on the mat") for i in range(10)]
    salad = [(100, "mat the on sat cat the")]
    docs = spark.createDataFrame(fluent + salad, "doc_id long, text string")
    out = {
        r.doc_id: r.logprob_per_bigram
        for r in bigram_logprob_score(docs, "text", "doc_id").collect()
    }
    assert out[100] < out[0]


# ----------------------------------------------------------- MMR rerank

def _mmr_input(spark):
    # q1: doc 1 and 2 are near-identical (relevance 0.99/0.98), doc 3
    # is orthogonal with lower relevance (0.60).
    rows = [
        (1, 1, 0.99, [1.0, 0.0, 0.0]),
        (1, 2, 0.98, [0.999, 0.01, 0.0]),
        (1, 3, 0.60, [0.0, 1.0, 0.0]),
        (2, 7, 0.50, [0.0, 0.0, 1.0]),
    ]
    return spark.createDataFrame(
        rows,
        "query_id long, vec_id long, cos_sim double, embedding array<double>",
    )


def test_mmr_diversifies_over_pure_relevance(spark):
    from finlogic_spark.operators.similarity import mmr_rerank

    out = sorted(
        (r.query_id, r.rk, r.vec_id)
        for r in mmr_rerank(_mmr_input(spark), k=2, lam=0.5).collect()
    )
    # Pure relevance picks (1, 2); MMR at lam=0.5 picks the orthogonal
    # doc 3 second: 0.5*0.98 - 0.5*~1.0 < 0.5*0.60 - 0.5*~0.0.
    assert out == [(1, 1, 1), (1, 2, 3), (2, 1, 7)]


def test_mmr_golden_trace_vs_independent_reference(spark):
    """Data oracle for MMR: the operator's full (id, score, rank)
    trace must equal an INDEPENDENT in-test greedy implementation
    (pure-python cosine + argmax over the same floats) on a case with
    mixed geometry — correlated clusters, an anti-correlated vector
    (negative-cosine penalty RAISES its score), a zero vector, and
    relevance ties. This is the hash-style oracle the registry can't
    express in SQL (the greedy loop is inherently iterative)."""
    import math

    import pytest

    from finlogic_spark.operators.similarity import mmr_rerank

    def ref_mmr(cands, k, lam):
        def cos(a, b):
            na = math.sqrt(sum(x * x for x in a))
            nb = math.sqrt(sum(x * x for x in b))
            if na == 0.0 or nb == 0.0:
                return 0.0
            return sum(x * y for x, y in zip(a, b)) / (na * nb)

        remaining = sorted(cands, key=lambda t: (-t[1], t[0]))
        selected, out = [], []
        while remaining and len(out) < k:
            best_i = 0
            best_score = None
            for i, (cid, rel, vec) in enumerate(remaining):
                pen = max(
                    (cos(vec, s[2]) for s in selected), default=0.0
                )
                score = lam * rel - (1.0 - lam) * pen
                if best_score is None or score > best_score:
                    best_i, best_score = i, score
            chosen = remaining.pop(best_i)
            selected.append(chosen)
            out.append((chosen[0], best_score, len(out)))
        return out

    cands = {
        1: [
            (10, 0.95, [1.0, 0.1, 0.0]),
            (11, 0.90, [0.9, 0.2, 0.1]),   # near-dup of 10
            (12, 0.70, [0.0, 1.0, 0.0]),   # orthogonal
            (13, 0.40, [-1.0, -0.1, 0.0]),  # anti-correlated with 10
            (14, 0.40, [0.0, 0.0, 0.0]),   # zero vector -> sim 0
            (15, 0.90, [0.5, 0.5, 0.5]),   # relevance tie with 11
        ],
        2: [
            (20, 0.80, [0.2, 0.3, 0.9]),
            (21, 0.60, [0.2, 0.3, 0.9]),   # exact dup of 20
            (22, 0.55, [0.9, 0.0, 0.1]),
        ],
    }
    rows = [
        (q, cid, rel, vec)
        for q, lst in cands.items()
        for (cid, rel, vec) in lst
    ]
    df = spark.createDataFrame(
        rows,
        "query_id long, vec_id long, cos_sim double, embedding array<double>",
    )
    lam, k = 0.6, 4
    got = {
        (r.query_id, r.rk): (r.vec_id, r.mmr_score)
        for r in mmr_rerank(df, k=k, lam=lam).collect()
    }
    want = {
        (q, rk + 1): (cid, score)
        for q, lst in cands.items()
        for (cid, score, rk) in ref_mmr(lst, k, lam)
    }
    assert set(got) == set(want)
    for key, (cid, score) in want.items():
        assert got[key][0] == cid, (key, got[key], (cid, score))
        assert got[key][1] == pytest.approx(score, abs=1e-9), key
    # sanity: the trace is non-trivial (near-dup 11 NOT picked second)
    assert want[(1, 2)][0] != 11


def test_mmr_lam_one_is_pure_relevance(spark):
    from finlogic_spark.operators.similarity import mmr_rerank

    out = sorted(
        (r.query_id, r.rk, r.vec_id)
        for r in mmr_rerank(_mmr_input(spark), k=3, lam=1.0).collect()
    )
    assert out == [(1, 1, 1), (1, 2, 2), (1, 3, 3), (2, 1, 7)]


def test_mmr_deterministic_and_degenerate_vectors(spark):
    import pytest

    from finlogic_spark.operators.similarity import mmr_rerank

    # Ties + a null and a zero vector: no NaN, stable under reshuffle.
    rows = [
        (1, 10, 0.9, None),
        (1, 11, 0.9, [0.0, 0.0]),
        (1, 12, 0.9, [1.0, 0.0]),
    ]
    df = spark.createDataFrame(
        rows,
        "query_id long, vec_id long, cos_sim double, embedding array<double>",
    )
    a = [tuple(r) for r in mmr_rerank(df, k=3).orderBy("rk").collect()]
    b = [
        tuple(r)
        for r in mmr_rerank(df.repartition(8), k=3).orderBy("rk").collect()
    ]
    assert a == b
    assert a[0][1] == 10  # tie at rel 0.9 -> lowest id first
    assert all(s == s for (_, _, s, _) in a)  # no NaN scores
    with pytest.raises(ValueError):
        mmr_rerank(df, k=0)
    with pytest.raises(ValueError):
        mmr_rerank(df, k=2, lam=1.5)


# ------------------------------------------------------- hard negatives

def test_hard_negatives_excludes_same_label_and_self(spark):
    from finlogic_spark.operators.similarity import hard_negatives

    corpus = spark.createDataFrame(
        [
            (1, [1.0, 0.0], 0),
            (2, [0.99, 0.1], 0),   # same label as anchor: excluded
            (3, [0.9, 0.3], 1),    # hard negative (closest other-label)
            (4, [0.0, 1.0], 1),    # easy negative
            (5, [0.5, 0.5], 2),
        ],
        "vec_id long, embedding array<double>, label int",
    )
    queries = corpus.filter(F.col("vec_id") == 1).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
        F.col("label").alias("query_label"),
    )
    out = [(r.vec_id, r.rk) for r in hard_negatives(
        corpus, queries, k=3
    ).orderBy("rk").collect()]
    # ranked by cosine among labels != 0: 3 (0.95) > 5 (0.71) > 4 (0.0)
    assert out == [(3, 1), (5, 2), (4, 3)]


# ------------------------------------------------------------ PSI drift

def test_psi_drift_zero_for_identical_and_large_for_shifted(spark):
    from finlogic_spark.operators.profile import psi_drift

    same = spark.createDataFrame(
        [("a", float(v % 50)) for v in range(500)],
        "g string, value double",
    )
    shifted = spark.createDataFrame(
        [("a", 40.0 + float(v % 10)) for v in range(500)],
        "g string, value double",
    )
    stable = {r.g: r.psi for r in psi_drift(
        same, same, "g", "value", lo=0.0, hi=50.0, n_bins=10
    ).collect()}
    drifted = {r.g: r.psi for r in psi_drift(
        same, shifted, "g", "value", lo=0.0, hi=50.0, n_bins=10
    ).collect()}
    assert abs(stable["a"]) < 1e-5          # identical -> PSI ~ 0
    assert drifted["a"] > 0.25              # mass moved to two bins


def test_psi_drift_skips_null_nan_and_one_sided_groups(spark):
    from finlogic_spark.operators.profile import psi_drift

    ref = spark.createDataFrame(
        [("a", 1.0), ("a", None), ("a", float("nan")), ("b", 2.0)],
        "g string, value double",
    )
    cur = spark.createDataFrame(
        [("a", 1.0), ("a", 2.0)], "g string, value double"
    )
    out = {r.g: (r.psi, r.n_ref, r.n_cur) for r in psi_drift(
        ref, cur, "g", "value", lo=0.0, hi=10.0, n_bins=5
    ).collect()}
    # group b exists only in ref -> omitted; null/NaN excluded from n_ref
    assert set(out) == {"a"}
    assert out["a"][1] == 1 and out["a"][2] == 2


def test_mmr_negative_similarity_raises_score_not_clamped(spark):
    # An anti-correlated candidate's max_sim is NEGATIVE, which must
    # RAISE its MMR score (regression: max_sim started at 0 and
    # clamped negatives, flipping the selection).
    from finlogic_spark.operators.similarity import mmr_rerank

    rows = [
        (1, 1, 0.90, [1.0, 0.0]),
        (1, 2, 0.80, [-1.0, 0.0]),   # cos to doc1 = -1 -> mmr 0.85
        (1, 3, 0.85, [0.0, 1.0]),    # cos to doc1 = 0  -> mmr 0.425
    ]
    df = spark.createDataFrame(
        rows,
        "query_id long, vec_id long, cos_sim double, embedding array<double>",
    )
    out = [
        (r.rk, r.vec_id, r.mmr_score)
        for r in mmr_rerank(df, k=2, lam=0.5).orderBy("rk").collect()
    ]
    assert [(rk, v) for rk, v, _ in out] == [(1, 1), (2, 2)]
    assert abs(out[1][2] - (0.5 * 0.8 + 0.5 * 1.0)) < 1e-9


def test_mmr_null_relevance_rows_are_dropped(spark):
    # cosine() yields NULL for zero-norm query vectors; such rows are
    # unrankable and must be dropped, never ranked first with NaN
    # (regression: NaN propagated through argmax).
    from finlogic_spark.operators.similarity import mmr_rerank

    rows = [
        (1, 1, None, [1.0, 0.0]),
        (1, 2, 0.5, [0.0, 1.0]),
    ]
    df = spark.createDataFrame(
        rows,
        "query_id long, vec_id long, cos_sim double, embedding array<double>",
    )
    out = [(r.rk, r.vec_id, r.mmr_score) for r in mmr_rerank(df, k=3).collect()]
    assert out == [(1, 2, 0.7 * 0.5)]
    # all-null group -> no rows, no crash
    allnull = df.filter(F.col("vec_id") == 1)
    assert mmr_rerank(allnull, k=2).count() == 0


def test_sliding_distinct_ignores_null_keys_but_keeps_their_buckets(spark):
    # COUNT(DISTINCT) semantics: null keys never count (matching the
    # HLL tier, the streaming twin, and the SQL oracle) but a bucket
    # whose only events carry null keys is still event-bearing and
    # reports its trailing count (regression: count(lit(1)) counted
    # the null pair).
    rows = [
        (1, _ts("2024-01-01 00:10:00")),
        (None, _ts("2024-01-01 00:20:00")),
        (None, _ts("2024-01-01 05:30:00")),  # null-only bucket
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp")
    out = {
        r.bucket_ts.hour: r.u_trailing
        for r in sliding_distinct_exact(ev, "ts", "user_id", width=3).collect()
    }
    assert out == {0: 1, 5: 0}
