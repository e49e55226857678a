"""Round-10 regression tests for the round-9 VERDICT/ADVICE items.

1. containment_pairs' max_doc_freq cap is LOSSY: a shingle whose doc
   frequency exceeds the cap silently drops out of every intersection,
   undercounting containment — the test makes the undercount VISIBLE
   on a boilerplate-fan corpus and pins that containment_prefix_pairs
   (the documented corpus-scale default) matches the uncapped result
   byte-for-byte on the same corpus.
2. tfidf_similar's forward-index literal query frame must accept numpy
   integer ids (schema inference rejects np.int64 unless elements are
   normalized to native Python scalars).
3. pareto_frontier_2d excludes null x/y up front — a null-x group must
   neither appear in the frontier nor suppress real points via the
   x-DESC running max.
"""

from pyspark.sql import functions as F


def _boilerplate_docs(spark, n=30, cap_breaker=25):
    """Corpus where one shingle run ('the same legal header text ...')
    is shared by cap_breaker docs: with max_doc_freq < cap_breaker the
    shared shingles vanish from every intersection."""
    header = "alpha beta gamma delta epsilon zeta"
    rows = []
    for i in range(n):
        uniq = " ".join(f"u{i}x{j}" for j in range(4))
        if i < cap_breaker:
            # near-identical docs: boilerplate header + tiny unique tail
            rows.append((i, f"{header} {uniq}"))
        else:
            rows.append((i, " ".join(f"v{i}y{j}" for j in range(12))))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_containment_cap_undercount_visible_prefix_exact(spark):
    from finlogic_spark.operators.text_dedup import (
        containment_pairs,
        containment_prefix_pairs,
    )

    docs = _boilerplate_docs(spark, n=30, cap_breaker=25)
    t = 0.5
    uncapped = sorted(
        map(
            tuple,
            containment_pairs(
                docs, "text", "doc_id", k=3, threshold=t, max_doc_freq=None
            ).collect(),
        )
    )
    capped = sorted(
        map(
            tuple,
            containment_pairs(
                docs, "text", "doc_id", k=3, threshold=t, max_doc_freq=10
            ).collect(),
        )
    )
    prefix = sorted(
        map(
            tuple,
            containment_prefix_pairs(
                docs, "text", "doc_id", k=3, threshold=t
            ).collect(),
        )
    )
    # The boilerplate shingles (df=25 > cap=10) are dropped from every
    # intersection: the capped path visibly loses pairs the truth has.
    assert len(uncapped) > 0
    assert len(capped) < len(uncapped)
    # The lossless prefix filter needs no cap and matches exactly.
    assert prefix == uncapped


def test_tfidf_forward_index_numpy_ids(spark, tmp_path):
    """np.int64 query ids must work on the served forward-index path:
    createDataFrame schema inference rejects numpy scalars unless the
    literal frame normalizes them to native Python values."""
    import numpy as np

    from finlogic_spark.operators.search import (
        build_postings_table,
        tfidf_similar,
    )
    from tests.test_round9_fixes import _mk_docs

    docs = _mk_docs(spark, "doc_id long, text string")
    idx = build_postings_table(docs, str(tmp_path / "pidxnp"), n_buckets=8)
    assert idx.forward is not None
    live = sorted(map(tuple, tfidf_similar(docs, [0, 1, 2], k=5).collect()))
    np_ids = list(np.array([0, 1, 2], dtype=np.int64))
    served = sorted(
        map(tuple, tfidf_similar(None, np_ids, k=5, postings=idx).collect())
    )
    assert served and live == served


def test_pareto_frontier_excludes_null_keys(spark):
    from finlogic_spark.operators.topk import pareto_frontier_2d

    rows = [
        (1.0, 10.0),
        (2.0, 5.0),
        (None, 99.0),  # null x: must not suppress (1.0, 10) or (2.0, 5)
        (3.0, None),  # null y: must not appear
        (3.0, 1.0),
    ]
    df = spark.createDataFrame(rows, "x double, y double")
    got = sorted(map(tuple, pareto_frontier_2d(df, "x", "y").collect()))
    assert got == [(1.0, 10.0), (2.0, 5.0), (3.0, 1.0)]


def test_trend_stats_fast_path_bounds_guard(spark):
    """The hi/lo long fast path must RAISE (not silently wrap) when a
    group's |x| exceeds 2^31, and wide=True must handle the same data
    exactly."""
    import pytest

    from finlogic_spark.operators.profile import trend_stats

    big = 1 << 40  # x beyond the fast path's 2^31 bound
    rows = [("k", big, 1.0), ("k", big + 1, 2.0), ("k", big + 2, 3.0)]
    df = spark.createDataFrame(rows, "k string, x long, y double")
    fast = trend_stats(df, ["k"], F.col("x"), F.col("y"))
    with pytest.raises(Exception) as exc:
        fast.collect()
    assert "wide=True" in str(exc.value)
    wide = trend_stats(df, ["k"], F.col("x"), F.col("y"), wide=True)
    r = wide.collect()[0]
    assert r["n"] == 3 and int(r["sx"]) == 3 * big + 3
    # Σx² = Σ (big+i)² for i in 0..2 — exact far past int64
    assert int(r["sxx"]) == sum((big + i) ** 2 for i in range(3))


def test_trend_stats_fast_equals_wide_in_bounds(spark):
    """Inside the bounds the two arithmetic paths are bit-identical."""
    from finlogic_spark.operators.profile import trend_stats

    rows = [
        ("a", i * 3600, float((i * 7) % 13) - 3.3) for i in range(50)
    ] + [("b", i * 60 + 5, float(i) * 0.01) for i in range(40)]
    df = spark.createDataFrame(rows, "k string, x long, y double")
    fast = {r["k"]: r.asDict() for r in trend_stats(df, ["k"], F.col("x"), F.col("y")).collect()}
    wide = {r["k"]: r.asDict() for r in trend_stats(df, ["k"], F.col("x"), F.col("y"), wide=True).collect()}
    assert fast == wide


def test_hilo_split_roundtrip_property():
    """The fast path's algebraic core: p = (p>>31)*2^31 + (p & (2^31-1))
    must hold for any int64 (arithmetic shift = floor division in two's
    complement) — checked over adversarial and random values."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    lo_mask = (1 << 31) - 1

    @settings(max_examples=500, deadline=None)
    @given(st.integers(min_value=-(2**62), max_value=2**62))
    def check(p):
        hi = p >> 31
        lo = p & lo_mask
        assert hi * (1 << 31) + lo == p
        assert 0 <= lo < (1 << 31)

    check()


def test_hashed_verify_matches_plain_counting(spark, monkeypatch):
    """_hashed_set_verify's intersection counts must equal the plain
    uncapped counting join's on a mixed corpus (fingerprint collisions
    are the only divergence mode and are ~impossible at test scale) —
    and the broadcast and shuffle variants must agree with each other."""
    from finlogic_spark.operators import text_dedup
    from finlogic_spark.operators.text_dedup import (
        containment_pairs,
        containment_prefix_pairs,
    )

    rows = [
        (i, " ".join(f"w{(i * 5 + j * 11) % 37}" for j in range(25)))
        for i in range(30)
    ] + [
        (200 + i, " ".join(f"w{(i * 5 + j * 11) % 37}" for j in range(25))
         + " tail" + str(i))
        for i in range(6)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    plain = sorted(
        map(tuple, containment_pairs(
            docs, "text", "doc_id", k=3, threshold=0.6, max_doc_freq=None
        ).collect())
    )
    for bcast in (True, False):
        with monkeypatch.context() as m:
            if not bcast:
                m.setattr(text_dedup, "BROADCAST_MAX_DOCS", 0)
            pref = sorted(
                map(tuple, containment_prefix_pairs(
                    docs, "text", "doc_id", k=3, threshold=0.6
                ).collect())
            )
        assert pref == plain and len(plain) > 0
