"""IVF similarity tier tests."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from finlogic_spark.operators.similarity import cosine_topk, ivf_topk


def _vectors(spark, n=60, dim=8):
    rows = [(i, [math.sin(i * 0.7 + j) for j in range(dim)]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id int, embedding array<double>")


def test_ivf_self_match_and_recall(spark):
    corpus = _vectors(spark)
    centroids = corpus.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    queries = corpus.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    approx = ivf_topk(corpus, queries, centroids, k=3, n_probe=3)
    rows = approx.collect()
    top1 = {r["query_id"]: r["vec_id"] for r in rows if r["rk"] == 1}
    # A query vector shares its own cell → always finds itself.
    assert top1 == {i: i for i in range(5)}
    exact = {
        (r["query_id"], r["vec_id"]) for r in cosine_topk(corpus, queries, 3).collect()
    }
    got = {(r["query_id"], r["vec_id"]) for r in rows}
    assert len(exact & got) / len(exact) >= 0.5


def test_ivf_probe_widening_monotone(spark):
    corpus = _vectors(spark)
    centroids = corpus.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    queries = corpus.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = {
        (r["query_id"], r["vec_id"]) for r in cosine_topk(corpus, queries, 3).collect()
    }

    def recall(n_probe):
        got = {
            (r["query_id"], r["vec_id"])
            for r in ivf_topk(corpus, queries, centroids, k=3, n_probe=n_probe).collect()
        }
        return len(exact & got) / len(exact)

    # Probing every cell IS brute force → recall 1; more probes ≥ fewer.
    r1, r_all = recall(1), recall(6)
    assert r_all == 1.0
    assert r_all >= r1


def test_cosine_neardup_finds_duplicates(spark):
    from finlogic_spark.operators.similarity import cosine_neardup_pairs

    base = _vectors(spark, n=20)
    # Clone vectors 3 and 7 with tiny perturbations: near-dups by design.
    dup = base.filter(F.col("vec_id").isin(3, 7)).select(
        (F.col("vec_id") + 100).alias("vec_id"),
        F.transform("embedding", lambda x: x * 1.0001).alias("embedding"),
    )
    df = base.unionByName(dup)
    pairs = cosine_neardup_pairs(df, threshold=0.999, dim=8, num_planes=4)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    # Scaled clones have cosine 1.0 and identical hyperplane signs, so
    # LSH bucketing can never separate them.
    assert (3, 103) in got and (7, 107) in got
    for a, b in got:
        assert b - a == 100 or abs(a - b) < 100  # no absurd pairs

    # Orientation + threshold invariants
    rows = pairs.collect()
    assert all(r["id_a"] < r["id_b"] for r in rows)
    assert all(r["cos_sim"] >= 0.999 for r in rows)


def test_neardup_degenerate_single_bucket(spark):
    """All-identical vectors collapse into ONE bucket — the worst-case
    distribution where candidate generation is quadratic. The
    max_bucket_size guard must drop the mega-bucket instead of
    expanding n²/2 pairs."""
    from finlogic_spark.operators.similarity import cosine_neardup_pairs

    n = 30
    df = spark.createDataFrame(
        [(i, [1.0] * 8) for i in range(n)], "vec_id int, embedding array<double>"
    )
    # Uncapped: every pair is a candidate and an actual near-dup.
    full = cosine_neardup_pairs(df, threshold=0.99, dim=8, num_planes=4)
    assert full.count() == n * (n - 1) // 2
    # Capped: the single mega-bucket is dropped entirely.
    capped = cosine_neardup_pairs(
        df, threshold=0.99, dim=8, num_planes=4, max_bucket_size=10
    )
    assert capped.count() == 0


def test_neardup_auto_planes_scale_with_corpus(spark):
    """num_planes=None derives the plane count from corpus size so
    expected bucket size stays ~constant (pairs ~n·target, not
    n²/2^const)."""
    from finlogic_spark.operators.similarity import (
        auto_num_planes,
        cosine_neardup_pairs,
    )

    assert auto_num_planes(1_000) < auto_num_planes(1_000_000)
    assert auto_num_planes(1_000_000) < auto_num_planes(10**9)
    # 2^planes ≈ n/target: expected bucket size within [target/2, 2·target]
    for n in (10**4, 10**6, 10**9):
        p = auto_num_planes(n, target_bucket_size=64)
        assert 32 <= n / 2**p <= 128

    base = _vectors(spark, n=40)
    got = cosine_neardup_pairs(base, threshold=0.9, dim=8, num_planes=None)
    got.count()  # plan resolves and runs with the derived plane count


def test_neardup_multi_table_recall_superset(spark):
    """Extra hash tables can only ADD candidate pairs (union of
    independent plane sets) — recall is monotone in num_tables."""
    from finlogic_spark.operators.similarity import cosine_neardup_pairs

    base = _vectors(spark, n=40)
    dup = base.filter(F.col("vec_id") < 4).select(
        (F.col("vec_id") + 100).alias("vec_id"),
        F.transform("embedding", lambda x: x * 1.0001).alias("embedding"),
    )
    df = base.unionByName(dup)
    one = {
        (r["id_a"], r["id_b"])
        for r in cosine_neardup_pairs(
            df, threshold=0.98, dim=8, num_planes=5, num_tables=1
        ).collect()
    }
    two = {
        (r["id_a"], r["id_b"])
        for r in cosine_neardup_pairs(
            df, threshold=0.98, dim=8, num_planes=5, num_tables=2
        ).collect()
    }
    assert one <= two
