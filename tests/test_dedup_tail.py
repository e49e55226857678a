"""The dedup tail of a curation pass: ``exact_dedup``,
``minhash_signature`` and the small-graph regime of
``connected_components``. The previous plans are inlined below as
legacy forms so each rebuilt operator is pinned to the rows it used to
return."""

from __future__ import annotations

import pytest
from conftest import count_jobs
from pyspark.sql import functions as F

from finlogic_spark.operators.graph import connected_components
from finlogic_spark.operators.text_dedup import (
    canonical_text,
    exact_dedup,
    minhash_lsh_pairs,
    minhash_signature,
    shingles,
)


def _legacy_exact_dedup(df, text_col, id_col):
    """min(id) per md5 class, then a semi-join back on (hash, id)."""
    nulls = df.filter(F.col(text_col).isNull())
    keyed = df.filter(F.col(text_col).isNotNull()).withColumn(
        "__h", F.md5(canonical_text(text_col))
    )
    reps = keyed.groupBy("__h").agg(F.min(id_col).alias(id_col))
    return keyed.join(reps, ["__h", id_col], "left_semi").drop("__h").unionByName(nulls)


def _legacy_minhash_signature(df, text_col, id_col, k, num_hashes):
    """Explode the distinct shingles, then one min() per seed."""
    sh = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(shingles(text_col, k))).alias("__sh"),
    )
    return sh.groupBy(id_col).agg(
        *[
            F.min(F.md5(F.concat(F.lit(f"{i}|"), F.col("__sh")))).alias(f"minhash_{i}")
            for i in range(num_hashes)
        ]
    )


def _rows(df):
    return sorted(df.collect(), key=repr)


def test_exact_dedup_matches_aggregate_semijoin_form(spark):
    """Tied lowest ids keep every tied row, a null id never survives, a
    class whose ids are all null drops out, null texts pass through."""
    df = spark.createDataFrame(
        [
            (1, "a b c d"), (1, "A  b c d"), (3, "a b c d "),  # tie on id 1
            (None, "a b c d"),  # null id in a class with a real min
            (None, "zz yy"), (None, "ZZ  yy"),  # all-null-id class
            (5, None), (None, None), (5, None),  # null texts, kept as is
            (7, "   "), (2, "   "),  # whitespace-only class
            (9, "x"), (4, "p q r s"), (8, "P Q R S"),
        ],
        "doc_id long, text string",
    )
    got = _rows(exact_dedup(df, "text", "doc_id"))
    assert got == _rows(_legacy_exact_dedup(df, "text", "doc_id"))
    abcd = sorted(
        (r.doc_id, r.text) for r in got if r.text and " ".join(r.text.lower().split()) == "a b c d"
    )
    assert abcd == [(1, "A  b c d"), (1, "a b c d")]
    assert all("zz" not in (r.text or "").lower() for r in got)
    assert sum(r.text is None for r in got) == 3


@pytest.mark.parametrize("num_hashes", [4, 6])
def test_minhash_signature_matches_explode_form(spark, num_hashes):
    """Same values as the explode form on every non-null document:
    docs shorter than k, whitespace-only docs, repeated shingles. A
    null-text document gets no row (the documented contract); the
    explode form emitted an all-null signature for it, because under
    ANSI ``size(null)`` is null and the shingle array became [null]."""
    df = spark.createDataFrame(
        [
            (0, "the cat sat on the mat"), (1, "The  cat sat on the MAT"),
            (2, "x"), (3, "x y"), (4, "   "), (5, ""),
            (6, None), (7, None), (8, "a a a a a a"),
            (9, "one two three four five six seven"),
        ],
        "doc_id long, text string",
    )
    legacy = {r.doc_id: r for r in _legacy_minhash_signature(df, "text", "doc_id", 3, num_hashes).collect()}
    got = {r.doc_id: r for r in minhash_signature(df, "text", "doc_id", 3, num_hashes).collect()}
    assert set(got) == set(range(10)) - {6, 7}
    assert got == {i: legacy[i] for i in got}
    assert all(v is None for i in (6, 7) for v in legacy[i][1:])
    assert got[0][1:] == got[1][1:]
    # The dropped null signatures also drop the pairs they used to
    # make: every all-null band hashed to md5(""), one shared bucket.
    pairs = {tuple(r) for r in minhash_lsh_pairs(df, "text", "doc_id", 3, 6, 2).collect()}
    assert (6, 7) not in pairs and (0, 1) in pairs


def test_bpe_piece_minhash_matches_explode_form(spark):
    """doc_bpe_shingle_pairs' row-local signature equals the explode +
    groupBy(doc_id).min form it replaced on every row that form gave a
    non-null signature: short piece lists, repeated shingles, an empty
    list (one "" shingle), null elements. A null piece list gets no row
    here; the explode form emitted an all-null signature for it."""
    from finlogic_spark.driver_queries import _piece_minhash
    from finlogic_spark.operators.text_dedup import array_shingles

    p = spark.createDataFrame(
        [
            (0, ["th", "e", "ca", "t", "sat"]), (1, ["th", "e", "ca", "t", "sat"]),
            (2, ["x"]), (3, ["x", "y"]), (4, []), (5, None),
            (6, ["a", "a", "a", "a", "a", "a"]), (7, ["a", None, "b", "c"]),
            (8, [None]),
        ],
        "doc_id long, pieces array<string>",
    )
    sh = p.select(
        "doc_id",
        F.explode(F.array_distinct(array_shingles(F.col("pieces"), 3))).alias("__sh"),
    )
    legacy = {
        r.doc_id: r
        for r in sh.groupBy("doc_id")
        .agg(*[F.min(F.md5(F.concat(F.lit(f"{i}|"), "__sh"))).alias(f"m{i}") for i in range(4)])
        .collect()
    }
    got = {r.doc_id: r for r in _piece_minhash(p).collect()}
    assert set(got) == set(range(9)) - {5}
    assert got == {i: legacy[i] for i in got}
    assert all(v is None for v in legacy[5][1:])
    assert got[0][1:] == got[1][1:]


def _reference_labels(edges, verts):
    parent = {v: v for v in verts}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        if a is None or b is None:
            continue
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in verts}


def test_cc_driver_regime_edge_cases(spark):
    """String ids, null endpoints, isolated vertices and an empty edge
    set all run the driver-side regime and match a union-find."""
    edges = [("n03", "n01"), ("n01", "n02"), ("n10", "n11"), (None, "n20"), ("n21", None), ("n11", "n12")]
    verts = ["n01", "n02", "n03", "n10", "n11", "n12", "n20", "n21", "n30"]
    e = spark.createDataFrame(edges, "src string, dst string")
    v = spark.createDataFrame([(x,) for x in verts], "id string")
    st: dict = {}
    got = {r.id: r.label for r in connected_components(e, v, stats=st).collect()}
    assert st["auto_choice"] == "single-job" and st["converged"] is True
    assert got == _reference_labels(edges, verts)

    for schema in ("src long, dst long", "src string, dst string"):
        typ = schema.split()[1].rstrip(",")
        empty = spark.createDataFrame([], schema)
        only_nulls = spark.createDataFrame([(None, None)], schema)
        ids = [(1,), (2,)] if typ == "long" else [("1",), ("2",)]
        vv = spark.createDataFrame(ids, f"id {typ}")
        for ee in (empty, only_nulls):
            st = {}
            got = {r.id: r.label for r in connected_components(ee, vv, stats=st).collect()}
            assert st["auto_choice"] == "single-job"
            assert got == {i[0]: i[0] for i in ids}


def test_lsh_pairs_and_components_job_floor(spark):
    """MinHash-LSH pairs into connected components on a small corpus
    runs at most 8 jobs (7 measured). The previous plans ran 10 here:
    the signature shuffle, the edge-cache sizing over the shuffle
    default, the repartition(1) funnel and its eager checkpoint."""
    base = [
        "alpha beta gamma delta epsilon zeta eta theta",
        "one two three four five six seven eight",
        "red green blue cyan magenta yellow black white",
    ]
    rows = [(i, base[i % 3] + f" tail{i // 3 % 4}") for i in range(60)]
    rows += [(100 + i, f"unique doc number {i} with words w{i} x{i} y{i}") for i in range(20)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    st: dict = {}
    out: list = []

    def run():
        pairs = minhash_lsh_pairs(docs, "text", "doc_id", k=3, num_hashes=6, bands=2)
        edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        vertices = docs.select(F.col("doc_id").alias("id"))
        out.extend(connected_components(edges, vertices, stats=st).collect())

    n = count_jobs(spark, "dedup-tail-floor", run)
    assert st["auto_choice"] == "single-job"
    assert len(out) == 80 and len({r.label for r in out}) == 27
    assert n <= 8, n
