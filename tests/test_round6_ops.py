"""Tests for round-6 operators: winnowing fingerprints, repeated-
segment dedup, weighted sampling, unigram LM score, table diff,
profiling/expectations, blocked fuzzy join."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from finlogic_spark.operators.corpus import (
    hash_uniform,
    unigram_logprob_score,
    weighted_sample,
)
from finlogic_spark.operators.diff import table_diff
from finlogic_spark.operators.fuzzy import fuzzy_join_blocked
from finlogic_spark.operators.profile import expect, profile_columns
from finlogic_spark.operators.text_dedup import (
    repeated_segment_dedup,
    shingles,
    token_segments,
    winnow_fingerprints,
)


# ---------------------------------------------------------------- winnowing

def test_winnow_coverage_guarantee(spark):
    """Any shared run of >= k + w - 1 = 6 tokens must contribute at
    least one common fingerprint (the winnowing guarantee)."""
    shared = "alpha beta gamma delta epsilon zeta"
    rows = [
        (1, f"one two {shared} three four"),
        (2, f"{shared} nine ten eleven twelve thirteen"),
        (3, "entirely disjoint vocabulary here nothing matches at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    fp = {
        r["doc_id"]: set(r["fp"])
        for r in df.select(
            "doc_id", winnow_fingerprints("text", k=3, w=4).alias("fp")
        ).collect()
    }
    assert fp[1] & fp[2], "docs sharing a 6-token run must share a fingerprint"
    assert not (fp[1] & fp[3])


def test_winnow_short_doc_min_of_all(spark):
    df = spark.createDataFrame([(1, "just two")], "doc_id int, text string")
    row = df.select(winnow_fingerprints("text").alias("fp")).collect()[0]
    assert len(row["fp"]) == 1  # single shingle, single window


def test_winnow_plan_no_shuffle(spark):
    df = spark.range(10).select(
        F.col("id").alias("doc_id"), F.lit("a b c d e f g h").alias("text")
    )
    plan = (
        df.select(winnow_fingerprints("text").alias("fp"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan, "winnowing must be expression-only"


def test_winnow_bound_hashes_match_unbound_form(spark):
    """Binding the shingle hashes once changes no fingerprint: normal,
    short (fewer than ``w`` windows), empty and null documents."""

    def unbound(col, k=3, w=4):
        def winnow(sh):
            hashes = F.transform(sh, lambda s: F.md5(s))
            n = F.size(hashes)
            idx = F.sequence(F.lit(1), F.greatest(n - F.lit(w - 1), F.lit(1)))
            minima = F.transform(idx, lambda i: F.array_min(F.slice(hashes, i, w)))
            return F.array_sort(F.array_distinct(minima))

        return F.flatten(F.transform(F.array(shingles(col, k)), winnow))

    rows = [
        (1, " ".join(f"w{i % 7} x{i % 3}" for i in range(60))),
        (2, "just two"),
        (3, "one two three four five"),
        (4, ""),
        (5, None),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = df.select("doc_id", winnow_fingerprints("text").alias("a"), unbound("text").alias("b"))
    out = {r["doc_id"]: (r["a"], r["b"]) for r in got.collect()}
    assert all(a == b for a, b in out.values()), out
    assert len(out[1][0]) > 1 and len(out[2][0]) == len(out[3][0]) == 1


# ---------------------------------------------------------- segment dedup

def test_segments_fixed_width_ordered(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e f g h i j")], "doc_id int, text string"
    )
    segs = df.select(token_segments("text", seg=4).alias("s")).collect()[0]["s"]
    assert segs == ["a b c d", "e f g h", "i j"]


def test_segment_dedup_removes_boilerplate(spark):
    boiler = "this license text repeats in every single document verbatim"
    rows = [
        (1, f"{boiler} unique content one"),
        (2, f"{boiler} other content two"),
        (3, f"{boiler} third body three"),
        (4, "no boilerplate here at all just original prose"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {
        r["doc_id"]: r
        for r in repeated_segment_dedup(
            df, "text", "doc_id", seg=3, min_docs=3
        ).collect()
    }
    # the 9-token boilerplate = 3 full 3-token segments shared by docs
    # 1-3; their trailing partial segments differ so stay.
    for d in (1, 2, 3):
        assert out[d]["n_seg_kept"] < out[d]["n_seg_total"]
    assert out[4]["n_seg_kept"] == out[4]["n_seg_total"]


def test_segment_dedup_all_removed_keeps_row(spark):
    same = "identical eight token document body repeated exactly here"
    df = spark.createDataFrame(
        [(i, same) for i in range(1, 5)], "doc_id int, text string"
    )
    out = repeated_segment_dedup(df, "text", "doc_id", seg=8, min_docs=3)
    rows = out.collect()
    assert len(rows) == 4
    assert all(r["n_seg_kept"] == 0 for r in rows)


# -------------------------------------------------------- weighted sample

def test_hash_uniform_range_and_determinism(spark):
    df = spark.range(1000).select(hash_uniform("id").alias("u"))
    stats = df.agg(
        F.min("u").alias("lo"), F.max("u").alias("hi"), F.avg("u").alias("mu")
    ).collect()[0]
    assert 0.0 < stats["lo"] and stats["hi"] < 1.0
    assert abs(stats["mu"] - 0.5) < 0.05
    # reshuffle-proof: same values under different partitioning
    a = sorted(r["u"] for r in df.collect())
    b = sorted(
        r["u"]
        for r in spark.range(1000)
        .repartition(7)
        .select(hash_uniform("id").alias("u"))
        .collect()
    )
    assert a == b


def test_weighted_sample_bias_and_size(spark):
    # two weight classes; the heavy class must dominate the sample
    df = spark.range(2000).select(
        F.col("id"),
        F.when(F.col("id") < 1000, F.lit(100.0)).otherwise(F.lit(1.0)).alias("w"),
    )
    s = weighted_sample(df, "id", "w", 200)
    rows = s.collect()
    assert len(rows) == 200
    heavy = sum(1 for r in rows if r["id"] < 1000)
    assert heavy > 150, f"heavy class underrepresented: {heavy}/200"
    # zero/negative weights excluded
    z = weighted_sample(
        spark.range(10).select("id", F.lit(0.0).alias("w")), "id", "w", 5
    )
    assert z.count() == 0


def test_weighted_sample_plan_is_topk(spark):
    df = spark.range(1000).select("id", F.lit(2.0).alias("w"))
    plan = (
        weighted_sample(df, "id", "w", 10)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan, "must be per-partition top-k, not sort"


# ------------------------------------------------------------- unigram LM

def test_unigram_logprob_ranks_rare_tokens_low(spark):
    rows = [(1, "common common common common")] * 1 + [
        (2, "common common common rare")
    ]
    df = spark.createDataFrame(
        [(1, "common common common common"), (2, "common common common rare")],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: r for r in unigram_logprob_score(df, "text", "doc_id").collect()}
    assert out[2]["logprob_per_token"] < out[1]["logprob_per_token"]
    # all-common doc: score = log(7/8)
    assert math.isclose(
        out[1]["logprob_per_token"], math.log(7 / 8), abs_tol=2e-6
    )


# ------------------------------------------------------------- table diff

def test_table_diff_classifies(spark):
    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, None, 30.0)],
        "k int, s string, v double",
    )
    new = spark.createDataFrame(
        [(2, "b2", 20.0), (3, None, 30.0), (4, "d", 40.0)],
        "k int, s string, v double",
    )
    out = {r["k"]: r["change_type"] for r in table_diff(old, new, ["k"], ["s", "v"]).collect()}
    assert out == {1: "delete", 2: "update", 4: "insert"}  # 3 unchanged (null-safe)
    full = table_diff(old, new, ["k"], ["s", "v"], include_unchanged=True)
    assert full.count() == 4


def test_table_diff_null_vs_value_is_update(spark):
    old = spark.createDataFrame([(1, None)], "k int, s string")
    new = spark.createDataFrame([(1, "x")], "k int, s string")
    assert table_diff(old, new, ["k"], ["s"]).collect()[0]["change_type"] == "update"


# ------------------------------------------------------ profile / expect

def test_profile_columns_one_scan(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "a"), (4, "b")], "k int, s string"
    )
    out = {r["col_name"]: r for r in profile_columns(df, ["k", "s"]).collect()}
    assert out["k"]["n_nulls"] == 0 and out["k"]["n_distinct"] == 4
    assert out["s"]["n_nulls"] == 1 and out["s"]["n_distinct"] == 2
    assert out["s"]["frac_null"] == 0.25
    # plan contract: one scan branch per distinct column + one for the
    # null counts, and NO Expand — the multi-distinct rewrite would
    # replicate every input row (n_cols+1)x through the partial agg
    # (measured 2.89 s vs 2.26 s for this form at sf100,
    # BENCH_r12_probes.json). Each branch prunes to its own column, so
    # total column I/O matches a single all-column scan.
    plan = (
        profile_columns(df, ["k", "s"])._jdf.queryExecution().optimizedPlan().toString()
    )
    assert plan.count("LogicalRDD") == 3
    assert "Expand" not in plan


def test_profile_columns_approx_tier(spark):
    """approx=True: same schema, exact rows/nulls, sketched distincts
    within the HLL++ rsd band, and ONE aggregate over ONE scan — no
    per-column distinct branches (the 100 TB profile; the exact tier's
    cost IS the COUNT(DISTINCT) contract)."""
    rows = [(i, f"s{i % 137}" if i % 10 else None) for i in range(4000)]
    df = spark.createDataFrame(rows, "k int, s string")
    exact = {r["col_name"]: r for r in profile_columns(df, ["k", "s"]).collect()}
    approx = {
        r["col_name"]: r
        for r in profile_columns(df, ["k", "s"], approx=True).collect()
    }
    for c in ("k", "s"):
        assert approx[c]["n_rows"] == exact[c]["n_rows"]
        assert approx[c]["n_nulls"] == exact[c]["n_nulls"]
        assert approx[c]["frac_null"] == exact[c]["frac_null"]
        assert (
            abs(approx[c]["n_distinct"] - exact[c]["n_distinct"])
            <= 0.15 * exact[c]["n_distinct"]  # 3 sigma at rsd=0.05
        )
    plan = (
        profile_columns(df, ["k", "s"], approx=True)
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert plan.count("LogicalRDD") == 1  # one scan, one aggregate
    assert "Expand" not in plan


def test_expect_null_counts_as_violation(spark):
    df = spark.createDataFrame([(1,), (None,), (-5,)], "v int")
    out = {
        r["expectation"]: r["n_violations"]
        for r in expect(df, {"v_pos": F.col("v") > 0}).collect()
    }
    assert out["v_pos"] == 2  # null AND -5


# ------------------------------------------------------------ fuzzy join

def test_fuzzy_join_blocked_within_blocks_only(spark):
    rows = [
        (1, "cold widget"),
        (2, "bold widget"),   # dist 1 from cold widget, same block
        (3, "cold gadget"),   # different block (noun) — never compared
        (4, "warm widget"),   # dist 3 from cold widget
    ]
    df = spark.createDataFrame(rows, "id int, name string")
    out = fuzzy_join_blocked(
        df, "id", "name", F.split_part(F.col("name"), F.lit(" "), F.lit(2)), 2
    ).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in out}
    assert pairs == {(1, 2)}
    assert out[0]["dist"] == 1


def test_vector_profile_counts_defect_classes(spark):
    """vector_profile: every defect class counted, defect rows excluded
    from the norm statistics (a NaN element must not poison min/max/
    mean), exact micro-unit mean."""
    import math

    from finlogic_spark.operators.profile import vector_profile

    rows = [
        (1, [1.0, 0.0, 0.0]),          # norm2 = 1
        (2, [0.0, 2.0, 0.0]),          # norm2 = 4
        (3, None),                      # null
        (4, [1.0, 2.0]),                # wrong dim
        (5, [float("nan"), 0.0, 0.0]),  # nonfinite
        (6, [float("inf"), 0.0, 0.0]),  # nonfinite
        (7, [0.0, 0.0, 0.0]),           # zero vector
    ]
    df = spark.createDataFrame(rows, "vec_id long, v array<double>")
    got = vector_profile(df, "v", 3).collect()[0]
    assert got["n_vectors"] == 7
    assert got["n_null"] == 1
    assert got["n_wrong_dim"] == 1
    assert got["n_nonfinite"] == 2
    assert got["n_zero"] == 1
    assert got["min_norm2"] == 0.0
    assert got["max_norm2"] == 4.0
    assert got["mean_norm2"] == math.floor((1 + 4 + 0) / 3 * 1e6 + 0.5) / 1e6
