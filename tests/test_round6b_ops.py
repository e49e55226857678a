"""Tests for round-6b operators: bloom-pruned join, BM25 search,
resample + forward-fill, MAD robust outliers."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from finlogic_spark.operators.bloomjoin import (
    bloom_prune,
    bloom_pruned_join,
    build_bloom_filter,
)
from finlogic_spark.operators.profile import robust_outliers
from finlogic_spark.operators.resample import resample_ffill
from finlogic_spark.operators.search import bm25_topk


# ---------------------------------------------------------------- bloom join

def _sides(spark):
    build = spark.createDataFrame(
        [(k, f"d{k}") for k in range(0, 100, 7)] + [(None, "dnull")],
        "bk long, dval string",
    )
    probe = spark.createDataFrame(
        [(k, k * 10) for k in range(100)] + [(None, -1)],
        "pk long, pval long",
    )
    return probe, build


def test_bloom_no_false_negatives(spark):
    """Pruned join == plain inner join, bit for bit — the filter may
    pass extra rows, never drop a matching one."""
    probe, build = _sides(spark)
    expected = sorted(
        probe.join(build, probe.pk == build.bk).select("pk", "pval", "dval")
        .collect()
    )
    got = sorted(
        bloom_pruned_join(probe, build, "pk", "bk")
        .select("pk", "pval", "dval").collect()
    )
    assert got == expected


def test_bloom_tiny_filter_still_exact(spark):
    """Undersized filter (64 bits, heavy false positives) must still
    produce the exact join result — correctness never depends on m."""
    probe, build = _sides(spark)
    expected = sorted(
        probe.join(build, probe.pk == build.bk).select("pk", "dval").collect()
    )
    pruned = bloom_prune(
        probe, "pk", build_bloom_filter(build, "bk", 64, 2), 64, 2
    )
    got = sorted(
        pruned.join(build, pruned.pk == build.bk).select("pk", "dval").collect()
    )
    assert got == expected


def test_bloom_prunes_and_is_superset(spark):
    """The pruned probe is a superset of true matches and, at sane
    sizing, strictly smaller than the raw probe."""
    probe, build = _sides(spark)
    pruned = bloom_prune(
        probe, "pk", build_bloom_filter(build, "bk")
    )
    pruned_keys = {r.pk for r in pruned.collect()}
    true_keys = set(range(0, 100, 7))
    assert true_keys <= pruned_keys
    assert len(pruned_keys) < probe.count()  # nulls + most non-matches gone
    assert None not in pruned_keys  # inner-join semantics


def test_bloom_prune_probe_with_bloom_column(spark):
    """The filter's internal column must not collide with caller
    columns: a probe that already has a column literally named 'bloom'
    survives pruning with that column intact."""
    _, build = _sides(spark)
    probe = spark.createDataFrame(
        [(k, f"user_bloom_{k}") for k in range(100)],
        "pk long, bloom string",
    )
    pruned = bloom_prune(probe, "pk", build_bloom_filter(build, "bk"))
    assert pruned.columns == ["pk", "bloom"]
    kept = {r.pk: r.bloom for r in pruned.collect()}
    assert set(range(0, 100, 7)) <= set(kept)
    assert kept[7] == "user_bloom_7"  # caller's column untouched


def test_bloom_auto_size_prunes_at_scale(spark):
    """bloom_pruned_join sizes the filter to the build cardinality: a
    40k-key build (which SATURATES a fixed 2^17-bit filter at 5 hashes
    and prunes nothing) must still drop the vast majority of a
    disjoint-key probe — the scale bug the auto-size exists to kill —
    while the join result stays exact."""
    build = spark.range(40_000).select(
        F.col("id").alias("bk"), (F.col("id") % 7).alias("dval")
    )
    # probe keys disjoint from the build except a known 1k overlap
    probe = spark.range(200_000).select(
        (F.col("id") + 39_000).alias("pk"), F.lit(1).alias("pval")
    )
    from finlogic_spark.operators.bloomjoin import build_bloom_filter

    # A 1-byte broadcast threshold: this test pins the auto-SIZING of
    # the filter; a 40k-key bigint dim fits broadcast, so the default
    # threshold would (rightly) skip the bloom entirely — that path is
    # pinned in test_bloom_auto_bypass_regimes.
    conf = spark.conf
    old = conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        conf.set("spark.sql.autoBroadcastJoinThreshold", "1")
        auto = bloom_pruned_join(probe, build, "pk", "bk")
        assert auto.count() == 1_000  # exact join result
    finally:
        conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    # the auto-sized filter (>= 10 bits/key -> 2^19) prunes the
    # disjoint tail; the fixed 2^17 filter is saturated and cannot
    sized = bloom_prune(
        probe, "pk", build_bloom_filter(build, "bk", num_bits=1 << 19),
        num_bits=1 << 19,
    )
    saturated = bloom_prune(
        probe, "pk", build_bloom_filter(build, "bk", num_bits=1 << 17),
        num_bits=1 << 17,
    )
    n_sized, n_sat = sized.count(), saturated.count()
    assert n_sized < 0.05 * 200_000  # ~1% FP target + 1k true matches
    # overloaded fixed filter: 5*40k/2^17 ~ 1.5 bits-set load ->
    # (1-e^-1.5)^5 ~ 29% false positives, an order of magnitude worse
    assert n_sat > 10 * n_sized


def test_bloom_auto_bypass_regimes(spark):
    """Auto-regime decision, both plans pinned: a dim under the
    broadcast threshold gets the PLAIN broadcast join (no bloom
    cross-join, no hash-probe filter — the bloom is pure overhead
    there); a dim over it gets the filter. Result identical either
    way (the correctness tests above); this pins the physical plan."""
    from finlogic_spark import plans

    probe, build = _sides(spark)
    conf = spark.conf
    old = conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # regime 1: dim fits broadcast -> bypass
        conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        plan = plans.formatted_plan(bloom_pruned_join(probe, build, "pk", "bk"))
        assert "__bloom_words" not in plan
        assert "BroadcastHashJoin" in plan
        # regime 2: dim 'too big' to broadcast (threshold forced to 1
        # byte) -> the bloom filter is in the plan
        conf.set("spark.sql.autoBroadcastJoinThreshold", "1")
        plan = plans.formatted_plan(bloom_pruned_join(probe, build, "pk", "bk"))
        assert "__bloom_words" in plan
    finally:
        conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bloom_auto_bypass_stats_fast_path_skips_checkpoint(spark):
    """A dim whose Catalyst plan stats are already under the broadcast
    threshold bypasses with ZERO jobs — no localCheckpoint, so no
    ExistingRDD scan in the plan (the checkpoint+count decision cost
    ~0.34 s at sf100 when the answer was 'do nothing'). The plain join
    broadcasts on those same stats, so no explicit hint is needed."""
    from finlogic_spark import plans

    # range-based sides carry real Catalyst stats (createDataFrame
    # plans as a stats-less ExistingRDD, which must NOT fast-path);
    # the only ExistingRDD that could appear is the checkpoint.
    probe = spark.range(100).selectExpr("id AS pk", "id * 10 AS pval")
    build = spark.range(0, 100, 7).selectExpr(
        "id AS bk", "concat('d', id) AS dval"
    )
    plan = plans.formatted_plan(bloom_pruned_join(probe, build, "pk", "bk"))
    assert "__bloom_words" not in plan
    assert "BroadcastHashJoin" in plan
    assert "ExistingRDD" not in plan  # build was never checkpointed


def test_bloom_auto_bypass_measures_wide_strings(spark):
    """Stats-less build side (localCheckpoint — LogicalRDD reports the
    default huge size, so the measured path decides) with WIDE strings:
    the old flat 20-bytes-per-string estimate would pass 200 rows
    under a 64 KiB threshold (200 x 28 B ≈ 5.6 KiB) and force a ~200 KiB
    broadcast via the explicit hint; the measured octet_length estimate
    must refuse the bypass and keep the bloom filter. A narrow-string
    twin under the same threshold must still bypass."""
    from finlogic_spark import plans

    probe, _ = _sides(spark)
    conf = spark.conf
    old = conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024))
        wide = spark.createDataFrame(
            [(k, "x" * 1024) for k in range(200)],
            "bk long, dval string",
        ).localCheckpoint()
        plan = plans.formatted_plan(bloom_pruned_join(probe, wide, "pk", "bk"))
        assert "__bloom_words" in plan
        narrow = spark.createDataFrame(
            [(k, f"d{k}") for k in range(0, 100, 7)],
            "bk long, dval string",
        ).localCheckpoint()
        plan = plans.formatted_plan(
            bloom_pruned_join(probe, narrow, "pk", "bk")
        )
        assert "__bloom_words" not in plan
        assert "BroadcastHashJoin" in plan
    finally:
        conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_bloom_filter_is_one_bounded_row(spark):
    _, build = _sides(spark)
    num_bits = 1 << 10
    rows = build_bloom_filter(build, "bk", num_bits=num_bits).collect()
    assert len(rows) == 1
    words = rows[0]["__bloom_words"]  # dense array<long>, O(1) probe lookup
    assert len(words) == num_bits // 64
    assert all(isinstance(w, int) for w in words)
    assert any(w != 0 for w in words)


# ---------------------------------------------------------------- BM25

def _corpus(spark):
    return spark.createDataFrame(
        [
            (1, "apple banana cherry apple"),
            (2, "apple banana"),
            (3, "banana banana banana durian"),
            (4, "cherry durian"),
            (5, "unrelated words only here"),
        ],
        "doc_id long, text string",
    )


def test_bm25_rare_term_outranks_common(spark):
    """'durian' (df=2) must contribute more than 'banana' (df=3): doc 4
    (durian, no banana) should outrank doc 2 (banana, no durian)."""
    out = bm25_topk(_corpus(spark), ["banana", "durian"], k=10).collect()
    ranks = {r.doc_id: i for i, r in enumerate(out)}
    assert set(ranks) == {1, 2, 3, 4}  # doc 5 has no query term
    assert ranks[3] == 0  # has both terms, tf(banana)=3 → top
    assert ranks[4] < ranks[2]
    hits = {r.doc_id: r.n_terms_hit for r in out}
    assert hits == {3: 2, 4: 1, 2: 1, 1: 1}


def test_bm25_duplicate_query_terms_collapse(spark):
    once = bm25_topk(_corpus(spark), ["banana"], k=10).collect()
    twice = bm25_topk(_corpus(spark), ["banana", "banana"], k=10).collect()
    assert [(r.doc_id, r.score) for r in once] == [
        (r.doc_id, r.score) for r in twice
    ]


def test_bm25_score_monotone_in_tf(spark):
    """Among docs equal in length, higher tf of the query term scores
    higher (saturating, but strictly monotone)."""
    docs = spark.createDataFrame(
        [(1, "x x x a"), (2, "x x a a"), (3, "x a a a")],
        "doc_id long, text string",
    )
    out = bm25_topk(docs, ["a"], k=3).collect()
    assert [r.doc_id for r in out] == [3, 2, 1]


def test_tfidf_served_from_persisted_index_is_identical(spark, tmp_path):
    """tfidf_similar(postings=) must reproduce the from-scratch cosines
    bit for bit — prebuilt df/stats/norms and the bucket-pruned
    candidate scan change the plan, never the values."""
    from finlogic_spark.operators.search import (
        build_postings_table,
        tfidf_similar,
    )

    # (i+1) coprime with 29 for every doc -> no doc degenerates to the
    # all-docs token (which has idf 0 and would zero a doc's norm)
    docs = spark.createDataFrame(
        [(i, " ".join(f"w{((i + 1) * j) % 29}" for j in range(1, 25)))
         for i in range(27)],
        "doc_id long, text string",
    )
    idx = build_postings_table(docs, str(tmp_path / "pidx"), n_buckets=8)
    live = sorted(map(tuple, tfidf_similar(docs, [0, 1, 2], k=5).collect()))
    served = sorted(
        map(tuple, tfidf_similar(None, [0, 1, 2], k=5, postings=idx).collect())
    )
    assert live == served


# ---------------------------------------------------------------- resample

def _ts(s: str) -> datetime:
    return datetime.fromisoformat(s)


def test_resample_grid_and_ffill(spark):
    events = spark.createDataFrame(
        [
            (1, _ts("2024-01-01 00:10:00"), 10.0),
            (1, _ts("2024-01-01 00:50:00"), 20.0),  # hour 0 mean = 15
            # hours 1-2 are gaps
            (1, _ts("2024-01-01 03:05:00"), 40.0),
            (2, _ts("2024-01-01 05:30:00"), 7.0),  # single-bucket series
        ],
        "user_id long, ts timestamp, value double",
    )
    out = resample_ffill(events, "user_id", "ts", "value")
    rows = {(r.key, r.bucket_ts.hour): (r.val, r.is_gap) for r in out.collect()}
    assert len(rows) == 4 + 1  # key 1: hours 0..3; key 2: hour 5
    assert rows[(1, 0)] == (15.0, False)
    assert rows[(1, 1)] == (15.0, True)  # carried forward
    assert rows[(1, 2)] == (15.0, True)
    assert rows[(1, 3)] == (40.0, False)
    assert rows[(2, 5)] == (7.0, False)


def test_resample_custom_step_and_validation(spark):
    """Non-hour fixed steps resample on epoch-aligned tumbling windows;
    variable-width or malformed steps raise eagerly (ValueError, not a
    deferred AnalysisException)."""
    import pytest

    events = spark.createDataFrame(
        [
            (1, _ts("2024-01-01 00:05:00"), 10.0),
            (1, _ts("2024-01-01 00:40:00"), 20.0),
            # 01:00 bucket is a gap at 30-minute step
            (1, _ts("2024-01-01 01:40:00"), 40.0),
        ],
        "user_id long, ts timestamp, value double",
    )
    out = resample_ffill(events, "user_id", "ts", "value", step="30 minutes")
    rows = {
        (r.bucket_ts.hour, r.bucket_ts.minute): (r.val, r.is_gap)
        for r in out.collect()
    }
    assert rows == {
        (0, 0): (10.0, False),
        (0, 30): (20.0, False),
        (1, 0): (20.0, True),   # gap, carried forward
        (1, 30): (40.0, False),
    }
    for bad in ("1 month", "2 years", "hourly", "1; DROP TABLE x",
                "0 hours", "0 minutes"):
        with pytest.raises(ValueError):
            resample_ffill(events, "user_id", "ts", "value", step=bad)


def test_resample_no_cross_key_leak(spark):
    """Fill must restart per key — key 2's first bucket may not inherit
    key 1's value even though it sorts later globally."""
    events = spark.createDataFrame(
        [
            (1, _ts("2024-01-01 00:00:00"), 100.0),
            (2, _ts("2024-01-01 02:00:00"), 5.0),
            (2, _ts("2024-01-01 04:00:00"), 9.0),
        ],
        "user_id long, ts timestamp, value double",
    )
    out = resample_ffill(events, "user_id", "ts", "value")
    k2 = {r.bucket_ts.hour: r.val for r in out.filter("key = 2").collect()}
    assert k2 == {2: 5.0, 3: 5.0, 4: 9.0}


# ---------------------------------------------------------------- outliers

def test_mad_outlier_flags_planted_spike(spark):
    base = [("a", float(i), 100.0 + (i % 11) - 5.0) for i in range(200)]
    spike = [("a", 900.0, 500.0), ("a", 901.0, -300.0)]
    df = spark.createDataFrame(
        [(g, i, v) for g, i, v in base + spike],
        "grp string, event_id double, value double",
    )
    out = robust_outliers(df, "grp", "value", threshold=3.5)
    flagged = {r.event_id for r in out.collect()}
    assert flagged == {900.0, 901.0}
    signs = {r.event_id: r.mod_z for r in out.collect()}
    assert signs[900.0] > 0 and signs[901.0] < 0


def test_mad_constant_group_yields_no_outliers(spark):
    df = spark.createDataFrame(
        [("c", float(i), 42.0) for i in range(50)] + [("c", 99.0, 42.0)],
        "grp string, event_id double, value double",
    )
    assert robust_outliers(df, "grp", "value").count() == 0


def test_mad_groups_independent(spark):
    """A value that's an outlier in a tight group is normal in a wide
    one — stats must be per-group."""
    tight = [("t", float(i), 10.0 + (i % 3) * 0.1) for i in range(60)]
    wide = [("w", float(100 + i), float(i * 37 % 500)) for i in range(60)]
    df = spark.createDataFrame(
        tight + [("t", 999.0, 50.0)] + wide + [("w", 998.0, 50.0)],
        "grp string, event_id double, value double",
    )
    out = robust_outliers(df, "grp", "value", threshold=3.5).collect()
    assert ("t", 999.0) in {(r.grp, r.event_id) for r in out}
    assert ("w", 998.0) not in {(r.grp, r.event_id) for r in out}


def test_bloom_prune_runs_below_exact_join(spark):
    """Plan pin: the bloom bit-check (BroadcastNestedLoopJoin with the
    1-row filter) must sit BELOW the exact join in the physical plan —
    rows are dropped in the scan-side stage, before the join moves
    them. (Deeper nodes print later in the plan string.) A 1-byte
    broadcast threshold: this pins the FILTER's plan position — the
    tiny dim here would otherwise (rightly) skip it."""
    probe, build = _sides(spark)
    conf = spark.conf
    old = conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        conf.set("spark.sql.autoBroadcastJoinThreshold", "1")
        plan = (
            bloom_pruned_join(probe, build, "pk", "bk")
            ._jdf.queryExecution().executedPlan().toString()
        )
    finally:
        conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    bnl = plan.index("BroadcastNestedLoopJoin")
    exact = min(
        i for i in (
            plan.find("BroadcastHashJoin"),
            plan.find("SortMergeJoin"),
            plan.find("ShuffledHashJoin"),
        ) if i >= 0
    )
    assert bnl > exact  # bloom check is a child of (runs before) the join


# ---------------------------------------------------------------- histogram

def test_histogram_bins_and_clamping(spark):
    from finlogic_spark.operators.profile import histogram_fixed

    df = spark.createDataFrame(
        [("g", -5.0), ("g", 0.0), ("g", 9.9), ("g", 10.0), ("g", 55.0),
         ("g", 100.0), ("g", 250.0)],
        "grp string, v double",
    )
    out = {r.bin: r.n for r in
           histogram_fixed(df, "grp", "v", 0.0, 100.0, 10).collect()}
    # -5 clamps into bin 0; 100 and 250 clamp into bin 9
    assert out == {0: 3, 1: 1, 5: 1, 9: 2}


def test_histogram_edges(spark):
    from finlogic_spark.operators.profile import histogram_fixed

    df = spark.createDataFrame([("g", 50.0)], "grp string, v double")
    r = histogram_fixed(df, "grp", "v", 0.0, 100.0, 10).collect()[0]
    assert (r.bin, r.bin_lo, r.bin_hi) == (5, 50.0, 60.0)


# ---------------------------------------------------------------- covariance

def test_covariance_matches_numpy(spark):
    import numpy as np
    from finlogic_spark.operators.linalg import covariance_matrix

    rng = [[float(((i * 7 + j * 13) % 10) / 10.0) for j in range(4)]
           for i in range(30)]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(rng)], "id long, vec array<double>"
    )
    got = {(r.i, r.j): r.cov
           for r in covariance_matrix(df, "vec", 4).collect()}
    want = np.cov(np.array(rng), rowvar=False, bias=True)
    for i in range(4):
        for j in range(4):
            assert abs(got[(i, j)] - want[i, j]) < 1e-4  # micro-unit quantized
    # symmetric by construction
    for i in range(4):
        for j in range(4):
            assert abs(got[(i, j)] - got[(j, i)]) < 2e-6


def test_covariance_arrow_kernel_matches_expression_form(spark):
    """r16: _cov_joined's Arrow outer-product kernel must reproduce the
    prior explode-d²-structs expression form BIT-identically — same
    per-cell quantization floor(x·y·1e6+0.5) summed as int64 — across
    float32 input, multiple partitions, a ragged row (excluded by the
    size gate) and a null element (product skipped, row still counted,
    exactly like the expression form's SUM/COUNT split)."""
    import math
    import random

    from pyspark.sql import functions as F

    from finlogic_spark.operators.linalg import _cov_joined

    dim = 5
    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-2, 2) for _ in range(dim)]) for i in range(57)
    ]
    rows.append((57, [1.0, 2.0]))  # ragged -> excluded
    bad = [0.5] * dim
    bad[2] = None  # null element -> cell products skipped, row counted
    rows.append((58, bad))
    df = spark.createDataFrame(
        rows, "id long, vec array<float>"
    ).repartition(3)

    got = {
        (r.i, r.j): (r.cov, r.m_i, r.m_j)
        for r in _cov_joined(df, "vec", dim).collect()
    }

    # serial reference replicating the ORIGINAL expression semantics
    kept = [v for _, v in rows if v is not None and len(v) == dim]
    n = len(kept)
    import struct as _struct

    def f32(x):  # Spark stores array<float>: round-trip through float32
        return _struct.unpack("f", _struct.pack("f", x))[0] if x is not None else None

    kept = [[f32(x) for x in v] for v in kept]
    for i in range(dim):
        for j in range(dim):
            sp = sum(
                int(math.floor(v[i] * v[j] * 1e6 + 0.5))
                for v in kept
                if v[i] is not None and v[j] is not None
            )
            sx_i = sum(
                int(math.floor(v[i] * 1e6 + 0.5))
                for v in kept
                if v[i] is not None
            )
            sx_j = sum(
                int(math.floor(v[j] * 1e6 + 0.5))
                for v in kept
                if v[j] is not None
            )
            exy = sp / 1e6 / n
            m_i = sx_i / 1e6 / n
            m_j = sx_j / 1e6 / n
            want = exy - m_i * m_j
            g_cov, g_mi, g_mj = got[(i, j)]
            assert g_cov == want, (i, j, g_cov, want)
            assert g_mi == m_i and g_mj == m_j


def test_covariance_kernel_zeroes_literal_nan(spark):
    """ADVICE r16: a literal NaN stored in the vector data (not a null
    element) used to skip the isnan-zeroing (gated on null_count > 0)
    and flow into astype(int64), whose result is undefined (INT64_MIN)
    — silently corrupting every cell's sum. The kernel now detects NaN
    in the data itself; semantics match the old expression form, where
    CAST(NaN AS BIGINT) contributed 0 while COUNT still counted the
    row."""
    import math

    from finlogic_spark.operators.linalg import _cov_joined

    dim = 3
    rows = [
        (0, [1.0, 2.0, 3.0]),
        (1, [0.5, float("nan"), -1.0]),  # literal NaN, null_count == 0
        (2, [-2.0, 1.5, 0.25]),
    ]
    df = spark.createDataFrame(rows, "id long, vec array<double>")
    got = {
        (r.i, r.j): (r.cov, r.m_i, r.m_j)
        for r in _cov_joined(df, "vec", dim).collect()
    }
    n = len(rows)

    def q(x):  # quantized contribution; NaN contributes 0 (cast rule)
        return 0 if math.isnan(x) else int(math.floor(x * 1e6 + 0.5))

    for i in range(dim):
        for j in range(dim):
            sp = sum(q(v[i] * v[j]) for _, v in rows)
            m_i = sum(q(v[i]) for _, v in rows) / 1e6 / n
            m_j = sum(q(v[j]) for _, v in rows) / 1e6 / n
            want = sp / 1e6 / n - m_i * m_j
            g_cov, g_mi, g_mj = got[(i, j)]
            assert g_cov == want, (i, j, g_cov, want)
            assert g_mi == m_i and g_mj == m_j


# ---------------------------------------------------------------- tf-idf sim

def test_tfidf_similar_finds_near_duplicate(spark):
    from finlogic_spark.operators.search import tfidf_similar

    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta"),
            (1, "alpha beta gamma delta"),     # near-dup of 0
            (2, "alpha beta something else"),  # partial overlap
            (3, "totally different words here"),
        ],
        "doc_id long, text string",
    )
    out = tfidf_similar(docs, [0], k=3).collect()
    assert out[0].doc_id == 1 and out[0].rk == 1
    ids = [r.doc_id for r in out]
    assert 3 not in ids  # no shared informative token
    assert 0 not in ids  # self excluded


def test_tfidf_similar_per_query_topk(spark):
    from finlogic_spark.operators.search import tfidf_similar

    docs = spark.createDataFrame(
        [(i, f"common w{i % 3} filler") for i in range(12)],
        "doc_id long, text string",
    )
    out = tfidf_similar(docs, [0, 1], k=2)
    rows = out.collect()
    assert {r.query_id for r in rows} == {0, 1}
    for qid in (0, 1):
        rks = sorted(r.rk for r in rows if r.query_id == qid)
        assert rks == [1, 2]


def test_pca_project_matches_numpy(spark):
    import numpy as np
    from finlogic_spark.operators.linalg import pca_project

    data = [[float(((i * 3 + j * 5) % 7) - 3) + (0.5 if j == 0 else 0.0)
             for j in range(6)] for i in range(40)]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(data)], "vec_id long, vec array<double>"
    )
    got = {r.id: list(r.proj) for r in pca_project(df, "vec", 6, 2).collect()}
    X = np.array(data)
    C = np.cov(X, rowvar=False, bias=True)
    vals, vecs = np.linalg.eigh(C)
    comps = vecs[:, ::-1][:, :2]
    for c in range(2):
        j = int(np.abs(comps[:, c]).argmax())
        if comps[j, c] < 0:
            comps[:, c] = -comps[:, c]
    want = (X - X.mean(axis=0)) @ comps  # standard PCA: centered scores
    for i in range(40):
        for c in range(2):
            assert abs(got[i][c] - want[i, c]) < 1e-3  # cov quantized @1e-6


def test_pca_projected_variance_is_ordered(spark):
    import numpy as np
    from finlogic_spark.operators.linalg import pca_project

    data = [[float((i * 13 + j * j * 7) % 11) for j in range(5)]
            for i in range(60)]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(data)], "vec_id long, vec array<double>"
    )
    P = np.array([r.proj for r in pca_project(df, "vec", 5, 3).collect()])
    variances = P.var(axis=0)
    assert variances[0] >= variances[1] >= variances[2]


def test_token_pmi_detects_collocation(spark):
    import math

    from finlogic_spark.operators.corpus import token_cooccurrence

    # "rock"/"roll" appear ONLY together, in half the docs →
    # pmi = ln(10·20/(10·10)) = ln 2. "filler" is everywhere → every
    # pair with it has pmi 0. "cat"/"dog" never co-occur.
    docs = spark.createDataFrame(
        [(i, "filler "
          + ("rock roll" if i % 2 else ("cat" if i % 4 == 0 else "dog")))
         for i in range(20)],
        "doc_id long, text string",
    )
    out = token_cooccurrence(docs, min_support=3, k=10).collect()
    assert (out[0].tok_a, out[0].tok_b) == ("rock", "roll")
    pairs = {(r.tok_a, r.tok_b): r.pmi for r in out}
    assert abs(pairs[("rock", "roll")] - math.log(2.0)) < 1e-6
    assert ("cat", "dog") not in pairs  # never co-occur
    assert pairs[("filler", "rock")] == 0.0  # independent of ubiquitous


def test_token_pmi_counts_presence_not_frequency(spark):
    from finlogic_spark.operators.corpus import token_cooccurrence

    docs = spark.createDataFrame(
        [(0, "x y x y x y"), (1, "x y")],
        "doc_id long, text string",
    )
    out = token_cooccurrence(docs, min_support=1, k=5).collect()
    assert len(out) == 1
    assert out[0].n_ab == 2  # 2 docs, not 4 token repetitions


def test_read_evolved_schema(spark, tmp_path):
    """Add-column + rename + widen across parquet generations: no data
    rewrite, old files fill renamed/added columns via coalesce/NULL."""
    from finlogic_spark.sources import read_evolved

    v1 = str(tmp_path / "v1")
    v2 = str(tmp_path / "v2")
    spark.createDataFrame(
        [(1, 10), (2, 20)], "id long, val_old int"
    ).write.parquet(v1)
    spark.createDataFrame(
        [(3, 30, "x")], "id long, val_new int, extra string"
    ).write.parquet(v2)
    out = read_evolved(
        spark, [v1, v2],
        renames={"val_old": "val_new"},
        casts={"val_new": "bigint"},
    )
    assert "val_old" not in out.columns
    assert dict(out.dtypes)["val_new"] == "bigint"
    rows = {r.id: (r.val_new, r.extra) for r in out.collect()}
    assert rows == {1: (10, None), 2: (20, None), 3: (30, "x")}


def test_cap_per_group_deterministic_and_bounded(spark):
    from finlogic_spark.operators.corpus import cap_per_group

    df = spark.createDataFrame(
        [(f"s{i % 3}", i) for i in range(90)], "src string, id long"
    )
    a = cap_per_group(df, "src", "id", cap=7)
    counts = {r.src: r.n for r in
              a.groupBy("src").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert counts == {"s0": 7, "s1": 7, "s2": 7}
    # reshuffle-proof: a different partitioning keeps the SAME rows
    b = cap_per_group(df.repartition(13, "id"), "src", "id", cap=7)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))
    # small groups pass through untouched
    tiny = spark.createDataFrame([("t", 1), ("t", 2)], "src string, id long")
    assert cap_per_group(tiny, "src", "id", cap=7).count() == 2


def test_bloom_same_name_key_joins_by_name(spark):
    import pytest

    probe = spark.createDataFrame(
        [(k, k * 2) for k in range(30)], "k long, pv long"
    )
    build = spark.createDataFrame(
        [(k, f"b{k}") for k in range(0, 30, 5)], "k long, bv string"
    )
    got = sorted(
        bloom_pruned_join(probe, build, "k", "k")
        .select("k", "pv", "bv").collect()
    )
    want = sorted(probe.join(build, "k").select("k", "pv", "bv").collect())
    assert got == want


def test_bloom_key_type_mismatch_raises(spark):
    import pytest

    probe = spark.createDataFrame([(1, 1)], "k int, pv int")
    build = spark.createDataFrame([(1, 1)], "bk long, bv int")
    with pytest.raises(TypeError, match="type-sensitive"):
        bloom_pruned_join(probe, build, "k", "bk")


def test_histogram_excludes_null_and_nan(spark):
    from finlogic_spark.operators.profile import histogram_fixed

    df = spark.createDataFrame(
        [("g", 5.0), ("g", None), ("g", float("nan")), ("g", 95.0)],
        "grp string, v double",
    )
    out = {r.bin: r.n for r in
           histogram_fixed(df, "grp", "v", 0.0, 100.0, 10).collect()}
    # NULL must not land in the top bin, NaN must not land in bin 0
    assert out == {0: 1, 9: 1}


def test_covariance_skips_ragged_vectors(spark):
    from finlogic_spark.operators.linalg import covariance_matrix

    import numpy as np

    df = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [3.0, 4.0]), (2, [9.0]), (3, None)],
        "id long, vec array<double>",
    )
    got = {(r.i, r.j): r.cov for r in covariance_matrix(df, "vec", 2).collect()}
    assert len(got) == 4
    # must equal the covariance of ONLY the two complete vectors —
    # ragged/null rows excluded, not partially counted
    want = np.cov(np.array([[1.0, 2.0], [3.0, 4.0]]), rowvar=False, bias=True)
    for i in range(2):
        for j in range(2):
            assert abs(got[(i, j)] - want[i, j]) < 1e-4


def test_retention_cohorts_math(spark):
    from finlogic_spark.operators.funnel import retention_cohorts

    # cohort A (week of Jan 1): users 1,2 — user 1 returns week+1;
    # cohort B (week of Jan 8): user 3 only.
    events = spark.createDataFrame(
        [
            (1, _ts("2024-01-01 10:00:00")),
            (2, _ts("2024-01-02 11:00:00")),
            (1, _ts("2024-01-08 09:00:00")),  # week offset 1
            (3, _ts("2024-01-09 12:00:00")),  # later cohort
        ],
        "user_id long, ts timestamp",
    )
    out = {(r.cohort_week.day, r.week_offset):
           (r.n_active, r.cohort_size, r.retention)
           for r in retention_cohorts(events, "user_id", "ts").collect()}
    assert out[(1, 0)] == (2, 2, 1.0)
    assert out[(1, 1)] == (1, 2, 0.5)
    assert out[(8, 0)] == (1, 1, 1.0)
    assert len(out) == 3


def test_transition_matrix_probabilities(spark):
    from finlogic_spark.operators.funnel import transition_matrix

    events = spark.createDataFrame(
        [
            (1, _ts("2024-01-01 00:00:01"), "a", 1),
            (1, _ts("2024-01-01 00:00:02"), "b", 2),
            (1, _ts("2024-01-01 00:00:03"), "a", 3),
            (1, _ts("2024-01-01 00:00:04"), "c", 4),
            (2, _ts("2024-01-01 00:00:01"), "a", 5),
            (2, _ts("2024-01-01 00:00:02"), "b", 6),
        ],
        "user_id long, ts timestamp, state string, event_id long",
    )
    out = {(r.from_state, r.to_state): (r.n, r.p)
           for r in transition_matrix(
               events, "user_id", "ts", "state", "event_id").collect()}
    # from 'a': a->b twice, a->c once; no cross-user pair (1's last 'c'
    # never transitions into user 2's events)
    assert out[("a", "b")] == (2, 0.666667)
    assert out[("a", "c")] == (1, 0.333333)
    assert out[("b", "a")] == (1, 1.0)
    assert ("c", "a") not in out


def test_registry_consistency():
    """Meta-guard: every bench query is registered, every oracle key
    names a registered query, and no registry entry is None — a rename
    in one place can't silently desynchronize the driver contract."""
    import bench
    from finlogic_spark import driver_queries as dq

    missing_bench = [q for q in bench.BENCH_QUERIES if q not in dq.QUERIES]
    assert missing_bench == []
    orphan_oracles = [q for q in dq.ORACLES if q not in dq.QUERIES]
    assert orphan_oracles == []
    assert all(callable(fn) for fn in dq.QUERIES.values())
    # every query absent from the STATIC oracle dict is covered by a
    # data-dependent LAZY_ORACLES generator instead — nothing is
    # silently rows-only
    rows_only = sorted(set(dq.QUERIES) - set(dq.ORACLES))
    assert rows_only == sorted(dq.LAZY_ORACLES)
    assert rows_only == [
        "doc_bpe_encode",
        "doc_bpe_pack",
        "doc_bpe_pack_segments",
        "doc_bpe_shingle_pairs",
        "doc_budget_select",
        "doc_curation_learned",
        "doc_curriculum_order",
        "doc_quality_calibration",
        "doc_quality_classifier",
        "emb_pca_project",
    ]


def test_bm25_postings_shuffle_is_reused(spark):
    """Plan pin (post-execution adaptive plan): the postings build
    feeds four consumers (stats, term hits, df counts, scoring) but
    its shuffle must materialize ONCE — AQE resolves the shared
    subplans to ReusedExchange nodes. A regression here re-tokenizes
    the corpus per branch (measured 6.7x slower at 100x bench scale)."""
    docs = spark.createDataFrame(
        [(i, f"a b c w{i % 5}") for i in range(50)],
        "doc_id long, text string",
    )
    df = bm25_topk(docs, ["a", "w1"], k=5)
    df.collect()  # AQE finalizes reuse only at execution
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    assert plan.count("ReusedExchange") >= 2


def test_mad_spill_safe_path_matches_default(spark):
    """The order-statistics (spill-safe) median path must produce the
    same outlier set and stats as the percentile-aggregate default —
    they are two physical strategies for one logical operator."""
    rows = [("a", float(i), float((i * 37) % 100)) for i in range(151)]
    rows += [("a", 900.0, 5000.0), ("b", 901.0, 1.0)] + [
        ("b", float(200 + i), 50.0 + (i % 7)) for i in range(40)
    ]
    df = spark.createDataFrame(rows, "grp string, event_id double, value double")
    fast = sorted(map(tuple, robust_outliers(df, "grp", "value").collect()))
    safe = sorted(
        map(tuple, robust_outliers(df, "grp", "value", spill_safe=True).collect())
    )
    assert fast == safe and len(fast) > 0


def test_banded_bucket_pairs_matches_self_join_form(spark):
    """doc_bpe_shingle_pairs r17 restructure pin: banding via ONE
    exploded array of (band, band_hash) structs + bucket_pairs'
    collect_list expansion must produce the exact pair set of the old
    union-of-selects + bucket self-join form (which evaluated the
    minhash signature subtree 4x). Covers multi-member buckets, id
    ordering, and cross-band duplicate pairs collapsing via distinct."""
    from finlogic_spark.operators.text_dedup import bucket_pairs

    sig = spark.createDataFrame(
        [
            (1, "a", "x"), (2, "a", "y"), (3, "a", "x"),
            (4, "b", "x"), (5, "a", "z"), (6, "a", "x"),
            (7, "c", "y"), (8, "a", "y"),
        ],
        "doc_id long, m01 string, m23 string",
    )
    buckets = sig.select(
        "doc_id",
        F.explode(
            F.array(
                F.struct(
                    F.lit(0).alias("band"),
                    F.md5(F.col("m01")).alias("band_hash"),
                ),
                F.struct(
                    F.lit(1).alias("band"),
                    F.md5(F.col("m23")).alias("band_hash"),
                ),
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.band_hash")
    got = sorted(
        map(tuple, bucket_pairs(buckets, "doc_id").collect())
    )
    legacy = sig.select(
        "doc_id", F.lit(0).alias("band"), F.md5("m01").alias("bh")
    ).unionByName(
        sig.select(
            "doc_id", F.lit(1).alias("band"), F.md5("m23").alias("bh")
        )
    )
    a = legacy.select(F.col("doc_id").alias("id_a"), "band", "bh")
    b = legacy.select(F.col("doc_id").alias("id_b"), "band", "bh")
    ref = sorted(
        map(
            tuple,
            a.join(b, ["band", "bh"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .distinct()
            .collect(),
        )
    )
    assert got == ref and len(got) >= 6
