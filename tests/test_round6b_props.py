"""Property-based tests for the round-6b operator contracts: the
invariants hold for ARBITRARY inputs, not just the handpicked cases in
test_round6b_ops.py. Example counts are kept small — each example runs
Spark jobs — but the generators cover the structural edge cases
(empty sides, all-match, no-match, duplicate keys, negative keys).
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from finlogic_spark.operators.bloomjoin import bloom_prune, build_bloom_filter
from finlogic_spark.operators.corpus import cap_per_group
from finlogic_spark.operators.resample import resample_ffill

_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

keys = st.lists(
    st.integers(min_value=-(2**40), max_value=2**40), max_size=25
)


@given(pk=keys, bk=keys)
@settings(**_SETTINGS)
def test_bloom_join_always_equals_plain_join(spark, pk, bk):
    """For ANY probe/build key multisets (duplicates, negatives,
    empty): bloom-pruned join == plain inner join."""
    probe = spark.createDataFrame(
        [(k, i) for i, k in enumerate(pk)] or [(None, None)], "pk long, pi long"
    )
    build = spark.createDataFrame(
        [(k, i) for i, k in enumerate(bk)] or [(None, None)], "bk long, bi long"
    )
    want = sorted(
        map(tuple, probe.join(build, probe.pk == build.bk).collect())
    )
    pruned = bloom_prune(
        probe, "pk", build_bloom_filter(build, "bk", 256, 3), 256, 3
    )
    got = sorted(
        map(tuple, pruned.join(build, pruned.pk == build.bk).collect())
    )
    assert got == want


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 10**6)), max_size=40
    ),
    cap=st.integers(1, 5),
)
@settings(**_SETTINGS)
def test_cap_never_exceeded_and_subset(spark, rows, cap):
    """cap_per_group output is a subset of the input with per-group
    counts == min(group size, cap), for any grouping and cap."""
    if not rows:
        return
    df = spark.createDataFrame(
        [(f"g{g}", i * 10**7 + v) for i, (g, v) in enumerate(rows)],
        "grp string, id long",
    )
    out = cap_per_group(df, "grp", "id", cap=cap)
    in_rows = {(r.grp, r.id) for r in df.collect()}
    out_rows = [(r.grp, r.id) for r in out.collect()]
    assert set(out_rows) <= in_rows
    assert len(out_rows) == len(set(out_rows))
    from collections import Counter

    in_sizes = Counter(g for g, _ in in_rows)
    out_sizes = Counter(g for g, _ in out_rows)
    for g, n in in_sizes.items():
        assert out_sizes[g] == min(n, cap)


@given(
    hours=st.lists(st.integers(0, 48), min_size=1, max_size=15),
    key=st.integers(0, 2),
)
@settings(**_SETTINGS)
def test_resample_grid_is_complete_and_monotone(spark, hours, key):
    """The per-key grid covers EVERY hour between that key's first and
    last event — no holes, no extras — and filled values only change
    on non-gap rows."""
    from datetime import datetime, timedelta

    base = datetime(2024, 3, 1)
    events = spark.createDataFrame(
        [(key, base + timedelta(hours=h, minutes=7), float(h)) for h in hours],
        "user_id long, ts timestamp, value double",
    )
    out = sorted(
        resample_ffill(events, "user_id", "ts", "value").collect(),
        key=lambda r: r.bucket_ts,
    )
    got_hours = [int((r.bucket_ts - base).total_seconds() // 3600) for r in out]
    assert got_hours == list(range(min(hours), max(hours) + 1))
    prev = None
    for r in out:
        if r.is_gap:
            assert r.val == prev  # gap rows carry the previous value
        prev = r.val
