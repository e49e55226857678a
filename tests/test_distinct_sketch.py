"""Distinct-count and set-overlap sketches (operators/distinct_sketch.py),
the exact heavy-hitters screen (operators/freq.py), and the streaming
HLL aggregate (streaming/stateful.py hll_distinct_stream)."""

import glob as _glob
import shutil as _shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from finlogic_spark.operators.distinct_sketch import (
    hll_sketch_table,
    hll_table_estimate,
)
from finlogic_spark.operators.freq import frequency_screen, heavy_hitters


# ---------------------------------------------------------------------------
# JVM HLL sketch tables (Datasketches) + parquet round trip
# ---------------------------------------------------------------------------


def test_hll_sketch_table_rollup_roundtrip(spark, tmp_path):
    """Daily sketch rows written to parquet, read back, merged across
    days: the estimate over the union must land within the lgk=12 band
    of the exact distinct — certifying the binary survives the
    parquet round trip (a corrupted sketch misses by orders of
    magnitude, not percent)."""
    rng = np.random.RandomState(11)
    rows = [
        (int(day), "g" + str(int(g)), int(uid))
        for day, g, uid in zip(
            rng.randint(0, 7, 20_000),
            rng.randint(0, 3, 20_000),
            rng.randint(0, 4000, 20_000),
        )
    ]
    df = spark.createDataFrame(rows, "day int, grp string, uid long")
    daily = hll_sketch_table(df, ["day", "grp"], "uid", lgk=12)
    p = str(tmp_path / "hll")
    daily.write.parquet(p)
    est = {
        r["grp"]: r["approx"]
        for r in hll_table_estimate(
            spark.read.parquet(p), ["grp"], "approx"
        ).collect()
    }
    exact = {
        r["grp"]: r["x"]
        for r in df.groupBy("grp")
        .agg(F.count_distinct("uid").alias("x"))
        .collect()
    }
    assert set(est) == set(exact)
    for g in exact:
        assert abs(est[g] - exact[g]) / exact[g] <= 0.06, (g, est[g], exact[g])


# ---------------------------------------------------------------------------
# Heavy hitters
# ---------------------------------------------------------------------------


def _zipf_items(spark, n_rows=60_000, n_parts=8, seed=3):
    rng = np.random.RandomState(seed)
    # skewed discrete distribution: a few very heavy items + long tail
    items = np.where(
        rng.rand(n_rows) < 0.5,
        rng.randint(0, 12, n_rows),  # 12 heavy items share half the mass
        rng.zipf(1.5, n_rows) + 12,
    )
    return spark.createDataFrame(
        [("it" + str(int(i)),) for i in items], "item string"
    ).repartition(n_parts)


def test_heavy_hitters_exact_vs_groupby(spark):
    """The two-scan screen+verify result must equal the brute-force
    groupBy/HAVING answer exactly — same items, same counts."""
    df = _zipf_items(spark)
    phi = 0.01
    got = {
        r["item"]: r["cnt"]
        for r in heavy_hitters(df, "item", phi).collect()
    }
    n = df.count()
    want = {
        r["item"]: r["cnt"]
        for r in df.groupBy("item")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= phi * n)
        .collect()
    }
    assert got == want and len(want) > 0


def test_frequency_screen_is_superset_and_bounded(spark):
    """Screen guarantee: every true phi-heavy item appears among the
    candidates (no-miss), and the candidate volume per partition is
    bounded by 2/phi (the Misra-Gries k)."""
    df = _zipf_items(spark, n_parts=6, seed=9)
    phi = 0.02
    scr = frequency_screen(df, "item", phi).collect()
    cand = {r["item"] for r in scr if r["item"] is not None}
    totals = [r["__cnt"] for r in scr if r["item"] is None]
    n = sum(totals)
    assert len(totals) == 6  # one total row per partition
    exact = df.groupBy("item").count().collect()
    true_hh = {r["item"] for r in exact if r["count"] >= phi * n}
    assert true_hh <= cand
    assert len(cand) <= 6 * (2 / phi)


def test_heavy_hitters_rejects_bad_phi(spark):
    df = _zipf_items(spark, n_rows=100, n_parts=1)
    with pytest.raises(ValueError, match="phi"):
        heavy_hitters(df, "item", 0.0)


# ---------------------------------------------------------------------------
# Streaming HLL state
# ---------------------------------------------------------------------------


def test_stream_hll_state_equals_batch_build(spark, tmp_path):
    """Three micro-batches of ids folded through the streaming HLL
    aggregate must give EXACTLY the batch hll_sketch_table →
    hll_table_estimate estimate over all ids (order independence), and
    land inside the band of the true distinct."""
    from finlogic_spark.streaming import drain_stream_to_df
    from finlogic_spark.streaming.stateful import hll_distinct_stream

    rng = np.random.RandomState(31)
    src = tmp_path / "src"
    all_ids: dict[str, list[int]] = {"a": [], "b": []}
    eid = 0
    for part in range(3):
        rows = []
        for g in ("a", "b"):
            ids = rng.randint(0, 2500, 3000)
            all_ids[g].extend(int(u) for u in ids)
            for u in ids:
                rows.append(
                    (eid, 1700000000000000000 + eid, int(u), g, 1.0, "{}")
                )
                eid += 1
        spark.createDataFrame(
            rows,
            "event_id long, ts long, user_id long, event_type string, "
            "value double, props string",
        ).coalesce(1).write.parquet(str(src / f"part{part}"))
    for i, f in enumerate(sorted(_glob.glob(str(src / "part*" / "*.parquet")))):
        _shutil.copy(f, str(src / f"events_{i}.parquet"))
    stream = (
        spark.readStream.schema(spark.read.parquet(str(src / "part0")).schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "events_*.parquet")
        .parquet(str(src))
    )
    out = drain_stream_to_df(hll_distinct_stream(stream), output_mode="update")
    finals = {}
    for r in out.collect():
        if r["event_type"] not in finals or r["n"] > finals[r["event_type"]]["n"]:
            finals[r["event_type"]] = r
    assert set(finals) == {"a", "b"}
    events = spark.read.parquet(str(src / "events_*.parquet"))
    batch = {
        r["event_type"]: r["approx_distinct"]
        for r in hll_table_estimate(
            hll_sketch_table(events, ["event_type"], "user_id", lgk=13),
            ["event_type"],
        ).collect()
    }
    for g, r in finals.items():
        assert r["n"] == len(all_ids[g])
        assert r["approx_users"] == batch[g]
        exact = len(set(all_ids[g]))
        assert abs(r["approx_users"] - exact) / exact <= 0.06


# ---------------------------------------------------------------------------
# Streaming sharded Misra-Gries heavy tokens
# ---------------------------------------------------------------------------


def test_stream_heavy_tokens_superset_and_exact_verify(spark, tmp_path, monkeypatch):
    """Three micro-batches of documents through the sharded-MG state
    op: the drained candidate set must contain every true phi-heavy
    token (the MG no-miss bound), totals must be exact, and the
    batch-side verify must reproduce the brute-force answer."""
    from collections import Counter

    from finlogic_spark.streaming import drain_stream_to_df
    from finlogic_spark.streaming import stateful
    from finlogic_spark.streaming.stateful import heavy_tokens_stream

    monkeypatch.setattr(stateful, "NUM_SHARDS", 8)

    rng = np.random.RandomState(23)
    vocab = ["hot%d" % i for i in range(5)] + [
        "tail%d" % i for i in range(2000)
    ]
    weights = np.array([200.0] * 5 + [1.0] * 2000)
    weights /= weights.sum()
    src = tmp_path / "src"
    truth: Counter = Counter()
    did = 0
    for part in range(3):
        rows = []
        for _ in range(300):
            toks = rng.choice(vocab, size=40, p=weights)
            truth.update(toks)
            rows.append((did, " ".join(toks), "en", "s", 40))
            did += 1
        spark.createDataFrame(
            rows,
            "doc_id long, text string, lang string, source string, n_chars long",
        ).coalesce(1).write.parquet(str(src / f"part{part}"))
    for i, f in enumerate(sorted(_glob.glob(str(src / "part*" / "*.parquet")))):
        _shutil.copy(f, str(src / f"documents_{i}.parquet"))
    stream = (
        spark.readStream.schema(spark.read.parquet(str(src / "part0")).schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "documents_*.parquet")
        .parquet(str(src))
    )
    drained = drain_stream_to_df(
        heavy_tokens_stream(stream), output_mode="update"
    )
    finals = {}
    for r in drained.collect():
        if r["shard"] not in finals or r["n"] > finals[r["shard"]]["n"]:
            finals[r["shard"]] = r
    n = sum(r["n"] for r in finals.values())
    assert n == sum(truth.values())
    cand = set()
    for r in finals.values():
        cand.update(r["items"])
    phi = 0.01
    true_hh = {t for t, c in truth.items() if c >= phi * n}
    assert true_hh  # the 5 hot tokens qualify
    assert true_hh <= cand
    # exact verify on candidates reproduces brute force
    exact = {t: truth[t] for t in cand if truth[t] >= phi * n}
    assert exact == {t: c for t, c in truth.items() if c >= phi * n}


def test_hll_window_estimate_band(spark):
    """Trailing-3-day windowed estimates from daily sketch rows must
    land within the band of the exact windowed distinct for every
    (group, day)."""
    import datetime

    from finlogic_spark.operators.distinct_sketch import (
        hll_sketch_table,
        hll_window_estimate,
    )

    rng = np.random.RandomState(13)
    base = datetime.date(2024, 3, 1)
    rows = [
        (base + datetime.timedelta(days=int(d)), "g%d" % (g,), int(u))
        for d, g, u in zip(
            rng.randint(0, 6, 30_000),
            rng.randint(0, 2, 30_000),
            rng.randint(0, 3000, 30_000),
        )
    ]
    df = spark.createDataFrame(rows, "day date, grp string, uid long")
    daily = hll_sketch_table(df, ["day", "grp"], "uid", lgk=12)
    est = {
        (r["grp"], r["day"]): r["approx"]
        for r in hll_window_estimate(
            daily, ["grp"], "day", 3, "approx"
        ).collect()
    }
    exact = {}
    from collections import defaultdict

    sets = defaultdict(set)
    for day, g, u in rows:
        sets[(g, day)].add(u)
    for g, day in est:
        win = set()
        for back in range(3):
            win |= sets.get((g, day - datetime.timedelta(days=back)), set())
        exact[(g, day)] = len(win)
    assert set(est) == set(exact)
    for k in exact:
        assert abs(est[k] - exact[k]) / exact[k] <= 0.06, (k, est[k], exact[k])


# ---------------------------------------------------------------------------
# Theta set-operation sketch
# ---------------------------------------------------------------------------


def test_theta_intersection_error_band(spark):
    """Above the nominal entries (2^12): intersection estimates across
    eight independent seeds stay within the modeled band — relative
    error ~1/sqrt(theta*|A∩B|), ~3% here at |A|=|B|=60k, |A∩B|=15k."""
    from finlogic_spark.operators.distinct_sketch import (
        theta_pair_overlap,
        theta_sketch_table,
    )

    sides = []
    for seed in range(8):
        off = seed * 100_000_000
        a = spark.range(off, off + 60_000)
        b = spark.range(off + 45_000, off + 105_000)
        sides += [
            a.select(F.lit(seed * 2).alias("grp"), "id"),
            b.select(F.lit(seed * 2 + 1).alias("grp"), "id"),
        ]
    df = sides[0]
    for extra in sides[1:]:
        df = df.unionByName(extra)
    sk = theta_sketch_table(df, ["grp"], "id", lg_nom_entries=12)
    est = theta_pair_overlap(sk, "grp").filter(
        (F.col("key_a") % 2 == 0) & (F.col("key_b") == F.col("key_a") + 1)
    )
    rels = [abs(r["approx_overlap"] - 15_000) / 15_000 for r in est.collect()]
    assert len(rels) == 8
    assert max(rels) <= 0.15, rels
    assert sum(rels) / len(rels) <= 0.06, rels


def test_theta_sketch_table_pair_overlap(spark):
    """Distributed build + pair estimator: groups below the nominal
    entries keep every hash, so pair overlaps equal the true
    intersections exactly — for long and string ids alike, with null
    ids dropped, a one-id group and a disjoint pair included."""
    from finlogic_spark.operators.distinct_sketch import (
        theta_pair_overlap,
        theta_sketch_table,
    )

    rng = np.random.RandomState(3)
    rows = []
    sets = {"a": set(), "b": set(), "c": set(), "d": set(), "e": set()}
    for g, lo, hi in (("a", 0, 800), ("b", 400, 1200), ("c", 0, 1500)):
        ids = rng.randint(lo, hi, 2000)
        sets[g].update(int(u) for u in ids)
        rows += [(g, int(u)) for u in ids]
    rows += [("d", 5), ("d", 5), ("d", None), ("e", 10_000), ("e", None)]
    sets["d"], sets["e"] = {5}, {10_000}
    df = spark.createDataFrame(rows, "grp string, uid long").repartition(6)
    for col in ("uid", "uid_str"):
        src = df.withColumn("uid_str", F.concat(F.lit("u"), "uid"))
        sk = theta_sketch_table(src, ["grp"], col)
        assert sk.columns == ["grp", "__theta"]
        got = {
            (r["key_a"], r["key_b"]): r["approx_overlap"]
            for r in theta_pair_overlap(sk, "grp").collect()
        }
        assert len(got) == 10
        for (x, y), v in got.items():
            assert v == len(sets[x] & sets[y]), (col, x, y, v)
        assert got[("a", "e")] == 0.0


def test_theta_refuses_retired_kmv_table(spark):
    """A table persisted in the retired KMV format (sorted xxhash64
    longs) must raise a clear error, never be misread as sketches."""
    import pytest

    from finlogic_spark.operators.distinct_sketch import theta_pair_overlap

    legacy = spark.createDataFrame(
        [("a", 64, "xxhash64:42", [1, 2, 3]), ("b", 64, "xxhash64:42", [2])],
        "grp string, __k int, __hash string, __kmv array<bigint>",
    )
    with pytest.raises(ValueError, match="retired KMV format"):
        theta_pair_overlap(legacy, "grp")
    with pytest.raises(ValueError, match="__theta"):
        theta_pair_overlap(legacy.select("grp"), "grp")
