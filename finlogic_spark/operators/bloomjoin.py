"""Bloom-filter semi-join reduction — prune a huge probe side with a
compact bit-set built from the (filtered) build side BEFORE the shuffle
join moves the probe's bytes (engine-scope addition; Spark itself
injects these as AQE runtime filters — `InjectRuntimeFilter`,
`spark.sql.optimizer.runtime.bloomFilter.enabled` — but only under
planner heuristics; this operator makes the reduction explicit
and available to any join the caller wants reduced).

Why this is the 100 TB shape: a fact⋈dim join where the dim carries a
selective predicate shuffles the ENTIRE fact unless something removes
non-matching fact rows first. A semi-join would itself shuffle the
fact. A bloom filter built from the dim keys is a few KiB–MiB: it
broadcasts to every fact scan task and drops non-matching rows inside
the scan stage, so the one big exchange carries only candidate rows.
False positives are possible (removed by the exact join that follows);
false negatives are not — the pruned join is bitwise-identical to the
unpruned one.

Layout: the filter is a DENSE array<long> of num_bits/64 words held in
a 1-row DataFrame, built with one tiny shuffle (groupBy over at most
num_bits/64 word rows, partial bit_or combines map-side) and broadcast
onto the probe — no driver collect, so the same plan runs unchanged on
a real cluster. k hash functions are xxhash64 seeded 0..k-1 (the same
64-bit hash family Spark's own runtime bloom filters use).

Probe-cost note (measured at 10x bench scale): the bit test is built
as a SQL expression string — ``shiftleft(1L, pos % 64)`` — because the
PySpark ``shiftleft`` wrapper only accepts a Python-int shift, and the
workaround (indexing a 64-literal CreateArray per row per hash) showed
up as the dominant probe cost (3.3x the expression-form wall time).
The dense array (not map_from_entries) matters for the same reason:
Spark's map element_at linearly scans the entries; array indexing is
O(1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from finlogic_spark.operators import gate

# bloom_pruned_join sizes its filter to the build side: m is the next
# power of two >= BITS_PER_KEY * n, probed with NUM_HASHES hashes
# (~1% false positives).
BITS_PER_KEY = 10
NUM_HASHES = 5


def _pos_sql(key_col: str, i: int, num_bits: int) -> str:
    """Bit position i via Kirsch–Mitzenmacher double hashing:
    pos_i = pmod(h1 + i·(h2|1), m) with h1/h2 = xxhash64(key, 0/1).
    Two base hashes serve all k positions (plain per-i seeding costs k
    xxhash64 per row — and 2k after the optimizer re-inlines each
    position into its DIV 64 and % 64 uses; KM caps that at 4). h2|1
    keeps the stride odd, coprime with the power-of-two m. pmod (not %)
    so negative values land in [0, m).

    CONTRACT: build and probe keys must be the SAME TYPE — xxhash64 is
    type-sensitive (xxhash64(int 5) != xxhash64(bigint 5)), so a type
    mismatch silently produces false negatives. bloom_pruned_join
    enforces this; callers composing build/prune directly must too."""
    # Reduce each base hash mod m BEFORE combining: raw h1 + i*h2 on
    # full-range int64 overflows (ANSI mode throws). After pmod both
    # operands are < m, so the combination stays far from the limit.
    # (h2|1) is odd, and an odd value stays odd under pmod by a
    # power-of-two m — the stride remains coprime with m.
    h1 = f"pmod(xxhash64({key_col}, 0), {num_bits})"
    h2 = f"pmod(xxhash64({key_col}, 1) | CAST(1 AS BIGINT), {num_bits})"
    return f"pmod({h1} + {i} * {h2}, {num_bits})"


def build_bloom_filter(
    build: DataFrame,
    key_col: str,
    num_bits: int = 1 << 17,
    num_hashes: int = 5,
) -> DataFrame:
    """1-row DataFrame ``(__bloom_words: array<long>)`` — the bit-set
    of the build side's keys packed into a dense array of num_bits/64
    words (untouched words are 0). Null build keys set no bits: a null
    key never equi-joins, so dropping it cannot create a false
    negative. The column name is deliberately collision-proof: the
    filter is cross-joined onto arbitrary caller DataFrames in
    bloom_prune, so a friendly name like 'bloom' would shadow (and then
    drop) a caller column of the same name.

    Size the filter to the build side: with k=5 hashes, m ≈ 10 bits per
    distinct key gives ~1% false-positive rate; the array costs
    num_bits/8 bytes regardless of build cardinality.
    """
    n_words = (num_bits + 63) // 64
    pos = F.explode(
        F.array(
            *[
                F.expr(_pos_sql(key_col, i, num_bits))
                for i in range(num_hashes)
            ]
        )
    ).alias("pos")
    # Union a zero row per word so the groupBy emits EVERY word index:
    # the dense array then falls straight out of one array_sort over
    # the collected (w, word) structs — O(n_words log n_words) — where
    # the previous map_from_entries + per-index element_at densify was
    # O(n_words^2) map scans (fine at 2^17 bits, minutes at the 2^22
    # an auto-sized sf100 build wants).
    zeros = build.sparkSession.range(n_words).select(
        F.col("id").cast("int").alias("w"),
        F.lit(0).cast("long").alias("bit"),
    )
    words = (
        build.filter(F.col(key_col).isNotNull())
        .select(pos)
        .select(
            F.expr("CAST(pos DIV 64 AS INT)").alias("w"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))")
            .alias("bit"),
        )
        .unionByName(zeros)
        .groupBy("w")
        .agg(F.expr("bit_or(bit)").alias("word"))
    )
    return words.agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("w"), F.col("word")))
        ).alias("e")
    ).select(
        F.transform(F.col("e"), lambda s: s["word"]).alias("__bloom_words")
    )


def bloom_prune(
    probe: DataFrame,
    key_col: str,
    bloom: DataFrame,
    num_bits: int = 1 << 17,
    num_hashes: int = 5,
) -> DataFrame:
    """Rows of ``probe`` whose key MIGHT be in the filter (all k bits
    set). Guaranteed superset of the exact semi-join — follow with the
    real join to discard false positives. num_bits/num_hashes must
    match the build call. The 1-row filter broadcasts (a broadcast of
    the word array, never a shuffle of the probe); probe rows with a
    null key are dropped EXPLICITLY — Spark's xxhash64 hashes NULL to
    the seed (not to NULL), so without the guard a null key would probe
    real bit positions — matching inner-join semantics either way.
    """
    checks = [f"({key_col} IS NOT NULL)"]
    for i in range(num_hashes):
        pos = _pos_sql(key_col, i, num_bits)
        checks.append(
            f"(element_at(__bloom_words, CAST(({pos}) DIV 64 AS INT) + 1)"
            f" & shiftleft(CAST(1 AS BIGINT), CAST(({pos}) % 64 AS INT)))"
            " != 0"
        )
    return (
        probe.join(F.broadcast(bloom))
        .filter(F.expr(" AND ".join(checks)))
        .drop("__bloom_words")
    )


def bloom_pruned_join(
    probe: DataFrame,
    build: DataFrame,
    probe_key: str,
    build_key: str,
) -> DataFrame:
    """Inner equi-join with the probe side bloom-reduced first. Result
    is identical to the plain inner join — the filter only removes rows
    the join would drop anyway. Same-named keys join by name (one
    merged key column, like ``probe.join(build, key)``); distinct names
    keep both columns.

    The filter is sized to the build side: the build is
    localCheckpointed once (it is dim-sized by this operator's contract
    — the big side goes in ``probe``), counted, and m is the next power
    of two ≥ ``BITS_PER_KEY``·n (10 bits/key at k = ``NUM_HASHES`` = 5
    ≈ 1% false positives). A fixed m is a scale bug in disguise:
    2^17 bits saturate around ~30k build keys, after which the filter
    passes everything and the probe pays the hash cost for zero
    pruning. The checkpoint also means the build side is SCANNED ONCE
    — the same materialized rows feed the bit-set build and the final
    exact join — instead of once per consumer.

    Broadcast bypass: when the build side fits under the session's
    ``spark.sql.autoBroadcastJoinThreshold``, the bloom is skipped and
    the plain join returned. In the broadcast
    regime the exact join already prunes probe rows inside the scan
    stage — the bloom is pure overhead there (measured sf100
    decomposition: plain broadcast join 1.28 s, bloom adds +1.16 s of
    per-row hashing for zero extra pruning), while in the shuffle
    regime the bloom wins 2.35x (6.99 s -> 2.98 s) by shrinking the
    probe's exchange. Two tiers decide: (1) a ZERO-JOB fast path — if
    Catalyst's optimized-plan stats already put the build side under
    the threshold, the plain join broadcasts on those same stats, so it
    is returned untouched (this was ~0.34 s of pure decision overhead
    at sf100 when the answer was "do nothing"); (2) otherwise the
    measurement job of ``operators.gate.measure`` over the
    un-checkpointed dim (row count + measured string/binary bytes),
    whose count also sizes the filter. A bypassed dim is never
    materialized. The threshold is the only switch: with broadcasting
    off (``<= 0``) or a dim larger than the threshold, the join gets
    the filter.

    Raises on probe/build key dtype mismatch: xxhash64 is
    type-sensitive, so hashing e.g. an int probe key against a bigint
    build filter would silently drop matching rows (the equi-join
    itself would have coerced them equal). Cast one side first.
    """
    p_type = dict(probe.dtypes)[probe_key]
    b_type = dict(build.dtypes)[build_key]
    if p_type != b_type:
        raise TypeError(
            f"bloom join key types differ (probe {probe_key}: {p_type}, "
            f"build {build_key}: {b_type}); xxhash64 is type-sensitive, "
            "so this would silently produce false negatives — cast one "
            "side to the other's type first"
        )

    def join(p: DataFrame, b: DataFrame) -> DataFrame:
        if probe_key == build_key:
            return p.join(b, [probe_key])
        return p.join(b, F.col(probe_key) == F.col(build_key))

    threshold = gate.broadcast_threshold(build.sparkSession)
    if 0 < threshold:
        # Zero-job fast path. Only a <=-threshold stats value
        # short-circuits; unknown/huge stats (joins, checkpoints —
        # LogicalRDD reports defaults) fall through to the measured
        # decision below.
        stats_bytes = int(
            str(
                build._jdf.queryExecution()
                .optimizedPlan()
                .stats()
                .sizeInBytes()
            )
        )
        if stats_bytes <= threshold:
            return join(probe, build)
    # Measured BEFORE checkpointing, so the bypass branch — the
    # common case — costs one pushdown-filtered dim scan over the
    # bare plain join. Only the bloom branch checkpoints, where
    # scan-once across build+join pays.
    n, est_bytes = gate.measure(build, threshold)
    if 0 < threshold and est_bytes <= threshold:
        # The hint is explicit because the dim's plan stats said
        # "too big" (or unknown) while the measurement says it fits
        # — without it the static planner would SMJ first and leave
        # the fix to AQE after the probe's shuffle files are
        # written.
        return join(probe, F.broadcast(build))
    build = build.localCheckpoint(eager=True)
    num_bits = 1 << max(10, (BITS_PER_KEY * max(n, 1) - 1).bit_length())
    bloom = build_bloom_filter(build, build_key, num_bits, NUM_HASHES)
    return join(bloom_prune(probe, probe_key, bloom, num_bits, NUM_HASHES), build)
