"""Skew-mitigation operators: salted joins and two-phase salted
aggregation (engine-scope addition; SURVEY.md §2).

AQE's skew-join splitting (spark.sql.adaptive.skewJoin) handles most
hot-key joins at runtime; these operators are the EXPLICIT form for the
cases AQE can't fix: a hot key whose rows must meet a single reduce
task anyway (grouped distinct-style aggregation), or a broadcast-too-
big dim joined on a power-law key. The salt fans ONE logical key out
over ``salts`` reduce tasks; the dim side replicates ``salts``x (tiny),
and aggregations run partial-on-salt then final-on-key, so no task ever
sees more than ~1/salts of the hottest key.

Everything is deterministic: the salt is a hash of a caller-named
unique column, never rand() — retries and speculative tasks reproduce
identical partitioning, which exactly-once sinks require.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_SALT = "__salt"


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    on: list[str] | str,
    salt_source: str | Column | None = None,
    salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join ``fact`` ⋈ ``dim`` on ``on`` with the fact side salted
    into ``salts`` sub-keys and the dim side replicated to match.
    Result rows are identical to the plain join; only the shuffle key
    changes from ``on`` to ``on + salt``, splitting each hot key's rows
    across ``salts`` tasks. ``salt_source`` must be a fact column (or
    expression) that varies within a join key — a line number, event
    id, any per-row unique — so the hash spreads evenly.

    When ``salt_source`` is omitted the salt hashes ALL fact columns —
    still deterministic (identical reruns, retries and speculative
    tasks re-derive the same salt, unlike rand()), but fully-duplicate
    rows then share a salt; name a per-row-unique column when the fact
    has heavy duplication.

    ``how`` supports the fact-preserving joins "inner" and "left";
    salting a right/full join would emit each unmatched dim row once
    per replica.

    Cost: the dim shuffle/broadcast grows ``salts``x (explode of a
    ``salts``-element array — cheap for dim-sized tables); the fact
    side pays nothing extra. Use for power-law keys where AQE's
    post-hoc split can't help (e.g. the dim side is pre-partitioned)
    or where deterministic task sizing matters more than adaptivity.
    """
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    keys = [on] if isinstance(on, str) else list(on)
    if salt_source is None:
        src = F.xxhash64(*[F.col(c) for c in fact.columns])
    elif isinstance(salt_source, str):
        src = F.xxhash64(F.col(salt_source))
    else:
        src = F.xxhash64(salt_source)
    fact_s = fact.withColumn(_SALT, F.pmod(src, F.lit(salts)).cast("int"))
    dim_s = dim.withColumn(
        _SALT, F.explode(F.sequence(F.lit(0), F.lit(salts - 1)))
    )
    return fact_s.join(dim_s, keys + [_SALT], how).drop(_SALT)


def salted_agg(
    df: DataFrame,
    keys: list[str],
    salt_source: str | Column,
    aggs: dict[str, tuple[str, str]],
    salts: int = 32,
) -> DataFrame:
    """Two-phase grouped aggregation for hot keys: partial-aggregate on
    ``keys + salt`` (each hot key split over ``salts`` tasks), then
    final-aggregate the ``salts`` partials per key. Supports the
    mergeable aggregates ``sum`` / ``count`` / ``min`` / ``max``
    (count re-merges as sum).

    ``aggs`` maps output column -> (fn, input column), e.g.
    ``{"total": ("sum", "value"), "n": ("count", "*")}``.

    Spark's own hash aggregate already does map-side partial combine,
    which covers most group-by skew; the explicit salt matters when the
    partial-combine hash table can't absorb the hot key (high overall
    cardinality + a few huge keys) and one reducer would still receive
    a giant group — the salt bounds any single task's share to
    ~1/salts of the hottest key.
    """
    merge_fn = {"sum": "sum", "count": "sum", "min": "min", "max": "max"}
    for out, (fn, _) in aggs.items():
        if fn not in merge_fn:
            raise ValueError(f"unsupported aggregate {fn!r} for {out!r}")
    src = F.col(salt_source) if isinstance(salt_source, str) else salt_source
    salted = df.withColumn(
        _SALT, F.pmod(F.xxhash64(src), F.lit(salts)).cast("int")
    )
    partial = salted.groupBy(*keys, _SALT).agg(
        *(
            (
                F.count("*") if fn == "count" and col == "*"
                else getattr(F, fn)(col)
            ).alias(out)
            for out, (fn, col) in aggs.items()
        )
    )
    return partial.groupBy(*keys).agg(
        *(
            getattr(F, merge_fn[fn])(out).alias(out)
            for out, (fn, _) in aggs.items()
        )
    )
