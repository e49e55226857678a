"""Similarity search over embedding columns (engine-scope addition;
SURVEY.md §7 phase 4 — the `embeddings` table, ArrayType(FloatType)).

Three tiers:
- ``cosine_topk``     — brute-force exact top-k: broadcast the (small)
  query set against the corpus; per-row dot products stay JVM-side via
  ``zip_with`` + ``aggregate``; per-query top-k via ranked window.
  Exact baseline; linear in corpus size per query.
- ``lsh_cosine_topk`` — random-hyperplane LSH: bucket corpus and queries
  by sign-pattern of H fixed hyperplanes, join on bucket, rank within.
  Sub-linear candidate set; hyperplanes are seed-deterministic.
- ``ivf_topk``        — inverted-file cells: assign each corpus vector
  to its nearest centroid ONCE (shuffle-free expression argmax), then
  each query scans only its n_probe nearest cells.

The LSH and IVF tiers persist as serving indexes (build once, append,
open) in the one on-disk index format of sources/index_table.py.

No Python UDFs: higher-order array functions compile to Catalyst
expressions. Literal-heavy expressions (hyperplanes, centroid tables)
are built as ONE ``F.expr`` SQL string each — building them from
per-element ``F.lit`` Columns costs hundreds of py4j round-trips and
made plan CONSTRUCTION dominate small-corpus wall clock (measured
~1.3 s of a 1.6 s query); a single SQL parse is ~10× cheaper and
identical once optimized.
"""

from __future__ import annotations

import hashlib
import math
import struct
from collections.abc import Sequence
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StructField, StructType

from finlogic_spark.session import local_frame
from finlogic_spark.sources.index_table import read_params, write_index


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v
        )
    )


def cosine(a: Column, b: Column) -> Column:
    # try_divide: a zero-norm vector (all-zero embedding — they occur in
    # real corpora) yields null instead of an ANSI divide-by-zero error;
    # null similarity sorts last under the desc rank windows.
    return F.try_divide(dot(a, b), l2_norm(a) * l2_norm(b))


# ---------------------------------------------------------------------------
# SQL-string expression builders (single-parse plan construction)
# ---------------------------------------------------------------------------

def _sql_vec(vals: Sequence[float]) -> str:
    """SQL double-array literal: array(0.1D, ...)."""
    return "array(" + ",".join(f"{float(v)!r}D" for v in vals) + ")"


def _sql_dot(vec_sql: str, arr_sql: str) -> str:
    """Same fold order as the Column-API ``dot`` and the DuckDB oracle's
    list_sum(list_transform(...)) — bitwise-reproducible."""
    return (
        f"aggregate(zip_with({vec_sql}, {arr_sql}, (x, y) -> x * y), "
        f"0.0D, (acc, v) -> acc + v)"
    )


def _bt(name: str) -> str:
    return f"`{name}`"


def cell_structs_sql(cents: Sequence[tuple[int, Sequence[float]]]) -> str:
    """Literal array<struct<nc int, cv array<double>>> of centroids.
    nc = -cid so that max-by-(sim, nc) tiebreaks to the LOWEST cid on
    equal similarity (matching ORDER BY sim DESC, cid ASC)."""
    elems = ", ".join(
        f"named_struct('nc', {-int(cid)}, 'cv', {_sql_vec(cv)})" for cid, cv in cents
    )
    return f"array({elems})"


def nearest_cells_expr(
    vec_col: str, cents: Sequence[tuple[int, Sequence[float]]], n: int = 1
) -> Column:
    """Cell id(s) of the ``n`` nearest centroids by cosine — a single
    shuffle-free expression (the IVF assignment step).

    Centroids are pre-normalized driver-side, so per-centroid rank order
    by dot(vec, cv_normalized) equals rank order by cosine: the query
    vector's own norm scales every centroid's score by the same positive
    factor and cancels out of the argmax. Returns an int for n=1, an
    array<int> (descending similarity) otherwise.
    """
    normed = []
    for cid, cv in cents:
        nrm = math.sqrt(sum(float(x) * float(x) for x in cv))
        normed.append((cid, [float(x) / nrm if nrm > 0 else 0.0 for x in cv]))
    arr = cell_structs_sql(normed)
    scored = (
        f"transform({arr}, c -> named_struct("
        f"'s', {_sql_dot(_bt(vec_col), 'c.cv')}, 'nc', c.nc))"
    )
    if n == 1:
        return F.expr(f"-array_max({scored}).nc")
    # asc sort by (s, nc), reversed → s desc, then nc desc == cid asc.
    return F.expr(
        f"transform(slice(reverse(array_sort({scored})), 1, {n}), c -> -c.nc)"
    )


def _planes_sql(planes: Sequence[Sequence[float]]) -> list[str]:
    return [_sql_vec(p) for p in planes]


def _deterministic_planes(
    dim: int, num_planes: int, table: int = 0
) -> list[list[float]]:
    """Seeded pseudo-random hyperplanes from md5 bytes — reproducible
    across engines and runs without RNG state. ``table`` seeds
    independent plane sets for multi-table LSH banding."""
    planes = []
    prefix = "plane" if table == 0 else f"t{table}plane"
    for p in range(num_planes):
        vals: list[float] = []
        counter = 0
        while len(vals) < dim:
            digest = hashlib.md5(f"{prefix}{p}|{counter}".encode()).digest()
            for off in range(0, 16, 4):
                (u,) = struct.unpack(">I", digest[off : off + 4])
                vals.append((u / 2**31) - 1.0)  # uniform [-1, 1)
            counter += 1
        planes.append(vals[:dim])
    return planes


def lsh_bucket(vec: str, planes: Sequence[Sequence[float]]) -> Column:
    """Sign-pattern bucket id of the vector column named ``vec``: bit p
    set iff dot(vec, plane_p) >= 0, parsed as one SQL expression (one
    py4j call)."""
    parts = [
        f"(CASE WHEN {_sql_dot(_bt(vec), arr)} >= 0.0D "
        f"THEN {2**p}L ELSE 0L END)"
        for p, arr in enumerate(_planes_sql(planes))
    ]
    return F.expr("(" + " + ".join(parts) + ")")


# ---------------------------------------------------------------------------
# Top-k operators
# ---------------------------------------------------------------------------

def _per_query_topk(scored: DataFrame, query_id: str, corpus_id: str, k: int) -> DataFrame:
    """Rank candidates per query; WindowGroupLimit prunes to k rows
    per partition before the shuffle (visible in the physical plan), so
    the exchange carries O(queries·k), not the candidate set."""
    w = Window.partitionBy(query_id).orderBy(
        F.col("cos_sim").desc(), F.col(corpus_id).asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(query_id, corpus_id, "cos_sim", "rk")
    )


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
) -> DataFrame:
    """Exact top-k nearest corpus rows per query row by cosine.

    Plan: BroadcastNestedLoopJoin (query side broadcast — it must be
    the small side) → codegen'd cosine → per-query rank window.
    Deterministic tiebreak on corpus id.
    """
    q = F.broadcast(queries.select(query_id, query_vec))
    scored = corpus.select(corpus_id, corpus_vec).crossJoin(q).select(
        F.col(query_id),
        F.col(corpus_id),
        cosine(F.col(corpus_vec), F.col(query_vec)).alias("cos_sim"),
    )
    return _per_query_topk(scored, query_id, corpus_id, k)


def lsh_assign_buckets(
    df: DataFrame,
    vec_col: str,
    dim: int,
    num_planes: int = 6,
    bucket_col: str = "__bucket",
    table: int = 0,
) -> DataFrame:
    """Append the sign-pattern LSH bucket id — a narrow, shuffle-free
    map. For repeated querying, persist the result once
    (``df.write.partitionBy(bucket_col)...`` or ``.cache()``) and pass
    the pre-bucketed corpus to ``lsh_cosine_topk`` via
    ``corpus_bucketed=True``: bucket assignment is corpus-only work and
    never needs recomputing per query batch."""
    planes = _deterministic_planes(dim, num_planes, table)
    return df.withColumn(bucket_col, lsh_bucket(vec_col, planes))


def probe_masks(num_planes: int, radius: int) -> list[int]:
    """XOR masks for multi-probe LSH: every bucket within Hamming
    distance <= radius of the query's own bucket (mask 0)."""
    import itertools

    return [0] + [
        sum(1 << b for b in combo)
        for r in range(1, radius + 1)
        for combo in itertools.combinations(range(num_planes), r)
    ]


def lsh_index_multi(
    corpus: DataFrame,
    vec_col: str,
    dim: int,
    num_planes: int,
    num_tables: int,
    id_col: str = "vec_id",
) -> DataFrame:
    """Multi-table LSH index: one row per (vector, table) carrying the
    table id and that table's sign-pattern bucket. L independent plane
    sets trade L× index size for recall ≈ 1-(1-p)^L — the classic LSH
    lever; still a narrow shuffle-free map. Persist (or
    ``write.partitionBy('__tbl', '__bucket')``) once, serve forever.

    r16: ONE corpus pass, not an L-branch union. The union form
    re-evaluated the corpus subtree once per table (L scans — Spark
    shares no subplans across union branches) and multiplied the
    output partition count by L (L x 32 = 512 cached partitions at the
    bench shape), so every downstream serve join scheduled 512 tasks.
    The explode form computes all L (table, bucket) structs in one
    projection per row and keeps the input's partitioning; rows are
    identical."""
    if num_tables < 1:
        # ADVICE r16: the union form raised IndexError here; the explode
        # of an empty literal array would silently drop every row and
        # return an empty index, masking the caller bug. Fail loudly.
        raise ValueError(f"num_tables must be >= 1, got {num_tables}")
    entries = F.array(
        *[
            F.struct(
                F.lit(t).alias("t"),
                lsh_bucket(
                    vec_col, _deterministic_planes(dim, num_planes, t)
                ).alias("b"),
            )
            for t in range(num_tables)
        ]
    )
    return (
        corpus.select(id_col, vec_col)
        .select(id_col, vec_col, F.explode(entries).alias("__e"))
        .select(
            id_col,
            vec_col,
            F.col("__e.b").alias("__bucket"),
            F.col("__e.t").alias("__tbl"),
        )
    )


class LshIndex(NamedTuple):
    """Handle on a persisted multi-table LSH index: the serving frame
    plus the build parameters from the ``_stats`` sidecar (so serving
    and appends can never drift from the stored layout)."""

    df: DataFrame
    dim: int
    num_planes: int
    num_tables: int


# ``_stats`` sidecar schemas (sources/index_table.py).
_LSH_STATS = "dim int, num_planes int, num_tables int"
_IVF_STATS = "cid int, cv array<double>"


def build_lsh_index_table(
    corpus: DataFrame,
    path: str,
    dim: int,
    num_planes: int,
    num_tables: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> LshIndex:
    """Build and PERSIST the multi-table LSH index: parquet partitioned
    by ``__tbl`` with rows sorted by ``__bucket`` inside each file
    (row-group min/max skipping for bucket-selective reads), plus a
    ``_stats`` sidecar pinning (dim, num_planes, num_tables) — the
    layout of every persisted index (sources/index_table.py).
    Underscore-prefixed sidecars are invisible to the parquet scan, so
    ``spark.read.parquet(path)`` is the serving frame.
    """
    params = (dim, num_planes, num_tables)
    rows = lsh_index_multi(corpus, vec_col, *params, id_col=id_col)
    df = write_index(
        rows, path, "__tbl", sort_col="__bucket", n_parts=num_tables,
        params=(_LSH_STATS, [params]),
    )
    return LshIndex(df, *params)


def read_lsh_index(spark, path: str) -> LshIndex:
    return LshIndex(spark.read.parquet(path), *read_params(spark, path, _LSH_STATS)[0])


def append_to_lsh_index(
    new_vecs: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> LshIndex:
    """Incrementally extend a persisted LSH index with NEW vectors —
    no rebuild, no read of the existing index rows. Sound for this
    index because a sign-pattern bucket is a PURE per-vector function
    of the stored plane parameters: no corpus-global statistic exists
    to go stale (contrast BM25's df/total_dl, which rebuild). The
    appended table is row-for-row identical to a from-scratch build
    over the union — pinned by tests/test_ann_append.py. This is the
    hourly-ingest path at 100 TB: hash the new batch against the
    sidecar's parameters, one partitioned append, serve.

    Caller contract: ``new_vecs`` must not already be in the index
    (a re-appended id would surface twice per table); dedup upstream.
    Parameters always come from the sidecar, never the caller — a
    mismatched plane count would silently split the corpus across
    incompatible bucket spaces."""
    params = read_params(new_vecs.sparkSession, path, _LSH_STATS)[0]
    rows = lsh_index_multi(new_vecs, vec_col, *params, id_col=id_col)
    df = write_index(
        rows, path, "__tbl", sort_col="__bucket", n_parts=params.num_tables,
        mode="append",
    )
    return LshIndex(df, *params)


class IvfIndex(NamedTuple):
    """Handle on a persisted IVF index: the (id, vec, __cell) serving
    frame plus the frozen centroid table from the ``_stats`` sidecar."""

    df: DataFrame
    cents: list


def build_ivf_index_table(
    corpus: DataFrame,
    cents: Sequence[tuple[int, Sequence[float]]],
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> IvfIndex:
    """Build and PERSIST the IVF cell index partitioned by ``__cell``
    (a query probe becomes a partition-pruned scan), with the centroid
    table in the ``_stats`` sidecar: the centroids are part of the
    INDEX, not the caller's state — appends must assign against the
    exact centroids the existing rows used."""
    cents = sorted((int(c), [float(x) for x in v]) for c, v in cents)
    cells = ivf_assign(corpus.select(id_col, vec_col), cents, vec_col, "__cell")
    return IvfIndex(
        df=write_index(cells, path, "__cell", params=(_IVF_STATS, cents)), cents=cents
    )


def _ivf_cents(spark, path: str) -> list:
    return sorted(
        (int(r["cid"]), list(map(float, r["cv"])))
        for r in read_params(spark, path, _IVF_STATS)
    )


def read_ivf_index(spark, path: str) -> IvfIndex:
    return IvfIndex(df=spark.read.parquet(path), cents=_ivf_cents(spark, path))


def append_to_ivf_index(
    new_vecs: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> IvfIndex:
    """Incrementally extend a persisted IVF index: assign the new
    vectors against the SIDECAR's frozen centroids and append into the
    same ``__cell`` partitions — existing files untouched, zero corpus
    re-read, rebuild ≡ append (cell assignment is a pure per-vector
    argmin over the stored centroid table; pinned by
    tests/test_ann_append.py). Centroid DRIFT is a rebuild decision,
    not an append one: fold-in never re-clusters."""
    cents = _ivf_cents(new_vecs.sparkSession, path)
    cells = ivf_assign(new_vecs.select(id_col, vec_col), cents, vec_col, "__cell")
    return IvfIndex(df=write_index(cells, path, "__cell", mode="append"), cents=cents)


def _probe_rows_from_collected(
    rows, dim: int, num_planes: int, num_tables: int, probe_radius: int
) -> list[tuple]:
    """Driver-side query bucket assignment + probe fan-out: (id, tbl,
    bucket) tuples for every table x probe mask of the collected (id,
    vec) query rows.

    Why driver-side: the Spark-expression form embeds
    tables x planes x dim plane literals in the QUERY-side plan —
    ~400 KB of literal tree per serve call at the shipped 12x16
    defaults, costing ~1.3 s of parse/analyze/codegen per query batch
    (measured; 2.8x the whole serve time). A query batch is bounded by
    definition (it broadcasts), so computing its
    |Q| x tables x planes dots in Python is microseconds and the serve
    plan shrinks to a literal-free join. The corpus side never does
    this — it stays a distributed expression map (lsh_index_multi).

    Bit-identical to the expression path: the dot folds left-to-right
    over python doubles, the same IEEE op sequence as the SQL chain,
    so the >= 0 sign — and hence the bucket — can't disagree. That
    includes degenerate vectors: a NULL / too-short / NULL-element
    vector null-propagates every SQL dot, so CASE sets no bit and the
    row lands in bucket 0 — mirrored here instead of crashing."""
    masks = probe_masks(num_planes, probe_radius)
    out = []
    for r in rows:
        v = r[1]
        # Mirror SQL null propagation: any length mismatch or missing
        # element -> no plane comparison succeeds -> bucket 0 in every
        # table. len(v) != dim (not just <): zip_with pads the SHORTER
        # side with nulls, so an over-length vector also null-propagates
        # the dot product to bucket 0 in the expression path.
        degenerate = (
            v is None
            or len(v) != dim
            or any(v[i] is None for i in range(dim))
        )
        for t in range(num_tables):
            b = 0
            if not degenerate:
                for p, pl in enumerate(
                    _deterministic_planes(dim, num_planes, t)
                ):
                    d = 0.0
                    for i in range(dim):
                        d += v[i] * pl[i]
                    if d >= 0.0:
                        b |= 1 << p
            for m in masks:
                out.append((r[0], t, b ^ m))
    return out


def _probe_df_from_rows(
    spark, q_schema, rows, dim, num_planes, num_tables, probe_radius
) -> DataFrame:
    out = _probe_rows_from_collected(
        rows, dim, num_planes, num_tables, probe_radius
    )
    id_field = q_schema.fields[0]
    schema = StructType([
        StructField(id_field.name, id_field.dataType),
        StructField("__tbl", IntegerType(), False),
        StructField("__bucket", LongType(), False),
    ])
    return local_frame(spark, out, schema)


def lsh_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    dim: int,
    num_planes: int = 12,
    num_tables: int = 16,
    probe_radius: int = 2,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    corpus_bucketed: bool = False,
    local_query_probes: bool = False,
) -> DataFrame:
    """Approximate top-k via multi-table, multi-probe sign-pattern LSH:
    candidates are corpus rows sharing a bucket with the query in ANY
    of ``num_tables`` independent plane sets, where the query probes
    every bucket within Hamming distance ``probe_radius`` of its own.
    Equi-join on (table, bucket) — never a cross join.

    Recall/cost: expected scanned fraction ≈ num_tables * n_probes /
    2^num_planes (n_probes = 1 + C(planes, 1) + ... at the radius);
    the model tracks measurement within ~20% across a 10x corpus
    growth (tools/lsh_frontier.py). The shipped defaults (12 planes ×
    16 tables × radius 2 ≈ 29% of a uniform corpus — the same scan
    budget as the previous 8×8×1 default) measure recall@5 = 0.94
    against exact cosine on the driver's embeddings at sf0.1, vs 0.80
    for 8×8×1 and 0.24 for single-table single-probe at 6 planes. On
    clustered real-world corpora the same settings scan less and
    recall more.

    ``corpus_bucketed=True`` skips corpus-side assignment: pass a
    corpus that already carries ``__tbl``/``__bucket`` (from
    ``lsh_index_multi``, ideally persisted) so per-query-batch work is
    only the tiny query-side hash + join.

    ``local_query_probes=True`` computes the query-side buckets on the
    driver (_probe_rows_from_collected): the serve plan then carries ZERO
    plane literals — measured 2.8x faster per query batch at the
    shipped defaults. Requires the query batch to be collectable
    (it broadcasts anyway); results are bit-identical."""
    c = (
        corpus
        if corpus_bucketed
        else lsh_index_multi(
            corpus, corpus_vec, dim, num_planes, num_tables, id_col=corpus_id
        )
    ).select(corpus_id, corpus_vec, "__tbl", "__bucket")
    if local_query_probes:
        # ONE collect serves both sides: the probe fan-out AND the
        # broadcast vector join are rebuilt from the same driver rows,
        # so the queries plan (often a scan+filter) runs once per serve
        # batch, not twice. Both are local frames: broadcasting them
        # runs no job.
        q_sel = queries.select(query_id, query_vec)
        q_rows = q_sel.collect()
        spark = queries.sparkSession
        probes = _probe_df_from_rows(
            spark, q_sel.schema, q_rows, dim, num_planes, num_tables,
            probe_radius,
        )
        q_local = local_frame(spark, q_rows, q_sel.schema)
        scored = (
            c.join(F.broadcast(probes), ["__tbl", "__bucket"])
            .join(F.broadcast(q_local), query_id)
            .select(
                F.col(query_id),
                F.col(corpus_id),
                cosine(F.col(corpus_vec), F.col(query_vec)).alias("cos_sim"),
            )
            .groupBy(query_id, corpus_id)
            .agg(F.max("cos_sim").alias("cos_sim"))
        )
        return _per_query_topk(scored, query_id, corpus_id, k)
    q_parts = [
        lsh_assign_buckets(
            queries.select(query_id, query_vec), query_vec, dim, num_planes,
            table=t,
        ).withColumn("__tbl", F.lit(t))
        for t in range(num_tables)
    ]
    q = q_parts[0]
    for p in q_parts[1:]:
        q = q.unionByName(p)
    masks = probe_masks(num_planes, probe_radius)
    q = q.withColumn(
        "__mask", F.explode(F.array(*[F.lit(m) for m in masks]))
    ).withColumn("__bucket", F.col("__bucket").bitwiseXOR(F.col("__mask")))
    scored = (
        c.join(F.broadcast(q), ["__tbl", "__bucket"])
        .select(
            F.col(query_id),
            F.col(corpus_id),
            cosine(F.col(corpus_vec), F.col(query_vec)).alias("cos_sim"),
        )
        # A candidate found in several tables/probes scores identically;
        # dedupe before ranking so k distinct neighbors come back.
        .groupBy(query_id, corpus_id)
        .agg(F.max("cos_sim").alias("cos_sim"))
    )
    return _per_query_topk(scored, query_id, corpus_id, k)


def auto_num_planes(corpus_size: int, target_bucket_size: int = 64) -> int:
    """Plane count that keeps E[bucket size] ≈ target: candidate pairs
    scale as n²/2^planes, so planes must grow with log2(n) or pair
    generation degenerates to quadratic at corpus scale."""
    return max(4, math.ceil(math.log2(max(corpus_size, 2) / target_bucket_size)))


def cosine_neardup_pairs(
    df: DataFrame,
    threshold: float,
    dim: int,
    num_planes: int | None = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_tables: int = 1,
    # Mega-bucket guard, pinned by test_similarity_ivf.py
    # test_neardup_degenerate_single_bucket. It drops pairs, so no
    # registry query sets it; the pair-preserving bound is ROADMAP's
    # "Bound `bucket_pairs` for giant buckets".
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, cos >= τ):
    the vector-space dedup tier (exact / n-gram / MinHash-LSH / SimHash
    / embedding-cosine).

    Candidates come from a self-equi-join on the sign-pattern LSH bucket
    (near-identical vectors agree on every hyperplane sign with high
    probability), then exact cosine confirms — sub-quadratic: only
    same-bucket pairs are ever scored, ~n²/2^planes instead of n².

    Scale levers (the recall/cost curve):
    - ``num_planes=None`` sizes the plane count from the corpus
      (``auto_num_planes``): pairs stay ~n·target_bucket instead of
      n²/2^const. The corpus count it runs is that measurement.
    - ``num_tables>1`` unions candidates from independent plane sets —
      each extra table multiplies candidate cost but recovers pairs a
      single sign-pattern splits (recall ≈ 1-(1-p)^T for per-table
      collision probability p).
    - ``max_bucket_size`` drops degenerate mega-buckets (e.g. a spike
      of identical/zero vectors) before the quadratic within-bucket
      expansion — the same guard the text MinHash-LSH tier uses.
    """
    if num_planes is None:
        num_planes = auto_num_planes(df.count())
    pair_sets = []
    for t in range(num_tables):
        b = lsh_assign_buckets(
            df.select(id_col, vec_col), vec_col, dim, num_planes, table=t
        ).withColumn("__tbl", F.lit(t))
        a_side = b.select(
            "__tbl", "__bucket", F.col(id_col).alias("id_a")
        )
        b_side = b.select(
            "__tbl", "__bucket", F.col(id_col).alias("id_b"),
            F.col(vec_col).alias("__vb"),
        )
        if max_bucket_size is not None:
            sizes = b.groupBy("__tbl", "__bucket").count()
            keep = sizes.filter(F.col("count") <= max_bucket_size).select(
                "__tbl", "__bucket"
            )
            a_side = a_side.join(F.broadcast(keep), ["__tbl", "__bucket"], "left_semi")
        pair_sets.append(
            a_side.join(b_side, ["__tbl", "__bucket"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
        )
    cands = pair_sets[0]
    for p in pair_sets[1:]:
        cands = cands.unionByName(p)
    if num_tables > 1:
        cands = cands.distinct()
    # Re-attach vectors for the exact confirm. For the common 1-table
    # case, join back is avoidable — but carrying both vectors through
    # the candidate join is what we did anyway; keep one code path.
    va = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"))
    vb = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"))
    return (
        cands.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cos_sim", cosine(F.col("__va"), F.col("__vb")))
        .filter(F.col("cos_sim") >= threshold)
        .select("id_a", "id_b", "cos_sim")
    )


def ivf_assign(
    corpus: DataFrame,
    cents: Sequence[tuple[int, Sequence[float]]],
    corpus_vec: str = "embedding",
    cell_col: str = "cell",
) -> DataFrame:
    """IVF cell assignment: append each vector's nearest-centroid id as
    ONE shuffle-free expression (plan: Scan → Project, zero Exchange —
    pinned by tests/test_plan_shape.py). Persist the result partitioned
    by cell (``.write.partitionBy(cell_col)``) to make query-time cell
    pruning a partition-pruned scan at 100 TB."""
    return corpus.withColumn(cell_col, nearest_cells_expr(corpus_vec, cents, 1))


def semantic_dedup(
    corpus: DataFrame,
    cents: Sequence[tuple[int, Sequence[float]]],
    threshold: float,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    cell_col: str = "cell",
    corpus_assigned: bool = False,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the corpus by nearest centroid, then
    WITHIN each cluster drop every vector that has a strictly-lower-id
    cluster-mate with cosine above ``threshold`` — each semantic-dup
    group survives through its min-id member. Returns the KEPT rows
    (corpus_id, vec, cell_col).

    Scale shape: the quadratic compare is fenced inside a cell — ONE
    equi-join on the cell id, |cell|² work per cell, never corpus² —
    exactly the paper's trick for running pairwise dedup on web-scale
    embedding sets. With n_cells ~ sqrt(n) (k-means or seed centroids)
    candidate volume is ~n^1.5. Cell assignment is the shuffle-free
    ``ivf_assign`` expression; pass ``corpus_assigned=True`` with a
    persisted cell-partitioned corpus (the serving layout) to skip it.

    Deterministic: assignment ties break to the lowest centroid id,
    and the drop rule references only (cell, lower id, cosine) — no
    RNG, no iteration order. Near-dup pairs that straddle a cell
    boundary are the documented recall loss (the paper's too);
    tighter recall = more probes = the LSH/pair tiers.
    """
    assigned = (
        corpus
        if corpus_assigned
        else ivf_assign(corpus, cents, corpus_vec, cell_col)
    )
    a = assigned.select(
        F.col(cell_col).alias("__cl"),
        F.col(corpus_id).alias("__ida"),
        F.col(corpus_vec).alias("__va"),
    )
    b = assigned.select(
        F.col(cell_col).alias("__cl"),
        F.col(corpus_id).alias("__idb"),
        F.col(corpus_vec).alias("__vb"),
    )
    dups = (
        a.join(b, "__cl")
        .filter(F.col("__idb") < F.col("__ida"))
        .filter(cosine(F.col("__va"), F.col("__vb")) > F.lit(threshold))
        .select(F.col("__ida").alias(corpus_id))
        .distinct()
    )
    return assigned.join(dups, corpus_id, "left_anti")


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame | Sequence[tuple[int, Sequence[float]]],
    k: int,
    n_probe: int = 2,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    centroid_id: str = "cid",
    centroid_vec: str = "cv",
    corpus_assigned: bool = False,
) -> DataFrame:
    """IVF-style approximate top-k: assign every corpus vector to its
    nearest centroid ("cell") once, then each query scans only its
    ``n_probe`` nearest cells.

    ``corpus_assigned=True`` skips the corpus-side assignment: pass a
    corpus that already carries ``__cell`` (from ``ivf_assign``,
    ideally persisted/partitioned by cell) so the per-query-batch plan
    is probe + equi-join against the prebuilt index.

    Scale shape: both assignments are expression-only argmax over the
    folded centroid table — a narrow map with ZERO exchanges (the k×dim
    centroid literals live in the plan; for thousands of cells switch
    to ``operators.kmeans.assign_clusters(method="pandas")``, the
    Arrow-vectorized variant). Query time is an equi-join on cell id —
    candidates shrink by ~n_probe/n_list versus brute force. Centroids
    are caller-provided (k-means output, seed vectors) so the operator
    stays deterministic. The previous implementation ranked a corpus ×
    centroid cross join over a per-vector window — a full shuffle of
    the k-expanded corpus that this formulation eliminates entirely.
    """
    if isinstance(centroids, DataFrame):
        rows = centroids.select(centroid_id, centroid_vec).collect()
        cents = [(int(r[centroid_id]), list(map(float, r[centroid_vec]))) for r in rows]
    else:
        cents = [(int(c), list(map(float, v))) for c, v in centroids]

    cells = (
        corpus.select(corpus_id, corpus_vec, "__cell")
        if corpus_assigned
        else ivf_assign(
            corpus.select(corpus_id, corpus_vec), cents, corpus_vec, "__cell"
        )
    )
    if n_probe == 1:
        probes = queries.select(
            query_id, query_vec,
            nearest_cells_expr(query_vec, cents, 1).alias("__cell"),
        )
    else:
        probes = (
            queries.select(query_id, query_vec)
            .withColumn("__cells", nearest_cells_expr(query_vec, cents, n_probe))
            .select(query_id, query_vec, F.explode("__cells").alias("__cell"))
        )
    scored = cells.join(F.broadcast(probes), "__cell").select(
        F.col(query_id),
        F.col(corpus_id),
        cosine(F.col(corpus_vec), F.col(query_vec)).alias("cos_sim"),
    )
    return _per_query_topk(scored, query_id, corpus_id, k)


def pq_ivf_index(
    corpus: DataFrame,
    cents: Sequence[tuple[int, Sequence[float]]],
    codebooks: Sequence[Sequence[Sequence[float]]],
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """Build the fused PQ-IVF serving index: (id, __cell, pq_code) —
    and NOTHING else. The original float vectors are projected away;
    at 100 TB the index is ~m bytes/vector + a cell id, written
    ``.write.partitionBy("__cell")`` so a probe is a partition-pruned
    scan. Both the cell assignment and the PQ encode are shuffle-free
    expression maps (zero exchanges), so the build is scan-shaped."""
    from finlogic_spark.operators.quantize import pq_encode

    assigned = ivf_assign(
        corpus.select(corpus_id, corpus_vec), cents, corpus_vec, "__cell"
    )
    return pq_encode(assigned, codebooks, corpus_vec, "pq_code").select(
        corpus_id, "__cell", "pq_code"
    )


def pq_ivf_topk(
    index: DataFrame,
    queries: DataFrame,
    cents: Sequence[tuple[int, Sequence[float]]],
    codebooks: Sequence[Sequence[Sequence[float]]],
    k: int,
    n_probe: int = 2,
    corpus_id: str = "vec_id",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
) -> DataFrame:
    """Fused PQ-IVF serving — the production ANN shape at 100 TB:
    asymmetric-distance top-k over stored PQ codes inside each query's
    ``n_probe`` nearest IVF cells, never reading the original vectors.

    Per query row, ONE expression builds the m×k lookup table of
    query-to-codeword squared distances (``pq_lut_expr``); the probe
    set (query × n_probe cells, LUT attached) broadcasts into an
    equi-join on cell id against the prebuilt ``pq_ivf_index``; each
    candidate's approximate distance is m table lookups + adds
    (``pq_adist_expr``). Ranking is adist ASC (it's a distance), corpus
    id tiebreak; WindowGroupLimit prunes to k per partition pre-shuffle.

    Cost per query batch: |q|·n_probe·(cells' share of corpus)
    candidates × O(m) each — versus O(dim) per candidate for float
    rescoring and a full-corpus scan for brute force. Recall is the
    IVF probe recall × PQ ranking fidelity; both tunable (n_probe,
    m·k) against the exact tier (``cosine_topk``)."""
    from finlogic_spark.operators.quantize import pq_adist_expr, pq_lut_expr

    q = queries.select(query_id, query_vec)
    if n_probe == 1:
        probes = q.select(
            query_id,
            nearest_cells_expr(query_vec, cents, 1).alias("__cell"),
            pq_lut_expr(codebooks, query_vec).alias("__lut"),
        )
    else:
        probes = (
            q.withColumn("__cells", nearest_cells_expr(query_vec, cents, n_probe))
            .withColumn("__lut", pq_lut_expr(codebooks, query_vec))
            .select(query_id, F.explode("__cells").alias("__cell"), "__lut")
        )
    scored = (
        index.join(F.broadcast(probes), "__cell")
        .select(
            F.col(query_id),
            F.col(corpus_id),
            pq_adist_expr("__lut", "pq_code").alias("adist"),
        )
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("adist").asc(), F.col(corpus_id).asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(query_id, corpus_id, "adist", "rk")
    )


def mmr_rerank(
    candidates: DataFrame,
    k: int,
    lam: float = 0.7,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    rel_col: str = "cos_sim",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal-marginal-relevance rerank of per-query candidates:
    greedily select k items maximizing
    ``lam * relevance - (1 - lam) * max_sim(to already selected)`` —
    the standard diversification pass over an ANN top-N (Carbonell &
    Goldstein '98). Returns (query_id, corpus_id, mmr_score, rk).

    Input is the CANDIDATE set (one row per (query, candidate) with
    the relevance score and the candidate's vector) — typically the
    top-N of ``lsh_cosine_topk``/``ivf_topk`` with N a small multiple
    of k, joined back to vectors.

    Execution: ``applyInPandas`` over query groups — the greedy loop
    is inherently sequential WITHIN a query but embarrassingly
    parallel ACROSS queries, so one Arrow batch per query does k·N
    numpy dot products on state bounded by N×dim (the justified
    Python-boundary class, like the k-means update). Deterministic:
    candidates are pre-sorted by (-relevance, corpus_id) and argmax
    ties resolve to the first (lowest id).

    Semantics match the cited formula exactly: the first pick is pure
    relevance (empty selected set ⇒ similarity term 0), and max_sim is
    the TRUE max over selected — including NEGATIVE cosines, which
    raise an anti-correlated candidate's MMR score rather than being
    clamped to 0. Candidate-candidate similarity is cosine over
    ``vec_col``; zero-norm or null vectors contribute similarity 0
    (never NaN). Rows with null relevance cannot be ranked and are
    dropped (the repo's ``cosine`` yields null for zero-norm QUERY
    vectors — filter upstream to keep them).
    """
    if k < 1:
        raise ValueError(f"k must be >= 1; got {k}")
    if not 0.0 <= lam <= 1.0:
        raise ValueError(f"lam must be in [0, 1]; got {lam}")
    import pandas as pd  # noqa: F401 (applyInPandas contract)

    out_schema = (
        f"{query_id} {dict(candidates.dtypes)[query_id]}, "
        f"{corpus_id} {dict(candidates.dtypes)[corpus_id]}, "
        "mmr_score double, rk int"
    )

    def _mmr(pdf):
        import numpy as np
        import pandas as pd

        pdf = (
            pdf[pdf[rel_col].notna()]  # unrankable: see docstring
            .sort_values([rel_col, corpus_id], ascending=[False, True])
            .reset_index(drop=True)
        )
        n = len(pdf)
        kk = min(k, n)
        if kk == 0:
            return pd.DataFrame(
                {
                    query_id: pdf[query_id].iloc[[]],
                    corpus_id: pdf[corpus_id].iloc[[]],
                    "mmr_score": pd.Series([], dtype="float64"),
                    "rk": pd.Series([], dtype="int32"),
                }
            )
        vecs = np.array(
            [
                np.asarray(v, dtype=np.float64)
                if v is not None
                else np.zeros(0)
                for v in pdf[vec_col]
            ],
            dtype=object,
        )
        dim = max((len(v) for v in vecs), default=0)
        mat = np.zeros((n, max(dim, 1)))
        for i, v in enumerate(vecs):
            mat[i, : len(v)] = v
        norms = np.linalg.norm(mat, axis=1)
        safe = np.where(norms == 0.0, 1.0, norms)
        unit = mat / safe[:, None]  # zero-norm rows stay all-zero
        rel = pdf[rel_col].to_numpy(dtype=np.float64)
        # First pick: pure relevance (rows are rel-desc/id-asc sorted,
        # so index 0 IS the deterministic argmax).
        selected = [0]
        scores = [lam * rel[0]]
        max_sim = unit @ unit[0]  # true similarities — may be negative
        for _ in range(kk - 1):
            mmr = lam * rel - (1.0 - lam) * max_sim
            mmr[selected] = -np.inf
            i = int(np.argmax(mmr))  # first max wins -> deterministic
            selected.append(i)
            scores.append(mmr[i])
            max_sim = np.maximum(max_sim, unit @ unit[i])
        return pd.DataFrame(
            {
                query_id: pdf[query_id].iloc[selected].to_numpy(),
                corpus_id: pdf[corpus_id].iloc[selected].to_numpy(),
                "mmr_score": scores,
                "rk": np.arange(1, kk + 1, dtype=np.int32),
            }
        )

    return candidates.groupBy(query_id).applyInPandas(_mmr, out_schema)


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    corpus_label: str = "label",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    query_label: str = "query_label",
) -> DataFrame:
    """Hard-negative mining for contrastive training: per anchor
    (query), the k most-similar corpus rows with a DIFFERENT label —
    the near-misses that make the best negatives. Exact tier: the
    cheap label comparison is applied directly on the broadcast join
    output, ahead of the cosine, so same-label pairs never pay the
    dot product. Self-pairs drop out via the label filter. Deterministic
    tiebreak on corpus id. For corpus-scale anchor sets, generate
    candidates with ``lsh_cosine_topk``/``ivf_topk`` over an
    oversampled k and apply the same label filter before the final
    rank.
    """
    q = F.broadcast(queries.select(query_id, query_vec, query_label))
    scored = (
        corpus.select(corpus_id, corpus_vec, corpus_label)
        .crossJoin(q)
        .filter(F.col(corpus_label) != F.col(query_label))
        .select(
            F.col(query_id),
            F.col(corpus_id),
            cosine(F.col(corpus_vec), F.col(query_vec)).alias("cos_sim"),
        )
    )
    return _per_query_topk(scored, query_id, corpus_id, k)
