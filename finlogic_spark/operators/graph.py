"""Connected components over near-duplicate candidate pairs
(engine-scope addition): the clustering step of web-scale dedup —
LSH/Jaccard emit PAIRS, but keeping one representative per duplicate
CLASS needs the transitive closure (a~b, b~c ⇒ keep one of {a,b,c}).

Two regimes behind one signature, picked by the measured size of the
edge list (``operators.gate.measure``: edge count + measured
string/binary bytes, one job that also fills the edge checkpoint):

- the driver kernel (at most ``SMALL_GRAPH_MAX_BYTES``, every
  bench-scale graph): the edges come back as one Arrow table,
  ``_encode_edges`` turns their endpoints into dense int64 indices,
  and an exact numpy min-label loop with pointer jumping runs every
  round (``_cc_on_driver``); the result returns as a local relation. A
  distributed round pays a fixed price (join + aggregate + checkpoint
  jobs) that dwarfs the arithmetic at this size, and a Python worker
  task would pay its own start-up on top (README "The Python-worker
  tax"); the driver pays neither.
- star alternation (above the gate) — large-star/small-star
  [Kiveris et al., "Connected Components in MapReduce and Beyond",
  SoCC'14]. Large-star hangs every neighbour LARGER than u off the
  minimum of u's neighbourhood; small-star re-hangs the smaller
  neighbours. Each pair of steps roughly squares path-shortcutting, so
  convergence is O(log² n) rounds worst-case (log-ish in practice) —
  a 10k chain closes in a handful of alternations (pinned in
  tests/test_operators.py). Measured on the real 117.9M-edge sf100
  dedup graph (``BENCH_r8_probes.json``, identical 2.15M clusters):
  star-only converged in 4 rounds / 107.1 s where min-label rounds
  followed by star took 157.7 s.

Scale notes (star):
- Per round: shuffles keyed by vertex id with map-side partial mins —
  no broadcast of anything graph-sized, no driver collect.
- ``localCheckpoint(eager=False)`` truncates per-iteration lineage —
  without it the plan doubles every round and analysis cost explodes
  by round ~10; the convergence certificate's agg is the one action
  that materializes each round (ONE Spark job per round).
- The certificate is (edge count, sum of ``pmod(xxhash64(u, v),
  1e9+7)``) over the canonicalized edge set — the fingerprint of
  ``pagerank``'s durable-round sidecar: exact int64 partial sums under
  any partitioning (< 2^63 up to ~9e9 edges), for any orderable id
  type. It is only a screen: an exact except-check confirms the
  fixpoint once it stops moving.

Both regimes return the same labels (min reachable id has exactly one
answer; pinned cross-regime in tests). ``pagerank`` shares the gate
and the edge encoding for its own driver kernel.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from finlogic_spark.operators import gate
from finlogic_spark.sources.fsutil import delete_path, exists, numbered_dirs
from finlogic_spark.sources.index_table import (
    STATS,
    read_params,
    read_written,
    write_params,
)

# Every per-round materialization (edge cache, edge and rank checkpoints)
# uses serialized MEMORY_AND_DISK: a 100M+-edge graph's working set
# must SPILL when it outgrows the heap, not OOM the executor — found
# by measurement at the sf100 probe (117.9M candidate pairs; the
# deserialized default filled an 8 GiB heap during round 3).
_SPILL = StorageLevel.MEMORY_AND_DISK

# Byte gate of the driver-side small-graph regimes. Driver memory peaks
# at about 4x the gated bytes (the Arrow table, its dictionary encoding
# and the int64 index arrays), so this constant is what bounds the
# driver heap and the client process at any input scale. 0 sends every
# graph to the distributed rounds.
SMALL_GRAPH_MAX_BYTES = 128 << 20


def connected_components(
    edges: DataFrame,
    vertices: DataFrame,
    src: str = "src",
    dst: str = "dst",
    id_col: str = "id",
    max_iters: int = 25,
    stats: dict | None = None,
) -> DataFrame:
    """Label each vertex with the smallest vertex id reachable from it
    (= its connected component's canonical representative).

    ``vertices`` must carry every id (isolated vertices label
    themselves). Returns (id_col, label). Deterministic. A null
    endpoint is not a vertex: edges with a null ``src`` or ``dst`` are
    dropped on entry, in both regimes (connectivity among non-null ids
    is unchanged).

    Regime (module docstring): when the DIRECTED edge list measures at
    most ``SMALL_GRAPH_MAX_BYTES`` the whole computation runs on the
    driver (``_cc_on_driver``), otherwise star alternation runs for at
    most ``max_iters`` rounds.

    ``stats``: pass a dict to receive {'auto_choice', 'star_rounds',
    'converged'}. ``auto_choice`` is 'single-job' (driver kernel) or
    'star-first' (star alternation); ``star_rounds`` counts the star
    rounds actually executed (round-complexity pins in tests).
    ``converged`` False means ``max_iters`` ran out before a fixpoint
    and the returned labels are PARTIAL (over-segmented: some
    components carry more than one label); a warning is emitted in that
    case so budget exhaustion is never silent.
    """
    # Checkpoint the DIRECTED edge projection: the gate job below fills
    # it, and every later read (driver collect or star's first
    # canonicalization) scans it instead of re-running the upstream
    # pair pipeline. A lazy local checkpoint rather than a cache: AQE
    # may coalesce its partitions (a cached plan keeps the shuffle
    # default, 32 tasks per scan on a few hundred edges).
    e0 = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .filter(F.col("s").isNotNull() & F.col("d").isNotNull())
        .localCheckpoint(eager=False, storageLevel=_SPILL)
    )
    if stats is None:
        stats = {}
    stats["star_rounds"] = 0
    _, est_bytes = gate.measure(e0, SMALL_GRAPH_MAX_BYTES)
    if 0 < SMALL_GRAPH_MAX_BYTES and est_bytes <= SMALL_GRAPH_MAX_BYTES:
        stats["auto_choice"] = "single-job"
        stats["converged"] = True
        labels = _cc_on_driver(e0)
    else:
        stats["auto_choice"] = "star-first"
        labels, converged = _star_labels(e0, max_iters, stats)
        stats["converged"] = converged
        if not converged:
            import warnings

            warnings.warn(
                f"connected_components: round budget max_iters={max_iters} "
                "exhausted before a fixpoint — returned labels are PARTIAL "
                "(over-segmented). Raise max_iters or check stats['converged'].",
                RuntimeWarning,
                stacklevel=2,
            )
    isolated = (
        vertices.select(F.col(id_col).alias("id"))
        .join(labels.select("id"), "id", "left_anti")
        .withColumn("label", F.col("id"))
    )
    return labels.unionByName(isolated)


def _encode_edges(e: DataFrame, a: str, b: str):
    """Edge list ``e`` (endpoint columns ``a``, ``b``) on the driver as
    ``(nodes, ai, bi)``: ``nodes`` the Arrow array of distinct endpoint
    ids, ``ai``/``bi`` per-edge int64 indices into it. One Spark job
    (``toArrow``); the upstream pipeline stays parallel.

    Both callers drop edges with a null endpoint on entry (a null is
    not a vertex, and Arrow would put nulls into the dictionary
    indices). The id → index mapping is Arrow's C-level hash
    ``dictionary_encode`` (order of appearance): for the sf0.1 PageRank
    graph's 2.2M string endpoints, pandas factorizing cost ~0.4 s and
    np.unique's sort 3.1 s."""
    import numpy as np
    import pyarrow as pa

    t = e.toArrow()
    ends = pa.chunked_array(
        t.column(a).chunks + t.column(b).chunks, t.schema.field(a).type
    )
    enc = ends.combine_chunks().dictionary_encode()
    idx = enc.indices.to_numpy().astype(np.int64, copy=False)
    return enc.dictionary, idx[: t.num_rows], idx[t.num_rows :]


def _cc_on_driver(e0: DataFrame) -> DataFrame:
    """All connected-components rounds on the driver (the small-graph
    regime of ``connected_components``; module docstring). A vectorized
    min-label propagation with pointer jumping labels the encoded
    DIRECTED edge list:

    - node ids (any orderable type) are ranked via ``sort_indices`` so
      comparing RANKS is comparing values (utf8 sort order == Spark's
      binary string min ordering);
    - each round relaxes labels across edges both ways
      (``np.minimum.at``) and then pointer-jumps
      (``lab = min(lab, lab[node_of_rank(lab)])``) — the hash-to-min
      shape, O(log n) rounds on adversarial chains, one on cliques;
    - labels are monotone non-increasing integer vectors, so the loop
      terminates at the first unchanged round — that IS the fixpoint.

    Output: (id, label) for every edge ENDPOINT as a local relation,
    label = min reachable id — bit-identical to star alternation
    (pinned cross-regime in tests/test_operators.py)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql import types as T

    id_type = e0.schema["s"].dataType
    out_schema = T.StructType(
        [T.StructField("id", id_type, False), T.StructField("label", id_type, False)]
    )
    nodes, si, di = _encode_edges(e0, "s", "d")
    n = len(nodes)
    labels = nodes
    if n:
        # rank -> node index, and node index -> rank (value order)
        order = pc.sort_indices(nodes).to_numpy().astype(np.int64, copy=False)
        rank_of = np.empty(n, dtype=np.int64)
        rank_of[order] = np.arange(n, dtype=np.int64)
        lab = rank_of.copy()
        while True:
            old = lab
            lab = lab.copy()
            np.minimum.at(lab, di, old[si])
            np.minimum.at(lab, si, old[di])
            np.minimum(lab, lab[order[lab]], out=lab)
            if np.array_equal(lab, old):
                break
        labels = nodes.take(pa.array(order[lab]))
    return e0.sparkSession.createDataFrame(
        pa.table([nodes, labels], names=["id", "label"]), out_schema
    )


def _canon(e: DataFrame) -> DataFrame:
    """Canonical undirected edge set: (u=min, v=max), self-edges
    dropped, distinct."""
    return (
        e.select(
            F.least("s", "d").alias("u"), F.greatest("s", "d").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _star_labels(
    edges_sd: DataFrame, max_iters: int, stats: dict
) -> tuple[DataFrame, bool]:
    """Large-star/small-star alternation to fixpoint; input (s, d)
    directed-or-not edges without null endpoints, output ((id, label),
    converged) — every edge endpoint (self-loop-only ones included, as
    in the driver kernel) labelled with its component min.
    ``converged`` False means ``max_iters`` ran out before the
    fixpoint: the edge set is NOT a disjoint star union and the derived
    labels are partial — callers must surface that
    (connected_components records it in stats['converged'] and warns).

    Each alternation:
    - large-star: per neighbourhood Γ⁺(u) = Γ(u) ∪ {u} with
      m = min Γ⁺(u), emit (v, m) for every v ∈ Γ(u), v > u. Every edge
      is emitted from its smaller endpoint's group, so connectivity is
      preserved while large vertices re-hang off local minima.
    - small-star: per u over its SMALLER neighbours N = {v ∈ Γ(u):
      v < u}, m = min N, emit (u, m) and (v, m) for v ∈ N — the step
      that collapses chains of minima.
    Both emit only (bigger, smaller) pairs; a disjoint union of
    min-rooted stars is a fixpoint of the pair. Fixpoint detection:
    cheap certificate (count, fingerprint sum; module docstring) on the
    canonical edge set, confirmed exact with subtract when it stops
    moving.
    """
    e = _canon(edges_sd).localCheckpoint(eager=False, storageLevel=_SPILL)

    def certificate(cdf: DataFrame):
        row = cdf.agg(
            F.count(F.lit(1)),
            F.sum(F.pmod(F.xxhash64("u", "v"), F.lit(1_000_000_007))),
        ).first()
        return tuple(row)

    prev = certificate(e)
    # An empty edge set is trivially a fixpoint (covers max_iters=0
    # with no edges). The certificate just computed already carries the
    # edge count — reuse it rather than paying a second eager job
    # (isEmpty) over the uncached canon plan on every call.
    converged = prev[0] == 0
    for _ in range(max_iters):
        nbr = e.select(F.col("u").alias("a"), F.col("v").alias("b")).unionByName(
            e.select(F.col("v").alias("a"), F.col("u").alias("b"))
        )
        mins = (
            nbr.groupBy("a")
            .agg(F.min("b").alias("mb"))
            .select("a", F.least("mb", "a").alias("m"))
        )
        large = (
            nbr.filter(F.col("b") > F.col("a"))
            .join(mins, "a")
            .select(F.col("b").alias("s"), F.col("m").alias("d"))
        )
        e_ls = _canon(large).localCheckpoint(eager=False, storageLevel=_SPILL)

        nbr2 = e_ls.select(
            F.col("u").alias("a"), F.col("v").alias("b")
        ).unionByName(e_ls.select(F.col("v").alias("a"), F.col("u").alias("b")))
        small_side = nbr2.filter(F.col("b") < F.col("a"))
        mins2 = small_side.groupBy("a").agg(F.min("b").alias("m"))
        small = (
            small_side.join(mins2, "a")
            .select(F.col("b").alias("s"), F.col("m").alias("d"))
            .unionByName(
                mins2.select(F.col("a").alias("s"), F.col("m").alias("d"))
            )
        )
        new_e = _canon(small).localCheckpoint(eager=False, storageLevel=_SPILL)
        cert = certificate(new_e)
        if cert == prev and new_e.exceptAll(e).isEmpty():
            # this pass changed nothing — it IS the fixpoint check, so
            # it doesn't count toward rounds-to-convergence
            e = new_e
            converged = True
            break
        stats["star_rounds"] += 1
        prev = cert
        e = new_e
    # star fixpoint: every edge is (root=u, leaf=v); labels = leaves ->
    # root, roots -> themselves. _canon dropped self-loops, so their
    # vertices come back from the input (min keeps a real root).
    loops = edges_sd.filter(F.col("s") == F.col("d"))
    labels = (
        e.select(F.col("v").alias("id"), F.col("u").alias("label"))
        .unionByName(
            e.select(F.col("u").alias("id"), F.col("u").alias("label"))
        )
        .unionByName(
            loops.select(F.col("s").alias("id"), F.col("s").alias("label"))
        )
        .groupBy("id")
        .agg(F.min("label").alias("label"))
    )
    return labels, converged


def pagerank(
    edges: DataFrame,
    iterations: int = 5,
    scale: int = 1_000_000,
    damping_num: int = 85,
    damping_den: int = 100,
    src_col: str = "src",
    dst_col: str = "dst",
    symmetrize: bool = False,
    round_table_dir: str | None = None,
    resume: bool = False,
    stats: dict | None = None,
) -> DataFrame:
    """PageRank in exact integer micro-units (engine-scope addition:
    iterative graph analytics beyond connected components — e.g.
    supplier/customer importance on the order graph, or doc centrality
    on a near-dup/link graph).

    All arithmetic is int64: every node starts at ``scale`` micro-units
    and each round receives ``floor(0.15*scale)`` teleport mass plus
    ``(damping_num * r(u)) DIV (damping_den * deg(u))`` from each
    in-neighbour. Integer sums are exact and order-independent, so the
    result is BIT-IDENTICAL across engines, partitionings, and runs —
    a full value-hash oracle (unrolled-CTE SQL), not an error band.
    The DIV flooring loses < 1 micro-unit per edge per round — at
    scale=1e6 that is < 1e-4 relative, far below anything a float
    implementation can promise about cross-engine equality.

    Plan shape per round: one shuffle keyed by src (rank join onto the
    out-edge list, degree pre-joined once) + one partial-agg sum keyed
    by dst, left-joined back onto the full node set so nodes with no
    in-neighbours keep their teleport mass every round (the classic
    formulation) — the minimal PageRank round. Each round's ranks are
    EAGERLY localCheckpointed (same discipline as connected_components:
    lineage truncation + one job per round), which also lets the edge
    cache be released before returning. Dangling nodes (no out-edges)
    still receive mass but emit none — their outflow is dropped, as in
    the classic formulation; symmetrize the edge list for undirected
    graphs.

    ``round_table_dir``: the 100 TB variant the localCheckpoint
    docstring promised — each round's ranks WRITE to
    ``{dir}/round{i}`` parquet and read back, so lineage truncation
    goes through durable storage instead of executor block storage:
    rounds are durably materialized (pass ``resume=True`` to restart a
    killed job from the last COMPLETE round table — completeness is
    the committer's ``_SUCCESS`` marker, checked contiguously from
    round 0 so a gap never silently skips rounds), the rank table
    never pins executor memory/disk blocks, and speculative
    re-execution reads a consistent snapshot.
    Bit-identical to the default variant (integer arithmetic has one
    answer; pinned in tests/test_pagerank_bucketize.py) — the only
    difference is where the round boundary materializes. A measured
    workload picks this regime: ``BENCH_r13_pagerank.json`` ran the
    sf100 order graph (1.17B edges, 16.0M nodes) through 5 durable
    rounds in 1021.8 s (tools/probe_pagerank_sf100.py); the per-round
    parquet round-trip adds seconds per round against executor-local
    checkpoints — the price of restartability, paid per round, not
    per edge. Resume is parameter-checked: round 0 stamps a
    ``{dir}/_stats`` sidecar (damping, scale, node/edge counts, an
    order-independent edge fingerprint — NOT ``iterations``, so a
    3-round run can legitimately be extended to 5) and ``resume=True``
    refuses tables written under different parameters or a different
    edge set instead of silently continuing from wrong ranks.

    Small graphs (in-memory variant only): when the distinct edge list
    measures at most ``SMALL_GRAPH_MAX_BYTES`` — i.e. the WHOLE graph
    is small, not just the rank table — every round runs on the driver
    (``_pagerank_on_driver``; module docstring): one job fills the edge
    cache and measures it, one ``toArrow`` job collects it, and the
    exact int64 recurrence runs in numpy. The multi-round plan's fixed
    price (~2 jobs/round of checkpoint+join scheduling) dwarfs the
    arithmetic at this size. Bit-identical by construction
    (non-negative floor division == DIV; np.add.at is exact int64) and
    pinned cross-regime in tests/test_pagerank_bucketize.py. Skipped
    when broadcasting is off (autoBroadcastJoinThreshold <= 0 — that
    session-level "treat everything as big" signal governs this regime
    too) and on the durable-rounds path (the driver regime has no
    per-round tables to restart from).

    ``symmetrize``: rank the UNDIRECTED view of the edge list —
    exactly ``pagerank(distinct(e) UNION swap(distinct(e)))``, but the
    symmetrization never materializes on the small-graph path: the
    driver collects only the DIRECTED distinct edges (half the rows of
    the union) and relaxes each unordered pair in both directions
    (degree = both-direction bincount; a pair present in BOTH input
    orientations and self-loops are relaxed exactly once per bi-edge
    via an unordered np.unique, matching the union's distinct).
    Bit-identical to the caller-side union (pinned cross-shape in
    tests). On the distributed regimes the union is built over the
    persisted directed cache, so the upstream edge pipeline still runs
    once.

    A null endpoint is not a vertex: edges with a null ``src_col`` or
    ``dst_col`` are dropped on entry, in every regime (the policy of
    ``connected_components``' driver regime).

    ``stats``: optional dict populated with the chosen ``regime``
    (single_job / broadcast / smj) and the measured counts that drove
    the decision — the same observability pattern as
    connected_components."""
    if iterations < 1:
        raise ValueError(f"iterations must be >= 1, got {iterations}")
    e = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
    )
    # Regime decision: if the rank table (|V| rows) fits under the
    # broadcast threshold, every round's join gets an EXPLICIT
    # F.broadcast hint on the rank side (from round 2 on, ranks come
    # from localCheckpoint, whose LogicalRDD carries no size stats —
    # without the hint the static planner falls to SMJ and the
    # unpartitioned cached edge list re-exchanges every round unless
    # AQE rescues it after the shuffle files are already written; the
    # same explicit-hint rationale as bloomjoin's bypass) and the edge
    # cache is left unpartitioned — pre-partitioning would be pure
    # overhead (measured +2.7 s on the sf0.1 bench graph). If it does
    # NOT fit, the join is SMJ and the edge side MUST be
    # hash-partitioned + sorted by src BEFORE persisting: the cached
    # InMemoryRelation then carries HashPartitioning(src) +
    # per-partition order, so each round exchanges and sorts ONLY the
    # rank table — without this, every round re-exchanged the full
    # cached edge list (measured at sf100: ~50 GB of shuffle per round
    # on a 1.17B-edge graph). Both regime plans are pinned in
    # tests/test_pagerank_bucketize.py.
    #
    # The signal is derived from the already-persisted edge cache, not
    # from a separate pass over the raw input: the distinct edge list
    # is persisted FIRST, the node set and its exact count are then
    # cache scans (the r12/r13 shape recomputed the whole upstream
    # edge pipeline — a join at bench scale — once for the count and
    # once for the cache fill; the r13 A/B priced that decision at
    # ~0.7 s on a sub-3 s query).
    threshold = gate.broadcast_threshold(edges.sparkSession)
    ed = e.persist(_SPILL)
    if round_table_dir is None and 0 < threshold and 0 < SMALL_GRAPH_MAX_BYTES:
        # Small-graph gate: ONE measurement job over the bare edge
        # cache — this job IS the cache fill the multi-round path pays
        # anyway (the big path's nodes.count() below then reads the
        # filled cache). Degrees are NOT joined in: the driver kernel
        # bincounts them from the edge list in exact int64.
        n_edges, est_bytes = gate.measure(ed, SMALL_GRAPH_MAX_BYTES)
        if est_bytes <= SMALL_GRAPH_MAX_BYTES:
            if stats is not None:
                stats["regime"] = "single_job"
                stats["n_edges"] = n_edges
            out = _pagerank_on_driver(
                ed, iterations, scale, damping_num, damping_den, symmetrize
            )
            ed.unpersist()
            return out
    ed_dir = None
    if symmetrize:
        # Gate missed (or disabled): the distributed regimes need the
        # materialized bi view after all. Build it OVER the persisted
        # directed cache — both union branches read the same cache, so
        # the upstream edge pipeline still runs once — and hand the
        # regimes the bi edge list exactly as a caller-side union
        # would have. The directed cache is released once the bi cache
        # is filled (nodes.count below).
        ed_dir = ed
        e = ed_dir.union(
            ed_dir.select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            )
        ).distinct()
        ed = e.persist(_SPILL)
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("__deg"))
    # node set FROM the cached edge list: the first union branch fills
    # the cache (when the small-graph gate didn't already), the second
    # reads it — the upstream edge pipeline runs ONCE, total.
    nodes = (
        ed.select(F.col("src").alias("node"))
        .union(ed.select(F.col("dst").alias("node")))
        .distinct()
        .persist(_SPILL)
    )
    n_nodes = nodes.count()  # fills ed + nodes caches in one lineage
    if ed_dir is not None:
        ed_dir.unpersist()
    rank_bytes = n_nodes * (gate.est_row_bytes(nodes.schema) + 8)
    broadcast_ranks = 0 < threshold and rank_bytes <= threshold
    degt = None
    if broadcast_ranks:
        # Broadcast regime keeps the BARE edge list cached (one string
        # pair per row — the r14 shape cached (edge, degree) fused,
        # paying a groupBy+join materialization for a column that is
        # broadcast-sized by this very regime's definition: |deg| <=
        # |V| rows). The degree table is checkpointed ONCE from the
        # cache (tiny job, |V|-bounded rows) and broadcast-joined into
        # every round — stats-less after the checkpoint, so the
        # explicit hint below, same rationale as the rank side.
        degt = deg.localCheckpoint(eager=True, storageLevel=_SPILL)
    else:
        # SMJ regime (big graph): drop the unpartitioned cache FIRST
        # (blocking — the disk budget is the constraint at this size)
        # and rebuild the partitioned (edge, degree) copy from the raw
        # lineage. Repartitioning FROM the cache would hold both
        # copies plus the shuffle files at once (~3x the edge bytes
        # transient — at the sf100 1.17B-edge scale that filled the
        # disk budget); rebuilding costs one upstream recompute,
        # exactly what the r13 shape paid, and only in this regime.
        # The node cache is already materialized, so later rounds
        # never re-derive it.
        ed.unpersist(blocking=True)
        ed = (
            e.join(deg, "src")
            .repartition("src")
            .sortWithinPartitions("src")
            .persist(_SPILL)
        )
    if stats is not None:
        stats["regime"] = "broadcast" if broadcast_ranks else "smj"
        stats["n_nodes"] = n_nodes
    ranks = nodes.withColumn("rank", F.lit(int(scale)).cast("long"))
    teleport = (damping_den - damping_num) * scale // damping_den
    spark = edges.sparkSession
    start = 0
    if round_table_dir is not None:
        start = _durable_round_start(
            spark,
            ed,
            round_table_dir,
            resume,
            iterations,
            damping_num,
            damping_den,
            scale,
            n_nodes,
        )
        if start > 0:
            ranks = read_written(
                spark, f"{round_table_dir}/round{start - 1}", ranks.schema
            )
    for i in range(start, iterations):
        rank_side = ranks.withColumnRenamed("node", "src")
        if broadcast_ranks:
            rank_side = F.broadcast(rank_side)
        edge_side = (
            ed.join(F.broadcast(degt), "src") if broadcast_ranks else ed
        )
        contrib = edge_side.join(rank_side, "src").select(
            F.col("dst").alias("node"),
            F.expr(
                f"CAST({damping_num} AS BIGINT) * rank "
                f"DIV (CAST({damping_den} AS BIGINT) * __deg)"
            ).alias("__c"),
        )
        inflow = contrib.groupBy("node").agg(F.sum("__c").alias("__in"))
        inflow_side = F.broadcast(inflow) if broadcast_ranks else inflow
        ranks = nodes.join(inflow_side, "node", "left").select(
            "node",
            (F.lit(teleport) + F.coalesce(F.col("__in"), F.lit(0)))
            .cast("long")
            .alias("rank"),
        )
        if round_table_dir is None:
            ranks = ranks.localCheckpoint(eager=True, storageLevel=_SPILL)
        else:
            path = f"{round_table_dir}/round{i}"
            ranks.write.mode("overwrite").parquet(path)
            ranks = read_written(spark, path, ranks.schema)
    ed.unpersist()
    nodes.unpersist()
    return ranks


def _last_complete_round(spark, round_table_dir: str, iterations: int) -> int:
    """Highest round index i < iterations whose ``round{i}`` table is
    COMPLETE (has the committer's ``_SUCCESS`` marker), scanning
    contiguously from 0 — a missing round{j} stops the scan even if
    round{j+1} exists, because round j+1's content would then not be
    derived from a surviving lineage. Listed through ``sources/fsutil``
    (local paths, HDFS and object stores alike)."""
    rounds = numbered_dirs(spark, round_table_dir, "round")
    last = -1
    while last + 1 < iterations and rounds.get(last + 1, False):
        last += 1
    return last


_ROUND_STATS_DDL = (
    "version int, damping_num int, damping_den int, scale long, "
    "n_nodes long, n_edges long, edge_fp long"
)


def _durable_round_start(
    spark,
    ed,
    round_table_dir: str,
    resume: bool,
    iterations: int,
    damping_num: int,
    damping_den: int,
    scale: int,
    n_nodes: int,
) -> int:
    """Validate-or-stamp the ``{dir}/_stats`` sidecar and return the
    round index to start from (0 = fresh).

    ADVICE r14: resume used to trust any ``round{i}/_SUCCESS`` under
    the directory — a dir left over from a run with different
    damping/scale or a different edge set would silently resume from
    wrong ranks. The sidecar pins (damping, scale, |V|, |E|, an
    order-independent edge fingerprint: sum of per-edge
    ``pmod(xxhash64(src, dst), 1e9+7)`` — commutative int64 partial
    sums, exact under any partitioning, < 2^63 up to ~9e9 edges).
    ``iterations`` is deliberately NOT pinned: round i's content does
    not depend on how many rounds follow, so extending a finished
    3-round run to 5 is a legitimate resume. The fingerprint costs one
    aggregate over the already-cached edge list — the durable path
    only, where a per-round parquet round-trip already dominates. The
    sidecar is written and read through ``sources/index_table`` (one
    row, its DDL given) and counts as present once its ``_SUCCESS``
    marker is.

    Refuses (ValueError) on a parameter/edge mismatch, and on round
    tables with NO sidecar (written before the sidecar was ``_stats``,
    or of foreign provenance — clear the directory to proceed)."""
    fp = ed.agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(
            F.pmod(F.xxhash64("src", "dst"), F.lit(1_000_000_007))
        ).alias("__fp"),
    ).collect()[0]
    params = {
        "version": 1,
        "damping_num": int(damping_num),
        "damping_den": int(damping_den),
        "scale": int(scale),
        "n_nodes": int(n_nodes),
        "n_edges": int(fp["__n"] or 0),
        "edge_fp": int(fp["__fp"] or 0),
    }
    if resume:
        if exists(spark, f"{round_table_dir}/{STATS}/_SUCCESS"):
            row = read_params(spark, round_table_dir, _ROUND_STATS_DDL)[0]
            stored = {k: int(row[k]) for k in params}
            if stored != params:
                diffs = {
                    k: {"stored": stored[k], "requested": params[k]}
                    for k in params
                    if stored[k] != params[k]
                }
                raise ValueError(
                    "pagerank resume refused: round tables at "
                    f"{round_table_dir} were written under different "
                    f"parameters or a different edge set ({diffs}); "
                    "clear the directory or rerun with the original "
                    "inputs"
                )
            last = _last_complete_round(spark, round_table_dir, iterations)
            return last + 1 if last >= 0 else 0
        if _last_complete_round(spark, round_table_dir, iterations) >= 0:
            raise ValueError(
                f"pagerank resume refused: {round_table_dir} holds round "
                f"tables but no {STATS} sidecar, so their provenance "
                "cannot be verified; clear the directory to start fresh"
            )
    # Fresh-stamp path (ADVICE r15): clear any pre-existing round
    # tables BEFORE stamping. A prior run (same params, more rounds)
    # could have left round{k} tables beyond what this run will write;
    # a later longer resume would pass the sidecar check and walk the
    # contiguous _SUCCESS scan into those stale foreign rounds —
    # exactly the silent-wrong-resume the sidecar exists to prevent.
    for i in numbered_dirs(spark, round_table_dir, "round"):
        delete_path(spark, f"{round_table_dir}/round{i}")
    write_params(spark, round_table_dir, _ROUND_STATS_DDL, [tuple(params.values())])
    return 0


def _pagerank_on_driver(
    ed: DataFrame,
    iterations: int,
    scale: int,
    damping_num: int,
    damping_den: int,
    symmetrize: bool,
) -> DataFrame:
    """All ``iterations`` PageRank rounds on the driver (the small-graph
    regime of ``pagerank``; module docstring), over the cached DIRECTED
    distinct edge list ``ed``; returns (node, rank) as a local relation.

    Bit-identical to the distributed rounds: floor division on
    non-negative int64 == Spark's DIV, and inflow accumulates via
    ``np.add.at`` in exact int64 (``np.bincount`` would route through
    float64 — the wrong class for a value-hash contract). Cross-regime
    equality is pinned in tests/test_pagerank_bucketize.py and by the
    DuckDB unrolled-CTE oracle of ``orders_supplier_pagerank``."""
    import numpy as np
    import pyarrow as pa
    from pyspark.sql import types as T

    nodes, si, di = _encode_edges(ed, "src", "dst")
    nn = len(nodes)
    num = np.int64(damping_num)
    tele = np.int64((damping_den - damping_num) * scale // damping_den)
    rank = np.full(nn, scale, dtype=np.int64)
    if symmetrize:
        # Undirected view of the DIRECTED distinct input: collapse to
        # unordered unique pairs (so an input carrying BOTH
        # orientations, or a self-loop, relaxes exactly once per
        # bi-edge — matching distinct(e UNION swap(e))), then relax
        # every non-self pair in both directions. Pair packing is safe:
        # nn <= 2*edges and the byte gate bounds edges far below the
        # 3e9 packing limit (nn^2 < 2^63).
        uniq = np.unique(np.minimum(si, di) * np.int64(nn) + np.maximum(si, di))
        lo = uniq // nn
        hi = uniq - lo * nn
        self_m = lo == hi
        plo, phi, sl = lo[~self_m], hi[~self_m], lo[self_m]
        counts = (
            np.bincount(plo, minlength=nn)
            + np.bincount(phi, minlength=nn)
            + np.bincount(sl, minlength=nn)
        )
        den_lo = np.int64(damping_den) * counts[plo]
        den_hi = np.int64(damping_den) * counts[phi]
        den_sl = np.int64(damping_den) * counts[sl]
        for _ in range(iterations):
            inflow = np.zeros(nn, dtype=np.int64)
            np.add.at(inflow, phi, (num * rank[plo]) // den_lo)
            np.add.at(inflow, plo, (num * rank[phi]) // den_hi)
            np.add.at(inflow, sl, (num * rank[sl]) // den_sl)
            rank = tele + inflow
    else:
        # out-degrees from the (distinct) edge list itself — exact
        # int64 counts; the distributed regimes pay a groupBy+join for
        # this column, here it is one bincount over src codes
        denom = np.int64(damping_den) * np.bincount(si, minlength=nn)[si]
        for _ in range(iterations):
            inflow = np.zeros(nn, dtype=np.int64)
            np.add.at(inflow, di, (num * rank[si]) // denom)
            rank = tele + inflow
    out_schema = T.StructType(
        [
            T.StructField("node", ed.schema["src"].dataType),
            T.StructField("rank", T.LongType()),
        ]
    )
    return ed.sparkSession.createDataFrame(
        pa.table([nodes, pa.array(rank, type=pa.int64())], names=["node", "rank"]),
        out_schema,
    )


def sticky_split_assign(
    pairs: DataFrame,
    ids: DataFrame,
    stored: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    id_col: str = "doc_id",
    split_col: str = "split",
    threshold: str = "e6",
) -> DataFrame:
    """Sticky (history-respecting) train/val assignment — the FIX for
    the drift doc_split_drift measures: once a document is trained on,
    its side is frozen, and a NEW document joins the side its near-dup
    component already lives on instead of re-rolling the cluster hash
    (which a component merge can flip).

    Inputs: candidate ``pairs`` over the FULL corpus (old + new),
    ``ids`` (one row per doc, column ``id_col``), and ``stored`` — the
    frozen (id_col, split_col) assignments from previous ingests.
    Output: (id_col, cluster, split) for EVERY id:

    - stored docs keep their stored side VERBATIM (they are in the
      trained model; reassignment is meaningless);
    - a new doc in a component with exactly ONE stored side inherits
      it (the sticky rule — leakage-free by construction even when
      the merge changed the canonical label);
    - a new doc in a component whose stored members span BOTH sides is
      ``quarantine`` (the component already straddles the eval
      boundary — the drift monitor's alert case; adding to either
      side would compound the leak, so the safe call is neither);
    - a new doc in a fully-new component gets the md5 hash of the
      canonical label, exactly doc_cluster_split's rule — stable for
      all future ingests by the same stickiness.

    Plan shape: the graded connected-components plan + one |labels|-
    keyed aggregate (count-distinct of two values — tiny state) + two
    id/label-keyed joins. Nothing new is data-sized beyond CC itself.
    """
    cc = connected_components(pairs, ids, src=src, dst=dst, id_col=id_col)
    st = stored.select(
        F.col(id_col).alias("id"), F.col(split_col).alias("__stored")
    )
    j = cc.join(st, "id", "left")
    per = j.groupBy("label").agg(
        F.count_distinct("__stored").alias("__ns"),
        F.max("__stored").alias("__side"),
    )
    hash_side = (
        F.when(
            F.substring(F.md5(F.col("label").cast("string")), 1, 2)
            < threshold,
            "train",
        ).otherwise("val")
    )
    return j.join(per, "label").select(
        F.col("id").alias(id_col),
        F.col("label").alias("cluster"),
        F.coalesce(
            F.col("__stored"),
            F.when(F.col("__ns") >= 2, F.lit("quarantine"))
            .when(F.col("__ns") == 1, F.col("__side"))
            .otherwise(hash_side),
        ).alias(split_col),
    )
