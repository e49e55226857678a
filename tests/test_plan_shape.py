"""Plan-shape regression tests: the properties that keep queries fast
at 100 TB — predicate pushdown, column pruning, broadcast joins,
top-k without a full sort. Row-level correctness is covered by the
oracle harness; these pin the physical strategy."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from finlogic_spark import plans
from finlogic_spark.driver_queries import QUERIES, _t


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    df = QUERIES["scan_project_cast"](spark, sf_dir)
    assert plans.has_pushed_filter(df, "l_orderkey")


def test_column_pruning(spark, sf_dir):
    df = QUERIES["scan_project_cast"](spark, sf_dir)
    scans = plans.read_schema_columns(df)
    assert scans and all(len(cols) <= 3 for cols in scans)  # 16-col table, 3 read


def test_small_dim_join_broadcasts(spark, sf_dir):
    df = QUERIES["join_broadcast_inner"](spark, sf_dir)
    assert plans.uses_broadcast_join(df)


def test_topk_plans_take_ordered(spark, sf_dir):
    df = QUERIES["topk_orders"](spark, sf_dir)
    assert plans.uses_take_ordered(df)


def test_rank_flagship_plan(spark, sf_dir):
    df = QUERIES["rank_flagship"](spark, sf_dir)
    assert plans.uses_broadcast_join(df)
    assert plans.uses_take_ordered(df)
    # dedup window (1) is the only pre-AQE shuffle; broadcasts add none.
    assert plans.count_shuffles(df) <= 2


def test_pivot_explicit_values_no_extra_scan(spark, sf_dir):
    # With an explicit pivot value list the plan contains exactly one
    # scan of orders (no distinct-collection job).
    df = QUERIES["pivot_wide_status"](spark, sf_dir)
    assert plans.count_scans(df) == 1


def test_semi_join_stays_semi(spark, sf_dir):
    from finlogic_spark.driver_queries import _t as t

    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").select("o_custkey")
    semi = c.join(o, c.c_custkey == o.o_custkey, "left_semi")
    assert "LeftSemi" in plans.formatted_plan(semi)


def test_keep_last_single_shuffle(spark, sf_dir):
    from finlogic_spark.operators.dedup import keep_last

    o = _t(spark, sf_dir, "orders")
    df = keep_last(o, ["o_custkey"], ["o_orderdate"])
    # One hash-partition exchange for the window; nothing else.
    assert plans.count_shuffles(df) == 1


def test_ivf_assignment_adds_zero_exchanges(spark):
    # The IVF cell assignment must be a narrow map (Scan → Project):
    # round 1 ranked a corpus × centroid cross join over a per-vector
    # window — a full shuffle of the k-expanded corpus. Pin its absence.
    import math

    from finlogic_spark.operators.similarity import ivf_assign

    corpus = spark.createDataFrame(
        [(i, [math.sin(i * 0.7 + j) for j in range(8)]) for i in range(50)],
        "vec_id int, embedding array<double>",
    )
    cents = [(c, [math.cos(c + j) for j in range(8)]) for c in range(4)]
    assigned = ivf_assign(corpus, cents, "embedding")
    assert "Exchange" not in plans.formatted_plan(assigned)
    assert assigned.count() == 50


def test_lsh_bucket_assignment_adds_zero_exchanges(spark):
    import math

    from finlogic_spark.operators.similarity import lsh_assign_buckets

    corpus = spark.createDataFrame(
        [(i, [math.sin(i * 0.7 + j) for j in range(8)]) for i in range(50)],
        "vec_id int, embedding array<double>",
    )
    b = lsh_assign_buckets(corpus, "embedding", dim=8, num_planes=4)
    assert "Exchange" not in plans.formatted_plan(b)
    assert b.select("__bucket").distinct().count() >= 2


def test_correlated_exists_decorrelates_to_semi_join(spark, sf_dir):
    from finlogic_spark import driver_queries as dq

    df = dq.QUERIES["correlated_exists"](spark, sf_dir)
    plan = plans.formatted_plan(df)
    # Catalyst rewrites the correlated EXISTS into a (left-)semi hash
    # join — no per-row subquery execution survives in the plan.
    assert "LeftSemi" in plan
    assert "Subquery" not in plan


def test_interval_join_is_hash_join_not_nested_loop(spark, sf_dir):
    df = QUERIES["events_interval_join"](spark, sf_dir)
    plan = plans.formatted_plan(df)
    # The bucketized formulation must plan as an equi (hash/merge) join;
    # the naive range-predicate theta join plans BroadcastNestedLoopJoin
    # (O(n*m) per key) — the operator exists to avoid exactly that.
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_repetition_signals_zero_exchanges(spark):
    from finlogic_spark.functions.text import repetition_signals

    df = spark.createDataFrame(
        [(1, "a b a b c")], "doc_id long, text string"
    ).select("doc_id", repetition_signals("text").alias("s"))
    assert "Exchange" not in plans.formatted_plan(df)


def test_vocab_prune_broadcasts_vocab(spark, sf_dir):
    df = QUERIES["doc_vocab_prune"](spark, sf_dir)
    assert plans.uses_broadcast_join(df)


def test_lsh_index_serves_with_partition_pruning(spark, tmp_path):
    # The 100 TB serving story: persist the bucketed corpus partitioned
    # by bucket; a probe for one bucket must plan a partition-PRUNED
    # scan (PartitionFilters on __bucket), not a full-corpus read.
    import math

    from finlogic_spark.operators.similarity import lsh_assign_buckets

    corpus = spark.createDataFrame(
        [(i, [math.sin(i * 0.7 + j) for j in range(8)]) for i in range(100)],
        "vec_id int, embedding array<double>",
    )
    path = str(tmp_path / "lsh_index")
    lsh_assign_buckets(corpus, "embedding", dim=8, num_planes=3).write.partitionBy(
        "__bucket"
    ).parquet(path)
    index = spark.read.parquet(path)
    some_bucket = index.select("__bucket").first()["__bucket"]
    probe = index.filter(F.col("__bucket") == some_bucket)
    plan = plans.formatted_plan(probe)
    assert "PartitionFilters" in plan and "__bucket" in plan
    assert probe.count() > 0


def test_postings_index_serves_with_partition_pruning(spark, tmp_path):
    # BM25/tf-idf serving twin of the LSH pin above: a term lookup
    # against the persisted postings table must plan a partition-PRUNED
    # scan (PartitionFilters on __tok_bkt, computed driver-side from
    # the term strings alone) — never a full-postings read.
    from finlogic_spark.operators.search import (
        _term_lookup,
        bm25_topk,
        build_postings_table,
        read_postings,
    )

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{(i * j) % 31}" for j in range(1, 20)))
         for i in range(80)],
        "doc_id long, text string",
    )
    path = str(tmp_path / "postings")
    build_postings_table(docs, path, n_buckets=16)
    idx = read_postings(spark, path)
    plan = plans.formatted_plan(_term_lookup(idx, ["w1", "w5"]))
    assert "PartitionFilters" in plan and "__tok_bkt" in plan
    # and the full serving query returns the exact from-scratch result
    live = [(r.doc_id, r.score, r.n_terms_hit)
            for r in bm25_topk(docs, ["w1", "w5"], k=10).collect()]
    served = [(r.doc_id, r.score, r.n_terms_hit)
              for r in bm25_topk(None, ["w1", "w5"], k=10,
                                 postings=idx).collect()]
    assert live == served


def test_tfidf_candidate_scan_reads_query_term_postings_only(
    spark, tmp_path
):
    # r15 serve fix: the tf-idf candidate side must be the query
    # terms' POSTINGS LISTS (PartitionFilters on __tok_bkt AND a
    # pushed token IN-filter), not a bucket-only "pruned" scan that a
    # multi-token query vocabulary degenerates into a full read.
    from finlogic_spark.operators.search import (
        build_postings_table,
        read_postings,
        tfidf_similar,
    )

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{(i * j) % 31}" for j in range(1, 20)))
         for i in range(80)],
        "doc_id long, text string",
    )
    path = str(tmp_path / "postings")
    build_postings_table(docs, path, n_buckets=16)
    idx = read_postings(spark, path)
    plan = plans.formatted_plan(
        tfidf_similar(None, [0, 1], k=3, postings=idx)
    )
    # candidate parquet scan: bucket partition filter + token pushdown
    assert "PartitionFilters" in plan and "__tok_bkt" in plan
    assert "PushedFilters" in plan and "token" in plan


def test_pq_ivf_serving_plan(spark):
    # The fused PQ-IVF serve path must be (a) an equi-join on cell id —
    # never a nested-loop/cartesian candidate expansion — and (b) fed
    # only by the (id, cell, pq_code) index: the corpus floats are
    # projected away at build time and must not reappear at serve time.
    import math

    from finlogic_spark.operators.quantize import deterministic_codebooks
    from finlogic_spark.operators.similarity import pq_ivf_index, pq_ivf_topk

    corpus = spark.createDataFrame(
        [(i, [math.sin(i * 0.7 + j) for j in range(8)]) for i in range(100)],
        "vec_id int, embedding array<double>",
    )
    cents = [(c, [math.cos(c + j) for j in range(8)]) for c in range(4)]
    cbs = deterministic_codebooks(m=2, k=4, width=4)
    idx = pq_ivf_index(corpus, cents, cbs)
    assert idx.columns == ["vec_id", "__cell", "pq_code"]
    # index build is scan-shaped: assignment + encode add zero exchanges
    assert "Exchange" not in plans.formatted_plan(idx)

    queries = spark.createDataFrame(
        [(i, [math.sin(i * 0.9 + j) for j in range(8)]) for i in range(3)],
        "query_id int, query_vec array<double>",
    )
    out = pq_ivf_topk(idx, queries, cents, cbs, k=5, n_probe=2)
    plan = plans.formatted_plan(out)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert out.count() > 0


def test_tpch_q6_all_predicates_pushed(spark, sf_dir):
    # Q6 is scan-bound by design: every filter reaches the parquet
    # reader and only the 4 referenced columns are read.
    df = QUERIES["tpch_q6"](spark, sf_dir)
    assert plans.has_pushed_filter(df, "l_shipdate")
    assert plans.has_pushed_filter(df, "l_discount")
    assert plans.has_pushed_filter(df, "l_quantity")
    scans = plans.read_schema_columns(df)
    assert scans and all(len(cols) <= 4 for cols in scans)


def test_tpch_q10_broadcasts_dims_and_takes_ordered(spark, sf_dir):
    df = QUERIES["tpch_q10"](spark, sf_dir)
    assert plans.uses_broadcast_join(df)
    assert plans.uses_take_ordered(df)
    # fact-fact orderkey join + grouped agg are the only shuffles
    assert plans.count_shuffles(df) <= 3


def test_zorder_value_is_narrow_map(spark, sf_dir):
    from finlogic_spark.operators.zorder import bucketize, z_value

    e = _t(spark, sf_dir, "events").select(
        "event_id",
        bucketize(F.col("user_id"), 0.0, 256.0, 8).alias("ub"),
        bucketize(F.col("value"), 0.0, 20.0, 8).alias("vb"),
    )
    z = e.select("event_id", z_value([F.col("ub"), F.col("vb")], 8).alias("z"))
    # ensure_parallelism may add the one fan-out repartition; the z
    # computation itself must not add more
    assert plans.count_shuffles(z) <= 1


def test_tpch_q21_windows_reuse_join_partitioning(spark, sf_dir):
    # The decorrelated EXISTS windows (per-order distinct-supplier
    # counts) must run on the l⋈o join's orderkey partitioning, not
    # add their own exchange: shuffles = the join's l/o pair + the
    # final tiny s_name agg, nothing else.
    df = QUERIES["tpch_q21"](spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert "Window" in plan
    assert plans.count_shuffles(df) <= 3
    assert plans.uses_take_ordered(df)


def test_tpch_q13_preaggregates_instead_of_big_left_join(spark, sf_dir):
    # The orders side collapses to (custkey, count) BEFORE touching
    # customer, and the per-customer counts broadcast into the outer
    # join — no shuffled fact-sized left join survives in the plan.
    df = QUERIES["tpch_q13"](spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert plans.uses_broadcast_join(df)
    assert "SortMergeJoin" not in plan


def test_tpch_q19_part_disjuncts_reach_broadcast_side(spark, sf_dir):
    # The brand+size disjunction is applied on the part scan (filter
    # above the scan on the broadcast side), keeping the equi-join a
    # plain broadcast hash join with a residual mixed filter.
    df = QUERIES["tpch_q19"](spark, sf_dir)
    assert plans.uses_broadcast_join(df)
    assert plans.count_shuffles(df) <= 1  # single-row final agg only


def test_tpch_q2_cost_agg_is_single_fact_shuffle(spark, sf_dir):
    # The (part, supplier) unit-cost aggregation is the only
    # fact-sized shuffle; the min-per-part window runs on the
    # post-filter candidate rows (partkey exchange over a dim-sized
    # set), and part/supplier/nation/region all broadcast.
    df = QUERIES["tpch_q2"](spark, sf_dir)
    assert plans.uses_broadcast_join(df)
    assert plans.uses_take_ordered(df)
    assert plans.count_shuffles(df) <= 2


def test_phrase_search_serves_with_pushed_term_filters(spark, tmp_path):
    # Positional-postings twin of the BM25 serving pin: phrase terms
    # are LITERAL equality filters, so against a persisted positional
    # index they reach the scan (PushedFilters on token) — never a
    # full-postings or full-corpus read per query — and the driver-side
    # term buckets show up as PartitionFilters (a token filter alone
    # cannot prune a __tok_bkt-partitioned layout).
    from finlogic_spark.operators.search import (
        build_positional_postings_table,
        phrase_search,
    )

    docs = spark.createDataFrame(
        [(i, " ".join(f"w{(i + j) % 7}" for j in range(12)))
         for i in range(40)],
        "doc_id long, text string",
    )
    idx = build_positional_postings_table(
        docs, str(tmp_path / "pos_postings"), n_buckets=16
    )
    served = phrase_search(None, ["w1", "w2"], postings=idx)
    assert plans.has_pushed_filter(served, "token")
    plan = plans.formatted_plan(served)
    assert "PartitionFilters" in plan and "__tok_bkt" in plan
    live = sorted(
        (r.doc_id, r.n_matches)
        for r in phrase_search(docs, ["w1", "w2"]).collect()
    )
    assert sorted((r.doc_id, r.n_matches) for r in served.collect()) == live
    assert live  # non-trivial corpus: the phrase does occur


def test_sorted_neighborhood_one_window_one_scan(spark, sf_dir):
    # SNM must stay linear: ONE Window pass (all leads share the spec)
    # over ONE scan of documents, and no join anywhere in the plan —
    # the quadratic rn-difference self-join formulation is exactly
    # what the operator exists to avoid.
    import re

    df = QUERIES["doc_sorted_neighborhood"](spark, sf_dir)
    plan = plans.formatted_plan(df)
    # one PHYSICAL Window node (header lines look like "(6) Window")
    assert len(re.findall(r"\(\d+\) Window", plan)) == 1, plan
    assert plans.count_scans(df) == 1
    assert "Join" not in plan, plan


def test_semantic_dedup_plan_is_cell_fenced(spark):
    """SemDeDup's pairwise compare must be a plain equi-join on the
    cell id — never a cartesian/nested-loop across the corpus — and
    the drop set must apply as one anti-join."""
    from finlogic_spark.operators.similarity import semantic_dedup

    emb = spark.createDataFrame(
        [(i, [float(i % 7), 1.0, 0.5]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    cents = [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])]
    kept = semantic_dedup(emb, cents, threshold=0.95)
    plan = plans.formatted_plan(kept)
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan
    assert "LeftAnti" in plan


def test_forward_index_fetch_prunes_partitions(spark, tmp_path):
    """tf-idf's by-document query-vector fetch against a persisted
    index must partition-prune the _forward table to the query docs'
    buckets (PartitionFilters on __doc_bkt, not a post-scan filter on
    a full read)."""
    from finlogic_spark.operators.search import build_postings_table

    docs = spark.createDataFrame(
        [(i, f"token{i} shared words here") for i in range(20)],
        "doc_id long, text string",
    )
    idx = build_postings_table(docs, str(tmp_path / "p"), n_buckets=8)
    pruned = idx.forward.filter(F.col("__doc_bkt").isin([0, 3]))
    plan = plans.formatted_plan(pruned)
    part_lines = [
        ln for ln in plan.splitlines() if "PartitionFilters" in ln
    ]
    assert part_lines and any("__doc_bkt" in ln for ln in part_lines)


def test_trend_slope_single_partial_agg_shuffle(spark, sf_dir):
    # The whole regression is ONE aggregate: exactly one exchange, with
    # a partial HashAggregate below it (map-side combine of the six
    # sufficient statistics — the shuffle carries 6 numbers per key).
    df = QUERIES["events_trend_slope"](spark, sf_dir)
    p = plans.formatted_plan(df)
    # one agg exchange + the driver query's final orderBy range exchange
    assert plans.count_shuffles(df) <= 2
    assert "partial" in p.lower()


def test_pareto_frontier_compacts_before_window(spark, sf_dir):
    # Dominance within x is a partial-aggregatable max GROUP BY x (the
    # only data-sized shuffle); the single-partition window runs over
    # the compacted |distinct x| rows, never the raw table.
    from finlogic_spark.operators.topk import pareto_frontier_2d

    o = _t(spark, sf_dir, "orders")
    df = pareto_frontier_2d(o, "o_orderdate", "o_totalprice")
    p = plans.formatted_plan(df)
    agg_pos = p.find("HashAggregate")
    win_pos = p.find("Window")
    assert agg_pos != -1 and win_pos != -1
    # formatted plans print top-down: the window must sit ABOVE the
    # aggregate (consume its output), not below it
    assert win_pos < agg_pos
    assert "partial" in p.lower()


def test_js_divergence_grid_is_broadcast_not_cartesian(spark, sf_dir):
    # The |vocab| x |groups| grid must come from broadcasting the tiny
    # per-group totals onto the vocab counts — never a shuffled
    # cartesian of two corpus-derived frames.
    df = QUERIES["doc_source_divergence"](spark, sf_dir)
    p = plans.formatted_plan(df)
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastExchange" in p


def test_containment_two_shuffles_like_jaccard(spark, sf_dir):
    # Same two-shuffle skeleton as ngram_jaccard_pairs: by shingle,
    # by pair. Direction fan-out is a map, not a join — no third
    # data-sized exchange. Raw read (not _t) so the pin measures the
    # operator, not the bench harness's CPU-heavy input repartition.
    import os

    from finlogic_spark.operators.text_dedup import containment_pairs

    d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    df = containment_pairs(d, "text", "doc_id", k=3, threshold=0.8)
    assert plans.count_shuffles(df) <= 2


def test_prefix_verify_broadcast_pair_stream_never_shuffles(spark, sf_dir):
    # _hashed_set_verify's broadcast regime (the set table is under
    # BROADCAST_MAX_DOCS, as at sf0.001) must make BOTH pair joins
    # map-side: after the candidate distinct, the (possibly
    # output-sized) pair stream reaches the intersect through
    # BroadcastHashJoins only — the 95 GB sf10 spill the old counting
    # verify paid came from shuffling that stream with arrays attached.
    import os

    from finlogic_spark.operators.text_dedup import containment_prefix_pairs

    d = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    df = containment_prefix_pairs(d, "text", "doc_id", k=3, threshold=0.8)
    p = plans.formatted_plan(df)
    assert p.count("BroadcastHashJoin") >= 2
    # shuffles remaining: shingle df join / rank window / candidate
    # distinct — none AFTER the verify joins. array_intersect rides a
    # project, never an exchange.
    import re

    tail = p.split("BroadcastHashJoin")[0]
    # the section of the plan ABOVE (later than) the first broadcast
    # join must contain no Exchange other than the final sort of the
    # operator's orderBy-free output (there is none here).
    assert "Exchange hashpartitioning" not in tail.split("== Physical Plan ==")[-1]


def test_rrf_fuse_union_semantics_and_determinism(spark):
    """RRF (operators/search.rrf_fuse): union over legs (a doc found
    by only one leg still scores), absent legs contribute exactly 0,
    and the score matches the 1/(k+r) arithmetic bit-for-bit."""
    from finlogic_spark.operators.search import rrf_fuse

    lex = spark.createDataFrame(
        [(10, 1), (20, 2), (30, 3)], "doc_id long, r_lex int"
    )
    sem = spark.createDataFrame(
        [(20, 1), (40, 2)], "doc_id long, r_sem int"
    )
    got = {
        r["doc_id"]: r
        for r in rrf_fuse([(lex, "r_lex"), (sem, "r_sem")], "doc_id").collect()
    }
    assert set(got) == {10, 20, 30, 40}  # union, not intersection
    assert got[20]["rrf_score"] == 1.0 / 62 + 1.0 / 61  # both legs
    assert got[10]["rrf_score"] == 1.0 / 61  # lex only
    assert got[40]["rrf_score"] == 1.0 / 62  # sem only
    assert got[30]["r_sem"] is None and got[30]["rrf_score"] == 1.0 / 63
    import pytest

    with pytest.raises(ValueError):
        rrf_fuse([], "doc_id")


def test_hybrid_search_legs_serve_partition_pruned(spark, sf_dir):
    """doc_hybrid_search's 100 TB contract: BOTH serving-index reads in
    the fused plan are partition-pruned (__tok_bkt for the postings
    leg; the LSH leg equi-joins on its bucketed index — same pins as
    the component queries), and fusion joins are broadcast-sized."""
    from finlogic_spark.driver_queries import QUERIES

    df = QUERIES["doc_hybrid_search"](spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert "PartitionFilters" in plan and "__tok_bkt" in plan
    assert df.count() == 15


_PYTHON_NODES = (
    "MapInPandas",
    "FlatMapGroupsInPandas",  # also matches ...InPandasWithState
    "MapInArrow",
    "ArrowEvalPython",
    "BatchEvalPython",
)


def _python_nodes(plan: str) -> list[str]:
    return [n for n in _PYTHON_NODES if n in plan]


@pytest.mark.parametrize(
    "name",
    [
        "events_kll_quantiles",
        "events_kll_rollup",
        "events_kll_bucketize",
        "events_kmv_overlap",
    ],
)
def test_sketch_plans_have_no_python_stage(spark, sf_dir, name):
    """The KLL and Theta sketch queries run on the built-in
    DataSketches aggregates: no executed plan may hold a Python-worker
    node (each such task pays the worker start-up cost)."""
    df = QUERIES[name](spark, sf_dir)
    assert df.collect()
    plan = plans.formatted_plan(df)
    assert "isFinalPlan=true" in plan
    assert not _python_nodes(plan), (name, _python_nodes(plan))


def test_sketch_streams_have_no_python_stage(spark, sf_dir):
    from finlogic_spark.streaming import read_events_stream
    from finlogic_spark.streaming.stateful import (
        hll_distinct_stream,
        kll_quantiles_stream,
    )

    for op in (kll_quantiles_stream, hll_distinct_stream):
        df = op(read_events_stream(spark, sf_dir))
        assert df.isStreaming
        plan = plans.formatted_plan(df)
        assert "HashAggregate" in plan
        assert not _python_nodes(plan), (op.__name__, _python_nodes(plan))
