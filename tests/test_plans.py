"""Physical-plan regression guards: the load-bearing plan properties
documented in PLANS.md, asserted executably so a future change that
silently degrades a plan (lost pushdown, broadcast flip, cartesian
sneak-in) fails CI instead of only showing up at 100 TB.

Runs at sf0.001 — plan SHAPE, not timing."""

from __future__ import annotations

import pytest

from amazonredshift_blueprints_spark.plans import QUERIES


def _plan(spark, sf_dir, name: str) -> str:
    df = QUERIES[name].build(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def _sans_rebalance(p: str) -> str:
    """Plan text minus the guarded input-split rebalance (r16):
    ``dedup.rebalance_for_compute`` inserts ONE round-robin Exchange
    only when the scan is >4x under-split vs the cluster — always true
    for the single-file sf0.001 test fixtures, never true for a
    well-split at-scale input. Map-pipeline shape assertions exclude
    exactly that node and still forbid every other Exchange."""
    import re

    return re.sub(r"Exchange RoundRobinPartitioning[^\n]*", "", p)


def test_q01_filter_pushdown_and_partial_agg(spark, sf_dir):
    p = _plan(spark, sf_dir, "q01_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate)" in p
    assert "partial_sum" in p  # map-side combine before the exchange


def test_q03_star_join_broadcasts_dims(spark, sf_dir):
    p = _plan(spark, sf_dir, "q03_join_revenue_by_nation")
    assert p.count("BroadcastHashJoin") >= 4  # all dim sides broadcast
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p


def test_q26_true_topk(spark, sf_dir):
    assert "TakeOrderedAndProject" in _plan(spark, sf_dir, "q26_shipping_priority")


def test_q39_null_aware_anti_join(spark, sf_dir):
    p = _plan(spark, sf_dir, "q39_null_aware_anti_join")
    # trailing `true` flag on the LeftAnti broadcast join = NAAJ
    assert "LeftAnti, BuildRight, true" in p


def test_q41_window_group_limit(spark, sf_dir):
    p = _plan(spark, sf_dir, "q41_qualify")
    assert "WindowGroupLimit" in p  # rn<=k pushed below the sort


def test_c20_range_join_is_hash_not_nested_loop(spark, sf_dir):
    p = _plan(spark, sf_dir, "c20_range_join_bucketed")
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p or "SortMergeJoin" in p or "ShuffledHashJoin" in p


def test_q38_subquery_decorrelated(spark, sf_dir):
    p = _plan(spark, sf_dir, "q38_correlated_scalar_subquery")
    # decorrelation = the inner avg appears as a standalone aggregate,
    # joined back — never a per-row subquery plan node
    assert "partial_avg" in p
    assert "CartesianProduct" not in p


def test_no_cartesian_in_any_headline_plan(spark, sf_dir):
    for name, spec in QUERIES.items():
        if not spec.bench:
            continue
        assert "CartesianProduct" not in _plan(spark, sf_dir, name), name


def test_lineitem_scans_prune_columns(spark, sf_dir):
    """A narrow projection over the 11-column lineitem table must not
    read the full width (ReadSchema carries only referenced fields)."""
    for name in ("q17_topk", "q01_pricing_summary"):
        p = _plan(spark, sf_dir, name)
        for ln in p.splitlines():
            if "FileScan parquet" not in ln or "lineitem" not in ln:
                continue
            schema = ln.split("ReadSchema: ", 1)[1]
            n_fields = schema.count(":")
            assert n_fields <= 7, (name, schema)


def test_c30_stratified_sample_plan_shape(spark, sf_dir):
    """Since round 12 the within-stratum rank rides grouped_cumsum
    (range partition + broadcast span offsets), trading the former
    single-Exchange window — which put a dominant stratum's whole
    population in one task — for skew-proof prefix sums: the offsets
    attach via a BROADCAST join, every window is _pid-keyed, and no
    Window is fed by a SinglePartition exchange."""
    import re

    p = _plan(spark, sf_dir, "c30_stratified_sample")
    assert "BroadcastHashJoin" in p          # span offsets broadcast
    assert "SortMergeJoin" not in p
    assert not _windows_fed_by_single_partition(p)
    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", p):
        assert "_pid" in spec, spec


def test_c31_top_tokens_partial_agg_and_topk(spark, sf_dir):
    """Vocabulary counting must combine map-side (shuffle bounded by
    |vocab|, not |tokens|) and take the top-k without a global sort."""
    p = _plan(spark, sf_dir, "c31_top_tokens")
    assert "partial_count" in p
    assert "TakeOrderedAndProject" in p


def test_c27_lsh_neardup_no_cartesian(spark, sf_dir):
    """The LSH path's whole point: candidates come from a (tbl, bucket)
    equi-join, never an all-pairs product."""
    p = _plan(spark, sf_dir, "c27_dedup_embedding_lsh")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_ivf_cell_assignment_zero_exchange(spark, sf_dir):
    """The IVF index-build's cell assignment must be a map-only pass:
    one Arrow-batched argmin against the driver-held centroid matrix —
    no crossJoin row expansion, no window shuffle. At 100 TB x 16 cells
    the old crossJoin+row_number shape was a ~1.6 PB shuffle."""
    from pyspark.sql import functions as F

    from amazonredshift_blueprints_spark.operators.similarity import (
        _collect_centroids,
        _with_quant,
        assign_cells,
    )
    from amazonredshift_blueprints_spark.session import load_table

    e = load_table(spark, sf_dir, "embeddings")
    cents = _collect_centroids(
        _with_quant(e.filter(F.col("vec_id") < 16), "vec_id", "embedding", "cent")
    )
    p = (
        assign_cells(e, cents)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in p, p
    assert "Join" not in p, p
    assert "Window" not in p, p


def test_c40_packing_window_is_sharded_not_global(spark, sf_dir):
    """Sequence packing's running sum must window per shard — a global
    (SinglePartition) window serializes the whole corpus through one
    reducer at 100 TB."""
    p = _plan(spark, sf_dir, "c40_pack_documents")
    assert "Window" in p
    assert "hashpartitioning(shard" in p, p
    assert "SinglePartition" not in p, p


def test_c39_decontaminate_broadcasts_eval_side(spark, sf_dir):
    """The benchmark-sized eval side must broadcast: the training corpus
    never shuffles on the gram key at fixture scale, and there is no
    train x eval product anywhere."""
    p = _plan(spark, sf_dir, "c39_decontaminate")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "BroadcastHashJoin" in p, p


def test_lsh_topk_distinct_hashes_id_pairs_not_vectors(spark, sf_dir):
    """The candidate-dedup exchange must hash (query_id, neighbor_id)
    pairs only — at dim 768 carrying the quantized vectors through the
    distinct moves ~6 KB per candidate row; the id-pair form is ~100x
    narrower (VERDICT r6 item 3)."""
    import re

    for name in ("c07_ann_lsh_topk", "c38_ann_lsh_portable_topk"):
        p = _plan(spark, sf_dir, name)
        # every hashpartitioning clause that mentions an id pair must not
        # also carry a _q vector column — and at least one such clause
        # must exist (the candidate-distinct exchange)
        id_pair_exchanges = 0
        for m in re.finditer(r"hashpartitioning\(([^)]*)\)", p):
            cols = m.group(1)
            if "query_id" in cols and "neighbor_id" in cols:
                id_pair_exchanges += 1
                assert "_q" not in cols, f"{name}: vector in distinct exchange: {cols}"
        assert id_pair_exchanges >= 1, f"{name}: no id-pair distinct exchange found"


def test_c47_budget_sample_windows_are_banded_not_per_stratum(spark, sf_dir):
    """The data-path running sum must window per (stratum, band) — a
    per-stratum-only window caps reducer parallelism at the language
    count (5) at 100 TB. The only stratum-only window allowed is the
    band-offset pass over the metadata-sized band-total table."""
    import re

    p = _plan(spark, sf_dir, "c47_token_budget_sample")
    assert "SinglePartition" not in p, p
    # the within-band window's exchange must hash (stratum, band)
    assert re.search(r"hashpartitioning\(stratum[^)]*band", p), p


def test_c45_repetition_no_self_join_and_partial_agg(spark, sf_dir):
    p = _plan(spark, sf_dir, "c45_repetition_stats")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "partial_count" in p or "partial" in p.lower(), p


def test_c48_cross_corpus_no_product_and_id_pair_distinct(spark, sf_dir):
    """Cross-corpus dedup: candidates from the (tbl, bucket) equi-join,
    never a new x ref product; the distinct exchange carries id pairs,
    not quantized vectors."""
    import re

    p = _plan(spark, sf_dir, "c48_cross_corpus_dedup")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    pairs = 0
    for m in re.finditer(r"hashpartitioning\(([^)]*)\)", p):
        cols = m.group(1)
        if "new_id" in cols and "ref_id" in cols:
            pairs += 1
            assert "_q" not in cols, cols
    assert pairs >= 1, p


def test_c50_layout_readback_prunes_partitions(spark, sf_dir):
    """The date range must land in the scan's PartitionFilters (pruned
    at file listing) — not in DataFilters (read-then-discard)."""
    p = _plan(spark, sf_dir, "c50_partitioned_layout_pruning")
    scan = next(
        ln for ln in p.splitlines()
        if "FileScan" in ln and "events_by_date" in ln
    )
    assert "PartitionFilters: [" in scan
    pf = scan.split("PartitionFilters: ", 1)[1]
    assert "event_date" in pf.split("]", 1)[0], scan
    assert "DataFilters: []" in scan, scan


def test_c49_bloom_filter_is_scan_side_single_join(spark, sf_dir):
    """The bloom membership test must sit on the fact scan (row-local
    xxhash64 filter, no extra join node) with exactly one real join —
    the pruning adds a filter, never an exchange."""
    p = _plan(spark, sf_dir, "c49_bloom_pruned_join")
    assert "xxhash64" in p, p
    join_nodes = [
        ln for ln in p.splitlines()
        if "Join" in ln and "BroadcastNestedLoopJoin" not in ln
    ]
    assert len(join_nodes) == 1, join_nodes
    assert "CartesianProduct" not in p


def test_c58_bm25_topk_and_no_cartesian_blowup(spark, sf_dir):
    p = _plan(spark, sf_dir, "c58_bm25_search")
    assert "TakeOrderedAndProject" in p          # top-k, not global sort
    # the only nested-loop is the 1-row N/avgdl stats cross; corpus-sized
    # relations never meet in a cartesian
    assert "CartesianProduct" not in p
    assert p.count("BroadcastExchange") >= 3     # df, dl, stats all broadcast


def test_c59_events_never_row_shuffled(spark, sf_dir):
    p = _plan(spark, sf_dir, "c59_robust_outliers")
    # the fact scan joins the metadata aggregates via broadcast only:
    # every Exchange in the plan is below an ObjectHashAggregate
    # (the two percentile passes), never a repartition of raw events
    assert p.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p


def test_c61_semantic_dedup_cell_bounded(spark, sf_dir):
    # eager=False keeps the lineage visible (the catalog entry's default
    # eagerly checkpoints the survivors, which truncates the plan)
    from amazonredshift_blueprints_spark.operators.similarity import semantic_dedup
    from amazonredshift_blueprints_spark.session import load_table

    df = semantic_dedup(load_table(spark, sf_dir, "embeddings"), eager=False)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in p           # pair stage keyed on cell
    assert "BroadcastNestedLoopJoin" not in p
    assert "MapInPandas" in p                    # Arrow cell assignment


def test_c62_feature_hashing_single_aggregate(spark, sf_dir):
    p = _plan(spark, sf_dir, "c62_feature_hashing")
    assert "partial_count" in p                  # map-side combine
    # one exchange: the (doc, bucket) aggregate; no joins at all
    assert "Join" not in p


def test_c67_profile_is_single_scan(spark, sf_dir):
    p = _plan(spark, sf_dir, "c67_column_profile")
    # all per-column metrics from ONE scan + one Expand-based aggregate —
    # never a scan per column
    assert p.count("Scan parquet") == 1
    assert "Expand" in p


def test_q55_spatial_join_no_cartesian(spark, sf_dir):
    p = _plan(spark, sf_dir, "q55_spatial_within_join")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    # the candidate join is keyed on the grid cell
    assert "BroadcastHashJoin" in p or "SortMergeJoin" in p or "ShuffledHashJoin" in p


def test_q56_exists_decorrelated_to_joins(spark, sf_dir):
    p = _plan(spark, sf_dir, "q56_multi_exists_decorrelation")
    # both existential subqueries become join operators — never a
    # per-row subquery plan node
    assert "LeftSemi" in p and "LeftAnti" in p
    assert "CartesianProduct" not in p


def test_c76_zorder_layout_prunes_on_every_dimension(spark, sf_dir, tmp_path):
    """The point of Z-order vs a plain sort: file-level min/max zone
    maps prune for predicates on EITHER clustered column. Measured on
    the real written files via parquet footer statistics."""
    import glob

    import pyarrow.parquet as pq

    from amazonredshift_blueprints_spark.operators.layout import zorder_layout
    from amazonredshift_blueprints_spark.session import load_table

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    zdir = str(tmp_path / "zorder")
    sdir = str(tmp_path / "price_sorted")
    zorder_layout(o, zdir, ["o_totalprice", "o_custkey"], bits=4, n_files=16)
    # baseline: single-column sort (what c66 compaction produces)
    (
        o.repartitionByRange(16, "o_totalprice")
        .sortWithinPartitions("o_totalprice")
        .write.mode("overwrite").parquet(sdir)
    )

    def overlapping(path, col, lo, hi):
        n = hit = 0
        for f in glob.glob(f"{path}/part-*.parquet"):
            md = pq.ParquetFile(f).metadata
            idx = md.schema.names.index(col)
            fmin = min(md.row_group(i).column(idx).statistics.min for i in range(md.num_row_groups))
            fmax = max(md.row_group(i).column(idx).statistics.max for i in range(md.num_row_groups))
            n += 1
            hit += not (fmax < lo or fmin > hi)
        return hit, n

    ck_lo, ck_hi = 1, o.agg({"o_custkey": "max"}).first()[0] // 8
    z_hit, z_n = overlapping(zdir, "o_custkey", ck_lo, ck_hi)
    s_hit, s_n = overlapping(sdir, "o_custkey", ck_lo, ck_hi)
    assert z_n >= 8 and s_n >= 8
    # price-sorted layout cannot prune a custkey predicate: every file
    # spans the full custkey range; the z-ordered layout must prune
    assert s_hit == s_n
    assert z_hit < z_n, (z_hit, z_n)
    # and the z-ordered layout still prunes on totalprice too
    tp_hi = o.agg({"o_totalprice": "min"}).first()[0] + 1.0
    z2_hit, _ = overlapping(zdir, "o_totalprice", 0.0, tp_hi)
    assert z2_hit < z_n
    # value-neutrality: same rows back
    assert spark.read.parquet(zdir).count() == o.count()


def test_tpch_entries_join_strategies(spark, sf_dir):
    """q62-q66: comma-syntax joins must all resolve to hash joins (the
    WHERE equi-predicates reach the join conditions); the only nested
    loop allowed is q66's broadcast of the ONE-ROW (total, cnt)
    aggregate — the exact-average scalar, not a data product."""
    for name in (
        "q62_tpch_q7_volume_shipping",
        "q63_tpch_q8_market_share",
        "q64_tpch_q13_order_distribution",
        "q65_tpch_q18_large_volume",
    ):
        p = _plan(spark, sf_dir, name)
        assert "CartesianProduct" not in p, name
        assert "BroadcastNestedLoopJoin" not in p, name
        assert "BroadcastHashJoin" in p, name
    p66 = _plan(spark, sf_dir, "q66_tpch_q22_global_sales")
    assert "CartesianProduct" not in p66
    # the single BNLJ is the 1-row aggregate broadcast (scalar pattern)
    assert p66.count("BroadcastNestedLoopJoin") == 1
    assert "partial_count" in p66  # that side is the aggregate


def test_tpch_part2_join_strategies(spark, sf_dir):
    """q69-q72 (TPC-H Q2/Q11/Q15/Q20 shapes): every correlated/nested
    subquery must decorrelate to hash joins — no cartesian, no
    nested-loop fallback anywhere — and Q2's ordered LIMIT must plan
    as TakeOrderedAndProject, not a global sort."""
    for name in (
        "q69_tpch_q2_min_cost_supplier",
        "q70_tpch_q11_important_stock",
        "q71_tpch_q15_top_supplier",
        "q72_tpch_q20_potential_promotion",
    ):
        p = _plan(spark, sf_dir, name)
        assert "CartesianProduct" not in p, name
        assert "BroadcastNestedLoopJoin" not in p, name
        assert "BroadcastHashJoin" in p, name
    assert "TakeOrderedAndProject" in _plan(
        spark, sf_dir, "q69_tpch_q2_min_cost_supplier"
    )


def test_tpch_part3_join_strategies(spark, sf_dir):
    """q73-q78 (TPC-H Q9/Q10/Q12/Q14/Q16/Q19 shapes): all hash joins.
    The load-bearing one is Q19 (q78): Catalyst must factor the
    p_partkey = l_partkey equality out of the OR-of-ANDs predicate so
    the join is a BroadcastHashJoin with a residual filter — an engine
    that misses the CNF extraction runs a nested-loop over the full
    lineitem x part product. Q10 (q74) must cap its top-20 with
    TakeOrderedAndProject, not a global sort."""
    for name in (
        "q73_tpch_q9_product_profit",
        "q74_tpch_q10_returned_items",
        "q75_tpch_q12_shipmode_priority",
        "q76_tpch_q14_promo_revenue",
        "q77_tpch_q16_supplier_cnt",
        "q78_tpch_q19_disjunctive_pushdown",
    ):
        p = _plan(spark, sf_dir, name)
        assert "CartesianProduct" not in p, name
        assert "BroadcastNestedLoopJoin" not in p, name
        assert "BroadcastHashJoin" in p, name
    assert "TakeOrderedAndProject" in _plan(
        spark, sf_dir, "q74_tpch_q10_returned_items"
    )


def test_tpch_part4_join_strategies_and_q6_pushdown(spark, sf_dir):
    """q79-q82 (TPC-H Q4/Q5/Q6/Q17): Q4's correlated EXISTS becomes a
    semi join, Q5/Q17 decorrelate to hash joins, and Q6 — the pure
    scan-filter-aggregate — must push all three range predicates into
    the parquet scan and prune the read schema to the touched columns."""
    for name in (
        "q79_tpch_q4_order_priority",
        "q80_tpch_q5_local_supplier_volume",
        "q82_tpch_q17_small_quantity_order",
    ):
        p = _plan(spark, sf_dir, name)
        assert "CartesianProduct" not in p, name
        assert "BroadcastNestedLoopJoin" not in p, name
        assert "BroadcastHashJoin" in p, name
    import re

    assert "LeftSemi" in _plan(spark, sf_dir, "q79_tpch_q4_order_priority")
    p81 = _plan(spark, sf_dir, "q81_tpch_q6_forecast_revenue")
    assert "Join" not in p81
    # predicate pushdown reaches the scan (the plan string truncates the
    # full list, so match the prefix), and the scan's projected column
    # list is pruned to exactly the four touched columns
    assert "PushedFilters: [IsNotNull(" in p81
    scan_cols = re.search(r"FileScan parquet \[([^\]]*)\]", p81).group(1)
    cols = {c.split("#")[0] for c in scan_cols.split(",")}
    assert cols == {"l_shipdate", "l_discount", "l_quantity", "l_extendedprice"}


def test_c74_c75_probe_join_carries_codes_not_vectors(spark, sf_dir):
    """The IVFADC probe join must move (id, cell, codes) rows — never
    quantized vectors — and no stage may fall back to a product."""
    import re

    for name in ("c74_ann_ivfpq_residual_topk", "c75_ann_ivfpq_refine_topk"):
        p = _plan(spark, sf_dir, name)
        assert "CartesianProduct" not in p, name
        assert "BroadcastNestedLoopJoin" not in p, name
        # any exchange hashing the probe key must not carry a _q vector
        for m in re.finditer(r"hashpartitioning\(([^)]*)\)", p):
            cols = m.group(1)
            if "cell" in cols:
                assert "_q" not in cols, (name, cols)
    # c75's refine side: the candidate id table broadcasts
    p75 = _plan(spark, sf_dir, "c75_ann_ivfpq_refine_topk")
    assert "BroadcastHashJoin" in p75


def test_zorder_key_properties(spark):
    """Structural properties of the Morton key: equal coordinates give
    equal keys; moving one coordinate to the far end of its range moves
    the key; keys stay within 2*bits bits."""
    from amazonredshift_blueprints_spark.operators.layout import zorder_keys

    df = spark.createDataFrame(
        [(i, float(i), float(i)) for i in range(64)], "id long, x double, y double"
    )
    rows = {r["id"]: r["_zvalue"] for r in zorder_keys(df, ["x", "y"], bits=4).collect()}
    assert all(0 <= z < (1 << 8) for z in rows.values())
    # duplicate-coordinate rows share the key
    df2 = spark.createDataFrame(
        [(1, 5.0, 7.0), (2, 5.0, 7.0), (3, 60.0, 7.0)], "id long, x double, y double"
    )
    base = spark.createDataFrame(
        [(100 + i, float(i), float(i)) for i in range(64)],
        "id long, x double, y double",
    )
    z2 = {
        r["id"]: r["_zvalue"]
        for r in zorder_keys(df2.union(base), ["x", "y"], bits=4).collect()
    }
    assert z2[1] == z2[2]
    assert z2[3] != z2[1]


def test_round10_partc_plan_shapes(spark, sf_dir):
    """Pin the documented plan shapes of the round-10 Part C entries:
    c84 map-only (no exchange, no join), c91 zero exchanges (both
    posting sides broadcast after their word filters), c88 one
    user_id partitioning feeding the single lead window of the r13
    segment-explode rewrite (the grid-join + dual-direction-window
    shape is gone — see test_gapfill_interpolate_is_segment_explode),
    c89's counter aggregate bounded by the sketch size."""
    p84 = _plan(spark, sf_dir, "c84_gopher_quality_rules")
    assert "Exchange" not in p84 and "Join" not in p84
    p91 = _plan(spark, sf_dir, "c91_phrase_match")
    assert "Exchange hashpartitioning" not in p91
    assert "BroadcastHashJoin" in p91
    p88 = _plan(spark, sf_dir, "c88_gapfill_interpolate")
    import re

    user_exchanges = [
        m for m in re.findall(r"Exchange hashpartitioning\(([^,]*)", p88)
        if "user_id" in m
    ]
    assert len(set(user_exchanges)) >= 1  # one user_id partitioning exists
    assert "CartesianProduct" not in p88
    p89 = _plan(spark, sf_dir, "c89_count_min_sketch")
    assert "CartesianProduct" not in p89
    assert "BroadcastHashJoin" in p89  # sketch broadcasts to the probes


def test_round11_partc_plan_shapes(spark, sf_dir, monkeypatch):
    """Pin the round-11 entries' plan shapes: c99 adds only a metadata
    join + one group_id hash aggregate over c29's components (no
    cartesian anywhere); c100's word->n_sub application joins as a
    BROADCAST (the vocabulary-sized table), never a corpus shuffle per
    word; c98's redistribute policy must not change PageRank's
    per-round one-shuffle shape (no cartesian, contributions grouped)."""
    p99 = _plan(spark, sf_dir, "c99_dedup_keep_best")
    assert "CartesianProduct" not in p99
    assert "max_by" in p99  # the canonical arg-max is one aggregate
    p100 = _plan(spark, sf_dir, "c100_bpe_fertility")
    assert "CartesianProduct" not in p100
    assert "BroadcastHashJoin" in p100  # vocab-sized word table broadcast
    # the distributed loop's shape: below the driver gate c98 is a
    # LocalRelation, so the gate is off for this one build
    with monkeypatch.context() as mp:
        mp.setenv("SPARK_GRAFT_CC_DRIVER_EDGES", "0")
        p98 = _plan(spark, sf_dir, "c98_pagerank_dangling")
    assert "CartesianProduct" not in p98
    # c102: bigram extraction must be map-only (no per-doc window on
    # the token stream), the unigram dims broadcast, top-k bounded
    p102 = _plan(spark, sf_dir, "c102_pmi_collocations")
    assert "CartesianProduct" not in p102
    assert "BroadcastHashJoin" in p102
    assert "TakeOrderedAndProject" in p102
    # c101: the selection inherits c47's banded shape - windows are
    # keyed by (stratum, band), never one global partition
    p101 = _plan(spark, sf_dir, "c101_unimax_mixing")
    import re as _re

    for spec in _re.findall(r"windowspecdefinition\(([^)]*)", p101):
        assert "stratum" in spec, spec


def test_round11_late_additions_plan_shapes(spark, sf_dir):
    """c105 novelty: same shape as TF-IDF — gram-keyed aggregate with
    map-side partial MIN, an equi-join back, never a cartesian or a
    nested-loop. c106 linkage: levenshtein runs INSIDE the block
    equi-join (JVM codegen residual), no cartesian/BNLJ. c107 skyline:
    the only nested-loop is the candidate-vs-candidate LeftAnti (on the
    staircase band), gated behind a LeftSemi cell-prune join; the full
    table never meets itself."""
    p105 = _plan(spark, sf_dir, "c105_ngram_novelty")
    assert "CartesianProduct" not in p105
    assert "BroadcastNestedLoopJoin" not in p105
    assert "partial_min" in p105  # first-seen MIN combines map-side
    p106 = _plan(spark, sf_dir, "c106_fuzzy_blocked_match")
    assert "CartesianProduct" not in p106
    assert "BroadcastNestedLoopJoin" not in p106
    assert "levenshtein" in p106  # verify is a JVM join residual
    p107 = _plan(spark, sf_dir, "c107_skyline_pareto")
    assert "CartesianProduct" not in p107
    assert p107.count("BroadcastNestedLoopJoin") == 1
    assert "LeftAnti" in p107
    assert "LeftSemi" in p107  # grid-prune semi-join gates the BNLJ
    # c108: scoring scans CODES with the broadcast query block (one BNLJ
    # cross, never a shuffle join); the only hash exchange is the
    # per-query top-k window. Training already ran (codebook collect).
    p108 = _plan(spark, sf_dir, "c108_ann_sq8_topk")
    assert "CartesianProduct" not in p108
    assert p108.count("BroadcastNestedLoopJoin") == 1
    assert "SortMergeJoin" not in p108
    # c109: one user-keyed shuffle, no joins at all
    p109 = _plan(spark, sf_dir, "c109_event_pattern_regex")
    assert "Join" not in p109
    import re as _re2

    assert len(_re2.findall(r"Exchange hashpartitioning", p109)) == 1
    # c110: prefix-filtered set-similarity — no cartesian/BNLJ anywhere
    # (the whole point: candidates come from an equi-join on prefix
    # shingles), and the verify stage reads token ARRAYS back
    # (array_intersect in codegen), never a re-explode.
    p110 = _plan(spark, sf_dir, "c110_setsim_prefix_join")
    assert "CartesianProduct" not in p110
    assert "BroadcastNestedLoopJoin" not in p110
    assert "array_intersect" in p110
    # c111: triangles close via ONE LeftSemi; the canonical edge set is
    # persisted (InMemoryTableScan) so its dedup lineage runs once for
    # its four consumers; never a cartesian.
    p111 = _plan(spark, sf_dir, "c111_triangle_count")
    assert "CartesianProduct" not in p111
    assert p111.count("LeftSemi") == 1
    assert "InMemoryTableScan" in p111


def test_c104_audit_single_scan_and_anti_join(spark, sf_dir):
    """The audit's row-local checks + distinct must plan as ONE scan of
    the audited set (conditional sums in one aggregate; the Expand for
    count_distinct is fine), and the FK screen as a LEFT ANTI join."""
    from amazonredshift_blueprints_spark.operators.maintenance import (
        data_quality_audit,
    )
    from amazonredshift_blueprints_spark.session import load_table

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    c = load_table(spark, sf_dir, "customer")
    out = data_quality_audit(
        o,
        not_null=["o_totalprice"],
        unique=["o_orderkey"],
        positive=["o_totalprice"],
        fk=[("o_custkey", c, "c_custkey")],
    )
    got = {r["check_name"]: (r["n_checked"], r["n_violations"]) for r in out.collect()}
    n = o.count()
    # clean fixture: zero violations everywhere, full row counts
    assert got == {
        "not_null:o_totalprice": (n, 0),
        "positive:o_totalprice": (n, 0),
        "unique:o_orderkey": (n, 0),
        "fk:o_custkey": (n, 0),
    }


def test_c104_audit_dotted_column_names(spark):
    """A checked column whose NAME contains a dot must audit correctly:
    the generated aliases ("not_null:a.b", "_distinct_a.b") embed the
    dot and their re-references must be backtick-quoted, not parsed as
    struct paths (r16 advisor)."""
    from amazonredshift_blueprints_spark.operators.maintenance import (
        data_quality_audit,
    )

    df = spark.createDataFrame(
        [(1, 5), (2, None), (2, -1)], "`a.b` BIGINT, `x.y` BIGINT"
    )
    out = data_quality_audit(
        df, not_null=["`x.y`"], unique=["`a.b`"], positive=["`x.y`"]
    )
    got = {r["check_name"]: (r["n_checked"], r["n_violations"]) for r in out.collect()}
    assert got == {
        "not_null:`x.y`": (3, 1),
        "positive:`x.y`": (3, 2),  # NULL and -1 both violate
        "unique:`a.b`": (3, 1),  # one duplicated non-null value
    }


def test_c112_c113_plan_shapes(spark, sf_dir):
    """c112 NB: the corpus never joins itself — every join partner is a
    model-sized aggregate (the only nested-loop joins are the broadcast
    1-row dims), no cartesian. c113: the sample must lower to
    TakeOrderedAndProject (per-partition top-k), NOT a global Sort of
    the data."""
    p112 = _plan(spark, sf_dir, "c112_naive_bayes_langid")
    assert "CartesianProduct" not in p112
    p113 = _plan(spark, sf_dir, "c113_bottomk_hash_sample")
    assert "TakeOrderedAndProject" in p113
    assert "CartesianProduct" not in p113


def test_c114_c115_c116_plan_shapes(spark, sf_dir):
    """c114: no cartesian anywhere (the cosine cross is a broadcast
    1-query nested loop inside c06's operator). c115: the per-key stats
    join must be broadcast — the order stream never sort-merge
    shuffles. c116: the only non-equi join is the variant-pair nested
    loop on the 2-row stats table."""
    p114 = _plan(spark, sf_dir, "c114_rrf_hybrid_search")
    assert "CartesianProduct" not in p114
    p115 = _plan(spark, sf_dir, "c115_loo_target_encoding")
    assert "BroadcastHashJoin" in p115
    assert "SortMergeJoin" not in p115
    assert "CartesianProduct" not in p115
    p116 = _plan(spark, sf_dir, "c116_ab_ztest")
    assert p116.count("BroadcastNestedLoopJoin") == 1
    assert "SortMergeJoin" not in p116


def test_c117_c118_plan_shapes(spark, sf_dir):
    """c117: the fold is join-free — one user-keyed hash aggregate,
    the recurrence entirely inside the aggregate expression. c118: one
    user-keyed window exchange; the totals join must be broadcast."""
    p117 = _plan(spark, sf_dir, "c117_ewma_spikes")
    assert "Join" not in p117
    p118 = _plan(spark, sf_dir, "c118_markov_transitions")
    assert "BroadcastHashJoin" in p118
    assert "SortMergeJoin" not in p118


def test_c119_c120_plan_shapes(spark, sf_dir):
    """c119: candidates come from equi-joined postings — never a
    cartesian or nested loop. c120: closed-form OLS is join-free, one
    hash aggregate."""
    p119 = _plan(spark, sf_dir, "c119_containment_join")
    assert "CartesianProduct" not in p119
    assert "BroadcastNestedLoopJoin" not in p119
    p120 = _plan(spark, sf_dir, "c120_groupwise_ols")
    assert "Join" not in p120


def test_c121_plan_is_join_free(spark, sf_dir):
    """The correlation matrix must come from map-side pair expansion +
    one aggregate — never a vec_id self-join."""
    p = _plan(spark, sf_dir, "c121_embedding_corr_matrix")
    assert "Join" not in p


def test_c124_c125_plan_shapes(spark, sf_dir):
    """c124: marginals broadcast onto pair counts — no SMJ for the
    dims, no cartesian. c125: one aggregate over the stream; the only
    joins are broadcast of 1-row dims."""
    p124 = _plan(spark, sf_dir, "c124_itemitem_cf")
    assert "CartesianProduct" not in p124
    assert "TakeOrderedAndProject" in p124
    p125 = _plan(spark, sf_dir, "c125_psi_drift")
    assert "CartesianProduct" not in p125
    assert "SortMergeJoin" not in p125


def test_c127_single_scan_no_join(spark, sf_dir):
    """The point-in-time split must be per-row CASE inside one
    aggregate — never a self-join of time slices."""
    p = _plan(spark, sf_dir, "c127_churn_labels")
    assert "Join" not in p


def test_round11_late_entry_plan_shapes(spark, sf_dir):
    """c130 GIF stats and q90 mapInArrow are pure map pipelines — the
    whole plan must be exchange-free (decode runs inside the scan's
    partitions). c129's joins are all broadcast (dictionary + count
    dims, anti-join vs positives); nothing sort-merges at fixture
    scale. c132 composes two BM25 plans — no cartesian anywhere."""
    p130 = _plan(spark, sf_dir, "c130_gif_decode_stats")
    assert "Exchange" not in _sans_rebalance(p130)
    p90 = _plan(spark, sf_dir, "q90_mapinarrow_norms")
    assert "Exchange" not in p90
    p129 = _plan(spark, sf_dir, "c129_negative_sampling")
    assert "CartesianProduct" not in p129
    p132 = _plan(spark, sf_dir, "c132_prf_query_expansion")
    assert "CartesianProduct" not in p132


def test_c144_c147_batch_plan_shapes(spark, sf_dir):
    """c144: the only nested loop is the ANN query-batch broadcast
    (c06's operator); the label lookup must not sort-merge. c145: the
    AUC rides grouped_cumsum since round 12 — the only join is the
    BROADCAST span-offset attach, windows are _pid-keyed, and no
    Window is fed by a SinglePartition exchange. c146: attribution
    reuses the (user, epoch) partitioning — no cartesian, and the
    channel rollup is aggregate-shaped. c147: the CUSUM fold is
    join-free, one user-keyed aggregate."""
    p144 = _plan(spark, sf_dir, "c144_knn_classifier")
    assert "CartesianProduct" not in p144
    assert "SortMergeJoin" not in p144
    p145 = _plan(spark, sf_dir, "c145_auc_ranksum")
    assert "SortMergeJoin" not in p145
    assert "CartesianProduct" not in p145
    assert "BroadcastHashJoin" in p145  # span offsets, broadcast
    assert not _windows_fed_by_single_partition(p145)
    p146 = _plan(spark, sf_dir, "c146_attribution_credit")
    assert "CartesianProduct" not in p146
    p147 = _plan(spark, sf_dir, "c147_cusum_alarms")
    assert "Join" not in p147


def test_c150_c156_batch_plan_shapes(spark, sf_dir):
    """Round-11 third-session batch. c151: the three score passes are
    broadcast-joined offsets (global_rank form) — no CartesianProduct,
    and the only NestedLoop joins are the broadcast scalar attaches
    (asof date, n). c152: one hash agg then a 7-rows-per-key window —
    join-free. c153: decode is mapInPandas inside the scan — join- and
    exchange-free. c154: label totals broadcast, no cartesian. c155:
    both row_number windows share ONE (key, day) Exchange. c156: no
    cartesian; the conversion join is key-equi."""
    p151 = _plan(spark, sf_dir, "c151_rfm_segments")
    assert "CartesianProduct" not in p151
    p152 = _plan(spark, sf_dir, "c152_seasonal_dow_profile")
    assert "Join" not in p152
    p153 = _plan(spark, sf_dir, "c153_bmp_decode_stats")
    assert "Join" not in p153 and "Exchange" not in _sans_rebalance(p153)
    p154 = _plan(spark, sf_dir, "c154_chi2_terms")
    assert "CartesianProduct" not in p154
    p155 = _plan(spark, sf_dir, "c155_ohlc_bars")
    # one exchange for the (key, day) windows + none extra for the agg
    assert p155.count("Exchange hashpartitioning") == 1
    p156 = _plan(spark, sf_dir, "c156_funnel_latency")
    assert "CartesianProduct" not in p156


def test_c150_kcore_alive_joins_are_equi(spark, sf_dir):
    """kcore's per-round degree restriction must be two equi-joins on
    the node id — a cartesian here would be corpus² at scale. (The
    operator materializes per round, so inspect the operator's last
    round output plan.)"""
    p = _plan(spark, sf_dir, "c150_kcore_decomposition")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p


def test_c157_c161_batch_plan_shapes(spark, sf_dir):
    """c157: all lag/rolling features ride ONE key-partitioned Exchange
    — join-free. c158's merge runs inside foreachBatch (not planned
    here); c159: the evaluation adds no cartesian beyond the NB model's
    broadcast 1-row dims. c160: the lead window and the closing agg
    share one (key, day) Exchange. c161: the running sum's single-
    partition Exchange is over the DAYS table only — the day-level
    aggs below it do the data-sized work."""
    p157 = _plan(spark, sf_dir, "c157_lag_features")
    assert "Join" not in p157
    assert p157.count("Exchange hashpartitioning") == 1
    p159 = _plan(spark, sf_dir, "c159_confusion_matrix")
    assert "CartesianProduct" not in p159
    p160 = _plan(spark, sf_dir, "c160_twap")
    assert "Join" not in p160
    assert p160.count("Exchange hashpartitioning") == 1
    p161 = _plan(spark, sf_dir, "c161_user_growth_daily")
    assert "CartesianProduct" not in p161


def test_c166_stump_join_free_takeordered(spark, sf_dir):
    """c166 decision stump: the corpus collapses to the distinct-cents
    table in ONE hash aggregate (map-side partials); since round 12
    the cumulative scan rides global_cumsum — the only join is the
    BROADCAST _pid-offset attach (P metadata rows), never a sort-merge
    or cartesian — and the winner exits via TakeOrdered; no global
    sort of anything corpus-sized, no single-partition window."""
    p = _plan(spark, sf_dir, "c166_decision_stump")
    assert "SortMergeJoin" not in p
    assert "CartesianProduct" not in p
    assert "BroadcastHashJoin" in p  # the _pid offset attach
    assert "partial_count" in p or "partial_sum" in p  # map-side combine
    assert "TakeOrderedAndProject" in p
    assert not _windows_fed_by_single_partition(p)


def test_session4_additions_plan_shapes(spark, sf_dir):
    """Round-11 fourth-session batch: c167 link prediction is all
    equi-joins (no cartesian/BNLJ — candidates come from the wedge
    equi-join); c168's band model is a broadcast join plus the one-row
    prior BNLJ, never an SMJ; c170's only nested loop is the broadcast
    eval block; c171 bootstrap and c172 MI are join-free single-scan
    aggregates with map-side partials."""
    p167 = _plan(spark, sf_dir, "c167_link_prediction")
    assert "CartesianProduct" not in p167
    assert "BroadcastNestedLoopJoin" not in p167
    p168 = _plan(spark, sf_dir, "c168_calibration_brier")
    assert "SortMergeJoin" not in p168
    assert "BroadcastHashJoin" in p168       # band model broadcast back
    assert p168.count("BroadcastNestedLoopJoin") == 1  # 1-row prior
    p170 = _plan(spark, sf_dir, "c170_semantic_decontaminate")
    assert p170.count("BroadcastNestedLoopJoin") == 1  # eval broadcast
    assert "SortMergeJoin" not in p170
    p171 = _plan(spark, sf_dir, "c171_poisson_bootstrap")
    assert "Join" not in p171
    assert "partial_sum" in p171             # reps collapse map-side
    p172 = _plan(spark, sf_dir, "c172_mi_feature_ranking")
    assert "Join" not in p172
    assert "partial_count" in p172 or "partial_sum" in p172
    p92 = _plan(spark, sf_dir, "q92_connect_by")
    assert "CartesianProduct" not in p92


def _windows_fed_by_single_partition(plan: str) -> list[tuple[str, str]]:
    """Pairs (window-line, exchange-line) where a Window node's nearest
    downstream Exchange is SinglePartition — the partition-less
    WindowExec shape that funnels its whole input through one task."""
    lines = plan.splitlines()
    bad = []
    for i, line in enumerate(lines):
        if "Window" not in line:
            continue
        for below in lines[i + 1 :]:
            if "Exchange" in below:
                if "SinglePartition" in below:
                    bad.append((line.strip()[:80], below.strip()[:80]))
                break
    return bad


def test_cdf_family_has_no_single_partition_windows(spark, sf_dir):
    """VERDICT r11 item 2: decision_stump / ks_two_sample /
    auc_ranksum previously built their cumulative CDFs on a
    partition-less ``Window.orderBy`` (plus a partition-less total
    window) over the distinct-value table — corpus-sized for
    continuous features, so the whole table funneled through ONE
    task at 100 TB.  They now ride sampling.global_cumsum /
    grouped_cumsum (range-partition + broadcast offsets); assert the
    single-partition-window shape never comes back.  (A global tiny
    AGGREGATE may still exchange SinglePartition — that is partials
    of metadata, fine; the guard is specifically Window-fed-by-
    SinglePartition.)"""
    for name in (
        "c166_decision_stump",
        "c183_ks_two_sample",
        "c145_auc_ranksum",
    ):
        p = _plan(spark, sf_dir, name)
        assert "Window" in p, f"{name}: expected windowed cumsum in plan"
        bad = _windows_fed_by_single_partition(p)
        assert not bad, f"{name}: partition-less Window over data: {bad}"


def test_round12_batch_plan_shapes(spark, sf_dir):
    """Round-12 additions. c191: the capped SemDeDup path stays
    equi-join shaped (banded rank blocks — no cartesian, no BNLJ
    beyond none at all). c192: gini rides the broadcast-offset rank —
    no single-partition window, no sort-merge. c193: label propagation
    is equi-joins + aggregates only. c196: k-fold windows are
    _pid-keyed (grouped_cumsum). c197: forward asof is the one
    union+window exchange — no cartesian, no range-join explosion.
    c200: MASE is a co-partitioned self-equi-join + aggregate,
    window-free."""
    p191 = _plan(spark, sf_dir, "c191_semdedup_cell_capped")
    assert "CartesianProduct" not in p191
    assert "BroadcastNestedLoopJoin" not in p191
    p192 = _plan(spark, sf_dir, "c192_gini_concentration")
    assert "SortMergeJoin" not in p192
    assert not _windows_fed_by_single_partition(p192)
    p193 = _plan(spark, sf_dir, "c193_label_propagation")
    assert "CartesianProduct" not in p193
    assert "BroadcastNestedLoopJoin" not in p193
    p196 = _plan(spark, sf_dir, "c196_stratified_kfold")
    assert not _windows_fed_by_single_partition(p196)
    assert "CartesianProduct" not in p196
    p197 = _plan(spark, sf_dir, "c197_asof_forward_tolerance")
    assert "CartesianProduct" not in p197
    assert "BroadcastNestedLoopJoin" not in p197
    p200 = _plan(spark, sf_dir, "c200_mase_backtest")
    assert "Window" not in p200
    assert "CartesianProduct" not in p200


# --------------------------------------------------------------------------
# Partition-less window ALLOWLIST (VERDICT r12 item 8). Every
# ``Window.orderBy(...)`` WITHOUT a partitionBy funnels its input
# through one task — legal only over tables whose size is bounded by
# metadata (band count, day count, vocab/top-k cap), never by the data.
# The census test below fails when a NEW bare-window site appears, so
# a future entry cannot ride the existing audit with a data-sized
# input: add it here ONLY with a written boundedness argument (and
# prefer sampling.global_cumsum / grouped_cumsum, which exist exactly
# so data-sized cumulatives never need this shape).
# --------------------------------------------------------------------------
_PARTITIONLESS_WINDOW_ALLOWLIST = {
    ("plans/catalog.py", "c114_rrf_hybrid_search"):
        "fused candidate list: union of two top-k lists, <= 2k rows",
    ("operators/ml.py", "uplift_curve"):
        "band table joined back to per-band aggregates: one row per score band",
    ("operators/ml.py", "isotonic_fit"):
        "band table; explicit 'never point this at raw rows' contract "
        "in the docstring (ml.py isotonic_fit)",
    ("operators/ml.py", "logrank_test"):
        "KM day table: one row per distinct event day (DAYS-bounded)",
    ("operators/sessions.py", "user_growth_daily"):
        "daily aggregate: one row per calendar day",
    ("operators/sampling.py", "weighted_sample_with_replacement"):
        "band table: one row per weight band (constant band count)",
    ("operators/sampling.py", "bottomk_hash_sample"):
        "bottom-k sample: k rows by construction",
    ("operators/sampling.py", "negative_sampling"):
        "item dictionary: one row per distinct item (vocab-sized)",
    ("operators/sampling.py", "neyman_allocation"):
        "stratum table: one row per stratum",
    ("operators/timeseries.py", "changepoint_scan"):
        "daily series: one row per day per key after the day rollup",
    ("operators/maintenance.py", "est"):
        "KMV sketch: <= k rows by construction (kmv_join_cardinality)",
    ("operators/text.py", "counts"):
        "JSD top-k: <= k rows after TakeOrderedAndProject, rank re-derived",
    ("operators/text.py", "pmi_collocations"):
        "bigram vocabulary above min_count, then top-k",
    ("operators/text.py", "rrf_fuse"):
        "fused doc ranks: union of two top-k lists, <= 2k rows",
    ("operators/text.py", "tfidf_doc_pairs"):
        "top-k pair list: k rows by construction",
    ("operators/similarity.py", "cooccurrence_topk"):
        "item-pair co-occurrence above min support, then top-k",
    ("operators/similarity.py", "association_rules"):
        "frequent itemset table above min support (vocab-bounded)",
}


def test_partitionless_window_sites_are_allowlisted():
    """Source census: every bare ``Window.orderBy(`` site in the
    package must appear in _PARTITIONLESS_WINDOW_ALLOWLIST with a
    boundedness argument; a stale allowlist row (site removed or
    renamed) fails too, so the list cannot rot in either direction."""
    import re
    from pathlib import Path

    pkg = Path(__file__).resolve().parent.parent / "amazonredshift_blueprints_spark"
    found: set[tuple[str, str]] = set()
    for p in sorted(pkg.rglob("*.py")):
        lines = p.read_text().splitlines()
        for i, line in enumerate(lines):
            if "Window.orderBy(" not in line:
                continue
            func = "?"
            for j in range(i, -1, -1):
                m = re.match(r"\s*def (\w+)", lines[j])
                if m:
                    func = m.group(1)
                    break
            found.add((str(p.relative_to(pkg)), func))
    new = found - set(_PARTITIONLESS_WINDOW_ALLOWLIST)
    stale = set(_PARTITIONLESS_WINDOW_ALLOWLIST) - found
    assert not new, (
        "NEW partition-less Window.orderBy site(s) — prove the input is "
        "metadata-bounded and allowlist them, or use sampling."
        f"global_cumsum/grouped_cumsum: {sorted(new)}"
    )
    assert not stale, f"stale allowlist rows (site gone): {sorted(stale)}"


def test_ranking_evals_single_exchange_feeds_window_and_agg(spark, sf_dir):
    """c148/c210 (r13 plan audit): the group column keeps its original
    name through the windows and the aggregate, so ONE exchange on the
    group key feeds both — aliasing it before the agg planned a second
    exchange on the aliased key whenever the input came from a join
    (alias-aware partitioning propagation does not survive that shape)."""
    for name in ("c148_ndcg_eval", "c210_average_precision"):
        p = _plan(spark, sf_dir, name)
        ex = [l for l in p.splitlines()
              if "Exchange hashpartitioning" in l]
        # (u, item) click agg, (u, item) purchase agg collapse depends
        # on the join strategy; the invariant is NO exchange keyed on
        # the post-window alias 'grp'
        assert not any("grp#" in l for l in ex), (name, ex)


def test_gapfill_interpolate_is_segment_explode(spark, sf_dir):
    """c88 (r13 rewrite): Spark evaluates unbounded-FOLLOWING window
    frames by rescanning the partition tail per row — O(rows²) per key
    — and the old grid-then-window shape made c88 the slowest entry in
    the catalog (20.6 s at sf0.1; 0.9 s after). The shape is now ONE
    O(n) lead window over the observed rows plus a map-side explode of
    each segment: no dense-grid join, no second window, no
    unbounded-following frame."""
    p = _plan(spark, sf_dir, "c88_gapfill_interpolate")
    assert "unboundedfollowing" not in p.lower().replace(" ", "")
    win_lines = [l for l in p.splitlines() if "Window [" in l]
    assert len(win_lines) == 1 and "lead(" in win_lines[0], win_lines
    assert p.count("Generate explode") == 1
    assert "SortMergeJoin" not in p and "BroadcastHashJoin" not in p


def test_no_tail_rescan_window_frames_in_package():
    """Source census (r13): Spark evaluates a frame that STARTS at the
    current row and ENDS at UNBOUNDED FOLLOWING by rescanning the
    partition tail per row — O(rows²) per partition. Two entries
    shipped that shape (c88 gap-fill, as-of forward) before the bench
    full sweep exposed it; both were rewritten as reversed-order
    running frames / segment explodes. Whole-partition frames
    (unboundedPreceding..unboundedFollowing) compute once per
    partition and stay legal. Any new tail-rescan frame fails here —
    mirror the ordering and use a running frame instead."""
    import re
    from pathlib import Path

    pkg = Path(__file__).resolve().parent.parent / (
        "amazonredshift_blueprints_spark"
    )
    banned = re.compile(
        r"rowsBetween\(\s*(?:Window\.currentRow|-?\d+)\s*,\s*"
        r"Window\.unboundedFollowing"
    )
    bad = []
    for p in sorted(pkg.rglob("*.py")):
        text = p.read_text()
        for m in banned.finditer(text):
            start = text[: m.start()].count("\n") + 1
            # whole-partition frames pass a negative-infinity start and
            # never match (currentRow / literal offsets only)
            bad.append(f"{p.relative_to(pkg)}:{start}")
    assert not bad, f"tail-rescan window frame(s): {bad}"


def test_round14_c211_jpeg_decode_plan_shape(spark, sf_dir):
    """c211: the JPEG decode pipeline is FileScan(doc_id only) →
    mapInPandas(synthesize) → mapInPandas(stats) — column-pruned to
    the one needed column, zero exchanges, zero joins; decode
    parallelism is the scan's own partitioning (the multimodal scale
    contract)."""
    p = _plan(spark, sf_dir, "c211_jpeg_decode_stats")
    assert "Exchange" not in _sans_rebalance(p)
    assert "CartesianProduct" not in p
    assert p.count("MapInPandas") == 2
    assert "ReadSchema: struct<doc_id:bigint>" in p  # payload never scanned
