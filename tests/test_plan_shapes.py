"""Physical-plan regression tests: the scale posture is part of the spec.

A correctness-green query that stops broadcasting its dims or stops
pushing filters into the scan is a regression at 100 TB even though every
row still comes out right — so the expected plan shapes are pinned here.
"""

from __future__ import annotations

from healthcare_data_warehouse_spark.plans import catalog

from conftest import SF_SMOKE


def _plan(spark, name: str) -> str:
    df = catalog.queries()[name](spark, SF_SMOKE)
    return df._jdf.queryExecution().executedPlan().toString()


def test_fact_dim_joins_broadcast(spark):
    plan = _plan(spark, "join_fact_dims")
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan


def test_filter_pushdown_reaches_scan(spark):
    plan = _plan(spark, "topk_highcost")
    assert "GreaterThan(o_totalprice,400000.0)" in plan


def test_point_lookup_pushdown(spark):
    plan = _plan(spark, "point_lookup")
    assert "EqualTo(c_custkey,42)" in plan


def test_column_pruning_join_3way(spark):
    plan = _plan(spark, "join_3way")
    # lineitem scan must read only the 3 needed columns of 11
    assert "struct<l_orderkey:bigint,l_extendedprice:double,l_discount:double>" in plan


def test_topk_uses_take_ordered(spark):
    plan = _plan(spark, "topk_highcost")
    assert "TakeOrderedAndProject" in plan


def test_surrogate_keys_never_single_partition_window(spark):
    plan = _plan(spark, "window_rownumber_keys")
    assert "SinglePartition" not in plan


def test_global_pct_window_runs_on_aggregated_input(spark):
    # the W1 global window is allowed only above an Aggregate (tiny input)
    df = catalog.queries()["window_pct_of_total"](spark, SF_SMOKE)
    logical = df._jdf.queryExecution().optimizedPlan().toString()
    assert "Aggregate" in logical


def test_anti_join_is_broadcast_or_hash(spark):
    plan = _plan(spark, "antijoin_incremental")
    assert "LeftAnti" in plan


# ---------------------------------------------------------------------------
# No forced broadcasts of scaling relations (VERDICT r01 "What's wrong" #1/#2).
#
# With autoBroadcastJoinThreshold=-1 we simulate the 100 TB regime where no
# scaling relation fits in memory: any BroadcastHashJoin remaining in the
# plan can only come from an explicit F.broadcast hint. The queries below
# join customer/supplier/part/doclen/df_map — all of which grow with the
# data — so their plans must degrade gracefully to shuffle joins.
# Bounded-relation hints (1-row scalar aggregates, nation) surface as
# BroadcastNestedLoopJoin on a 1-row Aggregate and are still allowed.
# ---------------------------------------------------------------------------

import contextlib


@contextlib.contextmanager
def _no_auto_broadcast(spark):
    keys = ("spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold")
    saved = {k: spark.conf.get(k, None) for k in keys}
    for k in keys:
        spark.conf.set(k, "-1")
    try:
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


SCALING_JOIN_QUERIES = [
    "join_fact_dims",      # supplier, part
    "join_3way",           # customer
    "privacy_t_close",     # customer
    "provider_utilization",  # supplier
    "patient_history",     # customer (key-filtered, but no hint either)
    "highcost_above_p90",  # customer (p90 scalar broadcast stays, is BNLJ)
    "text_tfidf",          # doclen (per-doc), df_map (vocabulary)
]


def test_no_forced_broadcast_of_scaling_relations(spark):
    with _no_auto_broadcast(spark):
        for name in SCALING_JOIN_QUERIES:
            plan = _plan(spark, name)
            assert "BroadcastHashJoin" not in plan, (
                f"{name}: forced broadcast hint on a scaling relation "
                f"survives autoBroadcastJoinThreshold=-1"
            )


def test_star_fact_build_no_forced_broadcast(spark):
    from healthcare_data_warehouse_spark.plans.star import fact_orders

    # The surrogate-key stage persists an intermediate; a cached fragment
    # built by an EARLIER test under the normal broadcast threshold would
    # be substituted here with its stale BroadcastHashJoin inside. Clear
    # so this test sees the plan Catalyst would build at 100 TB.
    spark.catalog.clearCache()
    with _no_auto_broadcast(spark):
        df = fact_orders(spark, SF_SMOKE)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan


def test_scaling_joins_still_broadcast_when_small(spark):
    # The flip side: at small SF, Catalyst's size stats must still pick
    # broadcast for these joins on their own (no hint needed).
    plan = _plan(spark, "join_3way")
    assert "BroadcastHashJoin" in plan


# ---------------------------------------------------------------------------
# Pair-scoring parallelism: blocked_pair_join must be a shuffle-hash join
# (both sides are corpus-sized, so neither may broadcast — and a broadcast
# would leave the pair scoring on the probe side's scan partitioning, i.e.
# ONE task for a one-file corpus), and the CPU-heavy signature pipelines
# must keep their pinned spread exchange so a one-file scan can't
# single-thread the tokenize/shingle stage.
# ---------------------------------------------------------------------------


def test_blocked_pair_join_is_shuffle_hash(spark):
    for name in ("dedup_ngram_jaccard",):
        plan = _plan(spark, name)
        assert "ShuffledHashJoin" in plan, f"{name}: pair join not shuffle-hash"
        assert "BroadcastHashJoin" not in plan, (
            f"{name}: corpus-sized pair-join side got broadcast"
        )


def test_embedding_cosine_pairs_quadratic_stage_is_gemm(spark):
    # The candidate-scoring stage must be the grouped-Arrow GEMM
    # (FlatMapGroupsInPandas over chunk pairs), never a join that
    # materializes candidate PAIRS as rows: no pair-join operator of any
    # kind may appear upstream of the pandas stage. The only joins in the
    # plan are the survivor re-score lookups (survivor-set sized, AQE
    # picks their strategy), which sit DOWNSTREAM of the pandas node.
    plan = _plan(spark, "dedup_embedding_cosine")
    assert "FlatMapGroupsInPandas" in plan, "GEMM prescreen stage missing"
    pandas_pos = plan.index("FlatMapGroupsInPandas")
    upstream = plan[pandas_pos:]  # formatted plans print leaves last
    for op in ("CartesianProduct", "BroadcastNestedLoopJoin"):
        assert op not in plan, f"unbounded pair materialization: {op}"
    assert "SortMergeJoin" not in upstream and "ShuffledHashJoin" not in upstream, (
        "candidate pairs materialized by a join upstream of the GEMM stage"
    )


def test_signature_pipelines_keep_pinned_spread(spark):
    for name in ("dedup_minhash_lsh", "dedup_simhash", "text_tfidf",
                 "text_token_stats", "multimodal_features"):
        plan = _plan(spark, name)
        assert "REPARTITION_BY_NUM" in plan, (
            f"{name}: pinned spread repartition missing — CPU-heavy stage "
            f"would run on the scan's (possibly single) partitions"
        )


def test_runtime_bloom_filter_injected_for_selective_dim(spark):
    # With broadcast off (the 100 TB case: dim too big to broadcast), a
    # selective dim filter must still reach the fact SCAN as an injected
    # bloom filter on the join key — Spark's runtime filter, enabled in
    # session.py. Thresholds lowered to local-data sizes for the probe.
    import contextlib

    from healthcare_data_warehouse_spark.sources.loaders import load_table

    @contextlib.contextmanager
    def lowered(k, v):
        saved = spark.conf.get(k, None)
        spark.conf.set(k, v)
        try:
            yield
        finally:
            spark.conf.set(k, saved) if saved is not None else spark.conf.unset(k)

    from pyspark.sql import functions as F

    with _no_auto_broadcast(spark), \
         lowered("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "1KB"), \
         lowered("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB"):
        li = load_table(spark, SF_SMOKE, "lineitem")
        s = load_table(spark, SF_SMOKE, "supplier").filter(
            F.col("s_acctbal") > 9000)  # selective build side
        joined = li.join(s, li["l_suppkey"] == s["s_suppkey"]).select(
            "l_orderkey", "s_name")
        plan = joined._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter" in plan.lower(), (
            "runtime bloom filter not injected into the fact side"
        )


def test_cdc_diff_single_keyed_join_no_nested_loop(spark):
    import re

    plan = _plan(spark, "cdc_orders_diff")
    # full-outer can't broadcast: exactly one keyed shuffle join, never a
    # BroadcastNestedLoopJoin (the O(n*m) failure mode of outer joins)
    keyed = re.findall(r"(SortMergeJoin|ShuffledHashJoin) .*FullOuter", plan)
    assert len(keyed) == 1, plan[:500]
    assert "BroadcastNestedLoopJoin" not in plan


def test_inverted_index_and_vocab_topk_no_global_sort(spark):
    for name in ("inverted_index", "vocab_bigrams"):
        plan = _plan(spark, name)
        assert "TakeOrderedAndProject" in plan, name


def test_winsorize_band_join_broadcasts(spark):
    # the per-group band table is group-cardinality rows -> must broadcast
    plan = _plan(spark, "winsorize_costs")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_split_assignment_is_narrow(spark):
    plan = _plan(spark, "split_train_val_test")
    assert "Exchange" not in plan  # pure projection: no shuffle at all


def test_asof_attribution_single_user_shuffle_no_range_join(spark):
    """The as-of attribution must be the union+window formulation: one
    hash partitioning on user_id, no BroadcastNestedLoopJoin / cartesian
    range join (whose pair count explodes with the lookback)."""
    plan = _plan(spark, "attribution_last_touch")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "hashpartitioning(user_id" in plan


def test_grouping_sets_single_scan_expand(spark):
    """All four grouping levels come from ONE orders scan through one
    Expand — not a union of per-level aggregates re-scanning the fact."""
    plan = _plan(spark, "agg_grouping_sets")
    assert plan.count("Expand") >= 1
    assert plan.count("Location: InMemoryFileIndex [file:%s/orders.parquet]"
                      % SF_SMOKE) <= 1 or plan.count("orders.parquet") <= 2


def test_containment_pair_join_is_key_equi_join(spark):
    """Candidate pairing joins on the blocking key (lang) — hash/sort
    join with an equi-condition, never a nested-loop over the corpus."""
    plan = _plan(spark, "dedup_containment")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_calendar_spine_join_no_shuffle_of_daily_side_twice(spark):
    """Gap-fill spine join: no nested loop; the explode spine is tiny and
    joined by key."""
    plan = _plan(spark, "timeseries_gapfill")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dpp_prunes_partitioned_fact_scan(spark):
    """The year-dim join must reach the partitioned orders scan as a
    runtime partition filter (dynamic partition pruning) — without it
    the fact scan reads every year directory."""
    plan = _plan(spark, "scan_partitioned_dpp")
    assert "dynamicpruning" in plan, plan[:800]


def test_q17_window_reuses_join_partitioning(spark):
    """The per-part avg window runs on the join's existing l_partkey
    hash partitioning: exactly one l_partkey exchange in the whole
    plan, i.e. decorrelation costs no second shuffle."""
    plan = _plan(spark, "part_qty_threshold")
    assert plan.count("hashpartitioning(l_partkey") == 1, plan[:800]


def test_q21_rewrite_scans_lineitem_once(spark):
    """The EXISTS/NOT-EXISTS double self-join is rewritten as one
    aggregation — the biggest table must appear exactly once."""
    plan = _plan(spark, "late_supplier_ranking")
    assert plan.count("lineitem.parquet") == 1, plan[:800]
    assert "TakeOrderedAndProject" in plan  # top-100 without global sort


def test_q22_anti_join_and_bounded_scalar_broadcast(spark):
    plan = _plan(spark, "inactive_rich_customers")
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_q8_only_bounded_dims_stay_broadcast(spark):
    """With size-based auto-broadcast disabled, only the explicitly
    size-gated broadcasts survive: the three forced hints on genuinely
    bounded relations (nation x2, region) plus the semi_reduce key-set
    (gated on its own measured 64 MB cap, not the session threshold);
    customer/supplier joins fall back to shuffle joins."""
    with _no_auto_broadcast(spark):
        plan = _plan(spark, "market_share_by_year")
        assert plan.count("BroadcastHashJoin") == 4, plan[:800]
        assert "LeftSemi" in plan, plan[:800]


def test_q8_part_reduction_is_broadcast_semi(spark):
    """The PROMO part filter is predicate-only (no part column in the
    output), so the fact must never shuffle on l_partkey: the reduction
    plans as a broadcast LEFT SEMI on the projected key set (r9 — the
    inner-join form fell off AQE's broadcast threshold at sf60 and
    shuffled 5.7x the bytes for 2x the data), with the regime stamped."""
    from healthcare_data_warehouse_spark import decisions

    decisions.drain()
    plan = _plan(spark, "market_share_by_year")
    assert "LeftSemi" in plan, plan[:800]
    stamped = decisions.drain().get("market_share_by_year", {})
    assert str(stamped.get("semi_reduce[l_partkey]", "")).startswith(
        "broadcast:")


def test_semi_reduce_gate_refuses_oversized_key_sets(spark):
    """semi_reduce broadcasts the projected key set only while its
    width-scaled estimate fits the cap; above it (the 100 TB regime —
    billions of keys) it falls back to a shuffle semi, stamped."""
    from healthcare_data_warehouse_spark import decisions
    from healthcare_data_warehouse_spark.operators.skew import semi_reduce

    fact = spark.range(100).withColumnRenamed("id", "fk")
    keys = spark.range(50).withColumnRenamed("id", "k")
    decisions.drain()
    # with auto-broadcast off, the only possible broadcast is our hint —
    # its absence proves the gate refused (Catalyst may still broadcast
    # a genuinely tiny refused side on its own, which is fine)
    with _no_auto_broadcast(spark):
        out = semi_reduce(fact, keys, "fk", "k", cap_bytes=1)
        assert "BroadcastHashJoin" not in out._jdf.queryExecution() \
            .sparkPlan().toString()
        assert str(decisions.drain()["<anonymous>"]["semi_reduce[fk]"]) \
            .startswith("shuffle:")
        assert out.count() == 50  # semantics identical across regimes


def test_spread_width_scales_with_relation_size(spark):
    """spread() sizes its pinned exchange by input bytes (~8 MB/task,
    cap 4096) — the fix for the sf60 duplicated_spans sort spill
    (4.9 GB at width 32, zero when the post-explode runs fit memory).
    The floor is data-derived too (r11): min(defaultParallelism,
    est // 64 KB), so a byte-tiny input no longer fans one task per
    core, while anything >= cores x 64 KB keeps the full core fan-out."""
    from healthcare_data_warehouse_spark.operators import skew

    dp = spark.sparkContext.defaultParallelism
    small = spark.range(1000).withColumnRenamed("id", "k")
    # tiny input (est ~8 KB < 64 KB): ONE task, not one per core
    assert skew.spread(small, "k").rdd.getNumPartitions() == 1
    big = small  # reuse the tiny df; fake the size probe instead of real GBs
    orig = skew.relation_size_bytes
    try:
        # >= cores x 64 KB: the full defaultParallelism floor holds
        skew.relation_size_bytes = lambda df: dp * (64 << 10)
        assert skew.spread(big, "k").rdd.getNumPartitions() == dp
        skew.relation_size_bytes = lambda df: 1 << 30  # 1 GiB -> 128 tasks
        assert skew.spread(big, "k").rdd.getNumPartitions() == \
            max(dp, (1 << 30) // (8 << 20))
        skew.relation_size_bytes = lambda df: 1 << 50  # absurd -> capped
        assert skew.spread(big, "k").rdd.getNumPartitions() == 4096
    finally:
        skew.relation_size_bytes = orig


def test_cross_source_overlap_dedups_before_join(spark):
    """Fingerprints are distinct-ed before the self-join (the funnel
    shrink), and the pairing is a key equi-join — never a nested loop."""
    plan = _plan(spark, "cross_source_overlap")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # two aggregates for the distinct (partial+final) precede the join
    assert plan.count("HashAggregate") >= 2


def test_norm_outliers_scalar_moments_broadcast(spark):
    """The corpus moments are a 1-row aggregate joined by broadcast —
    bounded forever; the per-vector side never re-shuffles for it."""
    plan = _plan(spark, "embedding_norm_outliers")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_merge_into_single_full_outer_coshuffle(spark):
    """MERGE evaluates the whole decision table in ONE keyed full-outer
    join — no anti-join + union double pass, no nested loop."""
    import re

    plan = _plan(spark, "merge_orders_cdc")
    keyed = re.findall(r"(SortMergeJoin|ShuffledHashJoin).*FullOuter", plan)
    assert len(keyed) == 1, plan[:600]
    assert "BroadcastNestedLoopJoin" not in plan


def test_q2_argmin_no_join_back(spark):
    """The per-part argmin is min(struct(...)) in the aggregate itself —
    no re-join of the min back onto the detail, so the biggest table
    appears once and nothing degenerates to a nested loop."""
    plan = _plan(spark, "min_cost_supplier")
    assert plan.count("lineitem.parquet") == 1, plan[:800]
    assert "CartesianProduct" not in plan
    assert "min(struct(unit_cost" in plan


def test_q19_disjunction_pushes_per_side_supersets(spark):
    """The OR-of-ANDs join residual must yield pushable supersets on
    BOTH scans: brand/size OR-reduction on part, quantity range union
    on lineitem — neither side may scan unfiltered."""
    plan = _plan(spark, "promo_disjunctive_revenue")
    assert "PushedFilters: [IsNotNull(p_partkey), Or(Or(And(EqualTo(p_brand,Brand#12)" in plan
    assert "Or(Or(And(GreaterThanOrEqual(l_quantity,1.0)" in plan


def test_q20_window_over_aggregated_pairs_only(spark):
    """The per-part total is a window over the ALREADY-AGGREGATED
    (part, supplier) relation — the l_partkey re-shuffle moves pair
    rows, never raw lineitem; supplier enrich joins after the
    dominance filter."""
    import re

    plan = _plan(spark, "excess_qty_suppliers")
    assert plan.count("lineitem.parquet") == 1, plan[:800]
    # exactly one SINGLE-key l_partkey exchange (the window's), fed by
    # the composite-key aggregate — pair rows, not raw lineitem
    single = re.findall(r"hashpartitioning\(l_partkey#\d+L, \d+\)", plan)
    assert len(single) == 1, plan[:800]


def test_zorder_is_pure_codegen(spark):
    """The Morton interleave must stay native (higher-order aggregate
    over a bit sequence) — no Python evaluation anywhere in the plan."""
    plan = _plan(spark, "layout_zorder")
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "shiftleft" in plan


def test_dedup_canonical_no_quadratic_join(spark):
    """Pair generation and component propagation are keyed equi-joins
    end to end — a corpus-scale nested loop anywhere here is the
    difference between hours and never-finishes."""
    plan = _plan(spark, "dedup_cluster_canonical")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q10_topk_is_heap_not_global_sort(spark):
    """Top-20 disputed-billing customers must be per-partition heaps
    (TakeOrderedAndProject), never a full sort of the grouped output."""
    plan = _plan(spark, "returns_revenue_topk")
    assert "TakeOrderedAndProject" in plan, plan[:600]
    assert plan.count("lineitem.parquet") == 1


def test_q7_symmetric_or_stays_broadcast_local(spark):
    """The bilateral OR residual spans both nation roles but each
    side's IN-superset pushes to the bounded nation scans — the
    residual must evaluate on broadcast joins, adding no shuffle."""
    plan = _plan(spark, "bilateral_trade_volume")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan
    # nation scans are pre-filtered to the pair before broadcast
    assert "In(n_name, [NATION_1,NATION_2])" in plan, plan[:800]


def test_q5_local_commerce_constraint_no_nested_loop(spark):
    """The extra s_nationkey = c_nationkey equality rides the supplier
    equi-join as a residual — the plan must stay all-equi-join."""
    plan = _plan(spark, "regional_nation_revenue")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q16_not_in_is_anti_join_before_distinct(spark):
    """The NOT-IN exclusion list must compile to a LEFT ANTI join (never
    a collected driver-side list), running BEFORE the count-distinct so
    excluded suppliers never enter the distinct state."""
    plan = _plan(spark, "part_supplier_variety")
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_remaining_tpch_shapes_all_equi_join(spark):
    """Q3/Q9/Q12/Q14 analogs: all joins keyed, dates pruned at the scan."""
    for name in ("unshipped_priority_topk", "nation_profit_by_year",
                 "priority_shipping_stats", "promo_revenue_share"):
        plan = _plan(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
    assert "TakeOrderedAndProject" in _plan(spark, "unshipped_priority_topk")


def test_substring_spans_two_data_shuffles_no_cartesian(spark):
    # duplicated_spans promises: gram-keyed dup-count agg + semijoin, doc-keyed
    # islands/agg — hash-partition exchanges only, never a cartesian or
    # a single-partition global window over the occurrence relation.
    plan = _plan(spark, "dedup_substring_spans")
    assert "CartesianProduct" not in plan
    # No PLANNER-forced single-partition shuffle (a global window over
    # the occurrence relation would plan `Exchange SinglePartition,
    # ENSURE_REQUIREMENTS`). A user spread() that sized itself to ONE
    # partition because the input is byte-tiny (r11: width floor is
    # data-derived, est//64KB at test SF) prints `SinglePartition,
    # REPARTITION_BY_NUM` and is the intended layout, not the bug this
    # test exists to catch.
    assert "SinglePartition, ENSURE_REQUIREMENTS" not in plan
    # three keyed data shuffles (spread() CPU re-partition, gram
    # dup-count window, doc islands); the spread subtree feeds both join
    # sides, so the initial plan may print its exchange twice before
    # AQE's ReusedExchange dedupes it at runtime. The only other
    # exchange is the broadcast for the per-doc join-back. (The spread
    # exchange may print as SinglePartition at tiny SF — count it as a
    # keyed data shuffle: REPARTITION_BY_NUM is user-pinned.)
    import re
    exchanges = re.findall(r"Exchange (\w+)", plan)
    n_keyed = exchanges.count("hashpartitioning") + sum(
        1 for m in re.finditer(r"Exchange SinglePartition, REPARTITION_BY_NUM",
                               plan))
    assert n_keyed in (3, 4)
    assert all(k in ("hashpartitioning", "HashedRelationBroadcastMode",
                     "SinglePartition")
               for k in exchanges)
    assert "rangepartitioning" not in plan


def test_join_3way_bucketed_fact_join_is_exchange_free(spark):
    """The bucketed-layout variant's big join (lineitem⋈orders) must run
    bucket-local: zero Exchange and zero Sort anywhere below the
    per-customer aggregate, in BOTH join regimes — broadcast (small SF)
    and the 100 TB SortMergeJoin regime (no-auto-broadcast), where the
    co-bucketed pre-sorted files make SMJ exchange-free AND sort-free.
    Total exchanges stay at exactly 2 (per-customer partials + the
    5-group final), in both regimes."""
    import re

    # small-SF regime: whatever Catalyst picks, the fact join adds no
    # exchange — only the two aggregate exchanges exist
    plan = _plan(spark, "join_3way_bucketed")
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 2
    assert len(re.findall(r"\bSort \[", plan)) == 0

    with _no_auto_broadcast(spark):
        plan = _plan(spark, "join_3way_bucketed")
        assert "SortMergeJoin [l_orderkey" in plan  # 100 TB regime engaged
        # the bucketed fact sides contribute ZERO exchange and ZERO sort:
        # the only additions vs the broadcast regime are the
        # customers-sized SMJ's exchange+sorts (bounded by |customer|)
        assert "Sort [l_orderkey" not in plan
        assert "Sort [o_orderkey" not in plan
        assert len(re.findall(r"Exchange hashpartitioning", plan)) == 3
        assert len(re.findall(r"\bSort \[", plan)) == 2


def test_order_size_histogram_per_order_agg_is_exchange_free(spark):
    """The second bucketed-layout consumer: the fact-wide per-order
    count aggregates bucket-locally (zero exchange below it); the only
    shuffle is the ~7-row histogram reduce."""
    import re

    plan = _plan(spark, "order_size_histogram")
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1
    # and that one exchange is keyed on the HISTOGRAM bucket, not the
    # order key — the fact never shuffles
    m = re.search(r"Exchange hashpartitioning\((\w+)", plan)
    assert m and m.group(1).startswith("lines_per_order"), plan[:1500]


def test_size_gated_operators_record_their_regime(spark, monkeypatch):
    """The decisions log is the contract the bench provenance relies on:
    building join_3way must record which plan regime was chosen and the
    measured size it was chosen FROM (at smoke scale with auto-routing
    disabled: direct, below the cutover); the bucketed variant records
    its layout tables; and with the layout present, join_3way's
    auto-route stamps `bucketed` + `routed_from`."""
    from healthcare_data_warehouse_spark import config, decisions

    monkeypatch.setattr(config, "BUCKETED_AUTO_ROUTE", False)
    decisions.drain()
    catalog.queries()["join_3way"](spark, SF_SMOKE)
    got = decisions.drain()
    d = got["join_3way"]
    assert d["plan"] == "direct"
    assert 0 < d["relation_size_bytes"] <= d["cutover_bytes"]

    catalog.queries()["join_3way_bucketed"](spark, SF_SMOKE)
    got = decisions.drain()
    assert got["join_3way_bucketed"]["plan"] == "bucketed"
    assert len(got["join_3way_bucketed"]["tables"]) == 2

    monkeypatch.setattr(config, "BUCKETED_AUTO_ROUTE", True)
    catalog.queries()["join_3way"](spark, SF_SMOKE)
    got = decisions.drain()
    d = got["join_3way"]
    assert d["plan"] == "bucketed"
    assert d["routed_from"] == "join_3way"


def test_vocab_bigrams_hash_aggregates(spark):
    """String group KEYS are HashAggregate-safe; string aggregation
    BUFFERS are not — a first(string) payload once demoted both bigram
    aggregates to SortAggregate, i.e. a full per-partition sort of every
    exploded occurrence (2.2x wall per 1.67x data at the sf100 step with
    exactly-linear shuffle bytes). Pin the hash shape."""
    plan = _plan(spark, "vocab_bigrams")
    assert "SortAggregate" not in plan
    assert "HashAggregate" in plan


def test_profile_has_no_sorted_aggregate_phase(spark):
    """Profiling min/max(string) + count_distinct in ONE grouped phase
    sorts the whole fact per string column; the two-phase value-
    histogram shape keeps every keyed aggregate a HashAggregate. The
    keyless final rollup may plan as SortAggregate (var-len buffers) —
    that is fine because with no grouping key it needs NO Sort; what is
    pinned is the absence of any actual Sort under the profile."""
    df = catalog.queries()["profile_lineitem"](spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    import re
    assert not re.search(r"\bSort \[", plan), plan[:2000]


def test_join_3way_sums_revenue_in_long_limbs(spark, monkeypatch):
    """The direct regime's revenue sum runs on ``dec_sum``'s int64 limbs:
    no partial aggregate sums a ``cast(... as decimal(18,4))`` (a
    ``BigDecimal`` per lineitem row), and every partial sum buffer is a
    bigint (a decimal sum buffer would carry an ``isEmpty`` flag)."""
    import re

    from healthcare_data_warehouse_spark import config, decisions

    monkeypatch.setattr(config, "BUCKETED_AUTO_ROUTE", False)
    decisions.drain()
    plan = _plan(spark, "join_3way")
    assert decisions.drain()["join_3way"]["plan"] == "direct"
    assert not re.search(
        r"partial_sum\(cast\([^\]]*? as decimal\(18,4\)\)\)", plan)
    partial = next(line for line in plan.splitlines()
                   if "partial_sum(" in line)
    buffers = re.search(r"output=\[([^\]]*)\]", partial).group(1).split(", ")
    sums = [b for b in buffers if b.startswith("sum#")]
    assert len(sums) == 3 and all(b.endswith("L") for b in sums), buffers
    assert "isEmpty" not in partial


def test_window_count_computed_once_per_spec(spark):
    """Spark plans one window function per reference to a window
    expression (no dedupe), so a builder that names ``count(*) over w``
    twice counts every partition twice. The W3 features and the ML
    feature query select the count once and divide above the window."""
    import re
    from collections import Counter

    for name in ("window_patient_features", "ml_features"):
        plan = _plan(spark, name)
        specs = Counter(re.findall(
            r"count\(1\) (windowspecdefinition\(.*?specifiedwindowframe)", plan))
        assert specs and set(specs.values()) == {1}, (name, specs)
