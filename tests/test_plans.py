"""Physical-plan audits: assert the scale-critical plan properties hold,
so a regression that silently de-optimizes a query (lost pushdown, lost
broadcast, accidental cartesian product) fails CI — not a 100 TB run.

These inspect the *executed* plan string (`.explain("formatted")`
equivalent) at sf0.001; plan shape is scale-factor-independent for the
static properties asserted here (AQE may further improve them at runtime).
"""

from __future__ import annotations

import pytest

from hippo_claim_crossover_spark.plans import ALL_SPECS

SF_DIR = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    df = ALL_SPECS[name].fn(spark, SF_DIR)
    return df._jdf.queryExecution().executedPlan().toString()


def test_scan_pushes_filter_and_prunes_columns(spark):
    plan = _plan(spark, "q_scan")
    # The shipdate predicate must reach the parquet reader...
    assert "PushedFilters: [" in plan
    assert "l_shipdate" in plan.split("PushedFilters:")[1].split("]")[0]
    # ...and the scan must read only the 4 projected columns.
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_extendedprice" not in read_schema
    assert "l_quantity" in read_schema


def test_project_rename_prunes_unused_columns(spark):
    plan = _plan(spark, "q_project_rename")
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "c_acctbal" in read_schema


def test_filter_eq_pushes_both_predicates(spark):
    plan = _plan(spark, "q_filter_eq")
    pushed = plan.split("PushedFilters:")[1].split("]")[0]
    assert "o_orderstatus" in pushed and "o_orderpriority" in pushed


def test_broadcast_dims_are_broadcast(spark):
    for name in ("q_join_broadcast", "q_crossover"):
        plan = _plan(spark, name)
        assert "BroadcastHashJoin" in plan, name
        assert "CartesianProduct" not in plan, name


def test_crossover_aggregates_below_header_join(spark):
    """The per-claim aggregate must sit under the orders join (shuffle one
    row per claim, not every line) — the aggregate-before-join rewrite."""
    plan = _plan(spark, "q_crossover")
    agg_pos = plan.find("HashAggregate")
    # the orders-side join appears above (earlier in the string = higher in
    # the tree root-first rendering): the LAST HashAggregate (partial, over
    # lineitem) must come before any o_custkey join reference below it.
    assert agg_pos != -1
    assert "HashAggregate" in plan
    lineitem_scan = plan.rfind("lineitem.parquet")
    last_agg = plan.rfind("HashAggregate")
    assert last_agg < lineitem_scan, \
        "expected partial aggregate directly above the lineitem scan"


def test_dedup_exact_shuffles_digest_not_text(spark):
    """The exact-dedup exchange must partition on the md5 digest — a
    text-keyed groupBy would ship every document body through the
    shuffle at 100 TB."""
    plan = _plan(spark, "q_dedup_exact")
    assert "hashpartitioning(content_hash" in plan
    assert "hashpartitioning(text" not in plan


def test_ngram_shingle_table_materialized_once(spark):
    """The ngram self-join must read ONE materialization of the shingle
    table per side (the lazy localCheckpoint in ngram_jaccard_pairs) —
    twice now (r2, r4-adjacent) a plan change re-derived the shingle
    pipeline (split → transform → array_join → array_distinct → xxhash64)
    inside the join, multiplying the most expensive expression in the
    query by 4-6×. Pin the fixed shape: both join sides are checkpoint
    RDD scans, and no shingle-pipeline operator appears anywhere in the
    executed plan."""
    plan = _plan(spark, "q_dedup_ngram")
    assert plan.count("Scan ExistingRDD") == 2
    for rederived in ("xxhash64", "array_distinct", "Generate", "FileScan"):
        assert rederived not in plan, f"shingle pipeline re-derived: {rederived}"


def test_dedup_embed_blocks_on_srp_bucket(spark):
    plan = _plan(spark, "q_dedup_embed")
    assert "bucket" in plan
    assert "CartesianProduct" not in plan


def test_bucketed_join_has_zero_exchange(spark):
    """Bucketed lineitem⋈orders + same-key groupBy must plan with no
    Exchange anywhere — the bucket layout replaces both the join shuffle
    and the aggregation shuffle."""
    plan = _plan(spark, "q_join_bucketed")
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan


def test_salted_join_shuffles_on_salt(spark):
    """The salted join must actually shuffle on (event_type, _salt) — if
    the dim slips onto the broadcast path the skew spreading being
    demonstrated never runs."""
    plan = _plan(spark, "q_join_salted")
    assert "_salt" in plan
    assert "hashpartitioning(event_type" in plan


def test_part_prune_eliminates_partitions_at_listing_time(spark):
    """The event_type filter must land in PartitionFilters (directory
    elimination before any footer read), not just PushedFilters — and the
    pruned scan must select 2 of the 5 type partitions."""
    plan = _plan(spark, "q_part_prune")
    pf = plan.split("PartitionFilters:")[1].split("]")[0]
    assert "event_type" in pf
    # the partition column never appears as a data-filter on the scan
    assert "SelectedBucketsCount" not in pf


def test_histogram_eq_has_no_global_window_sort(spark):
    """The equi-depth histogram must NOT rank via a global window (an
    Exchange to a single partition of the whole table): the distributed
    ntile shape is a range shuffle (TeraSort-style) + per-partition
    window + broadcast offsets. Single-partition exchanges may remain on
    the tiny counts/total aggregate sides only."""
    plan = _plan(spark, "q_histogram_eq")
    assert "ntile" not in plan                     # no window ntile at all
    assert "rangepartitioning(o_totalprice" in plan  # distributed sort
    assert "_pid" in plan                          # per-partition ranking


def test_topk_uses_takeordered_not_global_sort(spark):
    plan = _plan(spark, "q_topk")
    assert "TakeOrderedAndProject" in plan


def test_agg_multi_has_partial_and_final_aggregate(spark):
    plan = _plan(spark, "q_agg_multi")
    assert plan.count("HashAggregate") >= 2  # partial + final


@pytest.mark.parametrize("name", sorted(
    n for n in ALL_SPECS
    # brute-force similarity baselines intentionally cross-join at small sf
    # (the LSH/blocked variants are the scale path); q_sim_topk broadcasts
    # a single query vector, which plans as BroadcastNestedLoopJoin.
    if n not in ("q_sim_topk",)
))
def test_no_accidental_cartesian_products(spark, name):
    plan = _plan(spark, name)
    assert "CartesianProduct" not in plan, name


def test_gate_order_is_explicit_and_complete():
    """The driver checks the first GATE_WINDOW entries of queries() — the
    emission order must come from the explicit GATE_ORDER list (not module
    import order) and cover every declared query exactly once."""
    from hippo_claim_crossover_spark.plans import (
        ALL_SPECS,
        GATE_ORDER,
        GATE_WINDOW,
    )

    assert list(ALL_SPECS) == GATE_ORDER
    assert len(GATE_ORDER) == len(set(GATE_ORDER))
    assert GATE_WINDOW <= len(GATE_ORDER)


def test_dedup_ngram_computes_shingles_once(spark):
    """The shingle pipeline (split → transform → array_distinct → hash)
    must be materialized once (lazy localCheckpoint) and NOT appear in the
    self-join plan — the round-2/3 regression was this expression being
    re-evaluated 4-6× across the join sides and pushed-down generate
    filters (4.3s vs 0.7s at sf0.1)."""
    plan = _plan(spark, "q_dedup_ngram")
    assert "array_distinct" not in plan, \
        "shingle expression leaked into the self-join plan"
    # both sides read the one checkpointed RDD
    assert "ExistingRDD" in plan


def test_udaf_is_partial_final_two_phase(spark):
    """q_udaf must fold partials in Python *before* the exchange (tiny
    shuffle, bounded worker memory) and finish with a built-in
    HashAggregate — never shuffle whole groups into pandas."""
    plan = _plan(spark, "q_udaf")
    assert "MapInPandas" in plan
    assert "FlatMapGroupsInPandas" not in plan, \
        "whole-group applyInPandas is the OOM-at-scale shape"
    assert "HashAggregate" in plan
    # the exchange must carry the partial schema, not raw lineitem rows
    assert "hashpartitioning(l_returnflag" in plan
    mip = plan.find("MapInPandas")
    exch = plan.find("hashpartitioning(l_returnflag")
    assert exch < mip, "exchange should sit above the Python partial fold"


def test_components_rounds_are_logarithmic(spark):
    """Large-star/small-star must converge in O(log n) rounds on a path
    graph — the adversarial shape where min-label propagation needs n
    rounds. 64-node path ⇒ rounds ≤ log2(64)+2 = 8."""
    import math

    from hippo_claim_crossover_spark.operators.graph import (
        connected_components,
    )

    n = 64
    e = spark.createDataFrame([(i, i + 1) for i in range(1, n)],
                              "src long, dst long")
    stats: dict = {}
    rows = connected_components(e, stats=stats).collect()
    assert len(rows) == n and {r["comp"] for r in rows} == {1}
    assert stats["rounds"] <= math.log2(n) + 2, stats


def test_components_round_plan_has_bounded_shuffles(spark):
    """One large-star+small-star round over a checkpointed edge set must
    *execute* with a bounded number of live exchanges. Small-star
    references its input three times, so without the lazy checkpoint in
    graph._round the large-star join+agg subtree is re-planned per
    reference — 11 live exchanges measured vs ≤7 with it."""
    from hippo_claim_crossover_spark.operators.graph import _round

    e = spark.createDataFrame([(i + 1, i) for i in range(1, 30)],
                              "hi long, lo long").localCheckpoint()
    df = _round(e)
    df.collect()  # finalize this DataFrame's own adaptive plan
    plan = df._jdf.queryExecution().executedPlan().toString()
    live = plan.count("Exchange hashpartitioning") - plan.count(
        "ReusedExchange")
    assert live <= 7, plan
    assert "CartesianProduct" not in plan


def test_whole_stage_codegen_covers_crossover(spark):
    df = ALL_SPECS["q_crossover"].fn(spark, SF_DIR)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "codegen")
    s = df._jdf.queryExecution().explainString(mode)
    assert "WholeStageCodegen" in s


def test_ship_priority_pushes_both_date_filters_and_takeordered(spark):
    """The Q3 composite must push the date windows into both fact scans
    (no post-join filtering of unfiltered scans) and end in TakeOrdered,
    never a global sort."""
    plan = _plan(spark, "q_ship_priority")
    assert "TakeOrderedAndProject" in plan
    pushed = [seg.split("]")[0] for seg in plan.split("PushedFilters: [")[1:]]
    assert any("o_orderdate" in p for p in pushed)
    assert any("l_shipdate" in p for p in pushed)


def test_assoc_rules_aggregates_partially(spark):
    """Pair and part supports must partial-aggregate (map-side combine)
    before their shuffles — the candidate stream never ships raw."""
    plan = _plan(spark, "q_assoc_rules")
    assert plan.count("HashAggregate") >= 4  # partial+final × (pair, part)
    assert "CartesianProduct" not in plan


def test_pagerank_reuses_checkpointed_edges(spark):
    """Every PageRank round must read the ONE checkpointed edge
    materialization (Scan ExistingRDD), never re-run the basket
    self-join — the parquet scan appears zero times below the
    iteration joins. Join strategy is left to AQE (the tiny rank state
    broadcast-izes at runtime); statically we pin reuse + no cartesian."""
    plan = _plan(spark, "q_pagerank")
    # 2 rounds × (edge join + deg join) + deg build all read the checkpoint
    assert plan.count("Scan ExistingRDD") >= 4
    assert "CartesianProduct" not in plan
    assert "AdaptiveSparkPlan" in plan


def test_latest_snapshot_single_shuffle_window(spark):
    """Latest-per-key is ONE hash partitioning on the key + window —
    never a max-ts self-join (which would be two shuffles + a join)."""
    plan = _plan(spark, "q_latest_snapshot")
    assert plan.count("Exchange") == 1
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_scd2_history_single_shuffle_no_join(spark):
    """Both SCD2 windows (lag-change-mark, lead-interval-close) must ride
    ONE hash partitioning on the key — never the naive interval-close
    self-join of the history against itself."""
    plan = _plan(spark, "q_scd2_history")
    assert plan.count("Exchange") == 1
    assert "Join" not in plan


def test_merge_upsert_copartitioned_outer_join(spark):
    """The MERGE full-outer join must reuse the snapshots' user_id
    partitioning: exactly the two snapshot Exchanges, no third exchange
    of either side into the join, and no broadcast of the (unbounded at
    scale) change set."""
    plan = _plan(spark, "q_merge_upsert")
    assert plan.count("Exchange") == 2
    assert "SortMergeJoin" in plan and "FullOuter" in plan
    assert "BroadcastHashJoin" not in plan


def test_join_bloom_prunes_below_the_semi_join(spark):
    """The packed Bloom filter rides a 1-row broadcast (nested-loop, not
    cartesian) BELOW the exact semi join, so pruned probe rows never
    reach the semi-join exchange. This is exactly the shape the
    _bloom_key guard exists to force: without it Catalyst sinks the
    LeftSemi under the Bloom test and the filter becomes dead post-join
    work (the regression this audit pins)."""
    plan = _plan(spark, "q_join_bloom")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    # top-down print order: the semi join must appear BEFORE (= above)
    # the Bloom nested-loop join, and the membership bit test must be
    # part of the BNLJ condition, not a post-semi filter.
    assert plan.index("LeftSemi") < plan.index("BroadcastNestedLoopJoin")
    assert plan.index("LeftSemi") < plan.index("element_at(words")


def test_interval_binned_join_is_equi_not_nested_loop(spark):
    """The binned rewrite must plan the overlap join as a hash/merge
    EQUI-join on the bin key — never the nested-loop/cartesian a raw
    interval theta join degrades to."""
    plan = _plan(spark, "q_join_interval_binned")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Join" in plan


def test_outlier_zscore_broadcasts_stats_not_facts(spark):
    """The 5-row moments table must be the broadcast side; shuffling the
    fact stream on the 5-value event_type column is the skew worst-case
    the plan exists to avoid."""
    plan = _plan(spark, "q_outlier_zscore")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_returned_items_takeordered_and_broadcast_nation(spark):
    """Top-20 must be TakeOrdered (per-partition heap + driver merge of
    20-row heads), never a global Sort materialization; nation is a
    broadcast dim; the revenue aggregate sits under the customer join
    (aggregate-before-join)."""
    plan = _plan(spark, "q_returned_items")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    # aggregate-before-join: both revenue HashAggregates live in the
    # probe-side subtree, which prints BEFORE the customer build side in
    # the root-first rendering — so the last HashAggregate must appear
    # above the customer scan.
    assert plan.rfind("HashAggregate") < plan.find("customer.parquet")


def test_sessionize_single_shuffle(spark):
    """Both windows and the session groupBy share the user_id
    partitioning: one Exchange total."""
    plan = _plan(spark, "q_sessionize")
    assert plan.count("Exchange") == 1


def test_regr_group_partial_aggregation(spark):
    """The sufficient-statistics aggregate must be partial/final (map-side
    combine): two HashAggregates around one Exchange, and the scan must
    read only the three referenced columns."""
    plan = _plan(spark, "q_regr_group")
    assert plan.count("HashAggregate") == 2
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_partkey" not in read_schema
    assert "l_quantity" in read_schema


def test_sql_udf_inlines_no_python_stage(spark):
    """The SQL UDF must dissolve into the plan at resolution time: no
    Python evaluation operator anywhere, and the banding CASE lives
    inside the partial aggregate's project (whole-stage codegen)."""
    plan = _plan(spark, "q_sql_udf")
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "HashAggregate" in plan


def test_lateral_join_decorrelates_to_window_group_limit(spark):
    """The correlated LIMIT-2 lateral subquery must decorrelate into a
    one-pass per-group top-k (WindowGroupLimit) + hash join — never a
    per-outer-row re-execution or a cartesian."""
    plan = _plan(spark, "q_lateral_join")
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan


def test_skyline_local_prefilter_is_arrow_kernel(spark):
    """Phase 1 must be the per-partition Arrow kernel (MapInPandas) —
    the global window only ever sees the survivor set."""
    plan = _plan(spark, "q_skyline")
    assert "MapInPandas" in plan
    assert "CartesianProduct" not in plan


def test_transitions_broadcasts_source_totals(spark):
    """The ≤5-row per-source totals must broadcast back onto the pair
    counts — never a shuffle of the pair table on the 5-value key."""
    plan = _plan(spark, "q_transitions")
    assert "BroadcastHashJoin" in plan


def test_sample_group_rank_is_group_limited(spark):
    """The md5 ranking must carry WindowGroupLimit (top-k pushdown): at
    most k rows per partition survive to the final sort."""
    plan = _plan(spark, "q_sample_group")
    assert "WindowGroupLimit" in plan


def test_matmul_broadcasts_dense_factor(spark):
    """SpMM must broadcast the dense (vocab×topics) factor and shuffle
    only the sparse side; the product aggregate is partial/final."""
    plan = _plan(spark, "q_matmul")
    assert "BroadcastHashJoin" in plan
    assert plan.count("HashAggregate") >= 2


def test_percentile_no_per_group_buffering(spark):
    """q_percentile must compute exact grouped percentiles through the
    distributed rank machinery: no exact `percentile`/`median`
    AGGREGATE (whose reduce-side state is O(rows-per-group) — an OOM on
    a 3-value key at 100×), no single-partition exchange, and a range
    shuffle present (the TeraSort-style distribution of the sort)."""
    plan = _plan(spark, "q_percentile")
    low = plan.lower()
    assert "percentile(" not in low
    assert "median(" not in low
    assert "Exchange SinglePartition" not in plan
    assert "rangepartitioning" in low
    # r10: the range shuffle and window must ride the TIE-COMPRESSED
    # histogram (the checkpointed (group, value, _cnt) frame), not the
    # raw melted rows — the 100x spill fix. _cnt in the range
    # exchange's source and _cum in the straddle probe pin the
    # histogram-CDF shape.
    assert "_cnt" in plan and "_cum" in plan


def test_sample_weighted_is_takeordered(spark):
    """A-ES top-K must compile to TakeOrdered (per-partition heaps +
    driver merge of K rows), never a global sort exchange."""
    plan = _plan(spark, "q_sample_weighted")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_sample_weighted_group_uses_window_group_limit(spark):
    """Per-stratum A-ES top-20 must plan with WindowGroupLimit (the
    k-limit pushed below the window shuffle, bounding per-source rows
    shipped to the 5-key partition column)."""
    plan = _plan(spark, "q_sample_weighted_group")
    assert "WindowGroupLimit" in plan


def test_rag_pipeline_shuffles_digest_not_chunk_text(spark):
    """The chunk-dedup exchange must partition on the md5 digest; chunk
    BODIES must never enter a shuffle (the q_dedup_exact discipline at
    chunk grain)."""
    plan = _plan(spark, "q_rag_pipeline")
    assert "hashpartitioning(chunk_md5" in plan
    assert "WindowGroupLimit" in plan


def test_subq_family_decorrelated_plans(spark):
    """The correlated-subquery family must run as decorrelated joins:
    no per-row subquery artifacts (CartesianProduct except the declared
    1-row broadcast scalars), partial/final aggregation, and broadcast
    scalar sides where declared."""
    # Q17 shape: per-part avg is an equi-join, not a nested subquery.
    plan = _plan(spark, "q_small_qty")
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 4  # partial+final × (avg, brand)
    # Q15 shape: the scalar MAX rides a broadcast, never a driver collect.
    plan = _plan(spark, "q_top_supplier")
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    # Q22 shape: scalar AVG broadcast + LEFT ANTI against pruned orders.
    plan = _plan(spark, "q_idle_customers")
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row scalar
    assert "LeftAnti" in plan
    pushed_all = "".join(seg.split("]")[0]
                         for seg in plan.split("PushedFilters:")[1:])
    assert "o_orderdate" in pushed_all  # date prune reaches the orders scan
    # Q19 shape: ONE lineitem scan (single-pass CASE, not 3 unioned scans).
    plan = _plan(spark, "q_disjunctive")
    assert plan.count("lineitem.parquet") == 1


def test_large_orders_aggregates_before_customer_join(spark):
    """Q18 shape: the HAVING aggregate collapses lineitem to ≤|orders|
    rows before any join touches customer, and top-100 is TakeOrdered."""
    plan = _plan(spark, "q_large_orders")
    assert "TakeOrderedAndProject" in plan
    # root-first rendering: the customer join prints ABOVE (before) the
    # HAVING aggregate that feeds it — aggregate-below-join
    join_pos = plan.find("Join")
    agg_pos = plan.rfind("HashAggregate")
    assert join_pos != -1 and agg_pos != -1
    assert agg_pos > join_pos, "HAVING aggregate must sit below the joins"


def test_pii_redact_is_map_only_before_rollup(spark):
    """PII scrub must be row-local: no shuffle before the per-source
    aggregate (exactly one Exchange in the whole plan)."""
    plan = _plan(spark, "q_pii_redact")
    # one Exchange for the 5-key rollup, plus the t_wide rebalance and
    # the final ORDER BY range exchange (tiny: 20 aggregated rows)
    assert plan.count("Exchange") <= 3
    assert plan.count("hashpartitioning") == 1  # the rollup only
    assert "BatchEvalPython" not in plan  # no Python row UDFs


def test_embed_gram_shuffle_is_d_squared_bounded(spark):
    """The Gram kernel must aggregate per-partition BEFORE the shuffle:
    the only wide exchange carries (i, j, partial) — never raw vectors —
    and the final agg is partial/final."""
    plan = _plan(spark, "q_embed_gram")
    assert "MapInArrow" in plan
    # a partial sum sits between the kernel and the (i, j) exchange
    kernel_pos = plan.find("MapInArrow")
    assert "partial_sum" in plan[:kernel_pos]
    # the wide exchange partitions on the d² cell key, never the vectors
    wide = [ln for ln in plan.splitlines()
            if "hashpartitioning" in ln]
    assert wide and all("embedding" not in ln for ln in wide)


def test_fuzzy_link_dedupes_names_before_pairing(spark):
    """Blocked linkage must pair DISTINCT names (aggregate under the
    self-join), and join on the block key — no cartesian."""
    plan = _plan(spark, "q_fuzzy_link")
    assert "CartesianProduct" not in plan
    # both join sides read the ONE checkpointed distinct-name table
    assert plan.count("Scan ExistingRDD") == 2
    assert "part.parquet" not in plan  # raw parts never enter the join


def test_hof_array_no_shuffle_no_python(spark):
    """The HOF surface is one codegen map pass + TakeOrdered: no Python
    stage, no aggregate Exchange."""
    plan = _plan(spark, "q_hof_array")
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "TakeOrderedAndProject" in plan


def test_winsorize_uses_distributed_rank_not_percentile_buffer(spark):
    """Winsorize boundaries must ride the rank-and-interpolate operator:
    a range shuffle on (group, value), never the exact `percentile`
    aggregate whose reduce state is O(rows/group)."""
    plan = _plan(spark, "q_winsorize")
    assert "percentile" not in plan
    assert "rangepartitioning" in plan
    assert "BroadcastHashJoin" in plan  # 3×2 boundary rows broadcast back


def test_drift_ks_cdf_is_distributed_prefix_sum(spark):
    """Both empirical CDFs must come from the range-shuffled prefix-sum
    operator — a `sum() OVER (ORDER BY value)` with no partition key
    would be an Exchange SinglePartition over the data."""
    plan = _plan(spark, "q_drift_ks")
    assert "rangepartitioning(value" in plan
    assert "_pid" in plan  # per-partition cumsum + broadcast offsets
    # single-partition exchanges may exist only on tiny side tables
    # (per-partition totals, the n1/n2 scalar) — the data path exchange
    # count is bounded
    assert "TakeOrderedAndProject" in plan


def test_join_full_aggregates_before_outer_join(spark):
    """YoY churn must full-outer-join per-customer AGGREGATES: the
    FullOuter join sits above both HashAggregates, and date filters push
    into the orders scans."""
    plan = _plan(spark, "q_join_full")
    assert "FullOuter" in plan
    join_pos = plan.find("FullOuter")
    assert "HashAggregate" in plan[join_pos:]  # aggregates BELOW the join
    pushed_all = "".join(seg.split("]")[0]
                         for seg in plan.split("PushedFilters:")[1:])
    assert "o_orderdate" in pushed_all


def test_gini_ranks_distributed_and_decimal_accumulates(spark):
    """Gini's Σ rank·x must rank via the range-shuffled grouped rank
    (no per-segment single-task window over raw rows) and accumulate in
    DECIMAL(38,0), not a long that overflows at ~1e18."""
    plan = _plan(spark, "q_gini")
    assert "rangepartitioning(c_mktsegment" in plan
    assert "decimal(38,0)" in plan


def test_rolling_7d_windows_over_daily_aggregate_only(spark):
    """The global RANGE-frame window must sit ABOVE the daily aggregate:
    the single-partition exchange sees ≤|days| rows, never raw orders."""
    plan = _plan(spark, "q_rolling_7d")
    sp = plan.find("Exchange SinglePartition")
    assert sp != -1  # the bounded daily window
    # an aggregate exists below the single-partition exchange
    assert "HashAggregate" in plan[sp:]


def test_negative_sample_never_materializes_all_pairs(spark):
    """Candidates must come from the md5-bucket equi-join (users ⋈ items
    on bkt), with the owned set removed via LEFT ANTI — no cartesian,
    and the per-user limit is pushed below the rank shuffle."""
    plan = _plan(spark, "q_negative_sample")
    assert "CartesianProduct" not in plan
    assert "LeftAnti" in plan
    assert "WindowGroupLimit" in plan


def test_target_encode_broadcasts_category_stats(spark):
    """The LOO encoding must broadcast the |categories|-row stats table
    back — never shuffle the fact side for the join."""
    plan = _plan(spark, "q_target_encode")
    assert "BroadcastHashJoin" in plan
    assert "hashpartitioning(o_orderkey" not in plan


def test_subquery_sql_decorrelates_all_four_forms(spark):
    """The verbatim SQL subqueries must all decorrelate: the correlated
    scalar count becomes an aggregate join, EXISTS and IN become semi
    joins, and no per-row subquery (CartesianProduct over facts)
    survives."""
    plan = _plan(spark, "q_subquery_sql")
    assert "CartesianProduct" not in plan
    assert "LeftSemi" in plan           # EXISTS and/or IN
    assert "HashAggregate" in plan      # decorrelated scalar count


def test_not_in_plans_null_aware_anti_join(spark):
    """The NOT IN variants must plan as null-aware anti joins (the NAAJ
    flag on the broadcast LeftAnti), never a per-row subquery."""
    plan = _plan(spark, "q_not_in")
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    # at least one anti join carries the NAAJ flag (trailing ", true")
    assert ", LeftAnti, BuildRight, true" in plan


def test_export_pipeline_single_corpus_scan_feeds_filter_chain(spark):
    """The export composite must scan documents ONCE for the
    filter+scrub+sample chain (the survivor set is checkpointed for its
    two consumers), and the A-ES draw must be TakeOrdered."""
    plan = _plan(spark, "q_export_pipeline")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    # survivors materialized once: downstream reads ExistingRDD scans
    assert plan.count("Scan ExistingRDD") >= 2


def test_join_setsim_prefix_filter_prunes_and_no_cartesian(spark):
    """The exact set-similarity join must generate candidates from the
    PREFIX-token equi-join (strictly fewer candidate pairs than
    all-pairs — losslessness is separately proven by the brute-force
    oracle hash match) and verify row-locally."""
    from pyspark.sql import functions as F

    from hippo_claim_crossover_spark.plans.dedup import SETSIM_T

    plan = _plan(spark, "q_join_setsim")
    assert "CartesianProduct" not in plan
    # checkpointed token-set table feeds prefix build + both verify sides
    assert plan.count("Scan ExistingRDD") >= 2

    # empirical pruning: candidates < all-pairs on the fixture
    from hippo_claim_crossover_spark.plans.base import t_wide
    d = (t_wide(spark, SF_DIR, "documents")
         .where(F.col("source") == "src0"))
    n_docs = d.count()
    all_pairs = n_docs * (n_docs - 1) // 2
    out = ALL_SPECS["q_join_setsim"].fn(spark, SF_DIR)
    n_out = out.count()
    assert 0 < n_out <= all_pairs
    # every emitted pair respects the threshold
    assert out.where(F.col("jaccard") < SETSIM_T).count() == 0

    # PPJoin length/position filters: strictly fewer candidates than the
    # prefix-only AllPairs baseline (measured ~50% at sf0.01/0.1), and
    # lossless — every survivor pair is still generated
    from hippo_claim_crossover_spark.plans.dedup import setsim_candidates
    sets = (d.select("doc_id",
                     F.array_distinct(F.split(F.col("text"), " "))
                     .alias("toks"))
            .localCheckpoint(eager=False))
    n_base = setsim_candidates(sets, use_filters=False).count()
    n_filt = setsim_candidates(sets, use_filters=True).count()
    assert 0 < n_filt < n_base, (n_filt, n_base)
    assert n_filt >= n_out


def test_matmul_dense_factor_gated_broadcast(spark, monkeypatch):
    """q_matmul's dense (vocab x topics) factor: static broadcast below
    the corpus-size gate, shuffle join above it (with AQE free to
    re-promote off runtime stats) — a vocab-sized broadcast is an OOM
    at unpruned web-vocab scale, so the hint must not be unconditional."""
    from hippo_claim_crossover_spark.plans import text as text_mod

    plan = _plan(spark, "q_matmul")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan

    # below the gate the dense factor carries the explicit hint...
    df = ALL_SPECS["q_matmul"].fn(spark, SF_DIR)
    logical = df._jdf.queryExecution().optimizedPlan().toString()
    assert "strategy=broadcast" in logical

    # ...above it the hint must disappear, leaving the join strategy to
    # Catalyst/AQE statistics (which may still choose broadcast when the
    # realized sizes are tiny — as they are at sf0.001 — but will pick
    # the shuffle join off a 100 TB size estimate, never an OOM hint)
    monkeypatch.setattr(text_mod, "_MATMUL_BCAST_BYTES", 0)
    df2 = ALL_SPECS["q_matmul"].fn(spark, SF_DIR)
    logical2 = df2._jdf.queryExecution().optimizedPlan().toString()
    assert "strategy=broadcast" not in logical2


def test_split_leakproof_no_cross_split_pairs_and_bounded_plan(spark):
    """q_split_leakproof: the audit column must be 0 (the guard's whole
    point), splits must partition the corpus, and the plan must stay on
    the audited sub-quadratic components shape (no cartesian product;
    the only nested-loop join is the 1-row audit broadcast)."""
    from pyspark.sql import functions as F  # noqa: F811

    from hippo_claim_crossover_spark.plans.base import t as _t

    df = ALL_SPECS["q_split_leakproof"].fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    rows = {r["split"]: r for r in df.collect()}
    assert set(rows) == {"train", "val", "test"}
    for r in rows.values():
        assert r["cross_split_pairs"] == 0, dict(r.asDict())
    n_total = _t(spark, SF_DIR, "documents").count()
    assert sum(r["n_docs"] for r in rows.values()) == n_total
    # 80/10/10 by buckets of clusters — loose band, deterministic data
    assert rows["train"]["n_docs"] > rows["test"]["n_docs"]
    assert rows["train"]["n_docs"] > rows["val"]["n_docs"]


def test_attribution_aggregates_per_purchase_before_rollup(spark):
    """q_attribution: user-keyed lookback join (never a cartesian), one
    row per purchase before the model/channel rollup, and both models'
    totals must equal the purchase count (every conversion attributed
    exactly once per model)."""
    plan = _plan(spark, "q_attribution")
    assert "CartesianProduct" not in plan
    assert "user_id" in plan  # equi-join key reached the exchange
    rows = ALL_SPECS["q_attribution"].fn(spark, SF_DIR).collect()
    from hippo_claim_crossover_spark.plans.base import t as _t
    from pyspark.sql import functions as F  # noqa: F811
    n_purch = (_t(spark, SF_DIR, "events")
               .where(F.col("event_type") == "purchase").count())
    for model in ("first_touch", "last_touch"):
        got = sum(r["n_conversions"] for r in rows if r["model"] == model)
        assert got == n_purch, (model, got, n_purch)


def test_ohlc_is_single_aggregate_no_window(spark):
    """q_ohlc must plan as ONE partial/final aggregate on (type, hour) —
    no Window operator (a first/last-by-time window would re-sort every
    bucket's rows), no cartesian — and bar invariants must hold."""
    plan = _plan(spark, "q_ohlc")
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 2  # partial + final
    rows = ALL_SPECS["q_ohlc"].fn(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["low"] <= r["open"] <= r["high"], dict(r.asDict())
        assert r["low"] <= r["close"] <= r["high"], dict(r.asDict())


def test_text_strip_html_map_only_and_roundtrips(spark):
    """q_text_strip_html: the wrap+strip must be a single map pass —
    no join anywhere in the plan, one partial/final rollup — and the
    strip must recover the original text for EVERY document (the
    cross-engine oracle only proves Spark==DuckDB; this pins that the
    agreed answer is the right one)."""
    plan = _plan(spark, "q_text_strip_html")
    assert "Join" not in plan
    assert "Window" not in plan
    assert plan.count("HashAggregate") >= 2  # partial + final
    rows = ALL_SPECS["q_text_strip_html"].fn(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["n_roundtrip_exact"] == r["n_docs"], dict(r.asDict())
        assert r["total_links"] >= r["n_docs"] * 2  # home + tos at least
        assert r["markup_chars"] > 0


def test_mm_pairfilter_broadcast_centroid_no_cartesian(spark):
    """q_mm_pairfilter: centroid join must broadcast (|labels|×d rows),
    the dedup stage must block on SRP buckets (no cartesian), and the
    funnel counts must be monotone (pairs ⊇ caption-ok ⊇ coherent ⊇
    final) with every pair accounted for."""
    plan = _plan(spark, "q_mm_pairfilter")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    rows = ALL_SPECS["q_mm_pairfilter"].fn(spark, SF_DIR).collect()
    assert rows
    from hippo_claim_crossover_spark.plans.base import t as _t
    n_emb = _t(spark, SF_DIR, "embeddings").count()
    assert sum(r["n_pairs"] for r in rows) == n_emb
    for r in rows:
        d = dict(r.asDict())
        assert r["n_pairs"] >= r["n_caption_ok"] >= r["n_coherent"], d
        assert r["n_coherent"] == r["n_dropped_dup"] + r["n_final"], d
        assert r["n_final"] >= 0, d


def test_mor_read_single_window_covers_all_keys(spark):
    """q_mor_read: base∪log must resolve through ONE window shuffle on
    the key (never a per-commit self-join), and the read must account
    for every order key exactly once (visible + tombstoned = |orders|),
    with all three commit kinds exercised."""
    plan = _plan(spark, "q_mor_read")
    assert "CartesianProduct" not in plan
    # exactly one Window exec node ("Window [...") — WindowGroupLimit
    # pre-pruning nodes also contain the substring and are welcome
    assert plan.count("Window [") == 1
    rows = ALL_SPECS["q_mor_read"].fn(spark, SF_DIR).collect()
    from hippo_claim_crossover_spark.plans.base import t as _t
    n_orders = _t(spark, SF_DIR, "orders").count()
    assert (sum(r["n_visible"] for r in rows)
            + sum(r["n_tombstoned"] for r in rows)) == n_orders
    assert sum(r["n_tombstoned"] for r in rows) > 0
    assert sum(r["n_patched"] for r in rows) > 0
    assert sum(r["n_late_inserts"] for r in rows) > 0


def test_order_priority_semi_join_residual_predicate(spark):
    """q_order_priority: the EXISTS must stay ONE left-semi join (equi on
    the order key, lateness as a residual on the same join — never a
    second aggregate or a duplicate-inflating inner join), with the
    quarter filter pushed to the orders scan."""
    plan = _plan(spark, "q_order_priority")
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Join") >= 1
    rows = ALL_SPECS["q_order_priority"].fn(spark, SF_DIR).collect()
    assert 0 < len(rows) <= 5
    assert all(r["order_count"] > 0 for r in rows)


def test_cust_order_dist_keeps_zero_order_customers(spark):
    """q_cust_order_dist: the left outer join must keep zero-order
    customers (the whole point of Q13's join-condition filter), the
    distribution must account for every customer exactly once, and the
    plan must stack two partial/final aggregates."""
    from hippo_claim_crossover_spark.plans.base import t as _t

    plan = _plan(spark, "q_cust_order_dist")
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 4  # two partial/final pairs
    rows = ALL_SPECS["q_cust_order_dist"].fn(spark, SF_DIR).collect()
    n_cust = _t(spark, SF_DIR, "customer").count()
    assert sum(r["custdist"] for r in rows) == n_cust
    assert any(r["c_count"] == 0 for r in rows), "zero-order bin missing"


def test_part_supplier_cnt_distinct_before_joins(spark):
    """q_part_supplier_cnt: the supply relation must aggregate to
    DISTINCT (partkey, suppkey) BEFORE the anti/part joins (raw
    lineitems never reach them), and the complaint NOT-IN must plan as
    a broadcast left-anti."""
    plan = _plan(spark, "q_part_supplier_cnt")
    assert "CartesianProduct" not in plan
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan
    rows = ALL_SPECS["q_part_supplier_cnt"].fn(spark, SF_DIR).collect()
    assert rows and all(r["supplier_cnt"] >= 1 for r in rows)
    assert all(r["p_brand"] != "Brand#1" for r in rows)


def test_waiting_supplier_one_grouped_pass_no_double_probe(spark):
    """q_waiting_supplier: both of Q21's correlated EXISTS probes must
    decorrelate into ONE conditional aggregation on the order key — so
    the plan joins lineitem⋈orders once, aggregates once, and touches
    supplier only with the aggregated (≤|supplier|-row) result via
    broadcast."""
    plan = _plan(spark, "q_waiting_supplier")
    assert "CartesianProduct" not in plan
    # lineitem⋈orders + supplier⋈aggregate = exactly two equi joins
    assert plan.count("SortMergeJoin") + plan.count("BroadcastHashJoin") + \
        plan.count("ShuffledHashJoin") == 2
    rows = ALL_SPECS["q_waiting_supplier"].fn(spark, SF_DIR).collect()
    assert rows and all(r["numwait"] >= 1 for r in rows)
    names = [r["s_name"] for r in rows]
    assert len(names) == len(set(names))


def test_nation_trade_prunes_nations_before_facts(spark):
    """q_nation_trade: both nation legs must broadcast and shrink
    customer/supplier BEFORE the fact joins; no same-nation row may
    survive; the year grid stays inside the shipdate filter."""
    plan = _plan(spark, "q_nation_trade")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2
    rows = ALL_SPECS["q_nation_trade"].fn(spark, SF_DIR).collect()
    for r in rows:
        assert r["supp_nation"] != r["cust_nation"], dict(r.asDict())
        assert r["l_year"] in (1996, 1997), dict(r.asDict())


def test_cms_sketch_one_sided_and_kb_state(spark):
    """q_cms_sketch: the CMS one-sided guarantee (estimate ≥ exact) must
    hold on every probe, the cell state must stay ≤ depth×width rows
    (the re-mergeable KB-sized sketch claim), and the only nested-loop
    join is the constant 3-row seed fan-out."""
    from pyspark.sql import functions as F  # noqa: F811

    from hippo_claim_crossover_spark.plans.base import t as _t
    from hippo_claim_crossover_spark.plans.extras import (
        CMS_DEPTH, CMS_WIDTH, _cms_cell)

    plan = _plan(spark, "q_cms_sketch")
    assert "CartesianProduct" not in plan
    rows = ALL_SPECS["q_cms_sketch"].fn(spark, SF_DIR).collect()
    assert len(rows) == 20
    for r in rows:
        assert r["never_undercounts"], dict(r.asDict())
        assert r["cms_est"] >= r["exact_cnt"] >= 1, dict(r.asDict())
        assert r["overcount"] == r["cms_est"] - r["exact_cnt"]
    # state bound: distinct (seed, cell) pairs over the whole corpus
    toks = (_t(spark, SF_DIR, "documents")
            .select(F.explode(F.split("text", " ")).alias("tok"))
            .where(F.col("tok") != "").distinct())
    seeds = spark.range(CMS_DEPTH).select(F.col("id").alias("seed"))
    n_cells = (toks.crossJoin(seeds)
               .select("seed", _cms_cell(F.col("tok"), F.col("seed"))
                       .alias("cell"))
               .distinct().count())
    assert n_cells <= CMS_DEPTH * CMS_WIDTH


def test_text_entropy_integer_accumulation_no_window(spark):
    """q_text_entropy: the per-source rollup must be plain partial/final
    aggregates over BIGINT micro-bit terms (no Window, no cartesian),
    and the entropy stats must satisfy min ≤ mean ≤ max with
    non-negative entropies."""
    plan = _plan(spark, "q_text_entropy")
    assert "Window [" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 4
    rows = ALL_SPECS["q_text_entropy"].fn(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        d = dict(r.asDict())
        assert 0.0 <= r["min_doc_entropy"] <= r["max_doc_entropy"], d
        # token-weighted mean lies within the per-doc envelope (loose
        # 1e-4 slack for the display rounding)
        assert r["min_doc_entropy"] - 1e-4 <= r["mean_entropy_bits"] \
            <= r["max_doc_entropy"] + 1e-4, d


def test_ewma_single_window_node(spark):
    """q_ewma: all 8 lag taps must collapse into ONE Window exec node
    (one shuffle on user_id, O(taps) frame state) — a per-tap window
    would sort the partition 8 times."""
    plan = _plan(spark, "q_ewma")
    assert plan.count("Window [") == 1
    assert "CartesianProduct" not in plan
    rows = ALL_SPECS["q_ewma"].fn(spark, SF_DIR).collect()
    assert rows
    import math
    for r in rows:
        assert r["n_events"] >= 1
        assert math.isfinite(r["last_ewma"]), dict(r.asDict())


def test_min_cost_supplier_argmin_on_preaggregate(spark):
    """q_min_cost_supplier: the correlated min must run as a row_number
    window over the AGGREGATED (part, supplier) relation — so the plan
    carries a WindowGroupLimit pre-prune — with the region hop
    broadcast, and exactly one winner per part."""
    plan = _plan(spark, "q_min_cost_supplier")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "WindowGroupLimit" in plan
    rows = ALL_SPECS["q_min_cost_supplier"].fn(spark, SF_DIR).collect()
    assert rows
    parts = [r["p_partkey"] for r in rows]
    assert len(parts) == len(set(parts))
    assert all(r["p_size"] <= 10 and r["unit_cost"] > 0 for r in rows)


def test_forecast_revenue_full_scan_pushdown(spark):
    """q_forecast_revenue: all three conjunctive range predicates must
    reach the parquet reader (at 100 TB this query IS row-group
    pruning), and the global aggregate is one partial/final pass."""
    plan = _plan(spark, "q_forecast_revenue")
    pushed = plan[plan.find("PushedFilters"):].split("]")[0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, (col, pushed)
    assert plan.count("HashAggregate") >= 2
    rows = ALL_SPECS["q_forecast_revenue"].fn(spark, SF_DIR).collect()
    assert len(rows) == 1 and rows[0]["revenue"] > 0


def test_market_share_single_pass_ratio(spark):
    """q_market_share: numerator and denominator must come from the SAME
    grouped pass (conditional sum, never two aggregates joined), nation
    and region hops broadcast, and the share bounded in [0, 1]."""
    plan = _plan(spark, "q_market_share")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 3
    rows = ALL_SPECS["q_market_share"].fn(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r["mkt_share"] <= 1.0, dict(r.asDict())
        assert r["total_revenue"] > 0


def test_nation_profit_broadcast_dims_signed_sum(spark):
    """q_nation_profit: part (pre-filtered) and nation must broadcast,
    and the signed integer-micros sum must survive negative profits
    (the money_micros either-sign guarantee)."""
    plan = _plan(spark, "q_nation_profit")
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2
    rows = ALL_SPECS["q_nation_profit"].fn(spark, SF_DIR).collect()
    assert rows and all(r["n_lines"] >= 1 for r in rows)


def test_late_lines_case_inside_single_aggregate(spark):
    """q_late_lines: the priority split must be CASE-inside-agg in ONE
    grouped pass over one join (never two scans), with the lateness
    filter before the aggregate; counts must partition the late rows."""
    plan = _plan(spark, "q_late_lines")
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 2
    rows = ALL_SPECS["q_late_lines"].fn(spark, SF_DIR).collect()
    assert rows
    assert all(r["high_line_count"] + r["low_line_count"] > 0
               for r in rows)


def test_important_stock_scalar_is_broadcast_not_collect(spark):
    """q_important_stock: the HAVING threshold must ride a 1-row
    broadcast nested-loop join (never a driver collect), the per-part
    relation must be reused (checkpoint), and every survivor must beat
    1.5x the mean by construction."""
    plan = _plan(spark, "q_important_stock")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan
    rows = ALL_SPECS["q_important_stock"].fn(spark, SF_DIR).collect()
    assert rows
    vals = [r["value"] for r in rows]
    assert vals == sorted(vals, reverse=True)


def test_dominant_supplier_integer_threshold_no_division(spark):
    """q_dominant_supplier: the Q20 nest must resolve as two grouped
    passes over one narrow projection with the threshold as integer
    cross-multiplication; supplier names join the aggregated side via
    broadcast."""
    plan = _plan(spark, "q_dominant_supplier")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    rows = ALL_SPECS["q_dominant_supplier"].fn(spark, SF_DIR).collect()
    assert rows and all(r["n_dominant_parts"] >= 1 for r in rows)


def test_kmv_sketch_windowgrouplimit_and_exact_under_k(spark):
    """q_kmv_sketch: the per-scope top-K must plan as a WindowGroupLimit
    pre-prune (never a full per-scope sort of all hashes), the estimate
    must be EXACT whenever a scope has < K distinct keys, and every
    verdict boolean must hold."""
    from hippo_claim_crossover_spark.plans.extras import KMV_K

    plan = _plan(spark, "q_kmv_sketch")
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan
    rows = ALL_SPECS["q_kmv_sketch"].fn(spark, SF_DIR).collect()
    assert rows and any(r["scope"] == "ALL" for r in rows)
    for r in rows:
        d = dict(r.asDict())
        assert r["within_5_sigma"], d
        if r["exact_distinct"] < KMV_K:
            assert r["kmv_est"] == r["exact_distinct"], d


def test_dataset_mixture_quotas_and_checksum(spark):
    """q_dataset_mixture: integer quotas must respect availability and
    the target ratios (share·N div 20), the selection must fill every
    quota exactly, and the md5 draw must be content-addressed — same
    checksum on a recomputation."""
    rows = ALL_SPECS["q_dataset_mixture"].fn(spark, SF_DIR).collect()
    by_src = {r["source"]: r for r in rows}
    assert set(by_src) == {"src0", "src1", "src2", "src3"}
    for r in rows:
        d = dict(r.asDict())
        assert r["n_take"] <= r["n_avail"], d
        assert r["n_selected"] == r["n_take"], d
    rows2 = ALL_SPECS["q_dataset_mixture"].fn(spark, SF_DIR).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, rows2))
    # rank rides grouped_global_rank (range shuffle + local row_number +
    # offsets), never a per-source Window sorting a whole domain in one
    # task: the plan must carry the range exchange and no per-source
    # global sort outside it
    plan = _plan(spark, "q_dataset_mixture")
    assert "CartesianProduct" not in plan
    assert "rangepartitioning" in plan


def test_scd2_lookup_interval_residual_no_inflation(spark):
    """q_scd2_lookup: the PIT lookup must be an equi join on the user
    key with interval containment as a residual (never a cartesian or
    time-cross-product), at most one interval matches per fact, and
    the rollup must account for every purchase exactly once."""
    from pyspark.sql import functions as F  # noqa: F811

    from hippo_claim_crossover_spark.plans.base import t as _t

    plan = _plan(spark, "q_scd2_lookup")
    assert "CartesianProduct" not in plan
    rows = ALL_SPECS["q_scd2_lookup"].fn(spark, SF_DIR).collect()
    n_purch = (_t(spark, SF_DIR, "events")
               .where(F.col("event_type") == "purchase").count())
    assert sum(r["n_purchases"] for r in rows) == n_purch


def test_seasonal_interior_only_integer_detrend(spark):
    """q_seasonal: the decomposition must aggregate BEFORE the window
    (the ordered window runs over the calendar-bounded hourly series,
    never raw events), only full 25-term frames decompose, and the
    seasonal profile must be a 24-row zero-mean-ish signal."""
    plan = _plan(spark, "q_seasonal")
    assert "CartesianProduct" not in plan
    # the window input is the aggregated hourly frame: a HashAggregate
    # must appear below the Window in the plan tree (rendered above it
    # in the root-first string)
    assert plan.count("HashAggregate") >= 2
    assert plan.count("Window [") == 1
    rows = ALL_SPECS["q_seasonal"].fn(spark, SF_DIR).collect()
    assert len(rows) == 24
    assert {r["hour"] for r in rows} == set(range(24))
    # detrended seasonal signal: bounded by the mean hourly magnitude
    mx = max(abs(r["seasonal"]) for r in rows)
    mh = max(r["mean_hourly_value"] for r in rows)
    assert mx < mh


def test_time_travel_single_aggregate_no_window_no_cartesian(spark):
    """q_time_travel: all four versions must resolve through ONE
    partial/final max_by aggregate (no Window, no per-version re-merge);
    the version fan-out is a 4-row broadcast. The trajectory must be
    consistent: tombstones only from commit 2 on, total keys grow at
    the late-insert commit."""
    plan = _plan(spark, "q_time_travel")
    assert "Window [" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("HashAggregate") >= 2
    rows = {r["as_of"]: r for r in
            ALL_SPECS["q_time_travel"].fn(spark, SF_DIR).collect()}
    assert set(rows) == {0, 1, 2, 3}
    assert rows[0]["n_tombstoned"] == rows[1]["n_tombstoned"] == 0
    assert rows[2]["n_tombstoned"] > 0
    assert rows[3]["n_visible"] > rows[2]["n_visible"]  # late inserts
    # a tombstoned key stays in the key set (op='d' wins), so totals
    # per version never lose keys
    tot = {v: r["n_visible"] + r["n_tombstoned"] for v, r in rows.items()}
    assert tot[0] <= tot[1] <= tot[2] <= tot[3]


def test_melt_expands_inside_scan_stage(spark):
    """q_melt: DataFrame.unpivot must plan as an Expand directly over
    the scan (row fan-out without a shuffle), feeding the aggregate's
    map-side combine; every metric accounts for all input rows."""
    from hippo_claim_crossover_spark.plans.base import t as _t

    plan = _plan(spark, "q_melt")
    assert "Expand" in plan
    assert "CartesianProduct" not in plan
    rows = ALL_SPECS["q_melt"].fn(spark, SF_DIR).collect()
    n_li = _t(spark, SF_DIR, "lineitem").count()
    assert len(rows) == 3
    assert all(r["n"] == n_li for r in rows)
    assert all(r["vmin"] <= r["vmax"] for r in rows)


def test_corr_matrix_single_pass_bounded_corr(spark):
    """q_corr_matrix: all 9 moments must come from ONE partial/final
    aggregate pass (no second scan — the pair rows unpivot via Expand),
    and every correlation must be a valid Pearson value in [-1, 1] with
    the matrix symmetric-complete (3 pairs per segment)."""
    plan = _plan(spark, "q_corr_matrix")
    assert "CartesianProduct" not in plan
    assert plan.count("lineitem.parquet") == 1  # one scan only
    # the 3 pair rows fan out of the single aggregate row (Expand or
    # Generate-stack, depending on how Catalyst lowers stack())
    assert ("Expand" in plan) or ("Generate" in plan)
    assert plan.count("HashAggregate") >= 2  # partial + final moments
    rows = ALL_SPECS["q_corr_matrix"].fn(spark, SF_DIR).collect()
    segs = {r["l_returnflag"] for r in rows}
    assert len(rows) == 3 * len(segs)
    for r in rows:
        assert -1.0 <= r["corr"] <= 1.0, dict(r.asDict())


def test_percentile_highcard_no_broadcast_hint(spark):
    """q_percentile_highcard: the static plan must NOT bake a broadcast
    hint into either rank-metadata join (offsets, targets) — the
    high-cardinality contract — while keeping the distributed-rank
    shape (range shuffle, per-partition ranking). AQE may still promote
    at runtime off realized statistics; the audit reads the pre-AQE
    plan."""
    df = ALL_SPECS["q_percentile_highcard"].fn(spark, SF_DIR)
    logical = df._jdf.queryExecution().optimizedPlan().toString()
    assert "strategy=broadcast" not in logical
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan
    assert "_pid" in plan
    assert "CartesianProduct" not in plan
    # results equal the broadcast-path machinery bit-for-bit
    from hippo_claim_crossover_spark.operators.ranking import (
        grouped_percentiles)
    from hippo_claim_crossover_spark.plans.base import t as _t
    li = _t(spark, SF_DIR, "lineitem").select(
        "l_partkey", "l_extendedprice")
    bc = grouped_percentiles(
        li, ["l_partkey"], "l_extendedprice", [0.5],
        broadcast_offsets=True)
    got = {r["p_partkey"]: r["median_price"] for r in df.collect()}
    want = {r["l_partkey"]: r["value"] for r in bc.collect()}
    assert got == want


def test_graph_lpa_deterministic_and_bounded(spark):
    """q_graph_lpa: three synchronous rounds over the checkpointed edge
    list — no cartesian, label tables bounded by |nodes| — and the
    result must be a partition of the node set (every node in exactly
    one community), reproducible across rebuilds."""
    plan = _plan(spark, "q_graph_lpa")
    assert "CartesianProduct" not in plan
    rows = ALL_SPECS["q_graph_lpa"].fn(spark, SF_DIR).collect()
    assert rows
    from hippo_claim_crossover_spark.plans import graphq
    n_nodes = graphq._edges(spark, SF_DIR).select("src").distinct().count()
    assert sum(r["n_members"] for r in rows) == n_nodes
    for r in rows:
        assert r["min_member"] <= r["community"] or True  # labels are ids
        assert r["min_member"] <= r["max_member"]
    rows2 = ALL_SPECS["q_graph_lpa"].fn(spark, SF_DIR).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, rows2))


def test_cusum_changepoint_integer_prefix_no_cartesian(spark):
    """q_cusum_changepoint: prefix deviations must stay integer (the
    n*S_t identity), the peak lookup is a broadcast-back equality (no
    cartesian, no struct-ordered argmax), and the changepoint must be
    an interior, per-type-unique row."""
    plan = _plan(spark, "q_cusum_changepoint")
    assert "CartesianProduct" not in plan
    # the prefix-sum window lives inside the checkpointed dev lineage;
    # the outer plan consumes it as two ExistingRDD scans (mx + peak)
    assert plan.count("Scan ExistingRDD") == 2
    rows = ALL_SPECS["q_cusum_changepoint"].fn(spark, SF_DIR).collect()
    assert rows
    types = [r["event_type"] for r in rows]
    assert len(types) == len(set(types))
    for r in rows:
        d = dict(r.asDict())
        assert 1 <= r["t_index"] <= r["n"], d
        assert r["max_abs_cusum"] >= 0, d


def test_ab_test_exact_moments_single_pass(spark):
    """q_ab_test: both arms' moments must come from ONE partial/final
    aggregate over the joined facts (no per-arm scan), and the verdict
    must be consistent with the reported t statistic."""
    plan = _plan(spark, "q_ab_test")
    assert "CartesianProduct" not in plan
    # the moments aggregate is checkpointed; both arm splits read the
    # SAME materialization (a re-derived aggregate per side was the
    # recompute pathology this audit pins)
    assert plan.count("orders.parquet") == 0
    assert plan.count("Scan ExistingRDD") == 2
    rows = ALL_SPECS["q_ab_test"].fn(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        d = dict(r.asDict())
        assert r["n_treat"] >= 2 and r["n_control"] >= 2, d
        assert (abs(r["t_stat"]) > 1.96) == r["significant_95"], d


def test_mode_max_then_join_deterministic(spark):
    """q_mode: the tie-break must be total (min value among max-count
    winners — engine mode() aggregates tie arbitrarily), one row per
    segment, and the mode count can never exceed the group size."""
    plan = _plan(spark, "q_mode")
    assert "CartesianProduct" not in plan
    rows = ALL_SPECS["q_mode"].fn(spark, SF_DIR).collect()
    segs = [r["l_returnflag"] for r in rows]
    assert len(segs) == len(set(segs)) and segs
    for r in rows:
        d = dict(r.asDict())
        assert 1 <= r["mode_count"], d
        assert r["n_distinct_values"] >= 1, d


def test_active_users_fanout_and_monotone(spark):
    """q_active_users: the fan-out runs over the DISTINCT (user, day)
    pairs (one fact-sized shuffle, then constant-factor expansion), and
    per day DAU ≤ WAU ≤ MAU with WAU/MAU never below the day's DAU."""
    plan = _plan(spark, "q_active_users")
    assert "CartesianProduct" not in plan
    rows = ALL_SPECS["q_active_users"].fn(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        d = dict(r.asDict())
        assert 1 <= r["dau"] <= r["wau"] <= r["mau"], d


def test_parse_tree_parser_adds_no_shuffle(spark):
    """q_parse_tree: the parser (split/filter/transform/aggregate fold
    over the text column) must be row-local — the plan's only joins and
    aggregates belong to the fixture-synthesis stage (one service-line
    collect + one header join). No Window, no cartesian, exactly one
    join; and the parsed tree must be internally consistent."""
    plan = _plan(spark, "q_parse_tree")
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    n_joins = sum(plan.count(j) for j in
                  ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"))
    assert n_joins == 1, plan
    rows = ALL_SPECS["q_parse_tree"].fn(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        d = dict(r.asDict())
        assert r["n_services"] >= 1, d
        assert 1 <= r["max_units"] <= 50, d
        assert r["total_charge"] > 0, d
        assert r["claim_status"] in ("F", "O", "P"), d
        assert r["claim_date"] is not None, d


def test_dedup_incremental_probes_persisted_index(spark):
    """q_dedup_incremental: the probe must READ the persisted parquet
    index (FileScan on the mhidx scratch path — never re-deriving the
    corpus signatures in the probe job), the dup test must be a
    LeftSemi on band_key, and the append arithmetic must reconcile."""
    plan = _plan(spark, "q_dedup_incremental")
    assert "CartesianProduct" not in plan
    assert "mhidx" in plan  # probe side scans the persisted index
    assert "LeftSemi" in plan
    rows = ALL_SPECS["q_dedup_incremental"].fn(spark, SF_DIR).collect()
    assert rows
    from hippo_claim_crossover_spark.plans.base import t as _t
    docs = _t(spark, SF_DIR, "documents")
    n_docs = docs.count()
    assert sum(r["n_corpus"] + r["n_batch"] for r in rows) == n_docs
    for r in rows:
        d = dict(r.asDict())
        assert r["n_appended"] == r["n_batch"] - r["n_dup"] >= 0, d
        assert r["corpus_after"] == r["n_corpus"] + r["n_appended"], d
        assert (r["appended_id_sum"] > 0) == (r["n_appended"] > 0), d


def test_minhash_merge_is_partial_final_min(spark):
    """q_minhash_merge: the source rollup must be a plain partial/final
    HashAggregate over the per-doc signature table (min combine — the
    mergeability shape), no Window, no cartesian; and every per-source
    merged component must equal the min of its docs' components (the
    in-Spark face of the oracle's direct-computation proof)."""
    plan = _plan(spark, "q_minhash_merge")
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    assert plan.count("HashAggregate") >= 2
    rows = ALL_SPECS["q_minhash_merge"].fn(spark, SF_DIR).collect()
    assert rows
    from hippo_claim_crossover_spark.operators import dedup as ops_dedup
    from hippo_claim_crossover_spark.plans.base import t as _t
    from hippo_claim_crossover_spark.plans.dedup import N_MINHASH, NGRAM
    d = _t(spark, SF_DIR, "documents")
    sigs = (ops_dedup.minhash_signatures(d, "doc_id", "text",
                                         k=N_MINHASH, n=NGRAM)
            .join(d.select("doc_id", "source"), "doc_id").collect())
    by_source = {}
    for s in sigs:
        cur = by_source.setdefault(s["source"], [float("inf")] * N_MINHASH)
        for i in range(N_MINHASH):
            cur[i] = min(cur[i], s[f"mh_{i}"])
    for r in rows:
        want = by_source[r["source"]]
        got = [r[f"mh_{i}"] for i in range(N_MINHASH)]
        assert got == want, (r["source"], got, want)


def test_kmv_setops_prunes_topk_and_broadcasts_pairs(spark):
    """q_kmv_setops: the per-scope bottom-K must plan as WindowGroupLimit
    (per-partition pre-prune before the scope shuffle — the fact table
    never sorts whole); the pairwise sketch algebra must ride a
    broadcast (KB-sized K-long arrays), never a CartesianProduct; and
    every band verdict must be TRUE (the oracle asserts the same, so a
    drifting estimator flips the driver hash red — this pins it
    locally)."""
    plan = _plan(spark, "q_kmv_setops")
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    rows = ALL_SPECS["q_kmv_setops"].fn(spark, SF_DIR).collect()
    assert len(rows) == 10  # C(5 event types, 2)
    for r in rows:
        assert r["union_in_band"] and r["inter_in_band"], r
        assert r["union_est"] >= r["inter_est"] >= 0, r


def test_ngram_lm_is_broadcast_model_join(spark):
    """q_ngram_lm: the LM (c2/c1/vocab) must attach to the bigram
    stream via broadcast joins (model tables are vocabulary-bounded),
    the bigram fan-out must be a codegen array transform (no Python
    UDF), and nothing may plan as a CartesianProduct."""
    plan = _plan(spark, "q_ngram_lm")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("HashAggregate") >= 4  # c2, per-doc, per-source (x2)


def test_dedup_containment_rides_inverted_index(spark):
    """q_dedup_containment: candidate generation must be the shingle
    inverted-index equi-join (SortMergeJoin/ShuffledHashJoin on the
    8-byte xxhash64 key), never a CartesianProduct; and the directional
    scores must be consistent (each containment >= the pair's Jaccard,
    both in [0,1])."""
    plan = _plan(spark, "q_dedup_containment")
    assert "CartesianProduct" not in plan
    # the xxhash64 expression itself lives behind the shingle-table
    # checkpoint — both join sides must read the ONE checkpointed RDD
    # (the q_dedup_ngram single-materialization discipline), and the
    # equi-join key is the hashed shingle column
    assert "ExistingRDD" in plan
    assert "array_distinct" not in plan
    assert "sh#" in plan
    rows = ALL_SPECS["q_dedup_containment"].fn(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r["jaccard"] <= r["cont_a_in_b"] <= 1.0, r
        assert r["jaccard"] <= r["cont_b_in_a"] <= 1.0, r
        assert r["asym"] == (r["jaccard"] < 0.5), r


def test_dedup_spans_hashes_windows_and_merges_integer_spans(spark):
    """q_dedup_spans: window occurrence counting and the duplicated-
    position re-attach must ride the 8-byte xxhash64 key behind the one
    checkpointed window table (strings never shuffle twice); the only
    per-group Window partitions by doc_id (bounded by doc length); no
    CartesianProduct. Coverage sanity: dup_tokens <= tot_tokens and a
    flagged count bounded by n_docs."""
    plan = _plan(spark, "q_dedup_spans")
    assert "CartesianProduct" not in plan
    assert "ExistingRDD" in plan          # checkpointed window table
    assert "windowspecdefinition(doc_id" in plan
    rows = ALL_SPECS["q_dedup_spans"].fn(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 0 <= r["dup_tokens"] <= r["tot_tokens"], r
        assert 0 <= r["n_flagged"] <= r["n_docs"], r


def test_acf_joins_on_aggregated_series(spark):
    """q_acf: the lag self-join must run on the AGGREGATED daily series
    (both join inputs downstream of HashAggregates — the fact scan
    happens once per side at most, nothing row-scale crosses the
    join), no CartesianProduct, and the moment sums ride DECIMAL(38)."""
    plan = _plan(spark, "q_acf")
    assert "CartesianProduct" not in plan
    assert "decimal(38,0)" in plan
    rows = {r["lag"]: r for r in
            ALL_SPECS["q_acf"].fn(spark, SF_DIR).collect()}
    assert sorted(rows) == [1, 2, 3, 4, 5, 6, 7]
    for r in rows.values():
        assert r["acf"] is None or -1.0 <= r["acf"] <= 1.0, r


def test_winnow_density_and_guarantee(spark):
    """q_winnow: selected density must sit near the theoretical
    2/(w+1) = 0.4 (winnowing's storage bound), the sliding-min window
    must be doc-bounded, and no CartesianProduct. Guarantee check:
    fingerprints are a subset of k-gram hashes (n_fp <= n_selected
    <= n_kgrams)."""
    plan = _plan(spark, "q_winnow")
    assert "CartesianProduct" not in plan
    # the doc-bounded sliding-min window lives behind the selected-
    # position checkpoint; both downstream consumers read the one RDD
    assert "ExistingRDD" in plan
    rows = ALL_SPECS["q_winnow"].fn(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["n_fp"] <= r["n_selected"] <= r["n_kgrams"], r
        assert 0.25 <= r["density"] <= 0.6, r  # ~0.4 expected
        assert 0 <= r["n_shared_fp"] <= r["n_fp"], r


def test_outlier_seasonal_profile_broadcasts_and_group_limits(spark):
    """q_outlier_seasonal: the (type x 24) profile and both rank-
    metadata tables must attach via broadcast; the top-3 must plan as
    WindowGroupLimit; no CartesianProduct; and the residual medians
    must center near 0 per type (the detrend sanity the raw-value MAD
    query can't have)."""
    plan = _plan(spark, "q_outlier_seasonal")
    assert "CartesianProduct" not in plan
    assert "WindowGroupLimit" in plan
    assert "BroadcastHashJoin" in plan
    rows = ALL_SPECS["q_outlier_seasonal"].fn(spark, SF_DIR).collect()
    types = {r["event_type"] for r in rows}
    assert len(types) == 5 and len(rows) == 15
    for r in rows:
        assert 0 <= r["hr"] <= 23 and 1 <= r["rk"] <= 3, r


def test_graph_sage_agg_is_one_shuffle_layer(spark):
    """q_graph_sage_agg: one SAGE layer must be join + ONE partial/final
    aggregate by src (map-side combine on the feature join output), no
    CartesianProduct; invariants: nbr_price_mean <= nbr_price_max and
    deg >= 1 (only edge-bearing nodes emit)."""
    plan = _plan(spark, "q_graph_sage_agg")
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan or "partial_sum" in plan
    rows = ALL_SPECS["q_graph_sage_agg"].fn(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["deg"] >= 1, r
        assert r["nbr_price_mean"] <= r["nbr_price_max"] + 1e-9, r


def test_dp_counts_noise_is_plausible_laplace(spark):
    """q_dp_counts: the released values must differ from the true
    aggregates by bounded Laplace noise (|count noise| <= 15/eps and
    |sum noise| <= 15*clamp/eps covers u in [2^-21, 1-2^-21] — md5
    uniforms outside that band are ~impossible at 25 draws), the clamp
    must bind BEFORE the sum, and the plan must stay one aggregate +
    broadcast dim join."""
    import math

    import duckdb

    plan = _plan(spark, "q_dp_counts")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    rows = {r["nation"]: r for r in
            ALL_SPECS["q_dp_counts"].fn(spark, SF_DIR).collect()}
    con = duckdb.connect()
    for t in ("customer", "nation"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{SF_DIR}/{t}.parquet')")
    true = {r[0]: (r[1], r[2]) for r in con.execute("""
        SELECT n_name, count(*),
               sum(least(greatest(c_acctbal, 0), 10000))
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name""").fetchall()}
    assert set(rows) == set(true)
    for nat, (n_true, s_true) in true.items():
        r = rows[nat]
        assert abs(r["dp_count"] - n_true) <= 15.0, (nat, r, n_true)
        assert abs(r["dp_balance_sum"] - float(s_true)) <= 15.0 * 10000, \
            (nat, r, s_true)
        assert r["eps_per_stat"] == 1.0


def test_mm_dedup_shuffles_digests_not_payloads(spark):
    """q_mm_dedup: the dedup shuffle key must be the 32-byte digest
    (sha2 computed in the scan projection, payload bytes never cross an
    exchange as the grouping payload), two partial/final aggregates, no
    CartesianProduct; accounting invariants hold."""
    plan = _plan(spark, "q_mm_dedup")
    assert "CartesianProduct" not in plan
    assert "sha2" in plan
    assert plan.count("HashAggregate") >= 4
    rows = ALL_SPECS["q_mm_dedup"].fn(spark, SF_DIR).collect()
    assert {r["media_type"] for r in rows} == {"image", "audio", "video"}
    for r in rows:
        assert r["n_files"] == r["n_unique"] + r["n_dup_files"], r
        assert r["bytes_saved"] <= r["bytes_total"], r


def test_rolling_zscore_is_takeordered_sliding_frame(spark):
    """q_rolling_zscore: global top-10 must plan as
    TakeOrderedAndProject (never a global sort exchange); the per-user
    window partitions on user_id; scored rows carry >= RZ_MIN_N
    history."""
    plan = _plan(spark, "q_rolling_zscore")
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "windowspecdefinition(user_id" in plan
    rows = ALL_SPECS["q_rolling_zscore"].fn(spark, SF_DIR).collect()
    assert len(rows) == 10
    zs = [abs(r["z"]) for r in rows]
    assert zs == sorted(zs, reverse=True)
    from hippo_claim_crossover_spark.plans.stats import RZ_MIN_N
    assert all(r["n_hist"] >= RZ_MIN_N for r in rows)


def test_vocab_oov_prunes_topk_and_broadcasts(spark):
    """q_vocab_oov: the top-K vocab must plan as TakeOrderedAndProject
    over the token counts (K rows, never a global sort of the corpus)
    and re-attach via broadcast; rates are consistent."""
    plan = _plan(spark, "q_vocab_oov")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    rows = ALL_SPECS["q_vocab_oov"].fn(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 0 <= r["n_oov"] <= r["n_tokens"], r
        assert 0.0 <= r["oov_rate"] <= 1.0, r
        assert r["oov_types"] <= r["n_oov"] or r["n_oov"] == 0, r


def test_weighted_median_rides_histogram_cdf(spark):
    """q_weighted_median: the CDF walk must run on the tie-compressed
    histogram (range shuffle after a partial/final agg — `_cum` and
    `_w` in plan), no percentile aggregate, no single-partition data
    exchange; and the weighted median must differ from the UNweighted
    one when weights matter (sanity that the weight column is live)."""
    plan = _plan(spark, "q_weighted_median")
    low = plan.lower()
    assert "percentile(" not in low
    assert "rangepartitioning" in low
    assert "_cum" in plan
    rows = {r["l_returnflag"]: r for r in
            ALL_SPECS["q_weighted_median"].fn(spark, SF_DIR).collect()}
    assert len(rows) == 3
    for r in rows.values():
        assert r["w_median_price"] <= r["w_p90_price"], r
        assert r["total_units"] > 0, r


def test_bootstrap_ci_shuffles_cells_not_rows(spark):
    """q_bootstrap_ci: the replicate fan-out must combine map-side to
    (group, replicate) cells before the exchange (partial_sum in plan),
    the fan-out stage must be explicitly repartitioned so the ×B md5
    draw parallelizes off a single parquet split (REPARTITION_BY_NUM
    hint survives into the optimized plan — the repartition is
    CONDITIONAL on scan splits < cores, which always holds for the
    single-split local fixture this test reads; a many-split cluster
    scan skips the exchange entirely, r15), the interval must be the
    bounded-frame window interpolation (a Window node, and NO
    checkpointed RDD scan — the r15 one-shot fix dropped the
    histogram-CDF machinery whose plan-build localCheckpoint surfaced
    as `Scan ExistingRDD`), no CartesianProduct; statistically the CI
    must bracket the point mean with positive width."""
    plan = _plan(spark, "q_bootstrap_ci")
    assert "CartesianProduct" not in plan
    assert "partial_sum" in plan
    assert "ExistingRDD" not in plan
    assert "Window" in plan
    assert "REPARTITION_BY_NUM" in plan or "RoundRobinPartitioning" in plan
    rows = ALL_SPECS["q_bootstrap_ci"].fn(spark, SF_DIR).collect()
    assert len(rows) == 5  # order priorities
    for r in rows:
        assert r["ci_lo"] <= r["mean_value"] <= r["ci_hi"], r
        assert r["ci_hi"] > r["ci_lo"], r


def test_retrieve_rerank_broadcasts_candidates_and_takeorders(spark):
    """q_retrieve_rerank: stage 1 must reduce to the candidate set via
    TakeOrderedAndProject (no global sort), stage 2 must join the
    candidates into the embedding scan as a BROADCAST hash join (the
    corpus is never shuffled for 50 candidate rows), and nothing may
    plan as a CartesianProduct; semantically the result is the top-10
    by rounded cosine with doc_id tiebreak."""
    plan = _plan(spark, "q_retrieve_rerank")
    assert "CartesianProduct" not in plan
    assert plan.count("TakeOrderedAndProject") >= 2
    assert "BroadcastHashJoin" in plan
    rows = ALL_SPECS["q_retrieve_rerank"].fn(spark, SF_DIR).collect()
    assert len(rows) == 10
    cosines = [r["cosine"] for r in rows]
    assert cosines == sorted(cosines, reverse=True)
    assert all(r["bm25"] > 0 for r in rows)


def test_train_matrix_pushes_range_and_aggregates_before_window(spark):
    """q_train_matrix: the 1996 shipdate range must reach the parquet
    scan, lineitem must collapse to (flag, day) in a partial/final agg
    BEFORE any window (the windows run over calendar-bounded rows), and
    the lag/rolling windows must be partitioned by flag (no
    single-partition exchange of data rows). Features must be complete
    (no NULLs) and internally consistent."""
    plan = _plan(spark, "q_train_matrix")
    # several scans (actuals, spine flags) — the shipdate range must be
    # pushed on at least one of them (the lineitem actuals scan)
    pushed_sections = [s.split("]")[0]
                       for s in plan.split("PushedFilters:")[1:]]
    assert any("l_shipdate" in s for s in pushed_sections), pushed_sections
    assert "partial_sum" in plan
    rows = ALL_SPECS["q_train_matrix"].fn(spark, SF_DIR).collect()
    by_key = {(r["flag"], r["day"]): r for r in rows}
    assert rows and len(by_key) == len(rows)
    for r in rows:
        assert r["lag_1"] is not None and r["lag_7"] is not None, r
        assert r["roll7_sum"] is not None and 1 <= r["dow"] <= 7, r
    # spot-check the rolling feature: roll7_sum at day d == sum of the
    # 7 preceding targets (reconstructable from lag chain at day d+1:
    # roll7(d+1) = roll7(d) + target(d) - lag_7(d))
    import datetime as dt
    for (flag, day), r in list(by_key.items())[:50]:
        nxt = by_key.get((flag, day + dt.timedelta(days=1)))
        if nxt is not None:
            assert abs(nxt["roll7_sum"]
                       - (r["roll7_sum"] + r["target"] - r["lag_7"])) \
                < 1e-6, (flag, day)


def test_quantile_sketch_merge_contract_and_no_resort(spark):
    """q_quantile_sketch_merge: no exact percentile aggregate anywhere
    (the estimates come from the merged summary), the exact-CDF audit
    rides rangepartitioning (grouped_histogram_cdf), no cartesian; the
    emitted contract booleans are TRUE and the summary is never larger
    than the data it summarizes."""
    plan = _plan(spark, "q_quantile_sketch_merge")
    low = plan.lower()
    assert "percentile(" not in low
    assert "rangepartitioning" in low
    assert "CartesianProduct" not in plan
    rows = ALL_SPECS["q_quantile_sketch_merge"].fn(spark, SF_DIR).collect()
    assert len(rows) == 5
    for r in rows:
        assert r["p50_rank_ok"] and r["p90_rank_ok"], r
        assert r["n_kept"] <= r["n_orders"], r
        assert r["est_p50"] <= r["est_p90"], r
        assert r["exact_p50"] <= r["exact_p90"], r


def test_stream_sink_audit_reconciles_all_logs(spark):
    """q_stream_sink_audit: the pinned 4-batch run reconciles manifest,
    offset log, commit log, and disk — every batch offset has a commit,
    every manifest file exists, zero orphans, and only the
    watermark-finalizing batch carries rows."""
    rows = ALL_SPECS["q_stream_sink_audit"].fn(spark, SF_DIR).collect()
    assert [r["batch_id"] for r in rows] == [0, 1, 2, 3]
    assert [r["n_rows"] for r in rows] == [0, 0, 3, 0]
    for r in rows:
        assert r["has_offset"] and r["has_commit"], r
        assert r["has_manifest"], r
        assert r["files_committed"] and r["n_orphans"] == 0, r


def test_compact_files_lossless_and_distributed_audit(spark):
    """q_compact_files: the audit must count files via distributed
    per-FILE partial aggregates over input_file_name (no driver
    directory walk — the plan shows the parquet scans, not a
    LocalTableScan of listed paths — and no count_distinct Expand:
    the r12 rework exchanges one partial row per file), and the
    emitted contract must hold: pinned 64→4 file counts, equal row
    counts, equal checksums, lossless TRUE."""
    plan = _plan(spark, "q_compact_files")
    assert "input_file_name" in plan
    assert "CartesianProduct" not in plan  # 1-row x 1-row cross is BNLJ
    assert "Expand" not in plan  # per-file partials, not count_distinct
    rows = ALL_SPECS["q_compact_files"].fn(spark, SF_DIR).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["n_files_frag"] == 64 and r["n_files_compact"] == 4
    assert r["n_rows_frag"] == r["n_rows_compact"] > 0
    assert r["checksum_frag"] == r["checksum_compact"]
    assert r["lossless"]


def test_curriculum_rides_distributed_ntile(spark):
    """q_curriculum: the global quality ordering must be the
    distributed ntile (range shuffle + prefix offsets), never a
    single-partition window sort of the corpus; phases must partition
    the corpus into contiguous non-overlapping quality ranges."""
    plan = _plan(spark, "q_curriculum")
    low = plan.lower()
    assert "rangepartitioning" in low
    assert "ntile(" not in low  # closed-form bucket, not the window fn
    rows = ALL_SPECS["q_curriculum"].fn(spark, SF_DIR).collect()
    assert [r["phase"] for r in rows] == [1, 2, 3, 4]
    total = sum(r["n_docs"] for r in rows)
    assert max(r["n_docs"] for r in rows) \
        - min(r["n_docs"] for r in rows) <= 1  # equal-count ntile
    assert total > 0
    for a, b in zip(rows, rows[1:]):
        assert a["q_max"] <= b["q_min"], (a, b)  # contiguous ranges
        assert a["q_min"] <= a["q_mean"] <= a["q_max"], a


def test_ann_recall_composes_declared_halves(spark):
    """q_ann_recall: the evaluation must broadcast the 10-row approx
    side into a semi join (no shuffle of anything data-sized beyond
    the two retrievals) and emit a recall consistent with its own hit
    count."""
    plan = _plan(spark, "q_ann_recall")
    assert "CartesianProduct" not in plan
    [r] = ALL_SPECS["q_ann_recall"].fn(spark, SF_DIR).collect()
    assert r["k"] == 10 and 0 <= r["n_hits"] <= 10
    assert abs(r["recall"] - r["n_hits"] / 10) < 1e-9
    assert r["n_hits"] >= 5  # IVF at nprobe should not be useless


def test_backfill_partition_touches_only_target_dir(spark):
    """q_backfill_partition: the dynamic overwrite must leave every
    non-target partition directory byte-identical (same file set, same
    sizes) — the property separating dynamic from the static-overwrite
    truncation disaster — and the audit contract must hold."""
    import glob
    import os

    from hippo_claim_crossover_spark.session import last_output

    rows = ALL_SPECS["q_backfill_partition"].fn(spark, SF_DIR).collect()
    assert len(rows) == 5
    for r in rows:
        assert r["was_backfilled"] == (r["event_type"] == "purchase"), r
        assert r["n_rows"] > 0, r

    def snap(skip_purchase):
        return {p: (os.path.getsize(p), os.path.getmtime(p))
                for p in glob.glob(f"{out}/event_type=*/part-*.parquet")
                if not (skip_purchase and "event_type=purchase" in p)}

    # second invocation: fresh base rewrite + backfill; the audit rows
    # must be bit-identical run to run (idempotent reprocessing)
    rows2 = ALL_SPECS["q_backfill_partition"].fn(spark, SF_DIR).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, rows2))
    out = last_output(spark, "q_backfill_partition", SF_DIR)
    # now replay ONLY the dynamic-overwrite leg against the laid-down
    # table and assert the non-target dirs are byte-identical (same
    # files, sizes, AND mtimes — untouched, not rewritten-equal),
    # while the purchase dir was fully replaced
    from pyspark.sql import functions as F

    from hippo_claim_crossover_spark.plans.base import t

    before = snap(skip_purchase=True)
    purchase_before = set(glob.glob(f"{out}/event_type=purchase/part-*"))
    assert before and purchase_before
    revised = (t(spark, SF_DIR, "events")
               .select("event_id", "value", "event_type")
               .where(F.col("event_type") == "purchase")
               .withColumn("value", F.col("value") * 2))
    (revised.repartition(2).write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("event_type").parquet(out))
    assert snap(skip_purchase=True) == before
    purchase_after = set(glob.glob(f"{out}/event_type=purchase/part-*"))
    assert purchase_after and purchase_after.isdisjoint(purchase_before)
    # layout sanity: 2 repartition files in the target, 4 elsewhere
    per_dir = {}
    for p in glob.glob(f"{out}/event_type=*/part-*.parquet"):
        per_dir.setdefault(p.split("event_type=")[1].split("/")[0],
                           set()).add(p)
    assert len(per_dir["purchase"]) == 2
    for etype, files in per_dir.items():
        if etype != "purchase":
            assert len(files) == 4, (etype, files)


def test_retrieve_fuse_bounds_windows_and_fuses_full_outer(spark):
    """q_retrieve_fuse: both rank windows must run AFTER each system's
    TakeOrdered top-50 (bounded frames — the plan has two
    TakeOrderedAndProject below the windows), the fuse is a full-outer
    join, no cartesian; RRF arithmetic must be internally consistent
    and one-system-only docs must still score."""
    plan = _plan(spark, "q_retrieve_fuse")
    assert "CartesianProduct" not in plan
    assert plan.count("TakeOrderedAndProject") >= 2
    assert "FullOuter" in plan
    rows = ALL_SPECS["q_retrieve_fuse"].fn(spark, SF_DIR).collect()
    assert len(rows) == 10
    for r in rows:
        terms = sum(1.0 / (60 + x)
                    for x in (r["lex_rank"], r["dense_rank"])
                    if x is not None)
        assert abs(r["rrf_score"] - round(terms, 6)) < 2e-6, r
    scores = [r["rrf_score"] for r in rows]
    assert scores == sorted(scores, reverse=True)


def test_approx_cd_sketches_never_ride_the_distinct_expand(spark):
    """q_approx_cd (r14 rewrite): the HLL++ sketches must aggregate in
    their own partial/final pass keyed ONLY by l_returnflag — never
    inside the countDistinct rewrite's per-(key, value, gid) first
    aggregate, where rsd 0.01 puts two ~2^14-register buffers on EVERY
    distinct expanded row (measured 30s / multi-GB exchange at sf0.1;
    row-proportional sketch state at 100 TB). The exact side keeps its
    Expand; the two 3-row sides meet in a broadcast join."""
    plan = _plan(spark, "q_approx_cd")
    assert "Expand" in plan            # exact two-distinct rewrite
    assert "BroadcastHashJoin" in plan  # 3-row approx side broadcast
    for line in plan.splitlines():
        if "partial_approx_count_distinct" in line:
            assert "gid#" not in line, (
                "HLL++ partials keyed by the distinct-rewrite gid — "
                "sketch state is row-proportional again:\n" + line)


def test_fuse_ablation_bounded_and_families_genuinely_differ(spark):
    """q_fuse_ablation: every rank window runs AFTER a TakeOrdered
    reduction (two lex legs, two dense legs, two fused top-10s — so ≥6
    TakeOrderedAndProject), the two fuses plus the final alignment are
    full-outer joins (≥3 FullOuter), and no cartesian anywhere. Value
    invariants: the non-null ranks of EACH family are exactly 1..10
    (both fused lists are complete top-10s), no row has both ranks
    NULL, rows are ordered by (rank_full NULLS-as-99, rank_trunc
    NULLS-as-99, doc_id), and — the ablation's reason to exist — the
    truncated family must GENUINELY disagree with the full one (some
    doc appears in only one list, or some shared doc moves rank)."""
    plan = _plan(spark, "q_fuse_ablation")
    assert "CartesianProduct" not in plan
    assert plan.count("TakeOrderedAndProject") >= 6
    assert plan.count("FullOuter") >= 3
    rows = ALL_SPECS["q_fuse_ablation"].fn(spark, SF_DIR).collect()
    assert 10 <= len(rows) <= 20
    full = [r["rank_full"] for r in rows if r["rank_full"] is not None]
    trunc = [r["rank_trunc"] for r in rows if r["rank_trunc"] is not None]
    assert sorted(full) == list(range(1, 11))
    assert sorted(trunc) == list(range(1, 11))
    assert all(r["rank_full"] is not None or r["rank_trunc"] is not None
               for r in rows)
    keys = [(r["rank_full"] or 99, r["rank_trunc"] or 99, r["doc_id"])
            for r in rows]
    assert keys == sorted(keys)
    assert any(r["rank_full"] != r["rank_trunc"] for r in rows), \
        "families agree exactly — ablation exercises nothing"


def test_fuse_k_ablation_single_scan_per_system_and_k_stable_shape(spark):
    """q_fuse_k_ablation: the rank lists are computed ONCE — exactly one
    lex TakeOrdered and one dense TakeOrdered feed all three k values
    (so TakeOrderedAndProject appears for the two system reductions,
    NOT once per k), exactly ONE full-outer fuse join, a single Expand/
    explode carries the constant k axis, and no cartesian. Value
    invariants: each k column's non-null ranks are exactly 1..10 (every
    fused list is a complete top-10), no all-NULL row, rows ordered by
    doc_id, and k=60's ranks must match q_retrieve_fuse's fused order
    restricted to the same docs (the shared-k cross-check)."""
    plan = _plan(spark, "q_fuse_k_ablation")
    assert "CartesianProduct" not in plan
    assert plan.count("FullOuter") == 1
    assert 2 <= plan.count("TakeOrderedAndProject") <= 3
    rows = ALL_SPECS["q_fuse_k_ablation"].fn(spark, SF_DIR).collect()
    assert 10 <= len(rows) <= 30
    for k in (20, 60, 100):
        ranks = [r[f"rank_k{k}"] for r in rows
                 if r[f"rank_k{k}"] is not None]
        assert sorted(ranks) == list(range(1, 11)), k
    assert all(any(r[f"rank_k{k}"] is not None for k in (20, 60, 100))
               for r in rows)
    ids = [r["doc_id"] for r in rows]
    assert ids == sorted(ids)
    fuse = ALL_SPECS["q_retrieve_fuse"].fn(spark, SF_DIR).collect()
    order60 = {r["doc_id"]: i + 1 for i, r in enumerate(fuse)}
    for r in rows:
        if r["rank_k60"] is not None:
            assert order60.get(r["doc_id"]) == r["rank_k60"], r


def test_semdedup_pairs_are_cell_blocked_and_accounting_consistent(spark):
    """q_semdedup: the pair stage must be an equi-join on the FULL
    blocking key (cluster cell AND SRP sub-bucket — never a cartesian,
    never cell-only, which would re-quadratize oversized cells at
    scale), and the localCheckpoint boundary (ExistingRDD) must cut
    the Lloyd lineage once for all three consumers (the centroid join
    for ccos sits below it — r12: kmeans_fit collects centroids per
    round, so that join is against a literal frame). Accounting
    invariants: members partition the table, kept+removed=members,
    every cell keeps at least one representative (the prune can never
    empty a cell — each dup pair retains its winner)."""
    import re

    plan = _plan(spark, "q_semdedup")
    assert "CartesianProduct" not in plan
    # SMJ or BHJ both fine — the strategy follows size stats (r15: the
    # literal centroid frame rides the Arrow path, so the assignment
    # side carries a real small estimate and Catalyst broadcasts it at
    # fixture scale; 100 TB scan stats push it back to SortMergeJoin).
    # What is PINNED is the full (cell, sub) equi-key: cell-only would
    # re-quadratize oversized cells at scale.
    pair_join = re.search(
        r"(SortMergeJoin|BroadcastHashJoin) \[cell#\d+L, sub#\d+L\]", plan)
    assert pair_join, "pair stage must equi-join on (cell, sub)"
    assert "ExistingRDD" in plan  # localCheckpoint'ed m frame
    rows = ALL_SPECS["q_semdedup"].fn(spark, SF_DIR).collect()
    assert rows, "no cells"
    n_table = 500  # sf0.001 embeddings fixture
    assert sum(r["n_members"] for r in rows) == n_table
    for r in rows:
        assert r["n_kept"] + r["n_removed"] == r["n_members"], r
        assert r["n_kept"] >= 1, r
        assert (r["removed_cksum"] == 0) == (r["n_removed"] == 0), r
    cells = [r["cell"] for r in rows]
    assert cells == sorted(cells)


def test_retrieve_eval_is_k_row_bounded_and_metrics_consistent(spark):
    """q_retrieve_eval: the evaluation must reuse the two bounded
    retrievals (TakeOrderedAndProject present, no cartesian) and join
    the k-row ideal via broadcast. Metric invariants: 0 ≤ n_rel ≤ k,
    ndcg/mrr in [0,1], mrr == round(1/first_hit_rank, 6) when any hit
    exists, and ndcg == 1.0 only if the fused head carries every top
    gain in ideal order (spot-checked against a brute recompute of the
    two declared halves)."""
    plan = _plan(spark, "q_retrieve_eval")
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    [r] = ALL_SPECS["q_retrieve_eval"].fn(spark, SF_DIR).collect()
    assert r["k"] == 10
    assert 0 <= r["n_rel"] <= r["k"]
    assert 0.0 <= r["ndcg"] <= 1.0
    assert 0.0 <= r["mrr"] <= 1.0
    if r["n_rel"] > 0:
        assert r["first_hit_rank"] >= 1
        assert abs(r["mrr"] - round(1.0 / r["first_hit_rank"], 6)) < 2e-6
    else:
        assert r["first_hit_rank"] == 0 and r["mrr"] == 0.0
    # brute recompute from the declared halves
    import math

    from hippo_claim_crossover_spark.plans.similarity import (
        q_retrieve_fuse,
        q_sim_topk,
    )
    fused = q_retrieve_fuse(spark, SF_DIR).collect()
    order = sorted(fused, key=lambda x: (-x["rrf_score"], x["doc_id"]))
    exact = q_sim_topk(spark, SF_DIR).collect()
    gain = {e["vec_id"]: 10 - i for i, e in enumerate(
        sorted(exact, key=lambda x: (-x["cosine"], x["vec_id"])))}
    inv = [round(1e9 / math.log2(i + 2)) for i in range(10)]
    dcg = sum(gain.get(d["doc_id"], 0) * inv[i]
              for i, d in enumerate(order))
    idcg = sum((10 - j) * inv[j] for j in range(10))
    assert abs(r["ndcg"] - round(dcg / idcg, 6)) < 2e-6
    assert r["n_rel"] == sum(1 for d in order if d["doc_id"] in gain)


def test_stream_compact_rollover_covers_live_log(spark):
    """q_stream_compact: the pinned 7-batch compactInterval=4 run must
    produce 3.compact + 6 numeric manifests, the compact file must carry
    the pre-compaction committed rows (2 — windows 0,1 from batches 2,3),
    the live log must equal the disk part-file set in both directions,
    and the session confs touched for the run must be restored."""
    before = (spark.conf.get("spark.sql.shuffle.partitions"),
              spark.conf.get(
                  "spark.sql.streaming.fileSink.log.compactInterval",
                  "__unset__"))
    [r] = ALL_SPECS["q_stream_compact"].fn(spark, SF_DIR).collect()
    after = (spark.conf.get("spark.sql.shuffle.partitions"),
             spark.conf.get(
                 "spark.sql.streaming.fileSink.log.compactInterval",
                 "__unset__"))
    assert before == after, (before, after)
    assert r["n_numeric_manifests"] == 6
    assert r["n_compact_manifests"] == 1
    assert r["compact_batch_id"] == 3
    assert r["n_rows_precompact"] == 2
    assert r["max_commit_batch"] == 6
    assert r["n_rows_sink"] == 5
    assert r["sum_value_sink"] == 15.0
    assert r["compact_covers_prior"] and r["no_orphans"]
    assert r["none_missing"]


def test_dsir_topk_is_heap_bounded_and_selection_exact(spark):
    """q_dsir: the global top-K must compile to TakeOrderedAndProject
    (per-partition heap, driver merges K·P candidates — never a full
    sort), the λ model and the K-row selected set must broadcast, and
    no cartesian may appear (the totals crossJoin is a broadcast 1-row
    aggregate). Value invariants at sf0.001 (500 docs): n_docs
    partitions the corpus, exactly DSIR_K docs are selected overall,
    and a source with no selections carries a zero checksum."""
    from hippo_claim_crossover_spark.plans.text import DSIR_K

    plan = _plan(spark, "q_dsir")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    rows = ALL_SPECS["q_dsir"].fn(spark, SF_DIR).collect()
    assert sum(r["n_docs"] for r in rows) == 500
    assert sum(r["n_selected"] for r in rows) == DSIR_K
    for r in rows:
        assert r["min_w_ubits"] <= r["max_w_ubits"], r
        if r["n_selected"] == 0:
            assert r["sel_checksum"] == 0, r


def test_span_corrupt_spans_are_disjoint_and_reproducible(spark):
    """q_span_corrupt: no shuffle join anywhere (the only join is the
    final broadcast per-source census merge) and no cartesian. The
    semantics are re-derived independently in Python at sf0.001: for
    every eligible doc, recompute the md5 span placement, assert every
    span lies inside its own segment (hence disjoint from all others)
    and inside the doc, and reproduce the query's per-source
    masked/spans/checksum totals exactly."""
    import hashlib
    from collections import defaultdict

    from hippo_claim_crossover_spark.plans.text import (
        SPAN_MEAN_LEN,
        SPAN_MIN_TOKENS,
        SPAN_NOISE_PCT,
    )

    plan = _plan(spark, "q_span_corrupt")
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "BroadcastHashJoin" in plan

    docs = (spark.read.parquet(f"{SF_DIR}/documents.parquet")
            .select("doc_id", "source", "text").collect())
    want = defaultdict(lambda: [0, 0, 0])  # masked, spans, checksum
    for d in docs:
        n = len(d["text"].split(" "))
        if n < SPAN_MIN_TOKENS:
            continue
        n_mask = n * SPAN_NOISE_PCT // 100
        n_spans = max(1, n_mask // SPAN_MEAN_LEN)
        seg = n // n_spans
        for i in range(n_spans):
            len_i = n_mask // n_spans + (1 if i < n_mask % n_spans else 0)
            h = int(hashlib.md5(
                f"{d['doc_id']}#{i}".encode()).hexdigest()[:15], 16)
            start = i * seg + h % (seg - len_i + 1)
            # span fits strictly inside its own segment → disjointness
            assert i * seg <= start and start + len_i <= (i + 1) * seg
            assert start + len_i <= n
            acc = want[d["source"]]
            acc[0] += len_i
            acc[1] += 1
            acc[2] += len_i * start + len_i * (len_i - 1) // 2
    rows = ALL_SPECS["q_span_corrupt"].fn(spark, SF_DIR).collect()
    assert sum(r["n_docs"] for r in rows) == 500
    for r in rows:
        got = (r["masked_total"], r["spans_total"], r["mask_checksum"])
        assert got == tuple(want[r["source"]]), (r["source"], got)


def test_observe_metrics_equal_ground_truth_with_zero_extra_scans(spark):
    """q_observe: the observed metrics must equal independently computed
    aggregates over the same table (ground truth, not just 'something
    was recorded'), the filtered stage must be a strict subset of
    ingest, and the pipeline must stay one scan (observe() adds
    CollectMetrics, never a second FileScan of lineitem)."""
    rows = {r["stage"]: r
            for r in ALL_SPECS["q_observe"].fn(spark, SF_DIR).collect()}
    from pyspark.sql import functions as F

    from hippo_claim_crossover_spark.plans.base import money_micros, t
    li = t(spark, SF_DIR, "lineitem")
    truth = li.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(money_micros(F.col("l_extendedprice"))).alias("p"),
        F.sum(F.when(F.col("l_discount") > 0.05, 1).otherwise(0))
        .alias("d")).collect()[0]
    assert rows["ingest"]["n_rows"] == truth["n"]
    assert rows["ingest"]["price_micros"] == truth["p"]
    assert rows["ingest"]["n_discounted"] == truth["d"]
    assert rows["filtered"]["n_rows"] < rows["ingest"]["n_rows"]
    assert rows["filtered"]["price_micros"] <= rows["ingest"]["price_micros"]


def test_tok_fertility_is_vocab_compressed_and_bounded(spark):
    """q_tok_fertility: the BPE merges must be applied to the distinct-
    word vocabulary (localCheckpoint'ed ExistingRDD in the plan — never
    a per-doc re-tokenize), and the metric obeys its arithmetic bounds:
    3 merges can only SHRINK a word's token count from len(w), so
    n_chars >= n_subwords >= n_words (every word has >= 1 subword) and
    fertility_permille >= 1000."""
    plan = _plan(spark, "q_tok_fertility")
    assert "ExistingRDD" in plan
    assert "CartesianProduct" not in plan
    rows = ALL_SPECS["q_tok_fertility"].fn(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r["n_chars"] >= r["n_subwords"] >= r["n_words"] > 0, r
        assert r["fertility_permille"] >= 1000, r
        assert (r["fertility_permille"]
                == r["n_subwords"] * 1000 // r["n_words"]), r


def test_stream_state_carries_state_across_batches(spark):
    """q_stream_state: the update-mode output must contain MULTIPLE
    update rows for users spanning batches (cross-batch state carriage
    — the thing a batch GROUP BY cannot show), the final totals must
    equal the batch ground truth, and n_updates is bounded by the
    3-batch run."""
    from pyspark.sql import functions as F

    from hippo_claim_crossover_spark.plans.base import t
    rows = ALL_SPECS["q_stream_state"].fn(spark, SF_DIR).collect()
    assert rows
    assert all(1 <= r["n_updates"] <= 3 for r in rows)
    assert any(r["n_updates"] > 1 for r in rows), \
        "no user spanned a batch boundary — fixture no longer exercises state"
    truth = {r["user_id"]: r for r in (
        t(spark, SF_DIR, "events").groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum(F.floor(F.coalesce(F.col("value"), F.lit(0.0))
                           * 1e6 + 0.5).cast("long")).alias("s"))
        .collect())}
    assert len(rows) == len(truth)
    for r in rows:
        assert r["n_events"] == truth[r["user_id"]]["n"], r
        assert r["sum_micros"] == truth[r["user_id"]]["s"], r


def test_mix_temperature_upweights_small_sources_only(spark):
    """q_mix_temperature: α=1/2 smoothing must be a monotone flattening
    — every source with a BELOW-average raw share is upweighted and
    every above-average one downweighted (the defining property of
    temperature smoothing), shares stay a near-partition of 1000
    (integer-div truncation only), and the draw allocation never
    exceeds the budget."""
    from hippo_claim_crossover_spark.plans.extras import MIX_TEMP_BUDGET

    rows = ALL_SPECS["q_mix_temperature"].fn(spark, SF_DIR).collect()
    assert rows
    tot_tok = sum(r["n_tokens"] for r in rows)
    n_src = len(rows)
    for r in rows:
        # upweighted  <=>  raw share below the uniform 1/n point is
        # impossible in general; the exact property: smoothing moves
        # every share toward uniform, so upweighted iff raw share is
        # below the SMOOTHED share, which the query itself asserts by
        # cross-multiplication. Check the direction against raw mass:
        if r["upweighted"]:
            assert r["raw_permille"] <= r["temp_permille"], r
        else:
            assert r["raw_permille"] >= r["temp_permille"], r
    assert sum(r["n_draws"] for r in rows) <= MIX_TEMP_BUDGET
    assert 1000 - n_src <= sum(r["temp_permille"] for r in rows) <= 1000
    assert 1000 - n_src <= sum(r["raw_permille"] for r in rows) <= 1000
    assert tot_tok > 0


def test_sink_pyds_stream_batches_survive_and_round_trip(spark):
    """q_sink_pyds_stream: the custom stream sink must leave exactly
    one sealed manifest per micro-batch, every committed data file must
    be named by a manifest (no orphans, no pending litter), and the
    read-back totals must equal the events ground truth."""
    import glob
    import json
    import os

    from pyspark.sql import functions as F

    from hippo_claim_crossover_spark.plans.base import t
    rows = ALL_SPECS["q_sink_pyds_stream"].fn(spark, SF_DIR).collect()
    truth = {r["event_type"]: r for r in (
        t(spark, SF_DIR, "events").groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum(F.floor(F.coalesce(F.col("value"), F.lit(0.0))
                           * 1e6 + 0.5).cast("long")).alias("s"))
        .collect())}
    assert len(rows) == len(truth)
    for r in rows:
        assert 1 <= r["n_batches"] <= 3, r
        assert r["n_events"] == truth[r["event_type"]]["n"], r
        assert r["sum_micros"] == truth[r["event_type"]]["s"], r
    # inspect the sink directory the run materialized
    from hippo_claim_crossover_spark.session import last_output
    out = os.path.join(last_output(spark, "q_sink_pyds_stream", SF_DIR),
                       "out")
    manifests = sorted(glob.glob(os.path.join(out, "_SUCCESS-*")))
    assert len(manifests) == 3, manifests
    named = set()
    for m in manifests:
        with open(m) as f:
            named.update(json.load(f))
    data = {os.path.basename(p)
            for p in glob.glob(os.path.join(out, "batch-*.json"))}
    assert data == named, (data ^ named)
    assert not glob.glob(os.path.join(out, "pending-*"))


def test_sql_script_loop_matches_declarative_answer(spark):
    """q_sql_script: the WHILE-loop threshold must equal the
    declarative min-crossing computed independently, the session conf
    must be restored, and the stop rule must actually hold (2·cum >=
    total while the previous threshold fails it)."""
    from pyspark.sql import functions as F

    from hippo_claim_crossover_spark.plans.base import t
    before = spark.conf.get("spark.sql.scripting.enabled", "false")
    [r] = ALL_SPECS["q_sql_script"].fn(spark, SF_DIR).collect()
    assert spark.conf.get("spark.sql.scripting.enabled", "false") == before
    assert 2 * r["cum_micros"] >= r["total_micros"]
    li = t(spark, SF_DIR, "lineitem")
    micros = F.floor(F.col("l_extendedprice") * 1e6 + 0.5).cast("long")
    thr = F.floor(F.col("l_discount") * 100 + 0.5).cast("int")
    total = li.agg(F.sum(micros)).collect()[0][0]
    assert r["total_micros"] == total
    prev = li.where(thr <= r["thr_pct"] - 1).agg(
        F.coalesce(F.sum(micros), F.lit(0))).collect()[0][0]
    assert 2 * prev < total, "loop did not stop at the FIRST crossing"
    cur = li.where(thr <= r["thr_pct"]).agg(F.sum(micros)).collect()[0][0]
    assert cur == r["cum_micros"]


def test_sql_script_empty_input_yields_zero_rows(spark, tmp_path):
    """q_sql_script degenerate input (r12 ADVICE): on an EMPTY lineitem
    the coalesced total is 0, the guarded loop never runs, and the
    guarded final SELECT emits ZERO rows — matching the oracle's empty
    result instead of a one-engine-only (thr=-1, total=NULL) sentinel."""
    from hippo_claim_crossover_spark.io import SCHEMAS

    (spark.createDataFrame([], SCHEMAS["lineitem"])
     .write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet")))
    out = ALL_SPECS["q_sql_script"].fn(spark, str(tmp_path))
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == [
        "thr_pct", "cum_micros", "total_micros"]


def test_join_asof_near_is_one_pass_and_twap_weights_correctly(spark):
    """q_join_asof_near must stay ONE union+window pass (exactly one
    per-key Exchange feeding one Window with both carries — never a
    backward-join⋈forward-join recombination, which would double the
    shuffle), and every pick must be the true nearest (verified against
    a brute-force recomputation at sf0.001). q_twap: each user's TWAP
    must sit within [min, max] of their values and equal a brute-force
    per-user recomputation."""
    import collections

    plan = _plan(spark, "q_join_asof_near")
    assert plan.count("Window") >= 1
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan
    rows = ALL_SPECS["q_join_asof_near"].fn(spark, SF_DIR).collect()
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").collect()
    buys = collections.defaultdict(list)
    for e in ev:
        if e["event_type"] == "purchase":
            buys[e["user_id"]].append(e)
    # deterministic right side: per (user, ts) keep max event_id
    best = {}
    for u, lst in buys.items():
        per_ts = {}
        for e in lst:
            k = e["ts"]
            if k not in per_ts or e["event_id"] > per_ts[k]["event_id"]:
                per_ts[k] = e
        best[u] = sorted(per_ts.values(), key=lambda e: e["ts"])
    for r in rows:
        cands = best.get(r["user_id"], [])
        if not cands:
            assert r["buy_id"] is None
            continue
        want = min(cands, key=lambda e: (abs((e["ts"] - r["ts"])
                                             .total_seconds()),
                                         e["ts"] >= r["ts"]))
        assert r["buy_id"] == want["event_id"], (r, want)

    twap = ALL_SPECS["q_twap"].fn(spark, SF_DIR).collect()
    per_user = collections.defaultdict(list)
    for e in ev:
        per_user[e["user_id"]].append(e)
    for r in twap:
        evs = sorted(per_user[r["user_id"]],
                     key=lambda e: (e["ts"], e["event_id"]))
        wsum = dur = 0
        for a, b in zip(evs, evs[1:]):
            d = int((b["ts"] - a["ts"]).total_seconds())
            vm = int((a["value"] or 0.0) * 1e6 + 0.5)
            wsum += vm * d
            dur += d
        assert r["n_segments"] == len(evs) - 1
        assert r["dur_s"] == dur and r["wsum_micros_s"] == wsum, r
        if dur > 0:
            assert r["twap_micros"] == wsum // dur


def test_rolling_median_frame_is_bounded_and_exact(spark):
    """q_rolling_median: the collect_list window must run over the
    BOUNDED 7-row frame (the plan's window spec says so — an unbounded
    frame would be the q_win_frame anti-pattern), and the trailing
    median per user must equal a Python recomputation of the lower
    median over each user's last 7 values."""
    plan = _plan(spark, "q_rolling_median")
    assert "specifiedwindowframe(RowFrame, -6, currentrow$())" in plan
    # the trailing-row pick compiles to WindowGroupLimit (per-partition
    # top-1 prune before the rank window — no full sort materialized)
    assert "WindowGroupLimit" in plan
    rows = {r["user_id"]: r
            for r in ALL_SPECS["q_rolling_median"].fn(spark, SF_DIR)
            .collect()}
    import collections
    ev = spark.read.parquet(f"{SF_DIR}/events.parquet").collect()
    per = collections.defaultdict(list)
    for e in ev:
        per[e["user_id"]].append((e["ts"], e["event_id"], e["value"]))
    assert set(rows) == set(per)
    for u, lst in per.items():
        lst.sort()
        tail = [v for _, _, v in lst[-7:]]
        tail.sort()
        want = tail[(len(tail) + 1) // 2 - 1]
        assert rows[u]["n_in_frame"] == len(tail)
        assert rows[u]["roll_median"] == want, (u, tail, rows[u])


def test_host_dedup_matches_independent_recomputation(spark):
    """q_host_dedup: the plan must be two cascaded aggregations with no
    window/join/cartesian (the host rollup partial-aggregates — never a
    per-URL window over the raw stream), and the rollup must equal a
    from-scratch Python reimplementation of the synthesis +
    canonicalization + keep-best pipeline at sf0.001."""
    import collections
    import hashlib
    import re

    plan = _plan(spark, "q_host_dedup")
    assert plan.count("HashAggregate") >= 4  # partial+final at 2 grains
    assert "Window" not in plan
    assert "Join" not in plan and "CartesianProduct" not in plan
    rows = {r["host"]: r
            for r in ALL_SPECS["q_host_dedup"].fn(spark, SF_DIR).collect()}
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").collect()
    per_url = collections.defaultdict(list)
    for d in docs:
        h = int(hashlib.md5(str(d["doc_id"]).encode()).hexdigest()[:15], 16)
        url = (("http://" if h % 2 == 0 else "https://")
               + ("" if (h // 2) % 2 == 0 else "www.")
               + f"{d['source']}.example.com/docs/{(h // 16) % 37}"
               + ("" if (h // 4) % 2 == 0 else "/")
               + ("" if (h // 8) % 2 == 0 else "?utm_source=feed"))
        curl = re.sub(r"^https?://", "", url)
        curl = re.sub(r"\?.*$", "", curl)
        curl = re.sub(r"^www\.", "", curl)
        curl = re.sub(r"/$", "", curl)
        per_url[curl].append((d["n_chars"], d["doc_id"]))
    want = collections.defaultdict(
        lambda: {"n_docs": 0, "n_urls": 0, "kept": 0})
    for curl, members in per_url.items():
        host = curl.split("/")[0]
        kept = max(members, key=lambda m: m[0] * (1 << 40) - m[1])[1]
        want[host]["n_docs"] += len(members)
        want[host]["n_urls"] += 1
        want[host]["kept"] += kept
    assert set(rows) == set(want)
    saw_dup = False
    for host, w in want.items():
        r = rows[host]
        assert (r["n_docs"], r["n_urls"], r["kept_checksum"]) == \
            (w["n_docs"], w["n_urls"], w["kept"]), host
        assert r["dup_permille"] == \
            (w["n_docs"] - w["n_urls"]) * 1000 // w["n_docs"]
        saw_dup = saw_dup or w["n_docs"] > w["n_urls"]
    assert saw_dup, "fixture produced no URL-level dup — dedup untested"


def test_stream_foreach_resume_is_exactly_once(spark):
    """q_stream_foreach: every split must land in exactly ONE sink
    micro-batch (n_sink_batches=1 — the checkpoint resume processed
    only the new file, the no-op rerun appended nothing), and the
    totals must equal the batch ground truth."""
    from pyspark.sql import functions as F

    from hippo_claim_crossover_spark.plans.base import t
    rows = ALL_SPECS["q_stream_foreach"].fn(spark, SF_DIR).collect()
    assert [r["split"] for r in rows] == [0, 1, 2]
    assert all(r["n_sink_batches"] == 1 for r in rows)
    ev = t(spark, SF_DIR, "events")
    n = ev.count()
    assert sum(r["n_events"] for r in rows) == n > 0


def test_stream_rocksdb_matches_batch_and_restores_conf(spark):
    """q_stream_rocksdb: the RocksDB-backed 3-batch streaming run must
    equal the batch window aggregate exactly (state survived two
    commit/restore cycles) and must restore the provider conf."""
    from pyspark.sql import functions as F

    from hippo_claim_crossover_spark.plans.base import money_micros, t
    key = "spark.sql.streaming.stateStore.providerClass"
    before = spark.conf.get(key, "unset")
    got = {(r["window_start"], r["event_type"]):
           (r["n_events"], r["sum_micros"])
           for r in ALL_SPECS["q_stream_rocksdb"].fn(spark, SF_DIR)
           .collect()}
    assert spark.conf.get(key, "unset") == before
    ev = t(spark, SF_DIR, "events")
    want = {(r["ws"], r["event_type"]): (r["n"], r["s"])
            for r in ev.groupBy(
                F.window("ts", "10 minutes").getField("start").alias("ws"),
                "event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(money_micros(F.coalesce(F.col("value"),
                                               F.lit(0.0)))).alias("s"))
            .collect()}
    assert got == want and got
