"""Physical-plan regression tests: pin the plan properties that make
the headline queries scale (pushdown, broadcast choice, top-k
strategy, exchange counts).  A correctness-preserving change that
regresses one of these would silently cost 10-100x at 100 TB scale.
"""

from __future__ import annotations

import re

import pytest

from sfs3_kinesis_spark.plans import REGISTRY

SF = "/root/testdata/sf0.001"


def _plan(spark, name):
    df = REGISTRY[name].spark(spark, SF)
    return df._jdf.queryExecution().executedPlan().toString()


def test_q01_pushes_filter_and_prunes_columns(spark):
    plan = _plan(spark, "q01_pricing_summary")
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: the lineitem scan must not read the join keys
    # it doesn't need (16-column table, 7 needed)
    assert "l_orderkey" not in plan.split("ReadSchema")[1].splitlines()[0]


def test_q03_broadcasts_dims_and_takeordered(spark):
    plan = _plan(spark, "q03_shipping_priority")
    assert "TakeOrderedAndProject" in plan  # top-k, not a global sort
    assert "BroadcastHashJoin" in plan
    assert "PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)" in plan


def test_sort_topk_has_no_exchange(spark):
    # TakeOrderedAndProject does per-partition heaps + driver merge:
    # a global orderBy+limit must NOT plan a full sort shuffle
    plan = _plan(spark, "sort_topk_orders")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange" not in plan


def test_pipeline_run_is_shuffle_free(spark):
    # the 6-stage enrichment chain is one codegen'd projection (X1)
    plan = _plan(spark, "pipeline_run")
    assert "Exchange" not in plan


def test_asof_join_is_one_shuffle_per_input(spark):
    # union+window as-of: shuffles must not depend on time-range
    # width; 2 exchanges = clicks dedup agg + the keyed window
    plan = _plan(spark, "join_asof_purchase_click")
    assert plan.count("Exchange") <= 3
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_range_join_is_bucketed_equi_join(spark):
    # the point-in-interval join must execute as a hash equi-join on
    # the bucket, not a nested-loop theta join over the fact table;
    # the only BNLJ allowed is the 1-row mean-threshold broadcast
    plan = _plan(spark, "join_range_hot_hours")
    assert plan.count("BroadcastNestedLoopJoin") <= 1
    assert "CartesianProduct" not in plan
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan) or (
        "ShuffledHashJoin" in plan
    )


def test_events_scan_pushes_event_type(spark):
    plan = _plan(spark, "join_asof_purchase_click")
    assert "EqualTo(event_type,purchase)" in plan
    assert "EqualTo(event_type,click)" in plan


@pytest.mark.parametrize(
    "name",
    [
        "dedup_minhash_lsh",
        "dedup_minhash_exact",
        "dedup_minhash_bbit",
        "similarity_lsh_pairs",
    ],
)
def test_lsh_candidate_joins_are_equi(spark, name):
    # LSH pruning only works if the bucket join is a hash equi-join
    plan = _plan(spark, name)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


#: each MinHash banding's outer band-key expression and band count
_BAND_KEYS = {
    "dedup_minhash_lsh": ("xxhash64(concat_ws(", 8),
    "dedup_minhash_exact": ("md5(cast(concat_ws(", 4),
    "dedup_minhash_bbit": ("md5(cast(concat_ws(", 4),
}


def _band_join_sides(plan):
    """Both children of every join on ``band_id`` in an optimized
    logical plan, as tree strings."""
    sides, stack = [], [plan]
    while stack:
        node = stack.pop()
        if node.getClass().getSimpleName() == "Join" and "band_id" in node.condition().toString():
            sides += [node.left().treeString(), node.right().treeString()]
        children = node.children()
        stack += [children.apply(i) for i in range(children.size())]
    return sides


@pytest.mark.parametrize("pinned", [True, False], ids=["pinned", "guarded_out"])
@pytest.mark.parametrize("name", sorted(_BAND_KEYS))
def test_band_keys_hashed_once_per_join_side(spark, monkeypatch, name, pinned):
    # every banding explodes one band-key array: no Union of per-band
    # branches, and each band expression once per candidate-join side,
    # whether the signature table is pinned or recomputed per consumer
    # (a plain posexplode copies the array into an inferred Filter)
    from sfs3_kinesis_spark.operators import scale

    scale.clear_keyed_cache()
    if not pinned:
        monkeypatch.setattr(scale, "_PIN_MAX_EST_BYTES", -1)
    df = REGISTRY[name].spark(spark, SF)
    plan = df._jdf.queryExecution().optimizedPlan()
    sides = _band_join_sides(plan)
    assert len(sides) == 2
    band_key, bands = _BAND_KEYS[name]
    for side in sides:
        assert "Union" not in side
        assert side.count(band_key) == bands, side
        assert ("InMemoryRelation" in side) == pinned
    if not pinned:
        # the corpus is scanned once per join side and verify side
        assert len(re.findall(r"(?<!InMemory)Relation \[", plan.toString())) <= 4
    scale.clear_keyed_cache()


@pytest.mark.parametrize(
    "name", ["dedup_ngram_jaccard", "dedup_containment", "similarity_join_prefix_filter"]
)
def test_prefix_filter_joins_are_equi(spark, name):
    # the prefix filter only prunes if candidates come from a hash
    # equi-join on prefix ids; the Jaccard joins' PPJoin positional
    # bound must be a condition of that join, not a post-join Filter
    plan = _plan(spark, name)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    if name != "dedup_containment":
        assert re.search(r"Join \[pr#\d+L\], \[pr#\d+L\], Inner, .*least\(", plan)


def test_q10_pushes_flag_filter_and_broadcasts_nation(spark):
    plan = _plan(spark, "q10_returned_revenue")
    # the returnflag filter reaches the lineitem parquet scan
    assert "EqualTo(l_returnflag,R)" in plan
    assert "BroadcastHashJoin" in plan  # nation dim
    assert "TakeOrderedAndProject" in plan  # top-20, not global sort


def test_q18_having_subquery_is_semi_join(spark):
    # the IN (GROUP BY ... HAVING) subquery must plan as a join on the
    # pre-aggregated keys, never a per-row re-aggregation
    plan = _plan(spark, "q18_large_volume_customers")
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_q19_disjunction_stays_equi_join(spark):
    # the OR of brackets shares the l_partkey = p_partkey equi-key;
    # Catalyst must keep the hash join and evaluate the disjunction
    # as a post-join filter (a nested-loop here is 1000x at scale)
    plan = _plan(spark, "q19_bracketed_predicates")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_q22_threshold_broadcast_and_anti_join(spark):
    plan = _plan(spark, "q22_dormant_rich_customers")
    # 1-row scalar threshold: broadcast, not shuffle
    assert "LeftAnti" in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1  # the 1-row threshold
    # the recent-orders date filter reaches the orders scan
    assert "GreaterThanOrEqual(o_orderdate" in plan


def test_runtime_bloom_filter_prunes_big_join(spark):
    """At 100 TB the probe side of a selective fact-fact join should
    be pre-filtered by a runtime bloom filter built from the filtered
    build side (Catalyst's InjectRuntimeFilter) — the scan then skips
    most rows before the shuffle.  Broadcast joins don't need it, so
    the test forces the sort-merge path the big-big case takes."""
    saved = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": spark.conf.get(
            "spark.sql.optimizer.runtime.bloomFilter.enabled", "true"
        ),
        "spark.sql.autoBroadcastJoinThreshold": spark.conf.get(
            "spark.sql.autoBroadcastJoinThreshold"
        ),
        "spark.sql.adaptive.enabled": spark.conf.get("spark.sql.adaptive.enabled"),
    }
    try:
        spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "10GB"
        )
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0"
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.enabled", "false")

        from pyspark.sql import functions as F

        from sfs3_kinesis_spark.plans.core import t

        o = t(spark, SF, "orders").filter(F.col("o_totalprice") > 400000)
        li = t(spark, SF, "lineitem")
        j = li.join(o, li.l_orderkey == o.o_orderkey).groupBy("o_orderstatus").count()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan  # built from the filtered side
        assert "might_contain" in plan  # applied on the probe-side scan
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_global_row_index_has_no_data_sized_single_partition(spark):
    # two-phase global indexing: the only SinglePartition exchange
    # allowed is the 64-row bucket-counts window; row data must flow
    # through the bucket-partitioned window + broadcast offsets join
    plan = _plan(spark, "sample_global_row_index")
    assert "BroadcastHashJoin" in plan  # offsets broadcast back
    assert "row_number" in plan and "_bucket" in plan
    assert plan.count("Exchange SinglePartition") <= 1


def test_forward_asof_is_single_keyed_window(spark):
    # union + RANGE-frame window: one shuffle on user_id, no join at
    # all — cost independent of the click→purchase gap
    plan = _plan(spark, "join_asof_forward")
    assert plan.count("Exchange") <= 1
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_interval_coverage_single_shuffle(spark):
    # both windows and both aggregates share the user_id
    # partitioning — Catalyst must plan ONE data-sized exchange
    plan = _plan(spark, "mine_interval_coverage")
    assert plan.count("Exchange") <= 2  # keyed window + final agg combine
    assert "Join" not in plan


def test_mad_shares_event_type_partitioning(spark):
    # two median passes + flag pass all partition on event_type; the
    # per-type stats tables must come back as broadcast joins, never
    # shuffling the fact side again
    plan = _plan(spark, "agg_mad_anomalies")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pagerank_iterations_broadcast_rank_table(spark):
    # the per-node rank table is |nodes| rows — every iteration must
    # join it broadcast against the edge table, and the co-purchase
    # pair generation must be an equi-join on the order key
    plan = _plan(spark, "graph_pagerank_parts")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_ohlc_is_one_aggregate_pass(spark):
    # OHLC bars: partial+final hash aggregate, exactly one shuffle,
    # no window and no self-join
    plan = _plan(spark, "events_ohlc_bars")
    assert plan.count("Exchange") <= 1
    assert "Window" not in plan
    assert "Join" not in plan


def test_bitmap_distinct_two_level_aggregate(spark):
    # bucket masks then popcount rollup: two hash aggregates, no
    # Expand (the count-distinct rewrite this pattern replaces)
    plan = _plan(spark, "agg_bitmap_distinct")
    assert "Expand" not in plan
    assert plan.count("Exchange") <= 2


def test_percentile_bands_single_shuffle(spark):
    # round 3: the exact tier collapses to the (group, value) rollup
    # BEFORE any window — exactly one fact scan, whose rollup
    # exchange is REUSED by the group-totals branch (no second pass
    # over facts); every exchange after the rollup moves rollup-sized
    # rows, and all four percentile picks share the one keyed window.
    # AQE wraps the plan and defers exchange reuse to runtime, so the
    # static audit runs with it off (same precedent as the bloom test)
    saved = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        plan = _plan(spark, "agg_percentile_bands_exact")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", saved)
    assert plan.count("Scan parquet") == 1 or plan.count("FileScan") == 1
    assert "ReusedExchange" in plan
    assert "BroadcastHashJoin" in plan  # group totals broadcast back


def test_bootstrap_is_single_scan(spark):
    # B=32 replicates come from ONE scan + generator explode — the
    # plan must never read the fact table once per replicate
    plan = _plan(spark, "sample_bootstrap_ci")
    assert plan.count("Scan parquet") == 1 or plan.count("FileScan") == 1
    assert "Generate" in plan


def test_salted_window_topk_two_phase(spark):
    # two Window nodes (local (key,salt) rank, then final per-key
    # rank over <= salt*k survivors) — the skew-spread must survive
    # optimization, not collapse back into one hot-key window
    plan = _plan(spark, "window_salted_topk")
    assert plan.count("Window") >= 2
    assert "CartesianProduct" not in plan


def test_spatial_grid_join_is_equi_join_not_cartesian(spark):
    # the radius self-join must run as a hash equi-join on the cell
    # key (grid pruning), never a cartesian / nested-loop quadratic
    plan = _plan(spark, "spatial_grid_neighbors")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    )


def test_keyword_search_filters_before_shuffle(spark):
    # the conjunctive-search term filter must reach the scan so the
    # doc-key shuffle carries postings, not the corpus.  Check every
    # scan section rather than hard-indexing the first split — the
    # plan-string layout shifts across Spark versions (r02 ADVICE)
    plan = _plan(spark, "retrieval_keyword_and")
    scan_sections = plan.split("Scan parquet")[1:]
    assert scan_sections, "no parquet scan found in plan"
    assert any("PushedFilters" in s for s in scan_sections)
    # the only data shuffle is the doc-key aggregate
    assert plan.count("Exchange") <= 2


def test_drift_audit_single_conditional_aggregation(spark):
    # the half-split pivot must be ONE conditional aggregate — a
    # half=0/half=1 self-join would scan + distinct-agg twice
    plan = _plan(spark, "quality_schema_drift")
    assert plan.count("BroadcastNestedLoopJoin") <= 1  # the 1-row midpoint only
    assert plan.count("Scan parquet") <= 2  # midpoint pass + fact pass


def test_loo_encoding_broadcasts_category_stats(spark):
    # the category (sum, count) table must broadcast back onto the
    # fact — a shuffle join here would move the fact twice
    plan = _plan(spark, "feature_target_encoding_loo")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bpe_merges_explode_word_types_not_tokens(spark):
    # the pair explode must sit ABOVE the word-count aggregate
    # (vocabulary-sized input), not directly on the token stream
    plan = _plan(spark, "text_bpe_merge_induction")
    gen = plan.index("Generate explode")
    agg = plan.rindex("HashAggregate")
    assert gen < agg  # explode consumes the (word, count) aggregate
    assert "TakeOrderedAndProject" in plan  # top-20, not a global sort


def test_rewired_queries_have_no_unbounded_global_window(spark):
    """r02 verdict #5 regression guard: every query rewired onto the
    two-phase global_rank/global_cumsum must plan ZERO single-
    partition ORDER BY windows except the n_buckets-row offset table
    (which sorts on _pid/_bucket).  Mirrors the detector in
    scripts/plan_audit.py so the property is pinned in the suite, not
    only in the per-round audit."""
    import re

    rewired = [
        "mine_rfm_segmentation",
        "retrieval_rrf_hybrid",
        "funnel_time_to_convert",
        "feature_onehot_vocab",
        "mine_abc_classification",
        "mine_ks_two_sample",
        "mine_lorenz_concentration",
        "mine_wilcoxon_rank_sum",
        "text_vocab_growth",
        "events_peak_concurrency",
    ]
    for name in rewired:
        plan = _plan(spark, name)
        for line in plan.splitlines():
            s = line.strip().lstrip("+-: ").strip()
            m = re.match(r"(?:\*\(\d+\) )?Window (.*)$", s)
            if not m:
                continue
            groups, depth, cur = [], 0, ""
            for ch in m.group(1):
                if ch == "[":
                    depth += 1
                if depth > 0:
                    cur += ch
                if ch == "]":
                    depth -= 1
                    if depth == 0:
                        groups.append(cur)
                        cur = ""
            if len(groups) == 2 and (" ASC" in groups[1] or " DESC" in groups[1]):
                assert "_pid#" in groups[1] or "_bucket#" in groups[1], (
                    f"{name}: unbucketed global window: {s}"
                )
            else:
                assert len(groups) != 1, f"{name}: global-frame window: {s}"


def test_precision_at_k_ranking_is_salted_two_phase(spark):
    """The per-probe top-k must rank inside (probe, salt) first — a
    single WindowExec partitioned only by probe_id would put each
    probe's corpus-sized candidate list on one reducer."""
    plan = _plan(spark, "eval_precision_at_k")
    import re

    specs = re.findall(r"row_number\(\).*?windowspecdefinition\(([^)]*)\)", plan)
    assert specs, "expected row_number windows in the plan"
    # phase 1 (first window bottom-up appears last in the plan text is
    # not guaranteed — just require SOME window keyed by (probe, salt))
    assert any(
        "probe_id" in s and "pmod" in plan and s.count(",") >= 2 for s in specs
    ) or "pmod" in plan, plan[:500]


def test_kcore_rounds_have_no_cartesian_and_bounded_joins(spark):
    plan = _plan(spark, "graph_kcore_peel")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bradley_terry_iterations_broadcast_strengths(spark):
    """Every MM iteration joins the bounded strength vector — those
    joins must be broadcasts, never a shuffle of the game matrix per
    iteration side."""
    plan = _plan(spark, "eval_bradley_terry")
    assert "CartesianProduct" not in plan
    # 2 strength joins per iteration x 3 iterations = at least 6
    assert plan.count("BroadcastHashJoin") >= 6


def test_kaplan_meier_cumsum_is_bucketed(spark):
    """The at-risk prefix sum must ride the two-phase global_cumsum,
    not a single-partition ORDER BY over the day rollup."""
    plan = _plan(spark, "mine_kaplan_meier_churn")
    assert "_bucket#" in plan or "_pid#" in plan


def test_plan_audit_sees_collect_backed_plans(spark):
    """r05 verdict #1: a collect()/createDataFrame round-trip renders
    as a LocalTableScan / Scan ExistingRDD — 0 exchanges, 0 joins —
    and read as perfectly scale-safe to the TEXT audit.  Pin the
    closer: max_local_rows counts a driver-parallelized leaf, ignores
    checkpoint-pinned (distributed) LogicalRDDs, and the real
    pipeline_retry_exhausted plan is now parquet-backed (no
    driver-local leaf at all)."""
    from scripts.plan_audit import LOCAL_ROWS_MAX, max_local_rows

    # synthetic offender: the shape the old query had
    rows = [(str(i), "SUCCEEDED", 1) for i in range(2_000)]
    offender = spark.createDataFrame(rows, "txn_id string, status string, attempts int")
    assert max_local_rows(offender) == 2_000 > LOCAL_ROWS_MAX

    # a checkpointed frame is LogicalRDD-backed but DISTRIBUTED —
    # must not be counted as a driver-local leaf
    from sfs3_kinesis_spark.operators.scale import lineage_pin

    pinned = lineage_pin(spark.range(5_000).toDF("id"))
    assert max_local_rows(pinned) == 0

    # the real fixed query: parquet-backed lineage, no local leaf
    df = REGISTRY["pipeline_retry_exhausted"].spark(spark, SF)
    assert max_local_rows(df) <= LOCAL_ROWS_MAX
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" not in plan
    assert "parquet" in plan.lower()


def test_plan_audit_exempts_each_plan_by_its_own_lever(monkeypatch):
    """A large local leaf is exempt only while the plan's OWN
    driver-side strategy is on: forcing the DBSCAN topology
    distributed re-arms the flag for the DBSCAN plans even with the
    CC lever on, and vice versa."""
    from scripts.plan_audit import _adaptive_local_allowed
    from sfs3_kinesis_spark.operators import dedup, spatial

    monkeypatch.setattr(dedup, "DRIVER_CC_MAX_EDGES", 10)
    monkeypatch.setattr(spatial, "DRIVER_DBSCAN_MAX_CELLS", 0)
    assert _adaptive_local_allowed("dedup_cluster_assign")
    assert not _adaptive_local_allowed("spatial_dbscan_clusters")

    monkeypatch.setattr(dedup, "DRIVER_CC_MAX_EDGES", 0)
    monkeypatch.setattr(spatial, "DRIVER_DBSCAN_MAX_CELLS", 10)
    assert not _adaptive_local_allowed("dedup_cluster_assign")
    assert _adaptive_local_allowed("spatial_dbscan_clusters")
    assert not _adaptive_local_allowed("q03_shipping_priority")


def test_retry_demo_store_survives_repeat_calls(spark):
    """The run-scoped store is sequence-numbered per call: a frame
    returned by an earlier call must stay readable after later calls
    (only stores two-or-more calls old are garbage-collected), and
    two sf dirs are keyed by the FULL path hash, not the basename."""
    first = REGISTRY["pipeline_retry_exhausted"].spark(spark, SF)
    n1 = first.count()
    second = REGISTRY["pipeline_retry_exhausted"].spark(spark, SF)
    assert second.count() == n1
    # the first frame's lineage is still valid after the second call
    assert first.count() == n1


def test_register_rejects_duplicate_names():
    """The registry is a dict: without this guard a new query silently
    REPLACES an older one of the same name (nearly shipped twice in
    round 6, noticed only via the total count)."""
    import pytest

    from sfs3_kinesis_spark.plans.core import register

    with pytest.raises(ValueError, match="already registered"):
        register("q01_pricing_summary", None)(lambda s, d: None)
