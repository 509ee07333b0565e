"""Audit the physical plan of every corpus query and write PLANS.md:
a per-query table of the plan properties that matter at 100 TB —
shuffle count, join strategies, scan pushdown, codegen coverage —
plus a red-flag list (cartesian products, nested-loop joins on
non-trivial inputs, scans with no pushed filters where a filter
exists in the query).

Usage: python scripts/plan_audit.py [sf_dir]  (writes PLANS.md)
"""

from __future__ import annotations

import re
import sys

sys.path.insert(0, ".")

from sfs3_kinesis_spark.plans import REGISTRY  # noqa: E402
from sfs3_kinesis_spark.session import get_spark  # noqa: E402


def global_windows(plan: str) -> int:
    """Count Window nodes that funnel their whole input through ONE
    partition: an ORDER BY with no PARTITION BY (2 bracket groups,
    second contains sort directions) or a fully global frame (1
    group).  Windows whose sort key references ``_pid`` or ``_bucket`` are the
    bucket-count offset tables of the two-phase global_rank /
    global_cumsum / global_row_index machinery — bounded by
    ``n_buckets`` regardless of data size, so not flagged."""
    n = 0
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
            if "_pid#" not in groups[1] and "_bucket#" not in groups[1]:
                n += 1
        elif len(groups) == 1:
            n += 1
    return n


#: a LocalRelation leaf bigger than this is a driver-side
#: materialization smuggled into a registered query (collect() +
#: createDataFrame): its LocalTableScan plan shows 0 exchanges /
#: 0 joins and every other column of this audit reads as perfectly
#: scale-safe — the one shape the TEXT audit is blind to.  Bounded
#: literal tables (query vectors, sign grids, centroid seeds,
#: boundary arrays) all sit far below this.
LOCAL_ROWS_MAX = 256


def _has_parallel_collection(jrdd) -> bool:
    """True if a ParallelCollectionRDD sits anywhere in the RDD's
    dependency lineage — the signature of a driver-held collection
    (collect() + createDataFrame / parallelize).  Checkpoint-pinned
    frames are also LogicalRDD leaves, but their lineage roots in a
    ReliableCheckpointRDD (distributed files), never a parallelized
    driver buffer — so iterative queries using lineage_pin don't
    false-positive here."""
    if jrdd.getClass().getSimpleName() == "ParallelCollectionRDD":
        return True
    it = jrdd.dependencies().iterator()
    while it.hasNext():
        if _has_parallel_collection(it.next().rdd()):
            return True
    return False


def max_local_rows(df) -> int:
    """Largest driver-local leaf (rows) in the optimized plan.  The
    executed-plan STRING renders local inputs as `LocalTableScan` /
    `Scan ExistingRDD` with no size, so a collect-backed result is
    indistinguishable from an 8-row literal table there; here the
    LocalRelation node carries its row buffer directly, and a
    LogicalRDD whose lineage roots in a ParallelCollectionRDD is
    counted (a job, but exactly as large as the offending collect)."""
    leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
    worst = 0
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        name = leaf.nodeName()
        if name == "LocalRelation":
            worst = max(worst, leaf.data().size())
        elif name == "LogicalRDD" and _has_parallel_collection(leaf.rdd()):
            worst = max(worst, leaf.rdd().count())
    return worst


def audit(plan: str) -> dict[str, int | str]:
    return {
        "exchanges": len(re.findall(r"\bExchange\b", plan)),
        "gwin": global_windows(plan),
        "bhj": plan.count("BroadcastHashJoin"),
        "smj": plan.count("SortMergeJoin"),
        "shj": plan.count("ShuffledHashJoin"),
        "bnlj": plan.count("BroadcastNestedLoopJoin"),
        "cartesian": plan.count("CartesianProduct"),
        # codegen'd operators print as "*(n) Op"; count distinct spans
        "codegen": len(set(re.findall(r"\*\((\d+)\)", plan))),
        "pushed": "y" if "PushedFilters: [" in plan and "PushedFilters: []" not in plan else "-",
        "topk": "y" if "TakeOrderedAndProject" in plan else "-",
    }


#: queries whose plans legitimately compose MORE than one broadcast
#: nested-loop join of a PROVABLY BOUNDED side (audit queries that run
#: two scoring tiers in one plan).  Each component alone stays under
#: the default limit of 1; the exemption documents the composition.
BNLJ_ALLOWED = {
    # two ONE-ROW global-total broadcasts (feedback-set token total
    # and corpus token total) fused into the per-term lift projection
    "retrieval_query_expansion": 2,
    # brute-force baseline (5 query vectors x corpus, broadcast) +
    # IVF probe scoring (5 query vectors x 16 centroids, broadcast)
    "similarity_ivf_recall_audit": 2,
    # 1-row total-weight broadcast onto the 100-row stride table +
    # 100-row stride broadcast interval lookup into the fact side
    "sample_systematic_pps": 2,
    # two ONE-ROW corpus-stat broadcasts (T,N totals and the df
    # count) fused into the BM25 score projection
    "retrieval_bm25": 2,
    # 1-row total broadcasts joined onto two-phase rank/cumsum outputs
    "mine_rfm_segmentation": 2,
    "mine_abc_classification": 2,
    "mine_ks_two_sample": 2,
    "mine_lorenz_concentration": 2,
    "funnel_time_to_convert": 2,
    "feature_onehot_vocab": 2,
    # two ONE-ROW centroid-matrix broadcasts (cell assignment feeds
    # both sides of the within-cell pair join) — each is a projection
    # in join clothing, deliberately a column instead of a k x dim
    # literal so Catalyst compile time stays O(1) in k
    "dedup_semantic_cells": 2,
    # full-dim and truncated-dim brute-force tiers in ONE plan, each
    # a 5-query-vector broadcast against the corpus (the same bounded
    # shape similarity_ivf_recall_audit composes)
    "similarity_matryoshka_audit": 2,
    # ONE bounded pair grid (|event_type| distinct rows, a<b) whose
    # subtree is duplicated into both equi-join branches of the
    # synopsis union; the sketch algebra itself is hash joins over
    # <=256-row synopses and the exact tier is a BroadcastHashJoin
    # on user_id (verified in the physical plan)
    "agg_kmv_intersection_audit": 2,
    # ADC scoring tier + exact re-scoring tier in ONE plan, each an
    # 8-row query-table broadcast against the corpus (the codes scan
    # and the exact scan) — the same bounded shape as
    # similarity_ivf_recall_audit's two tiers
    "similarity_pq_adc_audit": 2,
    # (1) the 64x8 literal sign-grid crossJoin (512 generated rows,
    # no table input) and (2) the inequality pair-join over the
    # 32-row audit slice (496 pairs at any sf) — both sides bounded
    # by construction; the full-table projection itself is an
    # equi-broadcast-join + map-side-combined partial sum
    "feature_random_projection": 2,
    # ONE 1-row broadcast (the n_total / probe-vector scalar) whose
    # subtree feeds both the bucket-count branch and the rank branch
    # of the two-phase global_rank/global_cumsum; since r05 removed
    # the localCheckpoint pin (r04 verdict item 3) the static plan
    # PRINTS the subtree twice — at runtime the persist() inside
    # _bucketed materializes it once, so this is one bounded BNLJ,
    # not two
    "mine_kaplan_meier_churn": 2,
    "retrieval_rrf_hybrid": 2,
    # three ONE-ROW broadcasts: the (nt, k) corpus-totals row joined
    # onto the |languages| rollup (appearing twice because the weight
    # frame feeds both the reweighted-mass aggregate and the final
    # projection) and the 1-row reweighted-mass total — the second
    # total depends on the first, so they cannot fuse; every
    # broadcast side is exactly one row
    "sample_importance_reweight": 3,
}

#: queries whose plans legitimately keep a single-partition ORDER BY
#: window because the windowed input is PROVABLY BOUNDED — a rollup
#: keyed on a finite domain (calendar buckets, nations, languages, a
#: fixed stride table), never a dimension or fact table.  Unbounded
#: inputs must use the two-phase global_rank / global_cumsum
#: (operators/scale.py) instead; anything not listed here is a red
#: flag.  Value = (allowed count, bound justification).
GLOBAL_WINDOW_ALLOWED = {
    "alloc_largest_remainder": (2, "|nations| rollup (25 rows)"),
    "sample_allocation_neyman": (2, "|languages| rollup (5 rows)"),
    "sample_mixture_budget": (2, "|languages| rollup"),
    "sample_temperature_lang": (1, "|languages| rollup"),
    "sample_systematic_pps": (1, "fixed 100-row stride table"),
    "events_slo_burn_rate": (1, "hourly rollup (calendar-bounded)"),
    "join_range_hot_hours": (2, "hourly rollup (calendar-bounded)"),
    "mine_change_point": (2, "daily rollup (calendar-bounded)"),
    "mine_spearman_daily_rho": (2, "daily rollup (calendar-bounded)"),
    "eval_bootstrap_ci": (1, "fixed 200-row resample-accuracy table"),
}

#: queries whose plan may legitimately carry a LocalRelation leaf
#: LARGER than LOCAL_ROWS_MAX, each mapped to the adaptive driver-side
#: strategy that puts it there.  "cc": the clustering stage runs
#: through the ADAPTIVE connected-components strategy
#: (operators/dedup.py, r10) — edge lists at/below
#: SFS3K_DRIVER_CC_MAX_EDGES are solved driver-side by union-find (the
#: broadcast-join analog: bounded bytes collected, gated on the
#: MEASURED edge count, value-identical to the distributed loop per
#: tests/test_dedup_clusters.py's forced-distributed equivalence
#: case), so the component map re-enters the plan as a local leaf
#: whose size is the gated graph's vertex count, not an unbounded
#: collect.  "dbscan": the DBSCAN cell topology (operators/spatial.py,
#: r11) is computed driver-side at/below SFS3K_DRIVER_DBSCAN_MAX_CELLS
#: and re-enters as local cell/edge leaves.  At the audit's default
#: sf0.001 these stay under LOCAL_ROWS_MAX anyway; the exemption
#: documents larger-sf audits.  A plan is exempt only while ITS lever
#: is enabled: run with the matching threshold at 0 to audit the
#: distributed plan shape instead (the 100 TB path); every OTHER
#: query remains subject to the flag — a new driver-collected input
#: still trips it.
ADAPTIVE_CC_LOCAL_ALLOWED = {
    "dedup_cluster_assign": "cc",
    "dedup_cluster_exact": "cc",
    "sample_split_leakage_safe": "cc",
    "spatial_dbscan_core": "dbscan",
    "spatial_dbscan_clusters": "dbscan",
}


def _adaptive_local_allowed(name: str) -> bool:
    """Whether ``name``'s own driver-side strategy is enabled (r10
    ADVICE #1, r11 ADVICE): with its threshold at 0 — the
    forced-distributed audit mode — a large local leaf in that plan
    would be a genuine regression and must flag like any other
    query."""
    from sfs3_kinesis_spark.operators.dedup import DRIVER_CC_MAX_EDGES
    from sfs3_kinesis_spark.operators.spatial import DRIVER_DBSCAN_MAX_CELLS

    lever = {"cc": DRIVER_CC_MAX_EDGES, "dbscan": DRIVER_DBSCAN_MAX_CELLS}
    kind = ADAPTIVE_CC_LOCAL_ALLOWED.get(name)
    return kind is not None and lever[kind] > 0


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("plan-audit")
    # audit the static plan: AQE wraps plans in AdaptiveSparkPlan and
    # hides codegen spans until runtime re-planning (at execution AQE
    # can only improve on what we pin here — coalesce, skew-split,
    # SMJ->BHJ promotion)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    from sfs3_kinesis_spark.operators.scale import clear_keyed_cache

    rows, flags = [], []
    for name in sorted(REGISTRY):
        # byte-reproducibility (r08 verdict What's-wrong #3): a
        # pin_shared frame left cached by an EARLIER query in this
        # session renders as InMemoryRelation and changes this query's
        # exchange/scan counts depending on run order.  Clearing the
        # keyed LRU and the catalog cache before every capture makes
        # each audit independent of session history, so two fresh
        # regenerations of PLANS.md are byte-identical (recorded check
        # in SCALE.md round 9).
        clear_keyed_cache()
        spark.catalog.clearCache()
        try:
            df = REGISTRY[name].spark(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as exc:  # noqa: BLE001
            flags.append(f"- `{name}`: PLAN FAILED: {exc}")
            continue
        a = audit(plan)
        rows.append(
            f"| `{name}` | {a['exchanges']} | {a['bhj']}/{a['smj']}/{a['shj']} "
            f"| {a['bnlj']}/{a['cartesian']} | {a['gwin']} | {a['codegen']} "
            f"| {a['pushed']} | {a['topk']} |"
        )
        if a["cartesian"]:
            flags.append(f"- `{name}`: CartesianProduct in plan")
        if a["bnlj"] > BNLJ_ALLOWED.get(name, 1):
            flags.append(f"- `{name}`: {a['bnlj']} BroadcastNestedLoopJoins")
        if a["gwin"] > GLOBAL_WINDOW_ALLOWED.get(name, (0, ""))[0]:
            flags.append(
                f"- `{name}`: {a['gwin']} single-partition ORDER BY window(s) "
                "over a potentially unbounded input"
            )
        try:
            lrows = max_local_rows(df)
        except Exception:  # noqa: BLE001 — connect mode has no _jdf
            lrows = 0
        if lrows > LOCAL_ROWS_MAX and not _adaptive_local_allowed(name):
            flags.append(
                f"- `{name}`: {lrows}-row LocalRelation leaf — a "
                "driver-collected input masquerading as a plan "
                f"(bound: {LOCAL_ROWS_MAX})"
            )
    out = [
        "# PLANS — physical-plan audit of the query corpus",
        "",
        "Generated by `scripts/plan_audit.py` (AQE initial plans at "
        f"`{sf_dir}`).  Columns: shuffle Exchange count; equi-join",
        "strategies (broadcast/sort-merge/shuffled-hash); non-equi joins",
        "(nested-loop/cartesian — at most one 1-row broadcast NLJ is",
        "acceptable, e.g. a scalar-subquery threshold); single-partition",
        "ORDER BY windows (gwin — only allowed over provably bounded",
        "rollups, see GLOBAL_WINDOW_ALLOWED); distinct WholeStageCodegen",
        "spans; parquet filter pushdown; top-k strategy.",
        "",
        "| query | exch | bhj/smj/shj | bnlj/cart | gwin | codegen | pushdown | top-k |",
        "|---|---|---|---|---|---|---|---|",
        *rows,
        "",
        "## Red flags",
        "",
        *(flags or ["(none)"]),
        "",
    ]
    with open("PLANS.md", "w") as fh:
        fh.write("\n".join(out))
    print(f"wrote PLANS.md ({len(rows)} queries, {len(flags)} flags)")


if __name__ == "__main__":
    main()
