"""Frozen workload inputs.

Everything a workload feeds the engine is made here from the run's
``--seed``; the same seed gives the same inputs.  The query names are
a copy, not an import from ``bench.py``, so later edits there cannot
change a workload.
"""

from __future__ import annotations

import json
import os
import random

#: fixture copy the headline workload reads (tables of sf0.001)
DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.001")

#: the 41 headline query names as of this benchmark's creation
HEADLINE = (
    "q01_pricing_summary",
    "q03_shipping_priority",
    "q05_regional_volume",
    "window_topk_orders_per_customer",
    "events_sessionization",
    "join_asof_purchase_click",
    "join_range_hot_hours",
    "correlate_requests_events",
    "pipeline_run",
    "dedup_exact_text",
    "dedup_minhash_lsh",
    "similarity_topk",
    "text_token_stats",
    "sample_train_val_test",
    "pack_token_shards",
    "text_chunking",
    "dedup_keep_best_quality",
    "sample_temperature_lang",
    "cluster_kmeans_lloyd",
    "events_cdc_latest_state",
    "events_ohlc_bars",
    "join_asof_forward",
    "mine_interval_coverage",
    "agg_bitmap_distinct",
    "graph_pagerank_parts",
    "mine_pareto_frontier",
    "attrib_u_shaped",
    "similarity_join_prefix_filter",
    "events_time_weighted_avg",
    "dedup_semantic_cells",
    "join_bloom_prefiltered",
    "retrieval_inverted_index",
    "retrieval_rrf_hybrid",
    "feature_hashing_trick",
    "spatial_grid_neighbors",
    "quality_schema_drift",
    "retrieval_bm25",
    "dedup_substring_windows",
    "multimodal_png_features",
    "eval_ndcg_at_k",
    "spatial_dbscan_clusters",
)

#: the headline queries the timed passes run: one per layer mix that a
#: later change is likely to move (relational joins, window, the batch
#: correlation twin, the reference's staged pipeline, and a builder
#: that issues Spark jobs of its own while building)
TIMED_HEADLINE = (
    "q03_shipping_priority",
    "window_topk_orders_per_customer",
    "correlate_requests_events",
    "pipeline_run",
    "dedup_minhash_lsh",
)

#: frozen row counts of the timed queries that have no oracle SQL
ROWS_ONLY_COUNTS = {"dedup_minhash_lsh": 28}

#: substring the p1 pipeline's fault-injected stage fails on
POISON_MARKER = "poison"
POISON_SHARE = 0.10


def p1_payloads(seed: int, client: int):
    """Endless seeded stream of ``(is_poison, body_bytes)`` for one
    client of the ``p1_service`` loop.  About ``POISON_SHARE`` of the
    bodies carry the poison marker; no other body contains it."""
    rng = random.Random(f"p1:{seed}:{client}")
    i = 0
    while True:
        poison = rng.random() < POISON_SHARE
        doc = {
            "client": client,
            "seq": i,
            "customer": f"c-{rng.randrange(10_000):05d}",
            "amount": round(rng.uniform(1.0, 5_000.0), 2),
            "items": [rng.randrange(1_000) for _ in range(rng.randrange(1, 6))],
        }
        if poison:
            doc[POISON_MARKER] = True
        yield poison, json.dumps(doc).encode("utf-8")
        i += 1


#: base event time of the correlation drains (epoch ms, 2024-01-01Z)
CORR_T0_MS = 1_704_067_200_000
#: request budget far beyond any run, so no request times out
CORR_TIMEOUT_MS = 3_600_000
CORR_COLUMNS = ("txn_id", "kind", "ts_ms", "status", "timeout_ms")


def correlation_drain(seed: int, k: int, n: int, orphan_share: float):
    """Inputs of drain ``k`` of the correlation stream: a seeded,
    shuffled union of ``n`` requests, one SUCCEEDED or FAILED event
    for each (later in event time than its request), and
    ``round(n * orphan_share)`` events whose txn has no request.
    Returns ``(columns, expected, n_orphans)``: a dict of
    ``CORR_COLUMNS`` lists, and the status each request's event
    carries."""
    rng = random.Random(f"corr:{seed}:{k}")
    rows, expected = [], {}
    for j in range(n):
        txn = f"d{k:04d}-{j:06d}"
        submitted = CORR_T0_MS + rng.randrange(60_000)
        status = "SUCCEEDED" if rng.random() < 0.8 else "FAILED"
        rows.append((txn, "request", submitted, None, CORR_TIMEOUT_MS))
        rows.append((txn, "event", submitted + 1 + rng.randrange(20_000), status, None))
        expected[txn] = status
    n_orphans = round(n * orphan_share)
    for j in range(n_orphans):
        status = "SUCCEEDED" if rng.random() < 0.5 else "FAILED"
        rows.append((f"o{k:04d}-{j:06d}", "event", CORR_T0_MS + rng.randrange(90_000), status, None))
    rng.shuffle(rows)
    return {c: [r[i] for r in rows] for i, c in enumerate(CORR_COLUMNS)}, expected, n_orphans
