"""Every metric name the benchmark prints, with its unit.

``BENCHMARK.json`` lists exactly these names; ``tests/test_metrics.py``
keeps the two in step.  Every workload prints every metric: a layer a
workload never reaches reads 0 there (the predicted no-change side).
"""

from __future__ import annotations

from inputs import TIMED_HEADLINE

#: end-to-end metrics, printed with ``--trace 0``: (unit, better, bound)
END_TO_END = {
    "setup_s": ("s", "lower", 0.25),
    "throughput_per_s": ("1/s", "higher", 0.25),
    "latency_p50_ms": ("ms", "lower", 0.25),
    "heap_live_mb": ("MB", "lower", 0.15),
}

#: per-layer metrics, printed with ``--trace 1``: name -> (unit, better),
#: grouped by the workload that exercises the layer
P1_LAYERS = {
    "engine.submit_ms_mean": ("ms", "lower"),
    "engine.submit_count": ("count", "higher"),
    "engine.status_ms_mean": ("ms", "lower"),
    "engine.polls_per_request": ("count", "lower"),
    "engine.await_ms_mean": ("ms", "lower"),
    "http_service.overhead_ms_mean": ("ms", "lower"),
    "http_service.state_get_ms_mean": ("ms", "lower"),
    "incremental.batches": ("count", "lower"),
    "incremental.requests_per_batch": ("count", "higher"),
    "incremental.source_rows_per_request": ("count", "lower"),
    "incremental.process_batch_ms_mean": ("ms", "lower"),
    "incremental.on_events_ms_mean": ("ms", "lower"),
    "incremental.trigger_ms_mean": ("ms", "lower"),
    "incremental.add_batch_ms_mean": ("ms", "lower"),
    "incremental.latest_offset_ms_mean": ("ms", "lower"),
    "incremental.get_batch_ms_mean": ("ms", "lower"),
    "incremental.query_planning_ms_mean": ("ms", "lower"),
    "incremental.wal_commit_ms_mean": ("ms", "lower"),
    "sinks.apply_batch_ms_mean": ("ms", "lower"),
    "sinks.current_ms_mean": ("ms", "lower"),
    "sinks.current_count": ("count", "higher"),
    "sinks.store_dirs_end": ("count", "lower"),
    "spark.jobs_per_request": ("count", "lower"),
}

HEADLINE_LAYERS = {
    "headline.pass_s": ("s", "lower"),
    "spark.jobs_per_pass": ("count", "lower"),
    "spark.stages_per_pass": ("count", "lower"),
    "spark.tasks_per_pass": ("count", "lower"),
    "batch.load_table_calls": ("count", "lower"),
    "batch.load_table_s": ("s", "lower"),
    "batch.load_table_jobs": ("count", "lower"),
    "plans.build_s": ("s", "lower"),
    "plans.build_jobs": ("count", "lower"),
    "catalyst.analysis_s": ("s", "lower"),
    "catalyst.optimization_s": ("s", "lower"),
    "catalyst.planning_s": ("s", "lower"),
    "executor.run_s": ("s", "lower"),
    "executor.cpu_s": ("s", "lower"),
    "shuffle.read_mb": ("MB", "lower"),
    "shuffle.write_mb": ("MB", "lower"),
    "spill.mb": ("MB", "lower"),
    **{f"query.{name}.s": ("s", "lower") for name in TIMED_HEADLINE + ("correlate_stream",)},
    "correlate.pairs_per_s": ("1/s", "higher"),
    "correlate.batches_per_drain": ("count", "lower"),
    "correlate.add_batch_ms_mean": ("ms", "lower"),
    "correlate.state_rows_peak": ("count", "lower"),
    "correlate.state_mem_mb_peak": ("MB", "lower"),
    "correlate.state_update_ms_mean": ("ms", "lower"),
    "correlate.state_commit_ms_mean": ("ms", "lower"),
    "correlate.matched": ("count", "higher"),
    "correlate.orphans": ("count", "lower"),
}

#: traced minus untraced value of each timing end-to-end metric, from
#: the same run (every workload)
OVERHEAD = {
    "trace.overhead.throughput_per_s": ("1/s", "higher"),
    "trace.overhead.latency_p50_ms": ("ms", "lower"),
}

LAYERS_BY_WORKLOAD = {
    "p1_service": P1_LAYERS,
    "headline_sf0.001": HEADLINE_LAYERS,
}

PER_LAYER = {**P1_LAYERS, **HEADLINE_LAYERS, **OVERHEAD}
