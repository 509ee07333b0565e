"""``headline_sf0.001``: warm passes over the timed headline queries on
the frozen sf0.001 tables, each query fully materialised through the
noop sink, plus one correlation-stream drain (``correlate.py``) per
pass.  The seed permutes the item order of every pass and the drain
inputs.

Set-up opens every table; then, before the timed passes, every item is
checked once: each query against the DuckDB oracle through
``tests.oracle.compare`` (rows-only queries: against their frozen row
count), and a drain's every output row.  The warm-up is this check
pass and ``WARM_PASSES`` untimed passes.  Every drain of the timed and
warm-up passes is checked too, after the window.
"""

from __future__ import annotations

import random
import time

import correlate as corr
from harness import CpuWindow, ProgressLog, SparkCounters, catalyst_phases_ms
from inputs import DATA_DIR, ROWS_ONLY_COUNTS, TIMED_HEADLINE
from stats import percentile, summarize
from trace import Tracer

#: what one pass runs
ITEMS = TIMED_HEADLINE + (corr.ITEM,)
MIN_PASSES = 2
#: untimed passes after the check pass: the first pass after it still
#: runs cold code (it reads about a quarter slower than the next ones)
WARM_PASSES = 1


def _materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def setup(spark, work, seed: int) -> tuple[None, int, list[str]]:
    """Open every fixture table, then the check pass; returns
    ``(None, attempted, failures)`` of the checks."""
    import sfs3_kinesis_spark as pkg
    from sfs3_kinesis_spark.sources.batch import load_tables

    load_tables(spark, DATA_DIR, pkg.TABLES)
    return (None, *_check(spark, work, seed))


def _check(spark, work, seed: int) -> tuple[int, list[str]]:
    """Compare every timed query with its oracle and check one drain;
    returns ``(attempted, failures)``."""
    from sfs3_kinesis_spark.plans import REGISTRY
    from tests.oracle import compare, duck_connection

    progress = ProgressLog(spark)
    try:
        d = corr.drain(spark, work.path, seed, -1, progress, "check_drain", corr.CHECK_PAIRS)
    finally:
        progress.remove()
    bad = corr.check(spark, d)
    failures = [f"{corr.ITEM}: {'; '.join(bad[:3])}"] if bad else []
    con = duck_connection(DATA_DIR)
    try:
        for name in TIMED_HEADLINE:
            spec = REGISTRY[name]
            try:
                df = spec.spark(spark, DATA_DIR)
                if spec.oracle is not None:
                    ok, detail = compare(df, con, spec.oracle)
                else:
                    n = df.count()
                    ok, detail = n == ROWS_ONLY_COUNTS[name], f"{n} rows, expected {ROWS_ONLY_COUNTS[name]}"
            except Exception as exc:  # noqa: BLE001 - a crashing query is a failed check
                ok, detail = False, repr(exc)
            if not ok:
                failures.append(f"{name}: {detail}")
    finally:
        con.close()
    return len(ITEMS), failures


def measure(spark, work, seed: int, seconds: float, cpus: int, traced: bool, ready: None) -> dict:
    """Timed passes.  Traced, the passes alternate untraced and traced,
    so both kinds see the same box: the untraced passes give the
    end-to-end values, the traced ones the per-layer numbers and the
    tracing overhead."""
    from sfs3_kinesis_spark.plans import REGISTRY

    rng = random.Random(f"headline:{seed}")
    counters = SparkCounters(spark)
    progress = ProgressLog(spark)
    tracer = Tracer() if traced else None
    if tracer is not None:
        _trace_load_table(tracer, counters)
    kinds = (False, True) if traced else (False,)
    min_passes = 1 if traced else MIN_PASSES
    runs = {k: {"walls": [], "cpu": [], "stats": []} for k in kinds}
    drains: list[dict] = []
    failures: list[str] = []
    sc = spark.sparkContext
    n_pass = -WARM_PASSES
    try:
        while True:
            if n_pass == 0:
                t_start = time.time()
            if n_pass >= 0 and time.time() - t_start >= seconds and all(
                len(r["walls"]) >= min_passes for r in runs.values()
            ):
                break
            on = n_pass >= 0 and kinds[n_pass % len(kinds)]
            if tracer is not None:
                tracer.enabled = on
            order = list(ITEMS)
            rng.shuffle(order)
            walls: dict[str, float] = {}
            acc = _PassAcc()
            cpu = CpuWindow()
            for name in order:
                group = f"p{n_pass}:{name}"
                try:
                    if name == corr.ITEM:
                        d = corr.drain(spark, work.path, seed, len(drains), progress, f"drain{len(drains)}")
                        drains.append(d)
                        walls[name] = d["drain_s"]
                        if on:
                            acc.drains.append(d)
                        continue
                    t0 = time.time()
                    if on:
                        _traced_query(spark, REGISTRY[name], group, tracer, acc)
                    else:
                        _materialize(REGISTRY[name].spark(spark, DATA_DIR))
                    walls[name] = time.time() - t0
                except Exception as exc:  # noqa: BLE001 - counted as a failed item
                    failures.append(f"{name}: {exc!r}")
                finally:
                    sc.setLocalProperty("spark.jobGroup.id", None)
            if n_pass >= 0:  # not a warm-up pass
                runs[on]["walls"].append(walls)
                runs[on]["cpu"].append(cpu.stop())
                if on:
                    _pass_spark_stats(counters, n_pass, TIMED_HEADLINE, acc)
                    runs[on]["stats"].append(acc)
            n_pass += 1
    finally:
        progress.remove()
        if tracer is not None:
            tracer.restore()
    for d in drains:
        bad = corr.check(spark, d)
        if bad:
            failures.append(f"{corr.ITEM}: {'; '.join(bad[:3])}")
    plain = runs[False]
    out = {
        "timed_from": t_start,
        "attempted": len(ITEMS) * (WARM_PASSES + n_pass),
        "failed": len(failures),
        "failures": failures[:5],
        "e2e": _e2e(plain["walls"]),
        "detail": {
            "passes": len(plain["walls"]),
            "items_per_pass": len(ITEMS),
            "item_ms": summarize([w * 1000.0 for p in plain["walls"] for w in p.values()]),
            "pass_s": [sum(p.values()) for p in plain["walls"]],
            "pass_items_s": [{k: round(w, 3) for k, w in p.items()} for p in plain["walls"]],
            "pass_cpu": plain["cpu"],
            "drain_pairs": corr.DRAIN_PAIRS,
        },
    }
    if traced:
        t = runs[True]
        out["traced_e2e"] = _e2e(t["walls"])
        out["layers"] = {**_layers(t["walls"], [s.v for s in t["stats"]]),
                         **corr.layers([d for s in t["stats"] for d in s.drains])}
        out["tracer"] = tracer
    return out


def _e2e(passes: list[dict[str, float]]) -> dict:
    """Throughput over all passes and the typical pass (each item at
    its median over the passes)."""
    typical_s = sum(percentile([p[k] for p in passes if k in p], 0.5)
                    for k in ITEMS if any(k in p for p in passes))
    return {
        "throughput_per_s": sum(map(len, passes)) / sum(sum(p.values()) for p in passes),
        "latency_p50_ms": typical_s * 1000.0,
    }


class _PassAcc:
    """Per-pass sums of the traced layer numbers."""

    def __init__(self) -> None:
        self.v = dict(
            load_calls=0, load_s=0.0, load_jobs=0, build_s=0.0, build_jobs=0,
            analysis=0, optimization=0, planning=0,
            jobs=0, stages=0, tasks=0, run_ms=0, cpu_ns=0, shuffle_read=0, shuffle_write=0, spill=0,
        )
        self.drains: list[dict] = []

    def add(self, **kw) -> None:
        for k, x in kw.items():
            self.v[k] += x


def _trace_load_table(tracer: Tracer, counters: SparkCounters) -> None:
    """Trace ``plans.core.load_table``, counting the Spark jobs each
    call issues."""
    import sfs3_kinesis_spark.plans.core as core

    tracer.wrap(core, "load_table", "batch.load_table", count=counters.next_job_id)


def _traced_query(spark, spec, group: str, tracer: Tracer, acc: _PassAcc) -> None:
    sc = spark.sparkContext
    sc.setJobGroup(f"{group}:build", f"{group}:build")
    n_loads = len(tracer.of("batch.load_table"))
    t0 = time.time()
    df = spec.spark(spark, DATA_DIR)
    t1 = time.time()
    loads = tracer.of("batch.load_table")[n_loads:]
    load_s = sum(s[2] - s[1] for s in loads)
    tracer.add("plans.build", t0, t1, spec.name)
    sc.setJobGroup(f"{group}:exec", f"{group}:exec")
    phases = catalyst_phases_ms(df)
    _materialize(df)
    tracer.add("query", t0, time.time(), spec.name)
    acc.add(
        load_calls=len(loads), load_s=load_s, load_jobs=sum(s[5] for s in loads),
        build_s=(t1 - t0) - load_s,
        analysis=phases.get("analysis", 0), optimization=phases.get("optimization", 0),
        planning=phases.get("planning", 0),
    )


def _pass_spark_stats(counters: SparkCounters, n_pass: int, order: tuple[str, ...], acc: _PassAcc) -> None:
    """Fold the status-store numbers of one pass's job groups into
    ``acc``; jobs issued while building count as build jobs, minus
    those ``load_table`` issued."""
    counters.drain_listeners()
    for name in order:
        build = counters.group_stats(f"p{n_pass}:{name}:build")
        acc.add(**build)
        acc.add(build_jobs=build["jobs"])
        acc.add(**counters.group_stats(f"p{n_pass}:{name}:exec"))
    acc.add(build_jobs=-acc.v["load_jobs"])


def _layers(passes: list[dict], stats: list[dict]) -> dict:
    n = len(stats)

    def per_pass(key: str, scale: float = 1.0) -> float:
        return sum(s[key] for s in stats) / n * scale

    out = {
        "headline.pass_s": sum(sum(p.values()) for p in passes) / len(passes),
        "spark.jobs_per_pass": per_pass("jobs"),
        "spark.stages_per_pass": per_pass("stages"),
        "spark.tasks_per_pass": per_pass("tasks"),
        "batch.load_table_calls": per_pass("load_calls"),
        "batch.load_table_s": per_pass("load_s"),
        "batch.load_table_jobs": per_pass("load_jobs"),
        "plans.build_s": per_pass("build_s"),
        "plans.build_jobs": per_pass("build_jobs"),
        "catalyst.analysis_s": per_pass("analysis", 1e-3),
        "catalyst.optimization_s": per_pass("optimization", 1e-3),
        "catalyst.planning_s": per_pass("planning", 1e-3),
        "executor.run_s": per_pass("run_ms", 1e-3),
        "executor.cpu_s": per_pass("cpu_ns", 1e-9),
        "shuffle.read_mb": per_pass("shuffle_read", 1 / 2**20),
        "shuffle.write_mb": per_pass("shuffle_write", 1 / 2**20),
        "spill.mb": per_pass("spill", 1 / 2**20),
    }
    for name in ITEMS:
        walls = [p[name] for p in passes if name in p]
        out[f"query.{name}.s"] = sum(walls) / len(walls) if walls else 0.0
    return out
