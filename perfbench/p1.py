"""``p1_service``: the reference's purpose, end to end.

``nproc`` closed-loop clients in a separate process send ``POST /p1``
to :class:`EngineHttpService` over one :class:`Engine` running the six
reference steps, step C fault-injected on the poison marker.  Poison
payloads must answer 400 FAILED, all others 200 SUCCEEDED followed by
a ``GET /state/<txn>`` whose document carries
``step_f_output.downstreamExecutionArn == "downstream:<txn>"``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

from harness import BENCH_DIR, CpuWindow, ProgressLog, SparkCounters
from inputs import POISON_MARKER
from stats import mean, percentile, summarize
from trace import Tracer


def _steps():
    from pyspark.sql import functions as F

    from sfs3_kinesis_spark.operators.pipeline import Step, reference_steps

    steps = reference_steps()
    c = steps[2]
    steps[2] = Step(c.name, c.output_col, c.result, c.gate_on, fail_if=F.col("request").contains(POISON_MARKER))
    return steps


class P1Service:
    """One engine + HTTP listener over a fresh store directory."""

    def __init__(self, spark, root: str, tracer: Tracer | None = None):
        from sfs3_kinesis_spark.engine import Engine
        from sfs3_kinesis_spark.http_service import EngineHttpService

        self.root = root
        self.engine = Engine(spark, root, steps=_steps())
        if tracer is not None:
            _instrument(self.engine, tracer)
        self.engine.start()
        self.service = EngineHttpService(self.engine)
        self.port = self.service.start()

    def post_once(self) -> int:
        import http.client

        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=120)
        try:
            conn.request("POST", "/p1", body=b'{"warm": true}', headers={"Content-Type": "application/json"})
            resp = conn.getresponse()
            resp.read()
            return resp.status
        finally:
            conn.close()

    def stop(self) -> None:
        self.service.stop()
        self.engine.stop()


def _instrument(engine, tracer: Tracer) -> None:
    txn_result = lambda args, res: res  # noqa: E731
    txn_arg = lambda args, res: args[0] if args else None  # noqa: E731
    tracer.wrap(engine, "submit", "engine.submit", key=txn_result)
    tracer.wrap(engine, "status", "engine.status", key=txn_arg)
    tracer.wrap(engine, "await_completion", "engine.await_completion", key=txn_arg)
    pipe = engine._pipeline
    tracer.wrap(pipe, "process_batch", "incremental.process_batch")
    tracer.wrap(pipe, "on_events", "incremental.on_events")
    sink = engine._sink
    tracer.wrap(sink, "apply_batch", "sinks.apply_batch")
    tracer.wrap(sink, "current", "sinks.current")


def setup(spark, work, seed: int) -> tuple[P1Service, int, list[str]]:
    """The service of the untraced window.  Its warm-up is the window's
    ramp-up (see :func:`_window`).  Returns it with the checks made so
    far: none (the window's requests are checked after the window)."""
    return P1Service(spark, work.sub("engine")), 0, []


def measure(spark, work, seed: int, seconds: float, cpus: int, traced: bool, ready: P1Service) -> dict:
    """The untraced window on ``ready``; traced, then a second window on
    a fresh traced service, warmed by one request first so that its
    per-layer means are not those of a cold stream."""
    out = _window(spark, ready, seed, seconds, cpus, None)
    if traced:
        tracer = Tracer()
        svc = P1Service(spark, work.sub("engine-traced"), tracer)
        code = svc.post_once()
        if code != 200:
            svc.stop()
            raise RuntimeError(f"warm-up POST /p1 answered {code}")
        t = _window(spark, svc, seed, seconds, cpus, tracer)
        out["attempted"] += t["attempted"]
        out["failed"] += t["failed"]
        out["failures"] += t["failures"]
        out.update(traced_e2e=t["e2e"], layers=t["layers"], tracer=tracer)
    return out


def _window(spark, svc: P1Service, seed: int, seconds: float, cpus: int, tracer: Tracer | None) -> dict:
    traced = tracer is not None
    progress = ProgressLog(spark) if traced else None
    counters = SparkCounters(spark)
    try:
        if tracer is not None:
            tracer.clear()
        n_progress = progress.count() if progress else 0
        jobs0 = counters.next_job_id()
        cpu = CpuWindow()
        client = _run_client(svc.port, seed, seconds, cpus)
        cpu = cpu.stop()
        jobs1 = counters.next_job_id()
        store_dirs = len(os.listdir(os.path.join(svc.root, "state")))
    finally:
        svc.stop()
        if progress is not None:
            progress.remove()
    recs = client["records"]
    # the steady part of the window: from the end of the ramp-up (every
    # client has finished its first request) until the first client
    # leaves the loop (after its last request, state GET included)
    done = [[r["t_done"] for r in recs if r["client"] == i] for i in range(cpus)]
    if not all(done):
        raise RuntimeError("a p1 client finished no request within its time cap")
    t_ramp = max(min(d) for d in done)
    t_stop = min(max(d) for d in done)
    steady = [r for r in recs if t_ramp < r["t_done"] <= t_stop]
    lat = [(r["t_end"] - r["t_start"]) * 1000.0 for r in steady]
    failed = [r for r in recs if not _correct(r)]
    out = {
        "attempted": len(recs),
        "failed": len(failed),
        "failures": failed[:5],
        "timed_from": t_ramp,
        "e2e": {
            "throughput_per_s": len(steady) / (t_stop - t_ramp) if steady else None,
            "latency_p50_ms": percentile(lat, 0.5),
        },
        "detail": {
            "clients": cpus,
            "requests": len(recs),
            "steady_requests": len(steady),
            "ramp_s": t_ramp - client["t0"],
            "steady_s": t_stop - t_ramp,
            "window_s": max(r["t_done"] for r in recs) - client["t0"],
            "post_ms": summarize(lat),
            "steady_post_s": sorted(round(x / 1000.0, 2) for x in lat),
            "state_get_ms": summarize([r["get_ms"] for r in steady if "get_ms" in r]),
            "poison": sum(1 for r in recs if r["poison"]),
            "cpu": cpu,
            "cpu_ms_per_request": cpu["busy_s"] * 1000.0 / len(recs),
        },
    }
    if traced:
        out["layers"] = _layers(tracer, progress.since(n_progress), recs, jobs1 - jobs0, store_dirs)
    return out


def _correct(r: dict) -> bool:
    if r["poison"]:
        return r["code"] == 400 and r["status"] == "FAILED"
    if r["code"] != 200 or r["status"] != "SUCCEEDED" or r.get("get_code") != 200:
        return False
    doc = r.get("doc") or {}
    arn = (doc.get("step_f_output") or {}).get("downstreamExecutionArn")
    return arn == f"downstream:{r['txn']}" and doc.get("status") == "SUCCEEDED"


def _run_client(port: int, seed: int, seconds: float, threads: int) -> dict:
    cmd = [
        sys.executable, os.path.join(BENCH_DIR, "p1_client.py"),
        "--port", str(port), "--seed", str(seed), "--seconds", str(seconds),
        "--threads", str(threads),
    ]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE)
    try:
        out, _ = proc.communicate(timeout=150)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if proc.returncode != 0:
        raise RuntimeError(f"p1 client exited with {proc.returncode}")
    return json.loads(out)


def _layers(tracer: Tracer, progress: list[dict], recs: list[dict], jobs: int, store_dirs: int) -> dict:
    n_req = len(recs)
    submit = tracer.of("engine.submit")
    waits = tracer.of("engine.await_completion")
    server_ms = {}
    for s in submit + waits:
        server_ms[s[4]] = server_ms.get(s[4], 0.0) + (s[2] - s[1]) * 1000.0
    overhead = [
        (r["t_end"] - r["t_start"]) * 1000.0 - server_ms[r["txn"]]
        for r in recs if r.get("txn") in server_ms
    ]
    data = [p for p in progress if p.get("numInputRows", 0) > 0]

    def dur(key: str) -> float:
        return mean(p["durationMs"].get(key, 0) for p in data)

    return {
        "engine.submit_ms_mean": mean((s[2] - s[1]) * 1000.0 for s in submit),
        "engine.submit_count": float(len(submit)),
        "engine.status_ms_mean": mean(tracer.ms("engine.status")),
        "engine.polls_per_request": len(tracer.of("engine.status")) / n_req,
        "engine.await_ms_mean": mean((s[2] - s[1]) * 1000.0 for s in waits),
        "http_service.overhead_ms_mean": mean(overhead),
        "http_service.state_get_ms_mean": mean(r["get_ms"] for r in recs if "get_ms" in r),
        "incremental.batches": float(len(data)),
        "incremental.requests_per_batch": n_req / len(data) if data else 0.0,
        "incremental.source_rows_per_request": sum(p["numInputRows"] for p in data) / n_req,
        "incremental.process_batch_ms_mean": mean(tracer.ms("incremental.process_batch")),
        "incremental.on_events_ms_mean": mean(tracer.ms("incremental.on_events")),
        "incremental.trigger_ms_mean": dur("triggerExecution"),
        "incremental.add_batch_ms_mean": dur("addBatch"),
        "incremental.latest_offset_ms_mean": dur("latestOffset"),
        "incremental.get_batch_ms_mean": dur("getBatch"),
        "incremental.query_planning_ms_mean": dur("queryPlanning"),
        "incremental.wal_commit_ms_mean": dur("walCommit"),
        "sinks.apply_batch_ms_mean": mean(tracer.ms("sinks.apply_batch")),
        "sinks.current_ms_mean": mean(tracer.ms("sinks.current")),
        "sinks.current_count": float(len(tracer.of("sinks.current"))),
        "sinks.store_dirs_end": float(store_dirs),
        "spark.jobs_per_request": jobs / n_req,
    }
