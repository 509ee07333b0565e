"""Benchmark command: one workload, one seed, one run.

    python3 perfbench/run.py --workload p1_service --seed 1 --seconds 12 --trace 0

Run from the repository root.  The run

1. sets up from a cold start and reports its wall time as ``setup_s``:
   the JVM launch and the engine's session, the workload's set-up and
   its untimed warm-up (for ``headline_sf0.001`` the oracle check pass,
   for ``p1_service`` the ramp-up of the load), up to the moment the
   timed phase begins;
2. measures for ``--seconds`` (longer if a median needs more samples)
   and checks the outputs;
3. with ``--trace 1`` also measures with spans around every layer call
   (a second window, or interleaved passes) and prints the per-layer
   metrics, plus the traced minus untraced end-to-end values as the
   tracing overhead.

The last stdout line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``; the line before it carries
the detail (sample counts, percentiles, failures).  Traced runs also
write their spans to ``perfbench/out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402
from metrics import END_TO_END, LAYERS_BY_WORKLOAD, OVERHEAD, PER_LAYER  # noqa: E402

WORKLOADS = ("p1_service", "headline_sf0.001")


def _module(workload: str):
    if workload == "p1_service":
        import p1 as mod
    else:
        import headline as mod
    return mod


def run(workload: str, seed: int, seconds: float, trace: bool, work) -> tuple[dict, dict]:
    mod = _module(workload)
    cpus = harness.box_cpus()
    t0 = time.time()
    cpu = harness.CpuWindow()
    spark = harness.start_spark()
    t_session = time.time()
    handle, attempted, failures = mod.setup(spark, work, seed)
    detail: dict = {"workload": workload, "seed": seed, "cpus": cpus,
                    "setup": {**cpu.stop(), "session_s": t_session - t0}}
    res = mod.measure(spark, work, seed, seconds, cpus, traced=trace, ready=handle)
    setup_s = res["timed_from"] - t0
    failed = len(failures)
    attempted += res["attempted"]
    failed += res["failed"]
    failures += [str(f) for f in res["failures"]]
    detail["window"] = res["detail"]
    if trace:
        layers = {name: 0.0 for name in PER_LAYER}
        own = LAYERS_BY_WORKLOAD[workload]
        if set(res["layers"]) != set(own):
            raise RuntimeError(f"{workload} measured {sorted(set(res['layers']) ^ set(own))} off its list")
        layers.update(res["layers"])
        for name in OVERHEAD:
            e2e = name.removeprefix("trace.overhead.")
            layers[name] = res["traced_e2e"][e2e] - res["e2e"][e2e]
        metrics = layers
        out_dir = os.path.join(harness.BENCH_DIR, "out")
        os.makedirs(out_dir, exist_ok=True)
        res["tracer"].dump(
            os.path.join(out_dir, f"trace-{workload}-seed{seed}.json"),
            extra={"detail": detail, "layers": layers},
        )
    else:
        detail["memory"] = harness.engine_memory()
        metrics = {"setup_s": setup_s, **res["e2e"], "heap_live_mb": harness.live_heap_mb()}
    missing = [k for k, v in metrics.items() if v is None]
    if missing:
        raise RuntimeError(f"too few samples for {missing}")
    detail["failed_share"] = failed / attempted
    detail["failures"] = failures[:10]
    units = {k: v[0] for k, v in {**END_TO_END, **PER_LAYER}.items()}
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }
    return result, detail


def main() -> int:
    ap = argparse.ArgumentParser(description="perfbench: one workload, one seed, one run")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(harness.REPO_DIR, "sfs3_kinesis_spark")):
        print(f"perfbench: no engine source under {harness.REPO_DIR}; run from a full checkout",
              file=sys.stderr)
        return 2
    work = harness.WorkDir(a.workload)
    harness.configure_env(work, harness.box_cpus())
    try:
        result, detail = run(a.workload, a.seed, a.seconds, bool(a.trace), work)
    finally:
        harness.shutdown_jvm()
        work.remove()
    sys.stdout.flush()
    print(json.dumps(detail, default=str))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
