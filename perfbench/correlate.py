"""The correlation-stream drain, one item of every headline pass.

A drain runs ``streaming.correlate.correlate`` (the
``applyInPandasWithState`` operator, twin of the reference's Kinesis
correlation) as a fresh streaming query over a directory that already
holds the seeded input file: a shuffled union of requests, their
events and orphan events.  The drain's time runs from building the
query to the end of the micro-batch that consumed the file; the query
is then stopped and every output row is checked.
"""

from __future__ import annotations

import datetime as dt
import os
import time

from inputs import CORR_COLUMNS, correlation_drain
from stats import mean

ITEM = "correlate_stream"
#: requests per timed drain (the stated N of the pairs/s figure)
DRAIN_PAIRS = 1000
#: requests of the untimed warm-up drain of the check pass
CHECK_PAIRS = 100
ORPHAN_SHARE = 0.10
DRAIN_TIMEOUT_S = 90.0
INPUT_SCHEMA = "txn_id string, kind string, ts timestamp, status string, timeout_ms bigint"


def drain(spark, root: str, seed: int, k: int, progress, name: str, pairs: int = DRAIN_PAIRS) -> dict:
    """Run drain ``k`` into memory table ``name``.  Returns the drain's
    wall seconds, its micro-batch progress, and what :func:`check`
    needs."""
    from pyspark.sql import functions as F

    from sfs3_kinesis_spark.sources.sinks import run_stateful_to_memory
    from sfs3_kinesis_spark.streaming.correlate import correlate

    cols, expected, n_orphans = correlation_drain(seed, k, pairs, ORPHAN_SHARE)
    watch = os.path.join(root, name)
    _land(cols, watch)
    t0 = time.time()
    stream = spark.readStream.schema(INPUT_SCHEMA).parquet(watch)
    out = correlate(
        stream.filter(F.col("kind") == "request").select(
            "txn_id", F.col("ts").alias("submitted_at"), "timeout_ms"
        ),
        stream.filter(F.col("kind") == "event").select(
            "txn_id", "status", F.col("ts").alias("event_time")
        ),
    )
    query = run_stateful_to_memory(out, name)
    try:
        qid = str(query.id)
        seen: list[dict] = []

        def consumed(p: dict) -> bool:
            if p["id"] == qid:
                seen.append(p)
            return p["id"] == qid and p["numInputRows"] > 0

        last = progress.wait_for(consumed, DRAIN_TIMEOUT_S)
        if last is None:
            raise RuntimeError(f"drain {name} not consumed within {DRAIN_TIMEOUT_S} s")
        end = _progress_time(last) + last["durationMs"]["triggerExecution"] / 1000.0
    finally:
        query.stop()
    return {"name": name, "drain_s": end - t0, "progress": seen, "pairs": len(expected),
            "expected": expected, "injected_orphans": n_orphans}


def _land(cols: dict, watch: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(watch)
    names = ("txn_id", "kind", "ts", "status", "timeout_ms")
    types = (pa.string(), pa.string(), pa.timestamp("ms", tz="UTC"), pa.string(), pa.int64())
    table = pa.table({n: pa.array(cols[c], ty) for n, c, ty in zip(names, CORR_COLUMNS, types)})
    pq.write_table(table, os.path.join(watch, "part-0.parquet"))


def check(spark, d: dict) -> list[str]:
    """Every request of drain ``d`` matched exactly once with its
    event's status and HTTP code, exactly the injected orphans, nothing
    timed out.  Records the matched and orphan rows in ``d``; returns
    the failures."""
    expected, n_orphans = d["expected"], d["injected_orphans"]
    rows = spark.sql(f"SELECT txn_id, outcome, status, http_code FROM {d['name']}").collect()
    failures: list[str] = []
    matched: dict[str, int] = {}
    orphans = 0
    for r in rows:
        if r.outcome == "matched":
            matched[r.txn_id] = matched.get(r.txn_id, 0) + 1
            want = expected.get(r.txn_id)
            if r.status != want or r.http_code != (200 if want == "SUCCEEDED" else 400):
                failures.append(f"{r.txn_id}: matched as {r.status}/{r.http_code}, event was {want}")
        elif r.outcome == "orphan" and r.txn_id not in expected:
            orphans += 1
        else:
            failures.append(f"{r.txn_id}: outcome {r.outcome}")
    failures += [f"{t}: matched {matched.get(t, 0)} times" for t in expected if matched.get(t, 0) != 1]
    if orphans != n_orphans:
        failures.append(f"{orphans} orphans reported, {n_orphans} injected")
    d["matched"], d["orphans"] = sum(matched.values()), orphans
    return failures


def _progress_time(p: dict) -> float:
    return dt.datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=dt.timezone.utc).timestamp()


def layers(drains: list[dict]) -> dict:
    """Per-drain means of the stateful operator's progress numbers."""
    data = [p for d in drains for p in d["progress"] if p["numInputRows"] > 0]

    def op(p: dict) -> dict:
        return (p.get("stateOperators") or [{}])[0]

    everything = [p for d in drains for p in d["progress"]]
    return {
        "correlate.pairs_per_s": mean(d["pairs"] / d["drain_s"] for d in drains),
        "correlate.batches_per_drain": len(everything) / len(drains),
        "correlate.add_batch_ms_mean": mean(p["durationMs"].get("addBatch", 0) for p in data),
        "correlate.state_rows_peak": float(max(op(p).get("numRowsTotal", 0) for p in everything)),
        "correlate.state_mem_mb_peak": max(op(p).get("memoryUsedBytes", 0) for p in everything) / 2**20,
        "correlate.state_update_ms_mean": mean(op(p).get("allUpdatesTimeMs", 0) for p in data),
        "correlate.state_commit_ms_mean": mean(op(p).get("commitTimeMs", 0) for p in data),
        "correlate.matched": mean(d["matched"] for d in drains),
        "correlate.orphans": mean(d["orphans"] for d in drains),
    }
