"""The key-group correlator (``streaming/correlate.py``).

* A property test, with no Spark: the group body, driven through
  pyspark's own ``GroupState`` by a small stand-in for Spark's side of
  ``applyInPandasWithState``, gives the same rows per batch and the
  same pending set as a plain per-txn model of the reference's loop.
* Operator tests: a group's state holds many txns, so 500 pending
  requests take at most ``KEY_GROUPS`` state rows, and each of them
  times out exactly once.
* A golden test pins the key group of a few txn ids: a change to the
  hash or to ``KEY_GROUPS`` re-routes txns away from their state, so it
  breaks every existing checkpoint.
"""

from __future__ import annotations

import json
import time

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from sfs3_kinesis_spark.sources.sinks import run_stateful_to_memory, wait_for_rows
from sfs3_kinesis_spark.sources.stream import stream_from_batch
from sfs3_kinesis_spark.streaming.correlate import (
    KEY_GROUPS,
    STATE_SCHEMA,
    _correlate_key_group,
    correlate,
    key_group,
    unioned_input,
)

T0_MS = 1_700_000_000_000
COLUMNS = ["txn_id", "kind", "ts", "status", "timeout_ms", "_kg"]


def _http_code(status):
    return 200 if status == "SUCCEEDED" else 400


class PerTxnModel:
    """The reference's pending map, one txn at a time, with Spark's
    per-key timer rule: a pending txn with no rows in a batch is
    evicted once its deadline is below the clock."""

    def __init__(self):
        self.pending: dict[str, tuple[int, int]] = {}  # txn -> (submitted_ms, deadline_ms)

    def batch(self, rows: list[dict], clock: int) -> list[tuple]:
        out = []
        by_txn: dict[str, list[dict]] = {}
        for r in rows:
            by_txn.setdefault(r["txn_id"], []).append(r)
        for txn, txn_rows in by_txn.items():
            pending = self.pending.pop(txn, None)
            for r in sorted(txn_rows, key=lambda r: r["ts"]):
                if r["kind"] == "request":
                    pending = (r["ts"], clock + r["timeout_ms"])
                elif pending is not None:
                    out.append((txn, "matched", r["status"], _http_code(r["status"]),
                                max(r["ts"] - pending[0], 0)))
                    pending = None
                else:
                    out.append((txn, "orphan", r["status"], None, None))
            if pending is not None:
                self.pending[txn] = pending
        for txn, (_, deadline) in list(self.pending.items()):
            if txn not in by_txn and deadline < clock:
                out.append((txn, "timeout", None, None, None))
                del self.pending[txn]
        return out


class GroupedRun:
    """Spark's side of ``applyInPandasWithState`` for the group body:
    one call per group with rows, then one per group without rows
    whose timer is below the clock; the timer is cleared on each call
    and kept as the call leaves it; a removed state without a timer is
    dropped."""

    def __init__(self, groups: int):
        self.groups = groups
        self.store: dict[int, tuple[Row | None, int]] = {}  # group -> (state, timer)

    def batch(self, rows: list[dict], clock: int) -> list[tuple]:
        by_group: dict[int, list[dict]] = {}
        for r in rows:
            by_group.setdefault(ord(r["txn_id"][-1]) % self.groups, []).append(r)
        out = []
        for g, g_rows in by_group.items():
            out += self._call(g, g_rows, clock)
        for g, (_, timer) in list(self.store.items()):
            if g not in by_group and timer != GroupState.NO_TIMESTAMP and timer < clock:
                out += self._call(g, None, clock)
        return out

    def _call(self, g: int, rows: list[dict] | None, clock: int) -> list[tuple]:
        value, _ = self.store.get(g, (None, GroupState.NO_TIMESTAMP))
        state = GroupState(
            optionalValue=value,
            batchProcessingTimeMs=clock,
            eventTimeWatermarkMs=GroupState.NO_TIMESTAMP,
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
            hasTimedOut=rows is None,
            watermarkPresent=False,
            defined=value is not None,
            updated=False,
            removed=False,
            timeoutTimestamp=GroupState.NO_TIMESTAMP,
            keyAsUnsafe=b"",
            valueSchema=STATE_SCHEMA,
        )
        if rows is None:  # what pyspark passes on a timed-out call
            pdf = pd.DataFrame(columns=COLUMNS)
        else:
            pdf = pd.DataFrame(
                {
                    "txn_id": [r["txn_id"] for r in rows],
                    "kind": [r["kind"] for r in rows],
                    "ts": pd.to_datetime([r["ts"] for r in rows], unit="ms"),
                    "status": [r["status"] for r in rows],
                    "timeout_ms": [r["timeout_ms"] for r in rows],
                    "_kg": g,
                }
            )
        out = [
            tuple(None if pd.isna(v) else v for v in rec)
            for df in _correlate_key_group((g,), iter([pdf]), state)
            for rec in df.astype(object).itertuples(index=False)
        ]
        props = json.loads(state.json())
        if props["removed"] and props["timeoutTimestamp"] == GroupState.NO_TIMESTAMP:
            self.store.pop(g, None)
        else:
            # the state goes to the JVM in its internal form and comes
            # back as a Row
            kept = STATE_SCHEMA.fromInternal(STATE_SCHEMA.toInternal(Row(*state.get))) if state.exists else None
            self.store[g] = (kept, props["timeoutTimestamp"])
        return out

    def pending(self) -> dict[str, tuple[int, int]]:
        return {
            txn: (sub, deadline)
            for value, _ in self.store.values() if value is not None
            for txn, sub, deadline in zip(*value)
        }


_row = st.fixed_dictionaries(
    {
        "kind": st.sampled_from(["request", "event"]),
        "txn_id": st.sampled_from(["t-a", "t-b", "t-c", "t-d", "t-e"]),
        "offset_ms": st.integers(-30, 30),
        "status": st.sampled_from(["SUCCEEDED", "FAILED"]),
        "timeout_ms": st.integers(1, 30),
    }
)


def _run(batches, groups: int) -> None:
    model, grouped = PerTxnModel(), GroupedRun(groups)
    clock = T0_MS
    for step, rows in batches:
        clock += step
        rows = [
            {
                "txn_id": r["txn_id"],
                "kind": r["kind"],
                "ts": clock + r["offset_ms"],
                "status": r["status"] if r["kind"] == "event" else None,
                "timeout_ms": r["timeout_ms"] if r["kind"] == "request" else None,
            }
            for r in rows
        ]
        want = model.batch(rows, clock)
        got = grouped.batch(rows, clock)
        assert sorted(got, key=repr) == sorted(want, key=repr)
    assert grouped.pending() == model.pending


# A batch's processing time is later than the previous batch's by
# more than 1 ms (a micro-batch takes longer than that).  That slack
# matters for one case: ``setTimeoutDuration`` takes only positive
# durations, so a group whose earliest deadline equals the batch time
# arms its timer 1 ms past it, and fires on the next batch after that.
@settings(max_examples=300, deadline=None)
@given(
    batches=st.lists(st.tuples(st.integers(2, 40), st.lists(_row, max_size=10)), min_size=1, max_size=8),
    groups=st.integers(1, 3),
)
def test_group_body_equals_per_txn_model_processing_time(batches, groups):
    _run(batches, groups)


def test_key_group_is_pinned(spark):
    """A txn's key group addresses its state in every checkpoint."""
    txns = ["t-0", "t-1", "t-hit", "0x0000", "0x000b", "5f0e6c1d-request"]
    got = [
        r["_kg"]
        for r in spark.createDataFrame([(t,) for t in txns], "txn_id string")
        .select(key_group(F.col("txn_id")).alias("_kg"))
        .collect()
    ]
    assert KEY_GROUPS == 64
    assert got == [43, 6, 9, 21, 28, 51]


def test_groups_hold_many_pending_requests_and_each_times_out_once(spark, tmp_path):
    """500 requests and no events: the operator's state is at most one
    row per key group while all of them are pending, then every
    request times out exactly once and the state empties.  Stopping the
    query removes its checkpoint."""
    import datetime as dt
    import os

    n = 500
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    requests = spark.range(n).select(
        F.concat(F.lit("t-"), F.col("id")).alias("txn_id"),
        F.lit(t0).alias("submitted_at"),
        F.lit(2_000).alias("timeout_ms"),
    )
    events = spark.createDataFrame([], "txn_id string, status string, event_time timestamp")
    stream = stream_from_batch(unioned_input(requests, events), str(tmp_path / "in"))
    out = correlate(
        stream.filter(F.col("kind") == "request").select(
            "txn_id", F.col("ts").alias("submitted_at"), "timeout_ms"
        ),
        stream.filter(F.col("kind") == "event").select(
            "txn_id", "status", F.col("ts").alias("event_time")
        ),
    )
    q = run_stateful_to_memory(out, "corr_groups")
    try:
        assert wait_for_rows(spark, "SELECT count(*) FROM corr_groups", n, timeout_s=90) == n
        # a few more batches: a second timeout would show
        seen = len(q.recentProgress)
        deadline = time.time() + 30
        while len(q.recentProgress) < seen + 3 and time.time() < deadline:
            time.sleep(0.2)
        rows = spark.sql("SELECT txn_id, outcome FROM corr_groups").collect()
        progress = q.recentProgress
        assert os.path.isdir(q.checkpoint)
    finally:
        q.stop()
    assert not os.path.exists(q.checkpoint)

    loaded = [p for p in progress if p["numInputRows"] == n]
    assert loaded, "no micro-batch read the 500 requests"
    assert loaded[0]["stateOperators"][0]["numRowsTotal"] <= KEY_GROUPS
    assert len(rows) == n
    assert {r.outcome for r in rows} == {"timeout"}
    assert len({r.txn_id for r in rows}) == n
    assert progress[-1]["stateOperators"][0]["numRowsTotal"] == 0

