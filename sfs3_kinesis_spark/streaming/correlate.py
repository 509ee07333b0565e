"""Stream<->request correlation — the reference's one real stateful
operator (SURVEY.md §2.5 T12).

Reference behavior (``/root/reference/svcsample/svckinesis.js``):

* a pending HTTP request is inserted into an in-memory map keyed by
  txnId (``svckinesis.js:60,66``);
* each Kinesis status event is looked up by txnId: hit → complete
  the response (200 for SUCCEEDED, 400 otherwise) and evict
  (``:173-185`` + ``:90-106``); miss → log and drop the orphan
  (``:178-181``);
* requests time out after 20 s and are evicted, so their late
  events become orphans (``:157,80-88``).

Engine form: one stateful operator over the *union* of the request
stream and the event stream, implemented with
``applyInPandasWithState``.
(Spark 4's ``transformWithStateInPandas`` is the successor API with
per-key timers and state evolution; it requires a working
``google.protobuf`` runtime, which the engine's toolchain lacks, so
the engine ships the applyInPandasWithState form — semantics are
identical for this operator.)

Key groups.  ``applyInPandasWithState`` makes one Python call per
grouping key, and each call pays a fixed framework cost (building the
``GroupState``, an Arrow→pandas conversion per column, writing the
state back), so the operator does not group by txn_id.  It groups by
``_kg = pmod(xxhash64(txn_id), KEY_GROUPS)``: a group's state holds
its pending requests as parallel arrays (txn_id, submitted_at_ms,
deadline_ms), and one vectorized body runs the per-txn state machine
for every txn of the group, so the call cost is paid once per group
per batch, not once per txn.  Per txn the semantics are Spark's per-
key ones: rows of one txn are ordered by event time (W7), an event
completes the txn's pending request if the row before it is that
request, and a pending txn with no rows in a batch is evicted once
its deadline is below the batch's processing time; the group's timer
sits on its earliest pending deadline.  The contract this buys:

* ``KEY_GROUPS`` caps the operator's parallelism: at most that many
  groups, so that many tasks' worth of state, however large the
  cluster;
* each batch rewrites the pending arrays of every group it touches, so
  a touched group's cost grows with its pending txns, not only with
  its rows in the batch.  The saving needs many txns per group in a
  batch; with a few txns per batch a group call carries one txn, as a
  per-txn call did, plus the rewrite;
* ``KEY_GROUPS`` and the hash are fixed for a checkpoint's whole life
  (as Flink's max parallelism is): a different value routes a txn to
  a group whose state does not hold it.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("txn_id", T.StringType()),
        T.StructField("outcome", T.StringType()),  # matched|orphan|timeout
        T.StructField("status", T.StringType()),
        T.StructField("http_code", T.IntegerType()),
        T.StructField("latency_ms", T.LongType()),
    ]
)

#: one group's pending requests, as parallel arrays
STATE_SCHEMA = T.StructType(
    [
        T.StructField("txn_id", T.ArrayType(T.StringType())),
        T.StructField("submitted_at_ms", T.ArrayType(T.LongType())),
        T.StructField("deadline_ms", T.ArrayType(T.LongType())),
    ]
)

#: key groups of the operator: its parallelism cap, fixed for a
#: checkpoint's life (a txn's group is part of its state's address)
KEY_GROUPS = 64

DEFAULT_TIMEOUT_MS = 20_000  # the reference's 20 s request budget (pollingsvc.js:133)


def unioned_input(requests: DataFrame, events: DataFrame) -> DataFrame:
    """Merge the request stream and the status-event stream into one
    keyed stream (kind='request'|'event').  Requests carry
    submitted_at/timeout; events carry status/event_time."""
    r = requests.select(
        "txn_id",
        F.lit("request").alias("kind"),
        F.col("submitted_at").alias("ts"),
        F.lit(None).cast("string").alias("status"),
        F.coalesce(F.col("timeout_ms"), F.lit(DEFAULT_TIMEOUT_MS)).alias("timeout_ms"),
    )
    e = events.select(
        "txn_id",
        F.lit("event").alias("kind"),
        F.col("event_time").alias("ts"),
        "status",
        F.lit(None).cast("long").alias("timeout_ms"),
    )
    return r.unionByName(e)


def key_group(txn_id: Column) -> Column:
    """The key group a txn's state lives in."""
    return F.pmod(F.xxhash64(txn_id), F.lit(KEY_GROUPS))


def _correlate_key_group(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """One key group's batch: the per-txn state machine, vectorized
    over every txn of the group.

    The clock is the batch's processing time.  A request's deadline
    is ``clock + timeout_ms`` (the reference's wall-clock budget,
    pollingsvc.js:133).
    """
    now = state.getCurrentProcessingTimeMs()
    p_txn, p_sub, p_dl = state.get if state.exists else ([], [], [])
    n_p = len(p_txn)
    rows = pd.concat(list(pdfs), ignore_index=True)  # empty on a timed-out call
    n_b = len(rows)
    n = n_p + n_b

    # the pending entries first, then the batch
    txn = np.concatenate([np.asarray(p_txn, dtype=object), rows["txn_id"].to_numpy(object)])
    is_req = np.ones(n, dtype=bool)
    ts = np.asarray(p_sub, dtype=np.int64)
    timeout = np.zeros(n, dtype=np.int64)
    status = np.full(n, None, dtype=object)
    deadline = np.concatenate([np.asarray(p_dl, dtype=np.int64), np.full(n_b, -1, dtype=np.int64)])
    if n_b:
        is_req[n_p:] = (rows["kind"] == "request").to_numpy()
        ts = np.concatenate([ts, rows["ts"].to_numpy("datetime64[ns]").view(np.int64) // 1_000_000])
        timeout[n_p:] = rows["timeout_ms"].to_numpy(np.int64, na_value=0)
        status[n_p:] = rows["status"].to_numpy(object)
    batch = np.arange(n) >= n_p
    # stable sort by (txn, pending first, ts): each txn's rows in
    # event-time order (W7), ties in arrival order
    codes = pd.factorize(txn)[0]
    order = np.lexsort((ts, batch, codes))
    codes, txn, is_req, ts, timeout, status, deadline, batch = (
        a[order] for a in (codes, txn, is_req, ts, timeout, status, deadline, batch)
    )

    same_prev = np.zeros(n, dtype=bool)
    same_prev[1:] = codes[1:] == codes[:-1]
    last = np.ones(n, dtype=bool)
    last[:-1] = ~same_prev[1:]
    # an event completes the txn's pending request iff the row before
    # it, for the same txn, is a request (svckinesis.js:173-185);
    # otherwise the txn is unknown or already answered: an orphan the
    # reference logs and drops (:178-181), emitted as an accountable row
    matched = np.zeros(n, dtype=bool)
    matched[1:] = same_prev[1:] & is_req[:-1]
    matched &= ~is_req
    latency = np.zeros(n, dtype=np.int64)
    latency[1:] = np.maximum(ts[1:] - ts[:-1], 0)

    # the txn's last row, if a request, is its pending entry; one with
    # no row in this batch keeps its deadline and is evicted once that
    # is below the clock (svckinesis.js:80-88): its late events orphan
    pending = last & is_req
    fresh = pending & batch
    deadline[fresh] = now + timeout[fresh]
    timed_out = pending & ~batch & (deadline < now)
    pending &= ~timed_out

    emit = ~is_req | timed_out
    if emit.any():
        st = status[emit]
        ok = matched[emit]
        yield pd.DataFrame(
            {
                "txn_id": txn[emit],
                "outcome": np.where(ok, "matched", np.where(timed_out[emit], "timeout", "orphan")),
                "status": st,
                # reference routing: SUCCEEDED → 200, anything else →
                # 400 (svckinesis.js:97-104)
                "http_code": pd.Series(np.where(st == "SUCCEEDED", 200, 400), dtype="Int32").where(ok),
                "latency_ms": pd.Series(latency[emit], dtype="Int64").where(ok),
            }
        )

    if pending.any():
        dl = deadline[pending]
        state.update((txn[pending].tolist(), ts[pending].tolist(), dl.tolist()))
        # Spark calls a group again when its timer is below the clock
        # and clears the timer on every call, so re-arm it on the
        # earliest deadline.  ``setTimeoutDuration`` refuses 0: a
        # deadline equal to the batch time arms 1 ms later.
        state.setTimeoutDuration(max(int(dl.min()) - now, 1))
    else:
        state.remove()


def outcome_metrics(out: DataFrame, name: str = "correlate_metrics") -> DataFrame:
    """Attach ``observe()`` counters for matched/orphan/timeout rows
    (SURVEY.md W3: the reference only *logs* dropped orphans,
    svckinesis.js:178-181 — the engine makes the drop accountable).

    In streaming, the counters surface per micro-batch in
    ``StreamingQueryProgress.observedMetrics[name]``; in batch, pass
    the returned DataFrame through a ``pyspark.sql.Observation``.
    """
    return out.observe(
        name,
        F.count(F.when(F.col("outcome") == "matched", 1)).alias("n_matched"),
        F.count(F.when(F.col("outcome") == "orphan", 1)).alias("n_orphan"),
        F.count(F.when(F.col("outcome") == "timeout", 1)).alias("n_timeout"),
    )


def correlate(requests: DataFrame, events: DataFrame) -> DataFrame:
    """The correlation operator: streaming in, streaming out.

    Input DataFrames may be streaming or batch (tests use batch via
    the same code path wrapped in a file-stream).  Output rows follow
    :data:`OUTPUT_SCHEMA`; matched/orphan rows are emitted as their
    events arrive, timeout rows when the state clock fires.
    """
    merged = unioned_input(requests, events).withColumn("_kg", key_group(F.col("txn_id")))
    return merged.groupBy("_kg").applyInPandasWithState(
        _correlate_key_group,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )
