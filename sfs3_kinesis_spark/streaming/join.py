"""Stream-stream correlation as a watermarked join — the declarative
formulation of the reference's request<->event correlation (SURVEY.md
§2.4 J1), which the registry query ``correlate_join_form`` runs.

``streaming/correlate.py`` (applyInPandasWithState) is the full
state machine: per-key timers, eviction rows, orphan accounting.
This join form trades those custom semantics for an entirely
declarative inner join: Spark manages the join state, and the
watermark + time-bound condition let it EXPIRE state automatically.
It emits matches only; a request without an event in time, and an
event without a request, leave no row.

Both sides shuffle once on txn_id, state size is bounded by
(watermark + interval) × arrival rate, and the whole thing is
Catalyst-planned (StreamingSymmetricHashJoin).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: lateness allowance of a streaming side, on its own time column
WATERMARK = "30 seconds"


def correlate_join(
    requests: DataFrame, events: DataFrame, *, within: str = "20 seconds"
) -> DataFrame:
    """Inner-join each request ``(txn_id, submitted_at)`` to its status
    events ``(txn_id, status, event_time)`` arriving within ``within``
    after submission, i.e. inside ``[submitted_at, submitted_at +
    within]``.

    Both inputs may be streaming (stream-stream join) or batch (the
    same plan runs as an ordinary range-bounded equi-join — used by
    the oracle twin).  A streaming side gets a :data:`WATERMARK`,
    which is what lets Spark expire the join state.  Output: one row
    per (request, event) match with the reference's HTTP routing
    applied (SUCCEEDED → 200, else 400; pollingsvc.js:77-93).
    """
    r = requests.select(F.col("txn_id").alias("r_txn_id"), F.col("submitted_at"))
    e = events.select(
        F.col("txn_id").alias("e_txn_id"), F.col("status"), F.col("event_time")
    )
    if r.isStreaming:
        r = r.withWatermark("submitted_at", WATERMARK)
    if e.isStreaming:
        e = e.withWatermark("event_time", WATERMARK)
    cond = (
        (F.col("r_txn_id") == F.col("e_txn_id"))
        & (F.col("event_time") >= F.col("submitted_at"))
        & (F.col("event_time") <= F.col("submitted_at") + F.expr(f"INTERVAL {within}"))
    )
    return r.join(e, cond, "inner").select(
        F.col("r_txn_id").alias("txn_id"),
        "status",
        F.when(F.col("status") == "SUCCEEDED", 200).otherwise(400).alias("http_code"),
        (F.unix_millis("event_time") - F.unix_millis("submitted_at")).alias("latency_ms"),
    )
