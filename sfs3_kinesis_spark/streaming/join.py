"""Stream-stream correlation as a watermarked join — the second
idiomatic formulation of the reference's request<->event correlation
(SURVEY.md §2.4 J1 lists both).

``streaming/correlate.py`` (applyInPandasWithState) is the full
state machine: per-key timers, eviction rows, orphan accounting.
This join form trades those custom semantics for an entirely
declarative plan: Spark manages the join state, and the watermark +
time-bound condition let it EXPIRE state automatically — the
engine-native analogue of the reference's 20 s request timeout
eviction (pollingsvc.js:133, svckinesis.js:80-88).

At 100 TB scale the join form is preferable when per-event custom
logic isn't needed: both sides shuffle once on txn_id, state size is
bounded by (watermark + interval) × arrival rate, and the whole
thing is Catalyst-planned (StreamingSymmetricHashJoin).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _time_bound_join(
    requests: DataFrame,
    events: DataFrame,
    how: str,
    within: str,
    request_watermark: str,
    event_watermark: str,
) -> DataFrame:
    """The join both forms share: requests ``(r_txn_id, submitted_at)``
    against events ``(e_txn_id, status, event_time)`` on txn id, with
    the event inside ``[submitted_at, submitted_at + within]``.  A
    streaming side gets its watermark, which is what lets Spark expire
    the join state."""
    r = requests.select(F.col("txn_id").alias("r_txn_id"), F.col("submitted_at"))
    e = events.select(
        F.col("txn_id").alias("e_txn_id"), F.col("status"), F.col("event_time")
    )
    if r.isStreaming:
        r = r.withWatermark("submitted_at", request_watermark)
    if e.isStreaming:
        e = e.withWatermark("event_time", event_watermark)
    cond = (
        (F.col("r_txn_id") == F.col("e_txn_id"))
        & (F.col("event_time") >= F.col("submitted_at"))
        & (F.col("event_time") <= F.col("submitted_at") + F.expr(f"INTERVAL {within}"))
    )
    return r.join(e, cond, how)


def correlate_join(
    requests: DataFrame,
    events: DataFrame,
    *,
    within: str = "20 seconds",
    request_watermark: str = "30 seconds",
    event_watermark: str = "30 seconds",
) -> DataFrame:
    """Inner-join each request to its status events arriving within
    ``within`` after submission.

    Both inputs may be streaming (stream-stream join) or batch (the
    same plan runs as an ordinary range-bounded equi-join — used by
    the oracle twin).  Output: one row per (request, event) match
    with the reference's HTTP routing applied (SUCCEEDED → 200,
    else 400; pollingsvc.js:77-93).
    """
    joined = _time_bound_join(
        requests, events, "inner", within, request_watermark, event_watermark
    )
    return joined.select(
        F.col("r_txn_id").alias("txn_id"),
        "status",
        F.when(F.col("status") == "SUCCEEDED", 200).otherwise(400).alias("http_code"),
        (
            (F.unix_millis("event_time") - F.unix_millis("submitted_at"))
        ).alias("latency_ms"),
    )


def correlate_join_outer(
    requests: DataFrame,
    events: DataFrame,
    *,
    within: str = "20 seconds",
    request_watermark: str = "30 seconds",
    event_watermark: str = "30 seconds",
) -> DataFrame:
    """Left-outer variant: every request emits exactly once — matched
    rows as soon as the event arrives, unmatched rows with NULL
    status once the watermark proves no in-window event can still
    come.  This is the reference's request-timeout path
    (pollingsvc.js:67-75: respond 400 and evict) expressed entirely
    declaratively: Spark's join-state expiry IS the timeout timer, so
    there is no user-managed state at any scale.
    """
    joined = _time_bound_join(
        requests, events, "left_outer", within, request_watermark, event_watermark
    )
    return joined.select(
        F.col("r_txn_id").alias("txn_id"),
        "status",
        F.when(F.col("status").isNull(), "timeout")
        .when(F.col("status") == "SUCCEEDED", "matched")
        .otherwise("failed")
        .alias("outcome"),
        F.when(F.col("status") == "SUCCEEDED", 200).otherwise(400).alias("http_code"),
    )
