"""Streaming correlation operator (reference T12/P6/W3/W5):
hit, failure, orphan, duplicate and timeout semantics.

Drain strategy: with ``ProcessingTimeTimeout`` the engine runs a
micro-batch every trigger to advance the timer clock, so
``processAllAvailable`` never sees an idle source — tests poll the
memory sink for the expected row count instead (wait_for_rows).
"""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from sfs3_kinesis_spark.sources.sinks import run_stateful_to_memory, wait_for_rows
from sfs3_kinesis_spark.sources.stream import stream_from_batch
from sfs3_kinesis_spark.streaming.correlate import correlate, unioned_input


def _requests_df(spark, rows):
    return spark.createDataFrame(
        rows, "txn_id string, submitted_at timestamp, timeout_ms long"
    )


def _events_df(spark, rows):
    return spark.createDataFrame(rows, "txn_id string, status string, event_time timestamp")


def _correlated(stream):
    return correlate(
        stream.filter(F.col("kind") == "request").select(
            "txn_id", F.col("ts").alias("submitted_at"), "timeout_ms"
        ),
        stream.filter(F.col("kind") == "event").select(
            "txn_id", "status", F.col("ts").alias("event_time")
        ),
    )


@pytest.fixture()
def scenario(spark, tmp_path):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def ts(s):
        return t0 + dt.timedelta(seconds=s)

    requests = _requests_df(
        spark,
        [
            ("t-hit", ts(0), 3_600_000),
            ("t-fail", ts(0), 3_600_000),
            ("t-pending", ts(0), 3_600_000),
        ],
    )
    events = _events_df(
        spark,
        [
            ("t-hit", "SUCCEEDED", ts(5)),
            ("t-fail", "FAILED", ts(7)),
            ("t-orphan", "SUCCEEDED", ts(9)),  # no pending request
        ],
    )
    return requests, events, tmp_path


def test_correlation_hit_fail_orphan(spark, scenario):
    requests, events, tmp_path = scenario
    merged = unioned_input(requests, events)
    stream = stream_from_batch(merged, str(tmp_path))
    out = _correlated(stream)
    q = run_stateful_to_memory(out, "corr_out")
    try:
        n = wait_for_rows(spark, "SELECT count(*) FROM corr_out", 3)
        assert n == 3, f"expected 3 output rows, got {n}"
        rows = {r["txn_id"]: r for r in spark.sql("SELECT * FROM corr_out").collect()}
    finally:
        q.stop()

    assert rows["t-hit"]["outcome"] == "matched"
    assert rows["t-hit"]["http_code"] == 200
    assert rows["t-hit"]["latency_ms"] == 5000
    # non-SUCCEEDED completes with 400 (svckinesis.js:97-104)
    assert rows["t-fail"]["outcome"] == "matched"
    assert rows["t-fail"]["http_code"] == 400
    # unknown txn => orphan (svckinesis.js:178-181)
    assert rows["t-orphan"]["outcome"] == "orphan"
    assert rows["t-orphan"]["http_code"] is None
    # pending request with no event emits nothing yet
    assert "t-pending" not in rows


def test_correlation_timeout_and_late_orphan(spark, tmp_path):
    """Request times out (processing-time) → eviction row; a later
    event for it is an orphan (svckinesis.js:80-88 + 178-181)."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    stream_dir = tmp_path / "in"
    stream_dir.mkdir()

    req = unioned_input(
        _requests_df(spark, [("t-slow", t0, 700)]),  # 0.7 s timeout
        _events_df(spark, []),
    )
    req.write.mode("append").parquet(str(stream_dir))

    stream = spark.readStream.schema(req.schema).parquet(str(stream_dir))
    out = _correlated(stream)
    q = run_stateful_to_memory(out, "corr_timeout")
    try:
        # timer fires ~0.7 s after the request batch registers state
        n = wait_for_rows(spark, "SELECT count(*) FROM corr_timeout", 1, timeout_s=60)
        assert n >= 1, "timeout row never emitted"
        # the late event for the evicted txn must be an orphan
        late = unioned_input(
            _requests_df(spark, []),
            _events_df(spark, [("t-slow", "SUCCEEDED", t0 + dt.timedelta(seconds=2))]),
        )
        late.write.mode("append").parquet(str(stream_dir))
        wait_for_rows(spark, "SELECT count(*) FROM corr_timeout", 2, timeout_s=60)
        rows = spark.sql("SELECT * FROM corr_timeout").collect()
    finally:
        q.stop()

    outcomes = {(r["txn_id"], r["outcome"]) for r in rows}
    assert ("t-slow", "timeout") in outcomes
    assert ("t-slow", "orphan") in outcomes
    # the evicted request can never be completed twice
    assert ("t-slow", "matched") not in outcomes


def test_correlation_throughput_smoke(spark, tmp_path):
    """Engine must sustain >> 3.3 events/s (the reference's polite-
    polling ceiling, BASELINE.md) — 2000 matched pairs through the
    operator in one drain."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    n = 2000
    requests = spark.range(n).select(
        F.concat(F.lit("t-"), F.col("id")).alias("txn_id"),
        F.lit(t0).alias("submitted_at"),
        F.lit(3_600_000).alias("timeout_ms"),
    )
    events = spark.range(n).select(
        F.concat(F.lit("t-"), F.col("id")).alias("txn_id"),
        F.lit("SUCCEEDED").alias("status"),
        (F.unix_timestamp(F.lit(t0)) + 1).cast("timestamp").alias("event_time"),
    )
    merged = unioned_input(requests, events)
    stream = stream_from_batch(merged, str(tmp_path))
    out = _correlated(stream)
    start = time.time()
    q = run_stateful_to_memory(out, "corr_tp")
    try:
        matched = wait_for_rows(
            spark, "SELECT count(*) FROM corr_tp WHERE outcome = 'matched'", n, timeout_s=120
        )
    finally:
        q.stop()
    elapsed = time.time() - start
    assert matched == n
    assert n / elapsed > 33  # 10x the reference ceiling, conservatively


def test_correlation_checkpoint_restart(spark, tmp_path):
    """Keyed state survives stop + restart from checkpoint (W6): a
    request registered before the stop matches an event delivered
    after the restart — exactly once, with the original latency.
    This is the stateful-operator half of the delivery guarantee
    (the pipeline half is
    test_streaming_windows.py::test_incremental_pipeline_checkpoint_restart)."""
    import datetime as dt
    import os
    import time

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    stream_dir = tmp_path / "in"
    stream_dir.mkdir()
    ckpt = str(tmp_path / "ckpt")

    out_dir = str(tmp_path / "out")

    def start(name):
        # memory sink cannot recover from a checkpoint; foreachBatch
        # into parquet is the restartable test sink
        stream = spark.readStream.schema(schema).parquet(str(stream_dir))
        return (
            _correlated(stream)
            .writeStream.foreachBatch(
                lambda df, _bid: df.write.mode("append").parquet(out_dir)
            )
            .queryName(name)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="200 milliseconds")
            .start()
        )

    def read_out():
        try:
            return spark.read.parquet(out_dir).collect()
        except Exception:
            return []

    phase1 = unioned_input(
        _requests_df(spark, [("t-restart", t0, 3_600_000)]),
        _events_df(spark, []),
    )
    schema = phase1.schema
    phase1.write.mode("append").parquet(str(stream_dir))

    q1 = start("corr_restart1")
    try:
        # wait until the request batch is committed (state persisted)
        deadline = time.time() + 60
        commits = os.path.join(ckpt, "commits")
        while time.time() < deadline and not (
            os.path.isdir(commits) and len(os.listdir(commits)) >= 1
        ):
            time.sleep(0.2)
        assert os.path.isdir(commits) and len(os.listdir(commits)) >= 1
    finally:
        q1.stop()

    # event arrives while the query is DOWN; restart must recover the
    # pending-request state from the checkpoint and match it
    late_event = unioned_input(
        _requests_df(spark, []),
        _events_df(spark, [("t-restart", "SUCCEEDED", t0 + dt.timedelta(seconds=5))]),
    )
    late_event.write.mode("append").parquet(str(stream_dir))

    q2 = start("corr_restart2")
    try:
        deadline = time.time() + 60
        while time.time() < deadline and not read_out():
            time.sleep(0.3)
        assert read_out(), "no output after restart"
        time.sleep(1.0)  # allow a duplicate to surface if one would
        rows = read_out()
    finally:
        q2.stop()

    matched = [r for r in rows if r["txn_id"] == "t-restart"]
    assert len(matched) == 1, f"expected exactly one emission, got {matched}"
    assert matched[0]["outcome"] == "matched"
    assert matched[0]["http_code"] == 200
    assert matched[0]["latency_ms"] == 5000


def test_kinesis_stream_feeds_correlation_end_to_end(spark, tmp_path):
    """Full production path: ``kinesis_sink`` publishes status events
    to the Kinesis emulator's two shards, ``kinesis_stream`` reads
    them back, ``parse_status_events`` decodes the records, and the
    correlation state machine matches them to pending requests.  The
    engine twin of the reference's Kinesis-consumer→pending-map→HTTP-
    response chain (svckinesis.js:173-212)."""
    import datetime as dt

    from sfs3_kinesis_spark.sources import kinesis_stub
    from sfs3_kinesis_spark.sources.sinks import kinesis_sink
    from sfs3_kinesis_spark.sources.stream import kinesis_stream, parse_status_events

    root = str(tmp_path / "kin")
    kinesis_stub.register(spark)
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    txns = [f"0x{i:04x}" for i in range(12)]

    # txn ids are the partition keys, so the events spread over both
    # shards — the correlator must match across both shard cursors
    in_dir = tmp_path / "events_in"
    spark.createDataFrame(
        [(txn, "SUCCEEDED" if i % 4 else "FAILED") for i, txn in enumerate(txns)],
        "txn_id string, status string",
    ).coalesce(1).write.parquet(str(in_dir))
    qw = (
        kinesis_sink(
            spark.readStream.schema("txn_id string, status string").parquet(str(in_dir)),
            "status-events",
            endpoint_url=root,
        )
        .option("checkpointLocation", str(tmp_path / "ckpt_w"))
        .start()
    )
    try:
        qw.processAllAvailable()
    finally:
        qw.stop()
    assert all(
        sum(n for _, n in kinesis_stub._shard_files(root, "status-events", s))
        for s in ("0", "1")
    )

    event_stream = parse_status_events(
        kinesis_stream(
            spark, "status-events", starting_position="TRIM_HORIZON", endpoint_url=root
        ),
        value_col="data",
    ).select("txn_id", "status", "event_time")
    # requests were submitted at t0, before every event's arrival time
    requests = _requests_df(spark, [(txn, t0, 3_600_000) for txn in txns])
    out = correlate(stream_from_batch(requests, tmp_path / "req"), event_stream)
    q = run_stateful_to_memory(out, "kin_correlated", trigger_ms=200)
    try:
        n = wait_for_rows(
            spark,
            "SELECT count(*) FROM kin_correlated WHERE outcome = 'matched'",
            12,
            timeout_s=90,
        )
        assert n >= 12
        rows = spark.table("kin_correlated").collect()
        by_txn = {r.txn_id: r for r in rows if r.outcome == "matched"}
        assert len(by_txn) == 12
        assert by_txn["0x0000"].http_code == 400  # FAILED -> 400
        assert by_txn["0x0001"].http_code == 200
    finally:
        q.stop()
