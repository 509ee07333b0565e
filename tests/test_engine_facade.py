"""End-to-end service-facade test: the reference's curl smoke
(README.md:25-28 — POST {"foo":true} -> SUCCEEDED) run through
Engine.submit / await_completion / state_document / events."""

from __future__ import annotations

from sfs3_kinesis_spark.engine import Engine


def test_submit_to_succeeded_roundtrip(spark, tmp_path):
    eng = Engine(spark, str(tmp_path / "eng"))
    t1 = eng.submit('{"foo": true}')
    t2 = eng.submit('{"bar": 1}')
    q = eng.start()
    try:
        assert eng.await_completion(t1, timeout_s=60) == "SUCCEEDED"
        assert eng.await_completion(t2, timeout_s=60) == "SUCCEEDED"

        # whole-document read: all six stage outputs accreted
        doc = eng.state_document(t1)
        assert doc is not None and doc["status"] == "SUCCEEDED"
        assert doc["step_a_output"]["status"] == "ok"
        assert doc["step_f_output"]["downstreamExecutionArn"] == f"downstream:{t1}"
        assert all(doc[f"step_{s}_output"] is not None for s in "abcdef")
        # late submit while the stream is live is also processed
        t3 = eng.submit('{"baz": [1,2]}')
        q.processAllAvailable()
        assert eng.status(t3) == "SUCCEEDED"

        # status-event log: one idempotent event per txn
        ev = {r["txn_id"]: r for r in eng.events().collect()}
        assert set(ev) == {t1, t2, t3}
        assert all(r["status"] == "SUCCEEDED" for r in ev.values())
        assert ev[t1]["event_id"] == f"{t1}/step-f"
    finally:
        eng.stop()


def test_unknown_txn_and_timeout_paths(spark, tmp_path):
    eng = Engine(spark, str(tmp_path / "eng2"))
    assert eng.status("0xdoesnotexist") is None
    # pipeline not started: the request budget lapses (pollingsvc 20 s
    # semantics, shortened for the test)
    t1 = eng.submit('{"foo": true}')
    assert eng.await_completion(t1, timeout_s=1.0) == "TIMEOUT"


def test_event_log_redelivery_is_idempotent(spark, tmp_path):
    """foreachBatch may redeliver an epoch (crash after the event
    write, before the checkpoint commit): the event log is epoch-
    keyed with overwrite semantics, so the replay replaces its own
    output and events() never shows duplicate event_ids."""
    eng = Engine(spark, str(tmp_path / "eng"))
    batch = _event_table("0xaaa", "SUCCEEDED")
    eng._append_events(batch, 7)
    eng._append_events(batch, 7)  # the redelivered epoch
    ev = eng.events()
    assert ev.count() == 1
    assert "epoch" not in ev.columns  # bookkeeping stays internal
    eng._append_events(batch, 8)
    assert eng.events().count() == 2  # distinct epochs still append


def _event_table(txn: str, status: str):
    """One status event, as process_batch hands it to on_events."""
    import datetime as dt

    import pyarrow as pa

    return pa.table(
        {
            "txn_id": [txn],
            "status": [status],
            "event_id": [f"{txn}/step-f"],
            "event_time": pa.array([dt.datetime(2024, 1, 1)], pa.timestamp("us", "UTC")),
        }
    )


def test_concurrent_submits_all_land(spark, tmp_path):
    """Concurrent submit() calls share the ingest directory; each
    publishes its own uniquely named file, so no submit can clobber or
    hide another's (a lost accepted request).  Eight threads x two
    submits each must all land."""
    import concurrent.futures

    eng = Engine(spark, str(tmp_path / "eng"))
    with concurrent.futures.ThreadPoolExecutor(max_workers=8) as ex:
        txns = list(ex.map(lambda _: eng.submit('{"n": 1}'), range(16)))
    assert len(set(txns)) == 16
    landed = {
        r.txn_id for r in spark.read.parquet(eng.requests_dir).collect()
    }
    assert landed == set(txns)


def test_empty_steps_rejected_loudly(spark, tmp_path):
    import pytest

    from sfs3_kinesis_spark.operators.pipeline import run_pipeline

    df = spark.createDataFrame([("0x1", "{}")], "txn_id string, request string")
    with pytest.raises(ValueError, match="non-empty"):
        run_pipeline(df, [])


def _next_job_id(spark) -> int:
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def test_submit_runs_no_spark_job_and_leaves_no_temp_file(spark, tmp_path):
    """submit() publishes its one-row file with pyarrow and a rename:
    no Spark job, and only the visible ``part-<txn>.parquet`` stays."""
    import os

    eng = Engine(spark, str(tmp_path / "eng"))
    jobs0 = _next_job_id(spark)
    txn = eng.submit('{"foo": true}')
    assert _next_job_id(spark) - jobs0 == 0
    assert os.listdir(eng.requests_dir) == [f"part-{txn}.parquet"]
    assert [tuple(r) for r in spark.read.parquet(eng.requests_dir).collect()] == [
        (txn, '{"foo": true}')
    ]


def test_hidden_partial_file_is_never_read(spark, tmp_path):
    """A ``.``-prefixed file in the ingest directory is a publish still
    in flight: neither the running stream nor a batch read of the
    directory may see it, whole or truncated."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    eng = Engine(spark, str(tmp_path / "eng"))
    # a complete hidden file (its row must never surface) and a
    # truncated one (reading it would fail the stream)
    whole = os.path.join(eng.requests_dir, ".part-0xhidden.parquet")
    pq.write_table(pa.table({"txn_id": ["0xhidden"], "request": ["{}"]}), whole)
    with open(whole, "rb") as fh:
        data = fh.read()
    with open(os.path.join(eng.requests_dir, ".part-0xpartial.parquet"), "wb") as fh:
        fh.write(data[: len(data) // 2])

    txn = eng.submit('{"foo": true}')
    # read before the stream starts: it deletes the files it consumed
    assert [r.txn_id for r in spark.read.parquet(eng.requests_dir).collect()] == [txn]
    q = eng.start()
    try:
        assert eng.await_completion(txn, timeout_s=60) == "SUCCEEDED"
        q.processAllAvailable()
        assert q.exception() is None and q.isActive
        assert eng.status("0xhidden") is None
        assert {r.txn_id for r in eng.events().collect()} == {txn}
    finally:
        eng.stop()
    # the stream never lists a hidden file, so it never deletes one either
    names = set(os.listdir(eng.requests_dir))
    assert {".part-0xhidden.parquet", ".part-0xpartial.parquet"} <= names


def test_status_and_state_reads_run_no_spark_job(spark, tmp_path):
    """Once a txn is committed, the status poll, the state-document
    read and the wait on a finished txn are pyarrow point reads of the
    state store: none of them runs a Spark job."""
    eng = Engine(spark, str(tmp_path / "eng"))
    txn = eng.submit('{"foo": true}')
    eng.start()
    try:
        assert eng.await_completion(txn, timeout_s=60) == "SUCCEEDED"
    finally:
        eng.stop()  # no micro-batch jobs while counting
    jobs0 = _next_job_id(spark)
    assert eng.status(txn) == "SUCCEEDED"
    doc = eng.state_document(txn)
    assert eng.await_completion(txn, timeout_s=5) == "SUCCEEDED"
    assert eng.status("0xdoesnotexist") is None
    assert _next_job_id(spark) - jobs0 == 0
    assert doc["txn_id"] == txn and doc["status"] == "SUCCEEDED"
    assert "_v" not in doc and "_epoch" not in doc


def test_lookup_races_commits_compactions_and_vacuum(spark, tmp_path):
    """More readers than cores loop on lookup, with a short thread
    switch interval, while one thread commits deltas, compacts every
    second version and vacuums: no lookup raises, and no key's value
    ever goes backwards."""
    import sys
    import threading

    from sfs3_kinesis_spark.sources.sinks import KeyedUpsertSink

    sink = KeyedUpsertSink(spark, str(tmp_path / "st"), key_col="k", compact_every=2)
    keys = ["k0", "k1", "k2"]
    sink.apply_batch(spark.createDataFrame([(k, 0) for k in keys], "k string, val int"), 0)
    stop = threading.Event()
    errors: list[str] = []
    reads = [0]

    def reader():
        last = dict.fromkeys(keys, 0)
        while not stop.is_set():
            for k in keys:
                try:
                    row = sink.lookup(k)
                except Exception as exc:  # noqa: BLE001
                    errors.append(repr(exc))
                    return
                if row is None or row["val"] < last[k]:
                    errors.append(f"{k}: {row} after val {last[k]}")
                    return
                last[k] = row["val"]
                reads[0] += 1

    readers = [threading.Thread(target=reader, daemon=True) for _ in range(6)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    for r in readers:
        r.start()
    try:
        for e in range(1, 13):
            sink.apply_batch(
                spark.createDataFrame([(keys[e % 3], e)], "k string, val int"), e
            )
            sink.vacuum()  # after each compaction, drops the previous read path
    finally:
        stop.set()
        for r in readers:
            r.join(30)
        sys.setswitchinterval(interval)
    assert not any(r.is_alive() for r in readers)
    assert not errors, errors
    assert reads[0] > 0
    assert {k: sink.lookup(k)["val"] for k in keys} == {"k0": 12, "k1": 10, "k2": 11}


def _drain(eng, txns):
    """Run the stream until idle (it raises if the query failed);
    returns the txns' statuses and the input row counts of the
    batches that ran."""
    eng._query.processAllAvailable()
    statuses = {t: eng.status(t) for t in txns}
    rows = [p["numInputRows"] for p in eng._query.recentProgress if p["numInputRows"]]
    return statuses, rows


def test_engine_micro_batch_is_one_spark_job(spark, tmp_path):
    """A micro-batch runs one Spark job, the staged projection pulled
    as Arrow, whether or not it compacts the state store: the event
    partition, the state delta and the snapshot fold are pyarrow
    writes."""
    eng = Engine(spark, str(tmp_path / "eng"))
    eng._sink.compact_every = 2
    txns = [eng.submit('{"foo": true}') for _ in range(3)]
    jobs0 = _next_job_id(spark)
    eng.start()
    try:
        statuses, rows = _drain(eng, txns)
        jobs = _next_job_id(spark) - jobs0
        assert set(statuses.values()) == {"SUCCEEDED"}
        assert rows == [3] and eng._sink.version == 1
        assert jobs == 1
        # the second batch compacts
        more = [eng.submit('{"foo": true}') for _ in range(2)]
        jobs0 = _next_job_id(spark)
        statuses, rows = _drain(eng, more)
        jobs = _next_job_id(spark) - jobs0
    finally:
        eng.stop()
    assert set(statuses.values()) == {"SUCCEEDED"}
    assert rows[-1] == 2 and eng._sink.version == 2 and eng._sink._snapshots == [2]
    assert jobs == 1


def test_engine_batches_are_bounded(spark, tmp_path, monkeypatch):
    """With the batch bound at 4 rows, ten queued submits drain in at
    least three micro-batches of at most 4 rows; every txn succeeds
    and the event log holds one event per txn."""
    from sfs3_kinesis_spark.streaming import incremental

    monkeypatch.setattr(incremental, "MAX_BATCH_ROWS", 4)
    eng = Engine(spark, str(tmp_path / "eng"))
    txns = [eng.submit('{"n": 1}') for _ in range(10)]
    eng.start()
    try:
        statuses, rows = _drain(eng, txns)
    finally:
        eng.stop()
    assert set(statuses.values()) == {"SUCCEEDED"}
    assert len(rows) >= 3 and max(rows) <= 4 and sum(rows) == 10
    ev = eng.events().collect()
    assert sorted(r.txn_id for r in ev) == sorted(txns)
    assert {r.event_id for r in ev} == {f"{t}/step-f" for t in txns}


def test_crashed_event_write_is_never_read(spark, tmp_path, monkeypatch):
    """An event write that dies before its rename leaves a hidden file:
    events() neither reads it nor counts it as an event partition, and
    the redelivered epoch then lands whole."""
    import pytest

    from sfs3_kinesis_spark import engine as engine_mod

    eng = Engine(spark, str(tmp_path / "eng"))
    batch = _event_table("0xaaa", "FAILED")
    real_write = engine_mod.pq.write_table

    def write_then_crash(table, where, **kw):
        real_write(table, where, **kw)
        raise OSError("crash after the event write")

    monkeypatch.setattr(engine_mod.pq, "write_table", write_then_crash)
    with pytest.raises(OSError, match="crash"):
        eng._append_events(batch, 3)
    monkeypatch.undo()
    restarted = Engine(spark, str(tmp_path / "eng"))
    assert restarted.events() is None
    restarted._append_events(batch, 3)
    assert [tuple(r) for r in restarted.events().select("txn_id", "status").collect()] == [
        ("0xaaa", "FAILED")
    ]


def test_dead_stream_fails_held_await_fast(spark, tmp_path):
    """Once a micro-batch raises, the stream commits nothing more: a
    held await_completion raises the query's error within seconds
    instead of sleeping out its 20 s budget."""
    import time

    import pytest

    eng = Engine(spark, str(tmp_path / "eng"))
    first = eng.submit('{"foo": true}')
    eng.start()
    try:
        assert eng.await_completion(first, timeout_s=60) == "SUCCEEDED"

        def broken(table, schema, epoch_id):
            raise RuntimeError("state store unavailable")

        eng._sink.commit_arrow = broken
        txn = eng.submit('{"foo": true}')
        t0 = time.monotonic()
        with pytest.raises(Exception, match="state store unavailable"):
            eng.await_completion(txn, timeout_s=20)
        assert time.monotonic() - t0 < 5
    finally:
        eng.stop()


def _compiles(spark) -> int:
    """Janino compiles the JVM has run so far (Spark's codegen metrics)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def test_steady_micro_batches_compile_no_code(spark, tmp_path):
    """Once the first micro-batch has run, later batches reuse its
    generated code: three more batches add no Janino compile.  Every
    event carries a non-null ``event_time`` no earlier than its
    submit."""
    import time

    eng = Engine(spark, str(tmp_path / "eng"))
    t0 = time.time()
    first = eng.submit('{"foo": true}')
    eng.start()
    try:
        assert eng.await_completion(first, timeout_s=60) == "SUCCEEDED"
        compiles0, version0 = _compiles(spark), eng._sink.version
        submitted = {first: t0}
        for _ in range(3):
            t = time.time()
            txns = [eng.submit('{"foo": true}') for _ in range(2)]
            submitted.update(dict.fromkeys(txns, t))
            assert {eng.await_completion(x, timeout_s=60) for x in txns} == {"SUCCEEDED"}
        compiles = _compiles(spark) - compiles0
        batches = eng._sink.version - version0
    finally:
        eng.stop()
    assert batches >= 3
    assert compiles == 0
    ev = eng.events().collect()
    assert sorted(r.txn_id for r in ev) == sorted(submitted)
    for r in ev:
        assert r.event_time is not None
        assert r.event_time.timestamp() >= submitted[r.txn_id] - 1e-6


def _wait_gone(directory: str, names: set[str], timeout_s: float = 10.0) -> set[str]:
    """Poll until none of ``names`` is in ``directory`` (Spark's
    cleaner deletes asynchronously); return those still there."""
    import os
    import time

    deadline = time.monotonic() + timeout_s
    while (left := names & set(os.listdir(directory))) and time.monotonic() < deadline:
        time.sleep(0.1)
    return left


def test_consumed_request_files_leave_the_ingest_directory(spark, tmp_path):
    """Once a batch has committed, the stream deletes the request files
    it read (when it plans the next batch), so the ingest directory
    holds only files in flight; hidden files stay untouched."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    eng = Engine(spark, str(tmp_path / "eng"))
    hidden = os.path.join(eng.requests_dir, ".part-0xhidden.parquet")
    pq.write_table(pa.table({"txn_id": ["0xhidden"], "request": ["{}"]}), hidden)
    with open(hidden, "rb") as fh:
        hidden_bytes = fh.read()
    first = [eng.submit('{"foo": true}') for _ in range(3)]
    eng.start()
    try:
        assert {eng.await_completion(t, timeout_s=60) for t in first} == {"SUCCEEDED"}
        later = eng.submit('{"foo": true}')
        assert eng.await_completion(later, timeout_s=60) == "SUCCEEDED"
        assert _wait_gone(eng.requests_dir, {f"part-{t}.parquet" for t in first}) == set()
    finally:
        eng.stop()
    with open(hidden, "rb") as fh:
        assert fh.read() == hidden_bytes
    assert eng.status("0xhidden") is None
    assert {eng.state_document(t)["request"] for t in first} == {'{"foo": true}'}


def test_restarted_engine_rereads_no_committed_request(spark, tmp_path):
    """An Engine restarted over the same root reads none of the
    requests the first run committed, the last batch's files (not yet
    deleted at the stop) included; new submits succeed and the event
    log holds exactly one event per txn."""
    import os

    root = str(tmp_path / "eng")
    eng = Engine(spark, root)
    before = [eng.submit('{"foo": true}') for _ in range(3)]
    eng.start()
    try:
        assert {eng.await_completion(t, timeout_s=60) for t in before} == {"SUCCEEDED"}
        _drain(eng, before)  # the batch's commit-log entry is written
    finally:
        eng.stop()
    leftovers = {f"part-{t}.parquet" for t in before}
    assert leftovers <= set(os.listdir(eng.requests_dir))

    again = Engine(spark, root)
    again.start()
    try:
        after = [again.submit('{"bar": 1}') for _ in range(2)]
        assert {again.await_completion(t, timeout_s=60) for t in after} == {"SUCCEEDED"}
        _statuses, rows = _drain(again, after)
        assert _wait_gone(again.requests_dir, leftovers) == set()
    finally:
        again.stop()
    assert sum(rows) == 2
    assert {again.status(t) for t in before + after} == {"SUCCEEDED"}
    ev = [r.txn_id for r in again.events().collect()]
    assert sorted(ev) == sorted(before + after)
