"""Incremental pipeline event side-output (reference T9 + S3op in
streaming mode): terminal SUCCEEDED/FAILED notifications per
micro-batch with idempotent event ids."""

from __future__ import annotations

from pyspark.sql import functions as F

from sfs3_kinesis_spark.operators.pipeline import Step, reference_steps
from sfs3_kinesis_spark.sources.sinks import KeyedUpsertSink
from sfs3_kinesis_spark.streaming.incremental import IncrementalPipeline


def test_incremental_emits_failed_and_succeeded_events(spark, tmp_path):
    req_dir = tmp_path / "req"
    req_dir.mkdir()
    collected: list[tuple[str, str, str]] = []

    def on_events(events, epoch_id):  # a pyarrow Table
        collected.extend(
            (r["txn_id"], r["status"], r["event_id"])
            for r in events.select(["txn_id", "status", "event_id"]).to_pylist()
        )

    # fault-inject step C for txn '1' (the reference's per-step catch
    # -> FAILED notification, aprocess.js:111-115)
    steps = reference_steps()
    c = steps[2]
    steps[2] = Step(c.name, c.output_col, c.result, c.gate_on, fail_if=F.col("txn_id") == "1")

    sink = KeyedUpsertSink(spark, str(tmp_path / "store"))
    pipe = IncrementalPipeline(sink, steps=steps, on_events=on_events)

    spark.createDataFrame(
        [(str(i), '{"foo": true}') for i in range(3)], "txn_id string, request string"
    ).coalesce(1).write.mode("append").parquet(str(req_dir))
    stream = spark.readStream.schema("txn_id string, request string").parquet(str(req_dir))
    q = pipe.start(stream, str(tmp_path / "ckpt"))
    q.processAllAvailable()
    q.stop()

    by_txn = {t: (s, e) for t, s, e in collected}
    assert by_txn["0"][0] == "SUCCEEDED"
    assert by_txn["1"][0] == "FAILED"
    assert by_txn["2"][0] == "SUCCEEDED"
    # idempotency key: txn/stage — replays dedupe at the sink (W6)
    assert by_txn["1"][1] == "1/step-f"
    # the failed txn's state row records FAILED with no step-c output
    state = {r["txn_id"]: r for r in sink.current().collect()}
    assert state["1"]["status"] == "FAILED"
    assert state["1"]["step_c_output"] is None


def test_upsert_sink_time_travel_and_restart_resume(spark, tmp_path):
    """KeyedUpsertSink: each micro-batch MERGE yields a readable
    snapshot version (time travel), and a NEW sink instance over the
    same path resumes from the on-disk latest instead of version 0
    (restart durability the reference's in-memory map lacks)."""
    from sfs3_kinesis_spark.sources.sinks import KeyedUpsertSink

    path = str(tmp_path / "state")
    sink = KeyedUpsertSink(spark, path, key_col="txn_id")
    b1 = spark.createDataFrame([("a", "RUNNING"), ("b", "RUNNING")], "txn_id string, status string")
    b2 = spark.createDataFrame([("a", "SUCCEEDED")], "txn_id string, status string")
    sink.apply_batch(b1, epoch_id=0)
    sink.apply_batch(b2, epoch_id=1)

    v1 = {r.txn_id: r.status for r in sink.read_version(1).collect()}
    v2 = {r.txn_id: r.status for r in sink.read_version(2).collect()}
    assert v1 == {"a": "RUNNING", "b": "RUNNING"}
    assert v2 == {"a": "SUCCEEDED", "b": "RUNNING"}

    resumed = KeyedUpsertSink(spark, path, key_col="txn_id")
    assert resumed._version == 2
    b3 = spark.createDataFrame([("b", "FAILED")], "txn_id string, status string")
    resumed.apply_batch(b3, epoch_id=2)
    final = {r.txn_id: r.status for r in resumed.current().collect()}
    assert final == {"a": "SUCCEEDED", "b": "FAILED"}


def test_upsert_sink_delta_append_and_compaction(spark, tmp_path):
    """The LSM write path (VERDICT r02 #3): each micro-batch appends
    ONE O(batch) delta dir; every ``compact_every`` versions a
    snapshot folds the tail; time travel stays exact at EVERY
    version, and restart resumes from the mixed snapshot+delta
    layout."""
    import os

    from sfs3_kinesis_spark.sources.sinks import KeyedUpsertSink

    path = str(tmp_path / "state")
    sink = KeyedUpsertSink(spark, path, key_col="k", compact_every=3)
    for i in range(5):
        sink.apply_batch(
            spark.createDataFrame([(f"k{i % 2}", i)], "k string, val int"), epoch_id=i
        )
    dirs = sorted(os.listdir(path))
    assert [d for d in dirs if d.startswith("d")] == ["d1", "d2", "d3", "d4", "d5"]
    # exactly one compaction snapshot (at version 3), NOT one per batch
    assert [d for d in dirs if d.startswith("v")] == ["v3"]
    assert {r.k: r.val for r in sink.current().collect()} == {"k0": 4, "k1": 3}
    # time travel across the compaction boundary
    assert {r.k: r.val for r in sink.read_version(2).collect()} == {"k0": 0, "k1": 1}
    assert {r.k: r.val for r in sink.read_version(4).collect()} == {"k0": 2, "k1": 3}
    resumed = KeyedUpsertSink(spark, path, key_col="k", compact_every=3)
    assert resumed._version == 5
    assert {r.k: r.val for r in resumed.current().collect()} == {"k0": 4, "k1": 3}
    # one more batch crosses the next compaction point
    resumed.apply_batch(
        spark.createDataFrame([("k0", 99)], "k string, val int"), epoch_id=5
    )
    assert sorted(d for d in os.listdir(path) if d.startswith("v")) == ["v3", "v6"]
    assert {r.k: r.val for r in resumed.current().collect()} == {"k0": 99, "k1": 3}


def test_upsert_sink_write_path_never_reads_base(spark, tmp_path):
    """A non-compacting micro-batch write is O(batch): apply_batch
    must not touch ``spark.read`` at all (round 2 re-read and
    rewrote the full snapshot every batch)."""
    from sfs3_kinesis_spark.sources.sinks import KeyedUpsertSink

    path = str(tmp_path / "state")
    sink = KeyedUpsertSink(spark, path, key_col="k", compact_every=100)
    sink.apply_batch(spark.createDataFrame([("a", 1)], "k string, v int"), epoch_id=0)

    class _NoRead:
        def __getattr__(self, name):
            raise AssertionError(f"write path touched spark.{name}")

    real_spark = sink.spark
    sink.spark = _NoRead()
    try:
        sink.apply_batch(
            real_spark.createDataFrame([("b", 2)], "k string, v int"), epoch_id=1
        )
    finally:
        sink.spark = real_spark
    assert {r.k: r.v for r in sink.current().collect()} == {"a": 1, "b": 2}


def test_upsert_sink_schema_evolution_across_compaction(spark, tmp_path):
    """A later micro-batch may carry NEW columns (the reference's
    process documents accrete fields, aprocess.js:57-58): merged
    reads and the compaction fold must evolve the schema — old rows
    get NULLs, no column is dropped, last-writer-wins unchanged."""
    from sfs3_kinesis_spark.sources.sinks import KeyedUpsertSink

    sink = KeyedUpsertSink(spark, str(tmp_path / "st"), key_col="k", compact_every=2)
    sink.apply_batch(
        spark.createDataFrame([("a", "RUNNING")], "k string, status string"),
        epoch_id=0,
    )
    # epoch 1 adds a column AND triggers compaction (2 % 2 == 0)
    sink.apply_batch(
        spark.createDataFrame(
            [("b", "RUNNING", "x")], "k string, status string, extra string"
        ),
        epoch_id=1,
    )
    cur = {r.k: (r.status, r.extra) for r in sink.current().collect()}
    assert cur == {"a": ("RUNNING", None), "b": ("RUNNING", "x")}
    # post-compaction upsert of the OLD schema still merges cleanly
    sink.apply_batch(
        spark.createDataFrame([("a", "SUCCEEDED")], "k string, status string"),
        epoch_id=2,
    )
    cur = {r.k: (r.status, r.extra) for r in sink.current().collect()}
    assert cur == {"a": ("SUCCEEDED", None), "b": ("RUNNING", "x")}


def test_upsert_sink_vacuum_retention(spark, tmp_path):
    """VACUUM: history before the latest compaction anchor is GC'd
    (time travel there forfeited, loudly), everything at or after it
    stays exact, and a restarted sink resumes over the vacuumed
    layout."""
    import pytest

    from sfs3_kinesis_spark.sources.sinks import KeyedUpsertSink

    path = str(tmp_path / "st")
    sink = KeyedUpsertSink(spark, path, key_col="k", compact_every=2)
    for i in range(5):
        sink.apply_batch(
            spark.createDataFrame([(f"k{i % 2}", i)], "k string, val int"), epoch_id=i
        )
    # snapshots at v2, v4; deltas d1..d5
    removed = sink.vacuum()  # default horizon = latest compaction (4)
    assert removed == 5  # d1..d4 + v2
    assert {r.k: r.val for r in sink.current().collect()} == {"k0": 4, "k1": 3}
    assert {r.k: r.val for r in sink.read_version(4).collect()} == {"k0": 2, "k1": 3}
    assert {r.k: r.val for r in sink.read_version(5).collect()} == {"k0": 4, "k1": 3}
    with pytest.raises(ValueError):
        sink.read_version(3).collect()

    resumed = KeyedUpsertSink(spark, path, key_col="k", compact_every=2)
    assert resumed._version == 5
    assert {r.k: r.val for r in resumed.current().collect()} == {"k0": 4, "k1": 3}

    # a horizon with no snapshot anchor below it is refused
    fresh = KeyedUpsertSink(spark, str(tmp_path / "st2"), key_col="k", compact_every=100)
    fresh.apply_batch(spark.createDataFrame([("a", 1)], "k string, v int"), epoch_id=0)
    fresh.apply_batch(spark.createDataFrame([("b", 2)], "k string, v int"), epoch_id=1)
    with pytest.raises(ValueError, match="compact first"):
        fresh.vacuum(keep_from_version=1)


def test_forget_keys_erases_current_and_history(spark, tmp_path):
    """GDPR erasure: forget_keys must remove a subject from the
    CURRENT merged state AND from every time-travel version (a
    tombstone that only masks current reads is not erasure), leave
    all other keys bit-intact at every version, and compose with
    vacuum.  Idempotent: forgetting again removes nothing."""
    from sfs3_kinesis_spark.sources.sinks import KeyedUpsertSink

    path = str(tmp_path / "store")
    sink = KeyedUpsertSink(spark, path, key_col="txn_id", compact_every=2)
    schema = "txn_id string, status string"
    sink.apply_batch(spark.createDataFrame([("a", "RUNNING"), ("b", "RUNNING")], schema), 0)
    sink.apply_batch(spark.createDataFrame([("a", "SUCCEEDED"), ("c", "RUNNING")], schema), 1)
    sink.apply_batch(spark.createDataFrame([("b", "FAILED")], schema), 2)

    removed = sink.forget_keys(["a"])
    assert removed == 3  # v1 snapshot copy + two delta rows (d1, d2)

    # current state: a gone, b/c intact with their latest values
    cur = {r.txn_id: r.status for r in sink.current().collect()}
    assert cur == {"b": "FAILED", "c": "RUNNING"}
    # EVERY historical version is scrubbed too
    for v in range(1, sink._version + 1):
        hist = {r.txn_id for r in sink.read_version(v).collect()}
        assert "a" not in hist, f"version {v} resurrects the forgotten key"
    # version 1 still serves the other keys as of then
    v1 = {r.txn_id: r.status for r in sink.read_version(1).collect()}
    assert v1 == {"b": "RUNNING"}

    # idempotent; DataFrame-typed forget set also accepted
    assert sink.forget_keys(["a"]) == 0
    assert sink.forget_keys(spark.createDataFrame([("zzz",)], ["txn_id"])) == 0

    # erasure survives vacuum + a fresh instance re-scanning disk
    sink.vacuum()
    resumed = KeyedUpsertSink(spark, path, key_col="txn_id", compact_every=2)
    cur2 = {r.txn_id: r.status for r in resumed.current().collect()}
    assert cur2 == {"b": "FAILED", "c": "RUNNING"}


def test_forget_keys_swap_crash_recovery(spark, tmp_path):
    """A crash inside forget_keys' version-directory swap must never
    lose a whole version: on the next instantiation the sink finishes
    the swap — preferring the complete post-erasure ``.tmp`` copy
    (erasure must not un-happen) and restoring ``.old`` only when no
    complete replacement exists; stale leftovers beside an intact
    version are just cleaned up."""
    import os
    import shutil

    from sfs3_kinesis_spark.sources.sinks import KeyedUpsertSink

    path = str(tmp_path / "store")
    sink = KeyedUpsertSink(spark, path, key_col="txn_id", compact_every=100)
    schema = "txn_id string, status string"
    sink.apply_batch(spark.createDataFrame([("a", "RUNNING"), ("b", "RUNNING")], schema), 0)
    sink.apply_batch(spark.createDataFrame([("a", "DONE"), ("c", "RUNNING")], schema), 1)
    d1 = sink._delta_dir(1)

    # crash scenario 1: between the two renames (d -> d.old done,
    # tmp -> d not yet).  tmp holds the complete post-erasure copy.
    scrubbed = spark.read.parquet(d1).filter("txn_id <> 'a'")
    scrubbed.write.mode("overwrite").parquet(d1 + ".tmp")
    os.rename(d1, d1 + ".old")
    resumed = KeyedUpsertSink(spark, path, key_col="txn_id", compact_every=100)
    assert not os.path.exists(d1 + ".tmp") and not os.path.exists(d1 + ".old")
    assert {r.txn_id for r in spark.read.parquet(d1).collect()} == {"b"}
    assert resumed._deltas == [1, 2]

    # crash scenario 2: tmp write died mid-flight (no _SUCCESS) and
    # the original was already moved aside -> the pre-erasure copy
    # comes back (no data loss; the erasure call simply retries).
    os.rename(d1, d1 + ".old")
    os.makedirs(d1 + ".tmp")  # incomplete: no _SUCCESS marker
    KeyedUpsertSink(spark, path, key_col="txn_id", compact_every=100)
    assert {r.txn_id for r in spark.read.parquet(d1).collect()} == {"b"}
    assert not os.path.exists(d1 + ".tmp") and not os.path.exists(d1 + ".old")

    # crash scenario 3: stale leftovers next to an intact version
    shutil.copytree(d1, d1 + ".old")
    shutil.copytree(d1, d1 + ".tmp")
    KeyedUpsertSink(spark, path, key_col="txn_id", compact_every=100)
    assert not os.path.exists(d1 + ".tmp") and not os.path.exists(d1 + ".old")
    assert {r.txn_id for r in spark.read.parquet(d1).collect()} == {"b"}


def _next_job_id(spark) -> int:
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def _snapshot_plus_deltas(spark, path):
    """compact_every=3 over five batches: snapshot v3 + deltas d4, d5
    on the current read path."""
    sink = KeyedUpsertSink(spark, path, key_col="k", compact_every=3)
    for i in range(5):
        sink.apply_batch(
            spark.createDataFrame([(f"k{i % 2}", i)], "k string, val int"), epoch_id=i
        )
    return sink


def test_upsert_sink_point_read_runs_no_schema_inference(spark, tmp_path):
    """Every version directory's schema is recorded at write time, so
    building a read runs no job and reading it runs only the jobs of
    its own query: the merge shuffle's map stage and the result stage.
    Inferring the schema of each part would add one job for each of
    the three directories.  A point read (lookup) runs no job at all."""
    sink = _snapshot_plus_deltas(spark, str(tmp_path / "st"))
    assert sink._snapshots == [3] and sink._deltas == [1, 2, 3, 4, 5]
    jobs0 = _next_job_id(spark)
    cur = sink.current()
    assert _next_job_id(spark) - jobs0 == 0
    assert {r.k: r.val for r in cur.collect()} == {"k0": 4, "k1": 3}
    assert _next_job_id(spark) - jobs0 == 2
    assert sink.lookup("k0") == {"k": "k0", "val": 4}
    assert _next_job_id(spark) - jobs0 == 2


def test_upsert_sink_reopened_infers_each_schema_once(spark, tmp_path):
    """A sink reopened over directories it did not write answers a
    lookup from the parquet footers with no job, and infers each
    directory's schema on its first Spark read only."""
    path = str(tmp_path / "st")
    _snapshot_plus_deltas(spark, path)
    resumed = KeyedUpsertSink(spark, path, key_col="k", compact_every=3)
    jobs0 = _next_job_id(spark)
    assert resumed.lookup("k0") == {"k": "k0", "val": 4}
    assert _next_job_id(spark) - jobs0 == 0
    resumed.current()
    inferred = _next_job_id(spark) - jobs0
    assert 1 <= inferred <= 3  # v3, d4, d5
    assert set(resumed._schemas) == {
        resumed._snapshot_dir(3), resumed._delta_dir(4), resumed._delta_dir(5)
    }
    jobs0 = _next_job_id(spark)
    cur = resumed.current()
    assert _next_job_id(spark) - jobs0 == 0
    assert cur.filter(F.col("k") == "k1").first().val == 3
    # the cached schema reads the same rows inference does
    assert {r.k: r.val for r in resumed.current().collect()} == {"k0": 4, "k1": 3}


def _spark_rows(sink) -> dict:
    """Every key's merged row from the Spark read, as lookup returns it."""
    return {
        r[sink.key_col]: {
            c: v for c, v in r.asDict(recursive=True).items() if c not in ("_v", "_epoch")
        }
        for r in sink.current().collect()
    }


def test_upsert_sink_lookup_equals_spark_merge(spark, tmp_path):
    """lookup reads the newest directory holding the key with pyarrow
    and must return exactly the row the Spark merge keeps, through a
    snapshot plus deltas, overwritten keys, nested / map / timestamp /
    null values, a column missing from older directories, a reopened
    sink and a forget_keys erasure."""
    import datetime as dt

    path = str(tmp_path / "st")
    sink = KeyedUpsertSink(spark, path, key_col="k", compact_every=3)
    assert sink.lookup("k0") is None  # empty store

    plain = "k string, val int"
    rich = plain + (
        ", doc struct<a:int, tags:array<string>>, attrs map<string,int>,"
        " at timestamp, note string"
    )
    batches = [
        ([("k0", 0), ("k1", 1), ("k2", 2)], plain),
        ([("k1", 11)], plain),
        ([("k3", 3, (1, ["x", "y"]), {"p": 1, "q": None}, dt.datetime(2024, 1, 2, 3, 4, 5, 678), None)], rich),
        # d4 adds a column no older directory has
        ([("k0", 40, (2, []), {}, dt.datetime(2025, 6, 7), "n", "e")], rich + ", extra string"),
        ([("k2", 52), ("k3", 33), ("k4", 4)], plain),  # d5 lacks the rich columns
    ]
    for epoch, (rows, schema) in enumerate(batches):
        sink.apply_batch(spark.createDataFrame(rows, schema), epoch_id=epoch)
        if sink.version in (3, 5):  # snapshot v3 alone, then v3 + d4, d5
            want = _spark_rows(sink)
            jobs0 = _next_job_id(spark)
            for k, row in want.items():
                assert sink.lookup(k) == row, k
                assert sink.lookup(k, ["val", "note"]) == {"val": row["val"], "note": row["note"]}
            assert sink.lookup("nope") is None
            assert _next_job_id(spark) - jobs0 == 0
        if sink.version == 3:
            assert want["k3"] == {
                "k": "k3", "val": 3, "doc": {"a": 1, "tags": ["x", "y"]},
                "attrs": {"p": 1, "q": None}, "at": dt.datetime(2024, 1, 2, 3, 4, 5, 678),
                "note": None,
            }
    assert sink._snapshots == [3] and sink._deltas == [1, 2, 3, 4, 5]
    assert set(want) == {"k0", "k1", "k2", "k3", "k4"}
    assert want["k1"]["extra"] is None and want["k3"]["doc"] is None
    assert want["k0"]["attrs"] == {} and want["k0"]["doc"] == {"a": 2, "tags": []}

    resumed = KeyedUpsertSink(spark, path, key_col="k", compact_every=3)
    jobs0 = _next_job_id(spark)
    assert {k: resumed.lookup(k) for k in want} == want
    assert _next_job_id(spark) - jobs0 == 0

    assert resumed.forget_keys(["k3"]) == 3  # in d3, d5 and snapshot v3
    want = _spark_rows(resumed)
    assert "k3" not in want and resumed.lookup("k3") is None
    for k, row in want.items():
        assert resumed.lookup(k) == row, k


def test_upsert_sink_vacuum_drops_cached_schemas(spark, tmp_path):
    """vacuum forgets the schemas of the directories it removes, so
    the cache holds exactly the directories on disk."""
    import os

    path = str(tmp_path / "st")
    sink = KeyedUpsertSink(spark, path, key_col="k", compact_every=2)
    for i in range(7):
        sink.apply_batch(
            spark.createDataFrame([(f"k{i % 3}", i)], "k string, val int"), epoch_id=i
        )
        if sink._snapshots:
            sink.vacuum()
        on_disk = {os.path.join(path, d) for d in os.listdir(path)}
        assert set(sink._schemas) == on_disk
    assert len(sink._schemas) == 2  # v6 + d7
    assert {r.k: r.val for r in sink.current().collect()} == {"k0": 6, "k1": 4, "k2": 5}


def test_upsert_sink_wait_for_version(spark, tmp_path):
    """wait_for_version wakes on the commit of the awaited version,
    before that batch's compaction runs, and returns False once its
    timeout lapses with nothing committed."""
    import threading
    import time

    sink = KeyedUpsertSink(spark, str(tmp_path / "st"), key_col="k", compact_every=1)
    t0 = time.monotonic()
    assert sink.wait_for_version(1, 0.3) is False
    assert time.monotonic() - t0 >= 0.3

    woke = threading.Event()
    real_compact = sink._compact

    def compact_after_wake(version):
        # the commit must already have woken the waiter: a notify
        # after compaction would leave this wait to time out
        assert woke.wait(30), "waiter was not woken before compaction"
        real_compact(version)

    sink._compact = compact_after_wake
    waiter = threading.Thread(
        target=lambda: sink.wait_for_version(1, 60) and woke.set(), daemon=True
    )
    waiter.start()
    assert not woke.wait(0.2)  # nothing committed yet
    sink.apply_batch(spark.createDataFrame([("a", 1)], "k string, v int"), epoch_id=0)
    waiter.join(5)
    assert not waiter.is_alive()
    assert woke.is_set() and sink.version == 1 and sink._snapshots == [1]


def test_upsert_sink_commits_wake_every_waiter(spark, tmp_path):
    """More waiters than cores, on several versions, with a short
    thread switch interval: every commit wakes its waiters and none
    misses a wakeup or wakes early."""
    import sys
    import threading

    sink = KeyedUpsertSink(spark, str(tmp_path / "st"), key_col="k", compact_every=100)
    woke: dict[int, int] = {}
    lock = threading.Lock()

    def wait(i):
        target = 1 + i % 4
        ok = sink.wait_for_version(target, 120)
        with lock:
            woke[i] = sink.version if ok else -1

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        waiters = [threading.Thread(target=wait, args=(i,), daemon=True) for i in range(16)]
        for w in waiters:
            w.start()
        for e in range(4):
            sink.apply_batch(spark.createDataFrame([(f"k{e}", e)], "k string, v int"), e)
        for w in waiters:
            w.join(60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(w.is_alive() for w in waiters)
    assert all(woke[i] >= 1 + i % 4 for i in range(16)), woke


def _poisoned_pipeline(spark, path, poison="1", compact_every=8):
    """An IncrementalPipeline whose step C faults on txn ``poison``."""
    steps = reference_steps()
    c = steps[2]
    steps[2] = Step(c.name, c.output_col, c.result, c.gate_on, fail_if=F.col("txn_id") == poison)
    sink = KeyedUpsertSink(spark, path, compact_every=compact_every)
    return IncrementalPipeline(sink, steps=steps)


def _requests(spark, ids):
    return spark.createDataFrame(
        [(str(i), '{"foo": true}') for i in ids], "txn_id string, request string"
    )


def _current_rows(sink) -> dict:
    """current() by key, shaped like lookup's dicts."""
    rows = {}
    for r in sink.current().collect():
        d = r.asDict(recursive=True)
        rows[d[sink.key_col]] = {k: v for k, v in d.items() if k not in ("_v", "_epoch")}
    return rows


def test_arrow_commit_lookup_equals_current_for_failed_and_succeeded(spark, tmp_path):
    """The Arrow commit of a micro-batch holding a FAILED txn (its
    later stage structs are NULL) and SUCCEEDED txns: each lookup
    equals the txn's current() row, and the state carries attempts."""
    pipe = _poisoned_pipeline(spark, str(tmp_path / "store"))
    pipe.process_batch(pipe.stage(_requests(spark, range(3))), 0)
    sink = pipe.state_sink
    assert sink.version == 1
    cur = _current_rows(sink)
    assert {t: r["status"] for t, r in cur.items()} == {
        "0": "SUCCEEDED", "1": "FAILED", "2": "SUCCEEDED"
    }
    assert cur["1"]["step_b_output"] is not None and cur["1"]["step_c_output"] is None
    assert cur["0"]["step_f_output"] == {"downstreamExecutionArn": "downstream:0"}
    assert all(r["attempts"] == 1 for r in cur.values())
    assert "event_id" not in cur["0"] and "event_time" not in cur["0"]
    for t, row in cur.items():
        assert sink.lookup(t) == row


def test_batch_over_the_bound_fails_loudly(spark, tmp_path, monkeypatch):
    """process_batch pulls at most MAX_BATCH_ROWS rows: a larger batch
    raises, naming the bound, and commits nothing."""
    import pytest

    from sfs3_kinesis_spark.streaming import incremental

    monkeypatch.setattr(incremental, "MAX_BATCH_ROWS", 4)
    pipe = _poisoned_pipeline(spark, str(tmp_path / "store"))
    events = []
    pipe.on_events = lambda table, epoch: events.append(table)
    with pytest.raises(ValueError, match="MAX_BATCH_ROWS = 4"):
        pipe.process_batch(pipe.stage(_requests(spark, range(5))), 0)
    assert pipe.state_sink.version == 0 and not events
    pipe.process_batch(pipe.stage(_requests(spark, range(4))), 0)
    assert pipe.state_sink.version == 1 and events[0].num_rows == 4


def test_spark_and_arrow_deltas_merge_across_compaction(spark, tmp_path):
    """A store whose deltas were written by apply_batch (Spark) and
    commit_arrow (pyarrow), compacted on the way: every version reads
    last-writer-wins, and lookup equals current() for every key, also
    after a restart."""
    import os

    import pyarrow as pa

    schema = "k string, val int, doc struct<a:string,n:bigint>"
    spark_schema = spark.createDataFrame([], schema).schema
    path = str(tmp_path / "st")
    sink = KeyedUpsertSink(spark, path, key_col="k", compact_every=3)

    def arrow(rows):
        return pa.Table.from_pylist(
            [{"k": k, "val": v, "doc": d} for k, v, d in rows],
            pa.schema([
                ("k", pa.string()), ("val", pa.int32()),
                ("doc", pa.struct([("a", pa.string()), ("n", pa.int64())])),
            ]),
        )

    sink.apply_batch(spark.createDataFrame([("a", 1, ("x", 1)), ("b", 1, None)], schema), 0)
    sink.commit_arrow(arrow([("a", 2, None), ("c", 2, {"a": "y", "n": 2})]), spark_schema, 1)
    sink.apply_batch(spark.createDataFrame([("b", 3, ("z", 3))], schema), 2)  # compacts
    sink.commit_arrow(arrow([("c", 4, {"a": "w", "n": 4})]), spark_schema, 3)
    assert sorted(d for d in os.listdir(path)) == ["d1", "d2", "d3", "d4", "v3"]
    expect = {
        1: {"a": 1, "b": 1},
        2: {"a": 2, "b": 1, "c": 2},
        3: {"a": 2, "b": 3, "c": 2},
        4: {"a": 2, "b": 3, "c": 4},
    }
    for v, vals in expect.items():
        assert {r.k: r.val for r in sink.read_version(v).collect()} == vals
    assert dict(sink.read_version(4).select("k", "_v").collect()) == {"a": 2, "b": 3, "c": 4}
    for s in (sink, KeyedUpsertSink(spark, path, key_col="k", compact_every=3)):
        cur = _current_rows(s)
        assert cur["a"]["doc"] is None and cur["c"]["doc"] == {"a": "w", "n": 4}
        assert {k: s.lookup(k) for k in cur} == cur


def test_arrow_commit_duplicate_keys_last_writer_wins(spark, tmp_path):
    """Duplicate keys in one Arrow batch: the last row of the key wins,
    in lookup and in current() alike."""
    import pyarrow as pa

    sink = KeyedUpsertSink(spark, str(tmp_path / "st"), key_col="k")
    schema = spark.createDataFrame([], "k string, val int").schema
    table = pa.table({"k": ["a", "b", "a", "c", "a"], "val": pa.array([1, 2, 3, 4, 5], pa.int32())})
    sink.commit_arrow(table, schema, 0)
    assert {r.k: r.val for r in sink.current().collect()} == {"a": 5, "b": 2, "c": 4}
    assert sink.current().count() == 3
    assert sink.lookup("a") == {"k": "a", "val": 5}


def test_crashed_arrow_commit_is_never_read_on_restart(spark, tmp_path, monkeypatch):
    """A commit that dies after writing its delta file, before the
    publishing rename, leaves a hidden directory: a restarted sink
    neither reads it nor counts it as a version, and the next commit
    takes that version number with its own rows."""
    import os

    import pyarrow as pa
    import pytest

    from sfs3_kinesis_spark.sources import sinks

    path = str(tmp_path / "st")
    schema = spark.createDataFrame([], "k string, val int").schema
    sink = KeyedUpsertSink(spark, path, key_col="k")
    sink.commit_arrow(pa.table({"k": ["a"], "val": pa.array([1], pa.int32())}), schema, 0)
    real_write = sinks.pq.write_table

    def write_then_crash(table, where, **kw):
        real_write(table, where, **kw)
        raise OSError("crash after the delta write")

    monkeypatch.setattr(sinks.pq, "write_table", write_then_crash)
    with pytest.raises(OSError, match="crash"):
        sink.commit_arrow(pa.table({"k": ["ghost"], "val": pa.array([9], pa.int32())}), schema, 1)
    monkeypatch.undo()
    assert sorted(os.listdir(path)) == [".d2", "d1"]

    resumed = KeyedUpsertSink(spark, path, key_col="k")
    assert resumed.version == 1
    assert resumed.lookup("ghost") is None
    assert {r.k for r in resumed.current().collect()} == {"a"}
    resumed.commit_arrow(pa.table({"k": ["b"], "val": pa.array([2], pa.int32())}), schema, 1)
    assert resumed.version == 2 and sorted(os.listdir(path)) == ["d1", "d2"]
    assert {r.k: r.val for r in resumed.current().collect()} == {"a": 1, "b": 2}


def test_crashed_spark_commit_is_never_read_on_restart(spark, tmp_path, monkeypatch):
    """The Spark commit path publishes the same way: a write that dies
    after Spark has written the delta, before the publishing rename,
    leaves only a hidden directory, which a restarted sink neither
    reads nor counts as a version."""
    import os

    import pytest
    from pyspark.sql.readwriter import DataFrameWriter

    path = str(tmp_path / "st")
    sink = KeyedUpsertSink(spark, path, key_col="k")
    sink.apply_batch(spark.createDataFrame([("a", 1)], "k string, val int"), 0)
    real_parquet = DataFrameWriter.parquet

    def write_then_crash(self, where, *args, **kw):
        real_parquet(self, where, *args, **kw)
        raise OSError("crash after the delta write")

    monkeypatch.setattr(DataFrameWriter, "parquet", write_then_crash)
    with pytest.raises(OSError, match="crash"):
        sink.apply_batch(spark.createDataFrame([("ghost", 9)], "k string, val int"), 1)
    monkeypatch.undo()
    assert sorted(os.listdir(path)) == [".d2", "d1"]

    resumed = KeyedUpsertSink(spark, path, key_col="k")
    assert resumed.version == 1
    assert resumed.lookup("ghost") is None
    assert {r.k for r in resumed.current().collect()} == {"a"}
    resumed.apply_batch(spark.createDataFrame([("b", 2)], "k string, val int"), 1)
    assert resumed.version == 2 and sorted(os.listdir(path)) == ["d1", "d2"]
    assert {r.k: r.val for r in resumed.current().collect()} == {"a": 1, "b": 2}


def test_crashed_compaction_is_never_read_on_restart(spark, tmp_path, monkeypatch):
    """A compaction that dies mid-write leaves only a hidden ``.v{N}``:
    the commit before it stays readable, a reopened sink removes the
    leftover without scanning it and answers lookup and current()
    exactly, and its next compaction lands whole."""
    import os

    import pyarrow as pa
    import pytest

    from sfs3_kinesis_spark.sources import sinks

    path = str(tmp_path / "st")
    schema = spark.createDataFrame([], "k string, val int").schema

    def table(rows):
        return pa.table({"k": [k for k, _ in rows], "val": pa.array([v for _, v in rows], pa.int32())})

    sink = KeyedUpsertSink(spark, path, key_col="k", compact_every=2)
    sink.commit_arrow(table([("a", 1), ("b", 1)]), schema, 0)

    class CrashingWriter(sinks.pq.ParquetWriter):
        def write_table(self, *args, **kw):
            super().write_table(*args, **kw)
            raise OSError("crash mid-compaction")

    monkeypatch.setattr(sinks.pq, "ParquetWriter", CrashingWriter)
    with pytest.raises(OSError, match="crash"):
        sink.commit_arrow(table([("a", 2), ("c", 2)]), schema, 1)
    monkeypatch.undo()
    assert sorted(os.listdir(path)) == [".v2", "d1", "d2"]
    assert sink.version == 2 and sink._snapshots == []

    want = {"a": 2, "b": 1, "c": 2}
    resumed = KeyedUpsertSink(spark, path, key_col="k", compact_every=2)
    assert sorted(os.listdir(path)) == ["d1", "d2"]
    assert resumed.version == 2 and resumed._snapshots == []
    assert {k: resumed.lookup(k) for k in want} == {k: {"k": k, "val": v} for k, v in want.items()}
    assert {r.k: r.val for r in resumed.current().collect()} == want

    resumed.commit_arrow(table([("b", 3)]), schema, 2)
    resumed.commit_arrow(table([("d", 4)]), schema, 3)  # compacts
    assert sorted(os.listdir(path)) == ["d1", "d2", "d3", "d4", "v4"]
    want.update(b=3, d=4)
    assert {r.k: r.val for r in spark.read.parquet(resumed._snapshot_dir(4)).collect()} == want
    assert {k: resumed.lookup(k)["val"] for k in want} == want


def _reference_merge(spark, sink, version) -> dict:
    """The table as of ``version`` merged from the deltas alone, each
    read back with its schema inferred: ``unionByName`` + the newest
    ``_v`` per key by ``row_number``."""
    from functools import reduce

    from pyspark.sql import Window

    parts = [spark.read.parquet(sink._delta_dir(v)) for v in range(1, version + 1)]
    merged = reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), parts)
    w = Window.partitionBy(sink.key_col).orderBy(F.desc("_v"))
    kept = merged.withColumn("_rn", F.row_number().over(w)).filter("_rn = 1").drop("_rn")
    return {r[sink.key_col]: r.asDict(recursive=True) for r in kept.collect()}


def _assert_store_equals_reference(spark, sink) -> None:
    """Each snapshot, read_version(v) at every version, current() and
    lookup(k) for every key equal the reference merge; a snapshot
    holds one row per key."""
    for v in sink._snapshots:
        rows = spark.read.parquet(sink._snapshot_dir(v)).collect()
        got = {r.txn_id: r.asDict(recursive=True) for r in rows}
        assert len(got) == len(rows) and got == _reference_merge(spark, sink, v), f"v{v}"
    for v in range(1, sink.version + 1):
        got = {r.txn_id: r.asDict(recursive=True) for r in sink.read_version(v).collect()}
        assert got == _reference_merge(spark, sink, v), f"version {v}"
    want = _reference_merge(spark, sink, sink.version)
    assert {r.txn_id: r.asDict(recursive=True) for r in sink.current().collect()} == want
    for k, row in want.items():
        assert sink.lookup(k) == {c: x for c, x in row.items() if c not in ("_v", "_epoch")}, k


def test_compaction_fold_equals_spark_merge(spark, tmp_path):
    """The pyarrow fold over mixed deltas (Spark-written with INT96
    timestamps, maps and structs; Arrow-written, FAILED rows with NULL
    stage structs among them; a column only a later delta adds; keys
    rewritten across deltas) reads, at every version, exactly as a
    Spark unionByName + row_number merge of the deltas: also on a
    reopened sink, whose directories have no recorded schema, and
    after it folds them."""
    import datetime as dt

    import pyarrow as pa

    path = str(tmp_path / "st")
    pipe = _poisoned_pipeline(spark, path, compact_every=3)
    sink = pipe.state_sink

    def spark_delta(ids, epoch, **extra):
        staged = pipe.stage(_requests(spark, ids)).drop("event_id", "event_time")
        staged = staged.withColumns({
            "at": F.timestamp_seconds(F.col("txn_id").cast("long") * 1000003 + 7),
            "attrs": F.create_map(F.lit("n"), F.col("txn_id").cast("int")),
            **extra,
        })
        sink.apply_batch(staged, epoch)

    utc = dt.timezone.utc
    arrow_schema = spark.createDataFrame(
        [], "txn_id string, status string, at timestamp, attrs map<string,int>"
    ).schema

    def arrow_delta(rows, epoch):
        # UTC-adjusted timestamps: Spark reads them as TimestampType
        sink.commit_arrow(
            pa.table({
                "txn_id": [r[0] for r in rows],
                "status": [r[1] for r in rows],
                "at": pa.array([r[2] for r in rows], pa.timestamp("us", tz="UTC")),
                "attrs": pa.array([r[3] for r in rows], pa.map_(pa.string(), pa.int32())),
            }),
            arrow_schema,
            epoch,
        )

    spark_delta(range(3), 0)  # d1: txn 1 FAILED
    pipe.process_batch(pipe.stage(_requests(spark, [0, 3, 1])), 1)  # d2: Arrow, 1 FAILED
    arrow_delta(  # d3, then the fold into v3
        [("2", "RETRIED", dt.datetime(2025, 6, 7, 8, 9, 10, 11, utc), [("n", 2)]),
         ("4", "NEW", None, None)],
        2,
    )
    spark_delta([3, 5], 3, note=F.concat(F.lit("note-"), F.col("txn_id")))  # d4 adds `note`
    pipe.process_batch(pipe.stage(_requests(spark, [1, 4])), 4)  # d5
    spark_delta([0], 5)  # d6, then the fold into v6
    arrow_delta([("5", "LATE", None, [])], 6)  # d7
    assert sink._snapshots == [3, 6] and sink.version == 7

    cur = _reference_merge(spark, sink, 7)
    assert cur["1"]["status"] == "FAILED" and cur["1"]["step_c_output"] is None
    assert cur["3"]["note"] == "note-3" and cur["0"]["note"] is None
    assert cur["2"]["at"] == dt.datetime(2025, 6, 7, 8, 9, 10, 11)
    assert cur["0"]["attrs"] == {"n": 0} and cur["4"]["attrs"] is None
    assert cur["5"]["attrs"] == {} and cur["5"]["note"] is None
    _assert_store_equals_reference(spark, sink)

    sink = KeyedUpsertSink(spark, path, compact_every=3)  # the helpers now write here
    assert not sink._schemas
    _assert_store_equals_reference(spark, sink)
    spark_delta([2, 6], 7, note=F.lit("again"))  # d8
    arrow_delta([("0", "DONE", dt.datetime(2026, 1, 1, tzinfo=utc), [("n", 9)])], 8)  # d9, v9
    assert sink._snapshots == [3, 6, 9]
    _assert_store_equals_reference(spark, sink)


def test_apply_batch_that_compacts_runs_only_its_write_jobs(spark, tmp_path):
    """The fold runs no Spark job: an apply_batch that compacts runs
    exactly the jobs of one that does not, its delta write's."""
    sink = KeyedUpsertSink(spark, str(tmp_path / "st"), key_col="k", compact_every=2)
    b0, b1 = (spark.createDataFrame([(f"k{e}", e)], "k string, val int") for e in (0, 1))
    jobs0 = _next_job_id(spark)
    sink.apply_batch(b0, 0)
    write_jobs = _next_job_id(spark) - jobs0
    jobs0 = _next_job_id(spark)
    sink.apply_batch(b1, 1)
    assert sink._snapshots == [2]
    assert _next_job_id(spark) - jobs0 == write_jobs >= 1


#: Catalyst's clock expressions: each becomes a new literal per query
_CLOCK_EXPRS = ("CurrentTimestamp", "Now", "CurrentDate", "LocalTimestamp", "CurrentBatchTimestamp")


def _clock_exprs(df) -> set[str]:
    """The clock expressions in ``df``'s analyzed plan."""
    import json

    found = set()

    def walk(node):
        if isinstance(node, dict):
            cls = node.get("class", "")
            if cls.rpartition(".")[2] in _CLOCK_EXPRS:
                found.add(cls.rpartition(".")[2])
            for v in node.values():
                walk(v)
        elif isinstance(node, list):
            for v in node:
                walk(v)

    walk(json.loads(df._jdf.queryExecution().analyzed().toJSON()))
    return found


def test_staged_plan_holds_no_per_batch_literal(spark, tmp_path):
    """stage() plans no clock expression: Spark would turn it into a
    new literal every micro-batch and generate and compile the batch's
    code afresh.  The check itself sees one (control)."""
    pipe = _poisoned_pipeline(spark, str(tmp_path / "store"))
    staged = pipe.stage(_requests(spark, range(2)))
    assert _clock_exprs(staged) == set()
    assert "event_time" not in staged.columns
    assert _clock_exprs(staged.withColumn("t", F.current_timestamp())) == {"CurrentTimestamp"}


def test_process_batch_stamps_one_driver_time_per_batch(spark, tmp_path):
    """The events of one micro-batch carry one non-null UTC
    ``event_time``, taken by the driver after the call starts; the
    state rows carry none."""
    import time

    import pyarrow as pa

    pipe = _poisoned_pipeline(spark, str(tmp_path / "store"))
    tables = []
    pipe.on_events = lambda table, epoch: tables.append(table)
    t0 = time.time()
    pipe.process_batch(pipe.stage(_requests(spark, range(3))), 0)
    t1 = time.time()
    (events,) = tables
    assert events.column_names == ["txn_id", "status", "event_id", "event_time"]
    assert events.schema.field("event_time").type == pa.timestamp("us", "UTC")
    (stamp,) = set(events.column("event_time").to_pylist())
    assert t0 - 1e-6 <= stamp.timestamp() <= t1
    assert "event_time" not in pipe.state_sink.lookup("0")


def test_lookup_scan_blocks_no_commit_and_vacuum_waits_for_it(spark, tmp_path, monkeypatch):
    """A lookup holds the commit lock only to take its read path: while
    one is held inside its scan, a commit still publishes and wakes its
    waiters within 1 s, a vacuum waits for the scan to end, and the
    lookup returns the exact row."""
    import os
    import threading
    import time

    import pyarrow as pa

    from sfs3_kinesis_spark.sources import sinks

    sink = KeyedUpsertSink(spark, str(tmp_path / "st"), key_col="k", compact_every=2)
    schema = spark.createDataFrame([], "k string, val int").schema

    def commit(k, val, epoch):
        table = pa.table({"k": [k], "val": pa.array([val], pa.int32())})
        sink.commit_arrow(table, schema, epoch)

    commit("k0", 0, 0)
    commit("k1", 1, 1)  # folded into v2
    assert sink._snapshots == [2]
    entered, release = threading.Event(), threading.Event()
    real_read = sinks.pq.read_table

    def held_read(*args, **kw):
        entered.set()
        release.wait(30)
        return real_read(*args, **kw)

    monkeypatch.setattr(sinks.pq, "read_table", held_read)
    got, removed = {}, []
    reader = threading.Thread(target=lambda: got.update(row=sink.lookup("k0")))
    vacuum = threading.Thread(target=lambda: removed.append(sink.vacuum()))
    reader.start()
    try:
        assert entered.wait(10)
        woke = threading.Event()
        waiter = threading.Thread(target=lambda: sink.wait_for_version(3, 10) and woke.set())
        waiter.start()
        t0 = time.monotonic()
        committer = threading.Thread(target=commit, args=("k2", 2, 2))
        committer.start()
        committer.join(1)
        assert not committer.is_alive() and sink.version == 3
        assert woke.wait(max(0.0, 1 - (time.monotonic() - t0)))
        vacuum.start()
        vacuum.join(0.5)
        assert vacuum.is_alive() and not removed
        assert os.path.isdir(os.path.join(sink.path, "d1"))
    finally:
        release.set()
        reader.join(10)
        if vacuum.ident is not None:
            vacuum.join(10)
    assert got["row"] == {"k": "k0", "val": 0}
    assert removed == [2] and not os.path.isdir(os.path.join(sink.path, "d1"))
    assert sink.lookup("k2") == {"k": "k2", "val": 2}
