"""The service facade: the engine's twin of the reference's HTTP
service surface.

A user of the reference interacts through three verbs (SURVEY.md §3):
``POST /p1`` with a JSON payload (pollingsvc.js:139-141 /
svckinesis.js:163-165), poll-or-correlate for the terminal status
(pollingsvc.js:95-124, svckinesis.js:173-185), and read the enriched
state document back from S3.  :class:`Engine` exposes exactly those
verbs over the streaming pipeline:

* :meth:`submit` — assign a txn id (the reference's flake-id hex,
  pollingsvc.js:15-26) and publish the request row to the watched
  ingest directory (the stream source's S3-prefix twin) as one
  atomic file: written under a hidden ``.``-prefixed name the file
  index skips, then renamed to its visible name — no Spark job;
* :meth:`await_completion` — the polling variant (EP1): look the
  txn up in the process-state store, then sleep until the store's
  next commit (a status only changes when a micro-batch commits),
  bounded by the reference's 20 s request budget (pollingsvc.js:133);
* :meth:`status` / :meth:`state_document` — the Step Functions
  ``describeExecution`` status read (pollingsvc.js:95-111) and the
  whole-document S3 read (aprocess.js:21-24), each one keyed read of
  the state store's parquet files with pyarrow — no Spark job;
* :meth:`events` — the consumer view of the status-event stream
  (svckinesis.js:188-212), here an exactly-once parquet event log
  with idempotent event ids instead of fire-and-forget Kinesis.

Driver-side work is strictly O(1) per verb — a one-row file publish
or a keyed point read of at most one snapshot and its delta tail; all
transformation happens in the streaming query.  Each micro-batch runs
one Spark job, the staged projection, whose rows
(:data:`~sfs3_kinesis_spark.streaming.incremental.MAX_BATCH_ROWS` at
most) the driver pulls as Arrow.  The driver then stamps the batch's
``event_time`` (its own UTC clock, one value per batch) and writes
the event partition and the state delta with pyarrow, and every
``compact_every`` batches folds the state store's snapshot with
pyarrow too: no other Spark job runs on the commit path.  The
projection holds no per-batch literal, so every batch after the
first reuses the first one's generated code.

A micro-batch costs the same at batch 10 as at batch 10,000: the
stream deletes each request file once the batch that read it has
committed (the file source's ``cleanSource``, see :meth:`Engine.start`),
so its listing covers the files in flight, not every request ever
submitted.  The payload lives on in the state document (``request``).

At scale the ingest dir becomes an object-store prefix (or a
Kafka/Kinesis topic via ``sources.stream``), and the state store a
keyed table — the facade does not change.
"""

from __future__ import annotations

import os
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

from sfs3_kinesis_spark.operators.pipeline import Step
from sfs3_kinesis_spark.sources.sinks import KeyedUpsertSink
from sfs3_kinesis_spark.streaming import incremental

REQUEST_SCHEMA = "txn_id string, request string"

#: seconds between a held :meth:`Engine.await_completion`'s checks
#: that the streaming query is still alive
LIVENESS_S = 1.0


class Engine:
    """End-to-end engine instance rooted at ``root_dir``.

    Layout: ``root_dir/requests`` (ingest), ``root_dir/state``
    (keyed process-state store), ``root_dir/events`` (status event
    log), ``root_dir/checkpoint`` (streaming checkpoint).
    """

    def __init__(
        self,
        spark: SparkSession,
        root_dir: str,
        steps: list[Step] | None = None,
    ):
        self.spark = spark
        self.root = root_dir
        self.requests_dir = os.path.join(root_dir, "requests")
        self.events_dir = os.path.join(root_dir, "events")
        os.makedirs(self.requests_dir, exist_ok=True)
        self._sink = KeyedUpsertSink(spark, os.path.join(root_dir, "state"))
        self._pipeline = incremental.IncrementalPipeline(
            self._sink, steps=steps, on_events=self._append_events
        )
        self._query = None

    # -- service verbs ------------------------------------------------ #

    def submit(self, payload_json: str) -> str:
        """Accept a request, assign the txn id, enqueue it.  Returns
        the txn id immediately (the reference returns it only with
        the terminal response; exposing it enables the polling path).

        The row lands as its own parquet file.  Spark's file index
        skips ``.``-prefixed names, so the stream never sees the file
        half-written; the rename publishes it whole.  Each submit owns
        its file, so concurrent submits share no staging state, and
        the stream's ``maxFilesPerTrigger`` bounds its batch rows."""
        txn_id = f"0x{uuid.uuid4().hex[:16]}"  # flake-id-shaped hex key
        name = f"part-{txn_id}.parquet"
        hidden = os.path.join(self.requests_dir, "." + name)
        table = pa.table({"txn_id": [txn_id], "request": [payload_json]})
        try:
            pq.write_table(table, hidden)
            os.rename(hidden, os.path.join(self.requests_dir, name))
        except BaseException:
            if os.path.exists(hidden):
                os.remove(hidden)
            raise
        return txn_id

    def status(self, txn_id: str) -> str | None:
        """Terminal status for a txn, or None while still in flight
        (the 3-way RUNNING/SUCCEEDED/FAILED branch, pollingsvc.js:77-93).
        A keyed point read of the state store's parquet files: no
        Spark job."""
        doc = self._sink.lookup(txn_id, ["status"])
        return doc["status"] if doc is not None else None

    def state_document(self, txn_id: str) -> dict | None:
        """The whole enriched process-state document (aprocess.js:24),
        read like :meth:`status`.  Store bookkeeping columns (``_v``,
        ``_epoch``) are left out: they are LSM version counters whose
        meaning shifts on compaction, not part of the client-facing
        document."""
        return self._sink.lookup(txn_id)

    def events(self) -> DataFrame | None:
        """The status-event log (txn_id, status, event_id, event_time)
        — exactly-once: the writer lands one ``epoch=N`` partition per
        micro-batch with overwrite semantics, so foreachBatch's
        at-least-once redelivery replaces its own output instead of
        appending a duplicate copy.  ``event_time`` is the time the
        driver committed the micro-batch, one value per batch."""
        has_parquet = False
        for _root, _dirs, files in os.walk(self.events_dir):
            # a hidden file is a write still in flight (see _append_events)
            if any(f.endswith(".parquet") and not f.startswith(".") for f in files):
                has_parquet = True
                break
        if not has_parquet:
            return None
        return self.spark.read.parquet(self.events_dir).drop("epoch")

    def await_completion(self, txn_id: str, timeout_s: float = 20.0) -> str:
        """EP1 polling semantics: look the txn up until terminal or
        the request budget lapses (pollingsvc.js:123,133).  A status
        only changes when a micro-batch commits to the state store,
        so between lookups the wait blocks on the store's next commit
        instead of a timer.  One final check after the deadline: the
        terminal status may have landed during the last wait —
        reporting TIMEOUT when status() already answers is a
        misreport, not a timeout.

        A stream that died (a micro-batch raised) commits nothing
        more: the wait checks the query every :data:`LIVENESS_S` and
        raises its error instead of sleeping out the budget."""
        deadline = time.monotonic() + timeout_s
        while True:
            seen = self._sink.version  # read before the lookup: no lost wakeup
            s = self.status(txn_id)
            if s is not None:
                return s
            if not self._wait_for_commit(seen + 1, deadline):
                break
        s = self.status(txn_id)
        return s if s is not None else "TIMEOUT"

    def _wait_for_commit(self, version: int, deadline: float) -> bool:
        """Block until the store commits ``version`` (True) or
        ``deadline`` passes (False); raise the streaming query's error
        once it has failed."""
        while True:
            left = deadline - time.monotonic()
            if self._sink.wait_for_version(version, min(left, LIVENESS_S)):
                return True
            query = self._query
            if query is not None and not query.isActive:
                error = query.exception()
                if error is not None:
                    raise error
            if left <= LIVENESS_S:
                return False

    # -- lifecycle ----------------------------------------------------- #

    def start(self):
        """Start the streaming pipeline over the ingest directory, at
        most ``MAX_BATCH_ROWS`` one-row request files per batch.

        The stream deletes a batch's request files after the batch's
        commit-log entry is written (``cleanSource = "delete"``): Spark
        hands them to its cleaner thread when it plans the next batch,
        so the newest batch's files wait for the next submit.  A
        replay of an uncommitted batch still finds its files, and a
        committed batch is never replayed.  A file the cleaner had not
        reached before a stop stays on disk; a restart over the same
        root skips it through the checkpoint's source log.  Hidden
        ``.``-prefixed files are never listed, so never deleted."""
        stream = (
            self.spark.readStream.schema(REQUEST_SCHEMA)
            .option("maxFilesPerTrigger", incremental.MAX_BATCH_ROWS)
            .option("cleanSource", "delete")
            .parquet(self.requests_dir)
        )
        self._query = self._pipeline.start(
            stream, os.path.join(self.root, "checkpoint")
        )
        return self._query

    def stop(self) -> None:
        if self._query is not None:
            self._query.stop()
            self._query = None

    # -- internal ------------------------------------------------------ #

    def _append_events(self, events: pa.Table, epoch_id: int) -> None:
        # epoch-keyed replace = idempotent under foreachBatch's
        # at-least-once redelivery (the docstring's exactly-once
        # claim): the file is written hidden, which readers skip, and
        # renamed over the epoch's previous output in one step
        d = os.path.join(self.events_dir, f"epoch={int(epoch_id)}")
        os.makedirs(d, exist_ok=True)
        hidden = os.path.join(d, ".part-0.parquet")
        pq.write_table(events, hidden)
        os.replace(hidden, os.path.join(d, "part-0.parquet"))
