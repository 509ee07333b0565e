"""Incremental (micro-batch) pipeline execution.

The reference executes one state-machine per transaction with
retry-gated stages (``serverless.yml:61-129``).  In the engine, a
*stream of requests* flows through the same staged projection
(``operators.pipeline.run_pipeline``) inside ``foreachBatch``; the
completed state rows are MERGE-upserted into the process-state
store, and the terminal status events are appended to the event
sink — upgrading the reference's fire-and-forget notification
(aprocess.js:160-162) to idempotent exactly-once via the
event_id = txn_id/stage key.

Within a micro-batch the INTERNAL stage gates are trivially
satisfied (the stages are one projection).  The reference's
retry-with-backoff consistency dance (S3DataPreconditionError +
IntervalSeconds 1 / BackoffRate 1 / MaxAttempts 3 — a CONSTANT
one-second interval, serverless.yml:80-85) exists because *its*
stages race
eventual-consistency reads across process hops; the one place the
same race survives in the engine is an EXTERNAL side input — a
stage whose precondition document may land in a LATER micro-batch
than the request.  :class:`RetryingIncrementalPipeline` demonstrates
exactly that semantic (r04 verdict, top item): a gate-missed row is
requeued with its attempts counter, re-tried when its backoff epoch
arrives, and MaxAttempts exhaustion emits the terminal FAILED status
event (T9 routing) — the full ASL Retry/Catch contract, expressed as
state-store rows instead of Step Functions re-invocations.
"""

from __future__ import annotations

import datetime
from typing import Callable, Optional, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from sfs3_kinesis_spark.operators.pipeline import (
    FAILED,
    SUCCEEDED,
    Step,
    faulted_expr,
    run_pipeline,
    status_events,
    terminal_event_id,
)
from sfs3_kinesis_spark.sources.sinks import KeyedUpsertSink, all_nullable

#: non-terminal status of a requeued row (the reference execution is
#: still RUNNING while ASL retries the stage)
RETRYING = "RETRYING"

#: rows in one :class:`IncrementalPipeline` micro-batch, all of which
#: the driver holds at once
MAX_BATCH_ROWS = 256

#: epochs between two sweeps of :class:`RetryingIncrementalPipeline`'s
#: retry backlog store: tombstoned keys are erased and history vacuumed
CLEANUP_EVERY = 16


class IncrementalPipeline:
    """Streaming execution of the staged pipeline, one bounded
    micro-batch at a time, committed from the driver.

    :meth:`start` applies the staged projection to the stream once.
    Each micro-batch is then one Spark job: :meth:`process_batch`
    pulls the projected rows to the driver as Arrow, at most
    :data:`MAX_BATCH_ROWS` of them, and the commits that follow run
    no Spark job, the state store's compaction included: ``on_events``
    receives the terminal status events as a pyarrow Table, and the
    state rows go to :meth:`KeyedUpsertSink.commit_arrow`.  The caller bounds the
    batch (the Engine sets ``maxFilesPerTrigger`` over one-row
    files); a larger batch fails the query.  Per-batch coordination,
    not compute, dominates a small micro-batch, and a Spark write
    costs a job, a shuffle and a second scan of the batch.
    :class:`RetryingIncrementalPipeline` keeps Spark writes: its
    batch joins the requeued backlog and is not bounded.

    The staged plan holds no per-batch value: the events'
    ``event_time`` is stamped by the driver on the pulled table (one
    UTC timestamp per micro-batch, taken as the batch commits, a few
    ms after the trigger starts).  A ``current_timestamp()`` in the
    plan would become a new literal every batch, so Spark would
    generate and compile the batch's code afresh each time instead of
    reusing it from its codegen cache.
    """

    def __init__(
        self,
        state_sink: KeyedUpsertSink,
        steps: Optional[Sequence[Step]] = None,
        on_events: Optional[Callable[[pa.Table, int], None]] = None,
    ):
        self.state_sink = state_sink
        self.steps = steps
        self.on_events = on_events

    def stage(self, requests: DataFrame) -> DataFrame:
        """The staged projection of ``requests``: the state row, plus
        the terminal event's ``event_id``.  It holds no per-batch
        literal (see the class docstring)."""
        return run_pipeline(requests, self.steps).withColumns(
            {
                "attempts": F.lit(1).cast("int"),
                "event_id": terminal_event_id(F.col("txn_id")),
            }
        )

    def process_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        """Commit one staged micro-batch (see :meth:`stage`).  The
        events carry one ``event_time`` for the whole batch, the
        driver's UTC clock once the rows are pulled."""
        schema = batch_df.schema
        # a FAILED row's later stage structs are NULL though their
        # fields are not nullable: Arrow rejects that unless relaxed
        table = (
            batch_df.to(all_nullable(schema)).limit(MAX_BATCH_ROWS + 1).toArrow()
        )
        if table.num_rows > MAX_BATCH_ROWS:
            raise ValueError(
                f"micro-batch {epoch_id} has more than MAX_BATCH_ROWS = "
                f"{MAX_BATCH_ROWS} rows; bound the source (maxFilesPerTrigger)"
            )
        # events BEFORE the state write: a crash in between re-emits
        # the same events on the foreachBatch replay (duplicates are
        # deduped downstream by event_id — the idempotency key), while
        # the reverse order would LOSE events whose state row already
        # committed (the replay would see nothing left to do)
        if self.on_events is not None:
            # the type toArrow gives a Spark TimestampType
            now = pa.scalar(
                datetime.datetime.now(datetime.timezone.utc), pa.timestamp("us", "UTC")
            )
            events = table.select(["txn_id", "status", "event_id"]).append_column(
                "event_time", pa.repeat(now, table.num_rows)
            )
            self.on_events(events, epoch_id)
        state = table.drop_columns(["event_id"])
        self.state_sink.commit_arrow(
            state,
            StructType([f for f in schema if f.name in state.column_names]),
            epoch_id,
        )

    def start(self, requests_stream: DataFrame, checkpoint_dir: str):
        return (
            self.stage(requests_stream)
            .writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("update")
            .start()
        )


class RetryingIncrementalPipeline:
    """Cross-micro-batch precondition retry — the reference's ASL
    ``Retry`` block (``serverless.yml:80-85``: S3DataPreconditionError,
    IntervalSeconds 1, BackoffRate 1, MaxAttempts 3 — a CONSTANT
    one-second retry interval) realized on micro-batches.  The
    interval maps to ``backoff_epochs`` trigger units; the schedule is
    constant, as the reference's BackoffRate 1 makes it.

    The racing read the reference retries is modeled as an EXTERNAL
    side input: ``side_input()`` returns the current side table
    (keyed by ``txn_id``) each micro-batch — the engine twin of every
    stage's fresh S3 document read (``aprocess.js:51-54``).  A stage
    gated on a side column (``Step.gate_on`` accepts side-input
    columns) fails its precondition while the document is absent,
    exactly like ``stepXInputPredicate`` throwing
    ``S3DataPreconditionError`` (``aprocess.js:25-31,192-214``).

    Per micro-batch:

    1. requeue: live rows in the PENDING store whose backoff epoch
       has arrived (``retry_after <= epoch``) and that were written by
       a STRICTLY EARLIER epoch join the new batch — the epoch guard
       makes a crashed-and-retried foreachBatch epoch idempotent (its
       own first attempt's writes are not re-tried, so the attempts
       counter can never double-increment);
    2. left-join the side input, run the staged projection
       (:func:`~sfs3_kinesis_spark.operators.pipeline.run_pipeline`);
    3. route: SUCCEEDED → terminal (status event);  FAILED with a
       fault (a thrown stage error) → terminal FAILED immediately —
       the reference CATCHES errors and publishes FAILED without
       retrying (``aprocess.js:78-82``); FAILED with no fault = a
       precondition miss → RETRYING with ``attempts + 1`` and
       ``retry_after = epoch + backoff_epochs`` (IntervalSeconds in
       trigger units; BackoffRate 1 keeps it CONSTANT) while
       ``attempts < max_attempts``, else terminal FAILED — MaxAttempts
       exhaustion (T9 routing);
    4. MERGE every row into the state store (idempotent keyed upsert)
       and emit status events for the TERMINAL rows only.

    All routing is one whole-stage-codegen projection over the batch.
    The retry backlog lives in its OWN keyed store (``<state>/_pending``,
    a second :class:`KeyedUpsertSink`) rather than being re-derived
    from the state store: the state store is O(all txns ever seen) and
    merging it every 1.5 s trigger would be the classic
    read-amplification failure; the pending store holds only txns that
    have ever retried, terminal txns are masked by a tombstone row
    (``done=true``) the moment they resolve, and a periodic
    ``forget_keys`` sweep physically erases tombstoned keys so the
    store tracks the LIVE backlog, not retry history.  Both stores
    compact on the KeyedUpsertSink LSM cadence.
    """

    def __init__(
        self,
        state_sink: KeyedUpsertSink,
        steps: Sequence[Step],
        side_input: Callable[[], Optional[DataFrame]],
        *,
        on_events: Optional[Callable[[DataFrame, int], None]] = None,
        max_attempts: int = 3,
        backoff_epochs: int = 1,
    ):
        import os

        if max_attempts < 1:
            raise ValueError("max_attempts must be >= 1")
        self.state_sink = state_sink
        self.steps = list(steps)
        self.side_input = side_input
        self.on_events = on_events
        self.max_attempts = max_attempts
        self.backoff_epochs = backoff_epochs
        # nested under the state dir ("_pending" matches neither the
        # v<N> nor d<N> version patterns, so the parent scan skips it)
        self.pending_sink = KeyedUpsertSink(
            state_sink.spark, os.path.join(state_sink.path, "_pending")
        )

    def _requeue(self, epoch_id: int) -> Optional[DataFrame]:
        cur = self.pending_sink.current()
        if cur is None:
            return None
        return (
            cur.filter(
                (~F.col("done"))
                & (F.col("retry_after") <= F.lit(int(epoch_id)))
                # idempotency under foreachBatch's at-least-once retry:
                # a re-run of epoch N must not re-try rows its own
                # crashed first attempt already wrote (their try for
                # epoch N already counted)
                & (F.col("_epoch") < F.lit(int(epoch_id)))
            )
            .select("txn_id", "request", "attempts")
        )

    def _update_pending(self, out: DataFrame, epoch_id: int) -> None:
        """MERGE this batch's backlog movement into the pending store:
        RETRYING rows live (with their next-eligible epoch), rows that
        went terminal AFTER having retried are tombstoned (``done``)
        so the next requeue read skips them; first-try terminals never
        enter the store at all.  Every :data:`CLEANUP_EVERY` epochs the
        tombstoned keys are physically erased (bounded store ==
        the live backlog plus one cleanup window of tombstones)."""
        moved = out.filter(
            (F.col("status") == RETRYING) | (F.col("attempts") > 1)
        ).select(
            "txn_id",
            "request",
            "attempts",
            F.coalesce("retry_after", F.lit(-1)).alias("retry_after"),
            (F.col("status") != RETRYING).alias("done"),
        )
        if moved.isEmpty():
            return
        self.pending_sink.apply_batch(moved, epoch_id)

    def _cleanup_pending(self, epoch_id: int) -> None:
        """Physically erase tombstoned keys — LAST in the epoch, after
        every plan whose lineage reads the pending files has been
        evaluated (forget_keys rewrites the delta directories in
        place; an in-flight lazy plan re-evaluated after the rewrite
        would chase the pre-rewrite file listing)."""
        if int(epoch_id) % CLEANUP_EVERY != 0:
            return
        cur = self.pending_sink.current()
        if cur is not None:
            dead = [r["txn_id"] for r in cur.filter("done").select("txn_id").collect()]
            if dead:
                self.pending_sink.forget_keys(dead)
        # the pending store is a transient backlog, not a system of
        # record — drop history no longer needed for the current
        # read (unlike the STATE store, which keeps deltas for time
        # travel).  Without this the on-disk directory count grows
        # O(epochs) forever even though every READ is bounded.
        self.pending_sink.vacuum()

    def process_batch(self, batch_df: DataFrame, epoch_id: int) -> None:
        todo = batch_df.withColumn("attempts", F.lit(0).cast("int"))
        requeued = self._requeue(epoch_id)
        if requeued is not None:
            todo = todo.unionByName(
                requeued.withColumn("attempts", F.col("attempts").cast("int"))
            )
        # a txn re-arriving while RETRYING is ONE execution, not two:
        # keep the row with the most tries behind it
        w = W.partitionBy("txn_id").orderBy(F.desc("attempts"))
        todo = (
            todo.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        side = self.side_input()
        if side is not None:
            todo = todo.join(side, "txn_id", "left")
        else:
            # no side table yet: every side gate is an open precondition
            for step in self.steps:
                gates = (
                    (step.gate_on,)
                    if isinstance(step.gate_on, str)
                    else (step.gate_on or ())
                )
                for g in gates:
                    if g not in todo.columns and not g.endswith("_output"):
                        todo = todo.withColumn(g, F.lit(None).cast("string"))
        state = run_pipeline(todo, self.steps)
        tries = (F.col("attempts") + 1).cast("int")
        gate_missed = (F.col("status") == FAILED) & ~faulted_expr(self.steps)
        retrying = gate_missed & (tries < F.lit(self.max_attempts))
        # ONE withColumns call: every expression resolves against the
        # pre-update frame (chained withColumn would re-resolve
        # `attempts` against its own update and double-count the try)
        out = state.withColumns(
            {
                "attempts": tries,
                "retry_after": F.when(
                    retrying, F.lit(int(epoch_id) + self.backoff_epochs)
                ).cast("long"),
                "status": F.when(retrying, F.lit(RETRYING)).otherwise(
                    F.col("status")
                ),
            }
        )
        # ONE materialization of the staged projection per epoch: the
        # batch result feeds three consumers (event emission, the
        # state MERGE, the backlog routing) and would otherwise be
        # recomputed — including the requeue read's store merge — once
        # per consumer.  Textbook foreachBatch: persist the micro-batch
        # output, unpersist when every consumer has written.
        out = out.persist()
        try:
            # terminal events BEFORE the state write (same
            # crash-ordering argument as IncrementalPipeline
            # .process_batch: duplicates dedupe on event_id, losses
            # would be unrecoverable)
            if self.on_events is not None:
                terminal = out.filter(F.col("status").isin(SUCCEEDED, FAILED))
                events = status_events(terminal, event_time=F.current_timestamp())
                self.on_events(events, epoch_id)
            # STATE before PENDING: a crash between the two writes
            # leaves the pending row un-tombstoned, so the replay
            # re-tries the row and rewrites the identical state
            # (idempotent-by-value); the reverse order would tombstone
            # the retry while the state row was never committed — a
            # silently lost terminal state.  The cleanup sweep runs
            # dead LAST: it rewrites pending files in place, and every
            # lazy plan reading them must be fully evaluated first.
            self.state_sink.apply_batch(out, epoch_id)
            self._update_pending(out, epoch_id)
            self._cleanup_pending(epoch_id)
        finally:
            out.unpersist(blocking=False)

    def start(self, requests_stream: DataFrame, checkpoint_dir: str):
        return (
            requests_stream.writeStream.foreachBatch(self.process_batch)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode("update")
            .start()
        )
