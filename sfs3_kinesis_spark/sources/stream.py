"""Streaming sources.

Production source is Kinesis (the reference's notification stream,
``serverless.yml:160-164``) via the Spark Kinesis connector — gated
behind an import/availability check since the connector jar is not
in this container.  Tests and local runs use file streams (exactly
the replay semantics of a shard read from TRIM_HORIZON).
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession

from sfs3_kinesis_spark import types as ktypes
from sfs3_kinesis_spark.operators.pipeline import terminal_event_id


def file_stream(spark: SparkSession, path: str, schema, fmt: str = "parquet", max_files_per_trigger: int | None = None) -> DataFrame:
    """File-based stream: each new file in ``path`` is a micro-batch
    input (the engine's test twin of a Kinesis shard).
    ``maxFilesPerTrigger`` is the rate-limit knob (reference W8:
    `getRecords` limit=5, svckinesis.js:193)."""
    reader = spark.readStream.format(fmt).schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(path)


def stream_from_batch(df: DataFrame, workdir: str, schema=None, n_files: int = 1) -> DataFrame:
    """Replay a batch DataFrame as a file stream (test helper): write
    it as ``n_files`` parquet files, then open a file stream over the
    directory.  With ``maxFilesPerTrigger=1`` this yields
    ``n_files`` ordered micro-batches."""
    spark = df.sparkSession
    path = os.path.join(workdir, f"stream-{uuid.uuid4().hex[:8]}")
    df.repartition(n_files).write.mode("overwrite").parquet(path)
    return file_stream(
        spark, path, schema or df.schema, max_files_per_trigger=1 if n_files > 1 else None
    )


#: the connector's format name — one definition shared by the wrapper
#: and its contract test so a typo cannot ship silently (r02 verdict
#: next-round #9)
KINESIS_SOURCE_FORMAT = "aws-kinesis"


def kinesis_reader_options(
    stream_name: str,
    region: str = "us-east-1",
    starting_position: str = "LATEST",
    endpoint_url: str | None = None,
) -> dict[str, str]:
    """The exact option map handed to the Kinesis DataStreamReader —
    factored out of :func:`kinesis_stream` so its key spelling is
    unit-testable without the connector jar (the wrapper itself can
    only fail-to-load in this container).  Keys follow the
    spark-sql-kinesis connector's documented ``kinesis.*`` surface.
    ``endpoint_url`` is the connector's localstack/testing seam —
    the in-process emulator (``sources.kinesis_stub``) reads it as
    the backing-store root."""
    opts = {
        "kinesis.streamName": stream_name,
        "kinesis.region": region,
        "kinesis.startingPosition": starting_position,
        "kinesis.consumerType": "GetRecords",
    }
    if endpoint_url is not None:
        opts["kinesis.endpointUrl"] = endpoint_url
    return opts


def kinesis_stream(
    spark: SparkSession,
    stream_name: str,
    region: str = "us-east-1",
    starting_position: str = "LATEST",
    endpoint_url: str | None = None,
) -> DataFrame:
    """Kinesis source (reference S4-S6: shard discovery, LATEST
    iterator, paced getRecords — all subsumed by the connector).

    Requires the spark-sql-kinesis connector on the classpath; raises
    a clear error when absent (this container has no connector jar).
    The reference's `startingPosition=LATEST` choice
    (svckinesis.js:215-219) is the default here too.
    """
    try:
        return (
            spark.readStream.format(KINESIS_SOURCE_FORMAT)
            .options(
                **kinesis_reader_options(
                    stream_name, region, starting_position, endpoint_url
                )
            )
            .load()
        )
    except Exception as exc:
        # only translate CONNECTOR-ABSENT failures; a real connector
        # error (bad stream, expired credentials, IllegalArgument)
        # must propagate as itself, not masquerade as a missing jar
        msg = str(exc)
        if any(
            s in msg
            for s in (
                "DATA_SOURCE_NOT_FOUND",
                "Failed to find data source",
                "ClassNotFoundException",
            )
        ):
            raise RuntimeError(
                "Kinesis connector not available; use file_stream locally "
                "or add the spark-sql-kinesis jar to the classpath"
            ) from exc
        raise


def parse_status_events(
    raw: DataFrame,
    value_col: str = "value",
    timestamp_col: str | None = None,
) -> DataFrame:
    """Decode JSON status-event payloads `{txnId, status}`
    (reference record shape, aprocess.js:150-153) into the typed
    STATUS_EVENT schema — ``from_json`` with a fixed schema, never
    per-record inference.

    ``timestamp_col=None`` auto-detects: a Kafka-shaped input carries
    ``timestamp``, the Kinesis connector (and the stub) carries
    ``approximateArrivalTimestamp`` — so
    ``parse_status_events(kinesis_stream(...), value_col="data")``
    works without a hand-rename."""
    from pyspark.sql import functions as F

    if timestamp_col is None:
        timestamp_col = (
            "approximateArrivalTimestamp"
            if "approximateArrivalTimestamp" in raw.columns
            else "timestamp"
        )
    payload_schema = "txnId STRING, status STRING"
    return raw.select(
        F.from_json(F.col(value_col).cast("string"), payload_schema).alias("p"),
        F.col(timestamp_col).alias("event_time"),
    ).select(
        F.col("p.txnId").alias("txn_id"),
        F.col("p.status").alias("status"),
        "event_time",
        terminal_event_id(F.col("p.txnId")).alias("event_id"),
    )


__all__ = [
    "file_stream",
    "stream_from_batch",
    "kinesis_stream",
    "parse_status_events",
    "ktypes",
]
