"""Batch sources: parquet fixture tables and JSON documents.

The reference's only batch source is a keyed S3 JSON point read
(``readInputDataJSON``, ``/root/reference/s3-for-process-data/
aprocess.js:15-32``).  The engine generalizes to columnar scans:
``spark.read.parquet`` gives predicate pushdown + column pruning for
free (the reference fetches and rewrites whole documents every
stage — SURVEY.md §4.1).
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

import sfs3_kinesis_spark as pkg


@functools.lru_cache(maxsize=256)
def _parquet_schema(spark: SparkSession, path: str, ino: int, mtime_ns: int, size: int) -> T.StructType:
    """Spark's inferred schema of ``path``; the stat fields only key
    the cache, so a rewritten or replaced file is inferred again."""
    return spark.read.parquet(path).schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar scan of one fixture table (pushdown-capable).

    The schema is inferred (one Spark job) once per session and file
    stamp ``(path, st_ino, st_mtime_ns, st_size)``, then passed to the
    reader, so later loads of an unchanged file run no job.  The cache
    holds schemas only, never data or results.  A path that cannot be
    stat'ed (missing, or not on the local file system) takes the plain
    inferring read, which raises Spark's own error for a missing one.

    ``events.ts`` has shipped as TIMESTAMP(NANOS) (round-1 fixtures)
    and TIMESTAMP(MICROS, not UTC-adjusted) (round-2): the former
    needs ``spark.sql.legacy.parquet.nanosAsLong`` (arrives as LONG
    nanos, converted via integer division — a double division would
    lose precision above 2^53 ns), the latter reads natively as
    TIMESTAMP_NTZ.  Both are normalized to the session-TZ TIMESTAMP
    (LTZ) here, with the session pinned to UTC first so the NTZ→LTZ
    reinterpretation is value-preserving on any host.  Confs are set
    at runtime (not only in our session builder) so externally-
    created sessions read the fixtures identically."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        st = os.stat(path)
    except OSError:
        df = spark.read.parquet(path)
    else:
        schema = _parquet_schema(spark, path, st.st_ino, st.st_mtime_ns, st.st_size)
        df = spark.read.schema(schema).parquet(path)
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str, names=pkg.TABLES) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}


def register_views(spark: SparkSession, sf_dir: str, names=pkg.TABLES) -> None:
    """Register each fixture table as a temp view for the SQL API.

    Catalyst produces identical plans for the view + SQL route and
    the DataFrame route, so queries may use whichever reads better.
    """
    for n in names:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)


def read_json_documents(spark: SparkSession, path: str, schema) -> DataFrame:
    """JSON document source with an explicit schema (no inference in
    the hot path — infer once at the edge, then fix; SURVEY.md §1.4)."""
    return spark.read.schema(schema).json(path)
