"""Malformed-input handling: the reference JSON.parses every payload
and throws on garbage (aprocess.js:24, svckinesis.js:175); the engine
must degrade to NULL + accounting, never a job failure."""

from __future__ import annotations

from pyspark.sql import Observation
from pyspark.sql import functions as F

from sfs3_kinesis_spark.sources.stream import parse_status_events


def test_malformed_event_payloads_become_nulls(spark):
    t0 = "2024-01-01 12:00:00"
    raw = spark.createDataFrame(
        [
            ('{"txnId": "a", "status": "SUCCEEDED"}', t0),
            ("not json at all", t0),
            ('{"txnId": "b"}', t0),  # missing status -> partial row
            ("", t0),
            (None, t0),
        ],
        "value string, timestamp string",
    ).withColumn("timestamp", F.col("timestamp").cast("timestamp"))
    parsed = parse_status_events(raw)
    obs = Observation("parse_health")
    observed = parsed.observe(
        obs,
        F.count(F.lit(1)).alias("n_total"),
        F.count(F.when(F.col("txn_id").isNull(), 1)).alias("n_unparseable"),
    )
    rows = observed.collect()
    assert len(rows) == 5  # no row is dropped silently, no exception
    good = {r["txn_id"]: r["status"] for r in rows if r["txn_id"] is not None}
    assert good == {"a": "SUCCEEDED", "b": None}
    health = obs.get
    assert health["n_unparseable"] == 3  # garbage, empty, NULL


def test_corrupt_json_documents_are_quarantined(spark, tmp_path):
    """Batch JSON source: PERMISSIVE mode routes undecodable lines to
    a corrupt-record column instead of failing the scan."""
    from pyspark.sql import types as T

    p = tmp_path / "docs"
    p.mkdir()
    (p / "d.json").write_text(
        '{"txn_id": "ok", "n": 1}\n'
        "{broken json\n"
        '{"txn_id": "ok2", "n": 2}\n'
    )
    schema = T.StructType(
        [
            T.StructField("txn_id", T.StringType()),
            T.StructField("n", T.LongType()),
            T.StructField("_corrupt_record", T.StringType()),
        ]
    )
    df = spark.read.schema(schema).json(str(p))
    rows = df.collect()
    assert len(rows) == 3
    corrupt = [r for r in rows if r["_corrupt_record"] is not None]
    assert len(corrupt) == 1 and "{broken json" in corrupt[0]["_corrupt_record"]
    assert {r["txn_id"] for r in rows if r["txn_id"]} == {"ok", "ok2"}


def test_operators_handle_empty_input(spark):
    """Representative operators return empty results with stable
    schemas on empty input instead of raising — at 100 TB a partition
    filter legitimately yields zero rows and the job must not die."""
    from pyspark.sql import functions as F

    from sfs3_kinesis_spark.operators import dedup, sampling, similarity
    from sfs3_kinesis_spark.operators.temporal import asof_join

    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .filter(F.lit(False))
    )
    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .filter(F.lit(False))
    )
    ev = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .filter(F.lit(False))
        .select("event_id", F.col("ts").cast("timestamp").alias("ts"),
                "user_id", "value")
    )

    assert dedup.exact_dedup(docs).count() == 0
    assert dedup.minhash_lsh_pairs(docs).count() == 0
    assert sampling.chunk_text(docs, "doc_id", "text", 32).count() == 0
    km = similarity.kmeans_lloyd(emb, k=4, iterations=1)
    assert km.count() == 0
    assert [f.name for f in km.schema.fields] == ["cell", "n_members", "inertia"]
    left = ev.select("event_id", "user_id", "ts")
    right = ev.select("user_id", "ts", F.col("value").alias("payload"))
    assert (
        asof_join(left, right, key="user_id", left_ts="ts", right_ts="ts",
                  payload_cols=["payload"]).count() == 0
    )


def test_corpus_sample_runs_under_ansi_mode(spark):
    """The driver's externally-created session runs Spark 4's default
    ANSI mode (our own session disables it) — arithmetic-heavy corpus
    queries must not depend on silent-wrap/implicit-cast semantics.
    Runs a representative slice under an ANSI child session."""
    from sfs3_kinesis_spark.plans import REGISTRY

    ansi = spark.newSession()
    ansi.conf.set("spark.sql.ansi.enabled", "true")
    sf = "/root/testdata/sf0.001"
    for name in [
        "q01_pricing_summary",
        "agg_mad_anomalies",
        "agg_decimal_exact_products",
        "agg_bitmap_distinct",
        "sample_bootstrap_ci",
        "graph_pagerank_parts",
        "layout_zorder_locality",
        "events_ohlc_bars",
        "join_asof_forward",
        "dedup_minhash_exact",
        # round-2 wave: retrieval / feature / spatial / telemetry
        "retrieval_rrf_hybrid",
        "feature_hashing_trick",
        "feature_target_encoding_loo",
        "spatial_knn_bounded",
        "quality_schema_drift",
        "mine_change_point",
        "mine_gini_diversity",
    ]:
        n = REGISTRY[name].spark(ansi, sf).count()
        assert n >= 0, name


def test_nanos_parquet_fixture_loads_as_timestamp(spark, tmp_path):
    """Round-1 driver fixtures shipped events.ts as parquet
    TIMESTAMP(NANOS), which vanilla Spark refuses outright
    (PARQUET_TYPE_ILLEGAL).  load_table must keep reading whichever
    unit the driver regenerates: NANOS (via nanosAsLong + integer-div
    conversion), MICROS-NTZ, and plain LTZ must all come back as the
    same session-TZ timestamp values."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from sfs3_kinesis_spark.sources.batch import load_table

    ts = [
        datetime.datetime(2024, 1, 1, 12, 0, 0, 123456),
        datetime.datetime(2024, 6, 30, 23, 59, 59, 999999),
    ]
    for unit in ("ns", "us"):
        d = tmp_path / f"fix_{unit}"
        d.mkdir()
        table = pa.table(
            {
                "event_id": pa.array([1, 2], pa.int64()),
                "ts": pa.array(ts, pa.timestamp(unit)),
                "user_id": pa.array([10, 20], pa.int64()),
                "event_type": pa.array(["a", "b"]),
                "value": pa.array([1.5, 2.5]),
                "props": pa.array(["{}", "{}"]),
            }
        )
        pq.write_table(table, str(d / "events.parquet"), use_deprecated_int96_timestamps=False)
        # the second load reads with the cached schema
        for _ in range(2):
            df = load_table(spark, str(d), "events")
            assert dict(df.dtypes)["ts"] == "timestamp"
            got = sorted(r["ts"] for r in df.select("ts").collect())
            assert got == ts, f"unit={unit}: {got}"


def test_corrupt_parquet_file_skipped_when_configured(spark, tmp_path):
    """At 100 TB some objects WILL be truncated/corrupt; with
    spark.sql.files.ignoreCorruptFiles the scan must yield every row
    from the healthy files instead of failing the job."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "mixed"
    d.mkdir()
    pq.write_table(pa.table({"a": [1, 2, 3]}), str(d / "good.parquet"))
    # a real parquet header with a truncated body/footer
    good_bytes = (d / "good.parquet").read_bytes()
    (d / "bad.parquet").write_bytes(good_bytes[: len(good_bytes) // 3])

    prev = spark.conf.get("spark.sql.files.ignoreCorruptFiles", "false")
    spark.conf.set("spark.sql.files.ignoreCorruptFiles", "true")
    try:
        rows = spark.read.schema("a bigint").parquet(str(d)).collect()
        assert sorted(r["a"] for r in rows) == [1, 2, 3]
    finally:
        spark.conf.set("spark.sql.files.ignoreCorruptFiles", prev)


def test_results_partitioning_independent(spark):
    """The exact-arithmetic corpus claims results are independent of
    partitioning (associative integer math, total-order tiebreaks).
    Re-run a representative slice in a child session with a prime,
    much smaller shuffle-partition count and hash-compare against the
    DuckDB oracle — a pass under BOTH partitionings means the values
    cannot depend on partial-aggregation order."""
    from sfs3_kinesis_spark.plans import REGISTRY
    from tests.oracle import compare, duck_connection

    alt = spark.newSession()
    alt.conf.set("spark.sql.shuffle.partitions", "5")
    sf = "/root/testdata/sf0.001"
    con = duck_connection(sf)
    try:
        for name in [
            "q01_pricing_summary",
            "agg_median_exact",
            "events_zscore_anomalies",
            "mine_change_point",
            "cluster_kmeans_lloyd",
            "retrieval_rrf_hybrid",
            "mine_rfm_segmentation",
            "spatial_grid_neighbors",
            "window_salted_topk",
            "mine_lorenz_concentration",
        ]:
            ok, detail = compare(REGISTRY[name].spark(alt, sf), con, REGISTRY[name].oracle)
            assert ok, f"{name} under shuffle.partitions=5: {detail}"
    finally:
        con.close()


def test_round3_operators_handle_empty_input(spark):
    """Round-3 operators on zero rows: stable schemas, no raise —
    global_rank/global_cumsum (empty bucket table), guard_all_pairs
    (0 <= any limit)."""
    from pyspark.sql import functions as F

    from sfs3_kinesis_spark.operators.scale import (
        global_cumsum,
        global_rank,
        guard_all_pairs,
    )
    df = spark.range(0).select(F.col("id"), (F.col("id") % 3).alias("v"))
    gr = global_rank(df, ["-v", "id"], n_buckets=4)
    assert gr.count() == 0 and "rnk" in gr.columns
    gc = global_cumsum(df, ["v", "id"], {"v": "cv"}, n_buckets=4)
    assert gc.count() == 0 and "cv" in gc.columns
    assert guard_all_pairs(df, op="t", scale_twin="x", max_rows=10).count() == 0
