"""Concurrency safety of the process-global registries (r06 verdict
wrong #2): the keyed-frame LRU behind global_rank/global_cumsum and
the retry-demo store bookkeeping must survive parallel query
dispatch — a driver running two streaming queries, or two threads
building rank plans while the LRU evicts.

These tests drive REAL contention: a small cache ceiling forces an
eviction on nearly every call while two threads interleave, and the
retry-demo test runs two full 4-epoch incremental pipelines
concurrently against sibling stores.
"""

from __future__ import annotations

import threading

from pyspark.sql import functions as F

import sfs3_kinesis_spark.operators.scale as scale
from sfs3_kinesis_spark.operators.scale import global_cumsum, global_rank
from sfs3_kinesis_spark.plans import REGISTRY

SF = "/root/testdata/sf0.001"


def test_keyed_cache_two_threads_under_eviction(spark, monkeypatch):
    monkeypatch.setattr(scale, "_KEYED_CACHE_MAX", 2)
    scale.clear_keyed_cache()
    frames = [
        spark.range(0, 500).select(
            (F.col("id") * (i + 3) % 251).alias("v"), F.col("id").alias("uid")
        )
        for i in range(6)
    ]
    errors: list[BaseException] = []

    def worker(offset: int) -> None:
        try:
            for k in range(8):
                df = frames[(offset + k) % len(frames)]
                ranked = global_rank(df, ["v", "uid"], out_col="rnk")
                rows = sorted(
                    ((r["rnk"], r["v"], r["uid"]) for r in ranked.collect())
                )
                # rnk must be the exact 1..n row_number of ORDER BY v, uid
                expect = sorted((r["v"], r["uid"]) for r in df.collect())
                assert [(v, u) for _, v, u in rows] == expect
                assert [n for n, _, _ in rows] == list(range(1, len(expect) + 1))
                summed = global_cumsum(df, ["v", "uid"], {"v": "cum_v"})
                got = [
                    r["cum_v"]
                    for r in summed.orderBy("v", "uid").collect()
                ]
                acc, want = 0, []
                for v, _ in expect:
                    acc += v
                    want.append(acc)
                assert got == want
        except BaseException as exc:  # noqa: BLE001 — surface to main thread
            errors.append(exc)

    threads = [threading.Thread(target=worker, args=(i * 3,)) for i in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    assert len(scale._KEYED_CACHE) <= 2
    scale.clear_keyed_cache()


def test_retry_demo_two_concurrent_calls(spark):
    """Two overlapping pipeline_retry_exhausted runs: the seq/GC
    bookkeeping must give each call its own live store — before the
    active-set guard, call 3's GC could delete the store an in-flight
    call was still writing."""
    spec = REGISTRY["pipeline_retry_exhausted"]
    results: dict[int, list] = {}
    errors: list[BaseException] = []

    def worker(i: int) -> None:
        try:
            results[i] = spec.spark(spark, SF).collect()
        except BaseException as exc:  # noqa: BLE001
            errors.append(exc)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(3)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    for rows in results.values():
        assert len(rows) == 500
        for r in rows:
            doc = int(r["txn_id"])
            if doc % 6 <= 2:
                assert r["status"] == "SUCCEEDED" and r["attempts"] == doc % 6 + 1
            else:
                assert r["status"] == "FAILED" and r["attempts"] == 3
