"""Persist-lifecycle regression tests (r07 verdict What's-wrong #1).

The round-7 exact prefix-filter joins (and a handful of plan-level
shared intermediates) used bare ``.persist()`` with no unpersist —
Spark's CacheManager holds a cached relation until EXPLICIT unpersist
or session end, so a long-lived session running the multi-hundred-query
registry accumulated one cached copy per call.  That is the identical
defect class to the round-6 ``_bucketed`` cache leak that caused a
real measured regression.  Fix: every such intermediate now routes
through :func:`sfs3_kinesis_spark.operators.scale.pin_shared`, the
bounded keyed-frame LRU shared with ``global_rank``/``global_cumsum``.

These tests pin the contract:

* ``pin_shared`` is a bounded LRU — distinct plans never grow the
  JVM persistent-RDD set past the bound; a semantic repeat is a HIT
  (same live frame, no new entry);
* the registry consumers of the dedup operators
  (``dedup_ngram_jaccard``, ``dedup_containment``,
  ``dedup_minhash_lsh``, ``dedup_lsh_recall_audit``,
  ``quality_cross_source_neardup``) hold FLAT storage across a
  20-iteration soak, and ``clear_keyed_cache`` returns the JVM
  persistent-RDD count to its pre-soak baseline.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def _jvm_persistent_count(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def test_pin_shared_is_a_bounded_lru_with_semantic_hits(spark):
    from sfs3_kinesis_spark.operators import scale
    from sfs3_kinesis_spark.operators.scale import clear_keyed_cache, pin_shared

    clear_keyed_cache()
    spark.catalog.clearCache()
    base = _jvm_persistent_count(spark)
    src = spark.range(200).select(F.col("id"), (F.col("id") % 7).alias("v"))

    # distinct plans: bounded, evicted entries actually unpersisted
    for i in range(scale._KEYED_CACHE_MAX + 6):
        pinned = pin_shared(src.withColumn("c", F.lit(i)), tag="t")
        assert pinned.count() == 200
        assert len(scale._KEYED_CACHE) <= scale._KEYED_CACHE_MAX
    assert _jvm_persistent_count(spark) - base <= scale._KEYED_CACHE_MAX

    # a semantic repeat is a HIT: the SAME live cached frame comes
    # back and the cache does not grow
    n_before = len(scale._KEYED_CACHE)
    df_a = src.withColumn("c", F.lit(scale._KEYED_CACHE_MAX + 5))
    hit = pin_shared(df_a, tag="t")
    assert len(scale._KEYED_CACHE) == n_before
    lvl = hit.storageLevel
    assert lvl.useMemory or lvl.useDisk

    # a different tag is a different entry even for the same plan
    pin_shared(df_a, tag="other")
    assert len(scale._KEYED_CACHE) == min(n_before + 1, scale._KEYED_CACHE_MAX)

    clear_keyed_cache()
    assert not scale._KEYED_CACHE
    assert _jvm_persistent_count(spark) <= base


def test_pin_shared_survives_external_clear_cache(spark):
    """bench.py calls spark.catalog.clearCache() between queries —
    that unpersists entries behind the LRU's back.  A subsequent hit
    must re-persist rather than hand back a silently-cold frame."""
    from sfs3_kinesis_spark.operators.scale import clear_keyed_cache, pin_shared

    clear_keyed_cache()
    src = spark.range(50).select(F.col("id"), (F.col("id") * 2).alias("v"))
    first = pin_shared(src, tag="cc")
    assert first.count() == 50
    spark.catalog.clearCache()
    again = pin_shared(src, tag="cc")
    assert again.count() == 50
    lvl = again.storageLevel
    assert lvl.useMemory or lvl.useDisk
    clear_keyed_cache()


@pytest.mark.parametrize("rounds", [20])
def test_dedup_registry_consumers_hold_flat_storage(spark, rounds):
    """The r07 verdict's named leak sites, exercised through their
    REGISTRY consumers for 20 iterations: the JVM persistent-RDD
    count must stay bounded (flat steady state — every iteration
    after the first is a semantic cache hit), and clear_keyed_cache
    must return it to the pre-soak baseline."""
    import sfs3_kinesis_spark.plans  # noqa: F401 — populate REGISTRY
    from sfs3_kinesis_spark.operators import scale
    from sfs3_kinesis_spark.operators.scale import clear_keyed_cache
    from sfs3_kinesis_spark.plans.core import REGISTRY

    consumers = [
        "dedup_ngram_jaccard",      # jaccard_pairs_exact
        "dedup_containment",        # containment_pairs_exact
        "dedup_minhash_lsh",        # minhash_lsh_pairs
    ]
    for name in consumers:
        assert name in REGISTRY, name

    clear_keyed_cache()
    spark.catalog.clearCache()
    base = _jvm_persistent_count(spark)

    counts = []
    for _ in range(rounds):
        for name in consumers:
            REGISTRY[name].spark(spark, SF_SMOKE).count()
        counts.append(_jvm_persistent_count(spark))

    # bounded at every point in the soak…
    assert max(counts) - base <= scale._KEYED_CACHE_MAX, (base, counts)
    # …and FLAT after the first iteration (steady state = pure hits;
    # a leak would grow by ~3 per iteration, the pre-fix behavior)
    assert counts[-1] == counts[0], counts

    clear_keyed_cache()
    assert _jvm_persistent_count(spark) <= base


def test_wider_registry_pin_sites_release_on_clear(spark):
    """The other r07 ADVICE-named bare-persist sites (recsys ui/co,
    sequential-pair spans, modularity edge list, pagerank tables,
    DBSCAN pair/core tables, LSH-audit truth) now route through the
    LRU too: after running each once, clear_keyed_cache returns the
    JVM persistent-RDD count to baseline — nothing holds storage for
    the life of the session."""
    import sfs3_kinesis_spark.plans  # noqa: F401 — populate REGISTRY
    from sfs3_kinesis_spark.operators.scale import clear_keyed_cache
    from sfs3_kinesis_spark.plans.core import REGISTRY

    names = [
        "dedup_lsh_recall_audit",
        "quality_cross_source_neardup",
        "graph_pagerank_parts",
        "graph_modularity_brand",
    ]
    present = [n for n in names if n in REGISTRY]
    assert present, "registry names drifted — update this test"

    clear_keyed_cache()
    spark.catalog.clearCache()
    base = _jvm_persistent_count(spark)
    for name in present:
        REGISTRY[name].spark(spark, SF_SMOKE).count()
    clear_keyed_cache()
    assert _jvm_persistent_count(spark) <= base


def test_pin_shared_size_guard_skips_corpus_sized_frames(spark, monkeypatch):
    """Round-8 second-decade stress finding: pinning a corpus-sized
    frame thrashes storage and makes cache REUSE slower than
    recomputation (measured at sf10: pinned warm 218 s vs unpinned
    120 s).  Frames whose optimizer size estimate exceeds
    ``_PIN_MAX_EST_BYTES`` come back UNPINNED — no persist, no LRU
    entry."""
    from sfs3_kinesis_spark.operators import scale
    from sfs3_kinesis_spark.operators.scale import clear_keyed_cache, pin_shared

    clear_keyed_cache()
    src = spark.range(1000).select(F.col("id"), (F.col("id") * 3).alias("v"))

    monkeypatch.setattr(scale, "_PIN_MAX_EST_BYTES", 1)  # everything too big
    out = pin_shared(src, tag="guard")
    lvl = out.storageLevel
    assert not (lvl.useMemory or lvl.useDisk)
    assert not scale._KEYED_CACHE
    clear_keyed_cache()


def test_pin_shared_oversize_tier_and_decision_log(spark, monkeypatch):
    """Frames above the size cap are returned unpinned (the sf10
    pin-tier A/B measured recomputation beating every cached tier),
    and every pin_shared call logs its decision per tag (r08 verdict
    next-round #3) so the decade stresses can record which tables the
    guard pinned vs guarded out at each scale."""
    from sfs3_kinesis_spark.operators import scale
    from sfs3_kinesis_spark.operators.scale import clear_keyed_cache, pin_shared

    clear_keyed_cache()
    scale.PIN_DECISIONS.clear()
    src = spark.range(1000).select(F.col("id"), (F.col("id") * 3).alias("v"))

    # oversize -> unpinned, decision logged
    monkeypatch.setattr(scale, "_PIN_MAX_EST_BYTES", 1)
    out = pin_shared(src, tag="tier")
    lvl = out.storageLevel
    assert not (lvl.useMemory or lvl.useDisk)
    assert scale.PIN_DECISIONS["tier"].startswith("guarded_out(")
    assert not scale._KEYED_CACHE

    # under-cap frames pin at the default deserialized level
    monkeypatch.setattr(scale, "_PIN_MAX_EST_BYTES", 1 << 40)
    out = pin_shared(src, tag="tier")
    lvl = out.storageLevel
    assert lvl.useMemory
    assert len(scale._KEYED_CACHE) == 1
    assert scale.PIN_DECISIONS["tier"] == "pinned"
    assert out.count() == 1000

    # a semantic repeat is a hit on that entry
    repeat = spark.range(1000).select(F.col("id"), (F.col("id") * 3).alias("v"))
    hit = pin_shared(repeat, tag="tier")
    assert scale.PIN_DECISIONS["tier"] == "pinned_hit"
    assert len(scale._KEYED_CACHE) == 1
    assert hit.count() == 1000

    # external clearCache: the next hit re-persists the entry
    spark.catalog.clearCache()
    hit2 = pin_shared(repeat, tag="tier")
    lvl2 = hit2.storageLevel
    assert lvl2.useMemory
    assert scale.PIN_DECISIONS["tier"] == "pinned_hit"
    assert len(scale._KEYED_CACHE) == 1
    clear_keyed_cache()
    scale.PIN_DECISIONS.clear()


def test_pin_shared_bounded_override_bypasses_size_guard(spark, monkeypatch):
    """r09 verdict next-round #4: ``bounded=True`` asserts the frame's
    row count is algorithm-bounded (pagerank's top-N rank table, k
    centroids), so the leaf-sum size guard — which misclassifies a
    60-row table derived from a multi-GB scan — is bypassed and the
    frame pins at the default tier.  It still flows through the LRU:
    semantic repeats hit, clear_keyed_cache releases it, and eviction
    applies like any other entry."""
    from sfs3_kinesis_spark.operators import scale
    from sfs3_kinesis_spark.operators.scale import clear_keyed_cache, pin_shared

    clear_keyed_cache()
    scale.PIN_DECISIONS.clear()
    src = spark.range(1000).select(F.col("id"), (F.col("id") * 3).alias("v"))

    # cap 1 byte: the unbounded path guards this frame out...
    monkeypatch.setattr(scale, "_PIN_MAX_EST_BYTES", 1)
    out = pin_shared(src, tag="bnd")
    assert not (out.storageLevel.useMemory or out.storageLevel.useDisk)
    assert scale.PIN_DECISIONS["bnd"].startswith("guarded_out(")

    # ...while bounded=True pins it despite the cap
    out = pin_shared(src, tag="bnd", bounded=True)
    lvl = out.storageLevel
    assert lvl.useMemory or lvl.useDisk
    assert scale.PIN_DECISIONS["bnd"] == "pinned_bounded"
    assert len(scale._KEYED_CACHE) == 1
    assert out.count() == 1000

    # semantic repeat hits the bounded entry
    repeat = spark.range(1000).select(F.col("id"), (F.col("id") * 3).alias("v"))
    hit = pin_shared(repeat, tag="bnd", bounded=True)
    assert scale.PIN_DECISIONS["bnd"] == "pinned_hit"
    assert len(scale._KEYED_CACHE) == 1
    assert hit.count() == 1000

    # LRU bound still applies to bounded entries (no leak path)
    monkeypatch.setattr(scale, "_KEYED_CACHE_MAX", 1)
    other = spark.range(50).select(F.col("id").alias("k"))
    pin_shared(other, tag="bnd2", bounded=True)
    assert len(scale._KEYED_CACHE) == 1  # evicted the first entry

    clear_keyed_cache()
    assert not scale._KEYED_CACHE
    scale.PIN_DECISIONS.clear()


def test_forget_keys_unpersists_on_failure(spark, tmp_path, monkeypatch):
    """r8 verdict What's-wrong #4: ``KeyedUpsertSink.forget_keys``
    persisted the scrubbed frame without try/finally, so an exception
    during the version-directory rewrite leaked one cached relation
    per failed call.  Inject a failure mid-rewrite and assert the JVM
    persistent-RDD count returns to baseline; then the retry (the
    erasure never started, so the store is intact) succeeds and also
    returns storage to baseline."""
    import shutil

    from sfs3_kinesis_spark.sources.sinks import KeyedUpsertSink

    path = str(tmp_path / "store")
    sink = KeyedUpsertSink(spark, path, key_col="txn_id", compact_every=100)
    schema = "txn_id string, status string"
    sink.apply_batch(
        spark.createDataFrame([("a", "RUNNING"), ("b", "RUNNING")], schema), 0
    )

    spark.catalog.clearCache()
    base = _jvm_persistent_count(spark)

    real_rmtree = shutil.rmtree

    def boom(*a, **k):
        raise OSError("injected rmtree failure")

    monkeypatch.setattr(shutil, "rmtree", boom)
    with pytest.raises(OSError, match="injected"):
        sink.forget_keys(["a"])
    monkeypatch.setattr(shutil, "rmtree", real_rmtree)
    assert _jvm_persistent_count(spark) <= base

    # the failed call touched nothing on disk; the retry erases
    assert sink.forget_keys(["a"]) >= 1
    assert _jvm_persistent_count(spark) <= base
    assert {r.txn_id for r in sink.current().collect()} == {"b"}


#: the only (module, function) pairs allowed to call ``.persist(`` or
#: ``.cache()``: the keyed-frame LRU itself, and caller-owned
#: lifecycles that unpersist in a try/finally before returning
PERSIST_SITES = {
    ("operators/scale.py", "_lru_persist"),
    ("operators/dedup.py", "connected_components"),
    ("sources/sinks.py", "forget_keys"),
    ("streaming/incremental.py", "process_batch"),
    ("streaming/neardup.py", "process_batch"),
}


def test_package_has_no_bare_cache():
    """Every persisted frame goes through the bounded LRU (pin_shared)
    or a documented try/finally site; any other ``.cache()`` or
    ``.persist(`` would hold its relation for the session."""
    import ast
    import pathlib

    import sfs3_kinesis_spark

    root = pathlib.Path(sfs3_kinesis_spark.__file__).parent
    hits = []

    def visit(node, rel, fn):
        for child in ast.iter_child_nodes(node):
            name = (
                child.name
                if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef))
                else fn
            )
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr in ("cache", "persist")
                and (rel, name) not in PERSIST_SITES
            ):
                hits.append(f"{rel}:{child.lineno} ({name})")
            visit(child, rel, name)

    for p in sorted(root.rglob("*.py")):
        rel = p.relative_to(root).as_posix()
        visit(ast.parse(p.read_text()), rel, None)
    assert hits == []


def test_kmeans_pin_releases_on_clear(spark):
    """kmeans_lloyd's quantized corpus is pinned through the LRU, so
    clear_keyed_cache returns the JVM persistent-RDD count to baseline."""
    from sfs3_kinesis_spark.operators import similarity
    from sfs3_kinesis_spark.operators.scale import PIN_DECISIONS, clear_keyed_cache
    from sfs3_kinesis_spark.plans.core import t

    clear_keyed_cache()
    spark.catalog.clearCache()
    base = _jvm_persistent_count(spark)
    similarity.kmeans_lloyd(t(spark, SF_SMOKE, "embeddings"), k=4, iterations=1).collect()
    assert PIN_DECISIONS["kmeans_quantized"] in ("pinned", "pinned_hit")
    clear_keyed_cache()
    assert _jvm_persistent_count(spark) <= base
