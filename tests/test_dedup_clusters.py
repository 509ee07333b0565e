"""Connected-components dedup clustering: validity against a
driver-side union-find oracle, plus the structural invariants."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from sfs3_kinesis_spark.operators import dedup
from sfs3_kinesis_spark.plans.core import t

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def lsh_pairs(spark):
    p = dedup.minhash_lsh_pairs(
        t(spark, SF, "documents"), jaccard_threshold=0.3
    ).persist()
    p.count()
    yield p
    p.unpersist()


def _union_find_oracle(pairs):
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in pairs:
        union(a, b)
    return {v: find(v) for v in parent}


def test_components_match_union_find(spark, lsh_pairs):
    pairs = lsh_pairs
    pair_rows = [(r["doc_a"], r["doc_b"]) for r in pairs.collect()]
    assert pair_rows, "fixture should contain near-dup pairs"
    oracle = _union_find_oracle(pair_rows)

    comp = {
        r["vertex"]: r["component"]
        for r in dedup.connected_components(pairs).collect()
    }
    assert comp == oracle


def test_components_distributed_path_matches_driver_path(spark, monkeypatch):
    """r10 adaptive CC: small graphs take the driver union-find path
    (value-identical min reps, linear time); SFS3K_DRIVER_CC_MAX_EDGES=0
    forces the distributed min-label loop.  Both paths must agree on
    the adversarial high-diameter shape (a long path — the shape whose
    round count degenerates) plus a clique and a singleton edge."""
    rows = (
        [(i, i + 1) for i in range(60)]          # 61-vertex path
        + [(100, 101), (101, 102), (100, 102)]   # triangle
        + [(200, 201)]                           # pair
    )
    pairs = spark.createDataFrame(rows, "doc_a long, doc_b long")
    via_driver = {
        r["vertex"]: r["component"]
        for r in dedup.connected_components(pairs).collect()
    }
    monkeypatch.setattr(dedup, "DRIVER_CC_MAX_EDGES", 0)
    via_loop = {
        r["vertex"]: r["component"]
        for r in dedup.connected_components(pairs).collect()
    }
    assert via_driver == via_loop
    assert via_driver[60] == 0 and via_driver[102] == 100 and via_driver[201] == 200


def test_cluster_table_invariants(spark, lsh_pairs):
    docs = t(spark, SF, "documents")
    pairs = lsh_pairs
    out = dedup.dedup_clusters(docs, pairs).persist()

    # total: every doc appears exactly once
    assert out.count() == docs.count()
    assert out.select("doc_id").distinct().count() == docs.count()

    # cluster id is the minimum member (so keepers are well-defined)
    agg = out.groupBy("cluster_id").agg(
        F.min("doc_id").alias("lo"), F.sum("is_keeper").alias("k")
    )
    assert agg.filter(F.col("cluster_id") != F.col("lo")).count() == 0
    # exactly one keeper per cluster
    assert agg.filter(F.col("k") != 1).count() == 0

    # every near-dup pair landed in one cluster
    lab = out.select("doc_id", "cluster_id")
    a = lab.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("cluster_id", "ca")
    b = lab.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("cluster_id", "cb")
    j = pairs.join(a, "doc_a").join(b, "doc_b")
    assert j.filter(F.col("ca") != F.col("cb")).count() == 0
    out.unpersist()


def test_banded_keys_match_the_per_band_union_form(spark):
    """``banded_keys`` computes every band in one array projection and
    explodes it.  Its rows must equal the per-band form (one select per
    band, band_id a literal) row for row, so a streaming band index
    written before the kernel changed still matches after a restart."""
    from functools import reduce

    from pyspark.sql import DataFrame

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the sleepy dog"),
            (3, "two words"),
            (4, None),
            (5, "a a a a a a"),
        ],
        "doc_id long, text string",
    )
    sh = dedup.shingles(docs).select("doc_id", "shingles")

    def band_hash(b: int) -> str:
        mins = ", ".join(
            f"cast(array_min(transform(shingles, s -> xxhash64(s, {h}))) as string)"
            for h in range(b * 4, (b + 1) * 4)
        )
        return f"xxhash64(concat_ws(',', {mins}))"

    union = reduce(
        DataFrame.unionByName,
        [
            sh.select("doc_id", F.lit(b).alias("band_id"), F.expr(band_hash(b)).alias("band_hash"))
            for b in range(8)
        ],
    )
    got = dedup.banded_keys(sh, num_hashes=32, bands=8)
    assert got.dtypes == union.dtypes
    assert sorted(got.collect()) == sorted(union.collect())
    assert got.count() == 5 * 8


#: ``dedup_minhash_lsh`` at SF_SMOKE: (doc_a, doc_b, jaccard)
_LSH_ROWS_SMOKE = [
    (0, 50, 0.9524), (0, 82, 0.9545), (5, 450, 0.9756), (8, 12, 0.9737),
    (8, 120, 0.9865), (8, 360, 0.9867), (12, 120, 0.9605), (12, 360, 0.9868),
    (16, 369, 0.9882), (26, 176, 0.9885), (33, 436, 0.8889), (45, 487, 0.9643),
    (50, 82, 0.9091), (56, 157, 0.9815), (77, 459, 0.9872), (89, 114, 0.9286),
    (99, 174, 0.9881), (110, 467, 0.9891), (119, 425, 0.9714), (120, 360, 0.9733),
    (144, 161, 0.9886), (211, 404, 0.9846), (229, 263, 0.9565), (260, 391, 0.9888),
    (270, 329, 0.9881), (328, 428, 0.9744), (349, 411, 0.9808), (474, 498, 0.9894),
]


def test_dedup_minhash_lsh_rows_at_smoke_scale(spark):
    from sfs3_kinesis_spark.plans import REGISTRY

    rows = REGISTRY["dedup_minhash_lsh"].spark(spark, SF).collect()
    assert sorted(tuple(r) for r in rows) == _LSH_ROWS_SMOKE


def test_simhash_multiprobe_recall_vs_brute_force(spark):
    """Rotation-table probing (Manku et al.) must recover >= 85% of
    true hamming<=8 pairs where single-prefix bucketing finds ~16%,
    and every returned pair must be a verified true pair."""
    from pyspark.sql import functions as F

    from sfs3_kinesis_spark.operators.dedup import (
        simhash,
        simhash_multiprobe_pairs,
        simhash_near_dup_pairs,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sh = simhash(docs).select("doc_id", "simhash")
    a, b = sh.alias("a"), sh.alias("b")
    truth = (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .withColumn("hamming", F.expr("bit_count(a.simhash ^ b.simhash)"))
        .filter("hamming <= 8")
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    )
    n_truth = truth.count()
    multi = simhash_multiprobe_pairs(docs)
    n_multi = multi.count()
    # no false positives: every returned pair is in the truth set
    assert multi.join(truth, ["doc_a", "doc_b"], "left_anti").count() == 0
    # bucketing recall: >= 85% of the truth (measured 87.8%)
    assert n_multi >= 0.85 * n_truth
    # and strictly dominates the single-table bucketing
    assert n_multi > 2 * simhash_near_dup_pairs(docs).count()


def test_simhash_multiprobe_rejects_bad_table_counts(spark):
    import pytest as _pytest

    from sfs3_kinesis_spark.operators.dedup import simhash_multiprobe_pairs

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    for bad in (0, 10, 128):
        with _pytest.raises(ValueError):
            simhash_multiprobe_pairs(docs, n_tables=bad)


def _brute_jaccard(docs_rows, threshold_bp):
    """Driver-side brute-force oracle for the prefix-filtered exact
    Jaccard join: floor-bp arithmetic identical to the SQL."""
    out = set()
    sh = {}
    for doc_id, text in docs_rows:
        toks = text.split(" ")
        if len(toks) < 3:
            sh[doc_id] = {text}
        else:
            sh[doc_id] = {
                " ".join(toks[i : i + 3]) for i in range(len(toks) - 2)
            }
    ids = sorted(sh)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            inter = len(sh[a] & sh[b])
            uni = len(sh[a]) + len(sh[b]) - inter
            if uni and (inter * 10000) // uni >= threshold_bp:
                out.add((a, b, (inter * 10000) // uni))
    return out


def _brute_containment(docs_rows, threshold_bp):
    out = set()
    sh = {}
    for doc_id, text in docs_rows:
        toks = text.split(" ")
        sh[doc_id] = (
            {text}
            if len(toks) < 3
            else {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}
        )
    for a in sh:
        for b in sh:
            if a == b:
                continue
            c = (len(sh[a] & sh[b]) * 10000) // len(sh[a])
            if c >= threshold_bp:
                out.add((a, b, c))
    return out


def _adversarial_rows():
    """Heavy shingle-frequency skew (a boilerplate shingle in EVERY
    doc, so it always sorts last and out of prefixes), duplicate
    docs, subset/superset chains, short (<3-token) docs.  A
    deterministic LCG builds the corpus so failures replay."""
    state = 20260816
    words = [f"w{i}" for i in range(12)]
    rows = []
    for doc_id in range(60):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
        n = 1 + (state >> 12) % 14
        toks = []
        for k in range(n):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            toks.append(words[(state >> 17) % len(words)])
        # boilerplate tail shared by all docs (hot shingles)
        rows.append((doc_id, " ".join(toks + ["end", "of", "doc"])))
    # exact duplicates and a subset/superset pair
    rows.append((100, rows[0][1]))
    rows.append((101, rows[1][1] + " " + rows[2][1]))
    return rows


def _assert_prefix_joins_match_brute(spark, rows):
    """Jaccard (borderline thresholds), containment, and the
    ``similarity_join_prefix_filter`` shape (docs of >= 3 tokens at
    9000 bp) all equal the driver-side brute force."""
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sh = dedup.shingles(docs, n=3).select("doc_id", "shingles")

    for thr in (2500, 4000, 8000):
        got = {
            (r.doc_a, r.doc_b, r.jaccard_bp)
            for r in dedup.jaccard_pairs_exact(sh, threshold_bp=thr).collect()
        }
        assert got == _brute_jaccard(rows, thr), f"thr={thr}"

    for thr in (5000, 8000):
        got = {
            (r.doc_contained, r.doc_container, r.containment_bp)
            for r in dedup.containment_pairs_exact(sh, threshold_bp=thr).collect()
        }
        assert got == _brute_containment(rows, thr), f"thr={thr}"

    long_docs = docs.filter(F.size(F.split("text", " ")) >= 3)
    got = {
        tuple(r)
        for r in dedup.jaccard_pairs_exact(
            dedup.shingles(long_docs, n=3).select("doc_id", "shingles"),
            threshold_bp=9000,
        ).collect()
    }
    long_rows = [r for r in rows if len(r[1].split(" ")) >= 3]
    assert got == _brute_jaccard(long_rows, 9000)


def test_prefix_filtered_jaccard_is_lossless_on_adversarial_corpora(spark):
    """The prefix-filter lemma (smallest common element) must hold on
    corpora the fixtures don't exercise (see ``_adversarial_rows``)
    and at borderline thresholds."""
    _assert_prefix_joins_match_brute(spark, _adversarial_rows())


@pytest.mark.parametrize("narrowed", ["xxhash64(tok) & 63", "xxhash64(tok) & 255"])
def test_prefix_joins_stay_exact_under_forced_key_collisions(
    spark, monkeypatch, narrowed
):
    """Narrow the shingle key to 6 / 8 bits so most keys hold several
    shingles: the per-key slots must keep every id distinct, so pairs
    and scores still equal the brute force."""
    monkeypatch.setattr(dedup, "_SHINGLE_KEY", narrowed)
    rows = _adversarial_rows()
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sh = dedup.shingles(docs, n=3).select("doc_id", "shingles")
    vocab = dedup._shingle_vocab(dedup._postings(sh))
    assert vocab.filter("toks IS NOT NULL").count() > 0  # collisions really forced
    _assert_prefix_joins_match_brute(spark, rows)


def test_prefix_join_fails_loudly_past_the_key_slot_bound(spark, monkeypatch):
    """More distinct shingles on one key than ``_KEY_SLOTS`` cannot get
    distinct ids: the query must fail, never merge two shingles."""
    monkeypatch.setattr(dedup, "_SHINGLE_KEY", "xxhash64(tok) & 0")
    rows = [(i, f"a{i} b{i} c{i}") for i in range(dedup._KEY_SLOTS + 1)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sh = dedup.shingles(docs, n=3).select("doc_id", "shingles")
    with pytest.raises(Exception, match="share one key"):
        dedup.jaccard_pairs_exact(sh, threshold_bp=5000).collect()


def _next_job_id(spark) -> int:
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def test_prefix_join_builds_run_no_spark_job(spark, monkeypatch):
    """Building the exact prefix joins is pure plan construction: no
    collision check or other driver action before the caller's own."""
    from sfs3_kinesis_spark.plans import REGISTRY, advanced_queries

    docs = spark.createDataFrame(
        [(1, "p q r s t"), (2, "p q r s t"), (3, "x y")], "doc_id long, text string"
    )
    monkeypatch.setattr(advanced_queries, "t", lambda _s, _d, _n: docs)
    sh = dedup.shingles(docs, n=3).select("doc_id", "shingles")
    jobs0 = _next_job_id(spark)
    dedup.jaccard_pairs_exact(sh, threshold_bp=4000)
    dedup.containment_pairs_exact(sh, threshold_bp=8000)
    sim = REGISTRY["similarity_join_prefix_filter"].spark(spark, SF)
    assert _next_job_id(spark) - jobs0 == 0
    assert [tuple(r) for r in sim.collect()] == [(1, 2, 10000)]
