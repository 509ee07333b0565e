"""Second-decade scale stress for the exact prefix-filter similarity
joins (r07 verdict next-round #7).

SF1_STRESS measured ONE decade (sf0.1 -> ~sf1, e = 1.01 for
dedup_ngram_jaccard).  Before anyone trusts the prefix-filtered
set-similarity joins at 100 TB, the fan-out must be shown to keep
tracking the true-pair count across a SECOND decade: this script
synthesizes a documents-only ~sf10 corpus (the sf0.1 document table
unioned 100x with disjoint doc_id offsets and per-copy token
suffixes, the same organic-growth shape as scripts/sf1_stress.py —
copy i shares NO shingles with copy j, so near-dup candidate volume
grows linearly like a crawl, not like an all-duplicates corpus) and
times the three prefix-filter consumers at sf1 and sf10:

* ``dedup_ngram_jaccard``        — exact Jaccard, symmetric prefix
* ``dedup_containment``          — asymmetric containment prefix
* ``similarity_join_prefix_filter`` — the same exact Jaccard join at
  0.9 over documents of at least 3 tokens

reporting the second-decade steady exponent
e = log10(t_sf10 / t_sf1) (e ~ 1.0 = the fan-out still tracks the
result size; >> 1 = a super-linear shape hiding behind the first
decade) plus the same plan-shape (no global windows may appear) and
persist-hygiene assertions as the one-decade harness.  Round 9 adds
per-decade CANDIDATE and EMITTED pair counts (r08 verdict next-round
#2): wall-time growth is now attributable — candidate exponent >>
emitted exponent = filter fan-out (fix the filter), both high = true
pair growth (the corpus's fact, not the plan's).  Results merge into
SF1_STRESS.json under ``"x100"`` so one artifact carries both
decades.

Usage: python scripts/sf10_stress_prefix.py [out_json] [sf10_dir] [sf1_dir]
(sf10 corpus is built once under /tmp and reused, ~500k documents)
No oracle at sf10 — a brute-force DuckDB twin at 500k docs is
1.25e11 array intersections; correctness is the 3-SF check_oracle
ledger's job, THIS measures how the plans scale.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

from sfs3_kinesis_spark.plans import REGISTRY  # noqa: E402
from sfs3_kinesis_spark.session import get_spark  # noqa: E402

SRC = "/root/testdata/sf0.1"
COPIES = 100
OFF = 1_000_000_000  # disjoint doc_id domains per copy

QUERIES = [
    "dedup_ngram_jaccard",
    "dedup_containment",
    "similarity_join_prefix_filter",
]


def _simjoin_shingles(spark, sf_dir: str):
    """The shingle input of ``similarity_join_prefix_filter``."""
    from sfs3_kinesis_spark.operators.dedup import shingles
    from sfs3_kinesis_spark.plans.core import t

    docs = t(spark, sf_dir, "documents").filter(F.size(F.split("text", " ")) >= 3)
    return shingles(docs, n=3).select("doc_id", "shingles")


def _candidate_frame(spark, name: str, sf_dir: str):
    """The candidate stage of each prefix-filter consumer — the SAME
    builders the production queries compose (operators/dedup.py), so
    the counts attribute wall-time growth to candidate fan-out vs
    true-pair growth."""
    from sfs3_kinesis_spark.operators import dedup
    from sfs3_kinesis_spark.plans.core import t

    if name == "dedup_ngram_jaccard":
        return dedup.jaccard_candidates_exact(
            dedup.shingles(t(spark, sf_dir, "documents"), n=3).select(
                "doc_id", "shingles"
            ),
            threshold_bp=4000,
        )
    if name == "dedup_containment":
        return dedup.containment_candidates_exact(
            dedup.shingles(t(spark, sf_dir, "documents"), n=3).select(
                "doc_id", "shingles"
            ),
            threshold_bp=8000,
        )
    if name == "similarity_join_prefix_filter":
        return dedup.jaccard_candidates_exact(
            _simjoin_shingles(spark, sf_dir), threshold_bp=9000
        )
    raise KeyError(name)


def pair_counts(spark, name: str, sf_dir: str) -> dict:
    """(candidate pairs, emitted pairs) for one consumer at one scale."""
    n_cand = _candidate_frame(spark, name, sf_dir).count()
    n_emit = REGISTRY[name].spark(spark, sf_dir).count()
    return {"candidates": n_cand, "emitted": n_emit}


def _timed(spark, build, runs: int = 3) -> float:
    """min-of-warm wall for materializing ``build()`` through the noop
    sink (run 1 = discarded cold; caches cleared between runs so each
    run pays the full plan)."""
    from sfs3_kinesis_spark.operators.scale import clear_keyed_cache

    walls = []
    for i in range(runs):
        clear_keyed_cache()
        spark.catalog.clearCache()
        t0 = time.time()
        build().write.format("noop").mode("overwrite").save()
        walls.append(time.time() - t0)
    return round(min(walls[1:]), 3)


def simjoin_stage_walls(spark, sf_dir: str, scratch: str) -> dict:
    """Per-stage walls for ``similarity_join_prefix_filter``, each
    stage built by the production helpers in operators/dedup.py.
    Each stage is isolated by parquet-materializing its inputs first
    (untimed), so its wall measures that stage's plan alone:

    * ``shingle_build`` — docs -> distinct 3-shingle arrays;
    * ``vocab_agg``     — exploded shingles -> (key, df, colliding
      shingles) vocabulary;
    * ``rank_assemble`` — postings x vocabulary join + rarest-first
      sort_array collect + prefix slice (the prefix-frame assembly);
    * ``candidates``    — the prefix/length/positional candidate join
      from a parquet-backed prefix frame;
    * ``verify``        — exact-Jaccard join-back from parquet-backed
      candidates + prefix arrays;
    * ``full_query``    — the production composition, for reference.

    Stage walls need not sum to full_query (isolation removes shared
    scans and the pin); their per-decade EXPONENTS are the signal."""
    import shutil

    from sfs3_kinesis_spark.operators import dedup

    os.makedirs(scratch, exist_ok=True)
    walls: dict[str, float] = {}

    def stage(name: str, build):
        """Time ``build`` and return its output re-read from parquet."""
        walls[name] = _timed(spark, build)
        path = os.path.join(scratch, f"{name}.parquet")
        build().write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)

    d = stage("shingle_build", lambda: _simjoin_shingles(spark, sf_dir))
    vocab = stage("vocab_agg", lambda: dedup._shingle_vocab(dedup._postings(d)))
    pref = stage(
        "rank_assemble",
        lambda: dedup._ranked_shingle_sets(d, vocab=vocab).withColumn(
            "prefix", dedup._prefix(9000)
        ),
    )
    cand = stage(
        "candidates",
        lambda: dedup.jaccard_candidates_exact(d, threshold_bp=9000, pref=pref),
    )
    walls["verify"] = _timed(
        spark, lambda: dedup.jaccard_verify_exact(cand, pref, threshold_bp=9000)
    )
    walls["full_query"] = _timed(
        spark, lambda: REGISTRY["similarity_join_prefix_filter"].spark(spark, sf_dir)
    )
    shutil.rmtree(scratch, ignore_errors=True)
    return walls


def build(spark, out: str) -> None:
    marker = os.path.join(out, "_COMPLETE")
    if os.path.exists(marker):
        print(f"sf10 corpus already built at {out}")
        return
    os.makedirs(out, exist_ok=True)
    copies = spark.range(COPIES).select(F.col("id").cast("long").alias("_copy"))
    df = spark.read.parquet(f"{SRC}/documents.parquet").crossJoin(copies)
    df = df.withColumn("doc_id", F.col("doc_id") + F.lit(OFF) * F.col("_copy"))
    # per-copy token suffix: copy i>0 shares NO shingles with copy 0,
    # so candidate volume scales like an organic corpus
    df = df.withColumn(
        "text",
        F.when(F.col("_copy") == 0, F.col("text")).otherwise(
            F.expr(
                "concat_ws(' ', transform(split(text, ' '), "
                "t -> concat(t, '_', CAST(_copy AS STRING))))"
            )
        ),
    )
    df.drop("_copy").repartition(64).write.mode("overwrite").parquet(
        f"{out}/documents.parquet"
    )
    open(marker, "w").close()
    print(f"built documents x{COPIES}")


def main() -> int:
    out_json = sys.argv[1] if len(sys.argv) > 1 else "SF1_STRESS.json"
    sf10_dir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sf10_prefix"
    sf1_dir = sys.argv[3] if len(sys.argv) > 3 else "/tmp/sf1_stress"
    spark = get_spark("sf10-prefix-stress")
    spark.sparkContext.setLogLevel("ERROR")
    build(spark, sf10_dir)
    if not os.path.exists(os.path.join(sf1_dir, "_COMPLETE")):
        print(f"sf1 stress corpus missing at {sf1_dir} — run sf1_stress.py first")
        return 2

    from scripts.plan_audit import global_windows
    from scripts.sf1_stress import time_query
    from sfs3_kinesis_spark.operators.scale import clear_keyed_cache

    clear_keyed_cache()
    spark.catalog.clearCache()
    persisted_before = spark.sparkContext._jsc.getPersistentRDDs().size()

    results: dict[str, dict] = {}
    for name in QUERIES:
        r1 = time_query(spark, name, sf1_dir)
        clear_keyed_cache()
        r10 = time_query(spark, name, sf10_dir)
        clear_keyed_cache()
        p1 = pair_counts(spark, name, sf1_dir)
        clear_keyed_cache()
        p10 = pair_counts(spark, name, sf10_dir)
        clear_keyed_cache()
        r1.update(p1)
        r10.update(p10)
        cand_exp = (
            round(math.log10(max(p10["candidates"], 1) / max(p1["candidates"], 1)), 2)
            if p1["candidates"] > 0
            else None
        )
        emit_exp = (
            round(math.log10(max(p10["emitted"], 1) / max(p1["emitted"], 1)), 2)
            if p1["emitted"] > 0
            else None
        )
        gw1 = global_windows(
            REGISTRY[name].spark(spark, sf1_dir)._jdf.queryExecution().executedPlan().toString()
        )
        gw10 = global_windows(
            REGISTRY[name]
            .spark(spark, sf10_dir)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        exp = (
            round(math.log10(max(r10["steady"], 1e-3) / max(r1["steady"], 1e-3)), 2)
            if r1["steady"] > 0
            else None
        )
        results[name] = {
            "sf1": r1,
            "sf10": r10,
            "exponent_steady_decade2": exp,
            "exponent_candidates_decade2": cand_exp,
            "exponent_emitted_decade2": emit_exp,
            "global_windows_sf1": gw1,
            "global_windows_sf10": gw10,
        }
        print(
            f"  {name:34s} sf1 {r1['steady']:8.3f}s  sf10 {r10['steady']:8.3f}s"
            f"  e2={exp}  cand {p1['candidates']}->{p10['candidates']}"
            f" (e={cand_exp})  emit {p1['emitted']}->{p10['emitted']}"
            f" (e={emit_exp})  gw {gw1}->{gw10}"
        )

    # r09 verdict next-round #2: stage-level wall attribution for the
    # simjoin's residual exponent (candidates/emitted exactly linear,
    # wall e=1.24 — name the superlinear stage)
    stage_walls = {}
    for label, d in (("sf1", sf1_dir), ("sf10", sf10_dir)):
        stage_walls[label] = simjoin_stage_walls(
            spark, d, os.path.join("/tmp", f"simjoin_stages_{label}")
        )
        clear_keyed_cache()
        print(f"  simjoin stages {label}: {stage_walls[label]}")
    stage_exponents = {
        stage: round(
            math.log10(
                max(stage_walls["sf10"][stage], 1e-3)
                / max(stage_walls["sf1"][stage], 1e-3)
            ),
            2,
        )
        for stage in stage_walls["sf1"]
    }
    print(f"  simjoin stage exponents: {stage_exponents}")

    clear_keyed_cache()
    spark.catalog.clearCache()
    persisted_after = spark.sparkContext._jsc.getPersistentRDDs().size()

    flags = []
    for name in QUERIES:
        r = results[name]
        if r["global_windows_sf10"] > r["global_windows_sf1"]:
            flags.append(f"{name}: global windows grew with scale")
        if (
            r["exponent_steady_decade2"] is not None
            and r["exponent_steady_decade2"] > 1.3
        ):
            flags.append(
                f"{name}: super-linear decade-2 scaling "
                f"e={r['exponent_steady_decade2']}"
            )
    if persisted_after > persisted_before:
        flags.append(
            f"persist growth: {persisted_before} -> {persisted_after} cached RDDs"
        )

    try:
        load_1m = round(os.getloadavg()[0], 2)
    except OSError:
        load_1m = None
    section = {
        "copies_vs_sf0.1": COPIES,
        "sf10_dir": sf10_dir,
        "load_1m": load_1m,
        "persisted_rdds_before": persisted_before,
        "persisted_rdds_after": persisted_after,
        "flags": flags,
        "results": results,
        "simjoin_stage_walls": stage_walls,
        "simjoin_stage_exponents": stage_exponents,
    }
    doc = {}
    if os.path.exists(out_json):
        doc = json.load(open(out_json))
    doc["x100"] = section
    with open(out_json, "w") as fh:
        json.dump(doc, fh, indent=1)
    print(f"wrote {out_json} (x100 section); flags: {flags or 'none'}")
    return 1 if flags else 0


if __name__ == "__main__":
    raise SystemExit(main())
