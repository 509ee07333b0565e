"""LLM-data-pipeline query corpus: dedup, similarity search, text
analysis, multimodal metadata (north-star operators; SURVEY.md §7
step 5).

Oracle policy: everything that ANSI SQL can reproduce exactly has a
DuckDB oracle (including the rolling-hash fingerprint and cosine
similarity).  The performance-path MinHash-LSH and SimHash hash with
Spark's xxhash64, which DuckDB cannot reproduce — those stay
rows-only — but each has an ORACLE-EXACT twin built on md5 (the one
hash both engines implement identically): dedup_minhash_exact lifts
md5 prefixes onto a shared integer grid for the full
shingle→signature→band→Jaccard plan, and similarity_lsh_exact draws
deterministic Rademacher hyperplanes from md5-nibble parity — so the
LSH plan shapes themselves are value-verified, not just row-counted.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from sfs3_kinesis_spark.operators import dedup, similarity
from sfs3_kinesis_spark.operators.text import with_lang_id, with_token_stats
from sfs3_kinesis_spark.operators.scale import pin_shared
from sfs3_kinesis_spark.plans.core import register, t, t_nonnull

# ----------------------------------------------------------------- #
# dedup                                                             #
# ----------------------------------------------------------------- #


@register(
    "dedup_exact_text",
    """
    SELECT text                        AS dedup_key,
           CAST(min(doc_id) AS BIGINT) AS keeper_doc_id,
           count(*)                    AS n_copies
    FROM documents GROUP BY text
    """,
    tags=("dedup",),
    description="exact dedup: hash-groupBy on raw text, min doc_id survives",
)
def dedup_exact_text(spark: SparkSession, sf_dir: str):
    return dedup.exact_dedup(t(spark, sf_dir, "documents"))


@register(
    "dedup_prefix_key",
    """
    SELECT array_to_string(string_split(text, ' ')[1:3], ' ') AS dedup_key,
           CAST(min(doc_id) AS BIGINT)                        AS keeper_doc_id,
           count(*)                                           AS n_copies
    FROM documents WHERE text IS NOT NULL GROUP BY 1
    """,
    tags=("dedup",),
    description="normalized-key dedup (first-3-token canonical key)",
)
def dedup_prefix_key(spark: SparkSession, sf_dir: str):
    key = F.concat_ws(" ", F.slice(F.split(F.col("text"), " "), 1, 3))
    return dedup.exact_dedup(t_nonnull(spark, sf_dir, "documents", "text"), key_expr=key)


@register(
    "dedup_fingerprint",
    f"""
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           list_reduce(
             list_prepend(CAST(0 AS BIGINT),
               list_transform(string_split(text, ' '),
                              x -> CAST(ascii(x) * 31 + length(x) AS BIGINT))),
             (acc, x) -> (acc * 131 + x) % {dedup.FINGERPRINT_MOD}) AS fingerprint
    FROM documents WHERE text IS NOT NULL
    """,
    tags=("dedup", "fingerprint"),
    description="deterministic rolling-hash document fingerprint (SQL-exact fold)",
)
def dedup_fingerprint(spark: SparkSession, sf_dir: str):
    return dedup.fingerprint(t_nonnull(spark, sf_dir, "documents", "text")).select("doc_id", "fingerprint")


@register(
    "dedup_minhash_lsh",
    None,  # xxhash64 signatures are Spark-specific — rows-only check
    tags=("dedup", "lsh"),
    description="MinHash+LSH near-dup pairs: shingle→signature→band bucket join→Jaccard verify",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str):
    return dedup.minhash_lsh_pairs(t(spark, sf_dir, "documents"), jaccard_threshold=0.4)


@register(
    "dedup_simhash",
    None,  # xxhash64-based — rows-only check
    tags=("dedup", "simhash"),
    description=(
        "SimHash near-dup pairs bucketed by top bits, Hamming-verified. "
        "STEERING: recall is 20-32% (2000-3214 bp) vs 3-gram-Jaccard "
        "ground truth per dedup_lsh_recall_audit — for Jaccard-criteria "
        "dedup use dedup_minhash_lsh (10000 bp recall); SimHash fits "
        "only bag-of-words near-identity"
    ),
)
def dedup_simhash(spark: SparkSession, sf_dir: str):
    return dedup.simhash_near_dup_pairs(t(spark, sf_dir, "documents"), max_hamming=8)


@register(
    "dedup_simhash_multiprobe",
    None,  # xxhash64-based — rows-only check; recall pinned in tests
    tags=("dedup", "simhash", "multiprobe", "rotation_tables"),
    description=(
        "SimHash candidates via 16 rotation tables (Manku et al. 2007, "
        "public): fingerprints bucket on the top 16 bits of each "
        "4-bit rotation, candidates meet in ONE banded equi-join on "
        "(table_id, bucket) — the MinHash-LSH shape.  Fixes the "
        "BUCKETING miss of dedup_simhash: 87.8% of true hamming<=8 "
        "pairs recovered vs 16.5% single-prefix (measured, pinned in "
        "tests).  Against 3-gram-Jaccard>=0.4 ground truth the audit "
        "measures 8000-8571 bp recall (vs 2000-3214 bp single-table) "
        "at ~5x the candidate volume; for exact-recall Jaccard dedup "
        "still use dedup_minhash_lsh (10000 bp)"
    ),
)
def dedup_simhash_multiprobe(spark: SparkSession, sf_dir: str):
    return dedup.simhash_multiprobe_pairs(
        t(spark, sf_dir, "documents"), max_hamming=8
    )


@register(
    "dedup_ngram_jaccard",
    """
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    sh AS (
      SELECT doc_id,
             CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                  ELSE list_distinct(list_transform(
                         generate_series(1, len(toks) - 2),
                         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
             END AS shingles
      FROM tok)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           len(list_intersect(a.shingles, b.shingles)) * 10000
             // (len(a.shingles) + len(b.shingles)
                 - len(list_intersect(a.shingles, b.shingles))) AS jaccard_bp
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE len(list_intersect(a.shingles, b.shingles)) * 10000
            // (len(a.shingles) + len(b.shingles)
                - len(list_intersect(a.shingles, b.shingles))) >= 4000
    """,
    tags=("dedup", "jaccard", "exact_arithmetic", "prefix_filter"),
    description=(
        "EXACT n-gram Jaccard >= 0.4 near-dup pairs (the verification "
        "tier of LSH, run standalone): distinct 3-gram shingle sets, "
        "similarity in floor basis points so both engines agree "
        "bit-for-bit.  The Spark plan is NOT all-pairs: prefix "
        "filtering (each doc indexes only its n - ceil(0.4n) + 1 "
        "rarest shingles; any qualifying pair must share a prefix "
        "element — smallest-common-element lemma) turns the n²/2 "
        "theta join into a narrow equi-join + verify, while the "
        "oracle's filter-free all-pairs join independently proves the "
        "filter lossless cross-engine.  480 s -> ~2 s at sf0.1"
    ),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str):
    return dedup.jaccard_pairs_exact(
        dedup.shingles(t(spark, sf_dir, "documents"), n=3).select("doc_id", "shingles"),
        threshold_bp=4000,
    )


@register(
    "dedup_lsh_recall_audit",
    None,  # self-auditing: approximate tiers measured against the
    # exact all-pairs tier inside one plan — rows-only
    tags=("dedup", "lsh", "minhash", "simhash", "recall", "audit"),
    description=(
        "text near-dup recall self-audit (the r02 verdict's missing "
        "twin of similarity_ivf_recall_audit): MinHash-LSH (32 "
        "hashes, 8 bands, verify at jaccard>=0.4) and SimHash "
        "(16-bit prefix buckets, hamming<=8) each scored against the "
        "exact all-pairs 3-gram-Jaccard>=0.4 ground truth on the "
        "same corpus slice (plus the rotation-table multiprobe tier: "
        "8000-8571 bp vs single-table 2000-3214 bp) — one row per "
        "method: (method, "
        "n_truth, n_found, n_hit, recall_bp).  MinHash's verify tier "
        "makes its precision exact by construction, so recall is THE "
        "number to monitor; SimHash recall is reported against the "
        "Jaccard truth it approximates.  Measured at defaults: "
        "minhash_lsh 10000 bp at sf0.001 AND sf0.01 (banding loses "
        "nothing on the fixture's mutated-clone pairs); simhash "
        "3214 bp / 2000 bp with ~100x extra candidates — an honest "
        "readout that 64-bit token-level SimHash is a WEAK proxy for "
        "3-gram Jaccard (it hashes unigram profiles, so word-order "
        "mutations that break shingles leave it unmoved and common-"
        "word overlap floods its buckets).  Use MinHash-LSH when the "
        "dedup criterion is shingle Jaccard; SimHash earns its keep "
        "only for bag-of-words near-identity.  Ground truth is the "
        "exact prefix-filtered Jaccard join (lossless, corpus-safe) — "
        "the audit no longer needs a validation-slice guard"
    ),
)
def dedup_lsh_recall_audit(spark: SparkSession, sf_dir: str):
    docs = t(spark, sf_dir, "documents")
    # Ground truth is the EXACT prefix-filtered Jaccard join (itself
    # proven lossless against the brute-force oracle by the
    # dedup_ngram_jaccard registry entry) — the audit no longer pays
    # an n²/2 theta join for its truth set (496 s -> ~3 s at sf0.1).
    # the truth PAIR LIST feeds one full_outer join PER METHOD — three
    # consumers of the same frame in one plan, and Catalyst performs
    # no CSE across join branches, so without a pin the whole
    # prefix-filtered candidates+verify pipeline ran three times per
    # audit (r11; §5 cache what is reused).  The pair list itself is
    # tiny (true near-dup pairs); the leaf-sum guard unpins at corpus
    # scale, where each consumer recomputes — linear extra work, no
    # storage thrash.
    truth = pin_shared(
        dedup.jaccard_pairs_exact(
            dedup.shingles(docs, n=3).select("doc_id", "shingles"),
            threshold_bp=4000,
        ).select("doc_a", "doc_b"),
        tag="lsh_audit_truth",
    )
    methods = [
        (
            "minhash_lsh",
            dedup.minhash_lsh_pairs(docs, jaccard_threshold=0.4).select(
                "doc_a", "doc_b"
            ),
        ),
        (
            "simhash",
            dedup.simhash_near_dup_pairs(docs, max_hamming=8).select(
                "doc_a", "doc_b"
            ),
        ),
        (
            "simhash_multiprobe",
            dedup.simhash_multiprobe_pairs(docs, max_hamming=8).select(
                "doc_a", "doc_b"
            ),
        ),
    ]
    parts = []
    for method, found in methods:
        joined = truth.select(
            "doc_a", "doc_b", F.lit(1).alias("in_t")
        ).join(
            found.select("doc_a", "doc_b", F.lit(1).alias("in_f")),
            ["doc_a", "doc_b"],
            "full_outer",
        )
        parts.append(
            joined.agg(
                F.sum("in_t").alias("n_truth"),
                F.sum("in_f").alias("n_found"),
                F.sum(
                    F.when(F.col("in_t").isNotNull() & F.col("in_f").isNotNull(), 1)
                ).alias("n_hit"),
            ).select(
                F.lit(method).alias("method"),
                F.coalesce("n_truth", F.lit(0)).cast("long").alias("n_truth"),
                F.coalesce("n_found", F.lit(0)).cast("long").alias("n_found"),
                F.coalesce("n_hit", F.lit(0)).cast("long").alias("n_hit"),
                F.expr(
                    "CASE WHEN coalesce(n_truth, 0) = 0 THEN 10000 "
                    "ELSE coalesce(n_hit, 0) * 10000 div n_truth END"
                ).cast("long").alias("recall_bp"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("method")


# ----------------------------------------------------------------- #
# text analysis                                                     #
# ----------------------------------------------------------------- #

_STOP_EN_SQL = "['the','a','of','and','to','in']"


@register(
    "text_token_stats",
    f"""
    WITH d AS (SELECT doc_id, text, string_split(text, ' ') AS toks
              FROM documents WHERE text IS NOT NULL)
    SELECT CAST(doc_id AS BIGINT)                       AS doc_id,
           CAST(len(toks) AS BIGINT)                    AS n_tokens,
           CAST(len(list_distinct(toks)) AS BIGINT)     AS n_distinct,
           round(len(list_distinct(toks)) / len(toks), 4) AS distinct_ratio,
           round((length(text) - (len(toks) - 1)) / len(toks), 4) AS avg_token_len,
           round(len(list_filter(toks, x -> list_contains({_STOP_EN_SQL}, x))) / len(toks), 4)
                                                        AS stopword_ratio
    FROM d
    """,
    tags=("text",),
    description="token counting + lexical stats (quality-filter features)",
)
def text_token_stats(spark: SparkSession, sf_dir: str):
    return with_token_stats(t_nonnull(spark, sf_dir, "documents", "text")).select(
        "doc_id", "n_tokens", "n_distinct", "distinct_ratio", "avg_token_len", "stopword_ratio"
    )


@register(
    "text_quality_score",
    f"""
    WITH d AS (SELECT doc_id, text, string_split(text, ' ') AS toks
              FROM documents WHERE text IS NOT NULL),
    s AS (
      SELECT doc_id,
             len(toks)                                      AS n_tokens,
             round(len(list_distinct(toks)) / len(toks), 4) AS dr,
             round(len(list_filter(toks, x -> list_contains({_STOP_EN_SQL}, x))) / len(toks), 4)
                                                            AS sr
      FROM d)
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           round((CASE WHEN n_tokens BETWEEN 20 AND 200 THEN 1.0 ELSE 0.5 END
                  + least(dr * 2, 1.0)
                  + CASE WHEN sr > 0 THEN 1.0 ELSE 0.0 END) / 3, 4) AS quality_score
    FROM s
    """,
    tags=("text", "quality"),
    description="composite C4/Gopher-style quality score (length band + diversity + stopword presence)",
)
def text_quality_score(spark: SparkSession, sf_dir: str):
    from sfs3_kinesis_spark.operators.text import with_quality_score

    return with_quality_score(t_nonnull(spark, sf_dir, "documents", "text")).select(
        "doc_id", "n_tokens", "quality_score"
    )


@register(
    "text_lang_id",
    f"""
    WITH d AS (SELECT string_split(text, ' ') AS toks FROM documents),
    scored AS (
      SELECT len(list_filter(toks, x -> list_contains({_STOP_EN_SQL}, x)))                    AS n_en,
             len(list_filter(toks, x -> list_contains(['el','la','de','que','y','los'], x)))  AS n_es,
             len(list_filter(toks, x -> list_contains(['der','die','und','das','ist','nicht'], x))) AS n_de
      FROM d)
    SELECT CASE WHEN n_en >= n_es AND n_en >= n_de AND n_en > 0 THEN 'en'
                WHEN n_es >= n_de AND n_es > 0 THEN 'es'
                WHEN n_de > 0 THEN 'de'
                ELSE 'und' END AS detected_lang,
           count(*) AS n_docs
    FROM scored GROUP BY 1
    """,
    tags=("text", "lang_id"),
    description="stopword-vote language-ID heuristic, counts per detected language",
)
def text_lang_id(spark: SparkSession, sf_dir: str):
    return (
        with_lang_id(t(spark, sf_dir, "documents"))
        .groupBy("detected_lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


# ----------------------------------------------------------------- #
# similarity search                                                 #
# ----------------------------------------------------------------- #


@register(
    "similarity_topk",
    """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
    c AS (SELECT vec_id AS cand_id, v FROM e WHERE vec_id >= 5),
    scored AS (
      SELECT query_id, cand_id, list_cosine_similarity(v, qv) AS cos FROM c, q)
    SELECT query_id, cand_id,
           CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS BIGINT) AS rnk,
           round(cos, 4) AS cosine
    FROM scored
    QUALIFY rnk <= 10
    """,
    tags=("similarity", "topk"),
    description="brute-force cosine top-10 for 5 query vectors (ANN correctness baseline)",
)
def similarity_topk(spark: SparkSession, sf_dir: str):
    e = t(spark, sf_dir, "embeddings")
    return similarity.brute_force_topk(
        e.filter(F.col("vec_id") >= 5), e.filter(F.col("vec_id") < 5), k=10
    )


@register(
    "similarity_pairs",
    """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_cosine_similarity(a.v, b.v), 4) AS cosine
    FROM e a JOIN e b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.v, b.v) > 0.35
    """,
    tags=("similarity", "neardup"),
    description="embedding-cosine near-dup pairs above threshold (exact tier)",
)
def similarity_pairs(spark: SparkSession, sf_dir: str):
    return similarity.cosine_pairs_above(t(spark, sf_dir, "embeddings"), threshold=0.35)


@register(
    "similarity_ivf_topk",
    """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
    c AS (SELECT vec_id AS cand_id, v FROM e WHERE vec_id >= 5),
    scored AS (
      SELECT query_id, cand_id, list_cosine_similarity(v, qv) AS cos FROM c, q)
    SELECT query_id, cand_id,
           CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cand_id) AS BIGINT) AS rnk,
           round(cos, 4) AS cosine
    FROM scored
    QUALIFY rnk <= 10
    """,
    tags=("similarity", "topk", "ivf"),
    description=(
        "IVF top-k with n_probe=n_centroids (exhaustive probing == exact, "
        "so the oracle verifies the cell-assignment + probe-join plan "
        "value-exactly; production sets n_probe < n_centroids for the "
        "|probed cells| scan cost)"
    ),
)
def similarity_ivf_topk(spark: SparkSession, sf_dir: str):
    e = t(spark, sf_dir, "embeddings")
    return similarity.ivf_topk(
        e.filter(F.col("vec_id") >= 5),
        e.filter(F.col("vec_id") < 5),
        k=10,
        n_centroids=8,
        n_probe=8,
    )


@register(
    "similarity_lsh_pairs",
    None,  # LSH pruning (approximate recall) has no SQL-exact oracle
    tags=("similarity", "lsh"),
    description="random-hyperplane LSH bucketed near-dup pairs (100 TB scale path)",
)
def similarity_lsh_pairs(spark: SparkSession, sf_dir: str):
    return similarity.lsh_bucketed_pairs(t(spark, sf_dir, "embeddings"), threshold=0.35, n_planes=8)


# ----------------------------------------------------------------- #
# multimodal                                                        #
# ----------------------------------------------------------------- #


@register(
    "multimodal_metadata",
    """
    SELECT CAST(doc_id AS BIGINT)                AS media_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
           sha256(text)                          AS sha_256,
           'text'                                AS media_type
    FROM documents
    """,
    tags=("multimodal",),
    description="opaque-binary metadata extraction (byte length + content hash)",
)
def multimodal_metadata(spark: SparkSession, sf_dir: str):
    from sfs3_kinesis_spark.operators.multimodal import documents_as_media, with_binary_metadata

    media = with_binary_metadata(documents_as_media(t(spark, sf_dir, "documents")))
    return media.select(
        "media_id", "byte_len", F.col("sha256").alias("sha_256"), "media_type"
    )


@register(
    "multimodal_frame_sample",
    """
    SELECT CAST(doc_id AS BIGINT) AS media_id,
           CAST(i AS INTEGER)     AS frame_no,
           CAST(least(256, octet_length(encode(text)) - i * 256) AS BIGINT) AS frame_len
    FROM documents,
         unnest(range(0, least(octet_length(encode(text)) // 256, 15) + 1)) AS u(i)
    WHERE text IS NOT NULL
    """,
    tags=("multimodal", "frames"),
    description=(
        "fixed-stride frame sampling over opaque payload bytes "
        "(keyframe-extraction stand-in; 1 row in -> <=16 rows out)"
    ),
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str):
    from sfs3_kinesis_spark.operators.multimodal import documents_as_media, sample_frames

    frames = sample_frames(
        documents_as_media(t_nonnull(spark, sf_dir, "documents", "text"))
    )
    return frames.select("media_id", "frame_no", "frame_len")


@register(
    "multimodal_features",
    None,  # mapInPandas feature extraction — deterministic fake codec,
    # not expressible in SQL; rows-only check
    tags=("multimodal", "pandas_udf"),
    description=(
        "decode+featurize via mapInPandas Arrow batches (STUB codec — "
        "real plumbing: schema, batching, no driver collect)"
    ),
)
def multimodal_features(spark: SparkSession, sf_dir: str):
    from sfs3_kinesis_spark.operators.multimodal import decode_and_featurize, documents_as_media

    feats = decode_and_featurize(documents_as_media(t(spark, sf_dir, "documents")))
    return feats.select(
        "media_id",
        F.round(F.expr("aggregate(features, 0D, (a, x) -> a + x)"), 4).alias("feat_sum"),
        F.round(F.array_max("features"), 4).alias("feat_max"),
    )


@register(
    "scalar_array_embeddings",
    """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
    SELECT vec_id,
           CAST(len(v) AS INTEGER)                             AS dim,
           round(list_sum(v), 4)                               AS v_sum,
           round(list_max(v), 4)                               AS v_max,
           round(list_min(v), 4)                               AS v_min,
           round(sqrt(list_sum(list_transform(v, x -> x * x))), 4) AS l2_norm,
           round(list_sum(v[1:3]), 4)                          AS head3_sum
    FROM e
    """,
    tags=("scalar", "array"),
    description="array function family over the embedding column (size/agg/minmax/slice)",
)
def scalar_array_embeddings(spark: SparkSession, sf_dir: str):
    e = t(spark, sf_dir, "embeddings").withColumn("v", F.col("embedding").cast("array<double>"))
    return e.select(
        "vec_id",
        F.size("v").alias("dim"),
        F.round(F.expr("aggregate(v, 0D, (a, x) -> a + x)"), 4).alias("v_sum"),
        F.round(F.array_max("v"), 4).alias("v_max"),
        F.round(F.array_min("v"), 4).alias("v_min"),
        F.round(F.sqrt(F.expr("aggregate(v, 0D, (a, x) -> a + x * x)")), 4).alias("l2_norm"),
        F.round(F.expr("aggregate(slice(v, 1, 3), 0D, (a, x) -> a + x)"), 4).alias("head3_sum"),
    )


# ----------------------------------------------------------------- #
# approximate aggregates (rows-only; sketch values are engine-specific)
# ----------------------------------------------------------------- #


@register(
    "agg_approx_distinct",
    None,
    tags=("agg", "approx"),
    description="HyperLogLog++ approximate distinct (sketch — engine-specific values)",
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str):
    li = t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey").alias("approx_parts"),
        F.approx_count_distinct("l_suppkey").alias("approx_supps"),
    )


@register(
    "dedup_cluster_assign",
    None,  # xxhash64-based pairs: engine-specific, rows-only check
    tags=("dedup", "clustering", "iterative"),
    description=(
        "near-dup clusters via distributed connected components over "
        "the MinHash-LSH pair graph (iterative min-label propagation; "
        "the step that turns pairwise evidence into keep/delete "
        "decisions without over-deleting on non-transitive similarity)"
    ),
)
def dedup_cluster_assign(spark: SparkSession, sf_dir: str):
    docs = t(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(docs)
    return dedup.dedup_clusters(docs, pairs)


@register(
    "text_tfidf",
    """
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    t AS (SELECT doc_id, len(toks) AS n_toks, unnest(toks) AS term FROM d),
    tc AS (SELECT doc_id, n_toks, term, count(*) AS tc FROM t GROUP BY 1, 2, 3),
    df AS (SELECT term, count(*) AS df FROM tc GROUP BY 1),
    n AS (SELECT count(*) AS n_docs FROM documents)
    SELECT tc.doc_id,
           tc.term,
           CAST(tc.tc AS BIGINT) AS term_count,
           CAST(df.df AS BIGINT) AS doc_freq,
           CAST(floor(10000.0 * tc.tc * (n.n_docs + 1) / (tc.n_toks * (df.df + 1)))
                AS BIGINT)       AS tfidf_bp
    FROM tc JOIN df USING (term) CROSS JOIN n
    """,
    tags=("text", "tfidf", "corpus_stats"),
    description=(
        "TF-IDF: the corpus-statistic join pattern — explode terms, "
        "aggregate document frequency, broadcast the (small) term table "
        "and the 1-row corpus size back onto per-doc counts; idf kept in "
        "exact integer arithmetic (basis points) so both engines agree "
        "bit-for-bit (ln() is not cross-engine stable at the last ulp)"
    ),
)
def text_tfidf(spark: SparkSession, sf_dir: str):
    docs = t(spark, sf_dir, "documents")
    d = docs.select("doc_id", F.split("text", " ").alias("toks"))
    terms = d.select(
        "doc_id", F.size("toks").alias("n_toks"), F.explode("toks").alias("term")
    )
    tc = terms.groupBy("doc_id", "n_toks", "term").agg(F.count(F.lit(1)).alias("tc"))
    dfreq = tc.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        tc.join(F.broadcast(dfreq), "term")
        .join(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.col("tc").cast("long").alias("term_count"),
            F.col("df").cast("long").alias("doc_freq"),
            F.floor(
                F.lit(10000.0) * F.col("tc") * (F.col("n_docs") + 1)
                / (F.col("n_toks") * (F.col("df") + 1))
            ).cast("long").alias("tfidf_bp"),
        )
    )


@register(
    "scalar_lambda_arrays",
    """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
    SELECT vec_id,
           round(list_sum(list_transform(v, x -> x * 2.0 + 1.0)), 4) AS sum_affine,
           CAST(len(list_filter(v, x -> x > 0)) AS INTEGER)          AS n_pos,
           len(list_filter(v, x -> abs(x) > 2.0)) > 0                AS has_large,
           len(list_filter(v, x -> abs(x) >= 10.0)) = 0              AS all_small,
           round(list_dot_product(v, list_reverse(v)), 4)            AS dot_rev,
           round(list_sort(v)[1] + list_sort(v)[len(v)], 4) + CAST(0 AS DOUBLE)
                                                                     AS minmax_sum,
           CAST(len(list_distinct(v)) AS INTEGER)                    AS n_distinct
    FROM e
    """,
    tags=("scalar", "array", "lambda"),
    description=(
        "higher-order (lambda) array family: transform / filter / exists "
        "/ forall / zip_with / array_sort / array_distinct — all "
        "JVM-side Catalyst lambda expressions, evaluated left-to-right "
        "per row so float folds are bit-identical across engines (the "
        "oracle spells exists/forall as list_filter cardinalities and "
        "zip_with as list_dot_product)"
    ),
)
def scalar_lambda_arrays(spark: SparkSession, sf_dir: str):
    e = t(spark, sf_dir, "embeddings").withColumn("v", F.col("embedding").cast("array<double>"))
    return e.select(
        "vec_id",
        F.round(F.expr("aggregate(transform(v, x -> x * 2.0D + 1.0D), 0D, (a, x) -> a + x)"), 4).alias(
            "sum_affine"
        ),
        F.size(F.filter("v", lambda x: x > 0)).alias("n_pos"),
        F.exists("v", lambda x: F.abs(x) > 2.0).alias("has_large"),
        F.forall("v", lambda x: F.abs(x) < 10.0).alias("all_small"),
        F.round(
            F.expr("aggregate(zip_with(v, reverse(v), (x, y) -> x * y), 0D, (a, x) -> a + x)"), 4
        ).alias("dot_rev"),
        # + 0.0 normalizes IEEE negative zero: DuckDB's round keeps
        # -0.0 where Spark's yields 0.0, and the driver's canonical
        # float formatting distinguishes them
        (
            F.round(
                F.element_at(F.array_sort("v"), 1)
                + F.element_at(F.array_sort("v"), F.size("v")),
                4,
            )
            + F.lit(0.0)
        ).alias("minmax_sum"),
        F.size(F.array_distinct("v")).alias("n_distinct"),
    )


@register(
    "generator_outer_mentions",
    r"""
    SELECT doc_id,
           unnest(CASE WHEN len(ms) = 0 THEN [NULL] ELSE ms END) AS mention
    FROM (SELECT doc_id, regexp_extract_all(text, '\bspark\w*') AS ms
          FROM documents WHERE text IS NOT NULL)
    """,
    tags=("generator", "outer", "text"),
    description=(
        "null-preserving generator (explode_outer): keyword mentions per "
        "document (~77% of docs match, the rest survive as a NULL row) — "
        "the outer-generator semantics a plain explode/unnest silently "
        "drops (the oracle pads empty lists with [NULL]; DuckDB string "
        "literals keep backslashes raw, Spark SQL ones are escaped)"
    ),
)
def generator_outer_mentions(spark: SparkSession, sf_dir: str):
    d = t_nonnull(spark, sf_dir, "documents", "text")
    return d.select(
        "doc_id",
        F.explode_outer(F.expr(r"regexp_extract_all(text, '\\bspark\\w*', 0)")).alias("mention"),
    )


@register(
    "dedup_decontaminate",
    """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
    grams AS (
      SELECT doc_id, array_to_string(tk[i:i+4], ' ') AS gram
      FROM (SELECT doc_id, tk, unnest(range(1, len(tk) - 3)) AS i
            FROM toks WHERE len(tk) >= 5)
    ),
    eval_g AS (SELECT DISTINCT gram FROM grams WHERE doc_id % 10 = 0),
    train_g AS (SELECT DISTINCT doc_id, gram FROM grams WHERE doc_id % 10 <> 0)
    SELECT CAST(doc_id AS BIGINT) AS doc_id, count(*) AS n_shared
    FROM train_g JOIN eval_g USING (gram)
    GROUP BY doc_id
    """,
    tags=("dedup", "decontamination", "text", "join"),
    description=(
        "benchmark decontamination: training docs sharing any 5-gram "
        "with the held-out eval slice (doc_id %% 10 == 0), with the "
        "shared-gram count — distinct grams per side, eval gram set "
        "broadcast into the probe join; the train-side explode is the "
        "only data-sized shuffle (the op every pretraining pipeline "
        "runs before shipping a corpus)"
    ),
)
def dedup_decontaminate(spark: SparkSession, sf_dir: str):
    from sfs3_kinesis_spark.operators.dedup import shingles

    d = t(spark, sf_dir, "documents").filter(F.size(F.split("text", " ")) >= 5)
    g = shingles(d, n=5, out_col="grams").select(
        "doc_id", F.explode("grams").alias("gram")
    )
    eval_g = g.filter(F.col("doc_id") % 10 == 0).select("gram").distinct()
    train_g = g.filter(F.col("doc_id") % 10 != 0).distinct()
    return (
        train_g.join(F.broadcast(eval_g), "gram")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


@register(
    "text_repetition_rate",
    """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
    g AS (
      SELECT doc_id, len(tk) - 2 AS n_grams,
             array_to_string(tk[i:i+2], ' ') AS gram
      FROM (SELECT doc_id, tk, unnest(range(1, len(tk) - 1)) AS i
            FROM toks WHERE len(tk) >= 3)
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(n_grams AS BIGINT) AS n_grams,
           CAST(10000 - (10000 * count(DISTINCT gram)) // n_grams AS BIGINT)
               AS rep_bp
    FROM g GROUP BY doc_id, n_grams
    """,
    tags=("text", "quality", "repetition"),
    description=(
        "intra-document repetition rate (Gopher-style quality signal): "
        "duplicate-3-gram fraction in basis points, kept in exact "
        "integer arithmetic (10000 - floor-div) so both engines agree "
        "bit-for-bit; distinct-gram count per doc via the zip_with "
        "shingle fold, no O(tokens^2) lambda re-evaluation"
    ),
)
def text_repetition_rate(spark: SparkSession, sf_dir: str):
    from sfs3_kinesis_spark.operators.dedup import shingles

    d = t(spark, sf_dir, "documents").filter(F.size(F.split("text", " ")) >= 3)
    sh = shingles(d, n=3, out_col="grams")
    return sh.select(
        "doc_id",
        (F.size(F.split("text", " ")) - 2).cast("long").alias("n_grams"),
        (
            F.lit(10000)
            - F.expr("(10000 * size(grams)) DIV (size(split(text, ' ')) - 2)")
        ).cast("long").alias("rep_bp"),
    )


@register(
    "similarity_quantize_int8",
    """
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    n AS (
        SELECT vec_id, v,
               sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
        FROM e
    )
    SELECT vec_id,
           CAST(list_sum(list_transform(v,
                x -> CAST(floor(127 * x / nrm) AS BIGINT))) AS BIGINT) AS code_sum,
           CAST(len(list_filter(v, x -> abs(127 * x / nrm) >= 127)) AS BIGINT)
               AS n_saturated
    FROM n
    """,
    tags=("similarity", "quantization", "array"),
    description=(
        "int8 vector quantization (storage/ANN-prep): l2-normalize "
        "then floor-quantize each coordinate to [-127, 127] — pure "
        "per-row lambda arithmetic from identical operands, so the "
        "code checksum and saturation count are bit-identical across "
        "engines; at 100 TB this is the 4x shrink applied before "
        "vectors enter the index"
    ),
)
def similarity_quantize_int8(spark: SparkSession, sf_dir: str):
    e = t(spark, sf_dir, "embeddings").withColumn(
        "v", F.col("embedding").cast("array<double>")
    )
    n = e.withColumn(
        "nrm", F.sqrt(F.expr("aggregate(v, 0D, (a, x) -> a + x * x)"))
    )
    return n.select(
        "vec_id",
        F.expr(
            "aggregate(transform(v, x -> CAST(floor(127 * x / nrm) AS BIGINT)),"
            " 0L, (a, x) -> a + x)"
        ).alias("code_sum"),
        F.expr("CAST(size(filter(v, x -> abs(127 * x / nrm) >= 127D)) AS BIGINT)").alias(
            "n_saturated"
        ),
    )


# One shared parameter set for the Spark callable AND the DuckDB
# oracle below — they must never drift independently (ADVICE r1).
KMEANS_K = 8
KMEANS_ITERATIONS = 2
KMEANS_DIM = 64  # embeddings fixture dim; the oracle ERRORS on mismatch
KMEANS_SCALE = 10000


def _kmeans_oracle(
    k: int = KMEANS_K,
    iterations: int = KMEANS_ITERATIONS,
    dim: int = KMEANS_DIM,
    scale: int = KMEANS_SCALE,
) -> str:
    """Unrolled Lloyd iterations in ANSI SQL (exploded-coordinate
    form).  Exact integer arithmetic end-to-end — quantized grid,
    bigint distance sums, integer floor-div centroid update (the
    ``- ((s % n) + n) % n`` adjustment makes truncating division
    floor toward -inf for negative sums, matching Python ``//``
    exactly at ANY magnitude; a double-cast floor would lose
    exactness past 2^53).  The ``chk`` guard CTE makes a fixture
    dim change a hard error instead of a silently-NULL oracle."""
    sq = "(v.val - c.cval) * (v.val - c.cval)"
    blocks = [
        f"""
    chk AS (
      SELECT CASE WHEN min(len(embedding)) = {dim}
                   AND max(len(embedding)) = {dim} THEN 1
             ELSE CAST(error('embeddings dim <> {dim}') AS INT) END AS ok
      FROM embeddings),
    v AS (
      SELECT vec_id AS id, r.i AS idx,
             CAST(floor(CAST(embedding[r.i] AS DOUBLE) * {scale} + 0.5) AS BIGINT) AS val
      FROM embeddings, range(1, {dim + 1}) r(i), chk WHERE chk.ok = 1),
    seed AS (
      SELECT vec_id AS id, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell
      FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {k})),
    c0 AS (SELECT seed.cell, v.idx, v.val AS cval FROM seed JOIN v ON v.id = seed.id)"""
    ]
    for it in range(iterations):
        blocks.append(f"""
    d{it} AS (SELECT v.id, c.cell, sum({sq}) AS dist
          FROM v JOIN c{it} c ON v.idx = c.idx GROUP BY v.id, c.cell),
    a{it} AS (SELECT id, cell FROM (
            SELECT id, cell, row_number() OVER (PARTITION BY id ORDER BY dist, cell) AS rn
            FROM d{it}) s WHERE rn = 1),
    c{it + 1} AS (SELECT a{it}.cell, v.idx,
              CAST((sum(v.val) - ((sum(v.val) % count(*)) + count(*)) % count(*))
                   // count(*) AS BIGINT) AS cval
          FROM a{it} JOIN v ON v.id = a{it}.id GROUP BY a{it}.cell, v.idx)""")
    n = iterations
    blocks.append(f"""
    dF AS (SELECT v.id, c.cell, sum({sq}) AS dist
          FROM v JOIN c{n} c ON v.idx = c.idx GROUP BY v.id, c.cell),
    aF AS (SELECT id, cell, dist FROM (
            SELECT id, cell, dist, row_number() OVER (PARTITION BY id ORDER BY dist, cell) AS rn
            FROM dF) s WHERE rn = 1)""")
    return (
        "WITH" + ",".join(blocks) + """
    SELECT CAST(cell AS INT) AS cell, CAST(count(*) AS BIGINT) AS n_members,
           CAST(sum(dist) AS BIGINT) AS inertia
    FROM aF GROUP BY cell ORDER BY cell
    """
    )


@register(
    "cluster_kmeans_lloyd",
    _kmeans_oracle(),
    tags=("similarity", "clustering", "iterative", "kmeans"),
    description=(
        "distributed Lloyd's k-means (2 iterations, k=8) over the embedding "
        "column — per iteration ONE broadcast-argmin projection (no shuffle) "
        "+ ONE map-side-combined groupBy moving k*dim bigint partials, the "
        "canonical scalable shape; exact integer arithmetic (quantized grid, "
        "floor-div update) makes the iterative algorithm value-verifiable "
        "against the oracle's unrolled iterations, summation order be damned"
    ),
)
def cluster_kmeans_lloyd(spark: SparkSession, sf_dir: str):
    return similarity.kmeans_lloyd(
        t(spark, sf_dir, "embeddings"),
        k=KMEANS_K,
        iterations=KMEANS_ITERATIONS,
        scale=KMEANS_SCALE,
    )


#: BPE-ish pre-tokenizer: letter runs, digit runs, single punctuation
#: marks — the split every byte-pair tokenizer applies before merges,
#: so its match count tracks (and upper-bounds) the real BPE token
#: count far better than whitespace words do.  ASCII classes only:
#: identical semantics in Java regex (Spark) and RE2 (DuckDB).
BPE_SPLIT_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


@register(
    "text_bpe_token_count",
    f"""
    WITH d AS (
      SELECT lang,
             len(string_split(text, ' '))                    AS ws_tokens,
             len(regexp_extract_all(text, '{BPE_SPLIT_RE}')) AS bpe_tokens
      FROM documents WHERE text IS NOT NULL)
    SELECT lang,
           count(*)                                     AS n_docs,
           sum(ws_tokens)                               AS ws_tokens,
           sum(bpe_tokens)                              AS bpe_tokens,
           sum(bpe_tokens) * 10000 // sum(ws_tokens)    AS bpe_per_ws_bp
    FROM d GROUP BY lang
    """,
    tags=("text", "tokenization", "bpe", "quality"),
    description=(
        "BPE-ish token counting (context-budget estimation): per doc, "
        "regex pre-tokenizer matches (letter runs | digit runs | "
        "punctuation) alongside whitespace tokens, rolled up per "
        "language with the BPE-to-whitespace inflation ratio in floor "
        "basis points — row-local regexp_count, one aggregate, no "
        "Python; the cheap estimator pipelines use to budget context "
        "windows before paying for a real tokenizer pass"
    ),
)
def text_bpe_token_count(spark: SparkSession, sf_dir: str):
    d = t_nonnull(spark, sf_dir, "documents", "text").select(
        "lang",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("ws_tokens"),
        F.regexp_count(F.col("text"), F.lit(BPE_SPLIT_RE)).cast("long").alias("bpe_tokens"),
    )
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ws_tokens").alias("ws_tokens"),
        F.sum("bpe_tokens").alias("bpe_tokens"),
        F.expr("sum(bpe_tokens) * 10000 div sum(ws_tokens)").alias("bpe_per_ws_bp"),
    )


@register(
    "text_normalize_dedup",
    """
    WITH n AS (
      SELECT doc_id, lang, length(text) AS raw_len,
             trim(regexp_replace(regexp_replace(lower(text),
                      '[^a-z0-9 ]', '', 'g'),
                      ' +', ' ', 'g')) AS canonical
      FROM documents)
    SELECT lang,
           count(*)                                  AS n_docs,
           count(DISTINCT md5(canonical))            AS n_canonical,
           count(*) - count(DISTINCT md5(canonical)) AS n_collapsed,
           sum(raw_len) - sum(length(canonical))     AS chars_stripped
    FROM n GROUP BY lang
    """,
    tags=("text", "dedup", "normalization"),
    description=(
        "normalization-canonical dedup accounting: lowercase, strip "
        "non-alphanumerics, collapse whitespace — the canonical form "
        "that catches case/punctuation near-dups exact hashing misses; "
        "per language: docs, distinct canonical forms (via their "
        "16-byte md5 digest, so the distinct shuffle moves hashes, "
        "never document bodies), docs a canonical dedup would drop, "
        "and characters stripped (both regexp_replaces are global: "
        "Spark replaces all matches by default, DuckDB needs 'g')"
    ),
)
def text_normalize_dedup(spark: SparkSession, sf_dir: str):
    n = t(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.length("text").cast("long").alias("raw_len"),
        F.trim(
            F.regexp_replace(
                F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", ""),
                " +",
                " ",
            )
        ).alias("canonical"),
    )
    return n.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(F.md5("canonical")).alias("n_canonical"),
        (F.count(F.lit(1)) - F.countDistinct(F.md5("canonical"))).alias("n_collapsed"),
        (F.sum("raw_len") - F.sum(F.length("canonical"))).alias("chars_stripped"),
    )


@register(
    "text_pii_scrub_stats",
    """
    WITH s AS (
      SELECT source,
             length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
                 AS n_digit_chars,
             len(regexp_extract_all(text, '[0-9]{3,}')) AS n_long_runs,
             CASE WHEN regexp_matches(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')
                 THEN 1 ELSE 0 END AS has_email
      FROM documents)
    SELECT source,
           count(*)          AS n_docs,
           sum(n_digit_chars) AS digit_chars_redacted,
           sum(n_long_runs)   AS long_digit_runs,
           sum(has_email)     AS docs_with_email
    FROM s GROUP BY source
    """,
    tags=("text", "pii", "quality", "regexp"),
    description=(
        "PII scrub accounting: per source, characters a digit-"
        "redaction pass would rewrite (length delta of the global "
        "replace — the redaction itself, measured without "
        "materializing the scrubbed corpus twice), 3+-digit runs "
        "(phone/account-number shaped), and email-pattern hits — all "
        "row-local regexp work that fuses into the scan projection; "
        "the audit report a compliance scrub emits alongside the "
        "cleaned corpus"
    ),
)
def text_pii_scrub_stats(spark: SparkSession, sf_dir: str):
    s = t(spark, sf_dir, "documents").select(
        "source",
        (
            F.length("text") - F.length(F.regexp_replace(F.col("text"), "[0-9]", ""))
        ).cast("long").alias("n_digit_chars"),
        F.regexp_count(F.col("text"), F.lit("[0-9]{3,}")).cast("long").alias("n_long_runs"),
        F.when(
            F.col("text").rlike("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"), 1
        ).otherwise(0).alias("has_email"),
    )
    return s.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_digit_chars").alias("digit_chars_redacted"),
        F.sum("n_long_runs").alias("long_digit_runs"),
        F.sum("has_email").alias("docs_with_email"),
    )


@register(
    "agg_hll_partition_merge",
    None,  # sketch bytes & estimates are engine-specific — rows-only
    tags=("agg", "approx", "sketch", "hll", "incremental"),
    description=(
        "HLL sketch build + merge (the incremental-distinct pattern): "
        "per-day HyperLogLog sketches of user_id built in one pass "
        "(hll_sketch_agg — Apache DataSketches, lgConfigK=14), then "
        "merged across days with hll_union_agg and estimated — at "
        "100 TB this is how daily distincts roll up to monthly "
        "without re-scanning history: sketches are tiny (≤16 KB), "
        "associative, and mergeable, so each partition ships one "
        "sketch, not its keys.  Emits per-day estimate vs exact "
        "distinct plus the merged-month row (day = NULL)"
    ),
)
def agg_hll_partition_merge(spark: SparkSession, sf_dir: str):
    e = t(spark, sf_dir, "events")
    day = F.date_trunc("day", "ts").cast("date")
    daily = e.groupBy(day.alias("day")).agg(
        F.hll_sketch_agg("user_id", 14).alias("sketch"),
        F.countDistinct("user_id").alias("exact_distinct"),
    )
    per_day = daily.select(
        "day",
        F.hll_sketch_estimate("sketch").alias("estimate"),
        "exact_distinct",
    )
    merged = daily.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("estimate"),
        F.lit(None).cast("long").alias("exact_distinct"),
    ).select(F.lit(None).cast("date").alias("day"), "estimate", "exact_distinct")
    return per_day.unionByName(merged)


@register(
    "multimodal_resize",
    None,  # mapInPandas binary-in/binary-out resize — STUB codec,
    # not SQL-expressible; rows-only check
    tags=("multimodal", "pandas_udf", "resize"),
    description=(
        "image/frame resize via mapInPandas (STUB codec — "
        "deterministic byte-stride stand-in for PIL.resize): "
        "binary-in/binary-out Arrow batches, fixed out_w*out_h "
        "payload per row, stable schema for a downstream parquet "
        "write; the thumbnailing stage of a multimodal ingest "
        "pipeline with the Spark-side plumbing fully real"
    ),
)
def multimodal_resize(spark: SparkSession, sf_dir: str):
    from sfs3_kinesis_spark.operators.multimodal import documents_as_media, resize_media

    out = resize_media(documents_as_media(t(spark, sf_dir, "documents")), out_w=32, out_h=32)
    return out.select("media_id", "out_w", "out_h", "resized_bytes")


#: shared MinHash-exact constants — embedded identically in the Spark
#: expressions and the DuckDB oracle (cross-engine hash basis: md5,
#: the one hash both engines implement bit-identically).
_MHX_M = 1_000_000_007
_MHX_HASHES = 16
_MHX_BANDS = 4
_MHX_THRESH_BP = 5000
_MHX_AB = [(2654435761 + 40503 * h, 104729 + 7919 * h) for h in range(_MHX_HASHES)]


def _mhx_min(h: int) -> str:
    """Affine minhash fn ``h`` over the PRE-HASHED int array ``hs`` —
    md5 runs once per shingle (the expensive part), the 16 affine
    re-hashes are integer-only passes over ints."""
    a, b = _MHX_AB[h]
    return f"((x % {_MHX_M}) * {a} + {b}) % {_MHX_M}"


def _mhx_sig(spark: SparkSession, sf_dir: str):
    """(doc_id, shingles, m0..m15, bands): the md5-grid signature table
    of dedup_minhash_exact, dedup_minhash_bbit and dedup_lsh_s_curve,
    pinned once for all three.  ``bands`` holds the ``_MHX_BANDS`` band
    keys md5(concat_ws(',', m_{b*r}, ..., m_{b*r+r-1})), r = 4, the
    keys of the oracle's ``bands`` CTE."""
    from sfs3_kinesis_spark.operators.dedup import shingles

    # ONE md5 pass per shingle; the 16 minhash fns re-hash ints only
    base = "CAST(conv(substr(md5(s), 1, 15), 16, 10) AS BIGINT)"
    rpb = _MHX_HASHES // _MHX_BANDS
    sh = shingles(t_nonnull(spark, sf_dir, "documents", "text"), n=3).select("doc_id", "shingles")
    sig = sh.select(
        "doc_id",
        "shingles",
        *[
            F.expr(
                f"array_min(transform(transform(shingles, s -> {base}), "
                f"x -> {_mhx_min(h)}))"
            ).alias(f"m{h}")
            for h in range(_MHX_HASHES)
        ],
    )
    band_keys = [
        "md5(concat_ws(',', "
        + ", ".join(f"CAST(m{h} AS STRING)" for h in range(b * rpb, (b + 1) * rpb))
        + "))"
        for b in range(_MHX_BANDS)
    ]
    sig = sig.withColumn("bands", F.array(*[F.expr(k) for k in band_keys]))
    return pin_shared(sig, tag="mhx_sig")


def _mhx_ctes() -> str:
    """The shared md5 shingle→signature→band→verify CTE chain, used
    by BOTH the pair oracle (dedup_minhash_exact) and the clustering
    oracle (dedup_cluster_exact) so the two can never drift."""
    base = "CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT)"
    rpb = _MHX_HASHES // _MHX_BANDS
    min_cols = ", ".join(
        f"list_min(list_transform(hs, x -> {_mhx_min(h)})) AS m{h}"
        for h in range(_MHX_HASHES)
    )
    band_selects = []
    for bnd in range(_MHX_BANDS):
        mins = ", ".join(
            f"CAST(m{h} AS VARCHAR)" for h in range(bnd * rpb, (bnd + 1) * rpb)
        )
        band_selects.append(
            f"SELECT doc_id, {bnd} AS band_id, md5(concat_ws(',', {mins})) AS band_key FROM sig"
        )
    bands = " UNION ALL ".join(band_selects)
    return f"""tok AS (
      SELECT doc_id, string_split(text, ' ') AS toks
      FROM documents WHERE text IS NOT NULL),
    sh AS (
      SELECT doc_id,
             CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                  ELSE list_distinct(list_transform(
                         generate_series(1, len(toks) - 2),
                         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
             END AS shingles
      FROM tok),
    hashed AS (
      SELECT doc_id, shingles,
             list_transform(shingles, s -> {base}) AS hs
      FROM sh),
    sig AS (
      SELECT doc_id, shingles, {min_cols} FROM hashed),
    bands AS ({bands}),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band_id = b.band_id AND a.band_key = b.band_key
       AND a.doc_id < b.doc_id),
    verified AS (
      SELECT c.doc_a, c.doc_b,
             len(list_intersect(sa.shingles, sb.shingles)) AS inter,
             len(sa.shingles) + len(sb.shingles)
               - len(list_intersect(sa.shingles, sb.shingles)) AS uni
      FROM cand c
      JOIN sh sa ON sa.doc_id = c.doc_a
      JOIN sh sb ON sb.doc_id = c.doc_b)"""


def _mhx_oracle() -> str:
    return f"""
    WITH {_mhx_ctes()}
    SELECT doc_a, doc_b, inter * 10000 // uni AS jaccard_bp
    FROM verified WHERE inter * 10000 // uni >= {_MHX_THRESH_BP}
    """


@register(
    "dedup_minhash_exact",
    _mhx_oracle(),
    tags=("dedup", "lsh", "minhash", "exact_arithmetic"),
    description=(
        "oracle-exact MinHash+LSH near-dup pairs: the same shingle→"
        "signature→band-bucket→Jaccard-verify plan as the xxhash64 "
        "fast path (dedup_minhash_lsh), but hashed on md5 — the one "
        "hash both engines implement bit-identically — lifted to a "
        "shared integer grid (hex-prefix → BIGINT, 16 affine minhash "
        "fns, 4 bands), so candidate generation AND the final "
        "integer-basis-point Jaccard are value-verified end to end; "
        "the variant that proves the LSH plan itself, not just its "
        "row count"
    ),
)
def dedup_minhash_exact(spark: SparkSession, sf_dir: str):
    sig = _mhx_sig(spark, sf_dir)
    cand = dedup.band_candidates(sig)
    sa = sig.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sa"))
    sb = sig.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sb"))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.expr("size(array_intersect(sa, sb))").alias("inter"),
            F.expr("size(sa) + size(sb) - size(array_intersect(sa, sb))").alias("uni"),
        )
        .select("doc_a", "doc_b", F.expr("inter * 10000 div uni").alias("jaccard_bp"))
        .filter(F.col("jaccard_bp") >= _MHX_THRESH_BP)
    )


def _cc_ctes() -> str:
    """Recursive transitive-closure CTE chain over the md5-exact
    near-dup pair graph (appended after ``_mhx_ctes()``): every
    (node, label) pair where label's node reaches it, then min(label)
    per node — the SQL fixpoint twin of the engine's iterative
    min-label propagation (``operators/dedup.py:
    connected_components``).  Quadratic in cluster size, fine at
    oracle scale; shared by the clustering AND leakage-safe-split
    oracles so they can never drift."""
    return f"""prs AS (
      SELECT doc_a, doc_b FROM verified
      WHERE inter * 10000 // uni >= {_MHX_THRESH_BP}),
    und AS (
      SELECT doc_a AS u, doc_b AS v FROM prs
      UNION SELECT doc_b AS u, doc_a AS v FROM prs),
    reach AS (
      SELECT u, u AS lbl FROM (SELECT DISTINCT u FROM und)
      UNION
      SELECT e.v AS u, r.lbl FROM reach r JOIN und e ON e.u = r.u),
    comp AS (SELECT u AS doc_id, min(lbl) AS cluster_rep FROM reach GROUP BY u)"""


def _cluster_exact_oracle() -> str:
    return f"""
    WITH RECURSIVE {_mhx_ctes()},
    {_cc_ctes()},
    sz AS (SELECT cluster_rep, count(*) AS n FROM comp GROUP BY cluster_rep)
    SELECT comp.doc_id, comp.cluster_rep,
           CAST(sz.n AS BIGINT) AS cluster_size,
           CAST(CASE WHEN comp.doc_id = comp.cluster_rep THEN 1 ELSE 0 END
                AS BIGINT) AS is_keeper
    FROM comp JOIN sz USING (cluster_rep)
    """


@register(
    "dedup_cluster_exact",
    _cluster_exact_oracle(),
    tags=("dedup", "clustering", "connected_components", "iterative", "exact_arithmetic"),
    description=(
        "ORACLE-EXACT near-dup clustering: adaptive connected "
        "components (operators/dedup.py:connected_components — "
        "bounded edge lists solve driver-side by min-representative "
        "union-find, the broadcast-join analog; larger graphs run "
        "the distributed min-label + pointer-jump loop with a "
        "scalar-only convergence check) over the md5 MinHash+LSH "
        "pair graph, value-verified against a DuckDB RECURSIVE "
        "transitive-closure fixpoint.  Proves the clustering "
        "algorithm itself — cluster membership, representative "
        "election (min doc_id), sizes, and keeper flags — not just "
        "its row count (the xxhash64 fast path dedup_cluster_assign "
        "stays rows-only by construction)"
    ),
)
def dedup_cluster_exact(spark: SparkSession, sf_dir: str):
    from sfs3_kinesis_spark.operators.dedup import connected_components

    pairs = dedup_minhash_exact(spark, sf_dir).select("doc_a", "doc_b")
    comp = connected_components(pairs, "doc_a", "doc_b")
    sz = comp.groupBy("component").agg(F.count(F.lit(1)).alias("n"))
    return comp.join(F.broadcast(sz), "component").select(
        F.col("vertex").alias("doc_id"),
        F.col("component").alias("cluster_rep"),
        F.col("n").cast("long").alias("cluster_size"),
        F.when(F.col("vertex") == F.col("component"), 1)
        .otherwise(0)
        .cast("long")
        .alias("is_keeper"),
    )


_SLX_PLANES = 8
_SLX_DIM = 64
_SLX_THRESH = 0.35


def _slx_bit(b: int, dialect: str) -> str:
    """Sign bit of the dot product with deterministic Rademacher
    plane ``b``: coefficient for dim i is +1/-1 by the parity of an
    md5 nibble of (b, i) — the same plane matrix materializes on both
    engines from pure SQL, no stored randomness.  The fold visits
    dims left to right on both engines, so the double sum — and
    therefore the sign — is bit-identical."""
    if dialect == "spark":
        par = f"CAST(conv(substr(md5(concat('{b}', '-', CAST(i AS STRING))), 1, 2), 16, 10) AS INT) % 2"
        return (
            f"CASE WHEN aggregate(sequence(1, {_SLX_DIM}), 0D, "
            f"(acc, i) -> acc + CASE WHEN {par} = 1 THEN element_at(v, i) "
            f"ELSE -element_at(v, i) END) > 0D THEN 1 ELSE 0 END"
        )
    par = f"CAST(('0x' || substr(md5(concat('{b}', '-', CAST(i AS VARCHAR))), 1, 2)) AS INT) % 2"
    return (
        f"CASE WHEN list_sum(list_transform(generate_series(1, {_SLX_DIM}), "
        f"i -> CASE WHEN {par} = 1 THEN v[i] ELSE -v[i] END)) > 0 THEN 1 ELSE 0 END"
    )


def _slx_sig(dialect: str) -> str:
    return " + ".join(f"({_slx_bit(b, dialect)} * {1 << b})" for b in range(_SLX_PLANES))


@register(
    "similarity_lsh_exact",
    f"""
    WITH e AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      FROM embeddings),
    sig AS (
      SELECT vec_id, v,
             {_slx_sig('duckdb')} AS sig,
             sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
      FROM e)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) AS cosine
    FROM sig a JOIN sig b ON a.sig = b.sig AND a.vec_id < b.vec_id
    WHERE round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) > {_SLX_THRESH}
    """,
    tags=("similarity", "lsh", "exact_arithmetic"),
    description=(
        "oracle-exact random-hyperplane LSH near-dup pairs: the plane "
        "matrix is deterministic Rademacher (+1/-1 by md5-nibble "
        "parity of (plane, dim)) materialized from pure SQL on both "
        "engines, the sign-bit fold visits dimensions in one fixed "
        "order so signatures agree bit-for-bit, candidates meet only "
        "inside equal-signature buckets, and survivors are exactly "
        "cosine-verified — the value-verified twin of the "
        "seeded-numpy fast path (similarity_lsh_pairs)"
    ),
)
def similarity_lsh_exact(spark: SparkSession, sf_dir: str):
    e = t(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v")
    )
    sig = e.select(
        "vec_id",
        "v",
        F.expr(_slx_sig("spark")).alias("sig"),
        F.expr("sqrt(aggregate(transform(v, x -> x * x), 0D, (acc, x) -> acc + x))").alias("nrm"),
    )
    a = sig.select(F.col("vec_id").alias("id_a"), F.col("v").alias("va"),
                   F.col("sig").alias("sa"), F.col("nrm").alias("na"))
    b = sig.select(F.col("vec_id").alias("id_b"), F.col("v").alias("vb"),
                   F.col("sig").alias("sb"), F.col("nrm").alias("nb"))
    cos = "aggregate(zip_with(va, vb, (x, y) -> x * y), 0D, (acc, x) -> acc + x) / (na * nb)"
    return (
        a.join(b, (F.col("sa") == F.col("sb")) & (F.col("id_a") < F.col("id_b")))
        .withColumn("cosine", F.expr(f"round({cos}, 4)"))
        .filter(F.col("cosine") > _SLX_THRESH)
        .select("id_a", "id_b", "cosine")
    )


_SHX_BITS = 32
_SHX_PREFIX = 16  # bucket on the high 16 bits
_SHX_MAX_HAMMING = 3


def _shx_sig(dialect: str) -> str:
    """32-bit SimHash over the PRE-HASHED token ints ``hs``: bit i is
    the sign of the +/-1 vote sum of each token's i-th hash bit —
    pure integer arithmetic, identical on both engines."""
    if dialect == "spark":
        bit = (
            "CASE WHEN aggregate(hs, 0L, (acc, x) -> acc + "
            "(CASE WHEN (x >> {i}) & 1 = 1 THEN 1 ELSE -1 END)) >= 0L "
            "THEN 1L ELSE 0L END"
        )
    else:
        bit = (
            "CASE WHEN list_sum(list_transform(hs, x -> "
            "CASE WHEN (x >> {i}) & 1 = 1 THEN 1 ELSE -1 END)) >= 0 "
            "THEN 1 ELSE 0 END"
        )
    return " + ".join(f"(({bit.format(i=i)}) * {1 << i})" for i in range(_SHX_BITS))


@register(
    "dedup_simhash_exact",
    f"""
    WITH tok AS (
      SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
      FROM documents),
    hashed AS (
      SELECT doc_id,
             list_transform(toks, s ->
               CAST(('0x' || substr(md5(s), 1, 15)) AS BIGINT)) AS hs
      FROM tok),
    sig AS (
      SELECT doc_id, {_shx_sig('duckdb')} AS sig FROM hashed)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
    FROM sig a JOIN sig b
      ON (a.sig >> {_SHX_BITS - _SHX_PREFIX}) = (b.sig >> {_SHX_BITS - _SHX_PREFIX})
     AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sig, b.sig)) <= {_SHX_MAX_HAMMING}
    """,
    tags=("dedup", "simhash", "exact_arithmetic"),
    description=(
        "oracle-exact SimHash near-dup pairs: 32-bit signatures from "
        "md5-hashed token votes (integer +/-1 sums, so the sign — and "
        "the signature — is bit-identical across engines), candidates "
        "bucketed by the high 16 signature bits, Hamming-verified via "
        "popcount(xor); the value-verified twin of the 64-bit "
        "xxhash64 fast path (dedup_simhash), proving the "
        "bucket-join-then-verify plan itself"
    ),
)
def dedup_simhash_exact(spark: SparkSession, sf_dir: str):
    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(
            "transform(array_distinct(split(text, ' ')), "
            "s -> CAST(conv(substr(md5(s), 1, 15), 16, 10) AS BIGINT))"
        ).alias("hs"),
    )
    sig = pin_shared(d.select("doc_id", F.expr(_shx_sig("spark")).alias("sig")), tag="shx_sig")
    a = sig.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sa"))
    b = sig.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sb"))
    shift = _SHX_BITS - _SHX_PREFIX
    return (
        a.join(
            b,
            (F.expr(f"sa >> {shift}") == F.expr(f"sb >> {shift}"))
            & (F.col("doc_a") < F.col("doc_b")),
        )
        .withColumn("hamming", F.expr("CAST(bit_count(sa ^ sb) AS BIGINT)"))
        .filter(F.col("hamming") <= _SHX_MAX_HAMMING)
        .select("doc_a", "doc_b", "hamming")
    )


@register(
    "similarity_ivf_recall_audit",
    None,  # self-auditing: recall of bounded probing vs brute force,
    # both computed in the same Spark plan — rows-only
    tags=("similarity", "ivf", "recall", "ann", "audit"),
    description=(
        "IVF recall self-audit (the number an ANN deployment monitors): "
        "top-10 via IVF with n_probe=4 of 16 trained cells vs the "
        "brute-force top-10, per query vector, joined inside ONE plan "
        "— output (query_id, n_exact, n_ivf_hits, recall_bp).  At "
        "100 TB the brute-force side runs on a sampled validation "
        "slice while IVF serves traffic; the audit query's plan shape "
        "(two candidate tiers, anti-join-free set overlap via an "
        "equi-join on (query, cand)) is identical at any scale"
    ),
)
def similarity_ivf_recall_audit(spark: SparkSession, sf_dir: str):
    emb = t(spark, sf_dir, "embeddings")
    queries = emb.orderBy("vec_id").limit(5)
    cents = similarity.train_ivf_centroids(emb, k=16, iterations=2)
    approx = similarity.ivf_topk(
        emb, queries, k=10, n_centroids=16, n_probe=4, centroids=cents
    ).select(F.col("query_id").alias("q"), F.col("cand_id").alias("c"))
    exact = similarity.brute_force_topk(emb, queries, k=10).select(
        F.col("query_id").alias("q"), F.col("cand_id").alias("c")
    )
    hits = exact.join(approx, ["q", "c"]).groupBy("q").agg(
        F.count(F.lit(1)).alias("n_ivf_hits")
    )
    per_q = exact.groupBy("q").agg(F.count(F.lit(1)).alias("n_exact"))
    return (
        per_q.join(hits, "q", "left")
        .select(
            F.col("q").alias("query_id"),
            "n_exact",
            F.coalesce("n_ivf_hits", F.lit(0)).alias("n_ivf_hits"),
            F.expr("coalesce(n_ivf_hits, 0) * 10000 div n_exact").alias("recall_bp"),
        )
    )


@register(
    "dedup_containment",
    """
    WITH tok AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    sh AS (
      SELECT doc_id,
             CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                  ELSE list_distinct(list_transform(
                         generate_series(1, len(toks) - 2),
                         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
             END AS shingles
      FROM tok)
    SELECT a.doc_id AS doc_contained, b.doc_id AS doc_container,
           len(list_intersect(a.shingles, b.shingles)) * 10000
             // len(a.shingles) AS containment_bp
    FROM sh a JOIN sh b ON a.doc_id <> b.doc_id
    WHERE len(list_intersect(a.shingles, b.shingles)) * 10000
            // len(a.shingles) >= 8000
    """,
    tags=("dedup", "containment", "exact_arithmetic", "prefix_filter"),
    description=(
        "asymmetric containment near-dup (partial-copy detection): "
        "|A∩B| / |A| in floor basis points — catches documents mostly "
        "CONTAINED in a larger one, which symmetric Jaccard dilutes "
        "below threshold; directional pairs (contained, container).  "
        "EXACT but not all-pairs: the contained side keeps only its "
        "n - ceil(0.8n) + 1 rarest shingles as a probe prefix, the "
        "container side is fully inverted-indexed (its size admits no "
        "bound), candidates meet in one equi-join and are verified "
        "with exact integer arithmetic; the oracle's all-pairs join "
        "proves the asymmetric filter lossless.  254 s -> ~2 s sf0.1"
    ),
)
def dedup_containment(spark: SparkSession, sf_dir: str):
    return dedup.containment_pairs_exact(
        dedup.shingles(t(spark, sf_dir, "documents"), n=3).select("doc_id", "shingles"),
        threshold_bp=8000,
    )


@register(
    "text_bigram_lm",
    """
    WITH toks AS (
        SELECT string_split(text, ' ') AS tk FROM documents
        WHERE len(string_split(text, ' ')) >= 2),
    b AS (
        SELECT tk[i] AS w1, tk[i + 1] AS w2
        FROM (SELECT tk, unnest(range(1, len(tk))) AS i FROM toks)),
    c12 AS (SELECT w1, w2, count(*) AS n12 FROM b GROUP BY w1, w2),
    c1 AS (SELECT w1, count(*) AS n1 FROM b GROUP BY w1)
    SELECT c12.w1, c12.w2,
           CAST(n12 AS BIGINT) AS n12,
           CAST(n1 AS BIGINT) AS n1,
           CAST((10000 * n12) // n1 AS BIGINT) AS cond_bp
    FROM c12 JOIN c1 ON c12.w1 = c1.w1
    ORDER BY n12 DESC, c12.w1, c12.w2 LIMIT 50
    """,
    tags=("text", "ngram", "language_model", "corpus_stats", "exact_arithmetic"),
    description=(
        "bigram language-model corpus statistics: adjacent-token pair "
        "counts and the conditional probability p(w2|w1) in truncated "
        "basis points — the n-gram tables that power perplexity-ish "
        "quality filters and contamination heuristics.  One generator "
        "(zip_with over two shifted slices: no O(tokens²) lambda), "
        "one shuffle on the bigram key; the unigram table joins back "
        "broadcast (vocabulary-sized, not corpus-sized); top-50 with "
        "a total (n12, w1, w2) order"
    ),
)
def text_bigram_lm(spark: SparkSession, sf_dir: str):
    d = t(spark, sf_dir, "documents").select(F.split("text", " ").alias("tk")).filter(
        F.size("tk") >= 2
    )
    bi = d.select(
        F.explode(
            F.expr(
                "zip_with(slice(tk, 1, size(tk) - 1), slice(tk, 2, size(tk) - 1), "
                "(a, b) -> struct(a AS w1, b AS w2))"
            )
        ).alias("bg")
    ).select("bg.w1", "bg.w2")
    c12 = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n12"))
    c1 = bi.groupBy("w1").agg(F.count(F.lit(1)).alias("n1"))
    return (
        c12.join(F.broadcast(c1), "w1")
        .select(
            "w1",
            "w2",
            F.col("n12").cast("long").alias("n12"),
            F.col("n1").cast("long").alias("n1"),
            F.expr("CAST((10000 * n12) div n1 AS BIGINT)").alias("cond_bp"),
        )
        .orderBy(F.desc("n12"), "w1", "w2")
        .limit(50)
    )


def _semantic_dedup_oracle(
    k: int = 32,
    threshold: float = 0.35,
    dim: int = KMEANS_DIM,
    scale: int = KMEANS_SCALE,
) -> str:
    """Cell assignment unrolled in ANSI SQL (exploded-coordinate
    form, same integer grid as the k-means oracle — the chk CTE
    errors on a fixture dim change instead of silently NULLing), then
    within-cell cosine pairs.  Independent formulation: the oracle
    assigns cells via a full |v| x k distance aggregate + argmin
    row_number, where Spark uses a broadcast array argmin
    projection."""
    return f"""
    WITH chk AS (
      SELECT CASE WHEN min(len(embedding)) = {dim}
                   AND max(len(embedding)) = {dim} THEN 1
             ELSE CAST(error('embeddings dim <> {dim}') AS INT) END AS ok
      FROM embeddings),
    v AS (
      SELECT vec_id AS id, r.i AS idx,
             CAST(floor(CAST(embedding[r.i] AS DOUBLE) * {scale} + 0.5) AS BIGINT) AS val
      FROM embeddings, range(1, {dim + 1}) r(i), chk WHERE chk.ok = 1),
    seed AS (
      SELECT vec_id AS id, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell
      FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {k})),
    c0 AS (SELECT seed.cell, v.idx, v.val AS cval FROM seed JOIN v ON v.id = seed.id),
    d AS (SELECT v.id, c.cell, sum((v.val - c.cval) * (v.val - c.cval)) AS dist
          FROM v JOIN c0 c ON v.idx = c.idx GROUP BY v.id, c.cell),
    a AS (SELECT id, cell FROM (
            SELECT id, cell, row_number() OVER (PARTITION BY id ORDER BY dist, cell) AS rn
            FROM d) s WHERE rn = 1),
    e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings)
    SELECT CAST(aa.cell AS INT) AS cell, x.vec_id AS id_a, y.vec_id AS id_b,
           round(list_cosine_similarity(x.vv, y.vv), 4) AS cosine
    FROM a aa JOIN a ab ON aa.cell = ab.cell AND aa.id < ab.id
    JOIN e x ON x.vec_id = aa.id JOIN e y ON y.vec_id = ab.id
    WHERE list_cosine_similarity(x.vv, y.vv) > {threshold}
    """


@register(
    "dedup_semantic_cells",
    _semantic_dedup_oracle(),
    tags=("dedup", "similarity", "semantic", "ivf", "neardup"),
    description=(
        "SemDeDup-style semantic dedup (Abbas et al. 2023, public): "
        "corpus partitioned into 32 cells by nearest seed centroid on "
        "the exact integer grid (seeds = k lowest-id vectors, zero "
        "Lloyd iterations — deterministic AND oracle-reproducible), "
        "cosine pairs scored ONLY within a cell, so the comparison "
        "count drops from O(n²) to Σ|cell|² — the pruning that makes "
        "embedding dedup feasible on a pretraining corpus.  "
        "Assignment is a broadcast-argmin projection (no shuffle); "
        "the pair join shuffles once on cell; production swaps seeds "
        "for trained IVF centroids, which moves recall, never pair "
        "correctness.  k=32 is PINNED here for oracle "
        "reproducibility at fixture scale; the operator DEFAULT "
        "(k=None) derives k from the corpus so pair volume stays "
        "linear — the fixed-k form is quadratic by semantics "
        "(r09 verdict next-round #1)"
    ),
)
def dedup_semantic_cells(spark: SparkSession, sf_dir: str):
    # explicit k: the DuckDB oracle hard-codes the same 32 seeds, and
    # fixture determinism requires the pinned value.  Scale deployments
    # use the operator's adaptive default (k=None).
    return similarity.semantic_dedup_pairs(
        t(spark, sf_dir, "embeddings"),
        k=32,
        threshold=0.35,
        scale=KMEANS_SCALE,
    )


@register(
    "text_ngram_novelty",
    """
    WITH d AS (
        SELECT doc_id, string_split(text, ' ') AS tk FROM documents
        WHERE len(string_split(text, ' ')) >= 3),
    sh AS (
        SELECT doc_id,
               list_distinct([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
                              FOR i IN range(1, len(tk) - 1)]) AS s
        FROM d),
    ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
    fs AS (SELECT g, min(doc_id) AS first_doc FROM ex GROUP BY g)
    SELECT ex.doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN fs.first_doc = ex.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           CAST((10000 * sum(CASE WHEN fs.first_doc = ex.doc_id THEN 1 ELSE 0 END))
                // count(*) AS BIGINT) AS novel_bp
    FROM ex JOIN fs ON ex.g = fs.g
    GROUP BY ex.doc_id
    """,
    tags=("text", "ngram", "novelty", "quality", "dedup_adjacent", "exact_arithmetic"),
    description=(
        "corpus n-gram novelty score: per document, the fraction of "
        "its distinct 3-gram shingles whose FIRST corpus occurrence "
        "(min doc_id) is this document — the cheap boilerplate/"
        "duplication signal curation pipelines rank on (a doc that "
        "introduces nothing is a near-dup or template), and the "
        "additive complement of the decontamination overlap check.  "
        "One explode + one first-seen aggregate on the gram key + the "
        "join-back sharing that same gram shuffle; basis points in "
        "integer floor-div so both engines agree bit-for-bit"
    ),
)
def text_ngram_novelty(spark: SparkSession, sf_dir: str):
    from sfs3_kinesis_spark.operators.dedup import shingles

    d = t(spark, sf_dir, "documents").filter(F.size(F.split("text", " ")) >= 3)
    sh = shingles(d, n=3, out_col="s")
    ex = sh.select("doc_id", F.explode("s").alias("g"))
    fs = ex.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    novel = F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    return (
        ex.join(fs, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum(novel).cast("long").alias("n_novel"),
            F.expr(
                "CAST((10000 * sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END))"
                " div count(*) AS BIGINT)"
            ).alias("novel_bp"),
        )
    )


@register(
    "quality_dup_rate_by_source",
    """
    WITH h AS (SELECT doc_id, source, md5(text) AS dg FROM documents),
    c AS (SELECT dg, count(*) AS n FROM h GROUP BY dg)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (WHERE c.n > 1) AS BIGINT) AS n_corpus_dup,
           CAST((10000 * count(*) FILTER (WHERE c.n > 1)) // count(*) AS BIGINT)
               AS dup_bp
    FROM h JOIN c USING (dg)
    GROUP BY source
    """,
    tags=("quality", "dedup", "provenance", "data_ops"),
    description=(
        "duplicate-rate-by-source audit: per provenance partition, "
        "the fraction of documents whose exact content digest appears "
        "more than once ANYWHERE in the corpus (cross-source "
        "duplication counts — the signal that tells a curation "
        "pipeline which ingest source to deprioritize).  Digest "
        "counts shuffle 16-byte md5s, never text; the per-source "
        "rollup joins back on the same digest partitioning"
    ),
)
def quality_dup_rate_by_source(spark: SparkSession, sf_dir: str):
    d = t(spark, sf_dir, "documents")
    h = d.select("doc_id", "source", F.md5("text").alias("dg"))
    c = h.groupBy("dg").agg(F.count(F.lit(1)).alias("n"))
    j = h.join(c, "dg")
    return j.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.count(F.when(F.col("n") > 1, 1)).cast("long").alias("n_corpus_dup"),
        F.expr(
            "CAST((10000 * count(CASE WHEN n > 1 THEN 1 END)) DIV count(1) AS BIGINT)"
        ).alias("dup_bp"),
    )


IVF_SEL_K = 8          # seed cells
IVF_SEL_TOPK = 5
IVF_SEL_QUERY_MAX = 5  # vec_id < this => query side


def _ivf_selective_oracle(
    k: int = IVF_SEL_K,
    topk: int = IVF_SEL_TOPK,
    qmax: int = IVF_SEL_QUERY_MAX,
    dim: int = KMEANS_DIM,
    scale: int = KMEANS_SCALE,
) -> str:
    """Selective IVF probe unrolled in SQL: same exploded-coordinate
    seed-cell assignment as the SemDeDup oracle (chk errors on a
    fixture dim change), then candidates ONLY from the query's own
    nearest cell, ranked by exact integer dot product."""
    return f"""
    WITH chk AS (
      SELECT CASE WHEN min(len(embedding)) = {dim}
                   AND max(len(embedding)) = {dim} THEN 1
             ELSE CAST(error('embeddings dim <> {dim}') AS INT) END AS ok
      FROM embeddings),
    v AS (
      SELECT vec_id AS id, r.i AS idx,
             CAST(floor(CAST(embedding[r.i] AS DOUBLE) * {scale} + 0.5) AS BIGINT) AS val
      FROM embeddings, range(1, {dim + 1}) r(i), chk WHERE chk.ok = 1),
    seed AS (
      SELECT vec_id AS id, CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell
      FROM (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {k})),
    c0 AS (SELECT seed.cell, v.idx, v.val AS cval FROM seed JOIN v ON v.id = seed.id),
    d AS (SELECT v.id, c.cell, sum((v.val - c.cval) * (v.val - c.cval)) AS dist
          FROM v JOIN c0 c ON v.idx = c.idx GROUP BY v.id, c.cell),
    a AS (SELECT id, cell FROM (
            SELECT id, cell, row_number() OVER (PARTITION BY id ORDER BY dist, cell) AS rn
            FROM d) s WHERE rn = 1),
    qa AS (SELECT id, cell FROM a WHERE id < {qmax}),
    ca AS (SELECT id, cell FROM a WHERE id >= {qmax}),
    dots AS (
      SELECT q.id AS query_id, c.id AS cand_id, q.cell AS cell,
             sum(vq.val * vc.val) AS dot
      FROM qa q JOIN ca c ON q.cell = c.cell
      JOIN v vq ON vq.id = q.id
      JOIN v vc ON vc.id = c.id AND vc.idx = vq.idx
      GROUP BY q.id, c.id, q.cell)
    SELECT query_id, cand_id, CAST(cell AS BIGINT) AS cell,
           CAST(row_number() OVER (PARTITION BY query_id
                                   ORDER BY dot DESC, cand_id) AS BIGINT) AS rnk,
           CAST(dot AS BIGINT) AS dot
    FROM dots
    QUALIFY rnk <= {topk}
    """


@register(
    "similarity_ivf_selective",
    _ivf_selective_oracle(),
    tags=("similarity", "ivf", "ann", "topk", "exact_arithmetic"),
    description=(
        "SELECTIVE IVF probe value-verified end to end (n_probe=1, "
        "the actual ANN pruning path — similarity_ivf_topk verifies "
        "only the exhaustive degenerate case): corpus and queries "
        "share the deterministic seed-cell map on the exact integer "
        "grid, each query scans ONLY its own nearest cell, and "
        "candidates rank by exact integer dot product so the top-%d "
        "per query is bit-stable.  Candidate scan cost is |one "
        "cell|, not |corpus| — the selectivity that makes IVF an "
        "index; the Arrow-batched argmin assignment is the same "
        "kernel k-means uses"
        % IVF_SEL_TOPK
    ),
)
def similarity_ivf_selective(spark: SparkSession, sf_dir: str):
    from sfs3_kinesis_spark.operators.similarity import _assign_cells, _quantized

    emb = t(spark, sf_dir, "embeddings")
    dfv = _quantized(emb, "embedding", "vec_id", KMEANS_SCALE)
    seeds = dfv.orderBy("id").limit(IVF_SEL_K).collect()
    cents = [(i, list(r["vi"])) for i, r in enumerate(seeds)]
    if not cents:
        return spark.createDataFrame(
            [], "query_id long, cand_id long, cell long, rnk long, dot long"
        )
    assigned = _assign_cells(dfv, cents).select("id", "vi", "cell")
    q = assigned.filter(F.col("id") < IVF_SEL_QUERY_MAX).select(
        F.col("id").alias("query_id"), F.col("vi").alias("qv"), "cell"
    )
    c = assigned.filter(F.col("id") >= IVF_SEL_QUERY_MAX).select(
        F.col("id").alias("cand_id"), F.col("vi").alias("cv"), "cell"
    )
    dots = q.join(c, "cell").select(
        "query_id",
        "cand_id",
        "cell",
        F.expr("aggregate(zip_with(qv, cv, (x, y) -> x * y), 0L, (s, x) -> s + x)").alias(
            "dot"
        ),
    )
    from pyspark.sql import Window as W

    w = W.partitionBy("query_id").orderBy(F.desc("dot"), "cand_id")
    return (
        dots.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= IVF_SEL_TOPK)
        .select(
            "query_id",
            "cand_id",
            F.col("cell").cast("long").alias("cell"),
            "rnk",
            F.col("dot").cast("long").alias("dot"),
        )
    )


def _leakage_safe_split_oracle() -> str:
    from sfs3_kinesis_spark.operators.sampling import hash_sql

    bkt = f"({hash_sql('cluster_rep')}) % 100"
    return f"""
    WITH RECURSIVE {_mhx_ctes()},
    {_cc_ctes()},
    rep AS (
      SELECT d.doc_id, coalesce(comp.cluster_rep, d.doc_id) AS cluster_rep
      FROM documents d LEFT JOIN comp ON comp.doc_id = d.doc_id)
    SELECT doc_id, cluster_rep,
           CASE WHEN {bkt} < 80 THEN 'train'
                WHEN {bkt} < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM rep
    """


@register(
    "sample_split_leakage_safe",
    _leakage_safe_split_oracle(),
    tags=("sampling", "split", "dedup", "leakage_safe", "clustering"),
    description=(
        "leakage-safe train/val/test split: the split key is the "
        "near-dup CLUSTER representative, not the document — so two "
        "near-duplicates can never land on opposite sides of the "
        "train/test boundary (the eval-contamination failure mode "
        "plain per-doc hashing has).  Composes the md5 MinHash+LSH "
        "pair graph, distributed connected components, and the "
        "deterministic hash split; singletons split by their own id; "
        "value-verified end to end against the recursive-closure + "
        "hash oracle"
    ),
)
def sample_split_leakage_safe(spark: SparkSession, sf_dir: str):
    from sfs3_kinesis_spark.operators.dedup import connected_components
    from sfs3_kinesis_spark.operators.sampling import split_assign

    pairs = dedup_minhash_exact(spark, sf_dir).select("doc_a", "doc_b")
    comp = connected_components(pairs, "doc_a", "doc_b")
    docs = t(spark, sf_dir, "documents").select("doc_id")
    rep = docs.join(comp, docs.doc_id == comp.vertex, "left").select(
        "doc_id", F.coalesce("component", "doc_id").alias("cluster_rep")
    )
    return split_assign(rep, F.col("cluster_rep")).select(
        "doc_id", "cluster_rep", "split"
    )


@register(
    "multimodal_dedup_binary",
    """
    WITH m AS (
        SELECT doc_id AS media_id,
               sha256(text) AS dg,
               octet_length(encode(text)) AS byte_len
        FROM documents)
    SELECT dg AS sha_256,
           CAST(count(*) AS BIGINT) AS n_copies,
           CAST(min(media_id) AS BIGINT) AS keeper_media_id,
           CAST(max(byte_len) AS BIGINT) AS byte_len,
           CAST((count(*) - 1) * max(byte_len) AS BIGINT) AS reclaimable_bytes
    FROM m GROUP BY dg HAVING count(*) > 1
    """,
    tags=("multimodal", "dedup", "binary", "exact"),
    description=(
        "exact dedup over OPAQUE BINARY media payloads: group on the "
        "sha-256 content digest (computed JVM-side, codec-free — the "
        "one dedup that works on any modality before a single byte "
        "is decoded), elect the minimum id as keeper, and report the "
        "bytes reclaimable by deleting the copies.  Only 32-byte "
        "digests enter the shuffle, never payloads — at 100 TB this "
        "is the first pass of every media-corpus ingest; byte_len is "
        "constant within a digest group by construction"
    ),
)
def multimodal_dedup_binary(spark: SparkSession, sf_dir: str):
    from sfs3_kinesis_spark.operators.multimodal import (
        documents_as_media,
        with_binary_metadata,
    )

    m = with_binary_metadata(documents_as_media(t(spark, sf_dir, "documents")))
    return (
        m.groupBy(F.col("sha256").alias("sha_256"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_copies"),
            F.min("media_id").cast("long").alias("keeper_media_id"),
            F.max("byte_len").cast("long").alias("byte_len"),
        )
        .filter(F.col("n_copies") > 1)
        .select(
            "sha_256",
            "n_copies",
            "keeper_media_id",
            "byte_len",
            ((F.col("n_copies") - 1) * F.col("byte_len"))
            .cast("long")
            .alias("reclaimable_bytes"),
        )
    )


@register(
    "text_langid_confusion",
    f"""
    WITH d AS (SELECT lang, string_split(text, ' ') AS toks FROM documents),
    scored AS (
      SELECT lang,
             len(list_filter(toks, x -> list_contains({_STOP_EN_SQL}, x)))                    AS n_en,
             len(list_filter(toks, x -> list_contains(['el','la','de','que','y','los'], x)))  AS n_es,
             len(list_filter(toks, x -> list_contains(['der','die','und','das','ist','nicht'], x))) AS n_de
      FROM d),
    pred AS (
      SELECT lang AS label_lang,
             CASE WHEN n_en >= n_es AND n_en >= n_de AND n_en > 0 THEN 'en'
                  WHEN n_es >= n_de AND n_es > 0 THEN 'es'
                  WHEN n_de > 0 THEN 'de'
                  ELSE 'und' END AS detected_lang
      FROM scored)
    SELECT label_lang, detected_lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(CASE WHEN label_lang = detected_lang THEN 1 ELSE 0 END AS BIGINT)
               AS is_correct
    FROM pred GROUP BY label_lang, detected_lang
    """,
    tags=("text", "lang_id", "quality", "confusion_matrix"),
    description=(
        "language-ID confusion matrix: the stopword-vote classifier's "
        "predictions crossed against the corpus's labeled lang column "
        "— the accuracy audit every heuristic classifier needs before "
        "it gates corpus filtering (per-cell counts + diagonal flag; "
        "precision/recall derive downstream from exact counts).  "
        "Row-local scoring fused into the scan, one tiny group-by"
    ),
)
def text_langid_confusion(spark: SparkSession, sf_dir: str):
    d = with_lang_id(t(spark, sf_dir, "documents"))
    return (
        d.groupBy(F.col("lang").alias("label_lang"), "detected_lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .select(
            "label_lang",
            "detected_lang",
            "n_docs",
            F.when(F.col("label_lang") == F.col("detected_lang"), 1)
            .otherwise(0)
            .cast("long")
            .alias("is_correct"),
        )
    )


@register(
    "quality_embedding_norms",
    f"""
    WITH q AS (
        SELECT vec_id,
               list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                   x -> CAST(floor(x * {KMEANS_SCALE} + 0.5) AS BIGINT)
                        * CAST(floor(x * {KMEANS_SCALE} + 0.5) AS BIGINT)))
                   AS norm2
        FROM embeddings),
    b AS (SELECT vec_id, norm2, norm2 // 100000000 AS bucket FROM q)
    SELECT CAST(bucket AS BIGINT) AS norm2_bucket,
           CAST(count(*) AS BIGINT) AS n_vectors,
           CAST(min(norm2) AS BIGINT) AS min_norm2,
           CAST(max(norm2) AS BIGINT) AS max_norm2,
           CAST(count(*) FILTER (WHERE norm2 = 0) AS BIGINT) AS n_zero
    FROM b GROUP BY bucket
    """,
    tags=("quality", "embeddings", "similarity", "data_ops", "exact_arithmetic"),
    description=(
        "embedding-health audit: squared norms on the exact integer "
        "grid (the quantization k-means/IVF use), bucketed into a "
        "histogram with zero-vector counts — degenerate embeddings "
        "(zero or far-outlier norms) break cosine similarity "
        "silently, so every vector pipeline gates on this.  Row-"
        "local lambda arithmetic fused into the scan + one tiny "
        "bucket aggregate; bit-identical across engines because no "
        "sqrt/double-sum enters"
    ),
)
def quality_embedding_norms(spark: SparkSession, sf_dir: str):
    e = t(spark, sf_dir, "embeddings")
    q = e.select(
        "vec_id",
        F.expr(
            f"aggregate(transform(cast(embedding as array<double>), "
            f"x -> cast(floor(x * {KMEANS_SCALE}D + 0.5D) as bigint)), 0L, "
            f"(s, v) -> s + v * v)"
        ).alias("norm2"),
    )
    b = q.withColumn("bucket", F.expr("norm2 DIV 100000000"))
    return b.groupBy(F.col("bucket").cast("long").alias("norm2_bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.min("norm2").cast("long").alias("min_norm2"),
        F.max("norm2").cast("long").alias("max_norm2"),
        F.count(F.when(F.col("norm2") == 0, 1)).cast("long").alias("n_zero"),
    )


@register(
    "dedup_substring_windows",
    """
    WITH tk AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
    w AS (
        SELECT doc_id,
               array_to_string(toks[i:i+7], ' ') AS win
        FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 7)) AS i
              FROM tk WHERE len(toks) >= 8)),
    g AS (SELECT win, count(DISTINCT doc_id) AS ndocs FROM w GROUP BY win),
    d AS (
        SELECT w.doc_id,
               count(*) AS n_windows,
               count(*) FILTER (WHERE g.ndocs >= 2) AS n_dup
        FROM w JOIN g USING (win) GROUP BY w.doc_id)
    SELECT doc_id,
           CAST(n_windows AS BIGINT) AS n_windows,
           CAST(n_dup AS BIGINT) AS n_dup_windows,
           CAST(n_dup * 10000 // n_windows AS BIGINT) AS dup_span_bp
    FROM d WHERE n_dup > 0
    """,
    tags=("dedup", "substring", "exact_arithmetic", "training_data"),
    description=(
        "exact substring-window dedup signal (the public 'Deduplicating "
        "Training Data Makes Language Models Better' recipe, shrunk "
        "from 50-token to 8-token windows for the fixture's short "
        "docs): every consecutive 8-token window, one shuffle on the "
        "window key counting distinct source docs, join back to score "
        "each doc's duplicated-span fraction in basis points — the "
        "per-doc signal that drives span REMOVAL (vs whole-doc "
        "near-dup dropping, which misses partial copies).  At 100 TB "
        "the window string would be xxhash64'd before the shuffle "
        "(collision-checked on candidates) so shuffle bytes are "
        "8 bytes/window, not the text — kept as plain strings here "
        "for cross-engine hash parity; same plan shape either way"
    ),
)
def dedup_substring_windows(spark: SparkSession, sf_dir: str):
    W_TOK = 8
    d = (
        t(spark, sf_dir, "documents")
        .select("doc_id", F.split("text", " ").alias("toks"))
        .filter(F.size("toks") >= W_TOK)
    )
    w = d.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(toks) - {W_TOK - 1}), "
                f"i -> array_join(slice(toks, i, {W_TOK}), ' '))"
            )
        ).alias("win"),
    )
    # one explode pass: collapse to (win, doc_id) occurrence counts,
    # then a KEYED window on win counts distinct docs in place — the
    # self-join-back form evaluated the explode twice (measured 1.68 s
    # vs 1.17 s at sf0.1); the window is partitioned by win, never
    # global
    from pyspark.sql import Window as SW

    wd = w.groupBy("win", "doc_id").agg(F.count(F.lit(1)).alias("n_occ"))
    nd = wd.withColumn("ndocs", F.count(F.lit(1)).over(SW.partitionBy("win")))
    agg = nd.groupBy("doc_id").agg(
        F.sum("n_occ").alias("n_windows"),
        F.coalesce(
            F.sum(F.when(F.col("ndocs") >= 2, F.col("n_occ"))), F.lit(0)
        ).alias("n_dup"),
    )
    return agg.filter(F.col("n_dup") > 0).select(
        "doc_id",
        F.col("n_windows").cast("long").alias("n_windows"),
        F.col("n_dup").cast("long").alias("n_dup_windows"),
        F.expr("CAST(n_dup * 10000 DIV n_windows AS BIGINT)").alias("dup_span_bp"),
    )


def _bbit_oracle() -> str:
    agree = " + ".join(
        f"(CASE WHEN sa.m{h} % 4 = sb.m{h} % 4 THEN 1 ELSE 0 END)"
        for h in range(_MHX_HASHES)
    )
    n = _MHX_HASHES
    return f"""
    WITH {_mhx_ctes()},
    ba AS (
      SELECT c.doc_a, c.doc_b, ({agree}) AS agree
      FROM cand c
      JOIN sig sa ON sa.doc_id = c.doc_a
      JOIN sig sb ON sb.doc_id = c.doc_b)
    SELECT v.doc_a, v.doc_b,
           CAST(v.inter * 10000 // v.uni AS BIGINT) AS true_jaccard_bp,
           CAST(ba.agree AS BIGINT) AS agree{n},
           CAST(CASE WHEN 4 * ba.agree <= {n} THEN 0
                     ELSE (10000 * (4 * ba.agree - {n})) // {3 * n} END
                AS BIGINT) AS bbit_est_bp,
           CAST(abs(CASE WHEN 4 * ba.agree <= {n} THEN 0
                         ELSE (10000 * (4 * ba.agree - {n})) // {3 * n} END
                    - v.inter * 10000 // v.uni) AS BIGINT) AS err_bp
    FROM verified v JOIN ba ON ba.doc_a = v.doc_a AND ba.doc_b = v.doc_b
    """


@register(
    "dedup_minhash_bbit",
    _bbit_oracle(),
    tags=("dedup", "minhash", "bbit", "compression", "exact_arithmetic", "audit"),
    description=(
        "b-bit MinHash (Li & Koenig 2010, public): keep only the low "
        "b=2 bits of each of the 16 md5-grid minhash values — an 8x "
        "signature compression (the difference between signatures "
        "fitting executor memory or not at 100 TB) — and estimate "
        "Jaccard from the agreement count with the collision "
        "correction J = (2^b*agree - n) / (n*(2^b - 1)), floored in "
        "basis points and clamped at 0 BEFORE the division so "
        "truncating (Spark DIV) and flooring (DuckDB //) division "
        "agree on every row.  Emitted per band-join candidate pair "
        "next to the TRUE shingle Jaccard and the absolute error — "
        "the audit that tells an operator how much recall/precision "
        "the 8x memory saving costs on their corpus.  Same md5 "
        "integer grid as dedup_minhash_exact, so the whole chain is "
        "value-verified cross-engine"
    ),
)
def dedup_minhash_bbit(spark: SparkSession, sf_dir: str):
    n = _MHX_HASHES
    sig = _mhx_sig(spark, sf_dir)
    cand = dedup.band_candidates(sig)
    sa = sig.select(
        F.col("doc_id").alias("doc_a"),
        F.col("shingles").alias("sha"),
        *[F.col(f"m{h}").alias(f"a{h}") for h in range(n)],
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"),
        F.col("shingles").alias("shb"),
        *[F.col(f"m{h}").alias(f"b{h}") for h in range(n)],
    )
    agree = " + ".join(
        f"(CASE WHEN a{h} % 4 = b{h} % 4 THEN 1 ELSE 0 END)" for h in range(n)
    )
    inter = "size(array_intersect(sha, shb))"
    uni = f"size(sha) + size(shb) - {inter}"
    est = f"CASE WHEN 4 * agree <= {n} THEN 0 ELSE (10000 * (4 * agree - {n})) DIV {3 * n} END"
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("agree", F.expr(agree))
        .select(
            "doc_a",
            "doc_b",
            F.expr(f"CAST({inter} * 10000 DIV ({uni}) AS BIGINT)").alias(
                "true_jaccard_bp"
            ),
            F.col("agree").cast("long").alias(f"agree{n}"),
            F.expr(f"CAST({est} AS BIGINT)").alias("bbit_est_bp"),
            F.expr(
                f"CAST(abs(({est}) - {inter} * 10000 DIV ({uni})) AS BIGINT)"
            ).alias("err_bp"),
        )
    )


@register(
    "similarity_matryoshka_audit",
    """
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
    c AS (SELECT vec_id AS cand_id, v FROM e WHERE vec_id >= 5),
    full_k AS (
      SELECT query_id, cand_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY list_cosine_similarity(v, qv) DESC,
                                         cand_id) AS rnk
      FROM c, q QUALIFY rnk <= 10),
    trunc_k AS (
      SELECT query_id, cand_id,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY list_cosine_similarity(v[1:16], qv[1:16]) DESC,
                                         cand_id) AS rnk
      FROM c, q QUALIFY rnk <= 10),
    hits AS (
      SELECT f.query_id, count(*) AS n
      FROM full_k f JOIN trunc_k tr
        ON f.query_id = tr.query_id AND f.cand_id = tr.cand_id
      GROUP BY f.query_id)
    SELECT q.query_id,
           CAST(coalesce(n, 0) AS BIGINT)               AS n_overlap,
           CAST(coalesce(n, 0) * 10000 // 10 AS BIGINT) AS recall_bp
    FROM q LEFT JOIN hits ON q.query_id = hits.query_id
    """,
    tags=("similarity", "matryoshka", "recall", "audit"),
    description=(
        "Matryoshka-truncation recall audit (arXiv:2205.13147): cosine "
        "top-10 over the FIRST 16 of 64 dims vs the full-dim truth, per "
        "query — the measurement before committing to a truncated "
        "serving dimension; integer basis points"
    ),
)
def similarity_matryoshka_audit(spark: SparkSession, sf_dir: str):
    return similarity.matryoshka_recall_audit(
        t(spark, sf_dir, "embeddings"), dims=16, k=10, n_queries=5
    )


@register(
    "similarity_pq_adc_audit",
    None,  # self-auditing: Lloyd-trained sub-codebooks are engine
    # state a SQL oracle cannot reproduce economically — rows-only,
    # with the recall audit built into the output (same posture as
    # similarity_ivf_recall_audit)
    tags=("similarity", "pq", "adc", "ann", "compression", "audit"),
    description=(
        "product quantization + asymmetric-distance recall audit "
        "(Jégou et al. 2011, public): 16 subspaces x 16 Lloyd-trained "
        "sub-centroids compress each 64-dim float32 vector to 16 "
        "one-byte codes (16x; compression_x100 column), ADC ranks the "
        "corpus via per-query m x k integer lookup tables WITHOUT "
        "touching the vectors, and the output reports recall@10 vs "
        "the exact integer-grid truth per query.  Synthetic near-"
        "uniform embeddings are PQ's adversarial case (recall 30-60% "
        "here); production re-ranks an ADC candidate pool with exact "
        "scores, which restores recall the way IVF's probe audit does"
    ),
)
def similarity_pq_adc_audit(spark: SparkSession, sf_dir: str):
    return similarity.pq_adc_audit(
        t(spark, sf_dir, "embeddings"), m_sub=16, ksub=16, iterations=2,
        n_queries=8, k=10,
    )


#: energy-segmentation frame geometry + activity threshold (shared)
SEG_FRAME = 64
SEG_MAX_FRAMES = 16
SEG_THRESHOLD = 57500


@register(
    "multimodal_energy_segments",
    f"""
    WITH ch AS (
        SELECT doc_id, (k // {SEG_FRAME}) AS frame_no,
               (ascii(substr(text, CAST(k + 1 AS INT), 1)) - 96) AS v
        FROM documents, range(0, {SEG_FRAME * SEG_MAX_FRAMES}) r(k)
        WHERE k < {SEG_FRAME} * least(len(text) // {SEG_FRAME}, {SEG_MAX_FRAMES})),
    f AS (SELECT doc_id, frame_no, sum(v * v) AS energy
          FROM ch GROUP BY 1, 2),
    a AS (SELECT doc_id, frame_no, energy,
                 frame_no - row_number() OVER (PARTITION BY doc_id
                                               ORDER BY frame_no) AS island
          FROM f WHERE energy >= {SEG_THRESHOLD})
    SELECT doc_id,
           CAST(min(frame_no) AS BIGINT) AS seg_start,
           CAST(max(frame_no) AS BIGINT) AS seg_end,
           CAST(count(*) AS BIGINT) AS n_frames,
           CAST(sum(energy) AS BIGINT) AS total_energy
    FROM a GROUP BY doc_id, island
    """,
    tags=("multimodal", "audio", "vad", "segmentation", "gaps_islands"),
    description=(
        "VAD-style energy segmentation — the audio/video activity-"
        "detection shape: the payload splits into fixed %d-unit "
        "frames (bounded at %d per item), per-frame energy is an "
        "integer sum of squared centered samples computed in ONE "
        "codegen higher-order expression (slice+transform+aggregate "
        "— the slice guard avoids Spark's descending-sequence trap "
        "on short payloads), active frames (energy >= %d) merge "
        "into maximal segments via the gaps-and-islands window "
        "(frame_no - row_number), and each segment reports span + "
        "energy mass.  Text-bytes stand in for PCM samples in this "
        "container (real decode goes through the injectable codec "
        "seam of decode_and_featurize); the frame/energy/island "
        "plumbing — the actual distributed work — is identical, and "
        "the per-item frame bound keeps the window input at "
        "O(items x %d), never raw samples"
        % (SEG_FRAME, SEG_MAX_FRAMES, SEG_THRESHOLD, SEG_MAX_FRAMES)
    ),
)
def multimodal_energy_segments(spark: SparkSession, sf_dir: str):
    from pyspark.sql import Window as W

    # The per-frame energy fold is the query's CPU (interpreted HOF
    # over frames×samples per doc) and would otherwise run inside the
    # single-partition scan task of the one-row-group fixture file —
    # one tiny shuffle of the raw docs buys full-core frame scoring.
    shuffle_n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    d = t(spark, sf_dir, "documents").repartition(shuffle_n)
    sq = (
        f"ascii(substring(text, j, 1)) - 96"
    )
    frames = d.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(slice(sequence(0, {SEG_MAX_FRAMES - 1}), 1, "
                f"int(least(length(text) div {SEG_FRAME}, {SEG_MAX_FRAMES}))), "
                f"i -> struct(i AS frame_no, "
                f"aggregate(sequence(i * {SEG_FRAME} + 1, i * {SEG_FRAME} + {SEG_FRAME}), 0L, "
                f"(acc, j) -> acc + ({sq}) * ({sq})) AS energy))"
            )
        ).alias("fr"),
    ).select("doc_id", F.col("fr.frame_no").alias("frame_no"), F.col("fr.energy").alias("energy"))
    a = frames.filter(F.col("energy") >= SEG_THRESHOLD).withColumn(
        "island",
        F.col("frame_no")
        - F.row_number().over(W.partitionBy("doc_id").orderBy("frame_no")),
    )
    return a.groupBy("doc_id", "island").agg(
        F.min("frame_no").cast("long").alias("seg_start"),
        F.max("frame_no").cast("long").alias("seg_end"),
        F.count(F.lit(1)).cast("long").alias("n_frames"),
        F.sum("energy").cast("long").alias("total_energy"),
    ).drop("island")


@register(
    "quality_cross_source_neardup",
    """
    WITH tok AS (
      SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents),
    sh AS (
      SELECT doc_id, source,
             CASE WHEN len(toks) < 3 THEN [array_to_string(toks, ' ')]
                  ELSE list_distinct(list_transform(
                         generate_series(1, len(toks) - 2),
                         i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
             END AS s
      FROM tok),
    pairs AS (
      SELECT a.source AS sa, b.source AS sb
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE len(list_intersect(a.s, b.s)) * 10000
              // (len(a.s) + len(b.s) - len(list_intersect(a.s, b.s)))
            >= 4000)
    SELECT least(sa, sb) AS source_a,
           greatest(sa, sb) AS source_b,
           CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(count(*) FILTER (WHERE sa = sb) AS BIGINT) AS n_within
    FROM pairs GROUP BY 1, 2
    """,
    tags=("quality", "dedup", "provenance", "prefix_filter", "exact_arithmetic"),
    description=(
        "cross-source duplicate-flow matrix: near-dup document pairs "
        "(exact 3-gram Jaccard >= 0.4) counted per unordered source "
        "pair — the provenance readout that tells a crawl curator "
        "which sources mirror or scrape which (off-diagonal mass) vs "
        "merely re-post internally (n_within).  The Spark side rides "
        "the prefix-filtered EXACT Jaccard join (never all-pairs; the "
        "brute-force oracle re-proves losslessness through this "
        "consumer), then one |sources|^2-bounded rollup"
    ),
)
def quality_cross_source_neardup(spark: SparkSession, sf_dir: str):
    docs = t(spark, sf_dir, "documents")
    pairs = dedup.jaccard_pairs_exact(
        dedup.shingles(docs, n=3).select("doc_id", "shingles"),
        threshold_bp=4000,
    )
    src = docs.select("doc_id", "source")
    lab = (
        pairs.join(
            src.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("sa")),
            "doc_a",
        )
        .join(
            src.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("sb")),
            "doc_b",
        )
    )
    return lab.groupBy(
        F.least("sa", "sb").alias("source_a"),
        F.greatest("sa", "sb").alias("source_b"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.count(F.when(F.col("sa") == F.col("sb"), 1)).cast("long").alias("n_within"),
    )


def _scurve_theo_sql(decile: str, wide_cast: str, floordiv: str) -> str:
    """Analytic banded-LSH collision probability on the EXACT integer
    centi-grid, P(collide) = 1 - (1 - J^r)^b for r=4 rows/band,
    b=4 bands (the _MHX grid), evaluated at the decile midpoint
    J = (10*decile + 5)/100 in floor basis points:

        jc   = 10*decile + 5                    (0..100 grid)
        miss = 1e8 - jc^4                       (= (1-J^4) * 1e8)
        theo = 10000 - miss^4 // 1e28           (= (1-miss^4/1e32)*1e4)

    miss^4 <= 1e32 fits both DECIMAL(38,0) and HUGEINT exactly, so
    the curve is bit-identical cross-engine — no pow(), whose last-ulp
    rounding differs between libm builds."""
    jc = f"({decile} * 10 + 5)"
    m = f"({wide_cast.format(v='100000000')} - {wide_cast.format(v=f'{jc}*{jc}*{jc}*{jc}')})"
    big = wide_cast.format(v="'10000000000000000000000000000'")
    return f"CAST(10000 - CAST(({m}*{m}*{m}*{m}) {floordiv} {big} AS BIGINT) AS BIGINT)"


@register(
    "dedup_lsh_s_curve",
    f"""
    WITH {_mhx_ctes()},
    truth AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             len(list_intersect(a.shingles, b.shingles)) * 10000
               // (len(a.shingles) + len(b.shingles)
                   - len(list_intersect(a.shingles, b.shingles))) AS jbp
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE len(list_intersect(a.shingles, b.shingles)) * 10000
              // (len(a.shingles) + len(b.shingles)
                  - len(list_intersect(a.shingles, b.shingles))) >= 3000),
    hit AS (
      SELECT t.jbp,
             CASE WHEN c.doc_a IS NULL THEN 0 ELSE 1 END AS caught
      FROM truth t
      LEFT JOIN cand c ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b),
    g AS (
      SELECT least(jbp // 1000, 9) AS decile,
             count(*)    AS n_true,
             sum(caught) AS n_caught
      FROM hit GROUP BY 1)
    SELECT CAST(decile AS BIGINT)                      AS decile,
           CAST(decile * 1000 + 500 AS BIGINT)         AS jaccard_mid_bp,
           CAST(n_true AS BIGINT)                      AS n_true,
           CAST(n_caught AS BIGINT)                    AS n_caught,
           CAST(n_caught * 10000 // n_true AS BIGINT)  AS recall_bp,
           {_scurve_theo_sql('decile', 'CAST({v} AS HUGEINT)', '//')} AS theo_bp
    FROM g ORDER BY decile
    """,
    tags=("dedup", "lsh", "minhash", "s_curve", "audit", "exact_arithmetic"),
    description=(
        "banded-LSH S-curve audit: measured band-collision recall per "
        "Jaccard decile against the ANALYTIC collision probability "
        "P = 1 - (1 - J^r)^b (r=4 rows/band, b=4 bands — the md5 "
        "integer grid of dedup_minhash_exact), the readout an operator "
        "tunes (b, r) from before running dedup at corpus scale: "
        "deciles where measured recall undershoots the curve indicate "
        "signature correlation (shingle sets too small for the "
        "independence assumption), overshoot indicates banding is "
        "wasting candidates.  Truth is the exact prefix-filtered "
        "Jaccard join at >= 0.3 (lossless, corpus-safe); candidates "
        "are the md5-grid band join; the theoretical curve is exact "
        "integer arithmetic on the centi-grid (miss^4 <= 1e32 inside "
        "DECIMAL(38,0)/HUGEINT — no cross-engine pow()).  Top decile "
        "bucket folds jbp=10000 into [9000,10000].  Work: one "
        "truth join + one candidate equi-join + an 8-row rollup"
    ),
)
def dedup_lsh_s_curve(spark: SparkSession, sf_dir: str):
    from sfs3_kinesis_spark.operators.dedup import jaccard_pairs_exact, shingles

    d = t_nonnull(spark, sf_dir, "documents", "text")
    sh = shingles(d, n=3).select("doc_id", "shingles")
    truth = jaccard_pairs_exact(sh, threshold_bp=3000).select(
        "doc_a", "doc_b", "jaccard_bp"
    )
    # md5-grid band candidates: dedup_minhash_exact's signature table
    cand = dedup.band_candidates(_mhx_sig(spark, sf_dir)).withColumn(
        "caught", F.lit(1)
    )
    hit = truth.join(cand, ["doc_a", "doc_b"], "left").select(
        "jaccard_bp", F.coalesce("caught", F.lit(0)).alias("caught")
    )
    g = hit.groupBy(
        F.expr("least(jaccard_bp DIV 1000, 9L)").alias("decile")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_true"),
        F.sum("caught").cast("long").alias("n_caught"),
    )
    theo = _scurve_theo_sql("decile", "CAST({v} AS DECIMAL(38,0))", "div")
    return g.select(
        F.col("decile").cast("long").alias("decile"),
        (F.col("decile") * 1000 + 500).cast("long").alias("jaccard_mid_bp"),
        "n_true",
        "n_caught",
        F.expr("CAST(n_caught * 10000 DIV n_true AS BIGINT)").alias("recall_bp"),
        F.expr(theo).alias("theo_bp"),
    ).orderBy("decile")
