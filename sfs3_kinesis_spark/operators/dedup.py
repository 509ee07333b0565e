"""Deduplication operators for large-scale text corpora.

Five tiers, all shuffle-efficient and expressed with JVM-side
built-ins (no Python in the hot path):

* exact        — hash groupBy on the raw or normalized text.
* fingerprint  — deterministic rolling-hash document fingerprint
                 (constant bytes per doc, groupBy on a BIGINT).
* MinHash+LSH  — shingle → minhash signature → banded bucket join →
                 verify Jaccard on candidates only.  The self-join is
                 on (band_id, band_hash) buckets, so at 100 TB the
                 candidate set — not the corpus cross-product —
                 drives cost.
* SimHash      — 64-bit simhash from token hashes; near-dup ==
                 small Hamming distance, bucketed by the top bits.
* prefix join  — EXACT Jaccard / containment pairs: shingles become
                 collision-free bigint ids (56-bit hash key plus a
                 slot inside the rare colliding key), each document
                 indexes only its rarest-first prefix, and an
                 equi-join on prefix ids feeds an exact verify.

All hashing uses ``xxhash64`` (Spark built-in, codegen'd).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sfs3_kinesis_spark.operators.scale import lineage_pin, pin_shared

FINGERPRINT_MOD = 1_000_000_007


def tokens(col: str = "text") -> F.Column:
    return F.split(F.col(col), " ")


def exact_dedup(docs: DataFrame, key_expr: F.Column | None = None) -> DataFrame:
    """Exact dedup: one surviving doc_id per identical key.

    ``key_expr`` defaults to the raw text; pass a normalization
    (lower / strip punctuation / prefix) for canonicalized dedup.
    Single hash-aggregate: partial map-side combine then one shuffle
    on the key — the optimal distributed plan for this operation.
    """
    key = key_expr if key_expr is not None else F.col("text")
    return (
        docs.withColumn("dedup_key", key)
        .groupBy("dedup_key")
        .agg(F.min("doc_id").cast("long").alias("keeper_doc_id"), F.count(F.lit(1)).alias("n_copies"))
    )


def fingerprint(docs: DataFrame, out_col: str = "fingerprint") -> DataFrame:
    """Deterministic rolling-hash fingerprint over the token stream.

    Polynomial fold ``acc*131 + (ascii(tok)*31 + len(tok)) mod p`` —
    chosen to be exactly reproducible in ANSI SQL (the DuckDB oracle
    computes the same fold), unlike xxhash64 which is Spark-specific.
    """
    expr = (
        "aggregate(split(text, ' '), CAST(0 AS BIGINT), "
        f"(acc, x) -> (acc * 131 + ascii(x) * 31 + length(x)) % {FINGERPRINT_MOD})"
    )
    return docs.withColumn(out_col, F.expr(expr))


def shingles(docs: DataFrame, n: int = 3, out_col: str = "shingles") -> DataFrame:
    """Distinct word n-gram shingles per document (built-in
    higher-order functions; no UDF).

    Built as an (n-1)-fold ``zip_with`` of the token array against
    its own shifted slices: each argument of ``zip_with`` is
    evaluated ONCE per row.  The naive
    ``transform(sequence(...), i -> slice(split(text), ...))`` form
    re-evaluates the split inside the lambda for every index —
    O(tokens²) per document, ~4× slower on the fixture corpus and
    catastrophically worse on long documents.

    Documents shorter than ``n`` tokens shingle to ``[text]``
    (zip_with pads the short slices with NULL; those partial grams
    are filtered out).
    """
    toks = "split(text, ' ')"
    acc = toks
    for k in range(2, n + 1):
        acc = f"zip_with({acc}, slice({toks}, {k}, size({toks})), (x, y) -> concat(x, ' ', y))"
    expr = (
        f"CASE WHEN size({toks}) < {n} THEN array(text) "
        f"ELSE array_distinct(filter({acc}, x -> x IS NOT NULL)) END"
    )
    return docs.withColumn(out_col, F.expr(expr))


def minhash_bands(*, num_hashes: int = 32, bands: int = 8) -> F.Column:
    """``array<bigint>`` of a document's ``bands`` LSH band hashes,
    computed from its ``shingles`` column in one projection.  Band b
    hashes the comma-joined minima of minhash functions
    ``xxhash64(s, h)`` for h in [b*r, (b+1)*r), r = num_hashes // bands.
    A band index written by :func:`banded_keys` stores these values,
    so the expression must not change."""
    rows_per_band = num_hashes // bands

    def band_hash(b: int) -> str:
        mins = ", ".join(
            f"cast(array_min(transform(shingles, s -> xxhash64(s, {h}))) as string)"
            for h in range(b * rows_per_band, (b + 1) * rows_per_band)
        )
        return f"xxhash64(concat_ws(',', {mins}))"

    return F.array(*[F.expr(band_hash(b)) for b in range(bands)])


def explode_bands(sig: DataFrame) -> DataFrame:
    """(doc_id, band_id, band_hash): one row per element of the
    ``bands`` array column, band_id (int) its position.

    ``posexplode_outer``, not ``posexplode``: for a plain generator
    Catalyst infers a ``size(bands) > 0`` filter below the Generate,
    and when the array is an unmaterialized projection that filter
    holds a second copy of every band expression, doubling the
    hashing.  Band arrays are never empty, so the rows are the same."""
    return sig.select(
        "doc_id", F.posexplode_outer("bands").alias("band_id", "band_hash")
    )


def band_candidates(sig: DataFrame) -> DataFrame:
    """(doc_a, doc_b), doc_a < doc_b: the distinct document pairs that
    share at least one band, from an equi-join on (band_id, band_hash)
    of :func:`explode_bands` with itself.  Catalyst shuffles it on the
    bucket key, so only colliding documents ever meet, and only the
    narrow (doc_id, band_id, band_hash) rows enter the shuffle."""
    keys = explode_bands(sig)
    return (
        keys.alias("a")
        .join(
            keys.alias("b"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )


def banded_keys(
    docs_with_shingles: DataFrame, *, num_hashes: int = 32, bands: int = 8
) -> DataFrame:
    """(doc_id, band_id, band_hash) LSH bucket keys from a shingle
    table: the :func:`minhash_bands` projection, then
    :func:`explode_bands`.  The streaming near-dup index stores these
    rows, and the batch pair join builds its candidates the same way,
    so the two cannot drift."""
    sig = docs_with_shingles.select(
        "doc_id", minhash_bands(num_hashes=num_hashes, bands=bands).alias("bands")
    )
    return explode_bands(sig)


def minhash_lsh_pairs(
    docs: DataFrame,
    *,
    shingle_n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Near-duplicate pairs via MinHash + banded LSH.

    One signature table ``(doc_id, shingles, bands)`` holds each
    document's shingle set and its :func:`minhash_bands` array, and is
    pinned through the keyed LRU, so every band is hashed once per
    document, not once per join side per run.  Candidates come from
    :func:`band_candidates` over the pinned ``bands`` column; the
    verify joins read ``shingles`` from the same table and compute the
    true shingle Jaccard on candidates only.  Above the pin's size
    guard the table is recomputed per consumer: four corpus scans,
    each band expression evaluated once per candidate-join side.
    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b.
    """
    sig = pin_shared(
        shingles(docs, n=shingle_n)
        .select("doc_id", "shingles")
        .withColumn("bands", minhash_bands(num_hashes=num_hashes, bands=bands)),
        tag="lsh_signature",
    )
    cand = band_candidates(sig)
    sh_a = sig.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    sh_b = sig.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    jac = F.expr(
        "size(array_intersect(sh_a, sh_b)) / size(array_union(sh_a, sh_b))"
    )
    return (
        cand.join(sh_a, "doc_a")
        .join(sh_b, "doc_b")
        .withColumn("jaccard", F.round(jac, 4))
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


#: The shingle key, a SQL expression over ``tok``: the top 56 bits of
#: ``xxhash64``.  A shingle's id is ``key * _KEY_SLOTS + slot``, where
#: ``slot`` is its place among the sorted distinct shingles that share
#: the key (0 unless the key collides), so ids are injective over any
#: vocabulary and still fit a signed bigint (2^56 * 2^7 = 2^63).
_SHINGLE_KEY = "shiftrightunsigned(xxhash64(tok), 8)"
_KEY_SLOTS = 128


def _postings(docs_with_shingles: DataFrame) -> DataFrame:
    """(doc_id, tok, k): one row per distinct shingle per document.
    NULL shingles (a NULL-text document's ``[text]`` fallback) are
    dropped, as the all-pairs oracles drop them."""
    return (
        docs_with_shingles.select("doc_id", F.explode("shingles").alias("tok"))
        .filter(F.col("tok").isNotNull())
        .withColumn("k", F.expr(_SHINGLE_KEY))
    )


def _shingle_vocab(postings: DataFrame) -> DataFrame:
    """(k, df, toks): one row per shingle key of :func:`_postings`
    with its document frequency.  ``toks`` lists the key's distinct
    shingles, sorted, only when there are several (a hash collision)
    and is NULL otherwise.  A key holding more than ``_KEY_SLOTS``
    shingles fails the query instead of reusing an id."""
    return (
        postings.groupBy("k")
        .agg(F.count(F.lit(1)).alias("df"), F.collect_set("tok").alias("toks"))
        .select(
            "k",
            "df",
            F.expr(
                f"CASE WHEN size(toks) > {_KEY_SLOTS} THEN raise_error("
                f"'more than {_KEY_SLOTS} distinct shingles share one key') "
                "WHEN size(toks) > 1 THEN array_sort(toks) END"
            ).alias("toks"),
        )
    )


def _ranked_shingle_sets(
    docs_with_shingles: DataFrame, *, vocab: DataFrame | None = None
) -> DataFrame:
    """(doc_id, toks_sorted, n): each document's distinct shingles as
    ``array<bigint>`` ids, sorted rarest-first by (key df, id).

    Every downstream stage (the doc_id collect shuffle, the per-doc
    sort, the candidate equi-join on prefix elements and the exact
    ``array_intersect`` verify) needs only shingle identity and one
    global total order, never the text.  An 8-byte id is ~4x narrower
    than a 3-word shingle in each of those shuffles and compares
    without string allocation.

    The ids are exact by construction: ``id = key * _KEY_SLOTS +
    slot`` (see ``_SHINGLE_KEY``), where the postings join the
    vocabulary on the key and a colliding key's sorted shingle list
    gives each shingle its own slot.  No driver action checks for
    collisions and there is no fallback plan.  Ordering by the key's
    df rather than the shingle's changes nothing: the prefix filter
    is lossless under any global total order.

    The vocabulary is pinned through the keyed LRU; ``vocab`` takes a
    prebuilt one instead (the stage timings in
    scripts/sf10_stress_prefix.py).
    """
    postings = _postings(docs_with_shingles)
    if vocab is None:
        vocab = pin_shared(_shingle_vocab(postings), tag="shingle_vocab")
    slot = "coalesce(array_position(toks, tok) - 1, 0)"
    return (
        postings.join(vocab, "k")
        .select("doc_id", "df", F.expr(f"k * {_KEY_SLOTS} + {slot}").alias("id"))
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(F.struct("df", "id"))).alias("sorted_sh"))
        .select(
            "doc_id",
            F.expr("transform(sorted_sh, x -> x.id)").alias("toks_sorted"),
            F.size("sorted_sh").alias("n"),
        )
    )


def _prefix(threshold_bp: int) -> F.Column:
    """The first n - ceil(t·n) + 1 rarest ids of ``toks_sorted``;
    ceil(t_bp·n/10000) in integers."""
    return F.expr(
        f"slice(toks_sorted, 1, n - (({threshold_bp} * n + 9999) DIV 10000) + 1)"
    )


def _jaccard_prefix_frame(
    docs_with_shingles: DataFrame, *, threshold_bp: int
) -> DataFrame:
    """Ranked shingle sets plus the t-prefix slice — the shared front
    half of :func:`jaccard_pairs_exact`, pinned once per plan."""
    ranked = _ranked_shingle_sets(docs_with_shingles)
    pref = ranked.withColumn("prefix", _prefix(threshold_bp))
    return pin_shared(pref, tag="jaccard_prefix")


def jaccard_candidates_exact(
    docs_with_shingles: DataFrame, *, threshold_bp: int, pref: DataFrame | None = None
) -> DataFrame:
    """Candidate stage of :func:`jaccard_pairs_exact` — distinct
    (doc_a, doc_b, s) pairs surviving prefix, length and positional
    filtering, BEFORE exact verification.  Exposed so the decade
    stress (scripts/sf10_stress_prefix.py) can attribute wall-time
    growth to candidate fan-out vs true-pair growth.

    Only (prefix id, position, doc_id, n) shuffle, never the arrays.
    Both filters are conditions on the prefix-id equi-join:

    * length: J ≥ t forces t·na ≤ nb and t·nb ≤ na;
    * positional (PPJoin, Xiao/Wang/Lin/Yu 2008): a shared prefix
      element at 0-based positions (pa, pb) bounds the overlap by
      1 + min(na-pa-1, nb-pb-1), and J ≥ t needs
      i ≥ ceil(t·(na+nb)/(1+t)).  Lossless for any t: the pair's
      smallest common element is in both prefixes and every other
      common element sits after it on both sides, so that row's bound
      is at least the true overlap.

    ``pref`` lets :func:`jaccard_pairs_exact` pass its already-pinned
    prefix frame through instead of re-entering the pin (when
    semanticHash fails the LRU cannot match the second call, so it
    would persist the corpus-sized frame twice)."""
    if pref is None:
        pref = _jaccard_prefix_frame(docs_with_shingles, threshold_bp=threshold_bp)
    pe = pref.select("doc_id", "n", F.posexplode("prefix").alias("p", "pr"))
    den = 10000 + threshold_bp
    return (
        pe.alias("a")
        .join(
            pe.alias("b"),
            (F.col("a.pr") == F.col("b.pr"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (F.col("b.n") * 10000 >= F.col("a.n") * threshold_bp)
            & (F.col("a.n") * 10000 >= F.col("b.n") * threshold_bp)
            & F.expr(
                "1 + least(a.n - a.p - 1, b.n - b.p - 1)"
                f" >= ({threshold_bp}L * (a.n + b.n) + {den - 1}) DIV {den}"
            ),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            (F.col("a.n") + F.col("b.n")).alias("s"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )


def jaccard_verify_exact(
    cand: DataFrame, ranked: DataFrame, *, threshold_bp: int
) -> DataFrame:
    """Verify stage of :func:`jaccard_pairs_exact`: attach each
    candidate's two id arrays from ``ranked`` (doc_id, toks_sorted)
    and keep the pairs whose exact integer Jaccard reaches
    ``threshold_bp``.  The arrays join only the surviving candidates."""
    arrs = ranked.select("doc_id", "toks_sorted")
    ver = (
        cand.join(
            arrs.select(F.col("doc_id").alias("doc_a"), F.col("toks_sorted").alias("ra")),
            "doc_a",
        )
        .join(
            arrs.select(F.col("doc_id").alias("doc_b"), F.col("toks_sorted").alias("rb")),
            "doc_b",
        )
        .withColumn("i", F.size(F.array_intersect("ra", "rb")))
        .withColumn("jaccard_bp", F.expr("i * 10000 DIV (s - i)"))
    )
    return ver.filter(F.col("jaccard_bp") >= threshold_bp).select(
        "doc_a", "doc_b", "jaccard_bp"
    )


def jaccard_pairs_exact(
    docs_with_shingles: DataFrame, *, threshold_bp: int
) -> DataFrame:
    """EXACT Jaccard >= t self-join without the O(n²) cross join.

    Prefix filtering (Chaudhuri/Ganti/Kaushik 2006; Bayardo et al.
    2007 — public literature): under any global total order on the
    shingle universe, the smallest common element e1 of a qualifying
    pair sits, within each document, before at least α-1 other common
    elements — so its position is ≤ n - α + 1, where α is the minimum
    overlap a qualifying pair must have.  For Jaccard ≥ t,
    i ≥ t·union ≥ t·n per side, so α = ceil(t·n) and each document
    need only index its first n - ceil(t·n) + 1 rarest shingles.
    Candidate pairs come from an equi-join on prefix shingles (narrow:
    only keys and sizes shuffle, never the arrays), then exact integer
    verification in basis points on the survivors.  The brute-force
    all-pairs oracle in the registry proves losslessness cross-engine.

    At 100 TB this replaces n²/2 array intersections with one
    vocabulary-keyed equi-join whose fan-out tracks the true-pair
    count: hot (high-df) shingles sort LAST and fall out of prefixes.
    Returns (doc_a, doc_b, jaccard_bp) with doc_a < doc_b,
    jaccard_bp = floor(10000·|A∩B| / |A∪B|) ≥ threshold_bp.
    """
    pref = _jaccard_prefix_frame(docs_with_shingles, threshold_bp=threshold_bp)
    cand = jaccard_candidates_exact(
        docs_with_shingles, threshold_bp=threshold_bp, pref=pref
    )
    return jaccard_verify_exact(cand, pref, threshold_bp=threshold_bp)


def containment_candidates_exact(
    docs_with_shingles: DataFrame,
    *,
    threshold_bp: int,
    ranked: DataFrame | None = None,
) -> DataFrame:
    """Candidate stage of :func:`containment_pairs_exact` — distinct
    (doc_contained, doc_container) pairs surviving the asymmetric
    prefix probe, BEFORE exact verification.  Exposed for the decade
    stress's fan-out attribution (r08 verdict next-round #2).
    ``ranked`` = pass-through of the caller's already-pinned ranked
    frame (same single-pin rationale as
    :func:`jaccard_candidates_exact`)."""
    if ranked is None:
        ranked = pin_shared(
            _ranked_shingle_sets(docs_with_shingles), tag="containment_ranked"
        )
    pe_a = ranked.select("doc_id", F.explode(_prefix(threshold_bp)).alias("pr"))
    pe_b = ranked.select("doc_id", F.explode("toks_sorted").alias("pr"))
    return (
        pe_a.alias("a")
        .join(
            pe_b.alias("b"),
            (F.col("a.pr") == F.col("b.pr"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_contained"),
            F.col("b.doc_id").alias("doc_container"),
        )
        .dropDuplicates(["doc_contained", "doc_container"])
    )


def containment_pairs_exact(
    docs_with_shingles: DataFrame, *, threshold_bp: int
) -> DataFrame:
    """EXACT directional containment |A∩B|/|A| ≥ c without all-pairs.

    Asymmetric prefix filter: a qualifying pair has overlap
    α = ceil(c·|A|), so the contained side A need only index its
    first |A| - ceil(c·|A|) + 1 rarest shingles (same smallest-
    common-element argument as :func:`jaccard_pairs_exact`).  The
    container side B gets NO per-size bound (α can be tiny relative
    to |B|), so B is indexed on ALL its shingles — an inverted-index
    probe, still an equi-join whose volume is the corpus posting
    count, never n².  Returns (doc_contained, doc_container,
    containment_bp) over distinct doc pairs.
    """
    ranked = pin_shared(_ranked_shingle_sets(docs_with_shingles), tag="containment_ranked")
    cand = containment_candidates_exact(
        docs_with_shingles, threshold_bp=threshold_bp, ranked=ranked
    )
    arrs = ranked.select("doc_id", "toks_sorted", "n")
    ver = (
        cand.join(
            arrs.select(
                F.col("doc_id").alias("doc_contained"),
                F.col("toks_sorted").alias("ra"),
                F.col("n").alias("na"),
            ),
            "doc_contained",
        )
        .join(
            arrs.select(
                F.col("doc_id").alias("doc_container"),
                F.col("toks_sorted").alias("rb"),
            ),
            "doc_container",
        )
        .withColumn(
            "containment_bp",
            F.expr("size(array_intersect(ra, rb)) * 10000 DIV na"),
        )
    )
    return ver.filter(F.col("containment_bp") >= threshold_bp).select(
        "doc_contained", "doc_container", "containment_bp"
    )


def simhash(docs: DataFrame, out_col: str = "simhash") -> DataFrame:
    """64-bit SimHash over token hashes.  Requires a unique ``doc_id``.

    Bit-parallel aggregate formulation: distinct tokens explode to
    (doc_id, xxhash64(token)) rows — each token hashed ONCE in a
    codegen'd projection — then one hash aggregate computes the 64
    per-bit set-counts s_b; bit b of the fingerprint is set iff
    2*s_b > n (exactly the classic +1/-1 sign rule: s_b - (n - s_b)
    > 0).  The previous per-row form folded an INTERPRETED
    higher-order aggregate per bit, re-hashing every token 64 times
    (64 x |tokens| lambda steps + xxhash calls per document); this
    form is entirely whole-stage-codegen'd and costs one narrow
    token-level shuffle with map-side partial aggregation — the same
    shape at 100 TB.  Values are bit-identical to the old form
    (docs with NULL text keep fingerprint 0, matching the old
    CASE-over-NULL collapse)."""
    th = docs.select(
        "doc_id",
        F.explode(F.expr("array_distinct(split(text, ' '))")).alias("tok"),
    ).select("doc_id", F.expr("xxhash64(tok)").alias("h"))
    sums = th.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("_n"),
        *[
            F.sum(F.expr(f"int(shiftrightunsigned(h, {b}) & 1)")).alias(f"_s{b}")
            for b in range(64)
        ],
    )
    bits = " + ".join(
        f"(CASE WHEN 2 * _s{b} > _n THEN shiftleft(1L, {b}) ELSE 0L END)"
        for b in range(64)
    )
    # the (doc_id, simhash) aggregate is 16 bytes/doc but costs a
    # full token explode + 65-column aggregate to build — pin it so
    # plans with two simhash tiers (dedup_lsh_recall_audit runs the
    # single-prefix AND the multiprobe bucketing over the same
    # fingerprints) compute it once; Catalyst performs no CSE across
    # join branches, so without the pin the audit paid the xxhash
    # token pass twice (§5: cache what is reused and cheap to hold).
    # Single-consumer queries pay one trivial persist of the narrow
    # frame; the leaf-sum guard still unpins at corpus scale.
    from sfs3_kinesis_spark.operators.scale import pin_shared

    fp = pin_shared(sums.select("doc_id", F.expr(bits).alias(out_col)), tag="simhash_fp")
    return docs.join(fp, "doc_id", "left").withColumn(
        out_col, F.coalesce(F.col(out_col), F.lit(0).cast("long"))
    )


def simhash_near_dup_pairs(docs: DataFrame, max_hamming: int = 8, prefix_bits: int = 16) -> DataFrame:
    """SimHash near-dup candidates bucketed by the top ``prefix_bits``
    bits (docs differing only in low bits still collide), verified by
    exact Hamming distance via bit_count(xor).

    WHEN TO USE WHICH NEAR-DUP PATH (measured, not hand-waved — the
    ``dedup_lsh_recall_audit`` query scores both against exact
    all-pairs 3-gram-Jaccard ground truth): at defaults this
    token-level SimHash recalls only **20–32 %** (2000–3214 bp at
    sf0.01/sf0.001) of Jaccard>=0.4 near-dup pairs, with ~100x extra
    candidates — it hashes unigram profiles, so word-order mutations
    that break shingles leave it unmoved and common-word overlap
    floods its buckets.  If your dedup criterion is shingle Jaccard
    (the usual training-data criterion), use ``minhash_lsh_pairs`` /
    ``dedup_minhash_lsh`` instead (measured 100 % recall on the same
    ground truth).  SimHash earns its keep only for bag-of-words
    near-identity (e.g. boilerplate detection where token multisets,
    not order, define similarity)."""
    sh = simhash(docs).select("doc_id", "simhash")
    bucketed = sh.withColumn("bucket", F.expr(f"shiftrightunsigned(simhash, {64 - prefix_bits})"))
    a, b = bucketed.alias("a"), bucketed.alias("b")
    return (
        a.join(b, (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .withColumn("hamming", F.expr("bit_count(a.simhash ^ b.simhash)"))
        .filter(F.col("hamming") <= max_hamming)
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"), "hamming")
    )


def simhash_multiprobe_pairs(
    docs: DataFrame,
    max_hamming: int = 8,
    prefix_bits: int = 16,
    n_tables: int = 16,
) -> DataFrame:
    """SimHash candidates via ROTATION tables (Manku et al. 2007,
    WWW — the Google near-dup scheme, public): the 64-bit fingerprint
    is rotated by ``64 / n_tables`` bits per table and bucketed on
    the top ``prefix_bits`` of each rotation, so a pair whose
    differing bits all miss ANY aligned window of the fingerprint
    collides in at least one table.  Measured on the sf0.001 fixture
    against brute-force hamming<=8 truth: single-prefix bucketing
    (:func:`simhash_near_dup_pairs`) finds 16.5 % of true pairs;
    4 tables 51 %, 8 tables 71 %, 16 tables 87.8 % (pinned in
    ``tests/test_dedup_clusters.py``) — rotation probing fixes the
    BUCKETING miss, and Jaccard-criterion recall in the
    ``dedup_lsh_recall_audit`` rises from 2000-3214 bp to
    8000-8571 bp.  The criterion gap remains: token-level SimHash
    still measures bag-of-words identity, so for shingle-Jaccard
    dedup use ``minhash_lsh_pairs`` (see the steering note on
    :func:`simhash_near_dup_pairs`).

    Scale shape — identical to MinHash-LSH banding: each doc explodes
    to ``n_tables`` (table_id, bucket) keys and candidates meet in ONE
    equi-join on that composite key (never an all-pairs product);
    expected candidate volume is n_tables * n^2 / 2^prefix_bits —
    tune prefix_bits up as the corpus grows.  Pairs deduplicate with
    one distinct before the exact bit_count verify.
    """
    if not (1 <= n_tables <= 64) or 64 % n_tables != 0:
        # n_tables > 64 makes rot = 0 (every table the identity
        # rotation: n_tables x the cost for single-table recall);
        # a non-divisor leaves trailing bits no window ever covers
        raise ValueError(
            f"n_tables must divide 64 and be in [1, 64], got {n_tables}"
        )
    rot = 64 // n_tables
    sh = simhash(docs).select("doc_id", "simhash")
    # Java shift semantics make t=0 safe: shiftrightunsigned(x, 64)
    # is x (count & 63 == 0), and x | x == x — the identity rotation
    tabs = sh.select(
        "doc_id",
        "simhash",
        F.explode(
            F.expr(
                f"transform(sequence(0, {n_tables - 1}), t -> named_struct("
                f"'table_id', t, "
                f"'bucket', shiftrightunsigned("
                f"shiftleft(simhash, t * {rot}) | "
                f"shiftrightunsigned(simhash, 64 - t * {rot}), {64 - prefix_bits})))"
            )
        ).alias("tb"),
    ).select("doc_id", "simhash", F.col("tb.table_id").alias("table_id"), F.col("tb.bucket").alias("bucket"))
    # Explicit hash partitioning on the composite bucket key: the key
    # table is tiny and highly compressible, so AQE's small-shuffle
    # coalescing would run the whole candidate join (n_tables x the
    # bucket fan-out, >1M rows at sf0.1) in ONE task.  A
    # user-specified partition count is exempt from coalescing and
    # both self-join sides reuse the layout with no extra shuffle.
    shuffle_n = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    tabs = tabs.repartition(shuffle_n, "table_id", "bucket")
    a, b = tabs.alias("a"), tabs.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.table_id") == F.col("b.table_id"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.expr("bit_count(sh_a ^ sh_b)"))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


#: adaptive strategy threshold for :func:`connected_components`: a
#: graph of at most this many DIRECTED edges (2 x the raw pair rows —
#: r11 moved the gate before the orientation-explode/dedup so small
#: graphs skip that shuffle entirely) is solved DRIVER-SIDE by
#: union-find instead of the iterative distributed loop.
#: Rationale (r10): the min-label + pointer-jump loop converges in
#: ~GRAPH-DIAMETER rounds on mesh-like graphs (the
#: label of an intermediate local minimum is itself, so the jump has
#: no chain to compress and the global min creeps one hop per round —
#: measured 32 rounds x ~1.1 s of per-round fixed cost on the 5.5k-
#: vertex DBSCAN hub grid, 35 s of overhead for milliseconds of
#: actual work).  Below the threshold the graph is BOUNDED (~2M edges
#: = tens of MB on the driver — the same order as a broadcast-join
#: side), union-find runs in linear time, and the output is
#: value-identical (min-id representative).  Above it, the
#: distributed loop runs exactly as before.  This is AQE-style
#: adaptive strategy selection, not a driver-side escape for
#: unbounded data: the collect is gated on the measured edge count.
#: Env-tunable; 0 forces the distributed path (tests use this).
import os as _os

DRIVER_CC_MAX_EDGES = int(
    _os.environ.get("SFS3K_DRIVER_CC_MAX_EDGES", "2000000")
)


def _driver_union_find(edge_rows, vertex_set) -> dict:
    """Min-representative union-find over collected edges: path
    halving + union-by-min, so find(v) ends at the component's
    minimum id — the exact value the distributed min-label loop
    converges to."""
    parent = {v: v for v in vertex_set}

    def find(a):
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    for u, v in edge_rows:
        ru, rv = find(u), find(v)
        if ru != rv:
            if rv < ru:
                ru, rv = rv, ru
            parent[rv] = ru
    return {v: find(v) for v in vertex_set}


def connected_components(
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 40,
) -> DataFrame:
    """Cluster the near-duplicate pair graph: assign every vertex the
    minimum doc_id reachable from it (label propagation to fixpoint).

    This is the step that turns pairwise near-dup evidence into
    dedup DECISIONS (keep one doc per cluster) — pairs alone
    over-delete when A~B and B~C but A!~C.  The reference has no
    analog (it has no joins at all, SURVEY.md §2.4); this is the
    standard large-scale formulation: per round

        label(v) <- min over {v} ∪ neighbors(v) of label(.)   (hop)
        label(v) <- label(label(v))                   (pointer jump)

    The pointer-jump (path-halving) step is what makes high-diameter
    graphs converge in O(log diameter) rounds instead of O(diameter)
    — a 40-node path converges in ~6 rounds where plain propagation
    needs 39 (and silently returned UNCONVERGED labels under any
    finite round cap; caught by the random-graph property test).
    Near-dup LSH cliques still converge at the first check.

    Each round is two key-shuffle joins + one groupBy; labels are
    pinned per round via :func:`~sfs3_kinesis_spark.operators.scale.
    lineage_pin` (a RELIABLE checkpoint when a checkpoint dir is
    configured — the session factory sets one — so executor loss
    recovers by re-reading checkpoint files instead of failing the
    job), which both materializes them AND truncates the logical
    plan — without it the plan tree grows geometrically per round
    and Catalyst planning time, not the data, becomes the
    bottleneck.  Convergence is a changed-vertex count — one tiny
    driver scalar per round.

    Returns (vertex, component) with component = min doc_id of the
    cluster; singleton vertices (no pair) are absent — callers union
    them back as their own components if needed.

    Strategy is ADAPTIVE on the measured pair count (r10, gate moved
    ahead of the orientation-explode/dedup shuffle in r11; see
    ``DRIVER_CC_MAX_EDGES``): bounded graphs solve driver-side in
    linear time (union-find, value-identical min representatives),
    unbounded graphs run the distributed loop.  Mesh-diameter graphs
    made the loop's round count degenerate (~diameter rounds x ~1 s
    fixed round cost — 35 s for the 21k-edge DBSCAN hub grid), and
    every production consumer's pair graph at fixture scale is deep
    under the threshold, so the loop is now the big-graph path only.
    """
    f = F
    # gate on the RAW pair-row count (r11): the pre-r10 formulation
    # exploded both orientations and dropDuplicates-shuffled BEFORE
    # the strategy decision, so even a 21k-edge graph paid an
    # orientation explode + a dedup shuffle + a persist just to learn
    # it should be solved driver-side (measured ~1.3 s of fixed
    # multi-job cost per DBSCAN invocation at sf0.1).  Union-find is
    # insensitive to duplicates and orientation, so the driver path
    # collects the raw (a, b) rows directly.  The threshold is in
    # DIRECTED edges (the pre-r11 gate counted both orientations
    # after dedup), and producers emit each unordered pair once, so
    # 2 * n_pairs is that count for a duplicate-free pair table and
    # an over-count (an earlier fallback to the loop) otherwise.
    # The pair table is persisted so the upstream pair plan (for LSH
    # pairs, the dominant cost) runs exactly once either way.
    pairs_nn = pairs.select(f.col(a_col).alias("src"), f.col(b_col).alias("dst")).persist()
    n_pairs = pairs_nn.count()
    if 0 < DRIVER_CC_MAX_EDGES >= 2 * n_pairs:
        # bounded: collect the raw pairs and union-find on the driver.
        # Arrow toPandas when available: row-object collect() moves
        # ~50-100k rows/s through py4j pickling, Arrow ~millions/s —
        # at the 2M-edge threshold that is seconds vs sub-second.
        # Self-pairs and NULL endpoints are excluded exactly as the
        # old (explode -> dedup -> src < dst) pipeline excluded them.
        try:
            half_df = pairs_nn.filter(
                f.col("src").isNotNull()
                & f.col("dst").isNotNull()
                & (f.col("src") != f.col("dst"))
            )
            try:
                pdf = half_df.toPandas()
                edge_rows = list(zip(pdf["src"].tolist(), pdf["dst"].tolist()))
            except Exception:  # noqa: BLE001 — no pandas/Arrow: plain rows
                edge_rows = [
                    (r["src"], r["dst"]) for r in half_df.collect()
                ]
            vertices = set()
            for u, v in edge_rows:
                vertices.add(u)
                vertices.add(v)
            comp = _driver_union_find(edge_rows, vertices)
            spark = pairs.sparkSession
            vtype = dict(pairs.dtypes)[a_col]
            schema = f"vertex {vtype}, component {vtype}"
            try:
                import pandas as pd

                return spark.createDataFrame(
                    pd.DataFrame(
                        {
                            "vertex": list(comp.keys()),
                            "component": list(comp.values()),
                        }
                    ),
                    schema,
                )
            except Exception:  # noqa: BLE001 — no pandas/Arrow
                return spark.createDataFrame(list(comp.items()), schema)
        finally:
            pairs_nn.unpersist()

    # undirected edge list, both orientations, in ONE pass over the
    # (persisted) pair table
    edges = (
        pairs_nn.select(
            f.explode(
                f.array(
                    f.struct(f.col("src"), f.col("dst")),
                    f.struct(f.col("dst").alias("src"), f.col("src").alias("dst")),
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .dropDuplicates(["src", "dst"])
        .persist()
    )

    # initialize each vertex at its neighborhood minimum — one
    # groupBy that is exactly the first propagation round for free;
    # pure cliques (the common LSH-cluster shape) converge at the
    # first convergence check
    labels = (
        edges.groupBy(f.col("src").alias("vertex"))
        .agg(f.min("dst").alias("_nbr_min"))
        .select("vertex", f.least(f.col("vertex"), f.col("_nbr_min")).alias("component"))
        .transform(lineage_pin)
    )
    # try/finally so the persisted edge table is released on EVERY
    # exit — the non-convergence raise included (r02 ADVICE: the
    # failure path leaked cached storage)
    try:
        for _ in range(max_iter):
            # hop: for each vertex, the smallest label among itself
            # and its neighbors
            nbr = (
                edges.join(labels, edges.dst == labels.vertex)
                .select(f.col("src").alias("vertex"), f.col("component"))
                .unionByName(labels)
                .groupBy("vertex")
                .agg(f.min("component").alias("c1"))
            )
            # pointer jump: follow the label one step — label(label(v)).
            # Every label value IS a vertex of the graph (it is a min
            # of vertex ids), so the self-join lookup is total; the
            # parent's label is <= the child's by construction.
            parent = nbr.select(f.col("vertex").alias("_pv"), f.col("c1").alias("_pc"))
            jumped = (
                nbr.join(parent, nbr.c1 == f.col("_pv"))
                .select("vertex", f.col("_pc").alias("new_component"))
            )
            joined = lineage_pin(labels.join(jumped, "vertex"))
            changed = joined.filter(f.col("component") != f.col("new_component")).count()
            labels = joined.select("vertex", f.col("new_component").alias("component"))
            if changed == 0:
                break
        else:
            # silent wrong labels are worse than a loud failure: a
            # graph that has not reached fixpoint within max_iter
            # rounds (log-scale in diameter thanks to the jump step)
            # must not be reported as clustered
            raise RuntimeError(
                f"connected_components did not converge in {max_iter} rounds"
            )
    finally:
        edges.unpersist()
        pairs_nn.unpersist()
    return labels


def dedup_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
) -> DataFrame:
    """Full dedup decision table: every doc_id mapped to its cluster
    representative (the minimum doc_id of its connected component;
    singletons map to themselves).  ``is_keeper`` marks the one row
    per cluster that survives deletion."""
    comp = connected_components(pairs, a_col, b_col)
    out = (
        docs.select("doc_id")
        .join(comp, docs.doc_id == comp.vertex, "left")
        .select(
            "doc_id",
            F.coalesce("component", "doc_id").alias("cluster_id"),
        )
        .withColumn("is_keeper", (F.col("doc_id") == F.col("cluster_id")).cast("int"))
    )
    return out
