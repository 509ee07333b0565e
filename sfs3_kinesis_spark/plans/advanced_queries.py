"""Advanced analytics corpus (round-2 additions): Pareto/skyline
frontier, exact integer trend regression, distributed triangle
counting, keyed snapshot diff, systematic PPS sampling, multi-touch
attribution, prefix-filtered set-similarity join, and a Gopher-style
document-quality rule battery.

None of these exist in the reference (no relational/analytic layer —
SURVEY.md §2.12); they are the operations a training-data/analytics
team layers on the same tables.  Every entry is SQL-exact against
the DuckDB oracle: integer cents, day grids, basis points, and
DECIMAL(38,0) moments — no float-accumulation hazard anywhere.

Scale notes (100 TB posture):

* the skyline uses two RANGE-frame windows over ONE shuffle on the
  group key — never the O(n^2) NOT-EXISTS self-join the textbook
  definition suggests (the oracle uses the same window form; the
  semantics are the dominance definition in the docstring);
* trend regression is a single map-side-combinable aggregate of
  five DECIMAL(38,0) moments; the slope is derived per-group from
  the closed form afterward — no second pass over facts;
* triangle counting orients edges low-degree -> high-degree before
  the wedge join (the compact-forward algorithm), so the wedge
  explosion is bounded by sum(out_deg^2) with out_deg <= sqrt(2m)
  instead of the hub's full degree^2 — the difference between
  feasible and not on a power-law graph;
* systematic PPS sampling computes the global cumulative weight in
  TWO phases (per-bucket running sums + a tiny bucket-offset
  table), never a single-partition window over fact rows;
* attribution touches shuffle once on user for the next-purchase
  window and once on (user, purchase) for position credit;
* the similarity join is the PPJoin prefix-filter shape: candidates
  only where rare-token prefixes collide, exact Jaccard verify
  after — the oracle is the brute-force all-pairs definition, so
  the test proves the filter loses nothing.
"""

from __future__ import annotations

from pyspark.sql import SparkSession, Window as W
from pyspark.sql import functions as F

from sfs3_kinesis_spark.plans.core import register, t, t_nonnull


@register(
    "mine_pareto_frontier",
    """
    WITH o AS (
        SELECT o_orderpriority,
               CAST(date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) AS BIGINT) AS day,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        FROM orders
        WHERE o_orderpriority IS NOT NULL AND o_orderdate IS NOT NULL
          AND o_totalprice IS NOT NULL),
    f AS (
        SELECT o_orderpriority, day, cents,
               max(cents) OVER (PARTITION BY o_orderpriority ORDER BY day
                    RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS mu,
               max(cents) OVER (PARTITION BY o_orderpriority ORDER BY day
                    RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mb
        FROM o)
    SELECT o_orderpriority, day, cents, CAST(count(*) AS BIGINT) AS n_tied
    FROM f WHERE cents = mu AND (mb IS NULL OR cents > mb)
    GROUP BY o_orderpriority, day, cents
    """,
    tags=("mining", "skyline", "window", "exact_arithmetic"),
    description=(
        "Pareto (skyline) frontier per priority: orders not dominated "
        "on (earlier-or-equal day, higher-or-equal price with one "
        "strict) — two RANGE-frame windows over ONE shuffle on the "
        "group key instead of the O(n^2) NOT-EXISTS self-join; a row "
        "is on the frontier iff it is the running max including its "
        "day AND strictly beats the running max of strictly-earlier "
        "days; exact-duplicate (day, cents) points are all kept "
        "(mutual non-dominance), reported once with a tie count"
    ),
)
def mine_pareto_frontier(spark: SparkSession, sf_dir: str):
    o = t_nonnull(
        spark, sf_dir, "orders", "o_orderpriority", "o_orderdate", "o_totalprice"
    ).select(
        "o_orderpriority",
        F.datediff(F.to_date("o_orderdate"), F.lit("1995-01-01"))
        .cast("long")
        .alias("day"),
        F.expr("CAST(floor(o_totalprice * 100 + 0.5D) AS BIGINT)").alias("cents"),
    )
    base = W.partitionBy("o_orderpriority").orderBy("day")
    mu = F.max("cents").over(base.rangeBetween(W.unboundedPreceding, 0))
    mb = F.max("cents").over(base.rangeBetween(W.unboundedPreceding, -1))
    f = o.withColumn("mu", mu).withColumn("mb", mb)
    return (
        f.filter(
            (F.col("cents") == F.col("mu"))
            & (F.col("mb").isNull() | (F.col("cents") > F.col("mb")))
        )
        .groupBy("o_orderpriority", "day", "cents")
        .agg(F.count("*").cast("long").alias("n_tied"))
    )


@register(
    "regress_group_trend",
    """
    WITH c AS (
        SELECT event_type,
               CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS HUGEINT) AS x,
               CAST(floor(value * 100 + 0.5) AS HUGEINT) AS y
        FROM events),
    g AS (
        SELECT event_type,
               CAST(count(*) AS HUGEINT) AS n,
               sum(x) AS sx, sum(y) AS sy,
               sum(x * y) AS sxy, sum(x * x) AS sxx
        FROM c GROUP BY event_type),
    d AS (
        SELECT event_type, n,
               n * sxy - sx * sy AS num,
               n * sxx - sx * sx AS den
        FROM g)
    SELECT event_type,
           CAST(n AS BIGINT) AS n_rows,
           CAST(CAST(num AS DECIMAL(38,0)) AS VARCHAR) AS num,
           CAST(CAST(den AS DECIMAL(38,0)) AS VARCHAR) AS den,
           CAST((1000000 * num - (((1000000 * num) % den) + den) % den) // den
                AS BIGINT) AS slope_micro
    FROM d
    """,
    tags=("analytics", "regression", "agg", "exact_arithmetic"),
    description=(
        "per-group OLS trend (cents/day) in exact integer arithmetic: "
        "five DECIMAL(38,0) moments (n, sum x, sum y, sum xy, sum x^2) "
        "in ONE map-side-combinable aggregate, slope derived from the "
        "closed form n*sxy - sx*sy over n*sxx - sx^2 with a floor "
        "division that is exact at any magnitude (the mod adjustment "
        "makes truncating division floor toward -inf for negative "
        "numerators, matching Python // exactly); x is centered on "
        "the fixture epoch so the moments stay far from the 38-digit "
        "ceiling — the single-pass distributed regression shape"
    ),
)
def regress_group_trend(spark: SparkSession, sf_dir: str):
    e = t(spark, sf_dir, "events")
    c = e.select(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("2024-01-01"))
        .cast("decimal(38,0)")
        .alias("x"),
        F.expr("CAST(floor(value * 100 + 0.5D) AS DECIMAL(38,0))").alias("y"),
    )
    g = c.groupBy("event_type").agg(
        F.count("*").cast("decimal(38,0)").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.expr("x * y")).alias("sxy"),
        F.sum(F.expr("x * x")).alias("sxx"),
    )
    d = g.select(
        "event_type",
        F.col("n").cast("long").alias("n_rows"),
        F.expr("CAST(n * sxy - sx * sy AS DECIMAL(38,0))").alias("_num"),
        F.expr("CAST(n * sxx - sx * sx AS DECIMAL(38,0))").alias("_den"),
    )
    # DECIMAL stays internal; the emitted num/den are canonical digit
    # strings (the one rendering every harness hashes identically —
    # same normalization as agg_decimal_exact_products).
    return d.select(
        "event_type",
        "n_rows",
        F.col("_num").cast("string").alias("num"),
        F.col("_den").cast("string").alias("den"),
        F.expr(
            "CAST((1000000 * _num - (((1000000 * _num) % _den) + _den) % _den) / _den"
            " AS BIGINT)"
        ).alias("slope_micro"),
    )


@register(
    "graph_triangle_count",
    """
    WITH lp AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
    prs AS (
        SELECT a.p AS u, b.p AS v
        FROM lp a JOIN lp b ON a.o = b.o AND a.p < b.p),
    e AS (SELECT u, v FROM prs GROUP BY u, v HAVING count(*) >= 2),
    deg AS (
        SELECT node, count(*) AS c
        FROM (SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e)
        GROUP BY node),
    tri AS (
        SELECT count(*) AS t
        FROM e e1 JOIN e e2 ON e2.u = e1.v JOIN e e3
          ON e3.u = e1.u AND e3.v = e2.v)
    SELECT CAST((SELECT count(*) FROM e) AS BIGINT) AS n_edges,
           CAST((SELECT count(*) FROM deg) AS BIGINT) AS n_nodes,
           CAST((SELECT max(c) FROM deg) AS BIGINT) AS max_degree,
           CAST((SELECT t FROM tri) AS BIGINT) AS n_triangles
    """,
    tags=("graph", "triangle", "join", "skew"),
    description=(
        "exact triangle count on the co-purchase graph (parts appearing "
        "in the same order at least twice across orders, support >= 2): "
        "Spark orients each undirected edge from the lower-(degree, id) "
        "endpoint to the higher (compact-forward), so every triangle is "
        "counted exactly once at its smallest vertex and the wedge join "
        "fans out as out-degree^2 <= 2m per node instead of a hub's full "
        "degree^2 — the skew hardening that makes triangle counting "
        "feasible on power-law graphs; the oracle is the id-ordered "
        "textbook 3-way self-join, which must agree on the count"
    ),
)
def graph_triangle_count(spark: SparkSession, sf_dir: str):
    li = (
        t(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    pairs = (
        li.alias("a")
        .join(li.alias("b"), (F.col("a.o") == F.col("b.o")) & (F.col("a.p") < F.col("b.p")))
        .select(F.col("a.p").alias("u"), F.col("b.p").alias("v"))
    )
    e = pairs.groupBy("u", "v").agg(F.count("*").alias("w")).filter("w >= 2").select("u", "v")
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("c"))
    )
    # orient low-(degree, id) -> high-(degree, id); okey is a total order
    du = F.broadcast(deg).alias("du")
    dv = F.broadcast(deg).alias("dv")
    ek = (
        e.join(du, F.col("u") == F.col("du.node"))
        .join(dv, F.col("v") == F.col("dv.node"))
        .select(
            "u",
            "v",
            (F.col("du.c") * F.lit(10_000_000) + F.col("u")).alias("ku"),
            (F.col("dv.c") * F.lit(10_000_000) + F.col("v")).alias("kv"),
        )
    )
    oriented = ek.select(
        F.when(F.col("ku") < F.col("kv"), F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(F.col("ku") < F.col("kv"), F.col("v")).otherwise(F.col("u")).alias("dst"),
        F.least("ku", "kv").alias("sk"),
        F.greatest("ku", "kv").alias("dk"),
    )
    wedges = (
        oriented.alias("e1")
        .join(
            oriented.alias("e2"),
            (F.col("e1.src") == F.col("e2.src")) & (F.col("e1.dk") < F.col("e2.dk")),
        )
        .select(F.col("e1.dst").alias("a"), F.col("e2.dst").alias("b"))
    )
    closing = oriented.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    tri = wedges.join(closing, ["a", "b"], "left_semi").count()
    # tri is computed distributed; the scalar readout joins tiny 1-row aggs
    summary = e.agg(F.count("*").cast("long").alias("n_edges")).crossJoin(
        deg.agg(
            F.count("*").cast("long").alias("n_nodes"),
            F.max("c").cast("long").alias("max_degree"),
        )
    )
    return summary.withColumn("n_triangles", F.lit(tri).cast("long"))


@register(
    "events_snapshot_diff",
    """
    WITH k AS (
        SELECT user_id, ts, event_type,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
               lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
                 || lpad(CAST(event_id AS VARCHAR), 12, '0') AS skey
        FROM events WHERE value IS NOT NULL),
    s1 AS (
        SELECT user_id,
               arg_max(cents, skey) AS c1, arg_max(event_type, skey) AS t1
        FROM k WHERE ts < TIMESTAMP '2024-01-15' GROUP BY user_id),
    s2 AS (
        SELECT user_id,
               arg_max(cents, skey) AS c2, arg_max(event_type, skey) AS t2
        FROM k WHERE ts < TIMESTAMP '2024-01-25' GROUP BY user_id),
    j AS (
        SELECT s2.user_id, s1.c1, s1.t1, s2.c2, s2.t2,
               CASE WHEN s1.user_id IS NULL THEN 'added'
                    WHEN s1.c1 <> s2.c2 OR s1.t1 <> s2.t2 THEN 'changed'
                    ELSE 'unchanged' END AS status
        FROM s2 LEFT JOIN s1 ON s1.user_id = s2.user_id)
    SELECT status, t2 AS latest_type,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(CASE WHEN status = 'changed' THEN abs(c2 - c1) ELSE 0 END)
                AS BIGINT) AS drift_cents
    FROM j GROUP BY status, t2
    """,
    tags=("events", "cdc", "snapshot", "diff", "argmax"),
    description=(
        "snapshot diff between two as-of states (the table-version "
        "comparison a lakehouse time-travel read powers): latest "
        "per-user (value, type) at T1 vs T2 via arg_max over a "
        "fixed-width (epoch-micros || event_id) string key — a total "
        "order, so ties are impossible and both engines pick the same "
        "row; states full-join on the entity key and classify "
        "added / changed / unchanged with exact cent drift.  Events "
        "are append-only so 'removed' cannot occur (documented); both "
        "state builds are ONE map-side-combinable aggregate each — "
        "never a window sort over fact rows"
    ),
)
def events_snapshot_diff(spark: SparkSession, sf_dir: str):
    e = t_nonnull(spark, sf_dir, "events", "value")
    k = e.select(
        "user_id",
        "ts",
        "event_type",
        F.expr("CAST(floor(value * 100 + 0.5D) AS BIGINT)").alias("cents"),
        F.concat(
            F.lpad(F.unix_micros("ts").cast("string"), 20, "0"),
            F.lpad(F.col("event_id").cast("string"), 12, "0"),
        ).alias("skey"),
    )

    def state(cutoff: str, cc: str, tc: str):
        return (
            k.filter(F.col("ts") < F.lit(cutoff).cast("timestamp"))
            .groupBy("user_id")
            .agg(
                F.max_by("cents", "skey").alias(cc),
                F.max_by("event_type", "skey").alias(tc),
            )
        )

    s1 = state("2024-01-15", "c1", "t1")
    s2 = state("2024-01-25", "c2", "t2")
    j = s2.join(s1, "user_id", "left").select(
        F.when(s1["c1"].isNull(), "added")
        .when((F.col("c1") != F.col("c2")) | (F.col("t1") != F.col("t2")), "changed")
        .otherwise("unchanged")
        .alias("status"),
        F.col("t2").alias("latest_type"),
        "c1",
        "c2",
    )
    return j.groupBy("status", "latest_type").agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum(
            F.when(F.col("status") == "changed", F.abs(F.col("c2") - F.col("c1"))).otherwise(
                F.lit(0)
            )
        )
        .cast("long")
        .alias("drift_cents"),
    )


@register(
    "sample_systematic_pps",
    """
    WITH d AS (SELECT doc_id, CAST(n_chars AS BIGINT) AS w FROM documents),
    c AS (SELECT doc_id, w, sum(w) OVER (ORDER BY doc_id) AS cum FROM d),
    tot AS (SELECT CAST(sum(w) AS BIGINT) AS total FROM d),
    s AS (SELECT CAST(r.i AS BIGINT) AS stride_i,
                 (r.i * total) // 100 + 1 AS pos
          FROM range(0, 100) r(i), tot)
    SELECT s.stride_i, CAST(s.pos AS BIGINT) AS pos, c.doc_id,
           CAST(c.w AS BIGINT) AS w
    FROM s JOIN c ON s.pos > c.cum - c.w AND s.pos <= c.cum
    """,
    tags=("sampling", "pps", "deterministic", "two_phase"),
    description=(
        "systematic probability-proportional-to-size sampling: 100 "
        "equally spaced positions in cumulative-character space, each "
        "selecting the document whose weight interval contains it — "
        "deterministic (no rng), inclusion probability proportional "
        "to n_chars, the classic token-budget corpus sampler.  The "
        "global running sum is computed in TWO phases (per-bucket "
        "window on contiguous doc_id DIV 4096 buckets + a tiny "
        "bucket-offset cumsum broadcast back), never a single-"
        "partition window over fact rows; the 100-row stride table "
        "joins via broadcast interval lookup"
    ),
)
def sample_systematic_pps(spark: SparkSession, sf_dir: str):
    d = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.col("n_chars").cast("long").alias("w"),
        (F.col("doc_id") / F.lit(4096)).cast("long").alias("b"),
    )
    wb = W.partitionBy("b").orderBy("doc_id")
    inb = d.withColumn("cum_in", F.sum("w").over(wb))
    bt = d.groupBy("b").agg(F.sum("w").alias("bw"))
    wo = W.orderBy("b").rowsBetween(W.unboundedPreceding, -1)
    off = bt.withColumn("off", F.coalesce(F.sum("bw").over(wo), F.lit(0))).select("b", "off")
    c = inb.join(F.broadcast(off), "b").select(
        "doc_id", "w", (F.col("off") + F.col("cum_in")).alias("cum")
    )
    total = d.agg(F.sum("w").cast("long").alias("total"))
    s = (
        spark.range(0, 100)
        .select(F.col("id").alias("stride_i"))
        .crossJoin(F.broadcast(total))
        .select(
            "stride_i",
            (F.expr("(stride_i * total) DIV 100") + F.lit(1)).alias("pos"),
        )
    )
    return (
        F.broadcast(s)
        .join(c, (F.col("pos") > F.col("cum") - F.col("w")) & (F.col("pos") <= F.col("cum")))
        .select("stride_i", F.col("pos").cast("long").alias("pos"), "doc_id", "w")
    )


@register(
    "attrib_u_shaped",
    """
    WITH tch AS (
        SELECT user_id, ts, event_id, event_type FROM events
        WHERE event_type IN ('click', 'view')),
    pur AS (
        SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'),
    cand AS (
        SELECT t.user_id, t.ts, t.event_id, t.event_type,
               p.ts AS pts, p.event_id AS pid,
               row_number() OVER (PARTITION BY t.user_id, t.event_id
                                  ORDER BY p.ts, p.event_id) AS prn
        FROM tch t JOIN pur p ON p.user_id = t.user_id
          AND (p.ts > t.ts OR (p.ts = t.ts AND p.event_id > t.event_id))),
    att AS (
        SELECT user_id, ts, event_id, event_type, pts, pid FROM cand
        WHERE prn = 1 AND ts >= pts - INTERVAL 7 DAY),
    pos AS (
        SELECT event_type,
               row_number() OVER (PARTITION BY user_id, pid
                                  ORDER BY ts, event_id) AS rn,
               count(*) OVER (PARTITION BY user_id, pid) AS n
        FROM att),
    cr AS (
        SELECT event_type,
               CASE WHEN n = 1 THEN 10000
                    WHEN n = 2 THEN 5000
                    WHEN rn = 1 THEN 4000
                    WHEN rn = n THEN 4000 + (2000 - (n - 2) * (2000 // (n - 2)))
                    ELSE 2000 // (n - 2) END AS credit
        FROM pos)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_touches,
           CAST(sum(credit) AS BIGINT) AS credit_bp
    FROM cr GROUP BY event_type
    """,
    tags=("analytics", "attribution", "window", "exact_arithmetic"),
    description=(
        "U-shaped multi-touch attribution: every click/view is tied "
        "to the NEXT purchase by the same user (strictly after in the "
        "(ts, event_id) total order, within a 7-day lookback), and "
        "each purchase's 10000 basis points split 40/20/40 — first "
        "and last touch get 4000 each, middles share 2000 by integer "
        "floor-division with the remainder assigned to the last touch "
        "so every conversion's credit sums to exactly 10000.  Spark "
        "finds the next purchase with ONE descending-frame window "
        "(first non-null following purchase as a struct, so ts and id "
        "come from the same row) — no join against the purchase "
        "table; position credit is a second window keyed on (user, "
        "purchase).  The oracle derives the same pairing from an "
        "explicit join + row_number argmin, an independent formulation"
    ),
)
def attrib_u_shaped(spark: SparkSession, sf_dir: str):
    e = t(spark, sf_dir, "events").select("user_id", "ts", "event_id", "event_type")
    w = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(1, W.unboundedFollowing)
    np_ = F.first(
        F.when(
            F.col("event_type") == "purchase", F.struct(F.col("ts"), F.col("event_id"))
        ),
        ignorenulls=True,
    ).over(w)
    tagged = e.withColumn("np", np_)
    att = tagged.filter(
        F.col("event_type").isin("click", "view")
        & F.col("np").isNotNull()
        & (F.col("ts") >= F.col("np.ts") - F.expr("INTERVAL 7 DAY"))
    ).select("user_id", "ts", "event_id", "event_type", F.col("np.event_id").alias("pid"))
    wp = W.partitionBy("user_id", "pid").orderBy("ts", "event_id")
    wn = W.partitionBy("user_id", "pid")
    pos = att.withColumn("rn", F.row_number().over(wp)).withColumn(
        "n", F.count("*").over(wn)
    )
    mid = F.expr("2000 DIV (n - 2)")
    credit = (
        F.when(F.col("n") == 1, F.lit(10000))
        .when(F.col("n") == 2, F.lit(5000))
        .when(F.col("rn") == 1, F.lit(4000))
        .when(
            F.col("rn") == F.col("n"),
            F.lit(4000) + (F.lit(2000) - (F.col("n") - 2) * mid),
        )
        .otherwise(mid)
    )
    return (
        pos.withColumn("credit", credit)
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_touches"),
            F.sum("credit").cast("long").alias("credit_bp"),
        )
    )


_SIMJOIN_ORACLE = """
    WITH d AS (
        SELECT doc_id, string_split(text, ' ') AS tk FROM documents
        WHERE len(string_split(text, ' ')) >= 3),
    sh AS (
        SELECT doc_id,
               list_distinct([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
                              FOR i IN range(1, len(tk) - 1)]) AS s
        FROM d),
    nn AS (SELECT doc_id, len(s) AS n FROM sh),
    ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
        FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id)
    SELECT doc_a, doc_b,
           CAST((10000 * i) // (na.n + nb.n - i) AS BIGINT) AS jac_bp
    FROM inter
    JOIN nn na ON na.doc_id = doc_a
    JOIN nn nb ON nb.doc_id = doc_b
    WHERE 10 * i >= 9 * (na.n + nb.n - i)
    """


@register(
    "similarity_join_prefix_filter",
    _SIMJOIN_ORACLE,
    tags=("similarity", "dedup", "prefix_filter", "ppjoin", "shingle"),
    description=(
        "set-similarity self-join at Jaccard >= 0.9 over distinct "
        "3-word shingle sets, via PPJoin prefix + length + positional "
        "filtering: shingles globally ranked rarest-first by document "
        "frequency, each document keeps only its first "
        "n - ceil(0.9n) + 1 ranks as its prefix, candidate pairs come "
        "from an equi-join on prefix ranks (any true pair MUST share "
        "a prefix element — the standard prefix-filter guarantee, "
        "which the oracle's filter-free all-pairs intersection join "
        "independently proves lossless), pruned in-join by the length "
        "bound (min(na,nb) >= 0.9*max — without it cross-size-class "
        "prefix collisions dominate candidate growth at scale, the "
        "r08 e=1.18 finding) and the Xiao et al. 2008 positional "
        "bound (1 + min(remaining ranks) >= ceil(9(na+nb)/19)), then "
        "exact integer Jaccard verification in basis points.  "
        "Shingles, not unigrams: the candidate join keys on the "
        "universe of word trigrams, so prefix elements are genuinely "
        "rare and candidate fan-out stays near the true pair count"
    ),
)
def similarity_join_prefix_filter(spark: SparkSession, sf_dir: str):
    from sfs3_kinesis_spark.operators.dedup import jaccard_pairs_exact, shingles

    docs = t(spark, sf_dir, "documents").filter(F.size(F.split("text", " ")) >= 3)
    return jaccard_pairs_exact(
        shingles(docs, n=3).select("doc_id", "shingles"), threshold_bp=9000
    ).withColumnRenamed("jaccard_bp", "jac_bp")


@register(
    "quality_gopher_rules",
    """
    WITH d AS (
        SELECT doc_id, string_split(text, ' ') AS toks
        FROM documents WHERE text IS NOT NULL),
    m AS (
        SELECT doc_id, toks,
               len(toks) AS n_words,
               list_sum(list_transform(toks, x -> CAST(length(x) AS BIGINT)))
                   AS sum_len,
               len(list_filter(['the','a','of','to','and','in','is','that'],
                   x -> list_contains(toks, x))) AS n_stop,
               list_max(list_transform(list_distinct(toks),
                   x -> len(list_filter(toks, y -> y = x)))) AS max_tok
        FROM d),
    fl AS (
        SELECT doc_id,
               CAST(n_words AS BIGINT) AS n_words,
               CAST(n_words BETWEEN 10 AND 1000 AS BIGINT) AS ok_word_count,
               CAST(sum_len >= 3 * n_words AND sum_len <= 10 * n_words
                    AS BIGINT) AS ok_mean_word_len,
               CAST(n_stop >= 2 AS BIGINT) AS ok_stopwords,
               CAST(5 * max_tok <= n_words AS BIGINT) AS ok_repetition
        FROM m)
    SELECT doc_id, n_words, ok_word_count, ok_mean_word_len, ok_stopwords,
           ok_repetition,
           CAST(ok_word_count * ok_mean_word_len * ok_stopwords
                * ok_repetition AS BIGINT) AS keep
    FROM fl
    """,
    tags=("text", "quality", "gopher", "filter"),
    description=(
        "Gopher-style document-quality rule battery (per-doc boolean "
        "flags, all integer-exact): word count in [10, 1000], mean "
        "word length in [3, 10] by cross-multiplication (sum_len vs "
        "3n and 10n — no float division), at least 2 distinct English "
        "stopwords present, and no single token above 20% of the "
        "document (5 * max_count <= n_words).  keep = AND of all "
        "flags.  Pure per-row array lambdas — embarrassingly "
        "parallel, no shuffle at any scale; the rule thresholds "
        "mirror Rae et al.'s Gopher data pipeline (public paper)"
    ),
)
def quality_gopher_rules(spark: SparkSession, sf_dir: str):
    d = t_nonnull(spark, sf_dir, "documents", "text").select("doc_id", F.split("text", " ").alias("toks"))
    m = d.select(
        "doc_id",
        F.size("toks").alias("n_words"),
        F.expr("aggregate(toks, 0L, (a, x) -> a + length(x))").alias("sum_len"),
        F.expr(
            "size(filter(array('the','a','of','to','and','in','is','that'),"
            " x -> array_contains(toks, x)))"
        ).alias("n_stop"),
        F.expr(
            "array_max(transform(array_distinct(toks),"
            " x -> size(filter(toks, y -> y = x))))"
        ).alias("max_tok"),
    )
    fl = m.select(
        "doc_id",
        F.col("n_words").cast("long").alias("n_words"),
        F.col("n_words").between(10, 1000).cast("long").alias("ok_word_count"),
        (
            (F.col("sum_len") >= 3 * F.col("n_words"))
            & (F.col("sum_len") <= 10 * F.col("n_words"))
        )
        .cast("long")
        .alias("ok_mean_word_len"),
        (F.col("n_stop") >= 2).cast("long").alias("ok_stopwords"),
        (5 * F.col("max_tok") <= F.col("n_words")).cast("long").alias("ok_repetition"),
    )
    return fl.withColumn(
        "keep",
        (
            F.col("ok_word_count")
            * F.col("ok_mean_word_len")
            * F.col("ok_stopwords")
            * F.col("ok_repetition")
        ).cast("long"),
    )


def _det3(m: list[list[str]]) -> str:
    """Cofactor expansion of a symbolic 3x3 determinant — ONE text
    shared verbatim by the Spark expression and the DuckDB oracle, so
    the Cramer solve cannot diverge between engines."""
    a, b, c = m[0]
    d, e, f = m[1]
    g, h, i = m[2]
    return (
        f"({a} * ({e} * {i} - {f} * {h}) "
        f"- {b} * ({d} * {i} - {f} * {g}) "
        f"+ {c} * ({d} * {h} - {e} * {g}))"
    )


#: normal-equation matrices for y ~ 1 + x1 + x2 (shared text)
_XTX = [["n", "s1", "s2"], ["s1", "s11", "s12"], ["s2", "s12", "s22"]]
_OLS_DET = _det3(_XTX)
_OLS_NUM0 = _det3([["sy", "s1", "s2"], ["s1y", "s11", "s12"], ["s2y", "s12", "s22"]])
_OLS_NUM1 = _det3([["n", "sy", "s2"], ["s1", "s1y", "s12"], ["s2", "s2y", "s22"]])
_OLS_NUM2 = _det3([["n", "s1", "sy"], ["s1", "s11", "s1y"], ["s2", "s12", "s2y"]])

#: sign-safe exact floor division (numerator may be negative; the
#: Gram determinant is positive for any non-degenerate design)
def _floordiv(num: str, den: str) -> str:
    return (
        f"(1000000 * {num} - (((1000000 * {num}) % {den}) + {den}) % {den}) / {den}"
    )


@register(
    "regress_ols_normal_equations",
    f"""
    WITH c AS (
        SELECT CAST(l_quantity AS HUGEINT) AS x1,
               CAST(floor(l_discount * 100 + 0.5) AS HUGEINT) AS x2,
               CAST(floor(l_extendedprice * 100 + 0.5) AS HUGEINT) AS y
        FROM lineitem),
    m AS (
        SELECT CAST(count(*) AS HUGEINT) AS n,
               sum(x1) AS s1, sum(x2) AS s2, sum(y) AS sy,
               sum(x1 * x1) AS s11, sum(x1 * x2) AS s12,
               sum(x2 * x2) AS s22, sum(x1 * y) AS s1y, sum(x2 * y) AS s2y
        FROM c),
    d AS (
        SELECT n, {_OLS_DET} AS det, {_OLS_NUM0} AS num0,
               {_OLS_NUM1} AS num1, {_OLS_NUM2} AS num2
        FROM m)
    SELECT CAST(n AS BIGINT) AS n_rows,
           CAST(CAST(det AS DECIMAL(38,0)) AS VARCHAR) AS det,
           CAST({_floordiv('num0', 'det')} AS BIGINT) AS b0_micro,
           CAST({_floordiv('num1', 'det')} AS BIGINT) AS b1_micro,
           CAST({_floordiv('num2', 'det')} AS BIGINT) AS b2_micro
    FROM d
    """,
    tags=("analytics", "regression", "ols", "linalg", "exact_arithmetic"),
    description=(
        "multivariate OLS (price-cents ~ 1 + quantity + discount-pct) "
        "solved by normal equations in ONE map-side-combinable "
        "aggregate of nine integer moments, then Cramer's rule on the "
        "3x3 system — the determinant expansions are a SINGLE symbolic "
        "text shared by both engines, and the sign-safe exact floor "
        "division matches at any magnitude.  The distributed shape of "
        "closed-form linear models: moments shuffle once (tiny), the "
        "solve is O(1) driver arithmetic; the d-feature generalization "
        "is the gram_moments kernel + a bounded d x d solve.  Exact-"
        "integer envelope documented: centered/scaled regressors keep "
        "the 3x3 determinant inside DECIMAL(38,0) far past 1e10 rows; "
        "production at larger n solves the same collected moments in "
        "float64, which changes no distributed work"
    ),
)
def regress_ols_normal_equations(spark: SparkSession, sf_dir: str):
    c = t(spark, sf_dir, "lineitem").select(
        F.expr("CAST(l_quantity AS DECIMAL(38,0))").alias("x1"),
        F.expr("CAST(floor(l_discount * 100 + 0.5D) AS DECIMAL(38,0))").alias("x2"),
        F.expr("CAST(floor(l_extendedprice * 100 + 0.5D) AS DECIMAL(38,0))").alias("y"),
    )
    m = c.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("x1").alias("s1"),
        F.sum("x2").alias("s2"),
        F.sum("y").alias("sy"),
        F.sum(F.expr("x1 * x1")).alias("s11"),
        F.sum(F.expr("x1 * x2")).alias("s12"),
        F.sum(F.expr("x2 * x2")).alias("s22"),
        F.sum(F.expr("x1 * y")).alias("s1y"),
        F.sum(F.expr("x2 * y")).alias("s2y"),
    )
    d = m.select(
        "n",
        F.expr(f"CAST({_OLS_DET} AS DECIMAL(38,0))").alias("det"),
        F.expr(f"CAST({_OLS_NUM0} AS DECIMAL(38,0))").alias("num0"),
        F.expr(f"CAST({_OLS_NUM1} AS DECIMAL(38,0))").alias("num1"),
        F.expr(f"CAST({_OLS_NUM2} AS DECIMAL(38,0))").alias("num2"),
    )
    return d.select(
        F.col("n").cast("long").alias("n_rows"),
        F.col("det").cast("string").alias("det"),
        F.expr(f"CAST({_floordiv('num0', 'det')} AS BIGINT)").alias("b0_micro"),
        F.expr(f"CAST({_floordiv('num1', 'det')} AS BIGINT)").alias("b1_micro"),
        F.expr(f"CAST({_floordiv('num2', 'det')} AS BIGINT)").alias("b2_micro"),
    )
