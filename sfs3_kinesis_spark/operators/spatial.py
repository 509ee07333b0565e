"""Spatial grid-join operators: radius self-join and bounded kNN on
integer coordinates.

The scalable shape for "find nearby points" without a spatial index:
bucket the plane into square cells of side >= radius, and a point's
neighbors provably live in its 3x3 cell neighborhood (Chebyshev
distance <= radius < 2 * cell implies |cell delta| <= 1 when
cell >= radius).  The left side explodes to its 9 candidate cells and
equi-joins the right side's HOME cell, so each candidate pair arises
EXACTLY once — no dedup pass — and O(n^2) collapses to
sum-of-cell-products.  Distances are exact int64 Chebyshev; the
corpus queries verify against DuckDB brute force, and the property
test verifies against a Python brute force on arbitrary points.

At 100 TB: one shuffle on the cell key per side; skewed cells (hot
spots) fall under AQE skew-join handling or the salted-join rescue.
"""

from __future__ import annotations

import os as _os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W

#: adaptive topology threshold for :func:`_dbscan_parts` (r11): a
#: contracted core-cell table at or below this many cells is
#: collected once and its d1/d2/blocked hub topology computed
#: driver-side (O(#cells) dict lookups, identical edge set); above
#: it, the distributed explode-join formulation runs.  Same strategy
#: family as ``SFS3K_DRIVER_CC_MAX_EDGES`` (operators/dedup.py); 0
#: forces the distributed path (the test/audit lever).
DRIVER_DBSCAN_MAX_CELLS = int(
    _os.environ.get("SFS3K_DRIVER_DBSCAN_MAX_CELLS", "2000000")
)


def _floor_div(col: str, cell: int) -> str:
    """Exact integer FLOOR division (toward -inf).  Spark's DIV
    truncates toward zero, which makes cell 0 span (-cell, +cell) —
    nearly double width — for negative coordinates, degrading the
    3x3 pruning around the origin and breaking the uniform-width
    assumption of the coverage proof (r02 ADVICE).  The pmod
    adjustment keeps it pure int64 (no double round-trip)."""
    return f"(({col} - ((({col} % {cell}) + {cell}) % {cell})) DIV {cell})"


def _celled(points: DataFrame, x: str, y: str, cell: int) -> DataFrame:
    return points.withColumn("_cx", F.expr(_floor_div(x, cell))).withColumn(
        "_cy", F.expr(_floor_div(y, cell))
    )


def _exploded_left(p: DataFrame, id_col: str, x: str, y: str) -> DataFrame:
    return (
        p.select(
            F.col(id_col).alias("_a_id"),
            F.col(x).alias("_ax"),
            F.col(y).alias("_ay"),
            "_cx",
            "_cy",
            F.explode(F.expr("array(-1, 0, 1)")).alias("_dx"),
        )
        .select(
            "_a_id",
            "_ax",
            "_ay",
            (F.col("_cx") + F.col("_dx")).alias("_jx"),
            "_cy",
            F.explode(F.expr("array(-1, 0, 1)")).alias("_dy"),
        )
        .select("_a_id", "_ax", "_ay", "_jx", (F.col("_cy") + F.col("_dy")).alias("_jy"))
    )


def grid_radius_pairs(
    points: DataFrame,
    *,
    id_col: str,
    x: str,
    y: str,
    radius: int,
    cell: int | None = None,
    directed: bool = False,
) -> DataFrame:
    """All point pairs within Chebyshev ``radius``.

    Returns (a_id, b_id, d).  Undirected by default (each unordered
    pair once, ``a_id < b_id``); ``directed=True`` emits both
    orientations (the kNN candidate form).  ``cell`` defaults to the
    radius — any cell >= radius preserves the 3x3 coverage proof.
    """
    cell = cell or radius
    if cell < radius:
        raise ValueError("cell must be >= radius for 3x3 coverage")
    p = _celled(points, x, y, cell)
    left = _exploded_left(p, id_col, x, y)
    right = p.select(
        F.col(id_col).alias("_b_id"),
        F.col(x).alias("_bx"),
        F.col(y).alias("_by"),
        F.col("_cx").alias("_jx"),
        F.col("_cy").alias("_jy"),
    )
    cheb = F.greatest(F.abs(F.col("_ax") - F.col("_bx")), F.abs(F.col("_ay") - F.col("_by")))
    id_pred = (
        (F.col("_a_id") != F.col("_b_id"))
        if directed
        else (F.col("_a_id") < F.col("_b_id"))
    )
    return (
        left.join(right, ["_jx", "_jy"])
        .filter(id_pred & (cheb <= radius))
        .select(
            F.col("_a_id").alias("a_id"),
            F.col("_b_id").alias("b_id"),
            cheb.cast("long").alias("d"),
        )
    )


#: canonical half-plane direction rule shared by the contraction
#: edges below: an offset is canonical iff it is lexicographically
#: positive, so every unordered cell pair arises from exactly one
#: exploded orientation.
def _canonical(dx: int, dy: int) -> bool:
    return dx > 0 or (dx == 0 and dy > 0)


#: distance-1 canonical offsets (4 of 8): any point pair between
#: cells at Chebyshev cell-distance <= 1 is within eps by the forced
#: cell size (see dbscan_core_clusters), so these edges need no
#: point-level check.
_D1_OFFS = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)
            if max(abs(dx), abs(dy)) == 1 and _canonical(dx, dy)]

#: distance-2 canonical offsets (8 of 16) with, per offset, the
#: intermediate cells adjacent (cell-distance <= 1) to BOTH endpoints
#: — if any intermediate holds a core point, the endpoint cells are
#: already transitively connected through it and the point-level
#: existence check is redundant.
_D2_OFFS = [(dx, dy) for dx in range(-2, 3) for dy in range(-2, 3)
            if max(abs(dx), abs(dy)) == 2 and _canonical(dx, dy)]
_D2_INTERMEDIATES = {
    (dx, dy): [
        (ix, iy)
        for ix in (-1, 0, 1)
        for iy in (-1, 0, 1)
        if max(abs(ix - dx), abs(iy - dy)) <= 1
    ]
    for (dx, dy) in _D2_OFFS
}


def dbscan_core_clusters(
    points: DataFrame,
    *,
    id_col: str,
    x: str,
    y: str,
    eps: int,
    min_pts: int,
) -> DataFrame:
    """DBSCAN core points + clusters WITHOUT enumerating eps-neighbor
    pairs — the scale path for density clustering on a domain whose
    density grows with the corpus.

    The naive composition (grid radius join -> per-point counts ->
    core-core edge list -> connected components; the oracle-twin
    query ``spatial_dbscan_core``) is quadratic BY SEMANTICS when
    density rises: eps-pair volume is sum-of-cell-products (measured
    pair exponent 1.96 per data decade on the fixed 1000x1000 stress
    torus — r09 verdict What's-wrong #2).  This operator is the
    grid-contraction formulation from the exact-DBSCAN literature
    (Gunawan 2013; Gan & Tao SIGMOD 2015 — public):

    * **cell side s = (eps+1) DIV 2** — derived from eps, the unique
      side (for integer Chebyshev) where cells at cell-distance <= 1
      are FULLY inside eps (max coord diff 2s-1 <= eps) and cells at
      cell-distance >= 3 are fully outside (min diff 2s+1 > eps), so
      a point's eps-neighborhood lives in its 5x5 cell block and the
      3x3 inner block needs no distance checks at all;
    * **core test by cell-count sums**: sum of the 3x3 neighborhood's
      cell counts minus self is an eps-neighbor LOWER bound — one
      cell-level aggregate + 9-way cell join, O(#cells), no pairs.
      Any point it resolves (bound >= min_pts) is core with ZERO
      point comparisons; in a dense region that is every point.
      Only UNRESOLVED points (sparse 3x3 neighborhoods, so few
      candidates by construction) do an exact point-level count
      against the 16 distance-2 ring cells;
    * **cluster edges by hub contraction**: all cores in one cell are
      pairwise within eps (diff <= s-1), so each cell contributes a
      star to its min-id core (hub) implicitly; core cells at
      cell-distance 1 link hub-to-hub with no check (guaranteed
      eps-edge); core cells at distance 2 need a point-level
      existence check ONLY when no intermediate cell (adjacent to
      both) holds a core — if one does, the endpoints are already
      connected through it by two guaranteed edges, and skipping the
      check cannot change the transitive closure.  Components then
      run on the HUB graph (O(#cells) vertices), never the point
      graph.

    Point-level comparisons are therefore confined to sparse-boundary
    geometry: dense decades add ~zero examined pairs (the x100 stress
    records the counter), and total work tracks n + #cells.  Output
    matches ``spatial_dbscan_core``'s clustering exactly — core
    points only, cluster_rep = min core id of the component (hub min
    = component min, since each hub is its cell's min) — minus the
    per-point exact ``n_neighbors`` column, whose exact computation
    is the very pair enumeration this operator exists to avoid.
    Returns (id, cluster_rep).

    Reference behavioral parity: clusters equal the reference-shaped
    eps/min_pts density clustering (aprocess.js has no spatial ops;
    this extends SURVEY.md §2's LLM-pipeline family), asserted
    against the oracle-twin query in tests/test_spatial_scalable.py.
    """
    parts = _dbscan_parts(points, id_col=id_col, x=x, y=y, eps=eps, min_pts=min_pts)
    from sfs3_kinesis_spark.operators.dedup import connected_components

    core, corecells, edges = parts["core"], parts["corecells"], parts["edges"]
    comp = connected_components(edges, "hub_a", "hub_b")
    return (
        core.join(corecells, ["_cx", "_cy"])
        .join(comp, F.col("hub") == comp.vertex, "left")
        .select("id", F.coalesce("component", "hub").alias("cluster_rep"))
    )


def _dbscan_parts(
    points: DataFrame, *, id_col: str, x: str, y: str, eps: int, min_pts: int
) -> dict:
    """The LAZY intermediate frames of :func:`dbscan_core_clusters`,
    shared with :func:`dbscan_examined_pairs` so the instrumentation
    counts the exact frames the production operator executes.  Keys:
    p, cellcnt, pb (points + 3x3 lower bound), unresolved, ring_rows
    (pre-distance-filter ring join), core, corecells, todo
    (distance-2 cell pairs needing a point check), d2_rows
    (pre-filter point-pair volume of those checks), edges."""
    if eps < 1:
        raise ValueError("eps must be >= 1")
    s = (eps + 1) // 2
    p = _celled(
        points.select(F.col(id_col).alias("id"), F.col(x).alias("px"), F.col(y).alias("py")),
        "px",
        "py",
        s,
    )
    cellcnt = p.groupBy("_cx", "_cy").agg(F.count(F.lit(1)).alias("cnt"))
    # 3x3 neighborhood sums at CELL level: explode each cell's count
    # to its 9 neighbors, re-aggregate on the target cell.
    nbr9 = (
        cellcnt.select(
            "cnt",
            F.explode(F.expr("array(-1, 0, 1)")).alias("_dx"),
            "_cx",
            "_cy",
        )
        .select(
            "cnt",
            (F.col("_cx") + F.col("_dx")).alias("_tx"),
            F.explode(F.expr("array(-1, 0, 1)")).alias("_dy"),
            "_cy",
        )
        .select("cnt", "_tx", (F.col("_cy") + F.col("_dy")).alias("_ty"))
        .groupBy("_tx", "_ty")
        .agg(F.sum("cnt").alias("sum9"))
    )
    pb = p.join(
        nbr9,
        (p._cx == nbr9._tx) & (p._cy == nbr9._ty),
    ).select("id", "px", "py", "_cx", "_cy", (F.col("sum9") - 1).alias("lb"))
    resolved = pb.filter(F.col("lb") >= min_pts)
    unresolved = pb.filter(F.col("lb") < min_pts)
    # exact count for the unresolved minority: lb (3x3, all guaranteed
    # within eps) + ring points (cell-distance exactly 2) within eps
    ring_offs = [(dx, dy) for dx in range(-2, 3) for dy in range(-2, 3)
                 if max(abs(dx), abs(dy)) == 2]
    ring_rows = (
        unresolved.select(
            "id", "px", "py", "lb", "_cx", "_cy",
            F.explode(
                F.array(*[F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                          for dx, dy in ring_offs])
            ).alias("o"),
        )
        .select(
            "id", "px", "py", "lb",
            (F.col("_cx") + F.col("o.dx")).alias("_jx"),
            (F.col("_cy") + F.col("o.dy")).alias("_jy"),
        )
        .join(
            p.select(
                F.col("px").alias("qx"), F.col("py").alias("qy"),
                F.col("_cx").alias("_jx"), F.col("_cy").alias("_jy"),
            ),
            ["_jx", "_jy"],
        )
    )
    ring = (
        ring_rows.filter(
            F.greatest(F.abs(F.col("px") - F.col("qx")), F.abs(F.col("py") - F.col("qy"))) <= eps
        )
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("ringn"))
    )
    promoted = (
        unresolved.join(ring, "id", "left")
        .withColumn("n_exact", F.col("lb") + F.coalesce("ringn", F.lit(0)))
        .filter(F.col("n_exact") >= min_pts)
        .select("id", "px", "py", "_cx", "_cy")
    )
    core = resolved.select("id", "px", "py", "_cx", "_cy").unionByName(promoted)
    # the core table feeds the hub map, both sides of the distance-2
    # existence checks AND the final cluster join — pin it so the
    # (scan -> cell counts -> 9-sum join) chain runs once per query,
    # with the usual leaf-sum guard deciding at corpus scale
    from sfs3_kinesis_spark.operators.scale import pin_shared

    core = pin_shared(core, tag="dbscan_cells_core")
    # hub contraction: one vertex per core cell
    corecells = core.groupBy("_cx", "_cy").agg(F.min("id").alias("hub"))
    spark = points.sparkSession
    # Adaptive topology strategy (r11, the CC pattern one level up):
    # the d1/d2/blocked/todo cell topology is pure set arithmetic
    # over the CONTRACTED cell table — bounded by #cells, not #points
    # — yet the distributed formulation re-aggregates corecells from
    # the pinned core five times and spends ~8 exchanges
    # (explode-join x2, broadcast semi, anti, distinct) computing
    # edges among a few thousand vertices (measured: ~1.3 s of the
    # 2.46 s sf0.1 steady, and the bulk of the x100 8.8 s wall, with
    # examined point-pairs = 0).  At or below
    # ``SFS3K_DRIVER_DBSCAN_MAX_CELLS`` (a bounded limit+1 count
    # first, so an over-threshold table is never shipped to the
    # driver) the cell table is collected ONCE and the topology — d1
    # edges, d2 candidates, the core-intermediate blocking rule — is
    # computed driver-side in O(#cells) dict lookups; only the
    # point-level d2 existence checks (todo join against the pinned
    # core) stay in Spark.  The
    # edge SET is identical by construction (same offsets, same
    # blocking rule), so clustering output is unchanged; above the
    # threshold the distributed formulation runs exactly as before.
    # Recomputed per invocation from the parquet inputs — a strategy
    # choice, not result caching.
    local_cells = None
    if (
        DRIVER_DBSCAN_MAX_CELLS > 0
        and corecells.limit(DRIVER_DBSCAN_MAX_CELLS + 1).count()
        <= DRIVER_DBSCAN_MAX_CELLS
    ):
        try:
            local_cells = corecells.toPandas()
        except Exception:  # noqa: BLE001 — no pandas/Arrow: distributed path
            local_cells = None
    if local_cells is not None:
        ctypes = dict(corecells.dtypes)

        def _py(v):  # numpy scalar -> plain python (createDataFrame rows)
            return v.item() if hasattr(v, "item") else v

        cells = {
            (_py(cx), _py(cy)): _py(hub)
            for cx, cy, hub in zip(
                local_cells["_cx"], local_cells["_cy"], local_cells["hub"]
            )
        }
        d1_edges = []
        todo_rows = []
        for (cx, cy) in sorted(cells):
            hub = cells[(cx, cy)]
            for dx, dy in _D1_OFFS:
                nb = cells.get((cx + dx, cy + dy))
                if nb is not None:
                    d1_edges.append((hub, nb))
            for dx, dy in _D2_OFFS:
                nb_key = (cx + dx, cy + dy)
                nb = cells.get(nb_key)
                if nb is None:
                    continue
                # blocked: a core intermediate adjacent to both
                # endpoints already connects them through two
                # guaranteed d1 edges — skip the point check
                if any(
                    (cx + ix, cy + iy) in cells
                    for ix, iy in _D2_INTERMEDIATES[(dx, dy)]
                ):
                    continue
                todo_rows.append((hub, nb, cx, cy, nb_key[0], nb_key[1]))
        # rebuild the (tiny) frames locally with the source types so
        # downstream joins/unions see identical schemas; pandas +
        # Arrow createDataFrame — the tuple-list path pickles row by
        # row (~200 ms for 20k edges), Arrow ships one batch
        import pandas as pd

        ht, xt, yt = ctypes["hub"], ctypes["_cx"], ctypes["_cy"]
        corecells = spark.createDataFrame(
            local_cells, f"_cx {xt}, _cy {yt}, hub {ht}"
        )
        d1 = spark.createDataFrame(
            pd.DataFrame(d1_edges, columns=["hub_a", "hub_b"]),
            f"hub_a {ht}, hub_b {ht}",
        )
        todo = spark.createDataFrame(
            pd.DataFrame(
                todo_rows, columns=["hub_a", "hub_b", "ax", "ay", "bx", "by"]
            ),
            f"hub_a {ht}, hub_b {ht}, ax {xt}, ay {yt}, bx {xt}, by {yt}",
        )
    else:
        d1, todo = _distributed_cell_topology(spark, corecells)
    ca = core.select(F.col("px").alias("pax"), F.col("py").alias("pay"),
                     F.col("_cx").alias("ax"), F.col("_cy").alias("ay"))
    cb = core.select(F.col("px").alias("pbx"), F.col("py").alias("pby"),
                     F.col("_cx").alias("bx"), F.col("_cy").alias("by"))
    d2_rows = todo.join(ca, ["ax", "ay"]).join(cb, ["bx", "by"])
    d2 = (
        d2_rows.filter(
            F.greatest(F.abs(F.col("pax") - F.col("pbx")), F.abs(F.col("pay") - F.col("pby"))) <= eps
        )
        .select("hub_a", "hub_b")
        .distinct()
    )
    edges = d1.unionByName(d2)
    return {
        "p": p,
        "cellcnt": cellcnt,
        "pb": pb,
        "unresolved": unresolved,
        "ring_rows": ring_rows,
        "core": core,
        "corecells": corecells,
        "todo": todo,
        "d2_rows": d2_rows,
        "edges": edges,
    }


def _distributed_cell_topology(spark, corecells):
    """The pre-r11 distributed d1/d2/blocked/todo formulation —
    the above-threshold path of :func:`_dbscan_parts` (and the
    forced-distributed equivalence lever for tests, via
    ``SFS3K_DRIVER_DBSCAN_MAX_CELLS=0``).  Returns (d1, todo)."""
    d1 = (
        corecells.select(
            "hub", "_cx", "_cy",
            F.explode(
                F.array(*[F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                          for dx, dy in _D1_OFFS])
            ).alias("o"),
        )
        .select(
            F.col("hub").alias("hub_a"),
            (F.col("_cx") + F.col("o.dx")).alias("_cx"),
            (F.col("_cy") + F.col("o.dy")).alias("_cy"),
        )
        .join(corecells, ["_cx", "_cy"])
        .select("hub_a", F.col("hub").alias("hub_b"))
    )
    # distance-2 candidates, gated on "no core intermediate"
    inter_rows = [
        (dx, dy, ix, iy)
        for (dx, dy), inters in _D2_INTERMEDIATES.items()
        for ix, iy in inters
    ]
    inter_tbl = spark.createDataFrame(
        inter_rows, "dx int, dy int, ix int, iy int"
    )
    cand2 = (
        corecells.select(
            F.col("hub").alias("hub_a"),
            F.col("_cx").alias("ax"), F.col("_cy").alias("ay"),
            F.explode(
                F.array(*[F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                          for dx, dy in _D2_OFFS])
            ).alias("o"),
        )
        .select(
            "hub_a", "ax", "ay", F.col("o.dx").alias("dx"), F.col("o.dy").alias("dy"),
            (F.col("ax") + F.col("o.dx")).alias("_cx"),
            (F.col("ay") + F.col("o.dy")).alias("_cy"),
        )
        .join(corecells, ["_cx", "_cy"])
        .select("hub_a", F.col("hub").alias("hub_b"), "ax", "ay", "dx", "dy",
                F.col("_cx").alias("bx"), F.col("_cy").alias("by"))
    )
    blocked = (
        cand2.join(F.broadcast(inter_tbl), ["dx", "dy"])
        .select(
            "hub_a", "hub_b",
            (F.col("ax") + F.col("ix")).alias("_cx"),
            (F.col("ay") + F.col("iy")).alias("_cy"),
        )
        .join(corecells.select("_cx", "_cy"), ["_cx", "_cy"], "leftsemi")
        .select("hub_a", "hub_b")
        .distinct()
    )
    todo = cand2.join(blocked, ["hub_a", "hub_b"], "left_anti").select(
        "hub_a", "hub_b", "ax", "ay", "bx", "by"
    )
    return d1, todo


def dbscan_examined_pairs(
    points: DataFrame,
    *,
    id_col: str,
    x: str,
    y: str,
    eps: int,
    min_pts: int,
) -> dict:
    """Instrumentation twin of :func:`dbscan_core_clusters` — counts
    the POINT-LEVEL comparison volume the contraction actually incurs
    (ring exact-count join rows for unresolved points + distance-2
    existence-check point pairs), next to the linear cell-level
    volumes.  This is the decade-stress counter proving examined
    pairs stay ~linear (near-zero in dense regimes) while the naive
    radius join's pair volume is quadratic by semantics.  Shares
    every builder with the production operator via
    :func:`_dbscan_parts`; returns a plain dict of counts."""
    parts = _dbscan_parts(points, id_col=id_col, x=x, y=y, eps=eps, min_pts=min_pts)
    ring_rows = parts["ring_rows"].count()
    d2_rows = parts["d2_rows"].count()
    return {
        "points": parts["p"].count(),
        "cells": parts["cellcnt"].count(),
        "unresolved_points": parts["unresolved"].count(),
        "ring_rows_examined": ring_rows,
        "d2_cell_pairs_checked": parts["todo"].count(),
        "d2_point_rows_examined": d2_rows,
        "core_points": parts["core"].count(),
        "examined_pairs": ring_rows + d2_rows,
    }


def grid_knn(
    points: DataFrame,
    *,
    id_col: str,
    x: str,
    y: str,
    radius: int,
    k: int,
    cell: int | None = None,
) -> DataFrame:
    """Bounded k-nearest-neighbors: each point's ``k`` closest
    neighbors within Chebyshev ``radius``, ranked by (distance, id).
    The radius bound is what keeps grid kNN exact — an unbounded kNN
    needs expanding rings.  Returns (a_id, rk, b_id, d)."""
    cand = grid_radius_pairs(
        points, id_col=id_col, x=x, y=y, radius=radius, cell=cell, directed=True
    )
    w = W.partitionBy("a_id").orderBy("d", "b_id")
    return (
        cand.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= k)
        .select("a_id", "rk", "b_id", "d")
    )
