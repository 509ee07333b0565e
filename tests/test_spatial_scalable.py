"""Scalable DBSCAN (grid contraction, operators/spatial.py
``dbscan_core_clusters``): equivalence against the pair-enumerating
oracle-twin query and against a Python brute force on arbitrary
geometry.

The operator's claim is exactness WITHOUT eps-pair enumeration —
dense-cell count shortcuts for core-ness, hub contraction +
gated distance-2 existence checks for clustering (Gunawan 2013 /
Gan & Tao 2015 formulation).  These tests pin:

* identical (id, cluster_rep) sets vs the registry query
  ``spatial_dbscan_core`` (itself DuckDB-oracle-verified) on the
  fixture corpus;
* identical core sets + clusters vs a Python brute force over
  randomized point clouds (hypothesis) — including negative
  coordinates, duplicate positions, even/odd eps, and min_pts edges;
* the instrumentation counter's accounting invariants.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from sfs3_kinesis_spark.operators.spatial import (
    dbscan_core_clusters,
    dbscan_examined_pairs,
)

SF = "/root/testdata/sf0.001"


def _brute(points: list[tuple[int, int, int]], eps: int, min_pts: int):
    """Classic DBSCAN core clustering by definition: O(n^2) distances,
    core = (#Chebyshev-eps neighbors, self excluded) >= min_pts,
    clusters = connected components of the core-core eps graph,
    rep = min core id."""
    core = []
    for i, (pid, px, py) in enumerate(points):
        n = sum(
            1
            for j, (qid, qx, qy) in enumerate(points)
            if i != j and max(abs(px - qx), abs(py - qy)) <= eps
        )
        if n >= min_pts:
            core.append((pid, px, py))
    parent = {pid: pid for pid, _, _ in core}

    def find(a):
        while parent[a] != a:
            parent[a] = parent[parent[a]]
            a = parent[a]
        return a

    for i, (pid, px, py) in enumerate(core):
        for qid, qx, qy in core[i + 1:]:
            if max(abs(px - qx), abs(py - qy)) <= eps:
                ra, rb = find(pid), find(qid)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
    return {pid: find(pid) for pid, _, _ in core}


points_strategy = st.lists(
    st.tuples(st.integers(-40, 40), st.integers(-40, 40)),
    min_size=0,
    max_size=40,
)


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(pts=points_strategy, eps=st.integers(1, 12), min_pts=st.integers(1, 5))
def test_dbscan_contraction_matches_brute_force(spark, pts, eps, min_pts):
    rows = [(i, px, py) for i, (px, py) in enumerate(pts)]
    expected = _brute(rows, eps, min_pts)
    df = spark.createDataFrame(rows or [(0, 0, 0)], "id long, x long, y long")
    if not rows:
        df = df.filter(F.lit(False))
    got = {
        r["id"]: r["cluster_rep"]
        for r in dbscan_core_clusters(
            df, id_col="id", x="x", y="y", eps=eps, min_pts=min_pts
        ).collect()
    }
    assert got == expected


def test_dbscan_contraction_matches_oracle_twin_on_fixture(spark):
    """Same clusters as the pair-enumerating registry query (which the
    DuckDB oracle verifies value-exactly) on the real fixture."""
    from sfs3_kinesis_spark.plans import REGISTRY
    from sfs3_kinesis_spark.plans.core import t_nonnull
    from sfs3_kinesis_spark.plans.retrieval_queries import DBSCAN_EPS, DBSCAN_MINPTS

    naive = {
        (r["id"], r["cluster_rep"])
        for r in REGISTRY["spatial_dbscan_core"].spark(spark, SF).collect()
    }
    p = (
        t_nonnull(spark, SF, "events", "value")
        .filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("id"),
            (F.expr("CAST(floor(value * 100 + 0.5D) AS BIGINT)") % 1000).alias("x"),
            (F.col("user_id") % 1000).alias("y"),
        )
    )
    scalable = {
        (r["id"], r["cluster_rep"])
        for r in dbscan_core_clusters(
            p, id_col="id", x="x", y="y", eps=DBSCAN_EPS, min_pts=DBSCAN_MINPTS
        ).collect()
    }
    assert scalable == naive


def test_dbscan_driver_topology_matches_distributed(spark, monkeypatch):
    """r11 adaptive cell topology: the driver-side d1/d2/blocked hub
    topology (default) and the distributed explode-join formulation
    (a cell table over the threshold) must produce identical clusters
    on a sparse geometry that exercises d1 edges, blocked d2 pairs AND
    unblocked d2 existence checks.  Over the threshold the cell table
    is only counted, never shipped to the driver."""
    import sys

    from sfs3_kinesis_spark.operators import spatial

    # sparse diagonal chains + isolated dense pockets: cells at
    # distance 2 with and without core intermediates
    rows = []
    rid = 0
    for base in (0, 40, 80):
        for a in range(4):
            for b in range(4):
                rows.append((rid, base + a, base + b))
                rid += 1
        # a far pocket whose cells sit at cell-distance 2 from the blob
        for a in range(4):
            for b in range(4):
                rows.append((rid, base + a + 7, base + b + 7))
                rid += 1
    df = spark.createDataFrame(rows, "id long, x long, y long")

    def run():
        return {
            (r["id"], r["cluster_rep"])
            for r in dbscan_core_clusters(
                df, id_col="id", x="x", y="y", eps=7, min_pts=4
            ).collect()
        }

    got_driver = run()
    topology_collects = []
    frame_cls = type(df)
    to_pandas = frame_cls.toPandas

    def spy(self):
        if sys._getframe(1).f_code.co_name == "_dbscan_parts":
            topology_collects.append(self)
        return to_pandas(self)

    monkeypatch.setattr(frame_cls, "toPandas", spy)
    monkeypatch.setattr(spatial, "DRIVER_DBSCAN_MAX_CELLS", 1)
    got_dist = run()
    assert got_driver == got_dist
    assert topology_collects == []
    assert got_driver  # non-trivial fixture


def test_dbscan_examined_pairs_accounting(spark):
    """The instrumentation twin's invariants: examined = ring + d2
    point rows; a dense single blob resolves every point through the
    cell-count shortcut (zero unresolved, zero examined pairs)."""
    # 7x7 dense blob, eps=4 -> s=2: every 3x3 neighborhood holds >= 9
    # points, so lb >= 8 >= min_pts and nothing needs a point check
    rows = [(i, px, py) for i, (px, py) in enumerate(
        (a, b) for a in range(7) for b in range(7)
    )]
    df = spark.createDataFrame(rows, "id long, x long, y long")
    c = dbscan_examined_pairs(df, id_col="id", x="x", y="y", eps=4, min_pts=4)
    assert c["points"] == 49
    assert c["unresolved_points"] == 0
    assert c["examined_pairs"] == 0
    assert c["core_points"] == 49
    assert (
        c["examined_pairs"]
        == c["ring_rows_examined"] + c["d2_point_rows_examined"]
    )
    # one cluster: every id maps to rep 0
    reps = {
        r["cluster_rep"]
        for r in dbscan_core_clusters(
            df, id_col="id", x="x", y="y", eps=4, min_pts=4
        ).collect()
    }
    assert reps == {0}
