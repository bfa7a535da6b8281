"""kNN nearest-feature matching — graft addition, fixtures are our own
(the reference has no kNN operator; SURVEY.md §2 row 8)."""

import pytest

from pandarus_spark.operators.knn import knn_nearest_feature, point_geom_distance
from pandarus_spark.sources.pages import FIXTURES, _box, extract_features, pages_df


def test_point_geom_distance():
    box = _box(0, 0, 1, 1)
    assert point_geom_distance(0.5, 0.5, box) == 0.0  # inside
    assert point_geom_distance(2.0, 0.5, box) == pytest.approx(1.0)
    assert point_geom_distance(2.0, 2.0, box) == pytest.approx(2 ** 0.5)


def test_knn_against_grid(spark):
    grid = extract_features(pages_df(spark, "grid"))
    q = spark.createDataFrame(
        [(1, 0.25, 0.25), (2, 1.75, 1.75), (3, 5.0, 0.5)],
        "query_id long, qx double, qy double")
    out = knn_nearest_feature(q, grid, k=1, res=6, ring=1)
    got = {r["query_id"]: (r["label"], r["dist"]) for r in out.collect()}
    assert got[1][0] == "grid cell 0" and got[1][1] == 0.0
    assert got[2][0] == "grid cell 3" and got[2][1] == 0.0
    assert got[3][0] == "grid cell 2"  # nearest cell to (5, 0.5)
    assert got[3][1] == pytest.approx(3.0)


def test_knn_mixed_rect_and_nonrect(spark):
    """Rect features ride the JVM box-distance expression; non-rect
    (triangle) features ride the Arrow kernel — ranks must interleave
    correctly and agree with driver-side kernel distances."""
    import json

    from pandarus_spark.sources.pages import page_rows, PAGES_SCHEMA

    tri = {"type": "Polygon",
           "coordinates": [[[3.0, 0.0], [4.0, 0.0], [3.5, 1.0], [3.0, 0.0]]]}
    feats = [{"name": "box", "geometry": _box(0, 0, 1, 1)},
             {"name": "tri", "geometry": tri}]
    pages = spark.createDataFrame(page_rows("mix", feats), PAGES_SCHEMA)
    features = extract_features(pages)
    by_label = {r["label"]: r["is_rect"] for r in features.collect()}
    assert by_label == {"box": True, "tri": False}

    q = spark.createDataFrame([(1, 2.0, 0.25)], "query_id long, qx double, qy double")
    out = sorted(knn_nearest_feature(q, features, k=2, res=4, ring=2).collect(),
                 key=lambda r: r["rank"])
    # driver-side kernel distances as the oracle for both paths
    want = sorted([("box", point_geom_distance(2.0, 0.25, _box(0, 0, 1, 1))),
                   ("tri", point_geom_distance(2.0, 0.25, tri))], key=lambda t: t[1])
    assert [r["label"] for r in out] == [w[0] for w in want]
    for r, (_, d) in zip(out, want):
        assert r["dist"] == pytest.approx(d, abs=1e-12)


def test_knn_k2_ordering(spark):
    grid = extract_features(pages_df(spark, "grid"))
    q = spark.createDataFrame([(1, -0.5, 0.5)], "query_id long, qx double, qy double")
    out = knn_nearest_feature(q, grid, k=2, res=6, ring=1).collect()
    ranked = sorted(((r["rank"], r["label"], r["dist"]) for r in out))
    assert ranked[0][1] == "grid cell 0" and ranked[0][2] == pytest.approx(0.5)
    assert ranked[1][1] == "grid cell 1"  # next nearest
    assert ranked[1][2] <= 2 ** 0.5 / 2 + 1e-9


def test_points_geom_distance_batch_matches_scalar():
    """Batched (N points × 1 geometry) kernel vs per-point scalar calls
    on mixed geometries incl. polygons with holes."""
    import numpy as np

    from pandarus_spark.operators.knn import points_geom_distance

    rng = np.random.default_rng(31)
    geoms = [
        {"type": "Polygon", "coordinates": [
            np.array([[0, 0], [4, 0], [4, 4], [0, 4], [0, 0]], dtype=float),
            np.array([[1, 1], [3, 1], [3, 3], [1, 3], [1, 1]], dtype=float)]},
        {"type": "LineString", "coordinates": rng.uniform(-2, 2, (5, 2))},
        {"type": "MultiPoint", "coordinates": rng.uniform(-2, 2, (4, 2))},
        {"type": "MultiPolygon", "coordinates": [
            [np.array([[0, 0], [1, 0], [1, 1], [0, 1], [0, 0]], dtype=float)],
            [np.array([[5, 5], [6, 5], [6, 6], [5, 6], [5, 5]], dtype=float)]]},
    ]
    pts = rng.uniform(-3, 7, (200, 2))
    for g in geoms:
        batch = points_geom_distance(pts, g)
        for i in range(0, len(pts), 17):
            scalar = point_geom_distance(pts[i, 0], pts[i, 1], g)
            assert batch[i] == pytest.approx(scalar, rel=0, abs=0), (g["type"], i)
    # hole interior: distance > 0 (to the hole boundary), not 0
    d = points_geom_distance(np.array([[2.0, 2.0]]), geoms[0])
    assert d[0] == pytest.approx(1.0)


def test_knn_ring_growth_finds_far_features(spark):
    """Queries whose initial ring misses every feature must be
    re-probed with doubled rings (round-2 verdict #3: growth, not a
    full-feature-table broadcast) and still return exact nearest."""
    grid = extract_features(pages_df(spark, "grid"))  # cells in [0,2]^2
    # at res 6 a cell is 360/64 = 5.625 deg wide; (90, 45) is ~16 cells
    # away in x — ring 1 cannot see the grid
    q = spark.createDataFrame([(1, 90.0, 45.0), (2, 0.25, 0.25)],
                              "query_id long, qx double, qy double")
    out = knn_nearest_feature(q, grid, k=2, res=6, ring=1)
    rows = sorted(out.collect(), key=lambda r: (r["query_id"], r["rank"]))
    got = {(r["query_id"], r["rank"]): (r["label"], r["dist"]) for r in rows}
    # exact distances from the driver-side kernel as oracle
    feats = {r["label"]: r["geom_wkb"] for r in grid.collect()}
    from pandarus_spark.geometry import geom as G
    dists = sorted((point_geom_distance(90.0, 45.0, G.wkb_loads(bytes(w))), lab)
                   for lab, w in feats.items())
    assert got[(1, 1)][0] == dists[0][1]
    assert got[(1, 1)][1] == pytest.approx(dists[0][0], abs=1e-12)
    assert got[(1, 2)][1] == pytest.approx(dists[1][0], abs=1e-12)
    assert got[(2, 1)][1] == 0.0  # near query unaffected by growth


def test_knn_ring_param_is_threaded(spark):
    """ring=4 initial radius must produce the same result rows as
    ring=1 (growth invariance) — and actually reach the first ring
    pass (the old code silently ignored it)."""
    grid = extract_features(pages_df(spark, "grid"))
    q = spark.createDataFrame([(1, 5.0, 0.5), (2, 0.25, 0.25)],
                              "query_id long, qx double, qy double")
    a = sorted(map(tuple, knn_nearest_feature(q, grid, k=2, res=6, ring=1).collect()))
    b = sorted(map(tuple, knn_nearest_feature(q, grid, k=2, res=6, ring=4).collect()))
    assert a == b and len(a) == 4


def test_knn_fewer_features_than_k_short_circuits(spark):
    """|features| < k: every query must return all |features| rows
    without looping to the brute-force last resort."""
    from pandarus_spark.sources.pages import page_rows, PAGES_SCHEMA
    feats = [{"name": "only", "geometry": _box(0, 0, 1, 1)}]
    features = extract_features(
        spark.createDataFrame(page_rows("one", feats), PAGES_SCHEMA))
    q = spark.createDataFrame([(1, 0.5, 0.5), (2, 50.0, 10.0)],
                              "query_id long, qx double, qy double")
    rows = knn_nearest_feature(q, features, k=3, res=6, ring=1).collect()
    assert len(rows) == 2
    got = {r["query_id"]: (r["label"], r["rank"]) for r in rows}
    assert got[1] == ("only", 1) and got[2] == ("only", 1)
