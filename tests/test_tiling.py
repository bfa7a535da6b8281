"""Cell-index unit tests, including SQL-parity: the tile id of a point
computed by the numpy path must equal the ANSI-SQL rendering evaluated
by DuckDB (the independent-oracle contract)."""

import duckdb
import numpy as np

from pandarus_spark.tiling import cells as C


def test_point_cell_roundtrip():
    ix, iy = C.lonlat_to_xy(np.array([0.3]), np.array([45.0]), 8)
    cid = C.cell_id(8, int(ix[0]), int(iy[0]))
    b = C.cell_bounds(cid)
    assert b[0] <= 0.3 <= b[2] and b[1] <= 45.0 <= b[3]
    assert C.cell_res(cid) == 8
    assert C.cell_xy(cid) == (int(ix[0]), int(iy[0]))


def test_cover_bbox_superset():
    cover = C.cover_bbox(0.0, 0.0, 2.0, 2.0, 8)
    for lon, lat in [(0.0, 0.0), (1.99, 1.99), (1.0, 0.5)]:
        ix, iy = C.lonlat_to_xy(np.array([lon]), np.array([lat]), 8)
        assert C.cell_id(8, int(ix[0]), int(iy[0])) in cover


def test_parent_chain():
    ix, iy = C.lonlat_to_xy(np.array([10.0]), np.array([10.0]), 10)
    cid = C.cell_id(10, int(ix[0]), int(iy[0]))
    p = C.parent(cid, 7)
    assert C.cell_res(p) == 7
    pb, cb = C.cell_bounds(p), C.cell_bounds(cid)
    assert pb[0] <= cb[0] and pb[1] <= cb[1] and pb[2] >= cb[2] and pb[3] >= cb[3]


def test_pick_resolution_bounds_fanout():
    # world-sized bbox -> res 0; tiny bbox -> target res
    assert C.pick_resolution(-180, -90, 180, 90, target_res=12, max_cells=64) <= 3
    assert C.pick_resolution(0, 0, 0.001, 0.001, target_res=12, max_cells=64) == 12
    for res in range(13):
        cover = C.cover_bbox(-120, -60, 130, 70, C.pick_resolution(-120, -60, 130, 70, res, 64), )
        assert len(cover) <= 64


def test_kring():
    ix, iy = C.lonlat_to_xy(np.array([0.0]), np.array([0.0]), 6)
    cid = C.cell_id(6, int(ix[0]), int(iy[0]))
    ring = C.kring(cid, 1)
    assert len(ring) == 9 and cid in ring


def test_sql_parity_with_duckdb():
    res = 9
    rng = np.random.default_rng(42)
    lons = rng.uniform(-179.9, 179.9, 200)
    lats = rng.uniform(-89.9, 89.9, 200)
    ix, iy = C.lonlat_to_xy(lons, lats, res)
    py_cells = [(res << C.RES_SHIFT) | (int(y) << C.Y_SHIFT) | int(x) for x, y in zip(ix, iy)]
    con = duckdb.connect()
    con.register("pts", __import__("pandas").DataFrame({"lon": lons, "lat": lats}))
    expr = C.point_cell_sql("lon", "lat", res)
    sql_cells = [r[0] for r in con.execute(f"SELECT {expr} FROM pts").fetchall()]
    assert py_cells == sql_cells


def _random_bboxes(seed, n=300):
    rng = np.random.default_rng(seed)
    cx = rng.uniform(-185, 185, n)          # some past the domain edge
    cy = rng.uniform(-95, 95, n)
    w = 10 ** rng.uniform(-4, 1.2, n)       # spans 1e-4 .. ~16 degrees
    h = 10 ** rng.uniform(-4, 1.2, n)
    return cx - w / 2, cy - h / 2, cx + w / 2, cy + h / 2


def test_batch_cover_matches_scalar_loop():
    """cover_features_batch == per-feature pick_resolution +
    cover_with_parents/cover_bbox on random bboxes (including
    domain-edge clipping and multi-level ancestor chains)."""
    n = 300
    minx, miny, maxx, maxy = _random_bboxes(7, n)

    for parents_to in (None, 0, 3, 9):
        fpos, cells, native = C.cover_features_batch(
            minx, miny, maxx, maxy, target_res=10, max_cells=64,
            parents_to=parents_to)
        got = {}
        for p, c in zip(fpos, cells):
            got.setdefault(int(p), set()).add(int(c))
        for i in range(n):
            r = C.pick_resolution(minx[i], miny[i], maxx[i], maxy[i],
                                  target_res=10, max_cells=64)
            assert native[i] == r
            if parents_to is not None and parents_to < r:
                want = set(C.cover_with_parents(minx[i], miny[i], maxx[i], maxy[i],
                                                r, min_res=parents_to))
            else:
                want = set(C.cover_bbox(minx[i], miny[i], maxx[i], maxy[i], r))
            assert got.get(i, set()) == want, (i, parents_to)


def _ring_cells(spark, res, ry, rx, points):
    """cells.neighbourhood_cells over ``points`` (qx, qy[, rx]): one list
    of cell ids per point, in input order."""
    from pyspark.sql import functions as F
    rows = [(i, float(p[0]), float(p[1]), int(p[2]) if len(p) > 2 else 0)
            for i, p in enumerate(points)]
    pts = spark.createDataFrame(rows, "i int, qx double, qy double, rx long").selectExpr(
        "i", "rx", f"{C.point_index_sql('qx', 'x', res)} AS ix",
        f"{C.point_index_sql('qy', 'y', res)} AS iy")
    got = {i: [] for i in range(len(points))}
    radius = F.col("rx") if rx is None else rx
    for r in C.neighbourhood_cells(pts, res, ry, radius).collect():
        got[r["i"]].append(r["cell"])
    return [got[i] for i in range(len(points))]


def _point_cell(x, y, res):
    ix, iy = C.lonlat_to_xy(np.array([x]), np.array([y]), res)
    return C.cell_id(res, int(ix[0]), int(iy[0]))


def test_neighbourhood_cells_matches_kring(spark):
    """The Catalyst ring (kNN's ring passes, the distance join's right
    side) emits exactly the scalar C.kring's cell set, each cell once:
    at the lon wrap, both poles, and rings spanning the whole row
    (res 3, ring 4: 2·4+1 >= 8 columns)."""
    cases = [(6, 2, [(0.0, 0.0), (179.95, 10.0), (-179.95, -10.0), (0.0, 89.9), (0.0, -89.9)]),
             (3, 4, [(0.0, 0.0), (179.95, 89.9), (-180.0, -90.0)]),
             (12, 1, [(-180.0, 0.0), (179.99, -90.0)])]
    for res, ring, points in cases:
        for (x, y), cells in zip(points, _ring_cells(spark, res, ring, ring, points)):
            assert len(cells) == len(set(cells))
            assert set(cells) == set(C.kring(_point_cell(x, y, res), ring))


def test_neighbourhood_cells_per_row_column_radius(spark):
    """A per-row Column radius (the distance join's kx): rows ±1
    clipped, columns ±rx wrapped, the full row once 2·rx+1 >= 2^res."""
    res, n = 5, 32
    points = [(0.0, 0.0, 0), (179.0, 10.0, 1), (-179.0, 89.0, 3),
              (10.0, -89.0, 15), (10.0, 45.0, 16), (10.0, 45.0, 40)]
    for (x, y, rx), cells in zip(points, _ring_cells(spark, res, 1, None, points)):
        ix, iy = C.cell_xy(_point_cell(x, y, res))
        want = {C.cell_id(res, (ix + dx) % n, iy + dy)
                for dy in (-1, 0, 1) if 0 <= iy + dy < n for dx in range(-rx, rx + 1)}
        assert len(cells) == len(set(cells))
        assert set(cells) == want


def _bbox_frame(spark, minx, miny, maxx, maxy):
    # rows of Python floats: a pandas frame would turn NaN into null
    rows = [(i, float(a), float(b), float(c), float(d))
            for i, (a, b, c, d) in enumerate(zip(minx, miny, maxx, maxy))]
    return spark.createDataFrame(
        rows, "feature_id bigint, minx double, miny double, maxx double, maxy double")


def _aligned_and_zero_bboxes(seed):
    """Boxes whose edges sit on cell boundaries at res 1..20, and
    zero-size boxes (points and segments, some on boundaries)."""
    rng = np.random.default_rng(seed)
    out = []
    for r in range(1, 21):
        sx, sy = C.LON_SPAN / (1 << r), C.LAT_SPAN / (1 << r)
        for _ in range(6):
            ix = int(rng.integers(0, 1 << r)); iy = int(rng.integers(0, 1 << r))
            kx = int(rng.integers(0, 4)); ky = int(rng.integers(0, 4))
            x0, y0 = C.LON_MIN + ix * sx, C.LAT_MIN + iy * sy
            out.append((x0, y0, x0 + kx * sx, y0 + ky * sy))
    for _ in range(40):
        x, y = rng.uniform(-180, 180), rng.uniform(-90, 90)
        out += [(x, y, x, y), (x, y, x + 1e-3, y), (round(x), round(y), round(x), round(y))]
    out += [(-180.0, -90.0, 180.0, 90.0), (180.0, 90.0, 180.0, 90.0)]
    return [np.array(c, dtype=np.float64) for c in zip(*out)]


def test_catalyst_cover_matches_numpy(spark):
    """cover_features (Catalyst) emits the same multiset of
    (feature_id, cell, native_res, minx, miny) rows as the numpy
    reference cover_features_batch, and _min_emit_res equals the
    reference's minimum native resolution."""
    from pandarus_spark.operators.intersect import _min_emit_res, cover_features
    boxes = [np.concatenate(p) for p in zip(_random_bboxes(7), _aligned_and_zero_bboxes(11))]
    minx, miny, maxx, maxy = boxes
    df = _bbox_frame(spark, *boxes).cache()
    cols = ["feature_id", "cell", "native_res", "minx", "miny"]
    for res, max_cells in ((8, 64), (12, 64), (12, 256), (20, 16)):
        native = C.pick_resolution_batch(*boxes, target_res=res, max_cells=max_cells)
        assert _min_emit_res(df, res, max_cells) == native.min()
        for p in (None, 0, 3, 9):
            fpos, cells, native = C.cover_features_batch(
                *boxes, target_res=res, max_cells=max_cells, parents_to=p)
            want = np.rec.fromarrays([fpos, cells, native[fpos], minx[fpos], miny[fpos]],
                                     names=cols)
            got = cover_features(df, res, max_cells, with_parents_to=p,
                                 with_meta=True).toPandas()
            got = np.rec.fromarrays([got[c].to_numpy() for c in cols], names=cols)
            want.sort(order=cols[:2]); got.sort(order=cols[:2])
            assert len(got) == len(want), (res, max_cells, p)
            for c in cols:
                np.testing.assert_array_equal(got[c], want[c], err_msg=f"{c} {res} {max_cells} {p}")


def test_non_finite_bbox_has_no_cover(spark):
    """Empty geometry (bbox inf, inf, -inf, -inf) and NaN boxes: native
    res 0 and no cover rows, with no ANSI overflow error — the numpy
    reference's answer."""
    from pandarus_spark.operators.intersect import _min_emit_res, _with_native, cover_features
    assert spark.conf.get("spark.sql.ansi.enabled") == "true"
    inf, nan = float("inf"), float("nan")
    bad = [(inf, inf, -inf, -inf), (nan, nan, nan, nan), (nan, 0.0, 1.0, 1.0),
           (-inf, 0.0, 1.0, 1.0), (0.0, 0.0, inf, 1.0)]
    boxes = [np.array(c) for c in zip(*bad)]
    df = _bbox_frame(spark, *boxes)
    ref_pos, _, ref_native = C.cover_features_batch(*boxes, target_res=12, parents_to=0)
    assert len(ref_pos) == 0 and not ref_native.any()
    native = _with_native(df, 12, 64).toPandas()["native_res"]
    assert native.tolist() == [0] * len(bad)
    assert _min_emit_res(df, 12, 64) == 0
    for p in (None, 0, 5):
        assert cover_features(df, 12, with_parents_to=p, with_meta=True).count() == 0
    # a finite row alongside keeps its own cover
    ok = _bbox_frame(spark, *[np.append(b, v) for b, v in zip(boxes, (1.0, 1.0, 2.0, 2.0))])
    got = cover_features(ok, 12).toPandas()
    assert set(got["feature_id"]) == {len(bad)} and len(got) > 0


def test_intersect_ignores_empty_polygon_feature(spark):
    """An empty polygon on the probe side contributes nothing and
    breaks nothing: same rows as without it."""
    import pandarus_spark as ps
    from pandarus_spark.sources.pages import extract_features, grid_features, pages_df
    empty = {"name": "empty", "geometry": {"type": "Polygon", "coordinates": []}}
    square = extract_features(pages_df(spark, "square"))
    grid = extract_features(pages_df(spark, "grid"))
    grid_e = extract_features(pages_df(spark, "grid", grid_features() + [empty]))
    assert grid_e.filter("label = 'empty'").first()["minx"] == float("inf")

    def rows(df):
        return sorted((r["from_label"], r["to_label"], r["measure"], bytes(r["geom_wkb"]))
                      for r in df.collect())
    want = rows(ps.intersect(square, grid))
    assert len(want) == 4
    assert rows(ps.intersect(square, grid_e)) == want
