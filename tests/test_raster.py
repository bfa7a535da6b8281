"""Raster-side goldens: zonal statistics (both engine variants,
reference test_raster_statistics.py:76-113 & :145-182 — exact values),
round/clean transforms, polygonization schema."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from pandarus_spark.geometry import geom as G
from pandarus_spark.operators.raster_stats import RasterSpec, raster_cells_df, raster_statistics
from pandarus_spark.operators.raster_transform import clean_raster, convert_to_vector, round_raster
from pandarus_spark.sources.pages import extract_features, pages_df


@pytest.fixture(scope="module")
def range_cells(spark):
    """range.tif: np.arange(50).reshape(10,5) float32, rows 4-5 = -1
    nodata, Affine(0.4,0,0, 0,-0.2,2) (reference
    scripts/create_test_data.py:221-224)."""
    arr = np.arange(50, dtype=np.float32).reshape(10, 5).astype(np.float64)
    arr[4, :] = -1.0
    arr[5, :] = -1.0
    spec = RasterSpec(5, 10, (0.4, 0, 0, 0, -0.2, 2), nodata=-1.0)
    return raster_cells_df(spark, spec, arr).cache()


GOLDEN_COVERAGE = {
    "grid cell 0": (30.0, 47.0, 38.29999923706055, 10.0),
    "grid cell 1": (0.0, 17.0, 8.300000190734863, 10.0),
    "grid cell 2": (32.0, 49.0, 40.70000076293945, 10.0),
    "grid cell 3": (2.0, 19.0, 10.699999809265137, 10.0),
}
GOLDEN_CENTERS = {
    "grid cell 0": (30.0, 47.0, 38.5, 12.0),
    "grid cell 1": (0.0, 17.0, 8.5, 12.0),
    "grid cell 2": (33.0, 49.0, 41.0, 8.0),
    "grid cell 3": (3.0, 19.0, 11.0, 8.0),
}


def _check(df, golden):
    got = {r["label"]: (r["min"], r["max"], r["mean"], r["count"]) for r in df.collect()}
    assert set(got) == set(golden)
    for k, exp in golden.items():
        assert got[k] == pytest.approx(exp, rel=1e-12), k


def test_zonal_stats_coverage_exact_goldens(spark, range_cells):
    grid = extract_features(pages_df(spark, "grid"))
    _check(raster_statistics(grid, range_cells, method="coverage"), GOLDEN_COVERAGE)


def test_zonal_stats_centers_exact_goldens(spark, range_cells):
    grid = extract_features(pages_df(spark, "grid"))
    _check(raster_statistics(grid, range_cells, method="centers"), GOLDEN_CENTERS)


def _coverage_stats_reference(fdf, cells):
    """(min, max, mean, count) per label from the reference per-cell
    clip loop, aggregated and float32-rounded like raster_statistics."""
    from pandarus_spark.operators.raster_stats import _coverage_weights_scalar
    c = cells.toPandas()
    box = [c[k].to_numpy() for k in ("minx", "miny", "maxx", "maxy")]
    vals = c["value"].to_numpy()
    f32 = lambda x: float(np.float32(x))  # noqa: E731
    out = {}
    for r in fdf.collect():
        parts = G.extract_kind_parts(G.wkb_loads(bytes(r["geom_wkb"])), "polygon")
        frac = _coverage_weights_scalar(parts, *box)
        keep = frac > 1e-12
        if keep.any():
            w, v = np.minimum(frac[keep], 1.0), vals[keep]
            out[r["label"]] = (f32(v.min()), f32(v.max()),
                               f32((v * w).sum() / w.sum()), f32(w.sum()))
    return out


def test_coverage_batch_weights_match_scalar(spark, range_cells):
    """Round-2 batched coverage weights vs the reference per-cell clip
    loop on awkward shapes: concave exterior and a polygon with a hole."""
    lring = np.array([[0.1, 0.2], [1.9, 0.2], [1.9, 1.0], [1.0, 1.0],
                      [1.0, 1.9], [0.1, 1.9], [0.1, 0.2]])
    holed = [np.array([[0.0, 0.0], [2.0, 0.0], [2.0, 2.0], [0.0, 2.0], [0.0, 0.0]]),
             np.array([[0.6, 0.6], [1.4, 0.6], [1.4, 1.4], [0.6, 1.4], [0.6, 0.6]])]
    feats = [{"name": "Lcave", "geometry": {"type": "Polygon", "coordinates": [lring]}},
             {"name": "donut", "geometry": {"type": "Polygon", "coordinates": holed}}]
    fdf = extract_features(pages_df(spark, "zshapes", features=feats))
    fast = {r["label"]: (r["min"], r["max"], r["mean"], r["count"])
            for r in raster_statistics(fdf, range_cells, method="coverage").collect()}
    slow = _coverage_stats_reference(fdf, range_cells)
    assert set(fast) == set(slow) == {"Lcave", "donut"}
    for k in slow:
        assert fast[k] == pytest.approx(slow[k], rel=1e-9), k


def test_round_raster_sig_digits(spark):
    spec = RasterSpec(4, 1, (1, 0, 0, 0, -1, 1), nodata=None)
    vals = np.array([[1.4678e-7, 123456.0, 0.0, -0.0034567]])
    cells = raster_cells_df(spark, spec, vals)
    out = {r["col"]: r["value"] for r in round_raster(cells, 3).collect()}
    assert out[0] == pytest.approx(1.47e-7, rel=1e-6)
    assert out[1] == pytest.approx(123000.0, rel=1e-6)
    assert out[2] == 0.0
    assert out[3] == pytest.approx(-0.00346, rel=1e-6)


def test_clean_raster_nodata_selection(spark):
    """First unused candidate of [user, -1, -99, -999, -9999]
    (reference core.py:608-632)."""
    spec = RasterSpec(4, 1, (1, 0, 0, 0, -1, 1), nodata=None)
    vals = np.array([[-1.0, 5.0, np.nan, -1e50]])
    cells = raster_cells_df(spark, spec, vals, drop_nodata=False)
    cleaned, nd, downcast = clean_raster(cells, nodata=-1e50)
    assert nd == -99.0  # -1 is a data value, so next candidate
    got = {r["col"]: r["value"] for r in cleaned.collect()}
    assert got[2] == -99.0  # NaN -> nodata
    assert got[3] == -99.0  # old sentinel -> nodata
    assert got[1] == 5.0
    assert not downcast  # -1e50 was replaced AFTER the probe ran on raw values


def test_clean_raster_all_candidates_taken(spark):
    spec = RasterSpec(4, 1, (1, 0, 0, 0, -1, 1), nodata=None)
    vals = np.array([[-1.0, -99.0, -999.0, -9999.0]])
    cells = raster_cells_df(spark, spec, vals, drop_nodata=False)
    with pytest.raises(ValueError, match="candidate"):
        clean_raster(cells, nodata=None)


def test_convert_to_vector_regions(spark):
    """Two contiguous regions of value 7 separated by value 3."""
    spec = RasterSpec(5, 1, (1, 0, 0, 0, -1, 1), nodata=None)
    vals = np.array([[7.0, 7.0, 3.0, 7.0, 7.0]])
    cells = raster_cells_df(spark, spec, vals)
    out = convert_to_vector(cells)
    rows = out.collect()
    assert out.columns == ["id", "val", "geom_wkb"]
    by_val = {}
    for r in rows:
        by_val.setdefault(r["val"], []).append(r)
        g = G.wkb_loads(bytes(r["geom_wkb"]))
        assert g["type"] in ("Polygon", "MultiPolygon")
    assert len(by_val[7.0]) == 2  # two disjoint regions
    assert len(by_val[3.0]) == 1


def test_convert_to_vector_tiles_matches_global(spark):
    """The two-phase tiles strategy (per-tile polygonize + distributed
    cross-tile region stitch) must be byte-identical to the global
    strategy — on a seeded random raster with few values, large regions
    spanning many 3x3 tiles."""
    rng = np.random.default_rng(13)
    vals = rng.integers(0, 3, size=(17, 11)).astype(np.float64)
    spec = RasterSpec(11, 17, (0.5, 0, -3.0, 0, -0.25, 2.0), nodata=None)
    cells = raster_cells_df(spark, spec, vals)
    g = {(r["id"], r["val"], bytes(r["geom_wkb"]))
         for r in convert_to_vector(cells).collect()}
    t = {(r["id"], r["val"], bytes(r["geom_wkb"]))
         for r in convert_to_vector(cells, strategy="tiles", tile=3).collect()}
    assert g == t
    assert len(g) > 3


def test_tiles_strategy_matches_broadcast(spark, range_cells):
    """The cell-key candidate join (cluster scale) must reproduce the
    broadcast theta-join exactly, both weighting semantics."""
    from pandarus_spark.operators.raster_stats import raster_statistics
    grid = extract_features(pages_df(spark, "grid"))
    for method in ("coverage", "centers"):
        a = {r["label"]: (r["min"], r["max"], r["mean"], r["count"])
             for r in raster_statistics(grid, range_cells, method=method).collect()}
        b = {r["label"]: (r["min"], r["max"], r["mean"], r["count"])
             for r in raster_statistics(grid, range_cells, method=method,
                                        strategy="tiles").collect()}
        assert a == b


def test_tile_table_contract_matches_cells_df(spark):
    """GTiff ingest seam (round-2 verdict #9): a synthetic tile table
    through cells_from_tiles must reproduce raster_cells_df exactly,
    including short edge tiles and nodata dropping, and feed the zonal
    goldens unchanged."""
    from pandarus_spark.sources.raster import cells_from_tiles, tiles_from_array

    arr = np.arange(50, dtype=np.float32).reshape(10, 5).astype(np.float64)
    arr[4, :] = -1.0
    arr[5, :] = -1.0
    spec = RasterSpec(5, 10, (0.4, 0, 0, 0, -0.2, 2), nodata=-1.0)
    tiles = tiles_from_array(spark, arr, tile_size=4)  # 3x2 tile grid, ragged edges
    assert tiles.count() == 6
    via_tiles = cells_from_tiles(tiles, spec, tile_size=4)
    direct = raster_cells_df(spark, spec, arr)
    key = lambda r: (r["row"], r["col"])  # noqa: E731
    a = sorted(map(tuple, via_tiles.collect()), key=lambda t: (t[0], t[1]))
    b = sorted(map(tuple, direct.collect()), key=lambda t: (t[0], t[1]))
    assert a == b
    grid = extract_features(pages_df(spark, "grid"))
    got = {r["label"]: (r["min"], r["max"], r["mean"], r["count"])
           for r in raster_statistics(grid, via_tiles, method="coverage").collect()}
    for k, exp in GOLDEN_COVERAGE.items():
        assert got[k] == pytest.approx(exp, rel=1e-12), k


def test_read_gtiff_import_guard(spark, tmp_path):
    """Without rasterio the reader must fail with the contract hint,
    not an opaque ModuleNotFoundError mid-plan."""
    import builtins
    import importlib

    real_import = builtins.__import__

    def fake(name, *args, **kwargs):
        if name == "rasterio":
            raise ImportError("No module named 'rasterio'")
        return real_import(name, *args, **kwargs)

    from pandarus_spark.sources import raster as R
    builtins.__import__ = fake
    try:
        with pytest.raises(ImportError, match="tile parquet"):
            R.read_gtiff(spark, str(tmp_path / "x.tif"))
    finally:
        builtins.__import__ = real_import


def test_raster_cells_range_matches_df(spark):
    """Distributed constructor == driver-side constructor on the same
    spec (value from the same formula)."""
    import numpy as np

    from pandarus_spark.operators.raster_stats import (
        RasterSpec, raster_cells_df, raster_cells_range,
    )
    spec = RasterSpec(5, 10, (0.4, 0, 0, 0, -0.2, 2), nodata=None)
    vals = ((np.arange(50).reshape(10, 5) // 5 * 31
             + np.arange(50).reshape(10, 5) % 5) % 1000).astype(np.float64)
    a = sorted(tuple(r) for r in raster_cells_df(spark, spec, vals).collect())
    b = sorted(tuple(r) for r in raster_cells_range(spark, spec).collect())
    assert a == b


def test_coverage_batch_weights_concave_stars_match_scalar(spark, range_cells):
    """Round-2 fuzz regression: batched coverage weights on concave
    star features must match the scalar clip loop (the exact kernel).
    Without the per-ring convex cover, the batched S-H lost area for
    stars whose intersection with a cell box is disconnected."""
    # deterministic instance where the cover-less batched S-H loses 83%
    # of the true clip area against cell [0.8,1.2]x[1.4,1.6] (fuzz-found
    # star, affinely mapped onto that cell)
    feats = [{"name": "bridgestar", "geometry": {"type": "Polygon", "coordinates": [
        np.array([[1.038104623, 1.429775605], [1.002600022, 1.332278806],
                  [1.040774373, 1.395407218], [1.107464794, 1.419279228],
                  [1.25029029, 1.323365067], [1.038104623, 1.429775605]])]}}]
    rng = np.random.default_rng(99)
    for i in range(25):
        n = int(rng.integers(5, 14))
        th = np.sort(rng.uniform(0, 2 * np.pi, n))
        r = rng.uniform(0.3, 1.2, n)
        ring = np.c_[1.0 + 0.8 * r * np.cos(th), 1.0 + 0.8 * r * np.sin(th)]
        feats.append({"name": f"star{i}", "geometry": {
            "type": "Polygon", "coordinates": [np.vstack([ring, ring[0]])]}})
    fdf = extract_features(pages_df(spark, "zstars", features=feats))
    fast = {r["label"]: (r["min"], r["max"], r["mean"], r["count"])
            for r in raster_statistics(fdf, range_cells, method="coverage").collect()}
    slow = _coverage_stats_reference(fdf, range_cells)
    assert set(fast) == set(slow)
    for k in slow:
        assert fast[k] == pytest.approx(slow[k], rel=1e-9), k


def test_tile_size_rides_with_the_table(spark):
    """Round-2 advice: the nominal grid pitch is carried as a column,
    so the consumer needs no tile_size= argument; a mismatched
    explicit value raises instead of silently shifting every cell."""
    from pandarus_spark.sources.raster import cells_from_tiles, tiles_from_array

    arr = np.arange(50, dtype=np.float64).reshape(10, 5)
    spec = RasterSpec(5, 10, (0.4, 0, 0, 0, -0.2, 2))
    tiles = tiles_from_array(spark, arr, tile_size=4)
    # no tile_size argument: read from the column
    auto = sorted(map(tuple, cells_from_tiles(tiles, spec).collect()))
    explicit = sorted(map(tuple, cells_from_tiles(tiles, spec, tile_size=4).collect()))
    assert auto == explicit and len(auto) == 50
    # mismatched explicit value must raise, not mis-place cells
    import pytest as _pytest
    from py4j.protocol import Py4JJavaError
    with _pytest.raises(Exception, match="tile_size"):
        cells_from_tiles(tiles, spec, tile_size=8).collect()
    # legacy table without the column: tile_size= is required
    legacy = tiles.drop("tile_size")
    with _pytest.raises(ValueError, match="legacy"):
        cells_from_tiles(legacy, spec)
    legacy_ok = sorted(map(tuple, cells_from_tiles(legacy, spec, tile_size=4).collect()))
    assert legacy_ok == auto


def test_convert_to_vector_projected_raster_warps_to_wgs84(spark):
    """Round-2 verdict #5: a projected (EPSG:3857) raster must come out
    in WGS84 degrees — every output vertex equal (1e-9) to to_wgs84 of
    the raw-CRS vertices, with ids/vals and both strategies unchanged."""
    from pandarus_spark.geometry.projection import to_wgs84

    rng = np.random.default_rng(7)
    vals = rng.integers(0, 2, size=(6, 5)).astype(np.float64)
    # a web-mercator raster over ~(0..5E, ~0..6 units of 100km)
    spec = RasterSpec(5, 6, (100000.0, 0, 0.0, 0, -100000.0, 300000.0), nodata=None,
                      crs="EPSG:3857")
    cells = raster_cells_df(spark, spec, vals)
    raw = {(r["id"], r["val"]): G.wkb_loads(bytes(r["geom_wkb"]))
           for r in convert_to_vector(cells).collect()}  # crs default: no warp
    warped = {(r["id"], r["val"]): G.wkb_loads(bytes(r["geom_wkb"]))
              for r in convert_to_vector(cells, crs="EPSG:3857").collect()}
    assert set(raw) == set(warped) and len(raw) >= 3
    for key, g in warped.items():
        parts_raw = raw[key]["coordinates"]
        parts_w = g["coordinates"]
        assert len(parts_raw) == len(parts_w)
        # same canonical part order (sorted by min vertex) in each space
        for pr, pw in zip(parts_raw, parts_w):
            ring_r = np.asarray(pr[0]); ring_w = np.asarray(pw[0])
            lon, lat = to_wgs84(ring_r[:, 0], ring_r[:, 1], "EPSG:3857")
            assert np.allclose(ring_w[:, 0], lon, atol=1e-9)
            assert np.allclose(ring_w[:, 1], lat, atol=1e-9)
    # tiles strategy warps identically
    tiles = {(r["id"], r["val"], bytes(r["geom_wkb"]))
             for r in convert_to_vector(cells, strategy="tiles", tile=3,
                                        crs="EPSG:3857").collect()}
    glob = {(r["id"], r["val"], bytes(r["geom_wkb"]))
            for r in convert_to_vector(cells, crs="EPSG:3857").collect()}
    assert tiles == glob


def test_convert_to_vector_cuts_antimeridian(spark):
    """A raster centered on lon 180 (tmerc +lon_0=180): cells straddling
    the antimeridian must split into two WGS84 parts, all longitudes in
    [-180, 180], with the cut edges exactly at ±180."""
    crs = "+proj=tmerc +lon_0=180 +k=1 +x_0=0 +y_0=0 +ellps=WGS84"
    # one row of 111km cells; cell 0 spans x in [-55500, 55500] —
    # STRADDLING x=0 (lon 180) — and cell 1 lies fully east of it
    vals = np.array([[4.0, 4.0]])
    spec = RasterSpec(2, 1, (111000.0, 0, -55500.0, 0, -111000.0, 55500.0),
                      nodata=None, crs=crs)
    cells = raster_cells_df(spark, spec, vals)
    rows = convert_to_vector(cells, crs=crs).collect()
    assert len(rows) == 1  # one contiguous region of value 4
    g = G.wkb_loads(bytes(rows[0]["geom_wkb"]))
    parts = g["coordinates"]
    # straddling cell cut in two + east cell normalized west = 3 parts
    assert len(parts) == 3
    east, west = [], []
    for p in parts:
        ring = np.asarray(p[0])
        assert ring[:, 0].min() >= -180.0 - 1e-12
        assert ring[:, 0].max() <= 180.0 + 1e-12
        (east if ring[:, 0].mean() > 0 else west).append(ring)
    assert len(east) == 1 and len(west) == 2
    # the cut edges sit exactly on the line
    assert np.isclose(east[0][:, 0], 180.0).any()
    assert any(np.isclose(r[:, 0], -180.0).any() for r in west)
    # the cut preserves total longitude span: ~0.5 deg east of the line
    # ([179.5, 180]) and ~1.5 deg west of it ([-180, -178.5])
    assert east[0][:, 0].min() == pytest.approx(179.5, abs=0.01)
    assert min(r[:, 0].min() for r in west) == -180.0
    assert max(r[:, 0].max() for r in west) == pytest.approx(-178.5, abs=0.01)


def test_gtiff_write_read_roundtrip(tmp_path):
    """Pure-python GeoTIFF sink/reader (round-2 verdict #6): array,
    affine, CRS and nodata survive the round trip exactly."""
    from pandarus_spark.sources.gtiff import read_gtiff_array, write_gtiff

    arr = np.arange(20, dtype=np.float64).reshape(4, 5) * 1.5
    arr[1, 2] = np.nan
    spec = RasterSpec(5, 4, (0.4, 0.0, -3.0, 0.0, -0.25, 2.0),
                      crs="EPSG:32617", nodata=-999.0)
    p = str(tmp_path / "band.tif")
    write_gtiff(p, arr, spec)
    got, gspec = read_gtiff_array(p)
    want = arr.copy(); want[1, 2] = -999.0  # NaN stored as nodata
    assert np.array_equal(got, want)
    assert (gspec.a, gspec.b, gspec.c, gspec.d, gspec.e, gspec.f) == \
        (spec.a, spec.b, spec.c, spec.d, spec.e, spec.f)
    assert gspec.crs == "EPSG:32617" and gspec.nodata == -999.0
    assert (gspec.width, gspec.height) == (5, 4)
    # geographic CRS key + no nodata
    spec2 = RasterSpec(5, 4, (0.4, 0.0, -3.0, 0.0, -0.25, 2.0))
    write_gtiff(p, np.nan_to_num(arr), spec2)
    _, g2 = read_gtiff_array(p)
    assert g2.crs == "EPSG:4326" and g2.nodata is None
    # non-EPSG CRS refused at write time
    with pytest.raises(ValueError, match="EPSG"):
        write_gtiff(p, arr, RasterSpec(5, 4, (1, 0, 0, 0, -1, 0),
                                       crs="+proj=moll"))


def test_gtiff_file_parity_for_raster_utilities(spark, tmp_path):
    """File-level twin of the reference's clean/round sinks
    (core.py:606,653-655): cells -> write_gtiff_cells -> read_gtiff
    (rasterio absent: pure fallback) -> cells_from_tiles reproduces the
    cell DataFrame exactly, float32 like the reference's output."""
    import pandarus_spark as ps
    from pandarus_spark.sources.raster import cells_from_tiles, read_gtiff

    vals = (np.arange(50, dtype=np.float64).reshape(10, 5) + 0.123456789) * 7.3
    spec = RasterSpec(5, 10, (0.4, 0, 0, 0, -0.2, 2), nodata=None)
    cells = raster_cells_df(spark, spec, vals)
    rounded = round_raster(cells, sig_digits=3)
    p = str(tmp_path / "rounded.tif")
    ps.write_gtiff_cells(p, rounded, spec)  # float32, like the reference
    tiles, rspec = read_gtiff(spark, p, tile_size=4)
    back = cells_from_tiles(tiles, rspec)
    a = sorted(map(tuple, rounded.collect()))
    b = sorted(map(tuple, back.collect()))
    assert a == b and len(a) == 50
    assert rspec.crs == "EPSG:4326"


def test_read_gtiff_fallback_error_mentions_contract(spark, tmp_path):
    """Without rasterio AND outside the baseline subset the reader
    still fails with the tile-parquet contract hint."""
    p = str(tmp_path / "bogus.tif")
    with open(p, "wb") as f:
        f.write(b"II*\x00garbage-not-a-real-ifd")
    from pandarus_spark.sources import raster as R
    with pytest.raises(ImportError, match="tile parquet"):
        R.read_gtiff(spark, p)


# ---------------------------------------------------------------------------
# weighted zonal statistics (exactextract weights= analogue, round 4b)
# ---------------------------------------------------------------------------

def _weighted_fixture(spark):
    arr = np.arange(50, dtype=np.float64).reshape(10, 5)
    arr[4, :] = -1.0
    arr[5, :] = -1.0
    spec = RasterSpec(5, 10, (0.4, 0, 0, 0, -0.2, 2), nodata=-1.0)
    cells = raster_cells_df(spark, spec, arr)
    r, c = np.meshgrid(np.arange(10), np.arange(5), indexing="ij")
    warr = ((r * 5 + c) % 7 + 1).astype(np.float64)
    wcells = raster_cells_df(spark, spec, warr, drop_nodata=False)
    grid = extract_features(pages_df(spark, "grid"))
    return grid, cells, wcells, arr, warr, spec


def test_weighted_zonal_matches_closed_form(spark):
    """Weighted mean/sum vs a numpy closed-form recomputation (axis-
    aligned coverage fractions — no geometry kernel), float32-rounded
    like the operator's output contract."""
    grid, cells, wcells, arr, warr, spec = _weighted_fixture(spark)
    out = {r["label"]: (r["weighted_mean"], r["weighted_sum"], r["mean"], r["count"])
           for r in raster_statistics(grid, cells, method="coverage",
                                      weight_cells=wcells).collect()}
    # closed form per grid cell (unit boxes at (i, j)..(i+1, j+1))
    for i in range(2):
        for j in range(2):
            label = f"grid cell {i * 2 + j}"
            num = den = 0.0
            for rr in range(10):
                if rr in (4, 5):
                    continue
                for cc in range(5):
                    cminx, cmaxx = 0.4 * cc, 0.4 * (cc + 1)
                    cminy, cmaxy = 2 - 0.2 * (rr + 1), 2 - 0.2 * rr
                    ox = min(cmaxx, i + 1.0) - max(cminx, float(i))
                    oy = min(cmaxy, j + 1.0) - max(cminy, float(j))
                    if ox <= 0 or oy <= 0:
                        continue
                    cov = min(ox * oy / ((cmaxx - cminx) * (cmaxy - cminy)), 1.0)
                    cw = cov * warr[rr, cc]
                    num += arr[rr, cc] * cw
                    den += cw
            got_mean, got_sum = out[label][0], out[label][1]
            assert got_mean == np.float64(np.float32(num / den))
            assert got_sum == np.float64(np.float32(num))


def test_weighted_zonal_tiles_matches_broadcast(spark):
    grid, cells, wcells, *_ = _weighted_fixture(spark)
    a = sorted(map(tuple, raster_statistics(
        grid, cells, weight_cells=wcells).collect()))
    b = sorted(map(tuple, raster_statistics(
        grid, cells, weight_cells=wcells, strategy="tiles").collect()))
    assert a == b


def test_weighted_zonal_requires_coverage(spark):
    grid, cells, wcells, *_ = _weighted_fixture(spark)
    with pytest.raises(ValueError, match="coverage"):
        raster_statistics(grid, cells, method="centers", weight_cells=wcells)
