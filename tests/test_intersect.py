"""End-to-end overlay-join goldens on Spark, ported from the
reference's integration suite (test_intersect.py,
test_intersections_from_intersection.py)."""

import pytest
from pyspark.sql import functions as F

import pandarus_spark as ps
from pandarus_spark.geometry import geom as G
from pandarus_spark.sources.pages import FIXTURES, extract_features, pages_df
from tests.conftest import CELL_AREA, GOLDEN_GRID_SQUARE, ONE_DEGREE


@pytest.fixture(scope="module")
def grid(spark):
    return extract_features(pages_df(spark, "grid")).cache()


def _rows(df):
    return {(r["from_label"], r["to_label"]): r["measure"] for r in df.collect()}


def test_grid_square_exact_goldens(spark, grid):
    """The reference's exact stored goldens
    (tests/data/i_result.json) at 1e-9 relative (target 1e-6)."""
    square = extract_features(pages_df(spark, "square"))
    out = ps.intersect(square, grid)
    got = _rows(out)
    assert set(got) == {(t, f) for (f, t) in GOLDEN_GRID_SQUARE}  # flipped: square is from
    for (f, t), golden in GOLDEN_GRID_SQUARE.items():
        assert abs(got[(t, f)] - golden) / golden < 1e-9


def test_output_schema_and_geometry(spark, grid):
    square = extract_features(pages_df(spark, "square"))
    out = ps.intersect(square, grid, ids="sorted")
    assert [f.name for f in out.schema.fields] == ["id", "from_label", "to_label", "measure", "geom_wkb"]
    rows = out.collect()
    assert sorted(r["id"] for r in rows) == [1, 2, 3, 4]


def test_fast_ids_are_unique_default(spark, grid):
    """ids='fast' (the default) must still be unique; only density /
    ordering are relaxed vs the reference's enumeration ids."""
    square = extract_features(pages_df(spark, "square"))
    rows = ps.intersect(square, grid).collect()
    assert len({r["id"] for r in rows}) == len(rows) == 4
    for r in rows:
        g = G.wkb_loads(bytes(r["geom_wkb"]))
        assert g["type"] == "MultiPolygon"


def test_outside_grid(spark, grid):
    """test_intersect.py:147-215 — 2 rows, each ~ cell_area/4."""
    outside = extract_features(pages_df(spark, "outside"))
    got = _rows(ps.intersect(outside, grid))
    assert set(got) == {("by-myself", "grid cell 1"), ("by-myself", "grid cell 3")}
    for v in got.values():
        assert v == pytest.approx(CELL_AREA / 4.0, rel=1e-2)


def test_lines_grid(spark, grid):
    got = _rows(ps.intersect(extract_features(pages_df(spark, "lines")), grid))
    expect = {
        ("A", "grid cell 0"): (62000.0, 1e-2),
        ("A", "grid cell 1"): (ONE_DEGREE, 1e-2),
        ("A", "grid cell 3"): (50000.0, 1e-2),
        ("B", "grid cell 2"): (2 ** 0.5 * ONE_DEGREE / 2, 2e-2),
    }
    assert set(got) == set(expect)
    for k, (v, rtol) in expect.items():
        assert got[k] == pytest.approx(v, rel=rtol)


def test_points_grid(spark, grid):
    got = _rows(ps.intersect(extract_features(pages_df(spark, "points")), grid))
    assert got == {("point 1", "grid cell 0"): 1.0, ("point 2", "grid cell 3"): 1.0}


def test_single_point_touches_all_four(spark, grid):
    got = _rows(ps.intersect(extract_features(pages_df(spark, "point")), grid))
    assert set(got) == {("point", f"grid cell {i}") for i in range(4)}
    assert all(v == 1.0 for v in got.values())


def test_rect_fast_path_matches_general_kernel(spark, grid):
    """The vectorized rect×rect refine must agree with the general clip
    kernel to fp round-off (same corners, same Mollweide shoelace).
    Inputs without an ``is_rect`` column never take the rect tier."""
    square = extract_features(pages_df(spark, "square"))
    fast = _rows(ps.intersect(square, grid))
    slow = _rows(ps.intersect(square.drop("is_rect"), grid.drop("is_rect")))
    assert set(fast) == set(slow)
    for k in fast:
        assert fast[k] == pytest.approx(slow[k], rel=1e-12)


def test_non_polygon_second_side_rejected(spark, grid):
    lines = extract_features(pages_df(spark, "lines"))
    with pytest.raises(ValueError, match="polygon"):
        ps.intersect(grid, lines)


def test_salting_is_result_invariant(spark, grid):
    """FIXTURES.md §5 hot-cell requirement: salted == unsalted."""
    square = extract_features(pages_df(spark, "square"))
    plain = _rows(ps.intersect(square, grid))
    salted = _rows(ps.intersect(square, grid, salt_buckets=4, salt_threshold=1))
    assert plain.keys() == salted.keys()
    for k in plain:
        assert plain[k] == pytest.approx(salted[k], rel=1e-12)


def _jobs_in_group(spark, group, action):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_candidate_pairs_finds_both_cover_minima_in_one_job(spark, grid):
    """Without lo1/lo2, candidate_pairs computes both sides' coarsest
    cover resolutions in one union aggregate — as many jobs as ONE
    side's _min_emit_res — and pairs as with the minima passed in."""
    from pandarus_spark.operators.intersect import (DEFAULT_MAX_CELLS, DEFAULT_TARGET_RES,
                                                    _min_emit_res, candidate_pairs)
    res, max_cells = DEFAULT_TARGET_RES, DEFAULT_MAX_CELLS
    square = extract_features(pages_df(spark, "square")).cache()
    square.count(), grid.count()  # materialized: count only the minima jobs
    lo1, one_side = _jobs_in_group(spark, "one-side-minimum",
                                   lambda: _min_emit_res(square, res, max_cells))
    pairs, both_sides = _jobs_in_group(spark, "both-side-minima",
                                       lambda: candidate_pairs(square, grid))
    assert both_sides == one_side
    lo2 = _min_emit_res(grid, res, max_cells)
    given = candidate_pairs(square, grid, lo1=lo1, lo2=lo2)
    assert sorted(pairs.collect()) == sorted(given.collect())
    assert pairs.count() == 4


def test_intersections_from_intersection(spark, grid):
    """core.py:190-269 — two pure projections of the overlay output."""
    square = extract_features(pages_df(spark, "square"))
    inter = ps.intersect(square, grid)
    fp1, fp2 = ps.intersections_from_intersection(inter)
    r1 = [(r["label"], r["measure"]) for r in fp1.collect()]
    r2 = {r["label"] for r in fp2.collect()}
    assert fp1.columns == ["id", "label", "measure"]
    assert fp2.columns == ["id", "label", "measure"]
    assert {l for l, _ in r1} == {"single"} and len(r1) == 4
    assert r2 == {f"grid cell {i}" for i in range(4)}
    assert sorted(m for _, m in r1) == pytest.approx(
        sorted(GOLDEN_GRID_SQUARE.values()), rel=1e-9)


def test_disjoint_maps_empty(spark, grid):
    big = extract_features(pages_df(spark, "big-grid"))
    assert ps.intersect(big, grid).count() == 0


def test_geometry_collection_feature_via_allow_collections(spark, grid):
    """A GeometryCollection feature (allowed explicitly) intersects like
    its contained polygon — the reference's recursive kind extraction
    (recursive_geom_finder, utils/geometry.py:31-71)."""
    gc = extract_features(pages_df(spark, "gc"), allow_collections=True)
    got = _rows(ps.intersect(gc, grid))
    square = extract_features(pages_df(spark, "square"))
    want = {("complicated", t): m
            for (s, t), m in _rows(ps.intersect(square, grid)).items()}
    assert set(got) == set(want)
    for k, m in want.items():
        assert abs(got[k] - m) / m < 1e-12
