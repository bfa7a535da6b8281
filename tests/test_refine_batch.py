"""Tests for the batched convex-cover refine tier: non-rect simple
polygon pairs (convex or concave) through intersect() and refine_pairs()
must match the scalar kernel's answers exactly, and the flat convex
cover must reproduce the scalar cover bit for bit."""

import numpy as np
import pytest

import pandarus_spark as ps
from pandarus_spark.geometry import geom as G
from pandarus_spark.sources.pages import extract_features, grid_features, pages_df


def _hexagon(cx, cy, r):
    ang = np.pi / 180.0 * (60.0 * np.arange(6) + 7.0)  # rotated: no axis alignment
    ring = np.column_stack([cx + r * np.cos(ang), cy + r * np.sin(ang)])
    return {"type": "Polygon", "coordinates": [np.vstack([ring, ring[0]])]}


def _lshape(x0, y0, s):
    """Concave (L-shaped) polygon — a multi-piece convex cover."""
    r = np.array([[x0, y0], [x0 + s, y0], [x0 + s, y0 + s / 2], [x0 + s / 2, y0 + s / 2],
                  [x0 + s / 2, y0 + s], [x0, y0 + s], [x0, y0]], dtype=float)
    return {"type": "Polygon", "coordinates": [r]}


def _scalar_expected(from_feats, to_feats):
    exp = {}
    for f in from_feats:
        for t in to_feats:
            inter = G.intersection(f["geometry"], "polygon", t["geometry"])
            if inter is None:
                continue
            m = G.measure(inter, "polygon")
            if m > 0:
                exp[(str(f["name"]), str(t["name"]))] = m
    return exp


@pytest.fixture(scope="module")
def grid(spark):
    return extract_features(pages_df(spark, "grid"))


def test_hexagons_over_grid_match_scalar(spark, grid):
    hexes = [{"name": f"hex {i}", "geometry": _hexagon(0.4 + 0.45 * i, 0.6 + 0.3 * i, 0.5)}
             for i in range(4)]
    feats = extract_features(pages_df(spark, "hexes", features=hexes))
    got = {(r["from_label"], r["to_label"]): r["measure"]
           for r in ps.intersect(feats, grid).collect()}
    exp = _scalar_expected(hexes, grid_features())
    assert set(got) == set(exp)
    for k, v in exp.items():
        assert got[k] == pytest.approx(v, rel=1e-12)


def test_hexagons_over_hexgrid_match_scalar(spark):
    """Convex × convex, neither rect: one cover piece per side."""
    probes = [{"name": f"p{i}", "geometry": _hexagon(0.3 * i, 0.2 * i, 0.45)}
              for i in range(5)]
    base = [{"name": f"b{j}", "geometry": _hexagon(0.25 * j + 0.1, 0.25 * j, 0.5)}
            for j in range(5)]
    f1 = extract_features(pages_df(spark, "hexp", features=probes))
    f2 = extract_features(pages_df(spark, "hexb", features=base))
    got = {(r["from_label"], r["to_label"]): r["measure"]
           for r in ps.intersect(f1, f2).collect()}
    exp = _scalar_expected(probes, base)
    assert set(got) == set(exp)
    for k, v in exp.items():
        assert got[k] == pytest.approx(v, rel=1e-12)


def test_concave_base_routes_scalar_and_matches(spark):
    """Concave to-side: the cover tier clips its trapezoid pieces and
    must match the scalar kernel."""
    probes = [{"name": f"hex {i}", "geometry": _hexagon(0.5 + 0.3 * i, 0.7, 0.4)}
              for i in range(3)]
    base = [{"name": f"L{j}", "geometry": _lshape(0.2 + 0.5 * j, 0.3, 1.0)}
            for j in range(3)]
    f1 = extract_features(pages_df(spark, "hexq", features=probes))
    f2 = extract_features(pages_df(spark, "lbase", features=base))
    got = {(r["from_label"], r["to_label"]): r["measure"]
           for r in ps.intersect(f1, f2).collect()}
    exp = _scalar_expected(probes, base)
    assert set(got) == set(exp)
    for k, v in exp.items():
        assert got[k] == pytest.approx(v, rel=1e-9)


def test_mixed_rect_and_hex_batch(spark, grid):
    """A batch mixing the rect tier, the cover tier (hex), and empty
    overlaps."""
    mixed = ([{"name": "sq", "geometry": {"type": "Polygon", "coordinates": [np.array(
        [[0.5, 0.5], [1.5, 0.5], [1.5, 1.5], [0.5, 1.5], [0.5, 0.5]])]}}]
        + [{"name": f"hex {i}", "geometry": _hexagon(0.8 + 0.2 * i, 1.0, 0.35)}
           for i in range(3)]
        + [{"name": "far", "geometry": _hexagon(50.0, 50.0, 0.5)}])
    feats = extract_features(pages_df(spark, "mixed", features=mixed))
    got = {(r["from_label"], r["to_label"]): r["measure"]
           for r in ps.intersect(feats, grid).collect()}
    exp = _scalar_expected(mixed, grid_features())
    assert set(got) == set(exp)
    for k, v in exp.items():
        assert got[k] == pytest.approx(v, rel=1e-9)


def test_concave_disconnected_intersection_through_intersect(spark):
    """A C-shaped feature over a box that overlaps both arms: the true
    intersection is two disjoint rects.  Single-pass S-H lost area here
    (round-2 fuzz), so the batched tier clips the C-shape's convex cover
    pieces — the overlay measure must equal the sum of the two rects'
    Mollweide measures exactly."""
    c_shape = {"type": "Polygon", "coordinates": [np.array(
        [[0, 0], [3, 0], [3, 1], [1, 1], [1, 2], [3, 2], [3, 3], [0, 3], [0, 0]],
        dtype=float)]}
    box = {"type": "Polygon", "coordinates": [np.array(
        [[2, 0.5], [3, 0.5], [3, 2.5], [2, 2.5], [2, 0.5]], dtype=float)]}
    feats = extract_features(pages_df(spark, "cshape", features=[
        {"name": "c", "geometry": c_shape}]))
    base = extract_features(pages_df(spark, "cbox", features=[
        {"name": "b", "geometry": box}]))
    rows = ps.intersect(feats, base).collect()
    assert len(rows) == 1
    want = sum(G.measure({"type": "Polygon", "coordinates": [np.array(b, dtype=float)]},
                         "polygon")
               for b in ([[2, 0.5], [3, 0.5], [3, 1], [2, 1], [2, 0.5]],
                         [[2, 2], [3, 2], [3, 2.5], [2, 2.5], [2, 2]]))
    assert rows[0]["measure"] == pytest.approx(want, rel=1e-12)


_PAIRS_SCHEMA = ("from_id long, to_id long, from_label string, to_label string, "
                 "from_wkb binary, from_kind string, to_wkb binary, "
                 "f_minx double, f_miny double, f_maxx double, f_maxy double, "
                 "t_minx double, t_miny double, t_maxx double, t_maxy double, "
                 "from_rect boolean, to_rect boolean")


def _star(cx, cy, r1, r2, n=7):
    ang = np.linspace(0, 2 * np.pi, 2 * n, endpoint=False) + 0.3
    rad = np.where(np.arange(2 * n) % 2 == 0, r2, r1)
    ring = np.column_stack([cx + rad * np.cos(ang), cy + rad * np.sin(ang)])
    return {"type": "Polygon", "coordinates": [np.vstack([ring, ring[0]])]}


def _pair_rows(froms, tos):
    def _bx(g):
        r = np.asarray(g["coordinates"][0])
        return float(r[:, 0].min()), float(r[:, 1].min()), float(r[:, 0].max()), float(r[:, 1].max())

    return [(fi, ti, f"f{fi}", f"t{ti}",
             bytearray(G.wkb_dumps(f)), "polygon", bytearray(G.wkb_dumps(t)),
             *_bx(f), *_bx(t), False, False)
            for fi, f in enumerate(froms) for ti, t in enumerate(tos)]


def _scalar_rows(df):
    """The scalar tier's answer for a refine input, computed in-process."""
    from pandarus_spark.operators.intersect import _refine_scalar
    return _refine_scalar(df.toPandas()).to_dict("records")


def test_concave_tier_bit_identical_to_scalar(spark):
    """The batched convex-cover tier must be BIT-identical to the
    scalar kernel: same rows, same float measures, same WKB bytes — on
    L-shapes, stars, concave×concave, the disconnected C-shape case, and
    hexagon × hexagon (one cover piece per side)."""
    from pandarus_spark.operators.intersect import refine_pairs

    c_shape = {"type": "Polygon", "coordinates": [np.array(
        [[0, 0], [3, 0], [3, 1], [1, 1], [1, 2], [3, 2], [3, 3], [0, 3], [0, 0]],
        dtype=float)]}
    froms = ([_lshape(0.2 + 0.4 * j, 0.3, 1.0) for j in range(3)]
             + [_star(0.8, 0.9, 0.3, 0.9), c_shape, _hexagon(0.9, 0.8, 0.7)])
    tos = ([_hexagon(0.5 + 0.3 * i, 0.7, 0.5) for i in range(3)]
           + [_lshape(0.5, 0.5, 1.4), _star(1.0, 1.0, 0.4, 1.1),
              {"type": "Polygon", "coordinates": [np.array(
                  [[2, 0.5], [3, 0.5], [3, 2.5], [2, 2.5], [2, 0.5]], dtype=float)]}])
    hexes = [_hexagon(0.3 * i, 0.2 * i, 0.45) for i in range(5)]
    key = lambda r: (r["from_id"], r["to_id"])  # noqa: E731
    for rows in (_pair_rows(froms, tos), _pair_rows(hexes, hexes)):
        df = spark.createDataFrame(rows, _PAIRS_SCHEMA).coalesce(1)
        batched = sorted(refine_pairs(df).collect(), key=key)
        scalar = sorted(_scalar_rows(df), key=key)
        assert len(batched) == len(scalar) > 10
        for b, s in zip(batched, scalar):
            assert key(b) == key(s)
            # identical vertices (bytes); measures agree to the shoelace
            # summation-order ulp (the batched shoelace masks padded slots,
            # the scalar one walks the closed ring)
            assert bytes(b["geom_wkb"]) == bytes(s["geom_wkb"])
            assert b["measure"] == pytest.approx(s["measure"], rel=1e-12)


def test_convex_cover_batch_bit_identical_to_scalar():
    """convex_cover_flat / convex_cover_batch must reproduce
    geom._convex_cover EXACTLY (same piece count, same float vertices)
    on convex rings, concave simple rings, stars, axis-aligned
    C-shapes with collinear runs, degenerate rings, and random
    self-intersecting walks — the flat cover is what the concave
    refine tier clips, so any drift here is a wrong overlay geometry."""
    from pandarus_spark.geometry import batch as B
    from pandarus_spark.geometry import geom as G

    rng = np.random.default_rng(7)
    s = 1.1
    rel = np.array([[0, 0], [s, 0], [s, s / 2], [s / 2, s / 2], [s / 2, s], [0, s]])
    rings = [rel + rng.uniform(-100, 100, 2) for _ in range(20)]
    for _ in range(20):                      # stars: many slabs per ring
        n = int(rng.integers(5, 12))
        ang = np.linspace(0, 2 * np.pi, 2 * n, endpoint=False) + rng.uniform(0, 1)
        rad = np.where(np.arange(2 * n) % 2 == 0,
                       rng.uniform(1.5, 3), rng.uniform(0.3, 1))
        c = rng.uniform(-50, 50, 2)
        rings.append(np.column_stack([c[0] + rad * np.cos(ang),
                                      c[1] + rad * np.sin(ang)]))
    for _ in range(60):                      # random walks, often self-intersecting
        rings.append(rng.uniform(-10, 10, (int(rng.integers(4, 15)), 2)))
    for _ in range(15):                      # convex fans
        n = int(rng.integers(3, 10))
        ang = np.sort(rng.uniform(0, 2 * np.pi, n))
        rings.append(np.column_stack([3 * np.cos(ang), 3 * np.sin(ang)])
                     + rng.uniform(-5, 5, 2))
    rings.append(np.array([[0, 0], [3, 0], [3, 1], [1, 1], [1, 2], [3, 2],
                           [3, 3], [0, 3]], dtype=float))       # C-shape
    rings.append(np.array([[0, 0], [1, 0], [2, 0], [2, 2], [0, 2]],
                          dtype=float))                         # collinear verts
    rings.append(np.array([[0, 0], [1, 0], [1, 0], [1, 1]], dtype=float))
    rings.append(np.array([[0, 0], [1, 0], [2, 0]], dtype=float))  # zero area

    pts, cnt = B.pad_rings(rings)
    covers = B.convex_cover_batch(pts, cnt)
    for i in range(len(rings)):
        c = int(cnt[i])
        closed = np.vstack([pts[i, :c], pts[i, :1]])
        want = G._convex_cover(closed)
        got = covers[i]
        assert len(got) == len(want), f"ring {i}: {len(got)} != {len(want)} pieces"
        for w, g in zip(want, got):
            assert w.shape == g.shape and np.array_equal(w, g), f"ring {i}"


def _pairs_frame(froms, tos):
    """A refine input frame, without Spark: every from × to pair."""
    import pandas as pd
    names = [c.split()[0] for c in _PAIRS_SCHEMA.split(", ")]
    return pd.DataFrame([tuple(bytes(v) if isinstance(v, bytearray) else v for v in r)
                         for r in _pair_rows(froms, tos)], columns=names)


def _ngon(cx, cy, r, n, rot=0.0):
    ang = rot + 2 * np.pi * np.arange(n) / n
    ring = np.column_stack([cx + r * np.cos(ang), cy + r * np.sin(ang)])
    return {"type": "Polygon", "coordinates": [np.vstack([ring, ring[0]])]}


def test_high_fan_out_and_wide_rings_stay_in_cover_tier():
    """Every simple single-ring pair takes the cover tier, however many
    piece pairs it fans out to and however wide its rings are: a star ×
    box, two wide stars (past 4,096 piece pairs) and a 5,000-vertex ring
    × hexagon.  WKB bytes equal the scalar kernel's, measures agree to
    rel 1e-12."""
    import pandas as pd

    from pandarus_spark.geometry import batch as B
    from pandarus_spark.operators.intersect import _refine_cover_batch, _refine_scalar

    box = {"type": "Polygon", "coordinates": [np.array(
        [[0, 0], [1.5, 0], [1.5, 1.5], [0, 1.5], [0, 0]], dtype=float)]}
    stars = (_star(0.8, 0.9, 0.3, 0.9, n=40), _star(1.0, 0.7, 0.4, 1.1, n=30))
    wide = _ngon(0.5, 0.5, 1.0, 5000)
    assert np.prod([len(G._convex_cover(g["coordinates"][0])) for g in stars]) > 4096
    pdf = pd.concat([_pairs_frame([_star(0.8, 0.9, 0.3, 0.9, n=9)], [box]),
                     _pairs_frame(stars[:1], stars[1:]),
                     _pairs_frame([wide], [_hexagon(1.4, 0.6, 0.3)])], ignore_index=True)
    handled, got = _refine_cover_batch(pdf, B)
    assert handled.all()
    want = _refine_scalar(pdf)
    assert len(got) == len(want) == 3
    for g, w in zip(got.itertuples(), want.itertuples()):
        assert g.from_label == w.from_label
        assert bytes(g.geom_wkb) == bytes(w.geom_wkb)
        assert g.measure == pytest.approx(w.measure, rel=1e-12)


def test_cover_tier_is_batch_invariant():
    """A row's measure and WKB do not depend on the rows it is batched
    with: the tier on a whole frame equals, bit for bit, the tier on
    each row alone.  The frame holds one wide-output pair (an 80-gon ×
    hexagon) next to hexagon pairs whose 3–7-vertex outputs would sum
    differently if padded to its width."""
    from pandarus_spark.geometry import batch as B
    from pandarus_spark.operators.intersect import _refine_cover_batch

    rng = np.random.default_rng(1)
    froms, tos = [_ngon(10.0, 45.0, 0.5, 80, 0.1)], [_ngon(10.2, 45.1, 0.6, 6, 0.3)]
    for _ in range(60):
        cx, cy = rng.uniform(-20, 20), rng.uniform(-60, 60)
        froms.append(_ngon(cx, cy, rng.uniform(0.5, 1), 6, rng.uniform(0, 1)))
        tos.append(_ngon(cx + rng.uniform(-0.5, 0.5), cy + rng.uniform(-0.5, 0.5),
                         rng.uniform(0.5, 1), 6, rng.uniform(0, 1)))
    pdf = _pairs_frame(froms, tos)
    pdf = pdf[pdf["from_id"] == pdf["to_id"]].reset_index(drop=True)
    _, whole = _refine_cover_batch(pdf, B)
    assert len(whole) == len(pdf)
    for i in range(len(pdf)):
        _, alone = _refine_cover_batch(pdf.iloc[[i]], B)
        assert whole["from_id"].iloc[i] == alone["from_id"].iloc[0] == i
        assert whole["measure"].iloc[i] == alone["measure"].iloc[0]   # bit for bit
        assert bytes(whole["geom_wkb"].iloc[i]) == bytes(alone["geom_wkb"].iloc[0])


def test_wide_ring_rows_stay_bounded():
    """200 rows of one 4,000-vertex convex ring × a hexagon on its
    edge: padding every pair of the batch to the ring's width peaked at
    ~160 MB; clipping in budget spans keeps to a few ~32 MB chunks."""
    import tracemalloc

    from pandarus_spark.geometry import batch as B
    from pandarus_spark.operators.intersect import _refine_cover_batch, _refine_scalar

    ang = 2 * np.pi * np.arange(200) / 200
    pdf = _pairs_frame([_ngon(0.0, 0.0, 1.0, 4000)],
                       [_hexagon(np.cos(a), np.sin(a), 0.05) for a in ang])
    tracemalloc.start()
    try:
        handled, got = _refine_cover_batch(pdf, B)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert peak < 80e6
    assert handled.all() and len(got) == 200
    want = _refine_scalar(pdf.iloc[::50])
    assert [bytes(w) for w in got["geom_wkb"].iloc[::50]] == [bytes(w) for w in want["geom_wkb"]]
    np.testing.assert_allclose(got["measure"].iloc[::50], want["measure"], rtol=1e-12)


def _scalar_frame(pairs):
    import pandas as pd
    return pd.DataFrame({
        "from_id": np.arange(len(pairs), dtype="int64"),
        "to_id": np.zeros(len(pairs), dtype="int64"),
        "from_label": [f"f{i}" for i in range(len(pairs))], "to_label": "t",
        "from_wkb": [f for f, _ in pairs], "from_kind": "polygon",
        "to_wkb": [t for _, t in pairs]})


def test_refine_scalar_skips_malformed_rows():
    """Truncated, garbage and foreign-code WKB rows are skipped one by
    one; the well-formed rows around them are kept."""
    from pandarus_spark.operators.intersect import _refine_scalar
    sq = G.wkb_dumps(_hexagon(0.0, 0.0, 1.0))
    to = G.wkb_dumps(_hexagon(0.5, 0.0, 1.0))
    bad = [sq[:0], sq[:1], sq[:7], sq[:40], b"\x01" + b"\xff" * 12,
           b"\x01\x03\x00\x00\x20\x01\x00\x00\x00", bytes(range(64))]
    pairs = [(sq, to)] + [(b, to) for b in bad] + [(sq, b) for b in bad] + [(to, sq)]
    out = _refine_scalar(_scalar_frame(pairs))
    assert out["from_label"].tolist() == ["f0", f"f{len(pairs) - 1}"]
    assert (out["measure"] > 0).all()


def test_refine_scalar_propagates_unexpected_errors(monkeypatch):
    """Only malformed-geometry errors are skipped: any other exception
    from the kernel is a bug and must fail the task, not drop the row."""
    from pandarus_spark.operators.intersect import _refine_scalar
    sq = G.wkb_dumps(_hexagon(0.0, 0.0, 1.0))

    def boom(*args):
        raise RuntimeError("kernel bug")
    monkeypatch.setattr(G, "intersection", boom)
    with pytest.raises(RuntimeError, match="kernel bug"):
        _refine_scalar(_scalar_frame([(sq, sq)]))
