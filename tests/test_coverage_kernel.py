"""The zonal coverage kernel, in process and without Spark.

``raster_stats._coverage_fractions`` weighs one Arrow batch of
(cell, zone) candidate rows in one batched pass.  Pinned here:

* a row's fraction depends on its own zone and cell only — the kernel
  on a whole frame equals, bit for bit, the kernel on each zone group;
* fractions match the per-cell exact clip ``_coverage_weights_scalar``
  (rel 1e-9) on concave stars, holes, multi-part and collection zones
  (one holding a ring-less polygon), edge/corner touches and a
  degenerate sliver ring;
* one ``clip_convex_batch`` call per budget span, not one per piece,
  and a wide zone splits the batch into bounded spans;
* one wide ring among many small ones costs memory by its own width,
  not by every ring padded to it.
"""

import tracemalloc

import numpy as np
import pandas as pd
import pytest

from pandarus_spark.geometry import batch as B
from pandarus_spark.geometry import geom as G
from pandarus_spark.operators import raster_stats as R


def _ring(xy):
    xy = np.asarray(xy, dtype=np.float64)
    return np.vstack([xy, xy[:1]])


def _box(x0, y0, x1, y1):
    return _ring([[x0, y0], [x1, y0], [x1, y1], [x0, y1]])


def _star(rng, cx, cy, scale):
    n = int(rng.integers(5, 14))
    th = np.sort(rng.uniform(0, 2 * np.pi, n))
    r = rng.uniform(0.3, 1.2, n)
    return _ring(np.c_[cx + scale * r * np.cos(th), cy + scale * r * np.sin(th)])


def _zones():
    """label → geometry dict: every zone shape the kernel must handle."""
    rng = np.random.default_rng(7)
    zones = {f"star{i}": {"type": "Polygon", "coordinates": [_star(rng, 1.0, 1.0, 0.8)]}
             for i in range(6)}
    # a small 24-gon: its clips by one cell keep ~8 vertices, wider than
    # any other zone's, so they pad the whole batch
    th = np.linspace(0.1, 2 * np.pi + 0.1, 24, endpoint=False)
    zones["disc"] = {"type": "Polygon", "coordinates": [
        _ring(np.c_[1.03 + 0.17 * np.cos(th), 0.97 + 0.17 * np.sin(th)])]}
    zones["donut"] = {"type": "Polygon", "coordinates": [
        _box(0.0, 0.0, 2.0, 2.0), _box(0.6, 0.6, 1.4, 1.4)]}
    zones["two_parts"] = {"type": "MultiPolygon", "coordinates": [
        [_box(0.1, 0.1, 0.9, 0.7)],
        [_ring([[1.1, 1.0], [1.9, 1.2], [1.5, 1.9]])]]}
    zones["collection"] = {"type": "GeometryCollection", "geometries": [
        {"type": "LineString", "coordinates": np.array([[0.0, 0.0], [2.0, 2.0]])},
        {"type": "Polygon", "coordinates": [_ring([[0.3, 0.3], [1.7, 0.5], [1.0, 1.6]])]},
        {"type": "Point", "coordinates": np.array([1.0, 1.0])}]}
    # a square on the cell grid: cells beside it touch an edge or a corner
    zones["grid_square"] = {"type": "Polygon", "coordinates": [_box(0.5, 0.5, 1.5, 1.5)]}
    # zero-area sliver next to a real exterior
    zones["sliver"] = {"type": "MultiPolygon", "coordinates": [
        [_ring([[0.2, 0.2], [1.0, 1.0], [1.8, 1.8]])],
        [_box(1.2, 0.2, 1.8, 0.8)]]}
    zones["line"] = {"type": "LineString", "coordinates": np.array([[0.0, 0.0], [2.0, 2.0]])}
    zones["point"] = {"type": "Point", "coordinates": np.array([1.0, 1.0])}
    return zones


def _frame(zones, step=0.25, extent=(-0.25, 2.25), seed=3):
    """Candidate rows: every zone against every cell of a ``step`` grid
    over ``extent``², rows shuffled so zones interleave, as in a
    cell-join batch.  ``wval`` is a per-row tag to check alignment."""
    edges = np.arange(extent[0], extent[1] + step / 2, step)
    x0, y0 = np.meshgrid(edges[:-1], edges[:-1])
    x0, y0 = x0.ravel(), y0.ravel()
    recs = []
    for label, geom in zones.items():
        wkb = G.wkb_dumps(geom)
        for i in range(len(x0)):
            recs.append((label, wkb, float(i), x0[i], y0[i], x0[i] + step, y0[i] + step))
    pdf = pd.DataFrame(recs, columns=["label", "geom_wkb", "value",
                                      "minx", "miny", "maxx", "maxy"])
    pdf = pdf.sample(frac=1.0, random_state=seed).reset_index(drop=True)
    pdf["wval"] = np.arange(len(pdf), dtype=np.float64) * 10.0
    return pdf


def _fractions(pdf):
    return R._coverage_fractions(pdf["geom_wkb"], *(pdf[k].to_numpy() for k in
                                                  ("minx", "miny", "maxx", "maxy")))


def _scalar(pdf, rows):
    """Per-row fractions from the scalar per-cell exact clip."""
    out = np.zeros(len(rows))
    for k, i in enumerate(rows):
        r = pdf.iloc[i]
        parts = G.extract_kind_parts(G.wkb_loads(bytes(r["geom_wkb"])), "polygon")
        out[k] = R._coverage_weights_scalar(parts, *(np.array([r[c]]) for c in
                                                     ("minx", "miny", "maxx", "maxy")))[0]
    return out


@pytest.mark.parametrize("step, extent", [(0.25, (-0.25, 2.25)),
                                          (0.2513, (-0.2371, 2.3))])
def test_whole_frame_equals_per_group_bit_for_bit(step, extent):
    # off the dyadic grid, clip coordinates round, so a row's area would
    # change with the padding of the batch if the sum depended on it
    pdf = _frame(_zones(), step, extent)
    order, frac = _fractions(pdf)
    # groupby(sort=False) order: zones by first appearance, rows in order
    expect = np.concatenate([g.index.to_numpy()
                             for _, g in pdf.groupby("geom_wkb", sort=False)])
    assert np.array_equal(order, expect)
    at = 0
    for _, grp in pdf.groupby("geom_wkb", sort=False):
        g_order, g_frac = _fractions(grp.reset_index(drop=True))
        assert np.array_equal(g_order, np.arange(len(grp)))
        assert np.array_equal(frac[at:at + len(grp)], g_frac)  # bit for bit
        at += len(grp)
    assert at == len(order)


def test_fractions_match_scalar_clip():
    pdf = _frame(_zones())
    order, frac = _fractions(pdf)
    np.testing.assert_allclose(frac, _scalar(pdf, order), rtol=1e-9, atol=1e-12)
    labels = pdf["label"].to_numpy()[order]
    kept = set(labels[frac > 1e-12])
    assert kept == set(_zones()) - {"line", "point"}
    # cells that only touch the grid square's edge or corner weigh nothing
    sq = labels == "grid_square"
    box = pdf[["minx", "miny", "maxx", "maxy"]].to_numpy()[order]
    inside = ((box[:, 0] >= 0.5) & (box[:, 2] <= 1.5)
              & (box[:, 1] >= 0.5) & (box[:, 3] <= 1.5))
    assert np.all(frac[sq & inside] == 1.0)
    assert np.all(frac[sq & ~inside] <= 1e-12)
    # the zones' areas come back as the sum of their fractions
    for label, area in (("donut", 4.0 - 0.64), ("grid_square", 1.0)):
        assert frac[labels == label].sum() * 0.25 ** 2 == pytest.approx(area, rel=1e-12)


def test_collection_with_empty_polygon_part():
    # clean_geom turns a polygon with a degenerate exterior into one with
    # no rings and keeps it inside a collection: it must add no ring and
    # shift no other ring's exterior/hole sign
    zone = G.clean_geom({"type": "GeometryCollection", "geometries": [
        {"type": "Polygon", "coordinates": [np.array([[0.0, 0.0], [1.0, 1.0]])]},
        {"type": "Polygon", "coordinates": [_box(0.0, 0.0, 2.0, 2.0), _box(0.6, 0.6, 1.4, 1.4)]},
        {"type": "Polygon", "coordinates": [_ring([[2.1, 1.0], [2.2, 1.2], [2.05, 1.4]])]}]})
    assert zone["geometries"][0]["coordinates"] == []
    pdf = _frame({"empty_part": zone, **_zones()})
    order, frac = _fractions(pdf)
    np.testing.assert_allclose(frac, _scalar(pdf, order), rtol=1e-9, atol=1e-12)
    labels = pdf["label"].to_numpy()[order]
    area = 4.0 - 0.64 + 0.025  # the donut and the triangle
    assert frac[labels == "empty_part"].sum() * 0.25 ** 2 == pytest.approx(area, rel=1e-12)


def test_weight_frame_keeps_rows_aligned():
    pdf = _frame(_zones())
    out = R._weight_frame(pdf, centers=False, has_w=True)
    order, frac = _fractions(pdf)
    keep = order[frac > 1e-12]
    assert list(out.columns) == ["label", "value", "weight", "wval"]
    assert out["label"].tolist() == pdf["label"].to_numpy()[keep].tolist()
    # value and wval both index the same source row
    assert np.array_equal(out["value"].to_numpy(), pdf["value"].to_numpy()[keep])
    assert np.array_equal(out["wval"].to_numpy(), pdf["wval"].to_numpy()[keep])
    assert np.array_equal(out["weight"].to_numpy(), np.minimum(frac[frac > 1e-12], 1.0))


def test_empty_and_non_polygon_batches():
    empty = _frame({}).iloc[:0]
    order, frac = _fractions(empty)
    assert len(order) == len(frac) == 0
    for centers in (False, True):
        out = R._weight_frame(empty, centers=centers, has_w=True)
        assert len(out) == 0 and list(out.columns) == ["label", "value", "weight", "wval"]
    zones = _zones()
    lines = _frame({k: zones[k] for k in ("line", "point")})
    order, frac = _fractions(lines)
    assert len(order) == len(lines) and not frac.any()
    assert len(R._weight_frame(lines, centers=False, has_w=False)) == 0


def test_one_clip_call_per_batch(monkeypatch):
    calls = []
    clip = B.clip_convex_batch

    def counting(*a):
        calls.append(len(a[1]))
        return clip(*a)

    monkeypatch.setattr(B, "clip_convex_batch", counting)
    pdf = _frame(_zones())
    _, frac = _fractions(pdf)
    # several cover pieces per zone, yet one call for the whole batch
    rings = [r for z in _zones().values() for p in G.extract_kind_parts(z, "polygon") for r in p]
    pieces = sum(len(c) for c in B.convex_cover_batch(*B.pad_rings(rings)))
    assert pieces > 2 * len(_zones())
    assert len(calls) == 1
    # a small budget splits the same pairs into several calls, with the
    # same values
    pairs, calls[:] = calls[0], []
    monkeypatch.setattr(B, "_COVER_CHUNK_FLOATS", 20_000)
    _, small = _fractions(pdf)
    assert len(calls) > 1 and sum(calls) == pairs
    assert np.array_equal(small, frac)


def test_wide_convex_zone_is_chunked_and_exact(monkeypatch):
    """A ~2,000-vertex convex zone over many cells: every clip call's
    pairs × padded width stays within the budget, and the fractions
    match the scalar clip."""
    th = np.linspace(0.0, 2 * np.pi, 2000, endpoint=False)
    wide = {"type": "Polygon", "coordinates": [_ring(np.c_[1.0 + 0.9 * np.cos(th),
                                                           1.0 + 0.9 * np.sin(th)])]}
    tri = {"type": "Polygon", "coordinates": [_ring([[0.1, 0.1], [1.9, 0.2], [0.4, 1.8]])]}
    pdf = _frame({"wide": wide, "tri": tri}, step=0.2, extent=(0.0, 2.0))
    seen = []
    clip = B.clip_convex_batch

    def recording(subj, scnt, cpts, ccnt):
        seen.append((len(scnt), subj.shape[1]))
        return clip(subj, scnt, cpts, ccnt)

    monkeypatch.setattr(B, "clip_convex_batch", recording)
    monkeypatch.setattr(B, "_COVER_CHUNK_FLOATS", 2_000_000)
    order, frac = _fractions(pdf)
    assert len(seen) > 1
    # the kernel counts 16 f8 per padded vertex slot of a pair
    assert all(n * (w + 4) * 16 <= B._COVER_CHUNK_FLOATS for n, w in seen)
    wide_rows = pdf["label"].to_numpy()[order] == "wide"
    assert frac[wide_rows].sum() * 0.2 ** 2 == pytest.approx(
        G.ring_area(wide["coordinates"][0]), rel=1e-12)
    # the scalar clip costs ~0.2 s a cell here: check every third cell
    # the circle's edge crosses
    rows = np.nonzero(wide_rows & (frac > 1e-12) & (frac < 1 - 1e-12))[0][::3]
    assert len(rows) >= 8
    np.testing.assert_allclose(frac[rows], _scalar(pdf, order[rows]),
                               rtol=1e-9, atol=1e-12)


def test_wide_ring_among_many_small_rings_stays_bounded():
    """One MultiPolygon zone: a 4,000-vertex convex mainland and 600
    concave 61-vertex comb islands (30 trapezoids each).  Padding every
    ring to the mainland's width, or the trapezoids of the islands
    covered with it, would peak well above 100 MB; the kernel keeps to
    a few budget chunks (~32 MB each)."""
    th = np.linspace(0.0, 2 * np.pi, 4000, endpoint=False)
    parts = [[_ring(np.c_[np.cos(th), np.sin(th)])]]
    teeth = [p for k in range(14, -1, -1)
             for p in ([k + 1, 3], [k + 0.5, 3], [k + 0.5, 1], [k, 1])]
    comb = np.array([[0, 0], [15, 0]] + teeth[:-2] + [[0, 3]]) * 0.0025
    assert len(comb) == 61
    for i in range(30):
        for j in range(20):
            parts.append([_ring(comb + [1.2 + i * 0.066, -0.99 + j * 0.099])])
    zones = {"archipelago": {"type": "MultiPolygon", "coordinates": parts},
             "tri": {"type": "Polygon", "coordinates": [_ring([[0.1, 0.1], [1.9, 0.2], [0.4, 0.8]])]}}
    pdf = _frame(zones, step=0.25, extent=(-1.25, 3.25))
    tracemalloc.start()
    try:
        order, frac = _fractions(pdf)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert peak < 80e6
    labels = pdf["label"].to_numpy()[order]
    arch = labels == "archipelago"
    area = sum(abs(G.ring_area(p[0])) for p in parts)
    assert frac[arch].sum() * 0.25 ** 2 == pytest.approx(area, rel=1e-12)
    # still bit for bit the kernel on the zone alone
    alone = pdf[pdf["label"] == "archipelago"].reset_index(drop=True)
    assert np.array_equal(_fractions(alone)[1], frac[arch])


def test_ragged_cover_equals_flat_cover(monkeypatch):
    """``convex_cover_ragged`` holds ``convex_cover_flat``'s pieces, in
    its order, with its boxes, whatever spans the rings are cut into."""
    rng = np.random.default_rng(11)
    th = np.linspace(0.0, 2 * np.pi, 300, endpoint=False)
    comb = np.array([[x, 0.3 + 0.7 * (x % 2)] for x in range(70)] + [[69, -1], [0, -1]], float)
    rings = [_star(rng, 0.0, 0.0, 1.0) for _ in range(5)]
    rings += [_ring(np.c_[np.cos(th), np.sin(th)]),   # wide convex
              _ring(comb),                            # concave, > COVER_MAX_VERTS
              _box(0, 0, 1, 1), _ring([[0, 0], [1, 1]]), np.zeros((0, 2)),
              _star(rng, 2.0, 2.0, 0.5)]
    fpts, fcnt, fstarts, fboxes = B.convex_cover_flat(*B.pad_rings(rings))
    for budget in (B._COVER_CHUNK_FLOATS, 5_000):
        monkeypatch.setattr(B, "_COVER_CHUNK_FLOATS", budget)
        verts, off, cnt, starts, boxes = B.convex_cover_ragged(rings)
        assert np.array_equal(starts, fstarts) and np.array_equal(cnt, fcnt)
        assert np.array_equal(boxes, fboxes)
        idx = np.arange(len(cnt))
        w = int(cnt.max())
        assert np.array_equal(B.gather_pieces(verts, off, cnt, idx), fpts[:, :w])
    assert fcnt.max() == 300 and len(fcnt) > 20
    assert B.convex_cover_ragged([])[3].tolist() == [0]


def test_centers_rows_follow_zone_order():
    pdf = _frame(_zones())
    out = R._weight_frame(pdf, centers=True, has_w=False)
    expect = []
    for _, grp in pdf.groupby("geom_wkb", sort=False):
        parts = G.extract_kind_parts(G.wkb_loads(bytes(grp["geom_wkb"].iloc[0])), "polygon")
        pts = np.column_stack([(grp["minx"] + grp["maxx"]) / 2, (grp["miny"] + grp["maxy"]) / 2])
        mask = np.zeros(len(grp), dtype=bool)
        for rings in parts:
            mask |= R._centers_in(pts, rings)
        expect.extend(grp.index[mask])
    assert np.array_equal(out["value"].to_numpy(), pdf["value"].to_numpy()[expect])
    assert (out["weight"] == 1.0).all()
