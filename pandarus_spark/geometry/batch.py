"""Batched (array-of-rings) geometry kernels.

Round-2 scale work: the general (non-rect) refine and the zonal
coverage weights previously ran the clip kernel per row inside the
Arrow batch — correct, but 100% scalar Python for real-polygon
workloads (VERDICT round 1, "What's wrong" #4).  Both now run one
pipeline over all pairs of a batch:

* :func:`polygon_rings` — the rings of each decoded geometry, flat;
* :func:`convex_cover_ragged` — every ring's disjoint convex cover (the
  ring itself when convex, its trapezoid decomposition otherwise),
  unpadded; :func:`gather_pieces` pads a set of pieces for a clip;
* :func:`fan_out_pairs` — the ragged (row × piece × piece) cross
  product, box-screened;
* :func:`clip_pairs` — THE clip driver: (piece, convex clip ring) pairs
  clipped narrowest first by :func:`clip_convex_batch`, Sutherland–
  Hodgman over N pairs at once whose arithmetic mirrors
  :func:`..geom.clip_ring_convex` operation for operation;
* :func:`ring_area_by_count` — shoelace over each ring's own vertices,
  so a ring's area does not depend on the batch it rides in.

Its callers: the overlay refine's cover tier
(``operators/intersect._refine_cover_batch``: subject piece × clip
piece per candidate row, clip pieces oriented once by
:func:`ccw_pieces`, parts encoded by :func:`multipolygon_wkb_ragged`)
and the zonal coverage weights
(``operators/raster_stats._coverage_fractions``: zone piece × cell box
per candidate cell, holes signed −).  Every padded temporary is cut
into :func:`budget_spans`, so one wide ring costs memory by its own
width.  Python loops run over clip edges, budget spans and distinct
vertex counts — never over pairs.

Reference semantics: pandarus utils/geometry.py:74-131 (refine) and
core.py:490-516 (coverage weights); this file changes the execution
shape only, not the results.
"""

from __future__ import annotations

import struct

import numpy as np

from .projection import mollweide_forward

_EPS = 1e-12


# ---------------------------------------------------------------------------
# Padding helpers
# ---------------------------------------------------------------------------

def pad_rings(rings: list[np.ndarray]) -> tuple[np.ndarray, np.ndarray]:
    """Pack variable-length OPEN rings into (N, M, 2) + counts.

    Closing duplicates are dropped (scalar kernel does the same before
    clipping).  Padding slots hold the ring's first vertex so projection
    math never sees garbage coordinates."""
    n = len(rings)
    opened = []
    for r in rings:
        r = np.asarray(r, dtype=np.float64).reshape(-1, 2)
        if len(r) > 1 and np.array_equal(r[0], r[-1]):
            r = r[:-1]
        opened.append(r)
    cnt = np.array([len(r) for r in opened], dtype=np.int64)
    m = int(cnt.max()) if n else 0
    pts = np.zeros((n, m, 2), dtype=np.float64)
    for i, r in enumerate(opened):
        if len(r):
            pts[i, :len(r)] = r
            pts[i, len(r):] = r[0]
    return pts, cnt


def _gather_next(arr: np.ndarray, cnt: np.ndarray) -> np.ndarray:
    """arr[i, (j+1) mod cnt_i] for every slot j — cyclic next vertex."""
    n, m = arr.shape[:2]
    nxt = np.arange(1, m + 1)[None, :].repeat(n, axis=0)
    nxt[nxt >= cnt[:, None]] = 0
    return arr[np.arange(n)[:, None], nxt]


# ---------------------------------------------------------------------------
# Vectorized WKB decode (uniform simple polygons)
# ---------------------------------------------------------------------------

_POLY_HDR = b"\x01\x03\x00\x00\x00\x01\x00\x00\x00"            # Polygon, 1 ring
_MPOLY_HDR = (b"\x01\x06\x00\x00\x00\x01\x00\x00\x00" + _POLY_HDR)  # MultiPolygon[1]

# decode_simple_polygon_batch rejects rings above this vertex count: it
# pads every row to the widest ring it decodes, so one 50k-vertex
# coastline among 5k rows would allocate 5000×50001×16 B ≈ 4 GB.  The
# refine no longer decodes through it (it covers rings unpadded, see
# convex_cover_ragged), so this bounds only that padded decode.
BATCH_MAX_VERTS = 4096


def decode_simple_polygon_batch(wkbs: list) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Vectorized decode of little-endian single-ring polygon WKBs.

    Returns (pts (N, M, 2) padded CLOSED-ring-stripped vertices, cnt,
    ok mask).  Rows that are not simple single-ring Polygon /
    1-part-MultiPolygon (holes, multi-part, big-endian, other kinds)
    get ``ok=False`` and must take the scalar path.  Rows are grouped
    by (layout, byte length): each group decodes with ONE frombuffer.
    """
    n = len(wkbs)
    ok = np.zeros(n, dtype=bool)
    if n == 0:
        return np.zeros((0, 0, 2)), np.zeros(0, dtype=np.int64), ok
    groups: dict[tuple[int, int], list[int]] = {}
    for i, b in enumerate(wkbs):
        if b is None:
            continue
        b = bytes(b)
        if b.startswith(_POLY_HDR):
            off = 13
        elif b.startswith(_MPOLY_HDR):
            off = 22
        else:
            continue
        if len(b) < off:
            continue  # truncated header — scalar path reports the error
        npts = struct.unpack_from("<I", b, off - 4)[0]
        if len(b) != off + 16 * npts or npts < 4 or npts > BATCH_MAX_VERTS:
            continue
        groups.setdefault((off, len(b)), []).append(i)
        ok[i] = True
    if not ok.any():
        return np.zeros((n, 0, 2)), np.zeros(n, dtype=np.int64), ok
    cnt = np.zeros(n, dtype=np.int64)
    m_max = max((ln - off) // 16 for (off, ln) in groups)  # closed count
    pts = np.zeros((n, m_max, 2), dtype=np.float64)
    for (off, ln), idxs in groups.items():
        npts = (ln - off) // 16
        blob = b"".join(bytes(wkbs[i]) for i in idxs)
        arr = np.frombuffer(blob, dtype=np.uint8).reshape(len(idxs), ln)
        coords = arr[:, off:].copy().view("<f8").reshape(len(idxs), npts, 2)
        # drop closing duplicate (rings are closed on the wire)
        closed = np.all(coords[:, 0] == coords[:, -1], axis=1)
        g_cnt = np.where(closed, npts - 1, npts)
        pts[idxs, :npts] = coords
        cnt[idxs] = g_cnt
    # pad with first vertex so downstream projection sees finite values
    slot = np.arange(m_max)[None, :]
    pad = slot >= cnt[:, None]
    first = pts[:, 0:1, :]
    pts = np.where(pad[:, :, None], first, pts)
    return pts, cnt, ok


def polygon_rings(geoms: list) -> tuple[list[np.ndarray], np.ndarray, np.ndarray]:
    """The polygon rings of geometry dicts, flattened in (geometry,
    part, ring) order: ``(rings, geometry index of each ring, exterior
    flag)``.  Rings are as decoded (closed); non-polygon components and
    ``None`` geometries contribute none."""
    from . import geom as G
    rings, geom_idx, exterior = [], [], []
    for gi, g in enumerate(geoms):
        for part in (G.extract_kind_parts(g, "polygon") if g is not None else ()):
            rings.extend(part)
            geom_idx.extend([gi] * len(part))
            exterior.extend(j == 0 for j in range(len(part)))
    return rings, np.array(geom_idx, dtype=np.int64), np.array(exterior, dtype=bool)


def is_convex_batch(pts: np.ndarray, cnt: np.ndarray) -> np.ndarray:
    """Vectorized convexity test on padded open rings (matches
    geom.is_convex: no strictly-mixed cross-product signs)."""
    n, m = pts.shape[:2]
    if m == 0:
        return np.zeros(n, dtype=bool)
    b = _gather_next(pts, cnt)
    c = _gather_next(b, cnt)
    v1 = b - pts
    v2 = c - b
    cross = v1[..., 0] * v2[..., 1] - v1[..., 1] * v2[..., 0]
    valid = np.arange(m)[None, :] < cnt[:, None]
    pos = ((cross > _EPS) & valid).any(axis=1)
    neg = ((cross < -_EPS) & valid).any(axis=1)
    return (cnt >= 3) & ~(pos & neg)


def ensure_ccw_batch(pts: np.ndarray, cnt: np.ndarray) -> np.ndarray:
    """Reverse rows whose signed area is negative (clip rings must be
    CCW so 'inside' is left of each edge — geom.clip_ring_convex).
    Pad slots keep their values."""
    area = signed_ring_area_batch(pts, cnt)
    cw = area < 0
    if not cw.any():
        return pts
    j = np.arange(pts.shape[1])[None, :]
    c = cnt[cw][:, None]
    out = pts.copy()
    out[cw] = np.take_along_axis(pts[cw], np.where(j < c, c - 1 - j, j)[..., None], axis=1)
    return out


def _count_groups(off: np.ndarray, cnt: np.ndarray):
    """Per distinct vertex count ``c >= 3`` of a ragged ring store: the
    rings with that count and the ``(k, c)`` indices of their vertices."""
    for c in np.unique(cnt[cnt >= 3]):
        sel = np.nonzero(cnt == c)[0]
        yield sel, off[sel][:, None] + np.arange(c)


def ccw_pieces(verts: np.ndarray, off: np.ndarray, cnt: np.ndarray) -> np.ndarray:
    """A ragged store's vertices with every clockwise ring reversed
    (:func:`ensure_ccw_batch` per vertex count), so a clip piece is
    oriented once however many pairs it clips."""
    out = verts.copy()
    for sel, idx in _count_groups(off, cnt):
        out[idx] = ensure_ccw_batch(verts[idx], cnt[sel])
    return out


def signed_ring_area_batch(pts: np.ndarray, cnt: np.ndarray) -> np.ndarray:
    """Masked shoelace (signed, planar) over padded open rings."""
    n, m = pts.shape[:2]
    if m == 0:
        return np.zeros(n)
    nxt = _gather_next(pts, cnt)
    valid = np.arange(m)[None, :] < cnt[:, None]
    terms = pts[..., 0] * nxt[..., 1] - nxt[..., 0] * pts[..., 1]
    return 0.5 * np.where(valid, terms, 0.0).sum(axis=1)


def ring_area_batch(pts: np.ndarray, cnt: np.ndarray) -> np.ndarray:
    return np.abs(signed_ring_area_batch(pts, cnt))


def ring_area_by_count(verts: np.ndarray, off: np.ndarray, cnt: np.ndarray) -> np.ndarray:
    """Unsigned area of each ring of a ragged store (ring i's open
    vertices are ``verts[off[i]:off[i] + cnt[i]]``), one
    :func:`ring_area_batch` per distinct vertex count with no padding:
    numpy's pairwise row sum groups its terms by row width, so a ring's
    area then does not depend on the batch it rides in.  Rings with
    ``cnt < 3`` are 0."""
    area = np.zeros(len(cnt))
    for sel, idx in _count_groups(off, cnt):
        area[sel] = ring_area_batch(verts[idx], cnt[sel])
    return area


def mollweide_area_batch(pts: np.ndarray, cnt: np.ndarray) -> np.ndarray:
    """Unsigned Mollweide m² area of padded open rings — the batched
    twin of geom.measure(polygon): project vertices, shoelace."""
    x, y = mollweide_forward(pts[..., 0], pts[..., 1])
    proj = np.stack([x, y], axis=-1)
    return ring_area_batch(proj, cnt)


def _u32_bytes(v: np.ndarray) -> np.ndarray:
    return v.astype("<u4").view(np.uint8).reshape(len(v), 4)


def multipolygon_wkb_ragged(verts: np.ndarray, off: np.ndarray, cnt: np.ndarray,
                            nparts: np.ndarray) -> list[bytes]:
    """One MultiPolygon WKB per row from a ragged store of open rings:
    row i holds the next ``nparts[i]`` rings, in store order, each one
    a single-ring Polygon closed on the wire.  The byte layout is
    ``geom.wkb_dumps``' on the scalar kernel's MultiPolygon output; the
    whole batch is one byte assembly, sliced per row."""
    c1 = cnt + 1                                   # closed vertex count
    part_len = 13 + 16 * c1
    prow = np.repeat(np.arange(len(nparts)), nparts)
    row_len = 9 + np.bincount(prow, weights=part_len, minlength=len(nparts)).astype(np.int64)
    row_at = np.cumsum(row_len) - row_len
    # each row's 9-byte header precedes its parts
    part_at = np.cumsum(part_len) - part_len + 9 * (prow + 1)
    buf = np.empty(int(row_len.sum()), dtype=np.uint8)
    buf[row_at[:, None] + np.arange(5)] = np.frombuffer(b"\x01\x06\x00\x00\x00", dtype=np.uint8)
    buf[row_at[:, None] + np.arange(5, 9)] = _u32_bytes(nparts)
    buf[part_at[:, None] + np.arange(9)] = np.frombuffer(_POLY_HDR, dtype=np.uint8)
    buf[part_at[:, None] + np.arange(9, 13)] = _u32_bytes(c1)
    k = np.arange(int(c1.sum())) - np.repeat(np.cumsum(c1) - c1, c1)   # slot in its ring
    src = np.repeat(off, c1) + np.where(k == np.repeat(cnt, c1), 0, k)  # last slot closes
    dst = np.repeat(part_at + 13, c1) + 16 * k
    buf[dst[:, None] + np.arange(16)] = verts[src].astype("<f8").view(np.uint8).reshape(-1, 16)
    raw = buf.tobytes()
    return [raw[a:a + n] for a, n in zip(row_at.tolist(), row_len.tolist())]


def multipolygon_wkb_batch(pts: np.ndarray, cnt: np.ndarray) -> list[bytes | None]:
    """Encode padded open rings as MultiPolygon[1 Polygon[1 ring]] WKBs
    (closed on the wire) — the general-shape twin of the rect fast
    path's inline WKB builder (operators/intersect.py).

    Rows with ``cnt < 3`` (degenerate after clipping) stay ``None`` —
    callers must filter them out or tolerate nulls in the column."""
    out: list[bytes | None] = [None] * len(cnt)
    ok = np.nonzero(cnt >= 3)[0]
    c = cnt[ok]
    verts = pts[ok][np.arange(pts.shape[1])[None, :] < c[:, None]]
    wkbs = multipolygon_wkb_ragged(verts, np.cumsum(c) - c, c, np.ones(len(ok), dtype=np.int64))
    for i, w in zip(ok.tolist(), wkbs):
        out[i] = w
    return out


# ---------------------------------------------------------------------------
# Ragged piece-pair fan-out
# ---------------------------------------------------------------------------

# f8 budget of one chunk's temporaries (~32 MB): the trapezoid sweep's
# ring chunks and every budget_spans caller
_COVER_CHUNK_FLOATS = 4_000_000


def budget_spans(fan: np.ndarray, floats: np.ndarray):
    """Contiguous ``[s, e)`` spans of items whose padded temporaries
    fit ``_COVER_CHUNK_FLOATS``.  Item i stands for ``fan[i]`` rows of a
    padded array, each costing ``floats[i]`` f8 at item i's own width;
    a span pads to its widest item, so it costs ``Σ fan × max floats``.
    One wide item thus shrinks only the spans around it.  Every span
    holds at least one item."""
    s = 0
    while s < len(fan):
        cost = np.cumsum(fan[s:]) * np.maximum.accumulate(floats[s:])
        e = s + max(1, int(np.searchsorted(cost, _COVER_CHUNK_FLOATS, side="right")))
        yield s, e
        s = e


def fan_out_pairs(a_start: np.ndarray, a_n: np.ndarray, a_boxes: np.ndarray,
                  b_start: np.ndarray, b_n: np.ndarray, b_boxes: np.ndarray
                  ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Ragged cross product of two index ranges per row: for row i,
    every (a, b) with a in ``a_start[i] : a_start[i] + a_n[i]`` (outer
    loop) and b in ``b_start[i] : b_start[i] + b_n[i]`` (inner loop).
    Pairs whose boxes (minx, miny, maxx, maxy rows of ``a_boxes`` /
    ``b_boxes``) are strictly apart are dropped; touching boxes stay.

    The unscreened pairs, ~16 f8-sized values each, are built in
    :func:`budget_spans`, and a row whose own pairs overrun the budget
    is cut into runs of its a range, so no fan-out is unbounded.

    Returns ``(row, a_idx, b_idx)``.  ``row`` ascends and each row keeps
    the nested-loop order, so an unbuffered ``np.add.at`` over ``row``
    sums each row's pairs in that order."""
    per = np.maximum(1, _COVER_CHUNK_FLOATS // (16 * np.maximum(b_n, 1)))  # a items per run
    runs = -(-a_n // per)
    run_row = np.repeat(np.arange(len(a_n)), runs)
    k = (np.arange(len(run_row)) - np.repeat(np.cumsum(runs) - runs, runs)) * per[run_row]
    a_start, a_n = a_start[run_row] + k, np.minimum(per[run_row], a_n[run_row] - k)
    b_start, b_n = b_start[run_row], b_n[run_row]
    fan = a_n * b_n
    out = [np.zeros((3, 0), dtype=np.int64)]
    for s, e in budget_spans(fan, np.full(len(fan), 16)):
        f = fan[s:e]
        run = np.repeat(np.arange(s, e), f)
        p = np.arange(len(run)) - np.repeat(np.cumsum(f) - f, f)
        nb = b_n[run]
        a_idx = a_start[run] + p // nb
        b_idx = b_start[run] + p % nb
        ab, bb = a_boxes[a_idx], b_boxes[b_idx]
        touch = ~((ab[:, 2] < bb[:, 0]) | (bb[:, 2] < ab[:, 0])
                  | (ab[:, 3] < bb[:, 1]) | (bb[:, 3] < ab[:, 1]))
        out.append(np.stack([run_row[run[touch]], a_idx[touch], b_idx[touch]]))
    row, a_idx, b_idx = np.concatenate(out, axis=1)
    return row, a_idx, b_idx


# ---------------------------------------------------------------------------
# Batched Sutherland–Hodgman
# ---------------------------------------------------------------------------

def _compact(pts: np.ndarray, emit_a: np.ndarray, a_vals: np.ndarray,
             emit_b: np.ndarray, b_vals: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Scatter up-to-two emissions per slot (a first, then b) into a
    fresh dense padded array.  Returns (new_pts, new_cnt)."""
    n = pts.shape[0]
    c = emit_a.astype(np.int64) + emit_b.astype(np.int64)
    pos = np.cumsum(c, axis=1) - c
    new_cnt = c.sum(axis=1)
    m_new = int(new_cnt.max()) if n else 0
    new_pts = np.zeros((n, max(m_new, 1), 2), dtype=np.float64)
    ra, sa = np.nonzero(emit_a)
    if len(ra):
        new_pts[ra, pos[ra, sa]] = a_vals[ra, sa]
    rb, sb = np.nonzero(emit_b)
    if len(rb):
        new_pts[rb, (pos + emit_a.astype(np.int64))[rb, sb]] = b_vals[rb, sb]
    return new_pts[:, :max(m_new, 1)], new_cnt


def _dedup_and_unclose(pts: np.ndarray, cnt: np.ndarray,
                       active: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Per-pass cleanup of the ``active`` rows, mirroring the scalar
    kernel: drop consecutive duplicate vertices (atol 1e-12), then drop
    the last vertex when it re-closes onto the first (atol 1e-12,
    rtol 0).  Other rows pass unchanged: the scalar kernel cleans once
    per clip edge, so a row whose clip ring is done is not cleaned
    again for the longer clip rings beside it."""
    n, m = pts.shape[:2]
    valid = np.arange(m)[None, :] < cnt[:, None]
    keep = valid.copy()
    if m > 1:
        diff_ok = (np.abs(pts[:, 1:] - pts[:, :-1]) > 1e-12).any(axis=2)
        keep[:, 1:] &= diff_ok | ~active[:, None]
    none = np.zeros_like(keep)
    pts, cnt = _compact(pts, keep, pts, none, pts)
    # closing-point drop
    m = pts.shape[1]
    rows = np.arange(n)
    last = pts[rows, np.maximum(cnt - 1, 0)]
    first = pts[:, 0]
    reclosed = active & (cnt > 1) & (np.abs(first - last) <= 1e-12).all(axis=1)
    cnt = np.where(reclosed, cnt - 1, cnt)
    return pts, cnt


def clip_convex_batch(subj_pts: np.ndarray, subj_cnt: np.ndarray,
                      clip_pts: np.ndarray, clip_cnt: np.ndarray
                      ) -> tuple[np.ndarray, np.ndarray]:
    """Sutherland–Hodgman over N (subject ring, convex CCW clip ring)
    pairs at once.

    Inputs are padded OPEN rings; clip rings must already be CCW
    (ensure_ccw_batch) and convex (is_convex_batch) — callers route
    non-convex clips to the scalar/triangulated path.  Output rings are
    OPEN; ``cnt < 3`` means empty (scalar None).  Matches
    geom.clip_ring_convex operation-for-operation."""
    pts = subj_pts.astype(np.float64, copy=True)
    cnt = subj_cnt.astype(np.int64, copy=True)
    n = pts.shape[0]
    if n == 0:
        return pts, cnt
    k_max = int(clip_cnt.max()) if len(clip_cnt) else 0
    rows_col = np.arange(n)[:, None]
    for j in range(k_max):
        if not (cnt > 0).any():
            break
        active = (j < clip_cnt) & (cnt > 0)
        a = clip_pts[:, min(j, clip_pts.shape[1] - 1), :]
        jn = np.where(j + 1 >= clip_cnt, 0, j + 1)
        b = clip_pts[np.arange(n), jn]
        e = b - a
        m = pts.shape[1]
        slot = np.arange(m)[None, :]
        valid = slot < cnt[:, None]
        px, py = pts[..., 0], pts[..., 1]
        side = e[:, 0:1] * (py - a[:, 1:2]) - e[:, 1:2] * (px - a[:, 0:1])
        nxt_idx = slot + 1
        nxt_idx = np.where(nxt_idx >= cnt[:, None], 0, np.minimum(nxt_idx, m - 1))
        nxt = pts[rows_col, nxt_idx]
        side_nxt = side[rows_col, nxt_idx]
        cur_in = side >= -_EPS
        nxt_in = side_nxt >= -_EPS
        # inactive rows (shorter clip ring / already-dead subject) pass
        # through unchanged: emit every valid vertex, no crossings
        cur_emit = np.where(active[:, None], cur_in, True) & valid
        cross_emit = (cur_in != nxt_in) & valid & active[:, None]
        d = side - side_nxt
        with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
            t = np.where(np.abs(d) > _EPS, side / np.where(d == 0.0, 1.0, d), 0.0)
        ip = pts + t[..., None] * (nxt - pts)
        pts, cnt = _compact(pts, cur_emit, pts, cross_emit, ip)
        pts, cnt = _dedup_and_unclose(pts, cnt, active)
    cnt = np.where(cnt < 3, 0, cnt)
    return pts, cnt


def clip_pairs(verts: np.ndarray, off: np.ndarray, cnt: np.ndarray, sub: np.ndarray,
               clip_verts: np.ndarray, clip_off: np.ndarray, clip_cnt: np.ndarray,
               clip: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """The clip driver both batched callers share: for every pair i,
    ring ``sub[i]`` of the ragged store ``(verts, off, cnt)`` clipped by
    the convex CCW ring ``clip[i]`` of ``(clip_verts, clip_off,
    clip_cnt)``.

    A clip pads its pairs to the widest and each clip edge can add a
    vertex, ~16 f8 per vertex slot (points, next points, crossings, the
    compacted copy, sides, parameters).  So the pairs are clipped
    narrowest first, one :func:`clip_convex_batch` per
    :func:`budget_spans` span, and a wide piece pads only its own span.
    Returns the clipped open rings as a ragged store ``(verts, off,
    cnt)`` in pair order; ``cnt`` 0 is empty."""
    width = cnt[sub] + clip_cnt[clip]
    by_w = np.argsort(width, kind="stable")
    out_off = np.zeros(len(sub), dtype=np.int64)
    out_cnt = np.zeros(len(sub), dtype=np.int64)
    chunks, at = [np.zeros((0, 2))], 0
    for a, b in budget_spans(np.ones(len(sub), dtype=np.int64), 16 * width[by_w]):
        k = by_w[a:b]
        pts, c = clip_convex_batch(
            gather_pieces(verts, off, cnt, sub[k]), cnt[sub[k]],
            gather_pieces(clip_verts, clip_off, clip_cnt, clip[k]), clip_cnt[clip[k]])
        chunks.append(pts[np.arange(pts.shape[1])[None, :] < c[:, None]])
        out_off[k] = at + np.cumsum(c) - c
        out_cnt[k] = c
        at += int(c.sum())
    return np.concatenate(chunks), out_off, out_cnt


# ---------------------------------------------------------------------------
# Batched convex cover (trapezoid decomposition)
# ---------------------------------------------------------------------------

# rings wider than this defer to the scalar geom._convex_cover: the
# crossing scan below is O(m^2) floats per ring, so one wide ring would
# blow the chunk budget while contributing nothing to the common case
# (web-overlay cells/pages are single-digit-vertex rings)
COVER_MAX_VERTS = 64


def _decompose_chunk(pts: np.ndarray, cnt: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Trapezoid covers for a chunk of padded open rings, replicating
    ``geom.polygon_region_decompose([closed_ring])`` bit-for-bit:

    * slab bounds = unique(vertex xs + edge-crossing xs), the crossing
      parameters computed with the exact ``_segment_crossings_dense``
      formula (so self-touching/self-intersecting rings reproduce the
      scalar sweep's phantom near-vertex bounds too, not just clean
      simple rings);
    * per slab, edges spanning it (same 1e-15 tolerances) interpolated
      with the identical expression, stable-sorted by midpoint;
    * quads emitted between consecutive segments at even parity, kept
      when |shoelace| > 1e-18, in (slab, pair) order.

    Returns flat ``(ring_idx (P,), quads (P, 5, 2))`` sorted by
    (ring, slab, pair).
    """
    r, m = pts.shape[:2]
    rows = np.arange(r)[:, None]
    idx = np.arange(m)[None, :]
    valid_e = idx < cnt[:, None]
    nxt = (idx + 1) % np.maximum(cnt, 1)[:, None]
    a1 = pts
    a2 = pts[rows, nxt]
    d1 = a2 - a1
    # --- crossing xs: all edge pairs (i, j) of each ring -------------
    diff = a1[:, None, :, :] - a1[:, :, None, :]      # [ring, i, j] = b1[j]-a1[i]
    denom = (d1[..., 0][:, :, None] * d1[..., 1][:, None, :]
             - d1[..., 1][:, :, None] * d1[..., 0][:, None, :])
    with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
        safe_den = np.where(denom == 0, np.nan, denom)
        t = (diff[..., 0] * d1[..., 1][:, None, :]
             - diff[..., 1] * d1[..., 0][:, None, :]) / safe_den
        u = (diff[..., 0] * d1[..., 1][:, :, None]
             - diff[..., 1] * d1[..., 0][:, :, None]) / safe_den
    ok = (np.isfinite(t) & np.isfinite(u)
          & (t >= 0.0) & (t <= 1.0) & (u >= 0.0) & (u <= 1.0)
          & valid_e[:, :, None] & valid_e[:, None, :])
    with np.errstate(invalid="ignore"):
        cross_x = a1[..., 0][:, :, None] + t * d1[..., 0][:, :, None]
    cross_x = np.where(ok, cross_x, np.inf).reshape(r, m * m)
    # --- slab bounds: sorted unique of vertex + crossing xs ----------
    vert_x = np.where(valid_e, a1[..., 0], np.inf)
    bounds = np.sort(np.concatenate([vert_x, cross_x], axis=1), axis=1)
    dup = np.zeros_like(bounds, dtype=bool)
    dup[:, 1:] = bounds[:, 1:] == bounds[:, :-1]
    bounds = np.sort(np.where(dup, np.inf, bounds), axis=1)
    width = int(np.isfinite(bounds).sum(axis=1).max()) if r else 0
    bounds = bounds[:, :max(width, 2)]
    x0, x1 = bounds[:, :-1], bounds[:, 1:]
    with np.errstate(invalid="ignore"):  # inf - inf in padded slots
        sv = np.isfinite(x0) & np.isfinite(x1) & (x1 - x0 > 1e-15)
    # --- active edges per slab (same tolerances as _slab_spans) ------
    exl = np.where(valid_e, np.minimum(a1[..., 0], a2[..., 0]), np.inf)
    exh = np.where(valid_e, np.maximum(a1[..., 0], a2[..., 0]), -np.inf)
    act = (sv[:, :, None]
           & ((exh - exl) > 1e-15)[:, None, :]
           & (exl[:, None, :] <= x0[:, :, None] + 1e-15)
           & (exh[:, None, :] >= x1[:, :, None] - 1e-15))
    with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
        dx = (a2[..., 0] - a1[..., 0])[:, None, :]
        dy = (a2[..., 1] - a1[..., 1])[:, None, :]
        ty0 = a1[..., 1][:, None, :] + (x0[:, :, None] - a1[..., 0][:, None, :]) / dx * dy
        ty1 = a1[..., 1][:, None, :] + (x1[:, :, None] - a1[..., 0][:, None, :]) / dx * dy
    tym = np.where(act, 0.5 * (ty0 + ty1), np.inf)
    order = np.argsort(tym, axis=2, kind="stable")
    srows = np.arange(r)[:, None, None]
    scols = np.arange(x0.shape[1])[None, :, None]
    ty0s = ty0[srows, scols, order]
    ty1s = ty1[srows, scols, order]
    kcnt = act.sum(axis=2)
    # --- quad emission in (ring, slab, pair) order --------------------
    recs = []
    for k in range(0, int(kcnt.max()) if kcnt.size else 0, 2):
        emit = kcnt > k + 1
        if not emit.any():
            break
        ri, si = np.nonzero(emit)
        recs.append((ri, si, np.full(len(ri), k, dtype=np.int64),
                     x0[ri, si], x1[ri, si],
                     ty0s[ri, si, k], ty1s[ri, si, k],
                     ty0s[ri, si, k + 1], ty1s[ri, si, k + 1]))
    if not recs:
        return (np.zeros(0, dtype=np.int64), np.zeros((0, 5, 2)))
    ri = np.concatenate([c[0] for c in recs])
    si = np.concatenate([c[1] for c in recs])
    ki = np.concatenate([c[2] for c in recs])
    qx0 = np.concatenate([c[3] for c in recs])
    qx1 = np.concatenate([c[4] for c in recs])
    y00 = np.concatenate([c[5] for c in recs])
    y10 = np.concatenate([c[6] for c in recs])
    y01 = np.concatenate([c[7] for c in recs])
    y11 = np.concatenate([c[8] for c in recs])
    # closed 5-point quads in the scalar sweep's vertex order
    quads = np.empty((len(ri), 5, 2), dtype=np.float64)
    quads[:, 0, 0] = qx0; quads[:, 0, 1] = y00
    quads[:, 1, 0] = qx1; quads[:, 1, 1] = y10
    quads[:, 2, 0] = qx1; quads[:, 2, 1] = y11
    quads[:, 3, 0] = qx0; quads[:, 3, 1] = y01
    quads[:, 4, 0] = qx0; quads[:, 4, 1] = y00
    # |shoelace| > 1e-18, same term order as geom.ring_area's np.sum
    xs, ys = quads[..., 0], quads[..., 1]
    terms = xs * np.roll(ys, -1, axis=1) - np.roll(xs, -1, axis=1) * ys
    keep = np.abs(0.5 * terms.sum(axis=1)) > 1e-18
    lex = np.lexsort((ki[keep], si[keep], ri[keep]))
    return ri[keep][lex], quads[keep][lex]


def _cover_parts(pts: np.ndarray, cnt: np.ndarray) -> list:
    """``geom._convex_cover`` of every padded open ring: a list of
    (padded open pieces, their counts, ring of each piece).  Convex
    rings are their own piece; small concave rings take the batched
    trapezoid sweep, in chunks within the budget; rings wider than
    ``COVER_MAX_VERTS`` take the scalar decompose.  Each ring's pieces
    are in one entry, in the scalar call's order."""
    from . import geom as G
    conv = is_convex_batch(pts, cnt)
    ci = np.nonzero(conv)[0]
    parts = [(pts[ci], cnt[ci], ci)]
    small = np.nonzero(~conv & (cnt >= 3) & (cnt <= COVER_MAX_VERTS))[0]
    if len(small):
        m = int(cnt[small].max())
        per_ring = m * m * 8 + m * 6  # crossing cube + slab planes, floats
        step = max(1, _COVER_CHUNK_FLOATS // per_ring)
        for s in range(0, len(small), step):
            sel = small[s:s + step]
            ri, quads = _decompose_chunk(pts[sel, :m], cnt[sel])
            parts.append((quads[:, :4], np.full(len(ri), 4), sel[ri]))
    for i in np.nonzero(~conv & (cnt > COVER_MAX_VERTS))[0]:
        c = int(cnt[i])
        cover = G.polygon_region_decompose(
            [np.concatenate([pts[i, :c], pts[i, :1]], axis=0)])
        parts += [(p[None, :-1], np.array([len(p) - 1]), np.array([i])) for p in cover]
    return parts


def _ragged_cover(parts: list, n: int) -> tuple[
        np.ndarray, np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """:func:`convex_cover_ragged`'s store from :func:`_cover_parts`
    entries of ``n`` rings."""
    verts = np.concatenate([np.zeros((0, 2))] + [p[np.arange(p.shape[1]) < c[:, None]]
                                                 for p, c, _ in parts])
    pcnt = np.concatenate([np.zeros(0, dtype=np.int64)] + [c for _, c, _ in parts])
    off = np.cumsum(pcnt) - pcnt
    boxes = np.hstack([np.minimum.reduceat(verts, off, axis=0),
                       np.maximum.reduceat(verts, off, axis=0)]) if len(off) else np.zeros((0, 4))
    pring = np.concatenate([np.zeros(0, dtype=np.int64)] + [r for _, _, r in parts])
    perm = np.argsort(pring, kind="stable")
    starts = np.searchsorted(pring[perm], np.arange(n + 1))
    return verts, off[perm], pcnt[perm], starts, boxes[perm]


def convex_cover_flat(pts: np.ndarray, cnt: np.ndarray) -> tuple[
        np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """``geom._convex_cover`` for every padded open ring at once, padded:
    ``(fpts (P, W, 2), fcnt (P,), starts (n+1,), boxes (P, 4))`` — open
    cover pieces padded with their first vertex (ring i's pieces are
    ``starts[i]:starts[i+1]``, in the scalar call's order), their vertex
    counts and their bboxes (minx, miny, maxx, maxy).  Piece VALUES are
    bit-identical to ``geom._convex_cover`` with the closing vertex
    stripped (pinned by the differential fuzz in
    tests/test_refine_batch.py)."""
    verts, off, fcnt, starts, boxes = _ragged_cover(_cover_parts(pts, cnt), len(cnt))
    return gather_pieces(verts, off, fcnt, np.arange(len(fcnt))), fcnt, starts, boxes


def convex_cover_ragged(rings: list[np.ndarray]) -> tuple[
        np.ndarray, np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """:func:`convex_cover_flat` of a list of rings, in memory that grows
    with the widest ring, not with every ring padded to it.

    Returns ``(verts (V, 2), off (P,), cnt (P,), starts (n+1,), boxes
    (P, 4))``: piece p's open vertices are ``verts[off[p]:off[p] +
    cnt[p]]``, ring i's pieces are ``starts[i]:starts[i+1]``, and the
    pieces, their order and their boxes are ``convex_cover_flat``'s.
    Rings are padded only within :func:`budget_spans` of consecutive
    rings, and a piece keeps its own vertices only, so 4-vertex
    trapezoids never pad to a wide convex ring.  :func:`gather_pieces`
    pads a set of pieces for a clip."""
    width = np.array([len(r) for r in rings], dtype=np.int64)
    parts = []
    # is_convex_batch holds ~16 f8 per vertex slot
    for s, e in budget_spans(np.ones(len(rings), dtype=np.int64), 16 * width):
        parts += [(p, c, s + r) for p, c, r in _cover_parts(*pad_rings(rings[s:e]))]
    return _ragged_cover(parts, len(rings))


def gather_pieces(verts: np.ndarray, off: np.ndarray, cnt: np.ndarray,
                  idx: np.ndarray) -> np.ndarray:
    """Pieces ``idx`` of a :func:`convex_cover_ragged` store, padded to
    the widest of them: ``(len(idx), W, 2)``, pad slots holding each
    piece's first vertex, as ``convex_cover_flat`` pads."""
    c = cnt[idx]
    j = np.arange(int(c.max()) if len(c) else 0)
    return verts[off[idx][:, None] + np.where(j[None, :] < c[:, None], j[None, :], 0)]


def convex_cover_batch(pts: np.ndarray, cnt: np.ndarray) -> list[list[np.ndarray]]:
    """List-of-CLOSED-pieces view of :func:`convex_cover_flat` — the
    drop-in twin of per-ring ``geom._convex_cover`` calls, used by the
    differential tests."""
    fpts, fcnt, starts, _ = convex_cover_flat(pts, cnt)
    out: list[list[np.ndarray]] = []
    for i in range(len(cnt)):
        pieces = []
        for p in range(int(starts[i]), int(starts[i + 1])):
            c = int(fcnt[p])
            pieces.append(np.concatenate([fpts[p, :c], fpts[p, :1]], axis=0))
        out.append(pieces)
    return out
