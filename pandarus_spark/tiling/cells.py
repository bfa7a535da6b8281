"""Discrete global grid (cell index) for spatial candidate generation.

This replaces the reference's per-worker R-tree over feature bounds
(pandarus/model.py:142-150, utils/multiprocess.py:75,98) — the single
most important architectural substitution for a distributed engine:
instead of probing a shared-memory index, each feature is covered by a
set of grid cells; candidate pairs are produced by an equi-join on the
cell id, which Spark executes as a shuffled (or broadcast) hash join
with AQE skew handling.

No H3/S2 library ships in this environment, so the grid is a quadtree
over the WGS84 lon/lat rectangle with Z-order-flavoured cell ids:

    cell_id = (res << 58) | (iy << 29) | ix

where at resolution ``res`` the world splits into 2^res × 2^res tiles
(lon in [-180, 180), lat in [-90, 90)).  Everything is closed-form
integer arithmetic — deliberately: the same mapping is expressible in
ANSI SQL.  The SQL rendering at the bottom of this module is the form
that runs: the engine's cover (``operators/intersect.py:cover_features``),
resolution pick and owner-cell filters are Catalyst expressions built
from it, and the driver's DuckDB oracle evaluates the same strings.  The
numpy functions are the reference the tests compare it against.

Skew handling (the reference has none — SURVEY.md §4):

* **adaptive resolution** — a feature's covering resolution is chosen
  from its bbox so the cover stays under ``max_cells`` (big polygons get
  coarse cells, small ones fine cells); both sides also emit their
  cover at every *parent* resolution meeting in the middle, see
  :func:`cover_with_parents`, so features indexed at different
  resolutions still collide on a common key.
* **hot-cell salting** — :func:`_salted_join` at the bottom of this
  module, the one copy the overlay's candidate join, the distance join
  and the interval join share: keys whose probe-side row count explodes
  split the probe rows across salts and replicate the build rows.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, functions as F

MAX_RES = 20          # ~1e-5 degrees at res 20 — far below fixture sizes
RES_SHIFT = 58
Y_SHIFT = 29

LON_MIN, LON_SPAN = -180.0, 360.0
LAT_MIN, LAT_SPAN = -90.0, 180.0


def cell_id(res: int, ix: int, iy: int) -> int:
    return (res << RES_SHIFT) | (iy << Y_SHIFT) | ix


def cell_res(cid: int) -> int:
    return cid >> RES_SHIFT


def cell_xy(cid: int) -> tuple[int, int]:
    return cid & ((1 << Y_SHIFT) - 1), (cid >> Y_SHIFT) & ((1 << Y_SHIFT) - 1)


def lonlat_to_xy(lon, lat, res: int):
    """Vectorized point -> tile index at ``res`` (floor semantics)."""
    n = 1 << res
    ix = np.clip(np.floor((np.asarray(lon, dtype=np.float64) - LON_MIN) / LON_SPAN * n).astype(np.int64), 0, n - 1)
    iy = np.clip(np.floor((np.asarray(lat, dtype=np.float64) - LAT_MIN) / LAT_SPAN * n).astype(np.int64), 0, n - 1)
    return ix, iy


def cell_bounds(cid: int) -> tuple[float, float, float, float]:
    res = cell_res(cid)
    ix, iy = cell_xy(cid)
    n = 1 << res
    w, h = LON_SPAN / n, LAT_SPAN / n
    return (LON_MIN + ix * w, LAT_MIN + iy * h, LON_MIN + (ix + 1) * w, LAT_MIN + (iy + 1) * h)


def pick_resolution(minx: float, miny: float, maxx: float, maxy: float,
                    target_res: int = 12, max_cells: int = 64) -> int:
    """Adaptive resolution: finest res <= target_res whose bbox cover has
    at most ``max_cells`` cells.  Keeps per-feature fan-out bounded so a
    continent-sized polygon doesn't explode into millions of cells."""
    for res in range(min(target_res, MAX_RES), -1, -1):
        n = 1 << res
        x0 = int(np.floor((minx - LON_MIN) / LON_SPAN * n))
        x1 = int(np.floor((maxx - LON_MIN) / LON_SPAN * n))
        y0 = int(np.floor((miny - LAT_MIN) / LAT_SPAN * n))
        y1 = int(np.floor((maxy - LAT_MIN) / LAT_SPAN * n))
        if (x1 - x0 + 1) * (y1 - y0 + 1) <= max_cells:
            return res
    return 0


def cover_bbox(minx: float, miny: float, maxx: float, maxy: float, res: int) -> list[int]:
    """Cell ids at ``res`` overlapping the bbox (closed; a bbox edge on a
    cell boundary includes the next cell — candidate generation must be
    a superset, the exact refine prunes false positives)."""
    n = 1 << res
    x0 = max(0, int(np.floor((minx - LON_MIN) / LON_SPAN * n)))
    x1 = min(n - 1, int(np.floor((maxx - LON_MIN) / LON_SPAN * n)))
    y0 = max(0, int(np.floor((miny - LAT_MIN) / LAT_SPAN * n)))
    y1 = min(n - 1, int(np.floor((maxy - LAT_MIN) / LAT_SPAN * n)))
    ixs = np.arange(x0, x1 + 1, dtype=np.int64)
    iys = np.arange(y0, y1 + 1, dtype=np.int64)
    gx, gy = np.meshgrid(ixs, iys)
    return list(((res << RES_SHIFT) | (gy.ravel() << Y_SHIFT) | gx.ravel()))


def pick_resolution_batch(minx, miny, maxx, maxy, target_res: int = 12,
                          max_cells: int = 64) -> np.ndarray:
    """Vectorized :func:`pick_resolution` over bbox arrays: finest
    res <= target_res whose (unclipped) bbox cover stays under
    ``max_cells`` — at most target_res+1 vectorized passes, no per-row
    Python.  Bit-identical to the scalar version (pinned by tests)."""
    minx = np.asarray(minx, dtype=np.float64); maxx = np.asarray(maxx, dtype=np.float64)
    miny = np.asarray(miny, dtype=np.float64); maxy = np.asarray(maxy, dtype=np.float64)
    out = np.zeros(len(minx), dtype=np.int64)
    undecided = np.ones(len(minx), dtype=bool)
    for res in range(min(target_res, MAX_RES), 0, -1):
        if not undecided.any():
            break
        n = 1 << res
        cx = (np.floor((maxx - LON_MIN) / LON_SPAN * n)
              - np.floor((minx - LON_MIN) / LON_SPAN * n) + 1)
        cy = (np.floor((maxy - LAT_MIN) / LAT_SPAN * n)
              - np.floor((miny - LAT_MIN) / LAT_SPAN * n) + 1)
        ok = undecided & (cx * cy <= max_cells)
        out[ok] = res
        undecided &= ~ok
    return out


def _cover_level(minx, miny, maxx, maxy, res_arr, fsel):
    """One resolution level of the batch cover: for the selected
    features (boolean mask ``fsel``), emit all cells of their clipped
    bbox cover at per-feature resolution ``res_arr`` via the ragged
    repeat/meshgrid construction.  Returns (feature_positions, cells)."""
    idx = np.flatnonzero(fsel)
    if len(idx) == 0:
        return idx, np.empty(0, dtype=np.int64)
    r = res_arr[idx]
    n = (np.int64(1) << r)
    x0 = np.maximum(0, np.floor((minx[idx] - LON_MIN) / LON_SPAN * n).astype(np.int64))
    x1 = np.minimum(n - 1, np.floor((maxx[idx] - LON_MIN) / LON_SPAN * n).astype(np.int64))
    y0 = np.maximum(0, np.floor((miny[idx] - LAT_MIN) / LAT_SPAN * n).astype(np.int64))
    y1 = np.minimum(n - 1, np.floor((maxy[idx] - LAT_MIN) / LAT_SPAN * n).astype(np.int64))
    # a bbox entirely outside the domain clips to x0 > x1 → empty cover
    # (same as the scalar cover_bbox's empty arange)
    cx = np.maximum(x1 - x0 + 1, 0)
    cy = np.maximum(y1 - y0 + 1, 0)
    reps = cx * cy
    total = int(reps.sum())
    fpos = np.repeat(np.arange(len(idx)), reps)
    starts = np.repeat(np.cumsum(reps) - reps, reps)
    k = np.arange(total, dtype=np.int64) - starts
    ix = x0[fpos] + k % cx[fpos]
    iy = y0[fpos] + k // cx[fpos]
    cells = (r[fpos] << RES_SHIFT) | (iy << Y_SHIFT) | ix
    return idx[fpos], cells


def cover_features_batch(minx, miny, maxx, maxy, target_res: int = 12,
                         max_cells: int = 64, parents_to: int | None = None
                         ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Vectorized cover of a feature batch: returns
    ``(feature_positions, cells, native_res)`` where positions index
    into the input arrays (one row per emitted (feature, cell)).

    The ancestor chain of ``cover_with_parents`` falls out of a level
    loop: the clipped bbox cover at a coarser resolution IS the parent
    set of the native cover (floor covers are nested), so each level r
    in [parents_to, native_res] is one more vectorized cover pass —
    ≤ target_res+1 passes total, zero per-feature Python."""
    minx = np.asarray(minx, dtype=np.float64); maxx = np.asarray(maxx, dtype=np.float64)
    miny = np.asarray(miny, dtype=np.float64); maxy = np.asarray(maxy, dtype=np.float64)
    native = pick_resolution_batch(minx, miny, maxx, maxy, target_res, max_cells)
    pos_parts, cell_parts = [], []
    # native level (per-feature resolution); a non-finite bbox (empty
    # geometry, NaN) has native 0 and no cells
    finite = np.isfinite(minx) & np.isfinite(miny) & np.isfinite(maxx) & np.isfinite(maxy)
    p, c = _cover_level(minx, miny, maxx, maxy, native, finite)
    pos_parts.append(p); cell_parts.append(c)
    if parents_to is not None:
        lvl = np.empty(len(minx), dtype=np.int64)
        for r in range(parents_to, int(native.max()) if len(native) else 0):
            lvl.fill(r)
            p, c = _cover_level(minx, miny, maxx, maxy, lvl, native > r)
            pos_parts.append(p); cell_parts.append(c)
    return (np.concatenate(pos_parts), np.concatenate(cell_parts), native)


def parent(cid: int, res: int) -> int:
    """Ancestor cell of ``cid`` at coarser resolution ``res``."""
    r = cell_res(cid)
    if res > r:
        raise ValueError("parent resolution must be <= cell resolution")
    ix, iy = cell_xy(cid)
    shift = r - res
    return cell_id(res, ix >> shift, iy >> shift)


def cover_with_parents(minx, miny, maxx, maxy, res: int, min_res: int = 0) -> list[int]:
    """Cover at ``res`` plus the single ancestor chain down to ``min_res``.

    Joining side A exploded at `cover_with_parents` against side B
    exploded at its own (possibly coarser) native cover guarantees a
    shared key whenever bboxes overlap, as long as both sides emit the
    ancestor chain — a standard multi-resolution grid-join trick."""
    cells = cover_bbox(minx, miny, maxx, maxy, res)
    out = set(cells)
    for r in range(min_res, res):
        out.update(parent(c, r) for c in cells)
    return sorted(out)


def kring(cid: int, k: int) -> list[int]:
    """All cells within Chebyshev distance k at the same resolution —
    the neighbourhood-expansion primitive for kNN search."""
    res = cell_res(cid)
    n = 1 << res
    ix, iy = cell_xy(cid)
    out = []
    for dy in range(-k, k + 1):
        yy = iy + dy
        if yy < 0 or yy >= n:
            continue
        for dx in range(-k, k + 1):
            xx = (ix + dx) % n  # wrap longitude
            out.append(cell_id(res, xx, yy))
    return out


# ---------------------------------------------------------------------------
# SQL rendering of the cell mapping — the form the engine runs (Catalyst)
# and the independent oracle evaluates (DuckDB); numpy above is the reference
# ---------------------------------------------------------------------------

def _tiles_sql(res) -> str:
    """2^res as SQL: a literal for an int ``res``, else a BIGINT shift."""
    return str(1 << res) if isinstance(res, int) else f"(CAST(1 AS BIGINT) << {res})"


def unit_sql(v: str, axis: str) -> str:
    """Position of coordinate ``v`` along ``axis`` (``"x"`` lon, ``"y"``
    lat) as a fraction of the domain: ``(v - min) / span``.  Typed
    literals: a bare 360.0 is DECIMAL in both engines, which would make
    the arithmetic decimal for an integer-typed ``v``."""
    mn, span = (LON_MIN, LON_SPAN) if axis == "x" else (LAT_MIN, LAT_SPAN)
    return f"(({v} - CAST({mn} AS DOUBLE)) / CAST({span} AS DOUBLE))"


def floor_sql(u: str, res) -> str:
    """THE tile-index definition, unclipped: ``FLOOR(u * 2^res)`` for a
    :func:`unit_sql` value ``u`` — with it, the same IEEE double ops in
    the same order as :func:`lonlat_to_xy`, :func:`pick_resolution_batch`
    and :func:`_cover_level`.  ``res`` is an int or a SQL expression."""
    return f"FLOOR({u} * {_tiles_sql(res)})"


def point_index_sql(v: str, axis: str, res) -> str:
    """A point's tile index on one axis: clipped to [0, 2^res - 1]."""
    return f"LEAST(GREATEST({floor_sql(unit_sql(v, axis), res)}, 0), {_tiles_sql(res)} - 1)"


def range_sql(u0: str, u1: str, res) -> tuple[str, str]:
    """A bbox cover's index range on one axis (unit coordinates), clipped
    the way :func:`_cover_level` clips: the lower end to >= 0, the upper
    to <= 2^res - 1 (a bbox outside the domain gives lo > hi: no cells)."""
    return (f"GREATEST({floor_sql(u0, res)}, 0)",
            f"LEAST({floor_sql(u1, res)}, {_tiles_sql(res)} - 1)")


def cell_id_sql(res, ix: str, iy: str) -> str:
    """SQL twin of :func:`cell_id` (sums of disjoint bit fields)."""
    return f"({res} * {1 << RES_SHIFT} + {iy} * {1 << Y_SHIFT} + {ix})"


def point_cell_sql(lon_expr: str, lat_expr: str, res) -> str:
    """ANSI-SQL expression computing the same cell id as
    ``lonlat_to_xy`` + ``cell_id`` for a point — used to let DuckDB act
    as an independent oracle for tile assignments, and by the engine's
    owner-cell filters (``res`` may then be a per-row expression)."""
    ix = f"CAST({point_index_sql(lon_expr, 'x', res)} AS BIGINT)"
    iy = f"CAST({point_index_sql(lat_expr, 'y', res)} AS BIGINT)"
    return cell_id_sql(res, ix, iy)


def finite_sql(*exprs: str) -> str:
    """Spark SQL: every value finite.  Spark orders NaN above +inf, so a
    NaN fails the ``<`` too."""
    return f"GREATEST({', '.join(f'ABS({e})' for e in exprs)}) < DOUBLE('inf')"


def native_res_sql(ux0: str, uy0: str, ux1: str, uy1: str,
                   target_res: int = 12, max_cells: int = 64) -> str:
    """Spark SQL twin of :func:`pick_resolution_batch` over a bbox's
    :func:`unit_sql` coordinates: a ``CASE`` over res = min(target_res,
    MAX_RES) … 1, else 0.  Floors go through BIGINT and back to DOUBLE
    (exact below 2^63), so the span products are the numpy doubles and
    no BIGINT difference can overflow under ANSI mode.  A non-finite
    bbox (empty geometry: inf, inf, -inf, -inf; NaN) gets 0, numpy's
    answer."""
    def span(u0, u1, r):
        return f"(CAST({floor_sql(u1, r)} AS DOUBLE) - CAST({floor_sql(u0, r)} AS DOUBLE) + 1)"
    whens = "".join(
        f" WHEN {span(ux0, ux1, r)} * {span(uy0, uy1, r)} <= {max_cells} THEN {r}"
        for r in range(min(target_res, MAX_RES), 0, -1))
    return f"CASE WHEN NOT ({finite_sql(ux0, uy0, ux1, uy1)}) THEN 0{whens} ELSE 0 END"


# ---------------------------------------------------------------------------
# Tiled-join plumbing (DataFrame layer): ring keys and the hot-key salt
# ---------------------------------------------------------------------------

def neighbourhood_cells(df: DataFrame, res: int, ry: int, rx: int | Column,
                        ix: str = "ix", iy: str = "iy", cell: str = "cell") -> DataFrame:
    """``df`` with its ``ix``/``iy`` tile indices (:func:`point_index_sql`
    at ``res``) replaced by ``cell``: one row per cell within ``ry`` rows
    and ``rx`` columns of the point's tile — rows clipped to [0, 2^res),
    columns wrapped (longitude), each cell emitted once.  ``rx`` may be a
    per-row Column.  A column radius whose span ``2·rx+1`` reaches 2^res
    takes the full row ``sequence(0, 2^res - 1)``, so the wrap needs no
    dedup.  With ``ry == rx`` this is :func:`kring`'s cell set.

    Two explodes and a codegen'd ``pmod`` + :func:`cell_id_sql` — no
    Python stage and no per-row lambda."""
    n = 1 << res
    rest = [c for c in df.columns if c not in (ix, iy)]
    x, y = F.col(ix), F.col(iy)
    rows = F.sequence(F.greatest(y - ry, F.lit(0).cast("long")),
                      F.least(y + ry, F.lit(n - 1).cast("long")))
    full = F.sequence(F.lit(0).cast("long"), F.lit(n - 1).cast("long"))
    if isinstance(rx, Column):
        cols = F.when(2 * rx + 1 >= n, full).otherwise(F.sequence(x - rx, x + rx))
    else:
        cols = full if 2 * rx + 1 >= n else F.sequence(x - rx, x + rx)
    return (df.select(*rest, x, F.explode(rows).alias(iy))
            .select(*rest, F.col(iy), F.explode(cols).alias(ix))
            .select(*rest, F.expr(cell_id_sql(res, f"pmod(`{ix}`, {n})", f"`{iy}`"))
                    .alias(cell)))


def _salted_join(probe: DataFrame, build: DataFrame, key: str, hash_cols: list[str],
                 salt_buckets: int, salt_threshold: int) -> DataFrame:
    """Inner equi-join ``probe ⋈ build`` on ``key``, with hot keys split.

    A key whose PROBE row count reaches ``salt_threshold`` is one hot
    cell or bucket: AQE splits oversized shuffle partitions, but one key
    lands in one task either way, and the join-output amplification of
    a dense key is invisible to it.  Each probe row in a hot key takes
    ONE ``long`` salt, ``pmod(xxhash64(hash_cols), salt_buckets)``; each
    build row in it is replicated to every salt (cold keys: salt 0 on
    both sides).  Every output pair is therefore produced exactly once,
    so the result is salting-invariant.

    The probe is ``localCheckpoint``ed (lazily) first: the hot-key scan
    and the join both read it, and without the checkpoint its whole
    upstream plan would run twice.  ``salt_buckets <= 1`` is the plain
    ``probe.join(build, key)``."""
    if salt_buckets <= 1:
        return probe.join(build, key)
    probe = probe.localCheckpoint(eager=False)
    hot = (probe.groupBy(key).count().filter(F.col("count") >= salt_threshold)
           .select(key, F.lit(True).alias("__hot")))
    is_hot = F.col("__hot").isNotNull()
    zero = F.lit(0).cast("long")
    probe = (probe.join(F.broadcast(hot), key, "left")
             .withColumn("__salt", F.when(is_hot, F.pmod(F.xxhash64(*hash_cols),
                                                         F.lit(salt_buckets).cast("long")))
                         .otherwise(zero))
             .drop("__hot"))
    build = (build.join(F.broadcast(hot), key, "left")
             .withColumn("__salt", F.explode(
                 F.when(is_hot, F.sequence(zero, F.lit(salt_buckets - 1).cast("long")))
                 .otherwise(F.array(zero))))
             .drop("__hot"))
    return probe.join(build, [key, "__salt"]).drop("__salt")
