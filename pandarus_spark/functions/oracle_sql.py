"""ANSI-SQL renderings of the engine's numeric kernels, so an
independent SQL engine (DuckDB in the driver's correctness gate) can
recompute results from first principles — not from stored values.

The centrepiece is a Mollweide box-area oracle: the auxiliary-angle
equation ``2θ + sin 2θ = π sin φ`` has no closed form, so the SQL
unrolls Newton's iteration through a LATERAL chain (quadratic
convergence: 7 steps reach double precision for |φ| ≤ 89°), then takes
the same 4-corner shoelace the engine takes.  This reproduces the
engine's Mollweide measures to ~1e-12 relative purely in SQL.
"""

from __future__ import annotations

from ..geometry.projection import WGS84_A
from ..tiling.cells import cell_id_sql, point_index_sql

import math as _math

# precomputed doubles (embedded via repr so DuckDB parses them as
# DOUBLE, not DECIMAL): x = K·λ·cos θ,  y = C·sin θ
K = repr((2.0 * _math.sqrt(2.0) / _math.pi) * WGS84_A)
C = repr(_math.sqrt(2.0) * WGS84_A)

NEWTON_STEPS = 7


def theta_lateral_chain(phi_expr_b: str, phi_expr_t: str) -> str:
    """LATERAL chain computing theta for two latitudes (bottom/top).
    Exposes columns tb, tt to the enclosing scope."""
    parts = [f"LATERAL (SELECT {phi_expr_b} AS pb, {phi_expr_t} AS pt) l0",
             "LATERAL (SELECT pb AS tb0, pt AS tt0) l1"]
    for i in range(NEWTON_STEPS):
        a, b = f"tb{i}", f"tb{i + 1}"
        c, d = f"tt{i}", f"tt{i + 1}"
        parts.append(
            f"LATERAL (SELECT {a} - (2*{a} + sin(2*{a}) - pi()*sin(pb)) / (2 + 2*cos(2*{a})) AS {b}, "
            f"{c} - (2*{c} + sin(2*{c}) - pi()*sin(pt)) / (2 + 2*cos(2*{c})) AS {d}) l{i + 2}")
    parts.append(f"LATERAL (SELECT tb{NEWTON_STEPS} AS tb, tt{NEWTON_STEPS} AS tt) lfin")
    return ",\n  ".join(parts)


def mollweide_box_area_sql(rel: str, minx: str = "minx", miny: str = "miny",
                           maxx: str = "maxx", maxy: str = "maxy",
                           extra_cols: str = "") -> str:
    """SELECT returning ``rel``'s columns in ``extra_cols`` plus
    ``area_m2`` (double): the Mollweide shoelace area of each row's
    lon/lat box, matching the engine's measure for axis-aligned
    results bit-for-bit up to libm noise.

    Shoelace of the projected box with corners
    (W,b),(E,b),(E,t),(W,t):  A = (xE-xW)|_b·avg? — expanded directly
    below from the 4-corner shoelace formula."""
    cols = (extra_cols + ", ") if extra_cols else ""
    return f"""
SELECT {cols}
  0.5 * abs( (xbl*ybr - xbr*ybl) + (xbr*ytr - xtr*ybr)
           + (xtr*ytl - xtl*ytr) + (xtl*ybl - xbl*ytl) ) AS area_m2
FROM (
  SELECT {cols}
    {K} * radians({minx}) * cos(tb) AS xbl,
    {K} * radians({maxx}) * cos(tb) AS xbr,
    {K} * radians({maxx}) * cos(tt) AS xtr,
    {K} * radians({minx}) * cos(tt) AS xtl,
    {C} * sin(tb) AS ybl, {C} * sin(tb) AS ybr,
    {C} * sin(tt) AS ytr, {C} * sin(tt) AS ytl
  FROM {rel},
  {theta_lateral_chain(f"radians({miny})", f"radians({maxy})")}
) proj
"""


def cell_cover_sql(rel: str, res: int, label_col: str = "label",
                   minx: str = "minx", miny: str = "miny",
                   maxx: str = "maxx", maxy: str = "maxy") -> str:
    """SELECT (label, cell) — the bbox cover of each row's box at
    ``res``, identical to tiling.cells.cover_bbox."""
    def fl(e, axis):
        return f"CAST({point_index_sql(e, axis, res)} AS BIGINT)"
    return f"""
SELECT {label_col} AS label,
       {cell_id_sql(res, "ix", "iy")} AS cell
FROM (
  SELECT {label_col},
         {fl(minx, "x")} AS x0, {fl(maxx, "x")} AS x1,
         {fl(miny, "y")} AS y0, {fl(maxy, "y")} AS y1
  FROM {rel}
) b, LATERAL unnest(range(x0, x1 + 1)) AS ux(ix),
     LATERAL unnest(range(y0, y1 + 1)) AS uy(iy)
"""


def grid_fixture_values() -> str:
    """The 2×2 reference grid as a VALUES relation
    (label, minx, miny, maxx, maxy)."""
    rows = []
    for i in range(2):
        for j in range(2):
            rows.append(f"('grid cell {i * 2 + j}', {i}.0, {j}.0, {i + 1}.0, {j + 1}.0)")
    return "(VALUES " + ", ".join(rows) + ") AS g(label, minx, miny, maxx, maxy)"
