"""Raster → vector zonal statistics.

Reference: ``pandarus.raster_statistics`` (core.py:390-533): per vector
feature, min/max/mean/count of the raster cells it covers, with two
engine variants producing two different golden outputs
(tests/integration/test_raster_statistics.py:76-113 vs :145-182):

* ``method="coverage"`` — exactextract semantics: every cell whose box
  intersects the polygon contributes with weight = covered fraction;
  count = sum of fractions, mean = sum(w·v)/sum(w);
* ``method="centers"`` — rasterstats semantics: a cell contributes
  (weight 1) iff its center lies in the polygon.

Nodata cells are excluded in both. Stat values round-trip through
float32 because the reference's rasters are float32 and its goldens
carry float32 artifacts (e.g. mean 38.29999923706055 == float32(38.3)).

Spark plan: the raster is a cell DataFrame (row, col, value + cell box
from the affine transform); cells join features on the tiling cell key
(or broadcast features when small), the geometric weight is computed in
an Arrow batch, and the stats are a plain ``groupBy(label).agg`` —
partial/final aggregation, no custom code.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F

from ..geometry import geom as G


class RasterSpec:
    """Minimal raster grid description (rasterio Affine convention:
    x = a·col + b·row + c ; y = d·col + e·row + f)."""

    def __init__(self, width: int, height: int, transform: tuple, crs: str = "EPSG:4326",
                 nodata: float | None = None):
        self.width, self.height = width, height
        self.a, self.b, self.c, self.d, self.e, self.f = transform
        self.crs, self.nodata = crs, nodata

    def cell_box(self, row, col):
        x0 = self.a * col + self.b * row + self.c
        y0 = self.d * col + self.e * row + self.f
        x1 = self.a * (col + 1) + self.b * (row + 1) + self.c
        y1 = self.d * (col + 1) + self.e * (row + 1) + self.f
        return min(x0, x1), min(y0, y1), max(x0, x1), max(y0, y1)


def raster_cells_df(spark, spec: RasterSpec, values: np.ndarray,
                    drop_nodata: bool = True) -> DataFrame:
    """Explode a band into a cell DataFrame.

    For synthetic/benchmark rasters the array is generated driver-side;
    at 100 TB scale the same schema arrives as parquet tile tables and
    this constructor is bypassed."""
    import pandas as pd
    h, w = values.shape
    assert (h, w) == (spec.height, spec.width)
    rows, cols = np.meshgrid(np.arange(h), np.arange(w), indexing="ij")
    rows, cols = rows.ravel(), cols.ravel()
    vals = values.ravel().astype(np.float64)
    x0 = spec.a * cols + spec.b * rows + spec.c
    y0 = spec.d * cols + spec.e * rows + spec.f
    x1 = spec.a * (cols + 1) + spec.b * (rows + 1) + spec.c
    y1 = spec.d * (cols + 1) + spec.e * (rows + 1) + spec.f
    pdf = pd.DataFrame({
        "row": rows.astype("int64"), "col": cols.astype("int64"), "value": vals,
        "minx": np.minimum(x0, x1), "miny": np.minimum(y0, y1),
        "maxx": np.maximum(x0, x1), "maxy": np.maximum(y0, y1),
    })
    if drop_nodata and spec.nodata is not None:
        pdf = pdf[~np.isclose(pdf["value"], spec.nodata) & ~np.isnan(pdf["value"])]
    return spark.createDataFrame(pdf)


WEIGHT_SCHEMA = "label string, value double, weight double"


def raster_cells_range(spark, spec: RasterSpec, value_expr: str = None,
                       partitions: int = 64) -> DataFrame:
    """Distributed cell-DataFrame constructor: ``spark.range`` over the
    band's row-major index, bbox via the affine transform, value from a
    SQL expression of (row, col) — all Catalyst, no driver-side array.
    The cluster-scale twin of :func:`raster_cells_df` (whose docstring
    notes it is bypassed at scale)."""
    w, h = spec.width, spec.height
    df = (spark.range(0, w * h, 1, partitions)
          .select((F.col("id") / w).cast("long").alias("row"),
                  (F.col("id") % w).alias("col")))
    a, b, c, d, e, f0 = spec.a, spec.b, spec.c, spec.d, spec.e, spec.f
    x0 = F.lit(a) * F.col("col") + F.lit(b) * F.col("row") + F.lit(c)
    y0 = F.lit(d) * F.col("col") + F.lit(e) * F.col("row") + F.lit(f0)
    x1 = F.lit(a) * (F.col("col") + 1) + F.lit(b) * (F.col("row") + 1) + F.lit(c)
    y1 = F.lit(d) * (F.col("col") + 1) + F.lit(e) * (F.col("row") + 1) + F.lit(f0)
    df = df.select(
        "row", "col",
        F.expr(value_expr or "CAST((row * 31 + col) % 1000 AS DOUBLE)").alias("value"),
        F.least(x0, x1).alias("minx"), F.least(y0, y1).alias("miny"),
        F.greatest(x0, x1).alias("maxx"), F.greatest(y0, y1).alias("maxy"))
    if spec.nodata is not None:
        df = df.filter(F.abs(F.col("value") - F.lit(spec.nodata)) > 1e-12)
    return df


def _tile_candidates(features: DataFrame, cells: DataFrame,
                     res: int, max_cells: int) -> DataFrame:
    """Cell-key candidate join for zonal stats at scale.

    Feature side: adaptive native cover (cover_features with_meta).
    Raster side: the feature cover's Catalyst bbox → cells explode
    (``intersect._explode_cells``) of each raster cell's bbox at EVERY
    resolution in [coarsest feature native, res] — a join
    match then implies tile res == that feature's native res, and the
    owner-tile point filter (same reference-point trick as
    operators/intersect.py) keeps each (cell, feature) pair exactly
    once.  No broadcast of the feature side, no dedup shuffle."""
    from ..tiling import cells as C
    from .intersect import _explode_cells, _min_emit_res, _with_units, cover_features

    lo = _min_emit_res(features, res, max_cells)
    fcov = cover_features(features, res, max_cells, with_meta=True).select(
        "feature_id", "cell", F.col("native_res").alias("f_native"),
        F.col("minx").alias("f_minx"), F.col("miny").alias("f_miny"))
    feats_geom = features.select("feature_id", "label", "geom_wkb")
    fcov = fcov.join(feats_geom, "feature_id")

    tiles = _explode_cells(_with_units(cells), f"sequence({lo}, {res})")
    joined = tiles.join(fcov, "cell")
    # owner-tile filter: keep only the tile containing the reference
    # point (max of the two bbox minima)
    owner = C.point_cell_sql("GREATEST(minx, f_minx)", "GREATEST(miny, f_miny)",
                             f"shiftright(cell, {C.RES_SHIFT})")
    return joined.filter(F.expr(f"cell = {owner}")) \
                 .drop("cell", "f_native", "f_minx", "f_miny", "feature_id")


def raster_statistics(features: DataFrame, cells: DataFrame,
                      method: str = "coverage", strategy: str = "broadcast",
                      res: int = 12, max_cells: int = 64,
                      weight_cells: DataFrame | None = None) -> DataFrame:
    """Zonal stats: (label, min, max, mean, count).

    ``features``: the engine's feature DF (polygons). ``cells``: output
    of :func:`raster_cells_df` (nodata already dropped).

    ``strategy="broadcast"`` (report scale): broadcast bbox theta-join —
    O(cells × features) predicate evaluations, fine while the feature
    side broadcasts.  ``strategy="tiles"`` (cluster scale): cell-key
    hash join via :func:`_tile_candidates` — identical results, no
    broadcast, no quadratic predicate work.

    ``weight_cells`` (graft addition — exactextract's ``weights=``
    raster; the reference's raster_statistics has no weighted variant):
    a second cell DataFrame on the SAME grid, joined on (row, col)
    before candidate generation (an inner join, so a cell missing from
    the weight raster is excluded — exactextract's weight-nodata rule).
    Appends ``weighted_mean = Σ(cov·w·v)/Σ(cov·w)`` and
    ``weighted_sum = Σ(cov·w·v)`` to the output; requires
    ``method="coverage"``.  The grid join is a (row, col) equi-join —
    co-partitionable/bucketable at tile-table scale, never a geometry
    operation."""
    if method not in ("coverage", "centers"):
        raise ValueError(method)
    if strategy not in ("broadcast", "tiles"):
        raise ValueError(strategy)
    has_w = weight_cells is not None
    if has_w:
        if method != "coverage":
            raise ValueError("weight_cells requires method='coverage'")
        cells = cells.join(
            weight_cells.select("row", "col", F.col("value").alias("wval")),
            ["row", "col"])

    if strategy == "tiles":
        cand = _tile_candidates(features, cells, res, max_cells)
    else:
        feats = F.broadcast(features.select(
            "label", "geom_wkb", *(F.col(c).alias(f"f{c}") for c in ("minx", "miny", "maxx", "maxy"))))
        # bbox-overlap candidate join (pushes down as range predicates)
        cand = cells.join(feats, (F.col("minx") < F.col("fmaxx")) & (F.col("maxx") > F.col("fminx"))
                          & (F.col("miny") < F.col("fmaxy")) & (F.col("maxy") > F.col("fminy")))

    # the weight of each candidate row, one Arrow batch at a time.
    # Coverage is one batched kernel per batch (_coverage_fractions):
    # each distinct zone decoded once, all convex covers built at once,
    # every (cell × zone piece) pair whose boxes touch clipped against
    # the cell box by the shared clip driver (batch.clip_pairs, one
    # clip_convex_batch per budget span of pairs), and the signed piece
    # areas (holes −) summed per row with np.add.at.  Centers tests
    # cell centers zone by zone.
    centers = method == "centers"

    def gen(batches):
        for pdf in batches:
            yield _weight_frame(pdf, centers, has_w)

    schema = WEIGHT_SCHEMA + (", wval double" if has_w else "")
    weighted = cand.mapInPandas(gen, schema=schema)
    aggs = [
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
        (F.sum(F.col("value") * F.col("weight")) / F.sum("weight")).alias("vmean"),
        F.sum("weight").alias("vcount"),
    ]
    if has_w:
        cw = F.col("weight") * F.col("wval")
        aggs += [(F.sum(F.col("value") * cw) / F.sum(cw)).alias("vwmean"),
                 F.sum(F.col("value") * cw).alias("vwsum")]
    stats = weighted.groupBy("label").agg(*aggs)
    # float32 round-trip to match the reference's float32 goldens
    sel = [
        F.col("label"),
        F.col("vmin").cast("float").cast("double").alias("min"),
        F.col("vmax").cast("float").cast("double").alias("max"),
        F.col("vmean").cast("float").cast("double").alias("mean"),
        F.col("vcount").cast("float").cast("double").alias("count"),
    ]
    if has_w:
        sel += [F.col("vwmean").cast("float").cast("double").alias("weighted_mean"),
                F.col("vwsum").cast("float").cast("double").alias("weighted_sum")]
    return stats.select(*sel)


def _weight_frame(pdf, centers: bool, has_w: bool):
    """One Arrow batch of (cell, zone) candidate rows → its
    :data:`WEIGHT_SCHEMA` rows (plus ``wval`` when ``has_w``), zone by
    zone in :func:`_zone_order`.  ``centers``: weight 1 per cell whose
    center is in its zone.  Coverage: the covered fraction of the cell,
    kept above 1e-12 and capped at 1, from ONE batched kernel over the
    whole batch (:func:`_coverage_fractions`) — no per-zone loop."""
    import pandas as pd
    box = [pdf[k].to_numpy() for k in ("minx", "miny", "maxx", "maxy")]
    if centers:
        rows = _center_rows(pdf["geom_wkb"], *box)
        weight = np.ones(len(rows))
    else:
        order, frac = _coverage_fractions(pdf["geom_wkb"], *box)
        keep = frac > 1e-12
        rows, weight = order[keep], np.minimum(frac[keep], 1.0)
    cols = {"label": pd.Series(pdf["label"].to_numpy()[rows], dtype="object"),
            "value": pd.Series(pdf["value"].to_numpy()[rows], dtype="float64"),
            "weight": pd.Series(weight, dtype="float64")}
    if has_w:
        cols["wval"] = pd.Series(pdf["wval"].to_numpy()[rows], dtype="float64")
    return pd.DataFrame(cols)


def _zone_order(wkbs) -> tuple[np.ndarray, np.ndarray, object]:
    """Factorize the zone WKBs of one Arrow batch: ``(order, codes,
    uniq)``.  ``order`` lists the row positions zone by zone, zones in
    order of first appearance and rows in input order within a zone —
    ``groupby("geom_wkb", sort=False)``'s order, so the aggregate
    downstream sums in the same order — without the null-zone rows.
    ``codes[k]`` is row ``order[k]``'s index into ``uniq``."""
    import pandas as pd
    codes, uniq = pd.factorize(wkbs)
    order = np.argsort(codes, kind="stable")
    order = order[codes[order] >= 0]
    return order, codes[order], uniq


def _center_rows(wkbs, mnx, mny, mxx, mxy) -> np.ndarray:
    """``method="centers"``: the row positions, in :func:`_zone_order`,
    whose cell center lies in the row's zone (one loop pass per zone)."""
    order, codes, uniq = _zone_order(wkbs)
    bounds = np.searchsorted(codes, np.arange(len(uniq) + 1))
    out = [order[:0]]
    for z, wkb in enumerate(uniq):
        seg = order[bounds[z]:bounds[z + 1]]
        pts = np.column_stack([(mnx[seg] + mxx[seg]) / 2.0, (mny[seg] + mxy[seg]) / 2.0])
        mask = np.zeros(len(seg), dtype=bool)
        for rings in G.extract_kind_parts(G.wkb_loads(bytes(wkb)), "polygon"):
            # strict interior test for centers (rasterstats
            # all_touched=False): nudge by excluding boundary
            mask |= _centers_in(pts, rings)
        out.append(seg[mask])
    return np.concatenate(out)


def _coverage_fractions(wkbs, mnx, mny, mxx, mxy) -> tuple[np.ndarray, np.ndarray]:
    """Coverage weights of one Arrow batch of (cell, zone) candidate
    rows in one batched kernel: ``(order, frac)``, the rows in
    :func:`_zone_order` and each one's covered fraction of its cell box
    (the caller keeps ``frac > 1e-12`` and caps it at 1).

    Each distinct zone is decoded once and its polygon rings flattened
    in (part, ring) order (``batch.polygon_rings``), exteriors signed +,
    holes −; their convex covers all come from one
    ``convex_cover_ragged`` (covers, not rings: Sutherland–Hodgman drops
    area when a concave subject's clip is disconnected; the pieces
    partition the ring, so per-cell piece areas sum to area(box ∩
    ring)).  Every (cell row × piece of its zone) pair whose boxes touch
    is clipped against the cell box, passed as a 4-vertex clip ring, by
    the shared driver ``batch.clip_pairs``, and the signed areas sum per
    row with ``np.add.at`` in piece order: area(box ∩ poly) = Σ area(box
    ∩ exterior pieces) − Σ area(box ∩ hole pieces), the value the scalar
    decomposition sums.  Every temporary is bounded by
    ``batch.budget_spans``, so one wide ring costs memory by its own
    width only.  A row's value depends on its own zone and cell only,
    not on the rest of the batch (pinned by
    tests/test_coverage_kernel.py)."""
    from ..geometry import batch as B
    order, codes, uniq = _zone_order(wkbs)
    mnx, mny, mxx, mxy = mnx[order], mny[order], mxx[order], mxy[order]
    n = len(order)
    rings, ring_zone, exterior = B.polygon_rings([G.wkb_loads(bytes(w)) for w in uniq])
    area = np.zeros(n)
    if n and rings:
        verts, off, pcnt, starts, boxes = B.convex_cover_ragged(rings)
        piece_sign = np.repeat(np.where(exterior, 1.0, -1.0), np.diff(starts))
        # a zone's rings, and so its pieces, are one contiguous run
        z_start = starts[np.searchsorted(ring_zone, np.arange(len(uniq) + 1))]
        z_n = np.diff(z_start)
        cell_box = np.column_stack([mnx, mny, mxx, mxy])
        # row i's cell box is ring i of a store of CCW 4-vertex rings
        box_verts = cell_box[:, [0, 1, 2, 1, 2, 3, 0, 3]].reshape(-1, 2)
        box_off, box_cnt = 4 * np.arange(n), np.full(n, 4)
        # the cell side of each pair is its own row: b_idx is the row
        _, piece, row = B.fan_out_pairs(z_start[codes], z_n[codes], boxes, np.arange(n),
                                        np.ones(n, dtype=np.int64), cell_box)
        pair_area = B.ring_area_by_count(*B.clip_pairs(
            verts, off, pcnt, piece, box_verts, box_off, box_cnt, row))
        # unbuffered, in pair order: each row sums its pieces in order
        np.add.at(area, row, piece_sign[piece] * pair_area)
    return order, area / ((mxx - mnx) * (mxy - mny))


def _coverage_weights_scalar(rings_list: list, mnx: np.ndarray, mny: np.ndarray,
                             mxx: np.ndarray, mxy: np.ndarray) -> np.ndarray:
    """Reference coverage fractions, one cell at a time: the exact
    polygon clip (``geom.clip_polygon_by_polygon``) of every polygon
    part against each cell box, over the cell area.  The batched
    weights in :func:`raster_statistics` are tested against this; the
    caller keeps cells above 1e-12 and caps the weight at 1."""
    frac = np.zeros(len(mnx))
    for i in range(len(mnx)):
        box = [np.array([[mnx[i], mny[i]], [mxx[i], mny[i]], [mxx[i], mxy[i]],
                         [mnx[i], mxy[i]], [mnx[i], mny[i]]])]
        cell_area = (mxx[i] - mnx[i]) * (mxy[i] - mny[i])
        for rings in rings_list:
            pieces = G.clip_polygon_by_polygon(box, rings)
            frac[i] += sum(G.polygon_area(p) for p in pieces) / cell_area
    return frac


def _centers_in(pts: np.ndarray, rings: list) -> np.ndarray:
    """Center-in-polygon, boundary-EXCLUSIVE on the top/right edges
    (rasterstats uses rasterization; for the axis-aligned fixtures the
    even-odd interior test reproduces its goldens)."""
    inside = _pip_strict(pts, rings[0])
    for hole in rings[1:]:
        inside &= ~_pip_strict(pts, hole)
    return inside


def _pip_strict(pts: np.ndarray, ring: np.ndarray) -> np.ndarray:
    """Even-odd with a boundary-inclusive +x ray (``x <= xint``): a
    center sitting exactly on a polygon's right edge counts as inside,
    one on its left edge as outside — matching GDAL rasterization and
    the reference's rasterstats goldens (counts 12/12/8/8)."""
    pts = np.asarray(pts, dtype=np.float64).reshape(-1, 2)
    ring = np.asarray(ring, dtype=np.float64).reshape(-1, 2)
    x, y = pts[:, 0][:, None], pts[:, 1][:, None]
    x1, y1 = ring[:-1, 0][None, :], ring[:-1, 1][None, :]
    x2, y2 = ring[1:, 0][None, :], ring[1:, 1][None, :]
    cond = (y1 > y) != (y2 > y)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = x1 + (y - y1) * (x2 - x1) / np.where((y2 - y1) == 0, 1, (y2 - y1))
    return ((cond & (x <= xint)).sum(axis=1) % 2) == 1


def focal_statistics(cells: DataFrame, radius: int = 1,
                     row_col: str = "row", col_col: str = "col",
                     val_col: str = "value") -> DataFrame:
    """Focal (moving-window) raster statistics — the neighborhood
    analysis the zonal family's per-polygon reductions don't cover
    (graft addition; GIS "focal mean/min/max", the smoothing /
    edge-detection primitive).  For every cell, aggregate the values
    of all EXISTING cells within the (2r+1)x(2r+1) square window:
    output ``(row, col, n_nbrs, sum_val, min_val, max_val)`` —
    sum/count instead of a float mean, so integer-valued rasters stay
    bit-exact under any partitioning (the suite's no-float-mean
    convention; the consumer divides).

    Edge cells aggregate their PARTIAL window (only neighbors that
    exist) — the standard partial-window focal semantics, which also
    makes the operator nodata-correct for sparse cell tables (absent
    cells simply don't contribute).

    Plan shape (100 TB test): each cell replicates to its (2r+1)²
    window positions via one in-line offset explode (pure Catalyst
    cross of two small literal arrays), then ONE (row, col) partial
    agg — replicated rows combine map-side, so the shuffle carries at
    most one row per output cell per task.  No join against the cell
    table itself, no window function: the classic scatter-gather
    convolution shape."""
    if radius < 1:
        raise ValueError("radius must be >= 1")
    offs = list(range(-radius, radius + 1))
    src = cells.select(F.col(row_col).alias("_r"),
                       F.col(col_col).alias("_c"),
                       F.col(val_col).alias("_v"))
    dr = F.explode(F.array(*[F.lit(o) for o in offs])).alias("_dr")
    scattered = (src.select("_r", "_c", "_v", dr)
                    .select("_r", "_c", "_v", "_dr",
                            F.explode(F.array(*[F.lit(o) for o in offs]))
                             .alias("_dc")))
    return (scattered
            .groupBy((F.col("_r") + F.col("_dr")).alias("row"),
                     (F.col("_c") + F.col("_dc")).alias("col"))
            .agg(F.count("*").alias("n_nbrs"),
                 F.sum("_v").alias("sum_val"),
                 F.min("_v").alias("min_val"),
                 F.max("_v").alias("max_val"))
            .join(src.select(F.col("_r").alias("row"),
                             F.col("_c").alias("col")).distinct(),
                  ["row", "col"])
            .select("row", "col", "n_nbrs", "sum_val",
                    "min_val", "max_val"))


def focal_statistics_sql(radius: int = 1, source: str = "cells",
                         row_expr: str = "row", col_expr: str = "col",
                         val_expr: str = "value") -> str:
    """DuckDB rendering of :func:`focal_statistics` (same offset
    scatter, same partial-window semantics, same existing-cell
    semi-join)."""
    if radius < 1:
        raise ValueError("radius must be >= 1")
    offs = ", ".join(str(o) for o in range(-radius, radius + 1))
    return f"""
WITH src AS (SELECT {row_expr} AS r, {col_expr} AS c, {val_expr} AS v
             FROM {source}),
scattered AS (
  SELECT r + dr.o AS row, c + dc.o AS col, v
  FROM src,
       (SELECT unnest([{offs}]) AS o) dr,
       (SELECT unnest([{offs}]) AS o) dc),
agg AS (
  SELECT row, col, count(*) AS n_nbrs, sum(v) AS sum_val,
         min(v) AS min_val, max(v) AS max_val
  FROM scattered GROUP BY row, col)
SELECT agg.row, agg.col, CAST(n_nbrs AS BIGINT) AS n_nbrs,
       sum_val, min_val, max_val
FROM agg JOIN (SELECT DISTINCT r, c FROM src) s
  ON agg.row = s.r AND agg.col = s.c"""


def horn_gradient(cells: DataFrame, row_col: str = "row",
                  col_col: str = "col",
                  val_col: str = "value") -> DataFrame:
    """Horn's-method surface gradient (Horn 1981 — the standard DEM
    slope/aspect kernel): for every cell with a COMPLETE 3x3
    neighborhood,

        gx ∝ (c + 2f + i) - (a + 2d + g)      (col-direction)
        gy ∝ (g + 2h + i) - (a + 2b + c)      (row-direction)

    over the 8 surrounding values.  Output: ``(row, col,
    gx_num BIGINT, gy_num BIGINT)`` — the INTEGER numerators (the
    /8Δ normalization and the atan/sqrt slope-degree conversion are
    left to the consumer), so integer-valued DEMs are bit-exact
    under any partitioning; fractional sums round half away from zero
    (both engines), never truncate.  Border cells (incomplete windows)
    are excluded, the standard Horn edge rule.

    Plan shape (100 TB test): the same scatter-gather convolution as
    :func:`focal_statistics` — each cell scatters to its 8 neighbor
    positions carrying its two signed weights, ONE (row, col) partial
    agg gathers, and the n==8 filter plus the existing-cell semi-join
    enforce completeness.  No self-join, no window function."""
    src = cells.select(F.col(row_col).alias("_r"),
                       F.col(col_col).alias("_c"),
                       F.col(val_col).alias("_v"))
    offs = [(dr, dc) for dr in (-1, 0, 1) for dc in (-1, 0, 1)
            if (dr, dc) != (0, 0)]
    # source at (r, c) is the neighbor at offset (-dr, -dc) of target
    # (r+dr, c+dc): weight_x = (-dc) * (2 - |dr|), weight_y likewise
    scat = F.explode(F.array(*[
        F.struct(F.lit(dr).alias("dr"), F.lit(dc).alias("dc"),
                 F.lit((-dc) * (2 - abs(dr))).alias("wx"),
                 F.lit((-dr) * (2 - abs(dc))).alias("wy"))
        for dr, dc in offs])).alias("o")
    return (src.select("_r", "_c", "_v", scat)
            .groupBy((F.col("_r") + F.col("o.dr")).alias("row"),
                     (F.col("_c") + F.col("o.dc")).alias("col"))
            .agg(F.count("*").alias("_n"),
                 F.sum(F.col("_v") * F.col("o.wx")).alias("_gx"),
                 F.sum(F.col("_v") * F.col("o.wy")).alias("_gy"))
            .filter(F.col("_n") == 8)
            .join(src.select(F.col("_r").alias("row"),
                             F.col("_c").alias("col")).distinct(),
                  ["row", "col"])
            .select("row", "col",
                    F.round(F.col("_gx")).cast("long").alias("gx_num"),
                    F.round(F.col("_gy")).cast("long").alias("gy_num")))


def horn_gradient_sql(source: str = "cells", row_expr: str = "row",
                      col_expr: str = "col",
                      val_expr: str = "value") -> str:
    """DuckDB rendering of :func:`horn_gradient` (same scatter
    weights, same completeness rule, same half-away-from-zero rounding
    — a bare ``CAST(double AS BIGINT)`` would round half to even)."""
    offs = ", ".join(
        f"{{'dr': {dr}, 'dc': {dc}, 'wx': {(-dc) * (2 - abs(dr))}, "
        f"'wy': {(-dr) * (2 - abs(dc))}}}"
        for dr in (-1, 0, 1) for dc in (-1, 0, 1) if (dr, dc) != (0, 0))
    return f"""
WITH src AS (SELECT {row_expr} AS r, {col_expr} AS c, {val_expr} AS v
             FROM {source}),
scat AS (
  SELECT r + o['dr'] AS row, c + o['dc'] AS col,
         v * o['wx'] AS gx, v * o['wy'] AS gy
  FROM src, (SELECT unnest([{offs}]) AS o) t),
agg AS (
  SELECT row, col, count(*) AS n, sum(gx) AS gx, sum(gy) AS gy
  FROM scat GROUP BY row, col)
SELECT agg.row, agg.col, CAST(round(gx) AS BIGINT) AS gx_num,
       CAST(round(gy) AS BIGINT) AS gy_num
FROM agg JOIN (SELECT DISTINCT r, c FROM src) s
  ON agg.row = s.r AND agg.col = s.c
WHERE n = 8"""


MAP_ALGEBRA_OPS = ("add", "sub", "mul", "min", "max")


def map_algebra(cells_a: DataFrame, cells_b: DataFrame, op: str = "add",
                row_col: str = "row", col_col: str = "col",
                val_col: str = "value") -> DataFrame:
    """Local (cell-wise) map algebra over two rasters — the
    raster-calculator primitive (Tomlin's local operations): output
    ``(row, col, value)`` with ``value = a <op> b`` wherever BOTH
    rasters have a cell (the standard nodata-propagation rule: an
    absent cell is nodata, and nodata beats any operand — hence the
    inner join).  Integer-valued inputs stay bit-exact for every op
    (add/sub/mul/min/max are closed over integers-in-doubles).

    Plan shape (100 TB test): ONE (row, col) equi-join — both sides
    hash-partition on the grid key, no geometry, no window; on
    co-partitioned (bucketed) cell tables the join plans with zero
    shuffle, the ``write_bucketed_covers`` pattern."""
    if op not in MAP_ALGEBRA_OPS:
        raise ValueError(f"op must be one of {MAP_ALGEBRA_OPS}")
    a = cells_a.select(F.col(row_col).alias("row"),
                       F.col(col_col).alias("col"),
                       F.col(val_col).alias("_a"))
    b = cells_b.select(F.col(row_col).alias("row"),
                       F.col(col_col).alias("col"),
                       F.col(val_col).alias("_b"))
    expr = {"add": "_a + _b", "sub": "_a - _b", "mul": "_a * _b",
            "min": "least(_a, _b)", "max": "greatest(_a, _b)"}[op]
    return (a.join(b, ["row", "col"])
             .select("row", "col", F.expr(expr).alias("value")))


def map_algebra_sql(op: str = "add", source_a: str = "cells_a",
                    source_b: str = "cells_b", row_expr: str = "row",
                    col_expr: str = "col",
                    val_expr: str = "value") -> str:
    """DuckDB rendering of :func:`map_algebra`."""
    if op not in MAP_ALGEBRA_OPS:
        raise ValueError(f"op must be one of {MAP_ALGEBRA_OPS}")
    expr = {"add": "a._v + b._v", "sub": "a._v - b._v",
            "mul": "a._v * b._v", "min": "least(a._v, b._v)",
            "max": "greatest(a._v, b._v)"}[op]
    return f"""
WITH a AS (SELECT {row_expr} AS row, {col_expr} AS col,
                  {val_expr} AS _v FROM {source_a}),
b AS (SELECT {row_expr} AS row, {col_expr} AS col,
             {val_expr} AS _v FROM {source_b})
SELECT a.row, a.col, {expr} AS value
FROM a JOIN b ON a.row = b.row AND a.col = b.col"""
