"""Nearest-feature kNN matching (graft addition — the reference has no
nearest/kNN operator; semantics defined by our own fixtures, see
SURVEY.md §2 row 8).

Given query points and a feature table, return the k nearest features
per query by planar WGS84-degree distance (0 when the point is inside a
polygon).  Plan:

1. queries land in a tiling cell; the cell's k-ring (Chebyshev radius
   ``ring``) is exploded in Catalyst (``cells.neighbourhood_cells``, the
   helper the distance join's ring uses too — no Python stage) →
   candidate join against the features' cell cover — a hash join,
   exactly like the overlay join;
2. exact point→geometry distance in an Arrow batch;
3. per-query top-k via ``Window.partitionBy(query).orderBy(dist)`` +
   ``row_number() <= k``;
4. queries that found fewer than k candidates inside the ring are
   re-matched with a broadcast brute-force pass (correctness backstop;
   at scale the ring radius is tuned so this path is ~empty).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window, functions as F

from ..geometry import geom as G
from ..tiling import cells as C

DIST_SCHEMA = "query_id bigint, feature_id bigint, dist double"

# cells a single ring pass may enumerate per query before the backstop
# switches to broadcasting the (small) short side: each query explodes
# to (2r+1)² ring rows that all cross the candidate join's shuffle, so
# unbounded doubling at high res would multiply the shuffle by ~4 per
# pass long before the ring spans the grid
_RING_CELL_BUDGET = 4096


def point_geom_distance(px: float, py: float, geom: dict) -> float:
    """Exact planar distance point -> geometry (0 inside polygons)."""
    return float(points_geom_distance(np.array([[px, py]]), geom)[0])


def points_geom_distance(pts: np.ndarray, geom: dict) -> np.ndarray:
    """Batched exact planar distance: MANY points against ONE geometry
    (0 inside polygons) — the vectorized kernel the Arrow stage uses,
    one (N_points × M_vertices) computation per feature instead of a
    per-row Python loop (round-2, same treatment as the refine/zonal
    kernels)."""
    pts = np.asarray(pts, dtype=np.float64).reshape(-1, 2)
    best = np.full(len(pts), np.inf)
    for t, payload in _parts(geom):
        if t == "point":
            q = np.asarray(payload, dtype=np.float64).reshape(-1, 2)
            d = np.hypot(q[None, :, 0] - pts[:, 0:1], q[None, :, 1] - pts[:, 1:2])
            best = np.minimum(best, d.min(axis=1))
        elif t == "line":
            best = np.minimum(best, _dists_to_path(pts, payload))
        else:
            rings = payload
            inside = G.points_in_polygon(pts, rings)
            for ring in rings:
                best = np.minimum(best, _dists_to_path(pts, ring))
            best[inside] = 0.0
    return best


def _parts(geom: dict):
    for p in G.extract_kind_parts(geom, "point"):
        yield "point", p
    for p in G.extract_kind_parts(geom, "line"):
        yield "line", p
    for p in G.extract_kind_parts(geom, "polygon"):
        yield "polygon", p


def _dists_to_path(pts: np.ndarray, path) -> np.ndarray:
    """Min distance from each point (N,2) to a polyline (M,2)."""
    arr = np.asarray(path, dtype=np.float64).reshape(-1, 2)
    if len(arr) == 1:
        return np.hypot(arr[0, 0] - pts[:, 0], arr[0, 1] - pts[:, 1])
    a, b = arr[:-1], arr[1:]
    d = b - a                                  # (M,2)
    L2 = (d ** 2).sum(axis=1)                  # (M,)
    px, py = pts[:, 0:1], pts[:, 1:2]          # (N,1)
    t = np.clip(((px - a[None, :, 0]) * d[None, :, 0]
                 + (py - a[None, :, 1]) * d[None, :, 1])
                / np.where(L2 == 0, 1, L2)[None, :], 0, 1)
    cx = a[None, :, 0] + t * d[None, :, 0]
    cy = a[None, :, 1] + t * d[None, :, 1]
    return np.min(np.hypot(cx - px, cy - py), axis=1)


def _exact_distances(cand: DataFrame) -> DataFrame:
    def gen(batches):
        import pandas as pd
        for pdf in batches:
            frames = []
            # one vectorized points×geometry computation per distinct
            # feature in the batch (candidates arrive feature-clustered
            # from the join, so groups are large)
            for wkb, grp in pdf.groupby("geom_wkb", sort=False):
                geom = G.wkb_loads(bytes(wkb))
                pts = np.column_stack([grp["qx"].to_numpy(dtype=np.float64),
                                       grp["qy"].to_numpy(dtype=np.float64)])
                frames.append(pd.DataFrame({
                    "query_id": grp["query_id"].to_numpy(dtype="int64"),
                    "feature_id": grp["feature_id"].to_numpy(dtype="int64"),
                    "dist": points_geom_distance(pts, geom)}))
            yield (pd.concat(frames, ignore_index=True) if frames
                   else pd.DataFrame({"query_id": pd.Series([], dtype="int64"),
                                      "feature_id": pd.Series([], dtype="int64"),
                                      "dist": pd.Series([], dtype="float64")}))

    return cand.mapInPandas(gen, schema=DIST_SCHEMA)


def _rect_distance_expr() -> "F.Column":
    """Point→axis-rect distance in pure Catalyst (whole-stage codegen):
    ``hypot(max(minx-qx, qx-maxx, 0), max(miny-qy, qy-maxy, 0))`` — 0
    inside, edge distance outside.  Identical to the Python kernel on
    rects (tests pin agreement), so the Arrow stage only sees the
    non-rect residue."""
    dx = F.greatest(F.col("minx") - F.col("qx"), F.col("qx") - F.col("maxx"), F.lit(0.0))
    dy = F.greatest(F.col("miny") - F.col("qy"), F.col("qy") - F.col("maxy"), F.lit(0.0))
    return F.sqrt(dx * dx + dy * dy)


def _feature_geoms(features: DataFrame) -> DataFrame:
    """Distance-relevant feature columns; an absent or NULL ``is_rect``
    degrades to the general (Arrow-kernel) path rather than raising or
    silently dropping rows."""
    rect = (F.coalesce(F.col("is_rect"), F.lit(False))
            if "is_rect" in features.columns else F.lit(False))
    return features.select("feature_id", "geom_wkb", rect.alias("is_rect"),
                           "minx", "miny", "maxx", "maxy")


def _split_distances(cand: DataFrame) -> DataFrame:
    """Exact distances: JVM expression for axis-rect features, Arrow
    kernel for the rest (``is_rect`` here is already null-free,
    see :func:`_feature_geoms`)."""
    rect = (cand.filter(F.col("is_rect"))
            .select("query_id", "feature_id", _rect_distance_expr().alias("dist")))
    other = cand.filter(~F.col("is_rect")) \
                .select("query_id", "qx", "qy", "feature_id", "geom_wkb")
    return rect.unionByName(_exact_distances(other))


def _ring_pass(queries: DataFrame, fcells: DataFrame, fgeom: DataFrame,
               res: int, ring: int) -> DataFrame:
    """(query_id, feature_id, dist) for every feature whose cover meets
    the k-ring of radius ``ring`` around each query's cell at ``res`` —
    one ring pass, Catalyst up to the exact-distance split."""
    pts = queries.selectExpr("query_id", "qx", "qy",
                             f"{C.point_index_sql('qx', 'x', res)} AS ix",
                             f"{C.point_index_sql('qy', 'y', res)} AS iy")
    cand = (C.neighbourhood_cells(pts, res, ring, ring).join(fcells, "cell")
            .select("query_id", "qx", "qy", "feature_id")
            .dropDuplicates(["query_id", "feature_id"])
            .join(fgeom, "feature_id"))
    return _split_distances(cand)


def knn_nearest_feature(queries: DataFrame, features: DataFrame, k: int = 1,
                        res: int = 6, ring: int = 1) -> DataFrame:
    """queries(query_id, qx, qy) × features(feature_id, label, geom_wkb,
    bbox) → (query_id, feature_id, label, dist, rank), rank 1..k.

    Queries that find fewer than ``min(k, |features|)`` candidates in
    their initial ``ring`` are re-probed with DOUBLING ring radii
    (2·ring, 4·ring, …) — each pass touches only the still-short
    queries, at most ``res`` passes before the ring spans the whole
    grid (SURVEY §2.1.8's "growing k-ring neighborhoods"; round-2
    verdict #3: the old backstop broadcast the FULL feature table,
    an OOM at 100× feature scale).  The brute-force last resort
    broadcasts the residual SHORT-QUERY side — tiny by construction —
    and keeps the feature table distributed."""
    from ..operators.intersect import _ensure_persisted, cover_features

    features = _ensure_persisted(features)
    fcells = cover_features(features, res, max_cells=256)
    fgeom = _feature_geoms(features)
    dists = _ring_pass(queries, fcells, fgeom, res, ring)

    w = Window.partitionBy("query_id").orderBy(F.col("dist").asc(), F.col("feature_id").asc())
    ranked = dists.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
    # the backstop existence checks below are actions — persist so the
    # candidate+refine pipeline isn't executed twice
    ranked = _ensure_persisted(ranked)

    # a query can never match more than |features| rows: clamp the
    # shortness bar so a tiny feature table doesn't loop to brute force
    want = min(k, fgeom.count())
    n_cells = 1 << res
    r = ring
    while True:
        short = (queries.join(ranked.groupBy("query_id").agg(F.count("*").alias("n")),
                              "query_id", "left")
                 .filter((F.col("n").isNull()) | (F.col("n") < want))
                 .select("query_id", "qx", "qy"))
        if want == 0 or short.limit(1).count() == 0:
            break
        # brute-force once the NEXT ring would enumerate more cells per
        # query than the budget (the ring explodes to (2r+1)² rows per
        # query — at radius n/2 that is the entire grid, far costlier
        # than broadcasting the short side), or once the ring already
        # spans the wrapped grid
        if r >= n_cells // 2 or (2 * (r * 2) + 1) ** 2 > _RING_CELL_BUDGET:
            # last resort: the k-ring already spans the grid, so any
            # still-short query lives in a genuinely sparse region —
            # broadcast the (small) short side against the distributed
            # feature table.  Same split (JVM rect expr / Arrow kernel)
            # as the ring passes, so a feature scored by both paths
            # gets the IDENTICAL dist and the pair dedup is
            # value-deterministic.
            brute = fgeom.crossJoin(F.broadcast(short))
            bdists = _split_distances(brute)
            prev = ranked
            ranked = _ensure_persisted(
                _dedup_union(ranked.drop("rank"), bdists)
                .withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k))
            prev.unpersist()  # _ensure_persisted materialized the child
            break
        r *= 2
        prev = ranked
        ranked = _ensure_persisted(
            _dedup_union(ranked.drop("rank"), _ring_pass(short, fcells, fgeom, res, r))
            .withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k))
        prev.unpersist()  # superseded cache; child already materialized

    return ranked.join(features.select("feature_id", "label"), "feature_id") \
                 .select("query_id", "feature_id", "label", "dist", "rank")


def _dedup_union(a: DataFrame, b: DataFrame) -> DataFrame:
    return a.unionByName(b).dropDuplicates(["query_id", "feature_id"])
