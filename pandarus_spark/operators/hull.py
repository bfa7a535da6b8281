"""Per-key convex hull (graft addition) — the boundary summary of a
point cloud (coverage footprints, cluster outlines).

Distribution is the textbook hull property: ``hull(A ∪ B) =
hull(hull(A) ∪ hull(B))`` — so stage 1 computes a LOCAL hull per
(key, partition) inside each Arrow batch (map-side reduction: only
local hull vertices survive, O(boundary) of each partition's cloud),
and stage 2 merges per key.  The ONE shuffle moves local hull
vertices only — for any dense cloud that is a vanishing fraction of
the points (a uniform disk's hull is O(n^1/3)).

Kernel: Andrew's monotone chain over the DISTINCT sorted points with
STRICT turns (collinear mid-points are popped), so the hull vertex
set is exactly "points not expressible as convex combinations of
others" — which is what the gate's independent O(n³) edge-test
oracle checks.  On integer-valued coordinates every comparison is an
exact integer cross product: no float tie can exist anywhere
(`convex_hull_stats` output is pure BIGINT).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def monotone_chain(pts: list[tuple[float, float]]) -> list[tuple[float, float]]:
    """Strict convex hull (CCW, no collinear vertices) of distinct
    points; returns the input for fewer than 3 points."""
    pts = sorted(set(pts))
    if len(pts) <= 2:
        return pts

    def cross(o, a, b):
        return ((a[0] - o[0]) * (b[1] - o[1])
                - (a[1] - o[1]) * (b[0] - o[0]))

    lower: list = []
    for p in pts:
        while len(lower) >= 2 and cross(lower[-2], lower[-1], p) <= 0:
            lower.pop()
        lower.append(p)
    upper: list = []
    for p in reversed(pts):
        while len(upper) >= 2 and cross(upper[-2], upper[-1], p) <= 0:
            upper.pop()
        upper.append(p)
    return lower[:-1] + upper[:-1]


def convex_hull_stats(points: DataFrame, key_col: str = "key",
                      x_col: str = "x", y_col: str = "y") -> DataFrame:
    """Per-key hull statistics: ``(key, n_hull BIGINT,
    hull_2area BIGINT)`` — vertex count and TWICE the hull area (the
    shoelace sum over the CCW cycle, exact on integer-valued
    coordinates).  Keys with 1 or 2 distinct points report their
    count and area 0."""
    src = points.select(F.col(key_col).cast("string").alias("key"),
                        F.col(x_col).cast("double").alias("x"),
                        F.col(y_col).cast("double").alias("y"))

    def local_fn(it):
        import pandas as pd
        for pdf in it:
            outs = []
            # dropna=False: the null key is a group, as in the Spark
            # groupBy that merges the local hulls
            for key, grp in pdf.groupby("key", dropna=False):
                hull = monotone_chain(
                    list(zip(grp["x"].tolist(), grp["y"].tolist())))
                outs.append(pd.DataFrame(
                    {"key": key, "x": [p[0] for p in hull],
                     "y": [p[1] for p in hull]}))
            yield (pd.concat(outs) if outs
                   else pd.DataFrame({"key": [], "x": [], "y": []}))

    local = src.mapInPandas(local_fn,
                            schema="key string, x double, y double")

    def merge_fn(kb, pdf):
        import pandas as pd
        hull = monotone_chain(
            list(zip(pdf["x"].tolist(), pdf["y"].tolist())))
        n = len(hull)
        a2 = 0.0
        for i in range(n):
            p, q = hull[i], hull[(i + 1) % n]
            a2 += p[0] * q[1] - q[0] * p[1]
        return pd.DataFrame({"key": [kb[0]], "n_hull": [n],
                             "hull_2area": [int(round(abs(a2)))]})

    return (local.groupBy("key")
            .applyInPandas(merge_fn,
                           schema="key string, n_hull long, "
                                  "hull_2area long"))
