"""Vector × vector spatial overlay join (the reference's flagship).

Reference: ``pandarus.intersect`` (core.py:31-187) — for every feature
pair (first × second) that spatially intersects, emit the intersection
geometry (as Multi*) plus its Mollweide measure (m² / m / point count).
The reference runs an R-tree nested loop per multiprocessing worker
(utils/multiprocess.py:47-187); here the same semantics become a
declarative Spark plan:

    features1 ─ cover(cells) ─ explode ─┐
                                        ├─ equi-join on cell ─ pair dedup
    features2 ─ cover(cells) ─ explode ─┘        │
                                                 ▼
                     join back WKBs (broadcast small side)
                                                 ▼
                 mapInPandas refine: exact intersection + measure
                                                 ▼
                        join labels → output rows

Scale design (north_rule):

* candidate generation is a **hash join on cell id** — Catalyst picks
  shuffled-hash/sort-merge/broadcast; AQE rebalances.
* **adaptive resolution**: per-feature cover capped at ``max_cells``
  cells; features forced coarser emit their cover at a coarser level
  and the opposite side emits the ancestor chain so the pair still
  collides (tiling/cells.py:cover_with_parents rationale).
* **hot-cell salting**: ``cells._salted_join``, the one hot-key salt
  the distance and interval joins share — cells whose first-side row
  count reaches ``salt_threshold`` are split across ``salt_buckets``
  shuffle keys (deterministic hash salt on that side, explode on the
  other); each pair meets in exactly one salt, so salting is
  result-invariant.
* geometry bytes do NOT travel through the cell shuffle — only ids do;
  WKB is joined back after pair dedup.

The refine (:func:`refine_pairs`) has three tiers, one per input shape:
rect × rect pairs take a closed-form bbox clip; simple single-ring
polygon pairs (convex or concave, of any width or fan-out) take the
batched convex-cover clip, the pipeline the zonal coverage weights
share (``geometry/batch``); holes, multi-part geometry, lines, points
and malformed WKB take the scalar kernel.  All three give the scalar
kernel's answer.
"""

from __future__ import annotations

import struct

import numpy as np
from pyspark.sql import DataFrame, functions as F

from ..geometry import geom as G
from ..geometry.projection import mollweide_forward
from ..tiling import cells as C

PAIR_REFINE_SCHEMA = ("from_id bigint, to_id bigint, from_label string, to_label string, "
                      "measure double, geom_wkb binary")

DEFAULT_TARGET_RES = 12
DEFAULT_MAX_CELLS = 64


_UNITS = ("_ux0", "_uy0", "_ux1", "_uy1")


def _with_units(df: DataFrame) -> DataFrame:
    """``df`` plus its bbox in unit coordinates (``cells.unit_sql``)."""
    return df.selectExpr("*", *(f"{C.unit_sql(v, axis)} AS {u}" for v, axis, u in zip(
        ("minx", "miny", "maxx", "maxy"), "xyxy", _UNITS)))


def _with_native(df: DataFrame, res: int, max_cells: int) -> DataFrame:
    """``df`` plus unit coordinates and each row's ``native_res``."""
    return _with_units(df).selectExpr(
        "*", f"{C.native_res_sql(*_UNITS, target_res=res, max_cells=max_cells)} AS native_res")


def _explode_cells(df: DataFrame, levels: str) -> DataFrame:
    """``df`` (with :func:`_with_units` columns, which it drops) plus
    ``cell``: one row per cell of each row's clipped bbox cover at every
    resolution in the SQL array ``levels`` — the Catalyst form of
    ``cells._cover_level``.  A bbox outside the domain emits nothing; so
    does a non-finite one.  Built as SQL text, one step per call, to
    keep plan building cheap: it runs once per side on every call."""
    def axis(u0, u1):
        lo, hi = C.range_sql(u0, u1, "_r")
        # guarded: sequence(a, b) counts down when a > b
        return f"explode(CASE WHEN {lo} <= {hi} THEN sequence({lo}, {hi}) END)"
    keep = [c for c in df.columns if c not in _UNITS]
    return (df.where(C.finite_sql(*_UNITS))
            .selectExpr("*", f"explode({levels}) AS _r")
            .selectExpr("*", f"{axis('_ux0', '_ux1')} AS _ix")
            .selectExpr("*", f"{axis('_uy0', '_uy1')} AS _iy")
            .selectExpr(*keep, f"{C.cell_id_sql('_r', '_ix', '_iy')} AS cell"))


def cover_features(features: DataFrame, res: int, max_cells: int = DEFAULT_MAX_CELLS,
                   with_parents_to: int | None = None, with_meta: bool = False) -> DataFrame:
    """(feature_id, cell) tile-assignment relation for one side.

    Cover at ``res`` (per-feature coarser when the bbox would exceed
    ``max_cells``); optionally also emit the ancestor chain down to
    ``with_parents_to`` so mixed-resolution sides still collide.

    ``with_meta`` adds (native_res, minx, miny) per row — required by
    the reference-point pair dedup in :func:`candidate_pairs`.

    All Catalyst, no Python worker: the same multiset of rows as the
    numpy reference ``cells.cover_features_batch``."""
    levels = ("array(native_res)" if with_parents_to is None
              else f"sequence(LEAST({with_parents_to}, native_res), native_res)")
    f = _with_native(features.select("feature_id", "minx", "miny", "maxx", "maxy"),
                     res, max_cells)
    meta = ["native_res", "minx", "miny"] if with_meta else []
    return _explode_cells(f, levels).select("feature_id", "cell", *meta)


def _min_emit_res(features: DataFrame, res: int, max_cells: int) -> int:
    """Coarsest per-feature emission resolution on this side (tiny agg)."""
    row = (_with_native(features.select("minx", "miny", "maxx", "maxy"), res, max_cells)
           .agg(F.min("native_res").alias("r")).collect())
    return int(row[0]["r"]) if row and row[0]["r"] is not None else res


def _owner_cell_filter():
    """Reference-point dedup (the standard PBSM/Sedona trick, here
    generalized to the multi-resolution grid): a candidate pair is kept
    ONLY by the unique cell that (a) sits at the pair's coarsest native
    resolution rr = min(from_native, to_native) and (b) contains the
    reference point (max of the two bbox minima).  Both sides are
    guaranteed to emit that cell (native cover on the coarser side, the
    ancestor chain on the finer side), so every bbox-overlapping pair
    survives exactly once — no dropDuplicates shuffle at all."""
    rr = "LEAST(f_native, t_native)"
    # the cheap resolution test first: most ancestor-level matches fail it
    return F.expr(f"shiftright(cell, {C.RES_SHIFT}) = {rr} AND cell = "
                  + C.point_cell_sql("GREATEST(f_minx, t_minx)", "GREATEST(f_miny, t_miny)", rr))


def _side_minima(features1: DataFrame, features2: DataFrame, res: int, max_cells: int,
                 check_polygons: bool = False) -> tuple[int, int]:
    """Both sides' coarsest native resolutions (:func:`_min_emit_res`
    per side) in ONE union aggregate job; ``check_polygons`` also
    validates the second side is polygonal (reference core.py:51-53)."""
    cols = ["minx", "miny", "maxx", "maxy"] + (["kind"] if check_polygons else [])
    u = (features1.select(F.lit(0).alias("side"), *cols)
         .unionByName(features2.select(F.lit(1).alias("side"), *cols)))
    aggs = [F.min("native_res").alias("lo")]
    if check_polygons:
        aggs.append(F.expr("max(side = 1 AND NOT kind <=> 'polygon')").alias("bad"))
    d = {row["side"]: row for row in
         _with_native(u, res, max_cells).groupBy("side").agg(*aggs).collect()}
    if check_polygons and 1 in d and d[1]["bad"]:
        raise ValueError("second dataset must contain only polygons "
                         "(reference core.py:51-53)")
    return tuple(int(d[side]["lo"]) if side in d else res for side in (0, 1))


def _prepare_sides(features1: DataFrame, features2: DataFrame,
                   res: int, max_cells: int) -> tuple[int, int]:
    """One combined Spark job that (a) materializes both persisted
    feature tables (so concurrent plan subtrees don't race the cache),
    (b) computes each side's coarsest native resolution, and (c)
    validates the second side is polygonal — replacing five separate
    driver actions."""
    from pyspark import StorageLevel
    for df in (features1, features2):
        if df.storageLevel == StorageLevel.NONE:
            df.persist(StorageLevel.MEMORY_AND_DISK)
    return _side_minima(features1, features2, res, max_cells, check_polygons=True)


def candidate_pairs(features1: DataFrame, features2: DataFrame,
                    res: int = DEFAULT_TARGET_RES, max_cells: int = DEFAULT_MAX_CELLS,
                    salt_buckets: int = 0, salt_threshold: int = 50_000,
                    lo1: int | None = None, lo2: int | None = None) -> DataFrame:
    """Distinct (from_id, to_id) candidate pairs via the cell-key join.

    Multi-cell double-matches are eliminated by the owner-cell filter
    (:func:`_owner_cell_filter`) — a codegen'd predicate on the join
    output — instead of a ``dropDuplicates`` shuffle."""
    if lo1 is None or lo2 is None:
        m1, m2 = _side_minima(features1, features2, res, max_cells)
        lo1 = m1 if lo1 is None else lo1
        lo2 = m2 if lo2 is None else lo2
    # each side emits ancestors down to the other side's coarsest level,
    # guaranteeing a shared key for any bbox overlap without emitting the
    # root cell globally (tiling/cells.py docstring).
    def side(features, lo, id_col, p):
        return cover_features(features, res, max_cells, with_parents_to=min(lo, res),
                              with_meta=True).select(
            F.col("feature_id").alias(id_col), "cell", F.col("native_res").alias(f"{p}_native"),
            F.col("minx").alias(f"{p}_minx"), F.col("miny").alias(f"{p}_miny"))
    c1 = side(features1, lo2, "from_id", "f")
    c2 = side(features2, lo1, "to_id", "t")

    pairs = C._salted_join(c1, c2, "cell", ["from_id"], salt_buckets, salt_threshold)
    return pairs.filter(_owner_cell_filter()).select("from_id", "to_id")


# WKB prefix of MultiPolygon[1 Polygon[1 ring[5 pts]]] (little-endian):
# (01, uint32 6, uint32 1) (01, uint32 3, uint32 1, uint32 5) + 10 doubles
_RECT_WKB_PREFIX = (b"\x01\x06\x00\x00\x00\x01\x00\x00\x00"
                    b"\x01\x03\x00\x00\x00\x01\x00\x00\x00\x05\x00\x00\x00")


def _refine_rects(fminx, fminy, fmaxx, fmaxy, tminx, tminy, tmaxx, tmaxy):
    """Vectorized rect×rect refine: bbox clip + Mollweide shoelace area
    + bulk WKB assembly — zero per-row Python.  Returns (keep_mask,
    measures, wkb_list) where measures/wkbs align with keep_mask's True
    entries.  Same math as the general kernel (project ring corners,
    shoelace) so results agree to fp round-off."""
    ix0 = np.maximum(fminx, tminx); iy0 = np.maximum(fminy, tminy)
    ix1 = np.minimum(fmaxx, tmaxx); iy1 = np.minimum(fmaxy, tmaxy)
    # degenerate edge/corner touches drop; the 1e-12° floor matches the
    # general kernel's vertex-dedup epsilon so both paths agree on
    # ulp-wide slivers
    keep = (ix1 - ix0 > 1e-12) & (iy1 - iy0 > 1e-12)
    ix0, iy0, ix1, iy1 = ix0[keep], iy0[keep], ix1[keep], iy1[keep]
    n = len(ix0)
    if n == 0:
        return keep, np.empty(0), []
    # closed CCW ring (minx,miny)->(maxx,miny)->(maxx,maxy)->(minx,maxy)
    lons = np.stack([ix0, ix1, ix1, ix0, ix0], axis=1)
    lats = np.stack([iy0, iy0, iy1, iy1, iy0], axis=1)
    X, Y = mollweide_forward(lons, lats)
    area = 0.5 * np.abs(np.sum(X[:, :-1] * Y[:, 1:] - X[:, 1:] * Y[:, :-1], axis=1))
    buf = np.empty((n, 22 + 80), dtype=np.uint8)
    buf[:, :22] = np.frombuffer(_RECT_WKB_PREFIX, dtype=np.uint8)
    pts = np.empty((n, 10), dtype="<f8")
    pts[:, 0::2] = lons
    pts[:, 1::2] = lats
    buf[:, 22:] = pts.view(np.uint8).reshape(n, 80)
    raw = buf.tobytes()
    wkbs = [raw[i * 102:(i + 1) * 102] for i in range(n)]
    return keep, area, wkbs


def _pair_frame(rows, measures, wkbs):
    """The refine's output frame for the candidate ``rows`` kept, with
    their measures and intersection WKBs (one helper for every tier)."""
    import pandas as pd
    return pd.DataFrame({
        "from_id": rows["from_id"].to_numpy(dtype="int64"),
        "to_id": rows["to_id"].to_numpy(dtype="int64"),
        "from_label": rows["from_label"].to_numpy(),
        "to_label": rows["to_label"].to_numpy(),
        "measure": np.asarray(measures, dtype=np.float64),
        "geom_wkb": wkbs})


def _loads_or_none(wkb):
    """The decoded geometry, or None when the WKB is malformed (the
    scalar tier then skips the row, see :data:`_MALFORMED_GEOMETRY`)."""
    try:
        return G.wkb_loads(bytes(wkb))
    except _MALFORMED_GEOMETRY:
        return None


def _refine_cover_batch(rows, B):
    """Batched tier for every SIMPLE single-ring polygon pair, convex or
    concave, of any width.  Mirrors the scalar kernel exactly: each ring
    is reduced to its disjoint convex cover (geom._convex_cover — the
    ring itself when convex, its trapezoid decomposition otherwise),
    candidate (subject piece × clip piece) pairs are bbox-screened in
    the scalar's nested-loop order and clipped by the shared driver
    ``batch.clip_pairs`` (Sutherland–Hodgman is area-exact only for
    convex subjects, hence the cover).  Per-row measures sum the piece
    areas in that same order and the MultiPolygon parts are emitted in
    it, so the WKB is bit-identical to :func:`_refine_scalar`'s (pinned
    by tests).  Each distinct geometry is decoded and covered ONCE (the
    cell join emits one row per neighbour), each clip piece is oriented
    once, and areas are summed per vertex count, so a row's values do
    not depend on the rest of its batch.  Returns (handled_mask,
    result_frame or None); unhandled rows (holes, multi-part, malformed
    WKB) stay for the scalar tier."""
    import pandas as pd
    n = len(rows)
    codes, uniq = pd.factorize(np.concatenate(
        [rows["from_wkb"].to_numpy(), rows["to_wkb"].to_numpy()]))
    rings, ring_geom, _ = B.polygon_rings([_loads_or_none(w) for w in uniq])
    # the ring of each single-ring geometry; -1 for the rest and, in the
    # extra last slot, for null WKB (code -1)
    simple = np.nonzero(np.bincount(ring_geom, minlength=len(uniq))[ring_geom] == 1)[0]
    ring_of = np.full(len(uniq) + 1, -1)
    ring_of[ring_geom[simple]] = np.arange(len(simple))
    f, t = ring_of[codes[:n]], ring_of[codes[n:]]
    handled = (f >= 0) & (t >= 0)
    if not handled.any():
        return handled, None
    hidx = np.nonzero(handled)[0]
    f, t = f[hidx], t[hidx]
    verts, off, cnt, starts, boxes = B.convex_cover_ragged([rings[i] for i in simple])
    ccw = B.ccw_pieces(verts, off, cnt)
    npieces = np.diff(starts)
    # every (subject piece × clip piece) of every row, bbox-screened, in
    # the scalar nested-loop order (subject outer)
    rep, sub, clip = B.fan_out_pairs(starts[f], npieces[f], boxes, starts[t], npieces[t], boxes)
    out_verts, out_off, out_cnt = B.clip_pairs(verts, off, cnt, sub, ccw, off, cnt, clip)
    keep = B.ring_area_by_count(out_verts, out_off, out_cnt) > 1e-18
    row, out_off, out_cnt = hidx[rep[keep]], out_off[keep], out_cnt[keep]
    moll = np.column_stack(mollweide_forward(out_verts[:, 0], out_verts[:, 1]))
    # np.add.at is unbuffered and applies in index order; row ascends,
    # so each row sums its pieces in the scalar loop's order
    measures = np.zeros(n)
    np.add.at(measures, row, B.ring_area_by_count(moll, out_off, out_cnt))
    out = measures[row] > 0
    idxs, nparts = np.unique(row[out], return_counts=True)
    if not len(idxs):
        return handled, None
    wkbs = B.multipolygon_wkb_ragged(out_verts, out_off[out], out_cnt[out], nparts)
    return handled, _pair_frame(rows.iloc[idxs], measures[idxs], wkbs)


# what G.wkb_loads / G.intersection raise on malformed input (truncated
# or garbage WKB, foreign WKB codes): struct.error and IndexError on a
# short buffer, ValueError on an unknown code or a coordinate array past
# the end.  Anything else is a bug and propagates.
_MALFORMED_GEOMETRY = (ValueError, IndexError, struct.error)


def _refine_scalar(pdf):
    """The scalar kernel, one candidate row at a time: the refine's
    tier for holes, multi-part geometry, lines, points and collections,
    and the oracle the batched tiers are tested
    against.  A row whose geometry fails to decode or clip is skipped,
    like the reference's TopologicalError rows
    (utils/multiprocess.py:102-104); see :data:`_MALFORMED_GEOMETRY`."""
    keep, measures, wkbs = [], [], []
    for pos, (fwkb, kind, twkb) in enumerate(zip(pdf["from_wkb"], pdf["from_kind"],
                                                 pdf["to_wkb"])):
        try:
            fg = G.wkb_loads(bytes(fwkb))
            tg = G.wkb_loads(bytes(twkb))
            inter = G.intersection(fg, kind, tg)
        except _MALFORMED_GEOMETRY:
            continue
        if inter is None:
            continue
        m = G.measure(inter, kind)
        if m <= 0 and kind != "point":
            continue
        keep.append(pos)
        measures.append(m)
        wkbs.append(G.wkb_dumps(inter))
    return _pair_frame(pdf.iloc[keep], measures, wkbs)


def refine_pairs(pairs_with_geoms: DataFrame) -> DataFrame:
    """Exact refine in Arrow batches: clip + Mollweide measure.

    Input columns: from_id, to_id, from_label, to_label, from_wkb,
    from_kind, to_wkb, plus bbox columns (f_minx..t_maxy) and
    from_rect/to_rect flags.  Three execution tiers, fastest first,
    identical semantics:

    1. rect × rect polygon pairs — closed-form bbox clip, pure numpy
       (``_refine_rects``);
    2. simple single-ring polygon pairs, convex or concave, of any
       width — per-ring convex cover (the ring itself when convex, its
       trapezoid decomposition otherwise), then batched
       Sutherland–Hodgman over all (subject piece × clip piece)
       candidates of the Arrow batch in budget spans, through the clip
       driver the zonal weights share (``_refine_cover_batch``);
    3. everything else (holes, multi-part, lines, points, collections,
       malformed WKB) — the scalar kernel per row
       (``_refine_scalar``)."""

    def gen(batches):
        import pandas as pd

        from ..geometry import batch as B
        for pdf in batches:
            frames = []
            poly = (pdf["from_kind"] == "polygon").to_numpy()
            rect = (pdf["from_rect"].to_numpy(dtype=bool)
                    & pdf["to_rect"].to_numpy(dtype=bool) & poly)
            if rect.any():
                r = pdf[rect]
                keep, area, wkbs = _refine_rects(
                    r["f_minx"].to_numpy(), r["f_miny"].to_numpy(),
                    r["f_maxx"].to_numpy(), r["f_maxy"].to_numpy(),
                    r["t_minx"].to_numpy(), r["t_miny"].to_numpy(),
                    r["t_maxx"].to_numpy(), r["t_maxy"].to_numpy())
                frames.append(_pair_frame(r[keep], area, wkbs))
            rest = pdf[~rect]
            cover = pdf[poly & ~rect]
            if len(cover):
                handled, frame = _refine_cover_batch(cover, B)
                if frame is not None:
                    frames.append(frame)
                rest = rest.drop(index=cover.index[handled])
            frames.append(_refine_scalar(rest))
            yield pd.concat(frames, ignore_index=True) if len(frames) > 1 else frames[0]

    return pairs_with_geoms.mapInPandas(gen, schema=PAIR_REFINE_SCHEMA)


def _ensure_persisted(df: DataFrame) -> DataFrame:
    """Persist a feature table that the plan references several times
    (cover, geometry join-back, label join).  Without this, a feature
    side derived from an expensive ingest (pages → extract) would be
    recomputed once per plan occurrence.  MEMORY_AND_DISK: at cluster
    scale the normalized feature table is the thing you'd materialize
    to parquet/Iceberg between ingest and join anyway."""
    from pyspark import StorageLevel
    if df.storageLevel == StorageLevel.NONE:
        df.persist(StorageLevel.MEMORY_AND_DISK)
        # eager materialization: the join plan references this table from
        # several concurrent subtrees (cover × 2 sides, geometry join,
        # label join) — populating the cache lazily would recompute the
        # ingest once per subtree racing ahead of the cache
        df.count()
    return df


def intersect(features1: DataFrame, features2: DataFrame,
              res: int = DEFAULT_TARGET_RES, max_cells: int = DEFAULT_MAX_CELLS,
              salt_buckets: int = 0, salt_threshold: int = 50_000,
              broadcast_features: bool | None = None,
              ids: str = "fast") -> DataFrame:
    """The overlay join. Returns
    ``(id, from_label, to_label, measure, geom_wkb)`` matching the
    reference's fixed output schema (core.py:153-161).

    The second side must be polygonal (core.py:51-53) — enforced here
    with a distributed assert, non-overlap stays a documented
    precondition.

    Scale-safe defaults: ``ids="fast"`` (``monotonically_increasing_id``
    — unique, not dense/ordered — keeps the plan fully parallel) and
    ``broadcast_features=None`` (Catalyst picks the geometry join-back
    strategy via ``autoBroadcastJoinThreshold``).  ``ids="sorted"``
    reproduces the reference's enumeration-order ids via a global
    window — a single-partition sort, fixture/report scale ONLY; the
    file-API writers opt into it.  ``broadcast_features=True`` force-
    broadcasts both feature tables (only sane when both are known
    small)."""
    # one combined job: persist+materialize both sides, min native res
    # per side, polygonal assert on the second side
    lo1, lo2 = _prepare_sides(features1, features2, res, max_cells)

    pairs = candidate_pairs(features1, features2, res, max_cells,
                            salt_buckets, salt_threshold, lo1=lo1, lo2=lo2)

    def rect_col(df):
        return F.col("is_rect") if "is_rect" in df.columns else F.lit(False)

    f1 = features1.select(F.col("feature_id").alias("from_id"),
                          F.col("geom_wkb").alias("from_wkb"),
                          F.col("kind").alias("from_kind"),
                          F.col("label").alias("from_label"),
                          rect_col(features1).alias("from_rect"),
                          F.col("minx").alias("f_minx"), F.col("miny").alias("f_miny"),
                          F.col("maxx").alias("f_maxx"), F.col("maxy").alias("f_maxy"))
    f2 = features2.select(F.col("feature_id").alias("to_id"),
                          F.col("geom_wkb").alias("to_wkb"),
                          F.col("label").alias("to_label"),
                          rect_col(features2).alias("to_rect"),
                          F.col("minx").alias("t_minx"), F.col("miny").alias("t_miny"),
                          F.col("maxx").alias("t_maxx"), F.col("maxy").alias("t_maxy"))
    if broadcast_features:
        f1b, f2b = F.broadcast(f1), F.broadcast(f2)
    else:
        f1b, f2b = f1, f2

    enriched = pairs.join(f1b, "from_id").join(f2b, "to_id")
    # bbox-TOUCH pairs (shared edge/corner, zero overlap width) are ~2.7x
    # of the true intersections on gridded workloads; for polygon-kind
    # from-features their intersection area is necessarily 0, so the
    # refine would drop them anyway — drop them JVM-side before the
    # Arrow exchange.  Lines/points are exempt: a border line/point DOES
    # intersect its neighbor (reference double-count semantics,
    # utils/geometry.py:107-110).
    strict_overlap = ((F.col("f_minx") < F.col("t_maxx")) & (F.col("t_minx") < F.col("f_maxx"))
                      & (F.col("f_miny") < F.col("t_maxy")) & (F.col("t_miny") < F.col("f_maxy")))
    enriched = enriched.filter(strict_overlap | (F.col("from_kind") != "polygon"))
    # rect×rect rows are refined from their bboxes alone — null the
    # WKB payloads JVM-side so the Arrow exchange into the Python
    # refine doesn't ship geometry bytes it will never read
    both_rect = (F.col("from_rect") & F.col("to_rect")
                 & (F.col("from_kind") == "polygon"))
    enriched = (enriched
                .withColumn("from_wkb", F.when(both_rect, F.lit(None))
                            .otherwise(F.col("from_wkb")))
                .withColumn("to_wkb", F.when(both_rect, F.lit(None))
                            .otherwise(F.col("to_wkb"))))
    # labels ride through the refine (they're already in the join output),
    # so no post-refine label joins are needed
    refined = refine_pairs(enriched)

    if ids == "fast":
        id_col = F.monotonically_increasing_id().alias("id")
    else:
        id_col = F.row_number().over(_det_window()).cast("long").alias("id")
    return refined.select(id_col, "from_label", "to_label", "measure", "geom_wkb")


def _det_window():
    """Deterministic output ids: reference assigns ids by enumeration
    order (utils/conversion.py:14-28); we order by labels for
    reproducibility across partitionings."""
    from pyspark.sql import Window
    return Window.orderBy("from_label", "to_label")


def intersections_from_intersection(intersections: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Reference core.py:190-269 — re-project the overlay output C=A⋈B
    into the two derived join tables (C,A) and (C,B). Pure column
    projection, no geometry work."""
    fp1 = intersections.select("id", F.col("from_label").alias("label"), "measure")
    fp2 = intersections.select("id", F.col("to_label").alias("label"), "measure")
    return fp1, fp2
