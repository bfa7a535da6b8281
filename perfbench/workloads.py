"""The benchmark workloads.

Each workload makes its inputs from a seed (same seed, byte-identical
inputs; another seed, same sizes and shape), runs one job from persisted
inputs to a fully materialized result, and checks that result without
going through the code path being measured.  For the traced run each
also runs its pipeline staged, one layer's public function at a time on
the previous layer's checkpointed output.

Results are materialized with a ``noop`` write, never a bare ``count()``
(which lets Catalyst prune columns); row counts and check samples ride
along as observed metrics of that same write.
"""

from __future__ import annotations

import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Observation, functions as F

import pandarus_spark as ps
from pandarus_spark.geometry import batch as B
from pandarus_spark.operators import dedup as D
from pandarus_spark.operators.intersect import refine_pairs
from pandarus_spark.operators.raster_stats import RasterSpec, raster_cells_range, raster_statistics
from pandarus_spark.sources.pages import (
    CELL_DEG, FEATURES_SCHEMA, GRID_COLS, GRID_X0, GRID_Y0, features_from_documents,
)

from .tracing import Tracer

# Inputs per workload.  "full" is what the benchmark measures (jobs of
# 3-7 s on a 4-core host); "tiny" is for the tests.
SIZES = {
    "overlay_pages": {"full": 3000, "tiny": 150},
    "zonal_tiles": {"full": (40, 32), "tiny": (6, 5)},
    "dedup_lsh": {"full": 4000, "tiny": 400},
}

EARTH_R = 6378137.0  # sphere radius of PROJ's moll with the WGS84 ellipsoid


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def observe(df: DataFrame, **aggs) -> tuple[DataFrame, Observation]:
    obs = Observation()
    return df.observe(obs, *[a.alias(k) for k, a in aggs.items()]), obs


def checkpoint(df: DataFrame) -> DataFrame:
    return df.localCheckpoint(eager=True)


def mollweide_area(lon: np.ndarray, lat: np.ndarray) -> np.ndarray:
    """Mollweide m² of closed rings given as (n, k) vertex arrays — an
    independent numpy shoelace used only by the checks."""
    lam, phi = np.radians(lon), np.radians(lat)
    theta, target = phi.copy(), np.pi * np.sin(phi)
    for _ in range(100):
        step = (2 * theta + np.sin(2 * theta) - target) / (2 + 2 * np.cos(2 * theta))
        theta -= step
        if np.max(np.abs(step)) < 1e-15:
            break
    x = 2 * np.sqrt(2) / np.pi * EARTH_R * lam * np.cos(theta)
    y = np.sqrt(2) * EARTH_R * np.sin(theta)
    return 0.5 * np.abs(np.sum(x[:, :-1] * y[:, 1:] - x[:, 1:] * y[:, :-1], axis=1))


def planar_area(pts: np.ndarray) -> np.ndarray:
    """Shoelace area of open rings (n, k, 2)."""
    x, y = pts[..., 0], pts[..., 1]
    return 0.5 * np.abs(np.sum(x * np.roll(y, -1, axis=1) - np.roll(x, -1, axis=1) * y, axis=1))


def _features_frame(fid, labels, wkbs, pts_min, pts_max) -> pd.DataFrame:
    return pd.DataFrame({
        "feature_id": pd.Series(fid, dtype="int64"), "label": labels, "geom_wkb": wkbs,
        "kind": ["polygon"] * len(fid),
        "minx": pts_min[:, 0], "miny": pts_min[:, 1],
        "maxx": pts_max[:, 0], "maxy": pts_max[:, 1],
        "is_rect": [False] * len(fid)})


def refine_input(cand: DataFrame, from_f: DataFrame, to_f: DataFrame) -> DataFrame:
    """``refine_pairs``' documented input: candidates joined to both
    feature tables, then the strict-bbox filter (edge-touching polygon
    pairs have zero intersection area)."""
    f1 = from_f.select(F.col("feature_id").alias("from_id"), F.col("geom_wkb").alias("from_wkb"),
                       F.col("kind").alias("from_kind"), F.col("label").alias("from_label"),
                       F.col("is_rect").alias("from_rect"),
                       F.col("minx").alias("f_minx"), F.col("miny").alias("f_miny"),
                       F.col("maxx").alias("f_maxx"), F.col("maxy").alias("f_maxy"))
    f2 = to_f.select(F.col("feature_id").alias("to_id"), F.col("geom_wkb").alias("to_wkb"),
                     F.col("label").alias("to_label"), F.col("is_rect").alias("to_rect"),
                     F.col("minx").alias("t_minx"), F.col("miny").alias("t_miny"),
                     F.col("maxx").alias("t_maxx"), F.col("maxy").alias("t_maxy"))
    strict = ((F.col("f_minx") < F.col("t_maxx")) & (F.col("t_minx") < F.col("f_maxx"))
              & (F.col("f_miny") < F.col("t_maxy")) & (F.col("t_miny") < F.col("f_maxy")))
    return (cand.join(f1, "from_id").join(f2, "to_id")
            .filter(strict | (F.col("from_kind") != "polygon")))


def _tier_counts(batches):
    """Rows per refine tier, classified with the public geometry.batch
    predicates the refine itself dispatches on."""
    for pdf in batches:
        poly = (pdf["from_kind"] == "polygon").to_numpy()
        rect = pdf["from_rect"].to_numpy(dtype=bool) & pdf["to_rect"].to_numpy(dtype=bool) & poly
        fp, fc, fok = B.decode_simple_polygon_batch(list(pdf["from_wkb"]))
        tp, tc, tok = B.decode_simple_polygon_batch(list(pdf["to_wkb"]))
        simple = fok & tok & poly & ~rect
        convex = np.zeros(len(pdf), dtype=bool)
        if simple.any():
            convex[simple] = (B.is_convex_batch(fp[simple], fc[simple])
                              & B.is_convex_batch(tp[simple], tc[simple]))
        yield pd.DataFrame({"rect": [int(rect.sum())], "convex": [int(convex.sum())],
                            "concave": [int((simple & ~convex).sum())],
                            "scalar": [int((~rect & ~simple).sum())]})


def tier_counts(enriched: DataFrame) -> dict[str, float]:
    row = (enriched.mapInPandas(_tier_counts, "rect long, convex long, concave long, scalar long")
           .agg(*[F.sum(c).alias(c) for c in ("rect", "convex", "concave", "scalar")]).first())
    return {f"refine.rows_{k}": float(row[k] or 0) for k in ("rect", "convex", "concave", "scalar")}


class Workload:
    """One workload: seeded inputs, a job, its check, its staged twin."""

    name = ""

    def __init__(self, spark, seed: int, size: str = "full"):
        self.spark, self.seed = spark, seed
        self.size = SIZES[self.name][size]
        self.persisted: list[DataFrame] = []

    def generate(self) -> None:
        """Driver-side inputs from the seed (no Spark)."""
        raise NotImplementedError

    def load(self) -> None:
        """Persist the generated inputs as DataFrames."""
        raise NotImplementedError

    def prepare(self) -> None:
        self.release()
        self.generate()
        self.load()

    def persist(self, pdf: pd.DataFrame, schema=None) -> DataFrame:
        df = self.spark.createDataFrame(pdf, schema=schema).persist()
        df.count()
        self.persisted.append(df)
        return df

    def release(self) -> None:
        for df in self.persisted:
            df.unpersist()
        self.persisted = []

    def job(self) -> dict:
        raise NotImplementedError

    def check(self, out: dict) -> list[str]:
        raise NotImplementedError

    def work_rows(self, out: dict) -> int:
        raise NotImplementedError

    def staged(self, tr: Tracer) -> dict[str, float]:
        raise NotImplementedError

    def diagnostics(self, tr: Tracer) -> dict[str, float]:
        """Layer measurements outside the staged pipeline."""
        return {}

    def rings(self) -> np.ndarray | None:
        """Open rings (n, k, 2) of the workload's own shapes."""
        return None


def _close(a: float, b: float, rtol: float) -> bool:
    return abs(a - b) <= rtol * max(abs(a), abs(b), 1e-300)


# ---------------------------------------------------------------------------
# overlay_pages: document ids -> pages extract -> intersect -> tiles
# ---------------------------------------------------------------------------

def pages_ids(seed: int, n: int) -> tuple[np.ndarray, np.ndarray]:
    """Seeded base and probe document ids: n of each, drawn without
    replacement from a window 10/9 as wide, so about 90 % of grid slots
    are filled on each side."""
    rng = np.random.default_rng(seed)
    window = n * 10 // 9
    base = np.sort(rng.choice(window, size=n, replace=False)).astype(np.int64)
    probe = np.sort(rng.choice(window, size=n, replace=False)).astype(np.int64)
    return base, probe


def page_boxes(ids: np.ndarray, probe: bool) -> np.ndarray:
    """(n, 4) lon/lat boxes of the document grid (mirrors doc_box's
    floating-point expressions so the boxes are bit-identical)."""
    off = 0.5 * CELL_DEG if probe else 0.0
    x = GRID_X0 + (ids % GRID_COLS) * CELL_DEG + off
    y = GRID_Y0 + (ids // GRID_COLS) * CELL_DEG + off
    return np.stack([x, y, x + CELL_DEG, y + CELL_DEG], axis=1)


def pages_expected(base: np.ndarray, probe: np.ndarray) -> dict:
    """Analytic overlay answer: a probe box (offset half a cell) overlaps
    the base boxes of its own slot and the three slots right/up of it,
    each in a quarter-cell box; tile rows count the res-8 cells each base
    box touches."""
    pi = probe % GRID_COLS
    pb, bb = page_boxes(probe, True), page_boxes(base, False)
    bset = dict(zip(base.tolist(), range(len(base))))
    boxes = []
    for di, dj in ((0, 0), (1, 0), (0, 1), (1, 1)):
        nb = probe + di + dj * GRID_COLS
        ok = (pi + di < GRID_COLS) & np.isin(nb, base)
        k = np.array([bset[v] for v in nb[ok].tolist()], dtype=np.int64)
        p, b = pb[ok], bb[k]
        boxes.append(np.stack([np.maximum(p[:, 0], b[:, 0]), np.maximum(p[:, 1], b[:, 1]),
                               np.minimum(p[:, 2], b[:, 2]), np.minimum(p[:, 3], b[:, 3])], axis=1))
    ib = np.concatenate(boxes)
    lon = ib[:, [0, 2, 2, 0, 0]]
    lat = ib[:, [1, 1, 3, 3, 1]]
    n8 = 1 << 8
    cx = (np.floor((bb[:, 2] + 180.0) / 360.0 * n8) - np.floor((bb[:, 0] + 180.0) / 360.0 * n8) + 1)
    cy = (np.floor((bb[:, 3] + 90.0) / 180.0 * n8) - np.floor((bb[:, 1] + 90.0) / 180.0 * n8) + 1)
    return {"rows": len(ib), "measure": float(mollweide_area(lon, lat).sum()),
            "tiles": int((cx * cy).sum())}


class OverlayPages(Workload):
    name = "overlay_pages"

    def generate(self) -> None:
        self.base_ids, self.probe_ids = pages_ids(self.seed, self.size)
        self.expected = pages_expected(self.base_ids, self.probe_ids)

    def load(self) -> None:
        self.docs_base = self.persist(pd.DataFrame({"doc_id": self.base_ids}), "doc_id bigint")
        self.docs_probe = self.persist(pd.DataFrame({"doc_id": self.probe_ids}), "doc_id bigint")

    def job(self) -> dict:
        base = features_from_documents(self.docs_base, "base")
        probe = features_from_documents(self.docs_probe, "probe")
        try:
            inter, o1 = observe(ps.intersect(probe, base), rows=F.count(F.lit(1)),
                                measure=F.sum("measure"))
            noop(inter)
            tiles, o2 = observe(ps.cover_features(base, res=8, max_cells=64),
                                rows=F.count(F.lit(1)))
            noop(tiles)
        finally:
            base.unpersist()
            probe.unpersist()
        return {"rows": o1.get["rows"], "measure": o1.get["measure"] or 0.0,
                "tiles": o2.get["rows"]}

    def check(self, out: dict) -> list[str]:
        e, bad = self.expected, []
        if out["rows"] != e["rows"]:
            bad.append(f"intersection rows {out['rows']} != {e['rows']}")
        if not _close(out["measure"], e["measure"], 1e-6):
            bad.append(f"measure sum {out['measure']!r} != {e['measure']!r}")
        if out["tiles"] != e["tiles"]:
            bad.append(f"tile rows {out['tiles']} != {e['tiles']}")
        return bad

    def work_rows(self, out: dict) -> int:
        return out["rows"] + out["tiles"]

    def staged(self, tr: Tracer) -> dict[str, float]:
        m = {}
        with tr.span("pages.extract"):
            base = checkpoint(features_from_documents(self.docs_base, "base"))
            probe = checkpoint(features_from_documents(self.docs_probe, "probe"))
            m["pages.features"] = float(base.count() + probe.count())
        inter, self._enriched = _staged_intersect(tr, probe, base)
        m.update(inter)
        with tr.span("tiling.cover"):
            tiles, o = observe(ps.cover_features(base, res=8, max_cells=64),
                               rows=F.count(F.lit(1)))
            noop(tiles)
        m["tiling.cover_rows"] = float(o.get["rows"])
        m["tiling.replication"] = m["tiling.cover_rows"] / len(self.base_ids)
        return m

    def diagnostics(self, tr: Tracer) -> dict[str, float]:
        return tier_counts(self._enriched)

    def rings(self) -> np.ndarray:
        b = page_boxes(self.base_ids[:1000], False)
        return np.stack([b[:, [0, 1]], b[:, [2, 1]], b[:, [2, 3]], b[:, [0, 3]]], axis=1)


def _staged_intersect(tr: Tracer, from_f: DataFrame,
                      to_f: DataFrame) -> tuple[dict[str, float], DataFrame]:
    """candidate_pairs -> refine input -> refine_pairs, one checkpointed
    stage each; returns the layer counts and the refine input."""
    m = {}
    with tr.span("intersect.candidates"):
        cand = checkpoint(ps.candidate_pairs(from_f, to_f))
    m["intersect.candidate_rows"] = float(cand.count())
    with tr.span("intersect.enrich"):
        enr = checkpoint(refine_input(cand, from_f, to_f))
    m["intersect.refine_in_rows"] = float(enr.count())
    with tr.span("intersect.refine"):
        refined = checkpoint(refine_pairs(enr))
    m["intersect.refine_out_rows"] = float(refined.count())
    noop(refined.select(F.monotonically_increasing_id().alias("id"),
                        "from_label", "to_label", "measure", "geom_wkb"))
    m["intersect.results_per_candidate"] = (
        m["intersect.refine_out_rows"] / max(m["intersect.candidate_rows"], 1.0))
    return m, enr


# ---------------------------------------------------------------------------
# zonal_tiles: coverage zonal statistics, tile strategy
# ---------------------------------------------------------------------------

ZONE_CELLS = 6      # raster cells per zone slot side
RASTER_DEG = 0.02   # raster cell side in degrees
ZONE_X0, ZONE_Y0 = 10.0, 40.0


def zones(seed: int, cols: int, rows: int) -> tuple[pd.DataFrame, np.ndarray]:
    """Seeded zones, one per slot of a cols x rows grid: rotated
    hexagons (convex) and L-shapes (concave) of random size, each inside
    its own slot.  Returns (frame, rings)."""
    rng = np.random.default_rng(seed)
    n = cols * rows
    slot = ZONE_CELLS * RASTER_DEG
    idx = np.arange(n, dtype=np.int64)
    cx = ZONE_X0 + (idx % cols + 0.5) * slot + rng.uniform(-0.08, 0.08, n) * slot
    cy = ZONE_Y0 + (idx // cols + 0.5) * slot + rng.uniform(-0.08, 0.08, n) * slot
    hexes = rng.random(n) < 0.5
    size = rng.uniform(0.28, 0.40, n) * slot
    rot = rng.uniform(0, np.pi / 3, n)
    ang = rot[:, None] + np.pi / 3 * np.arange(6)[None, :]
    pts = np.empty((n, 6, 2))
    pts[:, :, 0] = cx[:, None] + size[:, None] * np.cos(ang)
    pts[:, :, 1] = cy[:, None] + size[:, None] * np.sin(ang)
    rel = np.array([[-1, -1], [1, -1], [1, 0], [0, 0], [0, 1], [-1, 1]], dtype=float)
    el = ~hexes
    pts[el, :, 0] = cx[el][:, None] + size[el][:, None] * rel[None, :, 0]
    pts[el, :, 1] = cy[el][:, None] + size[el][:, None] * rel[None, :, 1]
    return zone_frame(pts, "zone"), pts


def zone_frame(pts: np.ndarray, label: str) -> pd.DataFrame:
    """Polygon features, one per ring of ``pts`` (n, k, 2)."""
    n, k = pts.shape[:2]
    wkbs = B.multipolygon_wkb_batch(pts, np.full(n, k, dtype=np.int64))
    return _features_frame(np.arange(n, dtype=np.int64), [f"{label} {i}" for i in range(n)],
                           wkbs, pts.min(axis=1), pts.max(axis=1))


class ZonalTiles(Workload):
    name = "zonal_tiles"

    def generate(self) -> None:
        cols, rows = self.size
        self.zone_pdf, self.zone_pts = zones(self.seed, cols, rows)
        w, h = cols * ZONE_CELLS, rows * ZONE_CELLS
        self.spec = RasterSpec(w, h, (RASTER_DEG, 0.0, ZONE_X0, 0.0, -RASTER_DEG,
                                      ZONE_Y0 + h * RASTER_DEG))
        self.cells_total = w * h
        # coverage count sums each cell's covered fraction, so per zone
        # it is the zone's area in cell units
        self.expected_count = float(planar_area(self.zone_pts).sum() / RASTER_DEG**2)

    def load(self) -> None:
        self.zones = self.persist(self.zone_pdf, FEATURES_SCHEMA)

    def cells(self) -> DataFrame:
        return raster_cells_range(self.spark, self.spec,
                                  partitions=4 * self.spark.sparkContext.defaultParallelism)

    def _stats(self, cells: DataFrame) -> dict:
        stats, o = observe(raster_statistics(self.zones, cells, method="coverage",
                                             strategy="tiles"),
                           rows=F.count(F.lit(1)), count=F.sum("count"))
        noop(stats)
        return {"rows": o.get["rows"], "count": o.get["count"] or 0.0}

    def job(self) -> dict:
        return self._stats(self.cells())

    def check(self, out: dict) -> list[str]:
        bad = []
        if out["rows"] != len(self.zone_pdf):
            bad.append(f"zones with stats {out['rows']} != {len(self.zone_pdf)}")
        if not _close(out["count"], self.expected_count, 1e-5):
            bad.append(f"coverage count sum {out['count']!r} != {self.expected_count!r}")
        return bad

    def work_rows(self, out: dict) -> int:
        return self.cells_total

    def staged(self, tr: Tracer) -> dict[str, float]:
        with tr.span("raster_stats.cells"):
            cells = checkpoint(self.cells())
        with tr.span("raster_stats.stats"):
            out = self._stats(cells)
        return {"raster_stats.rows": float(out["rows"])}

    def diagnostics(self, tr: Tracer) -> dict[str, float]:
        with tr.span("tiling.cover"):
            cov, o = observe(ps.cover_features(self.zones, res=12), rows=F.count(F.lit(1)))
            noop(cov)
        rows = float(o.get["rows"])
        m = {"tiling.cover_rows": rows, "tiling.replication": rows / len(self.zone_pdf)}
        # the zones against a copy of them offset by half a slot: each zone
        # meets two copies, hexagons and L-shapes on both sides, so refine
        # runs its convex and concave tiers (cover, clip, Mollweide area)
        shifted = self.persist(zone_frame(self.zone_pts + [0.5 * ZONE_CELLS * RASTER_DEG, 0.0],
                                          "shifted"), FEATURES_SCHEMA)
        inter, enriched = _staged_intersect(tr, self.zones, shifted)
        m.update(inter)
        m.update(tier_counts(enriched))
        return m

    def rings(self) -> np.ndarray:
        return self.zone_pts[:1000]


# ---------------------------------------------------------------------------
# dedup_lsh: MinHash-LSH near-duplicate pairs, then duplicate clusters
# ---------------------------------------------------------------------------

DOC_WORDS = 40
VOCAB = 50021


def corpus(seed: int, n_docs: int) -> pd.DataFrame:
    """Seeded corpus in groups of ten: six distinct random texts, three
    exact copies of the first (30 % exact duplicates) and one copy of it
    with its last word replaced (10 % near duplicates, shingle Jaccard
    37/39).  Doc ids are a seeded permutation, so groups are scattered."""
    rng = np.random.default_rng(seed)
    groups = n_docs // 10
    words = rng.integers(0, VOCAB, size=(groups, 6, DOC_WORDS))
    texts = []
    for g in range(groups):
        distinct = [" ".join(f"w{w}" for w in words[g, s]) for s in range(6)]
        near = distinct[0].rsplit(" ", 1)[0] + " swapped"
        texts.extend(distinct + [near] + [distinct[0]] * 3)
    ids = rng.permutation(groups * 10).astype(np.int64)
    return pd.DataFrame({"doc_id": ids, "text": texts})


class DedupLsh(Workload):
    name = "dedup_lsh"

    def generate(self) -> None:
        self.docs_pdf = corpus(self.seed, self.size)
        groups = len(self.docs_pdf) // 10
        # per group: C(4,2) exact pairs + 4 near pairs; one 5-doc cluster
        # plus five singletons
        self.expected = {"pairs": 10 * groups, "clusters": 6 * groups}

    def load(self) -> None:
        self.docs = self.persist(self.docs_pdf, "doc_id bigint, text string")

    def _pairs(self) -> tuple[DataFrame, Observation]:
        pairs, o = observe(D.minhash_lsh_pairs(self.docs, num_hashes=16, bands=8, threshold=0.5),
                           rows=F.count(F.lit(1)))
        # connected components iterate over the pairs; materialize once
        return checkpoint(pairs), o

    def _clusters(self, pairs: DataFrame) -> dict:
        cl, o = observe(D.duplicate_clusters(pairs, universe=self.docs),
                        rows=F.count(F.lit(1)),
                        clusters=F.sum(F.when(F.col("doc_id") == F.col("cluster_id"), 1)
                                       .otherwise(0)))
        noop(cl)
        return {"docs": o.get["rows"], "clusters": o.get["clusters"]}

    def job(self) -> dict:
        pairs, o = self._pairs()
        out = self._clusters(pairs)
        out["pairs"] = o.get["rows"]
        return out

    def check(self, out: dict) -> list[str]:
        bad = [f"{k} {out[k]} != {v}" for k, v in self.expected.items() if out[k] != v]
        if out["docs"] != len(self.docs_pdf):
            bad.append(f"clustered docs {out['docs']} != {len(self.docs_pdf)}")
        return bad

    def work_rows(self, out: dict) -> int:
        return len(self.docs_pdf)

    def staged(self, tr: Tracer) -> dict[str, float]:
        with tr.span("dedup.pairs"):
            pairs, o = self._pairs()
        with tr.span("dedup.clusters"):
            out = self._clusters(pairs)
        return {"dedup.pairs": float(o.get["rows"]), "dedup.clusters": float(out["clusters"])}

    def diagnostics(self, tr: Tracer) -> dict[str, float]:
        with tr.span("dedup.signatures"):
            noop(D.minhash_signatures(self.docs, num_hashes=16, k=3))
        return {}


WORKLOADS = {w.name: w for w in (OverlayPages, ZonalTiles, DedupLsh)}


# geometry.* rates: the median of GEOMETRY_ROUNDS rounds, each repeating
# the kernel for at least GEOMETRY_MIN_S
GEOMETRY_ROUNDS = 5
GEOMETRY_MIN_S = 0.2


def geometry_rates(rings: np.ndarray) -> dict[str, float]:
    """Single-core geometry.batch throughput on a fixed batch of the
    workload's own rings: convex cover, Mollweide area, and convex clip
    of each cover piece against a copy shifted by half its width."""
    cnt = np.full(len(rings), rings.shape[1], dtype=np.int64)
    fpts, fcnt, _, boxes = B.convex_cover_flat(rings, cnt)
    shift = 0.5 * np.median(boxes[:, 2] - boxes[:, 0])
    clip = B.ensure_ccw_batch(fpts + shift, fcnt)

    def rate(fn, n):
        best = []
        for _ in range(GEOMETRY_ROUNDS):
            reps, t0 = 0, time.perf_counter()
            while True:
                fn()
                reps += 1
                dt = time.perf_counter() - t0
                if dt >= GEOMETRY_MIN_S:
                    break
            best.append(n * reps / dt)
        return float(np.median(best))

    return {
        "geometry.cover_rings_per_s": rate(lambda: B.convex_cover_flat(rings, cnt), len(rings)),
        "geometry.area_rings_per_s": rate(lambda: B.mollweide_area_batch(rings, cnt), len(rings)),
        "geometry.clip_pairs_per_s": rate(lambda: B.clip_convex_batch(fpts, fcnt, clip, fcnt),
                                          len(fpts)),
    }

