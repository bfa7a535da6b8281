"""Synthetic Common-Crawl-style ``pages`` source + deterministic extraction.

BASELINE.json ``input_hint``: the engine's source of geometries is a
table ``pages(url string, warc_ts timestamp, html binary, text string,
lang string)``.  Each page's ``text`` embeds exactly one GeoJSON feature
(geometry + its identifying ``name`` label, the reference's
``identifying_field`` — pandarus/model.py:111-128).  The per-row
invariant vs the reference is that extraction is deterministic:
``extract_text(html)`` is byte-identical to the stored ``text`` for
every url (asserted in tests/test_pages.py).

The fixture geometries are re-derived from the reference's test-data
generator (/root/reference/scripts/create_test_data.py:113-224, see
FIXTURES.md) — 2×2 unit grids, unit squares, lines, points — seeded and
wall-clock-free so every run produces identical bytes.
"""

from __future__ import annotations

import datetime as _dt
import json

import numpy as np

from ..geometry import geom as G

_EPOCH = _dt.datetime(2020, 1, 1, 0, 0, 0)

GEO_MARK = "GEOJSON:"


# ---------------------------------------------------------------------------
# Fixture feature sets (reference scripts/create_test_data.py:113-224)
# ---------------------------------------------------------------------------

def _box(x0: float, y0: float, x1: float, y1: float) -> dict:
    return {"type": "Polygon",
            "coordinates": [np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]], dtype=np.float64)]}


def grid_features(x_off: float = 0.0, y_off: float = 0.0, n: int = 2,
                  name_fmt: str = "grid cell {}") -> list[dict]:
    """2×2 (or n×n) unit grid; cell k = (i*n + j) with i=x, j=y
    (reference create_test_data.py:126-132; verified against
    tests/data/grid.geojson)."""
    feats = []
    for i in range(n):
        for j in range(n):
            k = i * n + j
            name = name_fmt.format(k)
            feats.append({"name": name if "{}" in name_fmt else name,
                          "geometry": _box(x_off + i, y_off + j, x_off + i + 1, y_off + j + 1)})
    return feats


FIXTURES = {
    "grid": lambda: grid_features(),
    "big-grid": lambda: grid_features(0.0, 7.0),
    "grid-ints": lambda: [{"name": int(f["name"].rsplit(" ", 1)[1]), "geometry": f["geometry"]}
                          for f in grid_features()],
    "duplicates": lambda: [{"name": "foo", "geometry": f["geometry"]} for f in grid_features()],
    "square": lambda: [{"name": "single", "geometry": _box(0.5, 0.5, 1.5, 1.5)}],
    "outside": lambda: [{"name": "by-myself", "geometry": _box(0.5, 1.5, 1.5, 2.5)}],
    "point": lambda: [{"name": "point", "geometry": {"type": "Point", "coordinates": np.array([1.0, 1.0])}}],
    "points": lambda: [
        {"name": "point 1", "geometry": {"type": "Point", "coordinates": np.array([0.5, 0.5])}},
        {"name": "point 2", "geometry": {"type": "Point", "coordinates": np.array([1.5, 1.5])}},
    ],
    "lines": lambda: [
        {"name": "A", "geometry": {"type": "LineString",
                                   "coordinates": np.array([[0.5, 0.5], [0.5, 1.5], [1.5, 1.5]])}},
        {"name": "B", "geometry": {"type": "LineString",
                                   "coordinates": np.array([[1.0, 1.0], [1.5, 0.5]])}},
    ],
    "gc": lambda: [{"name": "complicated", "geometry": {
        "type": "GeometryCollection",
        "geometries": [_box(0.5, 0.5, 1.5, 1.5)]}}],
}


# ---------------------------------------------------------------------------
# Feature -> page row, html -> text extraction (byte-identical contract)
# ---------------------------------------------------------------------------

def _geo_json(geometry: dict) -> str:
    """Canonical (sorted-keys, no-spaces) GeoJSON text for embedding."""
    def conv(o):
        if isinstance(o, np.ndarray):
            return o.tolist()
        raise TypeError(type(o))
    return json.dumps(geometry, default=conv, sort_keys=True, separators=(",", ":"))


def _page_row(dataset: str, idx: int, label, geometry: dict) -> tuple:
    """One synthetic crawl page (url, warc_ts, html, text, lang) whose
    text embeds ``geometry`` and its identifying ``label``."""
    url = f"https://example.test/{dataset}/{idx}"
    label_json = json.dumps(label, separators=(",", ":"))
    text = (f"Synthetic crawl page for dataset {dataset}, feature {idx}.\n"
            f"NAME:{label_json}\n"
            f"{GEO_MARK}{_geo_json(geometry)}\n")
    html = ("<html><head><title>" + url + "</title></head><body><pre>"
            + text + "</pre></body></html>").encode("utf-8")
    return url, _EPOCH + _dt.timedelta(seconds=idx), html, text, "en"


def page_rows(dataset: str, features: list[dict]) -> list[tuple]:
    """Materialize fixture features as (url, warc_ts, html, text, lang)."""
    return [_page_row(dataset, idx, feat["name"], feat["geometry"])
            for idx, feat in enumerate(features)]


def extract_text(html: bytes) -> str:
    """Deterministic html -> text: the content of the single <pre> block.

    Byte-identical per url to the stored ``text`` column (the graft's
    per-row invariant)."""
    s = html.decode("utf-8")
    start = s.index("<pre>") + len("<pre>")
    end = s.index("</pre>")
    return s[start:end]


def parse_feature_text(text: str) -> tuple[object, dict]:
    """Recover (label, geometry dict) from extracted page text."""
    label = None
    geometry = None
    for line in text.splitlines():
        if line.startswith("NAME:"):
            label = json.loads(line[len("NAME:"):])
        elif line.startswith(GEO_MARK):
            geometry = json.loads(line[len(GEO_MARK):])
    if geometry is None:
        raise ValueError("page text contains no GEOJSON payload")
    return label, _np_geometry(geometry)


def _np_geometry(g: dict) -> dict:
    t = g["type"]
    if t == "GeometryCollection":
        return {"type": t, "geometries": [_np_geometry(x) for x in g["geometries"]]}
    c = g["coordinates"]
    if t in ("Point", "LineString", "MultiPoint"):
        return {"type": t, "coordinates": np.asarray(c, dtype=np.float64)}
    if t in ("Polygon", "MultiLineString"):
        return {"type": t, "coordinates": [np.asarray(r, dtype=np.float64) for r in c]}
    if t == "MultiPolygon":
        return {"type": t, "coordinates": [[np.asarray(r, dtype=np.float64) for r in p] for p in c]}
    raise ValueError(t)


GRID_COLS = 1024
CELL_DEG = 0.05
GRID_X0, GRID_Y0 = -60.0, -30.0


def doc_box(doc_id: int, probe: bool) -> tuple[float, float, float, float]:
    """Deterministic doc_id → lon/lat box: documents land on a dense
    grid; 'probe' boxes are offset half a cell so each probe overlaps
    up to 4 base boxes (the web-scale overlay-join workload shape)."""
    i = doc_id % GRID_COLS
    j = doc_id // GRID_COLS
    off = 0.5 * CELL_DEG if probe else 0.0
    x = GRID_X0 + i * CELL_DEG + off
    y = GRID_Y0 + j * CELL_DEG + off
    return (x, y, x + CELL_DEG, y + CELL_DEG)


def _doc_page_row(role: str, doc_id: int) -> tuple:
    """The synthetic page of one document: its doc_id's grid box."""
    return _page_row(role, doc_id, f"{role} {doc_id}",
                     _box(*doc_box(doc_id, role == "probe")))


def _doc_ids(docs, partitions: int | None):
    """The documents' ids, spread over ``partitions`` (default: the
    cluster's parallelism): page synthesis and extraction are CPU-bound
    Python, and a small parquet reads as one split."""
    ids = docs.select("doc_id")
    if partitions is None:
        partitions = docs.sparkSession.sparkContext.defaultParallelism
    if ids.rdd.getNumPartitions() < partitions:
        ids = ids.repartition(partitions)
    return ids


def pages_from_documents(docs, role: str = "base", partitions: int | None = None):
    """documents table → pages table (url, warc_ts, html, text, lang):
    each document becomes one synthetic crawl page embedding the
    deterministic grid geometry of its doc_id.  Fully distributed
    (mapInPandas) — this is how sf-scaled spatial benchmarks derive
    their input from the driver's parquet without external data."""
    def gen(batches):
        import pandas as pd
        for pdf in batches:
            yield pd.DataFrame([_doc_page_row(role, int(d)) for d in pdf["doc_id"].tolist()],
                               columns=PAGES_COLUMNS)

    return _doc_ids(docs, partitions).mapInPandas(gen, schema=PAGES_SCHEMA)


# ---------------------------------------------------------------------------
# Spark DataFrame constructors
# ---------------------------------------------------------------------------

PAGES_SCHEMA = ("url string, warc_ts timestamp, html binary, text string, lang string")

FEATURES_SCHEMA = ("feature_id bigint, label string, geom_wkb binary, kind string, "
                   "minx double, miny double, maxx double, maxy double, is_rect boolean")

# derived from the schemas so the validated on-ramp and the batch
# builders can't drift from the schema the synthetic sources emit
PAGES_COLUMNS = tuple(f.split(" ")[0] for f in PAGES_SCHEMA.split(", "))
FEATURES_COLUMNS = tuple(f.split(" ")[0] for f in FEATURES_SCHEMA.split(", "))


def pages_df(spark, dataset: str, features: list[dict] | None = None, partitions: int | None = None):
    """Synthetic pages table as a Spark DataFrame."""
    feats = features if features is not None else FIXTURES[dataset]()
    df = spark.createDataFrame(page_rows(dataset, feats), schema=PAGES_SCHEMA)
    if partitions:
        df = df.repartition(partitions)
    return df


def _feature_row(url: str, html: bytes, text: str, allow_collections: bool = False) -> tuple:
    """One page -> one FEATURES_SCHEMA row: run the deterministic
    extractor on ``html``, assert it is byte-identical to the stored
    ``text``, parse the embedded feature and emit it normalized."""
    extracted = extract_text(html)
    if extracted != text:
        raise ValueError(f"extraction drift for {url!r}: not byte-identical")
    label, geometry = parse_feature_text(extracted)
    if geometry["type"] == "GeometryCollection" and not allow_collections:
        raise ValueError(f"GeometryCollection not allowed as map feature ({url})")
    geometry = G.clean_geom(geometry)
    mnx, mny, mxx, mxy = G.bounds(geometry)
    return (_stable_id(url), label if isinstance(label, str) else json.dumps(label),
            G.wkb_dumps(geometry), G.geom_kind(geometry), mnx, mny, mxx, mxy,
            G.is_axis_rect(geometry))


def extract_features(pages, validate_unique: bool = True, allow_collections: bool = False):
    """pages DF -> feature DF: the engine's ingest/normalize pass.

    Runs the deterministic extractor + GeoJSON parse inside
    ``mapInPandas`` (Arrow batches, no per-row Python at the Spark
    layer), emits WKB + kind + WGS84 bbox.  Geometry collections are
    rejected as a *from* map just like the reference
    (pandarus/core.py:46-49, maps.py checks; tests
    test_multiprocess.py:48-51) unless ``allow_collections``.

    ``feature_id`` is a stable hash of the url — the reference's stable
    integer row index (model.py:25-28) without requiring a global sort.
    Label uniqueness (DuplicateFieldIDError, model.py:126-127) is
    enforced with a distributed count when ``validate_unique``.
    """
    from pyspark.sql import functions as F

    def gen(batches):
        import pandas as pd
        for pdf in batches:
            rows = [_feature_row(url, bytes(html), text, allow_collections)
                    for url, html, text in zip(pdf["url"].tolist(), pdf["html"].tolist(),
                                               pdf["text"].tolist())]
            yield pd.DataFrame(rows, columns=FEATURES_COLUMNS)

    feats = pages.mapInPandas(gen, schema=FEATURES_SCHEMA)
    if validate_unique:
        dup = feats.groupBy("label").count().filter(F.col("count") > 1).limit(1).collect()
        if dup:
            raise ValueError(f"duplicate identifying field value {dup[0]['label']!r} "
                             "(reference DuplicateFieldIDError, model.py:126-127)")
    return feats


def features_from_documents(docs, role: str = "base", partitions: int | None = None):
    """documents → features in ONE Arrow pass: synthesize the page row,
    run the deterministic extractor on its html, assert the byte-identity
    invariant, and emit the normalized feature — without materializing
    the intermediate pages table across a second Python↔JVM boundary.

    Semantically identical to
    ``extract_features(pages_from_documents(docs, role))`` (it calls the
    same synthesis and extraction code per row; asserted in
    tests/test_pages.py), but with half the Arrow traffic — the shape an
    ingest of 10^12 pages needs."""
    def gen(batches):
        import pandas as pd
        for pdf in batches:
            rows = []
            for d in pdf["doc_id"].tolist():
                url, _, html, text, _ = _doc_page_row(role, int(d))
                rows.append(_feature_row(url, html, text))
            yield pd.DataFrame(rows, columns=FEATURES_COLUMNS)

    return _doc_ids(docs, partitions).mapInPandas(gen, schema=FEATURES_SCHEMA)


def _stable_id(url: str) -> int:
    """Deterministic 63-bit id from the url (no global sort needed)."""
    import hashlib
    return int.from_bytes(hashlib.sha256(url.encode()).digest()[:8], "big") & 0x7FFFFFFFFFFFFFFF


def iceberg_available(spark) -> bool:
    """True when the iceberg-spark-runtime classes are on the JVM
    classpath (they ship on real clusters via ``spark.jars.packages``;
    this sandbox has none — callers use this to take the tested
    parquet fallback instead of failing)."""
    try:
        spark.sparkContext._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def write_pages_iceberg(spark, pages, name: str, warehouse: str) -> int:
    """Write a pages table through a hadoop-catalog Iceberg identifier
    (``catalog.db.table``) and return the committed snapshot id — the
    lineage key the checkpoint ledger records per the north rule.
    Requires the iceberg-spark-runtime jars (:func:`iceberg_available`);
    the catalog is configured at runtime against ``warehouse``."""
    catalog = name.split(".")[0]
    spark.conf.set(f"spark.sql.catalog.{catalog}",
                   "org.apache.iceberg.spark.SparkCatalog")
    spark.conf.set(f"spark.sql.catalog.{catalog}.type", "hadoop")
    spark.conf.set(f"spark.sql.catalog.{catalog}.warehouse", warehouse)
    pages.writeTo(name).using("iceberg").createOrReplace()
    snap = spark.sql(f"SELECT snapshot_id FROM {name}.snapshots "
                     "ORDER BY committed_at DESC LIMIT 1").first()
    return int(snap["snapshot_id"]) if snap else -1


def read_pages_table(spark, identifier: str):
    """input_hint on-ramp for a stored pages table.

    ``iceberg:<catalog.db.table>`` reads through the Iceberg Spark
    catalog — the north_rule's 10^12-doc production shape, where the
    per-``lang``-partition checkpoint ledger (plans/checkpoint.py)
    tracks (snapshot, partition) lineage.  The iceberg-spark-runtime
    jars ship on real clusters (``spark.jars.packages``); this sandbox
    has none, so the path is error-guarded, not silently degraded.
    ``parquet:<path>`` or a bare path reads parquet (the test/bench
    shape).  Either way the input_hint schema is validated."""
    if identifier.startswith("iceberg:"):
        name = identifier[len("iceberg:"):]
        try:
            df = spark.read.format("iceberg").load(name)
        except Exception as ex:
            # only rewrap the missing-runtime failure; a typo'd table
            # name or catalog/permission error on a properly configured
            # cluster must surface as itself, not as a jar hint
            msg = str(ex)
            if ("Failed to find data source" in msg
                    or "DATA_SOURCE_NOT_FOUND" in msg
                    or "ClassNotFoundException" in msg):
                raise RuntimeError(
                    "reading an Iceberg pages table requires the "
                    "iceberg-spark-runtime jars on the cluster "
                    f"(spark.jars.packages); loading {name!r} failed: {ex}"
                ) from ex
            raise
    else:
        df = spark.read.parquet(identifier.removeprefix("parquet:"))
    missing = [c for c in PAGES_COLUMNS if c not in df.columns]
    if missing:
        raise ValueError(
            f"pages table {identifier!r} is missing columns {missing}; "
            f"the input_hint schema is {PAGES_COLUMNS}")
    return df
