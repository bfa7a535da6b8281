"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship: documents(sf0.001) → synthetic pages →
extract → cell-join overlay → Mollweide measures.

``queries()`` / ``oracle_sql()`` — one entry per implemented operator
from SURVEY.md §2 plus the training-pipeline additions.  Oracles are
ANSI SQL for DuckDB; wherever possible they recompute results from
first principles (md5-derived hashes, cell-id integer arithmetic, a
Newton-unrolled Mollweide area in pure SQL — see
pandarus_spark/functions/oracle_sql.py) rather than replaying stored
values.  Reference-golden VALUES oracles are used where the reference
pins exact outputs (grid×square areas, zonal statistics).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from pandarus_spark.functions.oracle_sql import (
    cell_cover_sql, grid_fixture_values, mollweide_box_area_sql,
)
from pandarus_spark.operators import curation as C
from pandarus_spark.operators import dedup as D
from pandarus_spark.operators import multimodal as M
from pandarus_spark.operators import similarity as S
from pandarus_spark.operators import textstats as T
from pandarus_spark.operators.distance import distance_join, haversine_m_sql
from pandarus_spark.operators.rollup import parent_cell_sql, tile_rollup_levels
from pandarus_spark.sources.pages import (
    CELL_DEG, GRID_COLS, GRID_X0, GRID_Y0,
    extract_features, pages_df, pages_from_documents,
)

# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------


def _fixtures(spark: SparkSession, name: str) -> DataFrame:
    return extract_features(pages_df(spark, name), validate_unique=False)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _li(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/lineitem.parquet")


def _round_bigint(col):
    return F.round(col, 0).cast("long")


# deterministic messy-URL / PII-laced-text builders shared between the
# curation gate queries and their oracles (both engines construct the
# identical string from doc_id, then the operator under test cleans it)

def _messy_url_col():
    return F.concat(
        F.lit("HTTPS://user@WWW.Site"), (F.col("doc_id") % 7).cast("string"),
        F.lit(".Example.COM:443/Path/"), (F.col("doc_id") % 50).cast("string"),
        F.lit("/?utm_source=feed&q="), (F.col("doc_id") % 10).cast("string"),
        F.lit("&gclid=g"), F.col("doc_id").cast("string"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("#frag")).otherwise(F.lit("")))


_MESSY_URL_SQL = (
    "'HTTPS://user@WWW.Site' || (doc_id % 7) || '.Example.COM:443/Path/' "
    "|| (doc_id % 50) || '/?utm_source=feed&q=' || (doc_id % 10) "
    "|| '&gclid=g' || doc_id || CASE WHEN doc_id % 3 = 0 THEN '#frag' ELSE '' END")

# multi-domain variant for the blocklist gate (35 registrable domains)
_MESSY2_URL_SQL = ("'https://WWW.host' || (doc_id % 7) || '.tld' "
                   "|| (doc_id % 5) || '/p/' || doc_id")


def _pagerank_oracle_sql() -> str:
    from pandarus_spark.operators.graph import pagerank_sql
    edges = ("SELECT doc_id AS src, "
             "(doc_id * 7 + 1) % (SELECT count(*) FROM documents) AS dst "
             "FROM documents "
             "UNION ALL "
             "SELECT doc_id, "
             "(doc_id * 13 + 2) % (SELECT count(*) FROM documents) "
             "FROM documents")
    return pagerank_sql(edges, n_iters=5)


def _editdist_oracle_sql() -> str:
    from pandarus_spark.operators.dedup import editdist1_pairs_sql
    keyed = ("(SELECT doc_id, 'w' || CAST(doc_id % 40 AS VARCHAR) || "
             "CASE WHEN doc_id % 3 = 0 THEN 'x' ELSE '' END AS text "
             "FROM documents) kd")
    return editdist1_pairs_sql(source=keyed)


def _map_algebra_oracle_sql() -> str:
    from pandarus_spark.operators.raster_stats import map_algebra_sql
    base = ("SELECT doc_id % 25 AS row, "
            "CAST(doc_id // 25 AS BIGINT) % 20 AS col FROM documents")
    a = (f"(SELECT row, col, "
         f"CAST((row * 31 + col * 17) % 97 AS DOUBLE) AS value "
         f"FROM ({base}) WHERE (row + col) % 9 <> 4) aa")
    b = (f"(SELECT row, col, "
         f"CAST((row * 7 + col * 3) % 53 AS DOUBLE) AS value "
         f"FROM ({base}) WHERE (row * col) % 7 <> 2) bb")
    return map_algebra_sql("mul", source_a=a, source_b=b)


def _clustering_coef_oracle_sql() -> str:
    from pandarus_spark.operators.graph import clustering_coefficient_sql
    edges = (
        "SELECT doc_id AS src, "
        "(doc_id - (doc_id % 10)) + ((doc_id % 10) + 1) % 10 AS dst "
        "FROM documents "
        "UNION ALL "
        "SELECT doc_id, (doc_id - (doc_id % 10)) + ((doc_id % 10) + 2) % 10 "
        "FROM documents")
    return clustering_coefficient_sql(edges)


def _kcore_oracle_sql() -> str:
    from pandarus_spark.operators.graph import kcore_sql
    n = "(SELECT count(*) FROM documents)"
    edges = (
        "SELECT doc_id AS src, "
        "(doc_id - (doc_id % 10)) + ((doc_id % 10) + 1) % 10 AS dst "
        "FROM documents "
        "UNION ALL "
        f"SELECT doc_id, doc_id + {n} FROM documents WHERE doc_id % 10 < 2 "
        "UNION ALL "
        f"SELECT doc_id + {n}, doc_id + 2 * {n} "
        "FROM documents WHERE doc_id % 10 < 1")
    return kcore_sql(edges, k=2, n_rounds=3)


def _horn_oracle_sql() -> str:
    from pandarus_spark.operators.raster_stats import horn_gradient_sql
    cells = ("(SELECT doc_id % 25 AS row, "
             "CAST(doc_id // 25 AS BIGINT) % 20 AS col, "
             "CAST((doc_id * 13) % 89 AS DOUBLE) AS value "
             "FROM documents "
             "WHERE (doc_id % 25 + CAST(doc_id // 25 AS BIGINT) % 20) "
             "% 9 <> 4) c")
    return horn_gradient_sql(source=cells)


def _tile_heatmap_oracle_sql() -> str:
    from pandarus_spark.functions.oracle_sql import cell_cover_sql
    from pandarus_spark.operators.raster_stats import focal_statistics_sql
    from pandarus_spark.tiling.cells import Y_SHIFT
    mask = (1 << Y_SHIFT) - 1
    boxes = (f"SELECT 'base ' || doc_id AS label, "
             f"{GRID_X0} + (doc_id % {GRID_COLS}) * {CELL_DEG} AS minx, "
             f"{GRID_Y0} + (doc_id // {GRID_COLS}) * {CELL_DEG} AS miny, "
             f"{GRID_X0} + (doc_id % {GRID_COLS}) * {CELL_DEG} "
             f"+ {CELL_DEG} AS maxx, "
             f"{GRID_Y0} + (doc_id // {GRID_COLS}) * {CELL_DEG} "
             f"+ {CELL_DEG} AS maxy "
             f"FROM documents")
    cover = cell_cover_sql("b", 8)
    cellxy = (f"(SELECT CAST((cell >> {Y_SHIFT}) & {mask} AS BIGINT) "
              f"AS row, CAST(cell & {mask} AS BIGINT) AS col, "
              f"CAST(n AS DOUBLE) AS value FROM counts) cxy")
    focal = focal_statistics_sql(1, source=cellxy)
    return f"""
WITH b AS ({boxes}),
covers AS ({cover}),
counts AS (SELECT cell, count(*) AS n FROM covers GROUP BY cell),
heat AS ({focal})
SELECT row, col, n_nbrs, CAST(sum_val AS BIGINT) AS heat
FROM heat ORDER BY heat DESC, row, col LIMIT 20"""


def _focal_oracle_sql() -> str:
    from pandarus_spark.operators.raster_stats import focal_statistics_sql
    cells = ("(SELECT doc_id % 25 AS row, "
             "CAST(doc_id // 25 AS BIGINT) % 20 AS col, "
             "CAST((doc_id * 13) % 89 AS DOUBLE) AS value "
             "FROM documents "
             "WHERE (doc_id % 25 + CAST(doc_id // 25 AS BIGINT) % 20) "
             "% 9 <> 4) c")
    return focal_statistics_sql(1, source=cells)


def _hull_oracle_sql() -> str:
    # independent O(n^3) hull definition: (a, b) is a CCW hull edge
    # iff every other point is STRICTLY left of a->b; hull vertices =
    # edge endpoints, 2*area = shoelace over the directed edge cycle.
    # Integer coordinates: every cross product exact in both engines.
    return """
WITH base AS (
  SELECT CAST('k' || (doc_id % 4) AS VARCHAR) AS key,
         (doc_id % (21 + doc_id % 4)) - 10 AS x
  FROM documents),
pts AS (
  SELECT DISTINCT key, x, y FROM (
    SELECT key, x, x * x AS y FROM base
    UNION ALL
    SELECT key, x, (x * x) // 2 + 40 FROM base WHERE abs(x) <= 8)),
edges AS (
  SELECT a.key, a.x AS ax, a.y AS ay, b.x AS bx, b.y AS by
  FROM pts a JOIN pts b ON a.key = b.key
   AND (a.x <> b.x OR a.y <> b.y)
  WHERE NOT EXISTS (SELECT 1 FROM pts c WHERE c.key = a.key
     AND (c.x <> a.x OR c.y <> a.y) AND (c.x <> b.x OR c.y <> b.y)
     AND (b.x - a.x) * (c.y - a.y) - (c.x - a.x) * (b.y - a.y) <= 0))
SELECT key, CAST(count(*) AS BIGINT) AS n_hull,
       CAST(abs(sum(ax * by - bx * ay)) AS BIGINT) AS hull_2area
FROM edges GROUP BY key"""


def _simplify_oracle_sql() -> str:
    # Douglas–Peucker as a recursive CTE: interval rows split at the
    # argmax-perpendicular-distance vertex until every chord fits
    # eps.  ALL float work happens BEFORE the recursion: `cand`
    # materializes the argmax for EVERY possible (doc, a, b)
    # interval via a plain deterministic window, so the recursion is
    # pure integer joins.  This shape exists because the obvious one
    # — a correlated LATERAL argmax inside the recursive member —
    # was measurably UNSTABLE in DuckDB (the window/LIMIT answer
    # varied with unrelated prior queries on the same connection,
    # flipping the gate); with a per-correlation window partition it
    # was also wrong after decorrelation.  Third hazard, still
    # pinned below: a bare UNION inside a WITH RECURSIVE list did
    # not deduplicate — the kept-endpoint dedup needs an explicit
    # DISTINCT over UNION ALL.
    dexp = ("CASE WHEN (pb.x - pa.x) * (pb.x - pa.x) "
            "+ (pb.y - pa.y) * (pb.y - pa.y) = 0 "
            "THEN sqrt((p.x - pa.x) * (p.x - pa.x) "
            "+ (p.y - pa.y) * (p.y - pa.y)) "
            "ELSE abs((pb.x - pa.x) * (pa.y - p.y) "
            "- (pa.x - p.x) * (pb.y - pa.y)) "
            "/ sqrt((pb.x - pa.x) * (pb.x - pa.x) "
            "+ (pb.y - pa.y) * (pb.y - pa.y)) END")
    return f"""
WITH RECURSIVE pts AS MATERIALIZED (
  SELECT doc_id, s['i'] AS i, s['x'] AS x, s['y'] AS y FROM (
    SELECT doc_id,
      unnest([{{'i': j, 'x': CAST(j AS DOUBLE),
               'y': (CASE WHEN j >= 6 THEN 3.0 ELSE 0.0 END)
                    + CAST(j % 2 AS DOUBLE)
                      * (CAST(doc_id % 5 AS DOUBLE) * 0.1)}}
              for j in range(0, 12)]) AS s
    FROM documents)),
cand AS MATERIALIZED (
  SELECT doc_id, a, b, k, dmax FROM (
    SELECT p.doc_id, pa.i AS a, pb.i AS b, p.i AS k, {dexp} AS dmax,
           row_number() OVER (PARTITION BY p.doc_id, pa.i, pb.i
                              ORDER BY {dexp} DESC, p.i ASC) AS rn
    FROM pts p
    JOIN pts pa ON pa.doc_id = p.doc_id
    JOIN pts pb ON pb.doc_id = p.doc_id
    WHERE pa.i < pb.i - 1 AND p.i > pa.i AND p.i < pb.i)
  WHERE rn = 1),
seg AS (
  SELECT doc_id, 0 AS a, 11 AS b FROM documents
  UNION ALL
  SELECT seg.doc_id,
         CASE WHEN side = 0 THEN seg.a ELSE cand.k END AS a2,
         CASE WHEN side = 0 THEN cand.k ELSE seg.b END AS b2
  FROM seg
  JOIN cand ON cand.doc_id = seg.doc_id AND cand.a = seg.a
           AND cand.b = seg.b,
  LATERAL (SELECT unnest([0, 1]) AS side) sides
  WHERE cand.dmax > 0.25 AND seg.b > seg.a + 1),
keeps AS (
  SELECT DISTINCT doc_id, i FROM (
    SELECT doc_id, a AS i FROM seg
    UNION ALL
    SELECT doc_id, b FROM seg))
SELECT doc_id, CAST(12 AS BIGINT) AS n_points,
       CAST(count(*) AS BIGINT) AS n_kept,
       CAST(sum(i) AS BIGINT) AS idx_sum,
       CAST(sum(i * i) AS BIGINT) AS idx_sq_sum
FROM keeps GROUP BY doc_id"""


def _centroids_oracle_sql() -> str:
    # closed-form quad centroid of each fixture box's four projected
    # corners (theta via the Newton chain), matching the operator's
    # region-decomposition centroid exactly up to fp noise far below
    # the mm rounding
    from pandarus_spark.functions.oracle_sql import (
        C, K, theta_lateral_chain)
    boxes = ("(VALUES ('grid cell 0', 0.0, 0.0, 1.0, 1.0), "
             "('grid cell 1', 0.0, 1.0, 1.0, 2.0), "
             "('grid cell 2', 1.0, 0.0, 2.0, 1.0), "
             "('grid cell 3', 1.0, 1.0, 2.0, 2.0), "
             "('single', 0.5, 0.5, 1.5, 1.5)) "
             "AS g(label, minx, miny, maxx, maxy)")
    cross = ("(xbl*ybr - xbr*ybl) AS c0, (xbr*ytr - xtr*ybr) AS c1, "
             "(xtr*ytl - xtl*ytr) AS c2, (xtl*ybl - xbl*ytl) AS c3")
    return f"""
WITH proj AS (
  SELECT label,
    {K} * radians(minx) * cos(tb) AS xbl,
    {K} * radians(maxx) * cos(tb) AS xbr,
    {K} * radians(maxx) * cos(tt) AS xtr,
    {K} * radians(minx) * cos(tt) AS xtl,
    {C} * sin(tb) AS ybl, {C} * sin(tb) AS ybr,
    {C} * sin(tt) AS ytr, {C} * sin(tt) AS ytl
  FROM {boxes},
  {theta_lateral_chain("radians(miny)", "radians(maxy)")}),
terms AS (SELECT label, xbl, xbr, xtr, xtl, ybl, ybr, ytr, ytl,
                 {cross} FROM proj)
SELECT label,
  CAST(round(((xbl + xbr) * c0 + (xbr + xtr) * c1 + (xtr + xtl) * c2
              + (xtl + xbl) * c3)
             / (3.0 * (c0 + c1 + c2 + c3)) * 1000, 0) AS BIGINT)
    AS cx_mm,
  CAST(round(((ybl + ybr) * c0 + (ybr + ytr) * c1 + (ytr + ytl) * c2
              + (ytl + ybl) * c3)
             / (3.0 * (c0 + c1 + c2 + c3)) * 1000, 0) AS BIGINT)
    AS cy_mm
FROM terms"""


def _dissolve_lines_oracle_sql() -> str:
    from pandarus_spark.functions.oracle_sql import K
    frame = ("OVER (PARTITION BY key ORDER BY a, b "
             "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)")
    return f"""
WITH segs AS (
  SELECT CAST('k' || (doc_id % 4) AS VARCHAR) AS key,
         CAST(doc_id % 40 AS DOUBLE) * 0.3 AS a,
         CAST(doc_id % 40 AS DOUBLE) * 0.3 + 1.5 AS b
  FROM documents
  UNION ALL
  SELECT 'k' || (doc_id % 4),
         CAST(doc_id % 40 AS DOUBLE) * 0.3 + 20.0,
         CAST(doc_id % 40 AS DOUBLE) * 0.3 + 20.6
  FROM documents WHERE doc_id % 8 < 4),
-- DISTINCT before the merge: duplicate (a, b) rows create window
-- ORDER BY ties, and the brk window and the grp window may sort the
-- ties differently, detaching a brk=1 row from its twins (measured:
-- runs bled into each other).  Identical intervals merge anyway, so
-- dedup is semantics-free — and with distinct rows the (a, b) order
-- is total, no ties exist.  (The Spark side computes both window
-- expressions over ONE WindowSpec — a single sort — so it is
-- tie-safe without the dedup.)
d AS (SELECT DISTINCT key, a, b FROM segs),
m AS (SELECT key, a, b,
        CASE WHEN max(b) {frame} IS NULL
               OR a > max(b) {frame} THEN 1 ELSE 0 END AS brk
      FROM d),
g AS (SELECT key, a, b,
        sum(brk) OVER (PARTITION BY key ORDER BY a, b
                       ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS grp
      FROM m),
runs AS (SELECT key, min(a) AS lo, max(b) AS hi FROM g
         GROUP BY key, grp)
SELECT key,
       CAST(round(sum({K} * radians(hi) - {K} * radians(lo)) * 1000, 0)
            AS BIGINT) AS length_mm
FROM runs GROUP BY key"""


def _dissolve_points_oracle_sql() -> str:
    return ("SELECT CAST('k' || (doc_id % 4) AS VARCHAR) AS key, "
            "CAST(count(DISTINCT (doc_id % 30, doc_id % 20)) AS BIGINT) "
            "AS n_points FROM documents GROUP BY 1")


def _bpe_merges_oracle_sql() -> str:
    from pandarus_spark.operators.bpe import bpe_merges_sql
    return bpe_merges_sql(6)


def _bpe_tokenize_oracle_sql() -> str:
    from pandarus_spark.operators.bpe import bpe_tokenize_sql
    return bpe_tokenize_sql(6)


def _dissolve_oracle_sql() -> str:
    # closed-form Mollweide quad areas of the DISTINCT grid cells,
    # summed per parity key: the duplicate features the Spark side
    # unions in must contribute nothing
    keyed = (f"(SELECT CAST(CAST(substring(label, 11, 2) AS INT) % 2 "
             f"AS VARCHAR) AS key, minx, miny, maxx, maxy "
             f"FROM {grid_fixture_values()}) cells")
    areas = mollweide_box_area_sql(keyed, extra_cols="key")
    return (f"WITH areas AS ({areas}) "
            f"SELECT key, CAST(round(sum(area_m2), 0) AS BIGINT) "
            f"AS area_m2 FROM areas GROUP BY key")


def _zorder_oracle_sql() -> str:
    from pandarus_spark.operators.layout import zorder_buckets_sql
    return zorder_buckets_sql(
        "CAST((doc_id * 37) % 360 AS DOUBLE) - 180.0 + 0.25",
        "CAST((doc_id * 7) % 180 AS DOUBLE) - 90.0 + 0.25",
        bits=16, n_buckets=8)


def _label_prop_oracle_sql() -> str:
    from pandarus_spark.operators.graph import label_propagation_sql
    n = "(SELECT count(*) FROM documents)"
    edges = (
        "SELECT doc_id AS src, "
        "(doc_id - (doc_id % 10)) + ((doc_id % 10) + 1) % 10 AS dst "
        "FROM documents "
        "UNION ALL "
        "SELECT doc_id, (doc_id - (doc_id % 10)) + ((doc_id % 10) + 3) % 10 "
        "FROM documents WHERE doc_id % 2 = 0 "
        "UNION ALL "
        f"SELECT doc_id, (doc_id + 10) % {n} "
        "FROM documents WHERE doc_id % 10 = 0")
    return label_propagation_sql(edges, n_iters=4)


def _hits_oracle_sql() -> str:
    from pandarus_spark.operators.graph import hits_sql
    edges = ("SELECT doc_id AS src, "
             "(doc_id * 7 + 1) % (SELECT count(*) FROM documents) AS dst "
             "FROM documents "
             "UNION ALL "
             "SELECT doc_id, "
             "(doc_id * 13 + 2) % (SELECT count(*) FROM documents) "
             "FROM documents")
    return hits_sql(edges, n_iters=3)


def _link_reciprocity_oracle_sql() -> str:
    from pandarus_spark.operators.graph import link_reciprocity_sql
    n = "(SELECT count(*) FROM documents)"
    edges = (f"SELECT doc_id AS src, (doc_id + 1) % {n} AS dst FROM documents "
             f"UNION ALL "
             f"SELECT (doc_id + 1) % {n}, doc_id FROM documents "
             f"WHERE doc_id % 2 = 0 "
             f"UNION ALL "
             f"SELECT doc_id, (doc_id * 7 + 1) % {n} FROM documents")
    return link_reciprocity_sql(edges)


def _domain_rank_oracle_sql() -> str:
    from pandarus_spark.operators import curation as C
    from pandarus_spark.operators.dedup import hash60_sql
    from pandarus_spark.operators.graph import pagerank_sql
    n = "(SELECT count(*) FROM documents)"
    pages = f"""
(SELECT 'https://site' || (doc_id % 7) || '.example/page/' || doc_id AS url,
        encode('<html><body><a href="https://site' ||
               (((doc_id * 7 + 1) % {n}) % 7) || '.example/page/' ||
               ((doc_id * 7 + 1) % {n}) ||
               '">next</a></body></html>') AS html
 FROM documents) p"""
    links = C.extract_links_sql(source=pages)
    sd = C.url_domain_sql("src_url")
    dd = C.url_domain_sql("dst_url")
    edges = f"""
WITH links AS ({links}),
ed AS (SELECT {sd} AS sd, {dd} AS dd FROM links)
SELECT sd, dd, {hash60_sql('sd')} AS src, {hash60_sql('dd')} AS dst
FROM ed WHERE sd <> dd"""
    pr = pagerank_sql("SELECT src, dst FROM edf", n_iters=3)
    return f"""
WITH edf AS ({edges}),
pr AS ({pr}),
labels AS (SELECT DISTINCT src AS node, sd AS domain FROM edf
           UNION SELECT DISTINCT dst, dd FROM edf)
SELECT labels.domain, pr.rank_micro
FROM pr JOIN labels ON pr.node = labels.node"""


def _triangles_oracle_sql() -> str:
    from pandarus_spark.operators.graph import triangles_sql
    n = "(SELECT count(*) FROM documents)"
    edges = (f"SELECT doc_id AS src, (doc_id + 1) % {n} AS dst FROM documents "
             f"UNION ALL "
             f"SELECT doc_id, (doc_id + 2) % {n} FROM documents "
             f"UNION ALL "
             f"SELECT doc_id, (doc_id * 7 + 1) % {n} FROM documents")
    return triangles_sql(edges)


def _sketch_registers_sql() -> str:
    from pandarus_spark.operators import sketch as K
    return K.hll_registers_sql("doc_id", 8)


def _sketch_estimate_sql() -> str:
    from pandarus_spark.operators import sketch as K
    toks = f"(SELECT unnest({D.WORDS_SQL.format(t='text')}) AS t FROM documents)"
    return K.hll_estimate_sql("t", 10, source=toks)


def _sketch_by_lang_sql() -> str:
    from pandarus_spark.operators import sketch as K
    toks = f"(SELECT lang, unnest({D.WORDS_SQL.format(t='text')}) AS t FROM documents)"
    sql = K.hll_estimate_by_sql("t", "lang", p=8, source=toks)
    return f"SELECT grp AS lang, m, n_zero, int_sum, estimate_micro FROM ({sql})"


def _cms_counts_sql() -> str:
    from pandarus_spark.operators import sketch as K
    toks = f"(SELECT doc_id, unnest({D.WORDS_SQL.format(t='text')}) AS t FROM documents)"
    probe = f"SELECT t AS k FROM {toks} p WHERE doc_id < 8"
    sql = K.cms_lookup_sql("t", probe, d=4, w=512, source=toks)
    return f"SELECT k AS t, est FROM ({sql})"


def _pii_laced_col():
    return F.concat(
        F.col("text"), F.lit(" contact user"), F.col("doc_id").cast("string"),
        F.lit("@mail.example.org or +1 555-01"),
        F.lpad((F.col("doc_id") % 100).cast("string"), 2, "0"),
        F.lit(" ip 10.0."), (F.col("doc_id") % 256).cast("string"), F.lit(".7"))


_PII_LACED_SQL = (
    "(text || ' contact user' || doc_id || '@mail.example.org or +1 555-01' || "
    "lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0') || ' ip 10.0.' || "
    "(doc_id % 256) || '.7')")

# per-language sampling quotas for the stratified-sample gate (the
# synthetic corpus carries lang in {en,de,fr,es,zh})
_SAMPLE_RATES = {"en": 0.5, "de": 0.3, "fr": 0.2, "es": 0.15, "zh": 0.1}

# deterministic global point cloud derived from doc_id (shared by the
# distance-join gate and its oracle: integer arithmetic then ONE exact
# IEEE division, so both engines construct identical doubles)
_PTS_SQL = ("(SELECT doc_id AS pid, "
            "(doc_id * 7919 % 3600) / 10.0 - 180.0 AS lon, "
            "(doc_id * 104729 % 1600) / 10.0 - 80.0 AS lat FROM documents)")
_DIST_RADIUS_M = 300000.0


def _points_from_docs(spark, sf_dir):
    d = _docs(spark, sf_dir)
    return d.select(F.col("doc_id").alias("pid"),
                    ((F.col("doc_id") * 7919 % 3600) / 10.0 - 180.0).alias("lon"),
                    ((F.col("doc_id") * 104729 % 1600) / 10.0 - 80.0).alias("lat"))


def _docs_as_lines(docs: DataFrame) -> DataFrame:
    # 10-word line reshaping shared by the line-dedup gates (the
    # synthetic corpus is newline-free word soup)
    w = D.words(F.col("text"))
    nch = F.floor((F.size(w) + 9) / 10).cast("int")
    lines = F.transform(F.sequence(F.lit(0), nch - 1),
                        lambda i: F.array_join(F.slice(w, i * 10 + 1, 10), " "))
    return docs.select("doc_id", F.array_join(lines, "\n").alias("text"))


def _stream_src(*paths: str) -> str:
    """Materialize parquet file(s) into a fresh directory usable as a
    file-stream source (the testdata tables are single files; the
    readStream file source wants a directory)."""
    import os
    import shutil
    import tempfile
    src = tempfile.mkdtemp(prefix="ps_stream_src_")
    for p in paths:
        shutil.copy(p, os.path.join(src, os.path.basename(p)))
    return src


def _run_available_now(out: DataFrame, tmp_dirs: list[str],
                       select_cols: list[str] | None = None) -> list:
    """Drive a streaming DataFrame to completion (availableNow trigger,
    fresh checkpoint), collecting every foreachBatch row.  Raises on
    timeout instead of silently returning a partial row set (a spurious
    gate red indistinguishable from a value bug — r4 ADVICE), and
    removes the source/checkpoint temp dirs in all cases."""
    import shutil
    import tempfile
    rows: list = []

    def sink(df, _epoch):
        rows.extend((df.select(*select_cols) if select_cols else df).collect())

    ck = tempfile.mkdtemp(prefix="ps_stream_ck_")
    try:
        qy = (out.writeStream.foreachBatch(sink)
              .option("checkpointLocation", ck)
              .trigger(availableNow=True).start())
        if not qy.awaitTermination(300):
            qy.stop()
            raise TimeoutError("streaming replay did not finish in 300 s")
    finally:
        for d in [ck, *tmp_dirs]:
            shutil.rmtree(d, ignore_errors=True)
    return rows


def _intersect_fixture(spark, first: str, second: str) -> DataFrame:
    import pandarus_spark as ps
    out = ps.intersect(_fixtures(spark, first), _fixtures(spark, second))
    return out.select("from_label", "to_label",
                      _round_bigint(F.col("measure")).alias("measure_m2")) \
              .orderBy("from_label", "to_label")


def _range_raster():
    """The shared range-raster fixture (array, spec) — single source of
    truth for every zonal/raster gate query; the `zonal_coverage` and
    `zonal_coverage_tiles` oracles both assume exactly this raster."""
    import numpy as np

    from pandarus_spark.operators.raster_stats import RasterSpec
    arr = np.arange(50, dtype=np.float32).reshape(10, 5).astype(np.float64)
    arr[4, :] = -1.0
    arr[5, :] = -1.0
    return arr, RasterSpec(5, 10, (0.4, 0, 0, 0, -0.2, 2), nodata=-1.0)


def _range_cells(spark, drop_nodata: bool = True):
    from pandarus_spark.operators.raster_stats import raster_cells_df
    arr, spec = _range_raster()
    return raster_cells_df(spark, spec, arr, drop_nodata=drop_nodata)


# ---------------------------------------------------------------------------
# flagship
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """documents(sf0.001) → base+probe pages → extract → overlay join."""
    import pandarus_spark as ps
    docs = _docs(spark, "/root/testdata/sf0.001")
    base = extract_features(pages_from_documents(docs, "base"), validate_unique=False)
    probe = extract_features(pages_from_documents(docs, "probe"), validate_unique=False)
    out = ps.intersect(probe, base, broadcast_features=False)
    return out.select("from_label", "to_label",
                      _round_bigint(F.col("measure")).alias("measure_m2"))


def _flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandarus_spark as ps
    docs = _docs(spark, sf_dir)
    base = extract_features(pages_from_documents(docs, "base"), validate_unique=False)
    probe = extract_features(pages_from_documents(docs, "probe"), validate_unique=False)
    out = ps.intersect(probe, base, broadcast_features=False)
    return out.select("from_label", "to_label",
                      _round_bigint(F.col("measure")).alias("measure_m2"))


def _flagship_oracle() -> str:
    boxes = f"""
    SELECT doc_id,
           {GRID_X0} + (doc_id % {GRID_COLS}) * {CELL_DEG} + {{off}} AS minx,
           {GRID_Y0} + (doc_id // {GRID_COLS}) * {CELL_DEG} + {{off}} AS miny,
           {GRID_X0} + (doc_id % {GRID_COLS}) * {CELL_DEG} + {{off}} + {CELL_DEG} AS maxx,
           {GRID_Y0} + (doc_id // {GRID_COLS}) * {CELL_DEG} + {{off}} + {CELL_DEG} AS maxy
    FROM documents"""
    base = boxes.format(off=0.0)
    probe = boxes.format(off=0.5 * CELL_DEG)
    area = mollweide_box_area_sql("pairs", extra_cols="from_label, to_label")
    return f"""
WITH b AS ({base}), p AS ({probe}),
pairs AS (
  SELECT 'probe ' || p.doc_id AS from_label, 'base ' || b.doc_id AS to_label,
         GREATEST(p.minx, b.minx) AS minx, GREATEST(p.miny, b.miny) AS miny,
         LEAST(p.maxx, b.maxx) AS maxx, LEAST(p.maxy, b.maxy) AS maxy
  FROM p JOIN b ON p.minx < b.maxx AND b.minx < p.maxx
               AND p.miny < b.maxy AND b.miny < p.maxy
)
SELECT from_label, to_label, CAST(ROUND(area_m2) AS BIGINT) AS measure_m2
FROM ({area}) a
"""


# ---------------------------------------------------------------------------
# queries + oracles
# ---------------------------------------------------------------------------

def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    import pandarus_spark as ps

    def q_intersect_grid_square(spark, sf_dir):
        return _intersect_fixture(spark, "square", "grid")

    def q_intersect_outside_grid(spark, sf_dir):
        return _intersect_fixture(spark, "outside", "grid")

    def q_intersect_lines_grid(spark, sf_dir):
        return _intersect_fixture(spark, "lines", "grid")

    def q_intersect_points_grid(spark, sf_dir):
        out = ps.intersect(_fixtures(spark, "points"), _fixtures(spark, "grid"))
        return out.select("from_label", "to_label", F.col("measure").alias("n_points"))

    def q_ifi_projections(spark, sf_dir):
        # ids="sorted" — this query's oracle keys on the reference's
        # deterministic enumeration-order ids (report scale, tiny output)
        inter = ps.intersect(_fixtures(spark, "square"), _fixtures(spark, "grid"),
                             ids="sorted")
        fp1, fp2 = ps.intersections_from_intersection(inter)
        a = fp1.select("id", F.col("label").alias("from_side"),
                       _round_bigint(F.col("measure")).alias("measure_m2"))
        b = fp2.select("id", F.col("label").alias("to_side"))
        return a.join(b, "id").select("id", "from_side", "to_side", "measure_m2")

    def q_remaining_outside(spark, sf_dir):
        grid = _fixtures(spark, "grid")
        outside = _fixtures(spark, "outside")
        rem = ps.calculate_remaining(outside, ps.intersect(outside, grid))
        return rem.select("label", _round_bigint(F.col("remaining")).alias("remaining_m2"))

    def q_tile_assignments(spark, sf_dir):
        covers = ps.cover_features(_fixtures(spark, "grid"), res=8, max_cells=256)
        labels = _fixtures(spark, "grid").select("feature_id", "label")
        return covers.join(labels, "feature_id").select("label", "cell")

    def q_tile_rollup_grid(spark, sf_dir):
        # hypertable-rollup analogue: the res-8 grid cover aggregated up
        # the quadtree pyramid in one exploded partial-agg pass
        covers = ps.cover_features(_fixtures(spark, "grid"), res=8, max_cells=256)
        return tile_rollup_levels(covers.select("cell"), [2, 4, 6])

    def q_distance_join_points(spark, sf_dir):
        # geodesic within-radius self-join over a deterministic global
        # point cloud — cell-bucket candidates + exact haversine residual
        pts = _points_from_docs(spark, sf_dir)
        out = distance_join(pts.withColumnRenamed("pid", "a"),
                            pts.withColumnRenamed("pid", "b"), _DIST_RADIUS_M)
        return (out.filter(F.col("a") < F.col("b"))
                .select("a", "b", F.round("dist_m", 3).alias("dist_m")))

    def q_knn_points_grid(spark, sf_dir):
        from pyspark.sql import Window
        grid = _fixtures(spark, "grid")
        q = spark.createDataFrame(
            [(1, 0.25, 0.25), (2, 1.75, 1.75), (3, 5.0, 0.5), (4, -1.0, -1.0)],
            "query_id long, qx double, qy double")
        out = ps.knn_nearest_feature(q, grid, k=4, res=6, ring=2)
        w = Window.partitionBy("query_id").orderBy(F.col("dist").asc(), F.col("label").asc())
        return (out.select("query_id", "label", "dist")
                .withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= 2)
                .select("query_id", "label", F.round("dist", 6).alias("dist"), "rank"))

    def q_zonal_coverage(spark, sf_dir):
        return ps.raster_statistics(_fixtures(spark, "grid"), _range_cells(spark),
                                    method="coverage")

    def q_zonal_centers(spark, sf_dir):
        return ps.raster_statistics(_fixtures(spark, "grid"), _range_cells(spark),
                                    method="centers")

    def q_zonal_coverage_tiles(spark, sf_dir):
        # CLUSTER path end-to-end: raster as a tile-parquet-shaped table
        # (sources/raster.py contract) → cells_from_tiles → cell-key
        # candidate join (strategy="tiles", no broadcast) — must hit the
        # exact same reference goldens as the broadcast path
        from pandarus_spark.sources.raster import cells_from_tiles, tiles_from_array
        arr, spec = _range_raster()
        cells = cells_from_tiles(tiles_from_array(spark, arr, tile_size=4), spec,
                                 tile_size=4)
        return ps.raster_statistics(_fixtures(spark, "grid"), cells,
                                    method="coverage", strategy="tiles")

    def q_zonal_weighted(spark, sf_dir):
        # exactextract-style weighted zonal stats (graft addition): a
        # second deterministic raster on the same grid supplies the
        # weights; oracle recomputes coverage fractions in closed form
        # (axis-aligned boxes) — first-principles, kernel-independent
        import numpy as np

        from pandarus_spark.operators.raster_stats import raster_cells_df
        arr, spec = _range_raster()
        r, c = np.meshgrid(np.arange(spec.height), np.arange(spec.width),
                           indexing="ij")
        warr = ((r * spec.width + c) % 7 + 1).astype(np.float64)
        wcells = raster_cells_df(spark, spec, warr, drop_nodata=False)
        return ps.raster_statistics(_fixtures(spark, "grid"),
                                    _range_cells(spark), method="coverage",
                                    weight_cells=wcells)

    def q_vectorize_range(spark, sf_dir):
        out = ps.convert_to_vector(_range_cells(spark))
        return out.groupBy("val").agg(F.count("*").alias("n_regions"))

    def q_clean_raster_range(spark, sf_dir):
        from pandarus_spark.operators.raster_transform import clean_raster
        cells = _range_cells(spark, drop_nodata=False)
        cleaned, new_nodata, downcast = clean_raster(cells, nodata=-1.0)
        assert new_nodata == -99.0 and downcast
        return cleaned.select("row", "col", "value")

    def q_round_raster_lineitem(spark, sf_dir):
        from pandarus_spark.operators.raster_transform import round_raster
        li = _li(spark, sf_dir).select("l_orderkey", "l_linenumber",
                                       F.col("l_extendedprice").alias("value"))
        return (round_raster(li, sig_digits=3)
                .select("l_orderkey", "l_linenumber", F.col("value").alias("price_sig3")))

    def q_exact_dedup_docs(spark, sf_dir):
        return D.exact_dedup(_docs(spark, sf_dir))

    def q_minhash_sigs_docs(spark, sf_dir):
        sigs = D.minhash_signatures(_docs(spark, sf_dir).filter(F.col("doc_id") < 50),
                                    num_hashes=4)
        return sigs.select("doc_id", *[F.col("sig")[i].alias(f"s{i}") for i in range(4)])

    def q_ngram_jaccard_docs(spark, sf_dir):
        return D.ngram_jaccard_pairs(_docs(spark, sf_dir).filter(F.col("doc_id") < 200),
                                     k=3, threshold=0.2)

    def q_ppjoin_docs(spark, sf_dir):
        # prefix-filtered EXACT Jaccard self-join (PPJoin family); the
        # oracle is the brute-force join — the gate proves the prefix
        # filter lossless, not merely self-consistent
        return D.ppjoin_pairs(_docs(spark, sf_dir), k=3,
                              threshold_micro=200_000)

    def q_lsh_pairs_docs(spark, sf_dir):
        # value-exact since round 4: D.minhash_lsh_sql reproduces the
        # FULL banded pipeline in DuckDB (r3 verdict #5)
        return D.minhash_lsh_pairs(_docs(spark, sf_dir), num_hashes=16, bands=8,
                                   threshold=0.2)

    def q_lsh_recall_docs(spark, sf_dir):
        # measured-recall gate (r3 verdict #5): the LSH pair set vs the
        # exact all-pairs baseline, recall pinned as driver-hashed
        # values (floor asserted in tests/test_pipeline_ops.py).
        # recall is emitted in integer PPM with an explicit half-up
        # tie-break — n_hit/n_true is an exact rational, so round(x,6)
        # lands on engine-dependent .5 ties whenever n_true has a
        # 7-digit terminating expansion (VERDICT.md r4 #1 sweep)
        docs = _docs(spark, sf_dir)
        lsh = D.minhash_lsh_pairs(docs, num_hashes=16, bands=8, threshold=0.2) \
            .select("doc_a", "doc_b", F.lit(1).alias("_l"))
        true = D.ngram_jaccard_pairs(docs, k=3, threshold=0.2) \
            .select("doc_a", "doc_b", F.lit(1).alias("_t"))
        j = lsh.join(true, ["doc_a", "doc_b"], "full_outer")
        return (j.agg(F.sum("_t").alias("n_true"), F.sum("_l").alias("n_lsh"),
                      F.sum(F.when(F.col("_l").isNotNull()
                                   & F.col("_t").isNotNull(), 1)
                            .otherwise(0)).alias("n_hit"))
                .select("n_true", "n_lsh", "n_hit",
                        F.expr("(2000000 * n_hit + n_true) DIV (2 * n_true)")
                         .alias("recall_ppm")))

    def q_simhash_docs(spark, sf_dir):
        return D.simhash(_docs(spark, sf_dir).filter(F.col("doc_id") < 100))

    def q_line_dedup_docs(spark, sf_dir):
        # CCNet-style paragraph dedup over the corpus
        return D.line_dedup(_docs_as_lines(_docs(spark, sf_dir)), min_count=2)

    def q_line_dedup_doc_scope(spark, sf_dir):
        # in-document repetition stripping: same reshaping, window
        # keyed by (doc, line hash) — cross-doc duplicates untouched
        return D.line_dedup(_docs_as_lines(_docs(spark, sf_dir)),
                            min_count=2, scope="doc")

    def q_decontam_docs(spark, sf_dir):
        # benchmark decontamination: every 37th doc doubles as an eval
        # prompt; shingle overlap flags it (and near-copies) in the corpus
        from pandarus_spark.operators.decontam import contamination_stats
        docs = _docs(spark, sf_dir)
        bench = docs.filter(F.col("doc_id") % 37 == 0) \
                    .select(F.col("doc_id").alias("bid"), "text")
        out = contamination_stats(docs, bench, k=5)
        return out.select("doc_id", "n_shingles", "n_hits",
                          F.col("contaminated").cast("int").alias("contaminated"))

    def q_unigram_logprob_docs(spark, sf_dir):
        return T.unigram_logprob(_docs(spark, sf_dir))

    def q_simhash_neardup_docs(spark, sf_dir):
        return D.simhash_neardup_pairs(_docs(spark, sf_dir).filter(F.col("doc_id") < 150),
                                       max_hamming=3, bands=4)

    def q_clean_corpus(spark, sf_dir):
        # the canonical training-data pipeline, composed end-to-end:
        # quality-filter -> simhash near-dup pairs -> connected-components
        # clusters -> keep one representative per cluster
        docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 150)
        scored = docs.select("doc_id", "text", T.quality_score(F.col("text")).alias("quality"))
        good = scored.filter(F.col("quality") >= 0.5)
        pairs = D.simhash_neardup_pairs(good, max_hamming=3, bands=4)
        clusters = D.duplicate_clusters(pairs, universe=good)
        sizes = clusters.groupBy("cluster_id").agg(F.count("*").alias("n_members"))
        return (clusters.filter(F.col("doc_id") == F.col("cluster_id"))
                .join(sizes, "cluster_id")
                .join(good.select("doc_id", "quality"), "doc_id")
                .select("doc_id", "quality", "n_members"))

    def q_pricing_summary(spark, sf_dir):
        # TPC-H Q1-shaped groupBy-agg over lineitem: partial/final agg
        # JVM-side, one shuffle on the 6-value group key
        li = _li(spark, sf_dir).filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
        return (li.groupBy("l_returnflag", "l_linestatus")
                .agg(F.round(F.sum("l_quantity"), 6).alias("sum_qty"),
                     F.round(F.sum("l_extendedprice"), 6).alias("sum_base_price"),
                     F.round(F.sum(disc), 6).alias("sum_disc_price"),
                     F.round(F.sum(disc * (1 + F.col("l_tax"))), 6).alias("sum_charge"),
                     F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
                     F.count("*").alias("count_order")))

    def q_top_customers(spark, sf_dir):
        # 3-way join (customer broadcast) + agg + top-k: revenue per
        # customer over open orders, window row_number for stable top 10
        from pyspark.sql import Window
        li = _li(spark, sf_dir)
        orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
        cust = spark.read.parquet(f"{sf_dir}/customer.parquet")
        rev = (li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
               .filter(F.col("o_orderstatus") == "O")
               .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
               .groupBy("c_custkey", "c_name")
               .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4)
                    .alias("revenue")))
        w = Window.orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        return (rev.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= 10)
                .select("c_custkey", "c_name", "revenue", "rank"))

    def q_dup_clusters_docs(spark, sf_dir):
        docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 150)
        pairs = D.simhash_neardup_pairs(docs, max_hamming=3, bands=4)
        return D.duplicate_clusters(pairs, universe=docs)

    def q_events_hourly(spark, sf_dir):
        from pandarus_spark.operators.windows import hourly_rollup
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        return hourly_rollup(ev)

    def q_events_sessions(spark, sf_dir):
        from pandarus_spark.operators.windows import sessionize
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        return sessionize(ev, gap_seconds=1800.0)

    def q_events_props_agg(spark, sf_dir):
        # JSON column surface: from_json with a typed schema (JVM-side
        # Jackson parse, no UDF), then grouped agg over the extracted field
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        k = F.from_json(F.col("props"), "k int").getField("k")
        return (ev.select("event_type", k.alias("k"))
                .groupBy("event_type")
                .agg(F.count("*").alias("n"),
                     F.sum("k").alias("sum_k"),
                     F.min("k").cast("long").alias("min_k"),
                     F.max("k").cast("long").alias("max_k")))

    def q_text_stats_docs(spark, sf_dir):
        t = F.col("text")
        return _docs(spark, sf_dir).select(
            "doc_id",
            T.token_count(t).alias("n_tokens"),
            T.whitespace_token_count(t).alias("n_words"),
            T.n_chars(t).alias("n_chars2"),
            T.lang_id(t).alias("lang_guess"),
            T.quality_score(t).alias("quality"),
            T.dup_ngram_fraction(t).alias("dup_2gram_frac"),
            T.fingerprint(t).alias("fp"))

    def q_cosine_topk_embeddings(spark, sf_dir):
        emb = _emb(spark, sf_dir)
        q = emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec"))
        return S.cosine_topk(emb, q, k=3)

    def q_cosine_neardup_embeddings(spark, sf_dir):
        return S.cosine_neardup_pairs(_emb(spark, sf_dir), threshold=0.4)

    def q_cosine_neardup_bucketed(spark, sf_dir):
        # exhaustive LSH configuration for this corpus (verified: 3
        # planes x 16 tables recovers every brute-force pair at both
        # sf0.001 and sf0.01), so the brute-force SQL is a FULL oracle;
        # production defaults (8x8, cos>=0.9) are selective instead
        return S.cosine_neardup_bucketed(_emb(spark, sf_dir), threshold=0.4,
                                         n_tables=16, n_planes=3)

    def q_ann_lsh_embeddings(spark, sf_dir):
        # one-table SRP-LSH; value-exact since round 4: S.ann_lsh_sql
        # reproduces the seeded plane literals + bucket join + window
        # top-k in DuckDB (r3 verdict #5); subset-of-bruteforce
        # additionally asserted in tests/test_pipeline_ops.py
        emb = _emb(spark, sf_dir)
        q = emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec"))
        return S.ann_lsh_topk(emb, q, k=3, n_tables=1, n_planes=6, dim=64)

    def q_ann_multiprobe_embeddings(spark, sf_dir):
        # multi-table SRP union — the configuration that actually
        # reaches high recall (16 tables x 4 planes: measured recall
        # 1.0 on this corpus); value-exact vs S.ann_lsh_sql with the
        # same n_tables
        emb = _emb(spark, sf_dir)
        q = emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec"))
        return S.ann_lsh_topk(emb, q, k=3, n_tables=16, n_planes=4, dim=64)

    def q_ann_recall_embeddings(spark, sf_dir):
        # measured recall@k of the multi-probe SRP-LSH path vs brute
        # force, pinned as driver-hashed values (r3 verdict #5); floor
        # asserted in tests/test_pipeline_ops.py
        emb = _emb(spark, sf_dir)
        q = emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec"))
        brute = S.cosine_topk(emb, q, k=3) \
            .select("query_id", "neighbor_id", F.lit(1).alias("_b"))
        ann = S.ann_lsh_topk(emb, q, k=3, n_tables=16, n_planes=4, dim=64) \
            .select("query_id", "neighbor_id", F.lit(1).alias("_a"))
        j = brute.join(ann, ["query_id", "neighbor_id"], "full_outer")
        # integer-PPM recall — same exact-rational-tie rationale as
        # q_lsh_recall_docs (VERDICT.md r4 #1 sweep)
        return (j.agg(F.sum("_b").alias("n_brute"), F.sum("_a").alias("n_ann"),
                      F.sum(F.when(F.col("_a").isNotNull()
                                   & F.col("_b").isNotNull(), 1)
                            .otherwise(0)).alias("n_hit"))
                .select("n_brute", "n_ann", "n_hit",
                        F.expr("(2000000 * n_hit + n_brute) DIV (2 * n_brute)")
                         .alias("recall_ppm")))

    def q_ann_quantized_embeddings(spark, sf_dir):
        # int8-code prescreen + exact re-rank (full-scan configuration;
        # the bucketed generators compose in front of it) — the whole
        # pipeline incl. prescreen ordering is engine-deterministic
        emb = _emb(spark, sf_dir)
        qs = emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec"))
        return S.ann_quantized_topk(emb, qs, k=3, refine_m=32)

    def q_ann_ivf_embeddings(spark, sf_dir):
        # full probe (nprobe == n_centroids) → exactly brute-force top-k,
        # so the cosine_topk SQL is a full value oracle; partial-probe
        # recall is covered in tests/test_pipeline_ops.py
        emb = _emb(spark, sf_dir)
        q = emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec"))
        return S.ivf_topk(emb, q, k=3, n_centroids=8, nprobe=8)

    def q_multimodal_decode(spark, sf_dir):
        return M.decode_media(M.synthetic_media_df(spark, n=16))

    def q_multimodal_resize(spark, sf_dir):
        return M.decode_media(M.resize_stub(M.synthetic_media_df(spark, n=16), 4, 4))

    def q_multimodal_frames(spark, sf_dir):
        frames = M.frame_sample_stub(M.synthetic_media_df(spark, n=16), every_n=2)
        return frames.groupBy("media_id").agg(
            F.count("*").alias("n_frames"),
            F.max("frame_no").alias("last_frame"))

    def q_multimodal_audio(spark, sf_dir):
        return M.audio_features_stub(M.synthetic_audio_df(spark, n=16), window=16)

    def q_multimodal_real_codecs(spark, sf_dir):
        # REAL containers (BMP / PGM / WAV) through the pure-python
        # codec registry; oracle expectations computed from the SOURCE
        # arrays, independent of the decoders
        return M.decode_media(M.synthetic_real_media_df(spark, n=12))

    def q_pages_table_roundtrip(spark, sf_dir):
        # north-rule Iceberg on-ramp (round-2 verdict #9): write the
        # synthesized pages table through an `iceberg:` identifier and
        # read it back WHEN the runtime jars exist (recording the
        # snapshot id in the checkpoint ledger); in this sandbox (no
        # jars) the gate exercises the same read_pages_table dispatch
        # through the tested `parquet:` fallback — same rows either way
        import os
        import tempfile

        from pandarus_spark.plans.checkpoint import CheckpointLedger
        from pandarus_spark.sources.pages import (
            iceberg_available, read_pages_table, write_pages_iceberg,
        )
        docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 200)
        pages = pages_from_documents(docs, "base")
        tmp = tempfile.mkdtemp(prefix="pages_tbl_")
        if iceberg_available(spark):
            snap = write_pages_iceberg(spark, pages, "pandarus_ice.db.pages",
                                       os.path.join(tmp, "wh"))
            got = read_pages_table(spark, "iceberg:pandarus_ice.db.pages")
            CheckpointLedger(os.path.join(tmp, "ledger")).mark(
                "pages_iceberg", "db.pages", {"snapshot_id": snap})
        else:
            p = os.path.join(tmp, "pages.parquet")
            pages.write.mode("overwrite").parquet(p)
            got = read_pages_table(spark, f"parquet:{p}")
        return got.select("url", "lang")

    def q_training_corpus(spark, sf_dir):
        # the round-3 curation ops composed end-to-end in ONE Catalyst
        # plan: deterministic per-language sampling -> PII redaction ->
        # quality floor -> exact dedup on the redacted text -> chunk
        # accounting per surviving representative
        from pandarus_spark.operators.curation import (
            chunk_tokens, redact_pii, stratified_sample,
        )
        docs = stratified_sample(_docs(spark, sf_dir), _SAMPLE_RATES,
                                 default_rate=0.2)
        red = docs.select("doc_id", redact_pii(F.col("text")).alias("text"))
        scored = red.select("doc_id", "text",
                            T.quality_score(F.col("text")).alias("quality"))
        good = scored.filter(F.col("quality") >= 0.4)
        reps = D.exact_dedup(good).select("doc_id", "group_size")
        kept = good.join(reps, "doc_id")
        chunks = (chunk_tokens(kept, size=32, stride=24)
                  .groupBy("doc_id").agg(F.count("*").alias("n_chunks")))
        return (kept.join(chunks, "doc_id")
                .select("doc_id", "quality", "group_size", "n_chunks"))

    def q_top_tokens_docs(spark, sf_dir):
        return T.top_tokens(_docs(spark, sf_dir), k=50)

    def q_tf_idf_docs(spark, sf_dir):
        return T.tf_idf(_docs(spark, sf_dir).filter(F.col("doc_id") < 500))

    def q_events_asof(spark, sf_dir):
        # as-of join (custom operator Spark lacks natively): each click
        # picks up the user's most recent prior-or-equal view value —
        # union + carry-forward window, ONE shuffle, no join explosion;
        # DuckDB's native ASOF LEFT JOIN is the independent oracle
        from pandarus_spark.operators.windows import asof_join
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        views = (ev.filter(F.col("event_type") == "view")
                 .groupBy("user_id", "ts")
                 .agg(F.max("value").alias("view_value")))
        clicks = ev.filter(F.col("event_type") == "click") \
                   .select("event_id", "user_id", "ts")
        return (asof_join(clicks, views, key_col="user_id", ts_col="ts")
                .select("event_id", "user_id", "view_value"))

    def q_events_interval_join(spark, sf_dir):
        # 1-D bucket-tiled range join (the temporal analogue of the
        # spatial cell join): clicks inside 30-minute post-purchase
        # windows of the first 10 users
        from pandarus_spark.operators.windows import interval_join
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        purch = (ev.filter((F.col("event_type") == "purchase") & (F.col("user_id") < 10))
                 .select(F.col("event_id").alias("purchase_id"),
                         F.col("ts").alias("start"),
                         (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("end")))
        clicks = ev.filter(F.col("event_type") == "click") \
                   .select(F.col("event_id").alias("click_id"), "ts")
        out = interval_join(clicks, purch, point_col="ts",
                            start_col="start", end_col="end",
                            bucket_seconds=1800.0)
        return out.select("click_id", "purchase_id")

    def q_events_session_rows(spark, sf_dir):
        # per-session rows (gaps-and-islands) — the batch twin of the
        # streaming sessionizer's output shape
        from pandarus_spark.operators.windows import session_rows
        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        return session_rows(ev.select("user_id", "ts"), gap_seconds=1800.0)

    def q_stream_sessions(spark, sf_dir):
        # deterministic streaming replay gate (r3 verdict #7): the
        # stateful sessionizer over the events parquet with an
        # availableNow trigger and a fresh checkpoint.  The emitted set
        # is exactly the sessions the final watermark (max event time
        # ms-truncated, minus the 10-minute delay) has released —
        # reproduced in the oracle by the batch session_rows SQL plus
        # the same integer-microsecond release predicate.
        from pandarus_spark.streaming.stream import stream_sessionize
        ev_path = f"{sf_dir}/events.parquet"
        schema = spark.read.parquet(ev_path).schema
        src = _stream_src(ev_path)
        stream = spark.readStream.schema(schema).parquet(src)
        out = stream_sessionize(stream.select("user_id", "ts"),
                                gap_seconds=1800.0, watermark="10 minutes")
        rows = _run_available_now(out, [src])
        return spark.createDataFrame(
            rows, "user_id long, session_start timestamp, "
                  "session_end timestamp, n_events long")

    def q_url_normalize_docs(spark, sf_dir):
        # URL canonicalization + registrable-domain extraction over a
        # deterministic messy-URL column (userinfo, WWW, default port,
        # tracking params, fragment, trailing slash — all exercised)
        return _docs(spark, sf_dir).select(
            "doc_id",
            C.normalize_url(_messy_url_col()).alias("url_norm"),
            C.url_domain(_messy_url_col()).alias("domain"))

    def q_domain_stats_docs(spark, sf_dir):
        pages = _docs(spark, sf_dir).select(_messy_url_col().alias("url"))
        return C.domain_stats(pages)

    def q_stratified_sample_docs(spark, sf_dir):
        # deterministic per-language sampling: same doc set every run,
        # every engine, any partitioning — a narrow filter, no shuffle
        return C.stratified_sample(_docs(spark, sf_dir), _SAMPLE_RATES,
                                   default_rate=0.05).select("doc_id", "lang")

    def q_chunk_tokens_docs(spark, sf_dir):
        return C.chunk_tokens(_docs(spark, sf_dir).filter(F.col("doc_id") < 2000),
                              size=32, stride=24)

    def q_pii_stats_docs(spark, sf_dir):
        laced = _docs(spark, sf_dir).select("doc_id", _pii_laced_col().alias("text"))
        return C.pii_stats(laced)

    def q_source_profile_docs(spark, sf_dir):
        return C.source_profile(_docs(spark, sf_dir))

    def q_shard_corpus_docs(spark, sf_dir):
        return C.shard_corpus(_docs(spark, sf_dir), n_shards=16)

    def q_pack_sequences_docs(spark, sf_dir):
        # training-sequence packing in deterministic shard order —
        # every non-tail sequence carries exactly 128 tokens
        return C.pack_sequences(_docs(spark, sf_dir), seq_len=128, n_shards=8)

    def q_gopher_quality_docs(spark, sf_dir):
        return T.gopher_rules(_docs(spark, sf_dir))

    def q_postings_docs(spark, sf_dir):
        # inverted-index postings sample: salted two-stage per-token
        # top-p (exact, salt-count-invariant) + doc frequency
        return T.postings_sample(_docs(spark, sf_dir), p=3, n_salts=8)

    def q_postings_hot_docs(spark, sf_dir):
        # hot-only salting (r5, verdict #7): tokens whose sampled
        # doc_freq clears the threshold split across salts, the long
        # tail keeps one salt (stage-1 survivor budget stays p) —
        # same oracle as postings_docs because salting is
        # selection-invariant by construction
        return T.postings_sample(_docs(spark, sf_dir), p=3, n_salts=8,
                                 salt_threshold=20, sample_mod=5)

    def q_lm_dataset_docs(spark, sf_dir):
        # the composed end-to-end training-data prep pipeline in ONE
        # Catalyst plan: Gopher quality filter (map-side predicate,
        # BEFORE any shuffle) -> exact dedup (keep min doc_id per text
        # md5, one window) -> pack into fixed 64-token sequences.
        # Rule params relaxed to the synthetic corpus's vocabulary
        # (min_words=40; stopword list {the, a}) so the filter is
        # discriminative rather than all-or-nothing.
        from pyspark.sql import Window
        docs = _docs(spark, sf_dir)
        kept = docs.filter(T.gopher_keep("text", min_words=40,
                                         stopwords=("the", "a")))
        w = Window.partitionBy(F.md5(F.encode(F.col("text"), "utf-8")))
        uniq = (kept.withColumn("_mn", F.min("doc_id").over(w))
                    .filter(F.col("doc_id") == F.col("_mn"))
                    .select("doc_id", "text"))
        return C.pack_sequences(uniq, seq_len=64, n_shards=4)

    def q_remove_dup_spans_docs(spark, sf_dir):
        # exact-substring dedup SURGERY: duplicated k-word spans cut
        # from every document except the smallest-id canonical copy
        return D.remove_dup_spans(_docs(spark, sf_dir), k=5)

    def q_flagship_overlay(spark, sf_dir):
        return _flagship(spark, sf_dir)

    def q_areal_interp(spark, sf_dir):
        # area-weighted attribute transfer over the overlay (the
        # reference's downstream use case for its intersection tables):
        # each base feature carries an integer value; probe features
        # receive the measure-proportional share in micro-units
        from pandarus_spark.operators.interp import areal_interpolate
        docs = _docs(spark, sf_dir)
        base = extract_features(pages_from_documents(docs, "base"),
                                validate_unique=False)
        probe = extract_features(pages_from_documents(docs, "probe"),
                                 validate_unique=False)
        inter = ps.intersect(probe, base, broadcast_features=False)
        vals = docs.select(
            F.concat(F.lit("base "), F.col("doc_id").cast("string"))
             .alias("to_label"),
            (F.col("doc_id") % 97 + 1).cast("long").alias("value"))
        return areal_interpolate(inter, vals)

    def q_overlay_partition_metrics(spark, sf_dir):
        # north_rule lineage surface as a value gate: per-partition
        # row-count / area-sum / distinct-target metrics over the
        # flagship overlay (the distributed read path of the
        # checkpoint ledger's per-partition markers)
        from pandarus_spark.plans.checkpoint import lineage_metrics
        out = _flagship(spark, sf_dir)
        pid = F.pmod(F.split(F.col("to_label"), " ").getItem(1).cast("long"),
                     F.lit(16))
        return lineage_metrics(out, pid, measure_col="measure_m2",
                               target_col="from_label")

    def q_dup_span_docs(spark, sf_dir):
        return D.dup_span_stats(_docs(spark, sf_dir), k=5)

    def q_bloom_decontam_docs(spark, sf_dir):
        # the beyond-broadcast decontamination path, value-gated: the
        # Bloom probe is pure int64 arithmetic, so its exact output —
        # deterministic false positives included — has a SQL twin
        from pandarus_spark.operators.decontam import (
            bloom_contaminated, build_shingle_bloom,
        )
        docs = _docs(spark, sf_dir)
        bench = docs.filter(F.col("doc_id") % 37 == 0).select("text")
        bloom = build_shingle_bloom(bench, k=5, n_bits=1 << 14, n_hashes=3)
        out = bloom_contaminated(docs, bloom, k=5)
        return out.select("doc_id",
                          F.col("contaminated").cast("int").alias("contaminated"))

    def q_embed_quantize(spark, sf_dir):
        return S.quantize_int8(_emb(spark, sf_dir))

    def q_stream_decontam_docs(spark, sf_dir):
        # streaming replay gate for stream_decontaminate: the documents
        # parquet replayed availableNow through the broadcast-set probe;
        # the kept set must equal batch decontaminate (stateless op, so
        # the replay is batch-boundary-independent), reproduced in the
        # oracle as NOT contaminated under the batch contamination SQL
        from pandarus_spark.streaming.stream import stream_decontaminate
        docs_path = f"{sf_dir}/documents.parquet"
        schema = spark.read.parquet(docs_path).schema
        src = _stream_src(docs_path)
        bench = (spark.read.parquet(docs_path)
                 .filter(F.col("doc_id") % 37 == 0).select("text"))
        stream = spark.readStream.schema(schema).parquet(src)
        kept = stream_decontaminate(stream.select("doc_id", "text"),
                                    bench, k=5)
        rows = _run_available_now(kept, [src], select_cols=["doc_id"])
        return spark.createDataFrame([(r["doc_id"],) for r in rows],
                                     "doc_id long")

    def q_stream_asof_events(spark, sf_dir):
        # streaming as-of replay gate (r4 verdict #4): clicks enriched
        # with the user's latest prior-or-equal view value, replayed
        # availableNow through the stateful operator with a fresh
        # checkpoint.  The emitted set is exactly the left rows the
        # final watermark (ms-truncated max event time over BOTH
        # streams, minus the 10-minute delay) has released — reproduced
        # in the oracle by DuckDB's native ASOF LEFT JOIN plus the same
        # integer-microsecond release predicate.  (views are unique per
        # (user_id, ts) in the testdata, satisfying the operator's
        # right-side uniqueness contract without a streaming pre-agg.)
        from pandarus_spark.streaming.stream import stream_asof_join
        ev_path = f"{sf_dir}/events.parquet"
        schema = spark.read.parquet(ev_path).schema
        src = _stream_src(ev_path)
        ev = spark.readStream.schema(schema).parquet(src)
        clicks = (ev.filter(F.col("event_type") == "click")
                    .select("event_id", "user_id", "ts"))
        views = (ev.filter(F.col("event_type") == "view")
                   .select("user_id", "ts", F.col("value").alias("view_value")))
        out = stream_asof_join(clicks, views, key_col="user_id", ts_col="ts",
                               left_id_col="event_id",
                               right_value_col="view_value",
                               watermark="10 minutes")
        rows = _run_available_now(out, [src])
        return spark.createDataFrame(
            rows, "user_id long, event_id long, ts timestamp, "
                  "matched_value double")

    def q_stream_simhash_docs(spark, sf_dir):
        # streaming near-dup replay gate (r4 verdict #4): documents
        # replayed availableNow through the banded stateful matcher.
        # A pair is emitted at most once per matching band regardless
        # of batch interleaving (each doc pairs only with state seen
        # BEFORE it), so distinct (doc_a, doc_b, hamming) equals the
        # batch simhash_neardup_pairs set exactly — pigeonhole recall,
        # same empty-text predicate; the oracle is the same SQL the
        # batch gate uses.
        from pandarus_spark.streaming.stream import stream_simhash_neardup
        docs_path = f"{sf_dir}/documents.parquet"
        schema = spark.read.parquet(docs_path).schema
        src = _stream_src(docs_path)
        stream = (spark.readStream.schema(schema).parquet(src)
                  .filter(F.col("doc_id") < 150))
        out = stream_simhash_neardup(stream.select("doc_id", "text"),
                                     max_hamming=3, bands=4)
        rows = _run_available_now(out, [src])
        df = spark.createDataFrame(
            rows, "doc_a long, doc_b long, hamming int, band int")
        return df.select("doc_a", "doc_b", "hamming").distinct()

    def q_dup_span_intervals_docs(spark, sf_dir):
        # maximal duplicated-span inventory (r4 verdict #6): merged
        # k-gram covers == per-doc union of maximal >=k-word shared
        # substrings (quadratic-reference parity pinned in
        # tests/test_decontam_lm.py)
        return D.dup_span_intervals(_docs(spark, sf_dir), k=5)

    def q_dsir_weights_docs(spark, sf_dir):
        # DSIR importance weights toward the src0 "target domain":
        # hashed-bucket log-likelihood ratios in integer micro-nats
        return T.dsir_weights(_docs(spark, sf_dir),
                              F.col("source") == "src0", n_buckets=64)

    def q_repetition_stats_docs(spark, sf_dir):
        # Gopher repetition-rule family: duplicate-line counts/chars +
        # the top word-2-gram per document (integer/string output only)
        return T.repetition_stats(_docs(spark, sf_dir))

    def q_mix_allocation_docs(spark, sf_dir):
        # power-weighted (alpha=2) largest-remainder source allocation
        return C.mix_allocation(_docs(spark, sf_dir), 100, alpha=2)

    def q_mix_select_docs(spark, sf_dir):
        # the exact deterministic draw of that allocation (histogram
        # threshold + boundary top-up == naive per-source rank)
        return C.mix_select(_docs(spark, sf_dir), 100, alpha=2,
                            n_buckets=64)

    def q_spatial_clusters_points(spark, sf_dir):
        # eps-connectivity clustering over the deterministic global
        # point cloud (distance_join eps-graph -> connected components)
        from pandarus_spark.operators.distance import spatial_clusters
        return spatial_clusters(_points_from_docs(spark, sf_dir),
                                _DIST_RADIUS_M)

    def q_stream_tiles_docs(spark, sf_dir):
        # streaming tiling replay gate: synthetic pages streamed
        # availableNow through the stateless extract+tile operator;
        # doc boxes are uniform 0.05 degrees so pick_resolution lands
        # at the target res 12 for every feature, and the oracle is
        # the shared integer cell-cover SQL over the doc_box formula
        import os
        import shutil
        import tempfile

        from pandarus_spark.sources.pages import pages_from_documents
        from pandarus_spark.streaming.stream import stream_tile_assignments
        pages = pages_from_documents(
            _docs(spark, sf_dir).filter(F.col("doc_id") < 300), "base")
        src = tempfile.mkdtemp(prefix="ps_stream_pages_")
        try:
            pages.coalesce(2).write.mode("overwrite").parquet(src)
            schema = spark.read.parquet(src).schema
            stream = spark.readStream.schema(schema).parquet(src)
            out = stream_tile_assignments(stream, res=12, max_cells=64)
            rows = _run_available_now(out, [])
        finally:
            shutil.rmtree(src, ignore_errors=True)
        df = spark.createDataFrame(
            rows, "feature_id long, label string, warc_ts timestamp, "
                  "cell long")
        return df.select("label", "cell")

    def q_stream_hll_docs(spark, sf_dir):
        # streaming HLL replay gate: the 2^p-bounded streaming state is
        # the sketch; the final complete-mode table (zero-filled) must
        # equal the batch register table over the same keys
        import shutil
        import tempfile

        from pandarus_spark.streaming.stream import stream_hll_registers
        docs = _docs(spark, sf_dir).select("doc_id")
        src = tempfile.mkdtemp(prefix="ps_stream_hll_")
        last: list = []

        def sink(df, _epoch):
            last.clear()                      # complete mode: latest wins
            last.extend(df.collect())

        ck = tempfile.mkdtemp(prefix="ps_stream_hll_ck_")
        try:
            docs.coalesce(4).write.mode("overwrite").parquet(src)
            stream = spark.readStream.schema(docs.schema).parquet(src)
            out = stream_hll_registers(stream, "doc_id", p=8)
            qy = (out.writeStream.foreachBatch(sink)
                  .outputMode("complete")
                  .option("checkpointLocation", ck)
                  .trigger(availableNow=True).start())
            if not qy.awaitTermination(300):
                qy.stop()
                raise TimeoutError("streaming HLL replay did not finish")
        finally:
            shutil.rmtree(ck, ignore_errors=True)
            shutil.rmtree(src, ignore_errors=True)
        regs = spark.createDataFrame(last, "bucket long, reg int")
        full = spark.range(1 << 8).select(F.col("id").alias("bucket"))
        return (full.join(regs, "bucket", "left").na.fill({"reg": 0})
                    .select("bucket", F.col("reg").cast("int").alias("reg")))

    def q_pmi_collocations_docs(spark, sf_dir):
        # top-20 adjacent-word collocations by integer micro-nat PMI
        return T.pmi_collocations(_docs(spark, sf_dir), k=20, min_count=3)

    def q_ccnet_split_docs(spark, sf_dir):
        # CCNet head/middle/tail: per-language LM-score quantile split
        # (bucketed rank == naive per-language window by construction)
        return T.ccnet_split(_docs(spark, sf_dir))

    def q_pagerank_docs(spark, sf_dir):
        # integer-exact PageRank over a deterministic synthetic link
        # graph (two modular out-links per page)
        from pandarus_spark.operators.graph import pagerank
        d = _docs(spark, sf_dir)
        n = d.count()
        e1 = d.select(F.col("doc_id").alias("src"),
                      ((F.col("doc_id") * 7 + 1) % n).alias("dst"))
        e2 = d.select(F.col("doc_id").alias("src"),
                      ((F.col("doc_id") * 13 + 2) % n).alias("dst"))
        return pagerank(e1.unionByName(e2), n_iters=5)

    def q_editdist_docs(spark, sf_dir):
        # typo-tolerant key join: deletion-neighborhood candidates
        # must equal the brute-force Levenshtein<=1 join over short
        # synthetic keys rich in equal/insert/delete/substitute pairs
        from pandarus_spark.operators.dedup import editdist1_pairs
        keyed = _docs(spark, sf_dir).select(
            "doc_id",
            F.expr("concat('w', CAST(doc_id % 40 AS STRING), "
                   "IF(doc_id % 3 = 0, 'x', ''))").alias("text"))
        return editdist1_pairs(keyed)

    def q_map_algebra_raster(spark, sf_dir):
        # cell-wise raster combine (Tomlin local op) over two sparse
        # synthetic rasters with DIFFERENT hole patterns — the inner
        # join is the nodata-propagation rule under test
        from pandarus_spark.operators.raster_stats import map_algebra
        d = _docs(spark, sf_dir)
        base = d.select((F.col("doc_id") % 25).alias("row"),
                        ((F.col("doc_id") / 25).cast("long") % 20)
                        .alias("col"))
        a = (base.select("row", "col",
                         ((F.col("row") * 31 + F.col("col") * 17) % 97)
                         .cast("double").alias("value"))
                 .filter((F.col("row") + F.col("col")) % 9 != 4))
        b = (base.select("row", "col",
                         ((F.col("row") * 7 + F.col("col") * 3) % 53)
                         .cast("double").alias("value"))
                 .filter((F.col("row") * F.col("col")) % 7 != 2))
        return map_algebra(a, b, "mul")

    def q_clustering_coef_docs(spark, sf_dir):
        # local clustering coefficient over triangle-rich block edges
        # (ring + skip chord closes triangles along every block)
        from pandarus_spark.operators.graph import clustering_coefficient
        d = _docs(spark, sf_dir)
        base = F.col("doc_id") - (F.col("doc_id") % 10)
        pos = F.col("doc_id") % 10
        e1 = d.select(F.col("doc_id").alias("src"),
                      (base + (pos + 1) % 10).alias("dst"))
        e2 = d.select(F.col("doc_id").alias("src"),
                      (base + (pos + 2) % 10).alias("dst"))
        return clustering_coefficient(e1.unionByName(e2))

    def q_kcore_docs(spark, sf_dir):
        # 2-core peeling: block rings (deg 2 survives) + pendant tails
        # hanging off every block (peeled over successive rounds)
        from pandarus_spark.operators.graph import kcore
        d = _docs(spark, sf_dir)
        n = d.count()
        base = F.col("doc_id") - (F.col("doc_id") % 10)
        pos = F.col("doc_id") % 10
        e1 = d.select(F.col("doc_id").alias("src"),
                      (base + (pos + 1) % 10).alias("dst"))
        e2 = (d.filter(pos < 2)
               .select(F.col("doc_id").alias("src"),
                       (F.col("doc_id") + n).alias("dst")))
        e3 = (d.filter(pos < 1)
               .select((F.col("doc_id") + n).alias("src"),
                       (F.col("doc_id") + 2 * n).alias("dst")))
        return kcore(e1.unionByName(e2).unionByName(e3),
                     k=2, n_rounds=3)

    def q_horn_raster(spark, sf_dir):
        # Horn's-method gradient numerators over the focal gate's
        # synthetic sparse raster (integer-exact; border + near-hole
        # cells drop via the complete-window rule)
        from pandarus_spark.operators.raster_stats import horn_gradient
        cells = (_docs(spark, sf_dir).select(
            (F.col("doc_id") % 25).alias("row"),
            ((F.col("doc_id") / 25).cast("long") % 20).alias("col"),
            ((F.col("doc_id") * 13) % 89).cast("double").alias("value"))
            .filter((F.col("row") + F.col("col")) % 9 != 4))
        return horn_gradient(cells)

    def q_tile_heatmap_pages(spark, sf_dir):
        # the geospatial capstone COMPOSITION gate (the domain_rank
        # pattern): documents → synthetic base pages → extract →
        # res-8 cell cover → per-cell feature counts → focal
        # smoothing over the decoded (iy, ix) grid → top-20 hottest
        # cells; every stage is an already-gated operator
        from pandarus_spark.operators.raster_stats import focal_statistics
        from pandarus_spark.tiling.cells import Y_SHIFT
        docs = _docs(spark, sf_dir)
        base = extract_features(pages_from_documents(docs, "base"),
                                validate_unique=False)
        covers = ps.cover_features(base, res=8, max_cells=256)
        counts = covers.groupBy("cell").agg(F.count("*").alias("n"))
        mask = (1 << Y_SHIFT) - 1
        cellxy = counts.select(
            F.expr(f"CAST((cell >> {Y_SHIFT}) & {mask} AS LONG)")
             .alias("row"),
            F.expr(f"CAST(cell & {mask} AS LONG)").alias("col"),
            F.col("n").cast("double").alias("value"))
        heat = focal_statistics(cellxy, radius=1)
        return (heat.select("row", "col", "n_nbrs",
                            F.col("sum_val").cast("long").alias("heat"))
                    .orderBy(F.desc("heat"), "row", "col").limit(20))

    def q_focal_raster(spark, sf_dir):
        # focal (moving-window) stats over a deterministic sparse
        # synthetic raster: doc_id maps bijectively to a 25x20 grid,
        # (row+col)%9==4 cells are holes (partial-window semantics)
        from pandarus_spark.operators.raster_stats import focal_statistics
        cells = (_docs(spark, sf_dir).select(
            (F.col("doc_id") % 25).alias("row"),
            ((F.col("doc_id") / 25).cast("long") % 20).alias("col"),
            ((F.col("doc_id") * 13) % 89).cast("double").alias("value"))
            .filter((F.col("row") + F.col("col")) % 9 != 4))
        return focal_statistics(cells, radius=1)

    def q_hull_points(spark, sf_dir):
        # per-key convex hull over parabola points (all hull vertices
        # by convexity) plus strictly interior points that must be
        # excluded; per-key modulus varies the hull; integer coords so
        # every cross product is exact
        from pandarus_spark.operators.hull import convex_hull_stats
        d = _docs(spark, sf_dir).select("doc_id")
        base = d.select(
            F.expr("CAST('k' || (doc_id % 4) AS STRING)").alias("key"),
            F.expr("(doc_id % (21 + doc_id % 4)) - 10").alias("x"))
        pts = (base.select("key", "x", F.expr("x * x").alias("y"))
               .unionByName(
                   base.filter(F.expr("abs(x) <= 8"))
                       .select("key", "x",
                               F.expr("(x * x) DIV 2 + 40").alias("y"))))
        return convex_hull_stats(pts)

    def q_simplify_docs(spark, sf_dir):
        # Douglas–Peucker over deterministic zigzag-plus-step
        # polylines (12 points per doc, amplitude varies by doc);
        # integer kept-vertex statistics only
        from pandarus_spark.geometry import geom as G
        from pandarus_spark.operators.simplify import simplify_lines
        d = _docs(spark, sf_dir).select("doc_id")

        def gen(it):
            import pandas as pd
            for pdf in it:
                rows = {"feature_id": [], "label": [], "geom_wkb": [],
                        "kind": []}
                for did in pdf["doc_id"]:
                    amp = float(did % 5) * 0.1
                    coords = [[float(j),
                               (3.0 if j >= 6 else 0.0)
                               + (j % 2) * amp] for j in range(12)]
                    g = {"type": "LineString", "coordinates": coords}
                    rows["feature_id"].append(int(did))
                    rows["label"].append(f"f{did}")
                    rows["geom_wkb"].append(G.wkb_dumps(g))
                    rows["kind"].append("line")
                yield pd.DataFrame(rows)

        feats = d.mapInPandas(
            gen, schema="feature_id long, label string, "
                        "geom_wkb binary, kind string")
        return (simplify_lines(feats, eps=0.25, project=False)
                .select(F.col("feature_id").alias("doc_id"),
                        "n_points", "n_kept", "idx_sum", "idx_sq_sum"))

    def q_centroids_grid(spark, sf_dir):
        # per-feature centroids of the grid + square fixtures against
        # the closed-form projected-quad centroid
        from pandarus_spark.operators.dissolve import centroids
        feats = _fixtures(spark, "grid").unionByName(
            _fixtures(spark, "square"))
        return centroids(feats).select("label", "cx_mm", "cy_mm")

    def q_dissolve_lines(spark, sf_dir):
        # line dissolve: equator segment chains per key with exact
        # duplicates and overlaps — union length must merge both
        from pandarus_spark.geometry import geom as G
        from pandarus_spark.operators.dissolve import dissolve_length
        d = _docs(spark, sf_dir).select("doc_id")

        def gen(it):
            import pandas as pd
            for pdf in it:
                rows = {"feature_id": [], "label": [], "geom_wkb": [],
                        "kind": [], "k": []}
                for did in pdf["doc_id"]:
                    a = float(did % 40) * 0.3
                    segs = [(a, a + 1.5)]
                    if did % 8 < 4:
                        segs.append((a + 20.0, a + 20.6))
                    for j, (x0, x1) in enumerate(segs):
                        g = {"type": "LineString",
                             "coordinates": [[x0, 0.0], [x1, 0.0]]}
                        rows["feature_id"].append(int(did) * 2 + j)
                        rows["label"].append(f"f{did}_{j}")
                        rows["geom_wkb"].append(G.wkb_dumps(g))
                        rows["kind"].append("line")
                        rows["k"].append(f"k{did % 4}")
                yield pd.DataFrame(rows)

        feats = d.mapInPandas(
            gen, schema="feature_id long, label string, "
                        "geom_wkb binary, kind string, k string")
        return dissolve_length(feats, key_col="k")

    def q_dissolve_points(spark, sf_dir):
        # point dissolve: distinct-count per key over a coincident-
        # heavy synthetic point cloud
        from pandarus_spark.geometry import geom as G
        from pandarus_spark.operators.dissolve import dissolve_points
        d = _docs(spark, sf_dir).select("doc_id")

        def gen(it):
            import pandas as pd
            for pdf in it:
                rows = {"feature_id": [], "label": [], "geom_wkb": [],
                        "kind": [], "k": []}
                for did in pdf["doc_id"]:
                    g = {"type": "Point",
                         "coordinates": [float(did % 30) * 0.5 - 5.0,
                                         float(did % 20) * 0.5 - 5.0]}
                    rows["feature_id"].append(int(did))
                    rows["label"].append(f"f{did}")
                    rows["geom_wkb"].append(G.wkb_dumps(g))
                    rows["kind"].append("point")
                    rows["k"].append(f"k{did % 4}")
                yield pd.DataFrame(rows)

        feats = d.mapInPandas(
            gen, schema="feature_id long, label string, "
                        "geom_wkb binary, kind string, k string")
        return dissolve_points(feats, key_col="k")

    def q_bpe_merges_docs(spark, sf_dir):
        # BPE vocabulary learning: first 6 merges on the corpus's own
        # word distribution, replace-based greedy application
        from pandarus_spark.operators.bpe import bpe_merges
        return bpe_merges(_docs(spark, sf_dir), n_merges=6)

    def q_bpe_tokenize_docs(spark, sf_dir):
        # learned merges applied back to every document (token +
        # char counts) — the vocabulary-coverage read
        from pandarus_spark.operators.bpe import bpe_merges, bpe_tokenize
        m = bpe_merges(_docs(spark, sf_dir), n_merges=6)
        merges = [(r.lhs, r.rhs) for r in m.orderBy("step").collect()]
        return bpe_tokenize(_docs(spark, sf_dir), merges)

    def q_dissolve_grid(spark, sf_dir):
        # dissolve (union-by-key measure): grid cells keyed by parity,
        # PLUS a duplicated copy of every cell — the union must
        # collapse the duplicates, so a naive per-key area sum
        # (double the truth) fails the gate
        from pandarus_spark.operators.dissolve import dissolve_measure
        grid = _fixtures(spark, "grid")
        dup = grid.withColumn("feature_id", F.col("feature_id") + 100)
        feats = grid.unionByName(dup).withColumn(
            "k", F.expr("CAST(CAST(substring(label, 11, 2) AS INT) % 2 "
                        "AS STRING)"))
        return dissolve_measure(feats, key_col="k")

    def q_zorder_docs(spark, sf_dir):
        # Morton-key spatial layout: deterministic synthetic lon/lat
        # from doc_id, exact rank-based bucket twin of the
        # repartitionByRange production path
        from pandarus_spark.operators.layout import zorder_buckets_exact
        pts = _docs(spark, sf_dir).select(
            "doc_id",
            F.expr("CAST((doc_id * 37) % 360 AS DOUBLE) - 180.0 + 0.25")
             .alias("lon"),
            F.expr("CAST((doc_id * 7) % 180 AS DOUBLE) - 90.0 + 0.25")
             .alias("lat"))
        return zorder_buckets_exact(pts, bits=16, n_buckets=8)

    def q_label_prop_docs(spark, sf_dir):
        # deterministic LPA communities over block-structured synthetic
        # edges: dense 10-page rings with chords, sparse bridges
        # between consecutive blocks
        from pandarus_spark.operators.graph import label_propagation
        d = _docs(spark, sf_dir)
        n = d.count()
        base = F.col("doc_id") - (F.col("doc_id") % 10)
        pos = F.col("doc_id") % 10
        e1 = d.select(F.col("doc_id").alias("src"),
                      (base + (pos + 1) % 10).alias("dst"))
        e2 = (d.filter(F.col("doc_id") % 2 == 0)
               .select(F.col("doc_id").alias("src"),
                       (base + (pos + 3) % 10).alias("dst")))
        e3 = (d.filter(pos == 0)
               .select(F.col("doc_id").alias("src"),
                       ((F.col("doc_id") + 10) % n).alias("dst")))
        return label_propagation(e1.unionByName(e2).unionByName(e3),
                                 n_iters=4)

    def q_dedup_keepers_docs(spark, sf_dir):
        # quality-aware dedup: same simhash clusters as
        # dup_clusters_docs, but keep the highest-quality member
        # (integer micro-quality; tie -> min id)
        docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 150)
        pairs = D.simhash_neardup_pairs(docs, max_hamming=3, bands=4)
        clusters = D.duplicate_clusters(pairs, universe=docs)
        scores = docs.select(
            "doc_id",
            F.round(T.quality_score(F.col("text")) * 1e6)
             .cast("long").alias("score"))
        return D.cluster_keepers(clusters, scores)

    def q_length_quantiles_docs(spark, sf_dir):
        # exact token-count quantiles per language via the bounded
        # histogram (the scale path for corpus-wide distributions)
        d = _docs(spark, sf_dir).select(
            F.col("lang"), T.token_count(F.col("text")).alias("n_tokens"))
        return C.hist_quantiles(d, "n_tokens", group_col="lang")

    def q_hits_docs(spark, sf_dir):
        # integer-exact HITS hubs/authorities over the same synthetic
        # two-out-link graph as pagerank_docs (L-inf normalization)
        from pandarus_spark.operators.graph import hits
        d = _docs(spark, sf_dir)
        n = d.count()
        e1 = d.select(F.col("doc_id").alias("src"),
                      ((F.col("doc_id") * 7 + 1) % n).alias("dst"))
        e2 = d.select(F.col("doc_id").alias("src"),
                      ((F.col("doc_id") * 13 + 2) % n).alias("dst"))
        return hits(e1.unionByName(e2), n_iters=3)

    def q_winnow_docs(spark, sf_dir):
        # MOSS winnowing fingerprints: per-window min shingle hash,
        # rightmost on ties, deduped — integer-exact packed-key circuit
        return D.winnow_fingerprints(_docs(spark, sf_dir), k=4, w=5)

    def q_domain_rank_docs(spark, sf_dir):
        # the capstone web-pipeline composition: link-laced pages over
        # SEVEN synthetic hosts -> extract_links -> registrable domain
        # of src and dst -> hash60 node ids -> integer-exact PageRank
        # -> join the domain labels back.  Every stage is an existing
        # gated operator; this pins that they COMPOSE end-to-end.
        from pandarus_spark.operators.dedup import hash60
        from pandarus_spark.operators.graph import pagerank
        d = _docs(spark, sf_dir)
        n = d.count()
        i = F.col("doc_id")
        host = F.concat(F.lit("site"), (i % 7).cast("string"),
                        F.lit(".example"))
        dst_host = F.concat(F.lit("site"), (((i * 7 + 1) % n) % 7)
                            .cast("string"), F.lit(".example"))
        html = F.concat(
            F.lit('<html><body><a href="https://'), dst_host,
            F.lit('/page/'), ((i * 7 + 1) % n).cast("string"),
            F.lit('">next</a></body></html>'))
        pages = d.select(
            F.concat(F.lit("https://"), host, F.lit("/page/"),
                     i.cast("string")).alias("url"),
            F.encode(html, "utf-8").alias("html"))
        links = C.extract_links(pages)
        edges = (links.select(
                    C.url_domain(F.col("src_url")).alias("sd"),
                    C.url_domain(F.col("dst_url")).alias("dd"))
                 .filter(F.col("sd") != F.col("dd"))
                 .select(hash60(F.col("sd")).alias("src"),
                         hash60(F.col("dd")).alias("dst"),
                         F.col("sd"), F.col("dd")))
        labels = (edges.select(F.col("src").alias("node"),
                               F.col("sd").alias("domain"))
                  .unionByName(edges.select(F.col("dst").alias("node"),
                                            F.col("dd").alias("domain")))
                  .distinct())
        ranks = pagerank(edges.select("src", "dst"), n_iters=3)
        return (ranks.join(labels, "node")
                     .select("domain", "rank_micro"))

    def q_normalize_docs(spark, sf_dir):
        # pre-tokenization text normalization (punct-stripping mode)
        return C.normalize_docs(_docs(spark, sf_dir), strip_punct=True)

    def q_containment_docs(spark, sf_dir):
        # asymmetric shingle containment (quote/subset detection) at a
        # 50% either-direction bar, df valve at 50
        return D.containment_pairs(_docs(spark, sf_dir), k=3,
                                   threshold_micro=500_000, max_df=50)

    def q_stream_delta_docs(spark, sf_dir):
        # streaming replay gate for stream_crawl_delta: the new-crawl
        # subset (same construction as crawl_delta_docs) replayed
        # availableNow against the static old side; stateless, so the
        # replay equals batch crawl_delta minus its 'removed' rows
        from pandarus_spark.streaming.stream import stream_crawl_delta
        docs_path = f"{sf_dir}/documents.parquet"
        schema = spark.read.parquet(docs_path).schema
        src = _stream_src(docs_path)
        old = (spark.read.parquet(docs_path)
               .filter(F.col("doc_id") % 17 != 0).select("doc_id", "text"))
        i = F.col("doc_id")
        new = (spark.readStream.schema(schema).parquet(src)
               .filter(i % 5 != 1)
               .select("doc_id",
                       F.when(i % 13 == 0, F.concat(F.col("text"),
                                                    F.lit(" v2")))
                        .otherwise(F.col("text")).alias("text")))
        out = stream_crawl_delta(new, old)
        rows = _run_available_now(out, [src])
        return spark.createDataFrame(
            [(r["doc_id"], r["status"]) for r in rows],
            "doc_id long, status string")

    def q_token_spectrum_docs(spark, sf_dir):
        # Zipf frequency-of-frequencies spectrum over the corpus
        return T.token_spectrum(_docs(spark, sf_dir))

    def q_link_reciprocity_docs(spark, sf_dir):
        # per-node reciprocity over a graph with guaranteed two-way
        # pairs (i <-> i+1 for even i) plus one-way modular links
        from pandarus_spark.operators.graph import link_reciprocity
        d = _docs(spark, sf_dir)
        n = d.count()
        i = F.col("doc_id")
        fwd = d.select(i.alias("src"), ((i + 1) % n).alias("dst"))
        back = (d.filter(i % 2 == 0)
                 .select(((i + 1) % n).alias("src"), i.alias("dst")))
        oneway = d.select(i.alias("src"), ((i * 7 + 1) % n).alias("dst"))
        return link_reciprocity(
            fwd.unionByName(back).unionByName(oneway))

    def q_anchor_terms_docs(spark, sf_dir):
        # anchor-text index over the synthetic link graph: doc i links
        # to (7i+1)%n with an anchor phrase chosen by i%4 and to
        # /rel/(13i+2)%n with anchor "more info"; every 5th page bare
        d = _docs(spark, sf_dir)
        n = d.count()
        i = F.col("doc_id")
        phrase = F.element_at(
            F.array(F.lit("click here"), F.lit("read more"),
                    F.lit("official site"), F.lit("next page")),
            (i % 4 + 1).cast("int"))
        links = F.concat(
            F.lit('<a href="https://example.org/page/'),
            ((i * 7 + 1) % n).cast("string"), F.lit('">'), phrase,
            F.lit('</a><a href="/rel/'),
            ((i * 13 + 2) % n).cast("string"), F.lit('">more info</a>'))
        html = F.concat(F.lit("<html><body>"),
                        F.when(i % 5 == 0, F.lit("")).otherwise(links),
                        F.lit("</body></html>"))
        pages = d.select(
            F.concat(F.lit("https://example.org/page/"),
                     i.cast("string")).alias("url"),
            F.encode(html, "utf-8").alias("html"))
        return C.anchor_terms(C.extract_links(pages), k=3)

    def q_crawl_delta_docs(spark, sf_dir):
        # incremental-crawl snapshot diff: old drops doc_id%17==0,
        # new drops doc_id%5==1 and rewrites doc_id%13==0 texts
        d = _docs(spark, sf_dir)
        old = d.filter(F.col("doc_id") % 17 != 0).select("doc_id", "text")
        new = (d.filter(F.col("doc_id") % 5 != 1)
                .select("doc_id",
                        F.when(F.col("doc_id") % 13 == 0,
                               F.concat(F.col("text"), F.lit(" v2")))
                         .otherwise(F.col("text")).alias("text")))
        return C.crawl_delta(old, new)

    def q_winnow_pairs_docs(spark, sf_dir):
        # local-overlap candidate pairs via shared winnowing
        # fingerprints (min_shared=2, boilerplate valve at df<=50)
        return D.winnow_overlap_pairs(_docs(spark, sf_dir), k=4, w=5,
                                      min_shared=2, max_df=50)

    def q_triangles_docs(spark, sf_dir):
        # per-node triangle counts over a deterministic chain+skip+
        # modular graph: (i, i+1), (i, i+2) guarantee n triangles,
        # (i, 7i+1) adds irregular degree so the degree-ordered
        # orientation path is exercised
        from pandarus_spark.operators.graph import triangles
        d = _docs(spark, sf_dir)
        n = d.count()
        i = F.col("doc_id")
        e = (d.select(i.alias("src"), ((i + 1) % n).alias("dst"))
              .unionByName(d.select(i.alias("src"),
                                    ((i + 2) % n).alias("dst")))
              .unionByName(d.select(i.alias("src"),
                                    ((i * 7 + 1) % n).alias("dst"))))
        return triangles(e)

    def q_bm25_docs(spark, sf_dir):
        # integer-exact BM25 top-k retrieval against the corpus's own
        # vocabulary (detmath idf, 10*sdl-scaled rational tf component)
        return T.bm25_topk(_docs(spark, sf_dir),
                           ("spark", "join", "window"), k=25)

    def q_extract_links_docs(spark, sf_dir):
        # outlink extraction from synthetic link-laced pages: doc i's
        # page carries an absolute link to page (7i+1) mod n, a
        # relative link to /rel/(13i+2) mod n (empty anchor), and
        # every 5th page has no links at all
        d = _docs(spark, sf_dir)
        n = d.count()
        i = F.col("doc_id")
        links = F.concat(
            F.lit('<a href="https://example.org/page/'),
            ((i * 7 + 1) % n).cast("string"), F.lit('">next</a>'),
            F.lit('<a href="/rel/'),
            ((i * 13 + 2) % n).cast("string"), F.lit('"></a>'))
        html = F.concat(F.lit("<html><body>"),
                        F.when(i % 5 == 0, F.lit("")).otherwise(links),
                        F.lit("</body></html>"))
        pages = d.select(
            F.concat(F.lit("https://example.org/page/"),
                     i.cast("string")).alias("url"),
            F.encode(html, "utf-8").alias("html"))
        return C.extract_links(pages)

    def q_lsh_join_docs(spark, sf_dir):
        # cross-corpus near-dup join (incremental-crawl shape): docs
        # with doc_id % 3 == 0 play the new crawl, the rest the corpus
        d = _docs(spark, sf_dir)
        left = d.filter(F.col("doc_id") % 3 == 0)
        right = d.filter(F.col("doc_id") % 3 != 0)
        return D.minhash_lsh_join(left, right, num_hashes=16, bands=8,
                                  k=3, threshold=0.5)

    def q_hll_registers_docs(spark, sf_dir):
        # integer-exact HyperLogLog register table over doc ids
        from pandarus_spark.operators import sketch as K
        return K.hll_registers(_docs(spark, sf_dir), "doc_id", p=8)

    def q_hll_estimate_docs(spark, sf_dir):
        # cardinality estimate over the exploded token stream
        # (rational-alpha raw branch or detmath linear counting —
        # both integer-exact)
        from pandarus_spark.operators import sketch as K
        toks = _docs(spark, sf_dir).select(
            F.explode(D.words(F.col("text"))).alias("t"))
        return K.hll_estimate(toks, "t", p=10)

    def q_hll_by_lang_docs(spark, sf_dir):
        # per-group cardinality accounting (vocabulary per language) —
        # grouped HLL with algebraic empty buckets, never a per-group grid
        from pandarus_spark.operators import sketch as K
        d = _docs(spark, sf_dir)
        toks = d.select("lang", F.explode(D.words(F.col("text"))).alias("t"))
        return (K.hll_estimate_by(toks, "t", "lang", p=8)
                .withColumnRenamed("grp", "lang"))

    def q_cms_counts_docs(spark, sf_dir):
        # count-min sketch build + probe: bounded-memory token
        # frequencies; probes are the (deterministic) tokens of the 8
        # lowest doc ids, so the gate exercises both halves
        from pandarus_spark.operators import sketch as K
        d = _docs(spark, sf_dir)
        toks = d.select(F.col("doc_id"),
                        F.explode(D.words(F.col("text"))).alias("t"))
        grid = K.cms_counters(toks, "t", d=4, w=512)
        probes = toks.filter(F.col("doc_id") < 8).select("t")
        return K.cms_lookup(grid, probes, "t", d=4, w=512)

    def q_bottomk_sample_docs(spark, sf_dir):
        # exactly-k uniform sample by salted bottom-k hash — the
        # fixed-size eval-set carve; two-stage salted selection, never
        # a global sort of the corpus
        return C.bottomk_sample(_docs(spark, sf_dir), k=25)

    def q_cube_revenue_lineitem(spark, sf_dir):
        # relational breadth: CUBE grouping sets (Catalyst Expand
        # operator) — revenue in integer cents so every subtotal is an
        # order-free int64 sum
        li = _li(spark, sf_dir)
        cents = F.round(F.col("l_extendedprice") * 100).cast("long")
        return (li.cube("l_returnflag", "l_linestatus")
                  .agg(F.sum(cents).alias("sum_cents"),
                       F.count("*").alias("n_rows"))
                  .select(F.coalesce("l_returnflag", F.lit("ALL"))
                           .alias("returnflag"),
                          F.coalesce("l_linestatus", F.lit("ALL"))
                           .alias("linestatus"),
                          "sum_cents", "n_rows"))

    def q_bigram_logprob_docs(spark, sf_dir):
        # conditional perplexity proxy: add-one-smoothed bigram LM,
        # integer micro-nat output (no float anywhere)
        return T.bigram_logprob(_docs(spark, sf_dir))

    def q_trigram_backoff_docs(spark, sf_dir):
        # trigram LM with stupid backoff (Brants et al. 2007) — the
        # web-scale counting LM; integer micro-nat output throughout
        return T.trigram_backoff_logprob(_docs(spark, sf_dir))

    def q_blocklist_filter_docs(spark, sf_dir):
        # domain blocklist pass over a deterministic multi-domain URL
        # column (35 distinct registrable domains; 3 blocked)
        url = F.concat(F.lit("https://WWW.host"),
                       (F.col("doc_id") % 7).cast("string"),
                       F.lit(".tld"), (F.col("doc_id") % 5).cast("string"),
                       F.lit("/p/"), F.col("doc_id").cast("string"))
        pages = _docs(spark, sf_dir).select("doc_id", url.alias("url"))
        blocked = spark.createDataFrame(
            [("host0.tld0",), ("host1.tld2",), ("host3.tld4",)],
            "domain string")
        return C.blocklist_filter(pages, blocked).select("doc_id", "domain")

    def q_semantic_dedup_embeddings(spark, sf_dir):
        # SemDeDup: smallest-id seed codebook, within-cluster cosine
        # near-dup marking (lowest-id keeper)
        return S.semantic_dedup(_emb(spark, sf_dir), n_clusters=8,
                                threshold=0.4)

    # DICT ORDER IS LOAD-BEARING: the driver's correctness gate runs
    # exactly the FIRST 50 entries; tools/check_oracles.py runs all.
    return {
        # (a) gates no driver round (CORRECTNESS_r01-r05) recorded green
        "unigram_logprob_docs": q_unigram_logprob_docs,
        "pagerank_docs": q_pagerank_docs,
        "mix_allocation_docs": q_mix_allocation_docs,
        "hll_registers_docs": q_hll_registers_docs,
        "spatial_clusters_points": q_spatial_clusters_points,
        "hll_estimate_docs": q_hll_estimate_docs,
        "blocklist_filter_docs": q_blocklist_filter_docs,
        "ccnet_split_docs": q_ccnet_split_docs,
        "pmi_collocations_docs": q_pmi_collocations_docs,
        "stream_tiles_docs": q_stream_tiles_docs,
        "postings_hot_docs": q_postings_hot_docs,
        "hll_by_lang_docs": q_hll_by_lang_docs,
        "cms_counts_docs": q_cms_counts_docs,
        "bottomk_sample_docs": q_bottomk_sample_docs,
        "cube_revenue_lineitem": q_cube_revenue_lineitem,
        "extract_links_docs": q_extract_links_docs,
        "lsh_join_docs": q_lsh_join_docs,
        "stream_hll_docs": q_stream_hll_docs,
        "hits_docs": q_hits_docs,
        "length_quantiles_docs": q_length_quantiles_docs,
        "dedup_keepers_docs": q_dedup_keepers_docs,
        "triangles_docs": q_triangles_docs,
        "bm25_docs": q_bm25_docs,
        "winnow_docs": q_winnow_docs,
        "winnow_pairs_docs": q_winnow_pairs_docs,
        "crawl_delta_docs": q_crawl_delta_docs,
        "anchor_terms_docs": q_anchor_terms_docs,
        "token_spectrum_docs": q_token_spectrum_docs,
        "link_reciprocity_docs": q_link_reciprocity_docs,
        "stream_delta_docs": q_stream_delta_docs,
        "containment_docs": q_containment_docs,
        "normalize_docs": q_normalize_docs,
        "domain_rank_docs": q_domain_rank_docs,
        "tile_heatmap_pages": q_tile_heatmap_pages,
        "horn_raster": q_horn_raster,
        "clustering_coef_docs": q_clustering_coef_docs,
        "kcore_docs": q_kcore_docs,
        "map_algebra_raster": q_map_algebra_raster,
        "editdist_docs": q_editdist_docs,
        # (b) gates whose code changed since their last driver proof
        # (dedup signatures and cluster stop rule)
        "minhash_sigs_docs": q_minhash_sigs_docs,
        "lsh_pairs_docs": q_lsh_pairs_docs,
        "dup_clusters_docs": q_dup_clusters_docs,
        "clean_corpus": q_clean_corpus,
        # (c) long-proven sentinels: one intersect, one zonal, one
        # streaming gate
        "intersect_grid_square": q_intersect_grid_square,
        "zonal_coverage": q_zonal_coverage,
        "stream_sessions": q_stream_sessions,
        # (d) driver-proven gates with unchanged code, previous order
        "training_corpus": q_training_corpus,
        "top_tokens_docs": q_top_tokens_docs,
        "tf_idf_docs": q_tf_idf_docs,
        "events_asof": q_events_asof,
        "events_interval_join": q_events_interval_join,
        "events_session_rows": q_events_session_rows,
        "url_normalize_docs": q_url_normalize_docs,
        "domain_stats_docs": q_domain_stats_docs,
        "stratified_sample_docs": q_stratified_sample_docs,
        "chunk_tokens_docs": q_chunk_tokens_docs,
        "pii_stats_docs": q_pii_stats_docs,
        "source_profile_docs": q_source_profile_docs,
        "flagship_overlay": q_flagship_overlay,
        "shard_corpus_docs": q_shard_corpus_docs,
        "areal_interp_overlay": q_areal_interp,
        "overlay_partition_metrics": q_overlay_partition_metrics,
        "dup_span_docs": q_dup_span_docs,
        "bloom_decontam_docs": q_bloom_decontam_docs,
        "embed_quantize_embeddings": q_embed_quantize,
        "stream_decontam_docs": q_stream_decontam_docs,
        "pack_sequences_docs": q_pack_sequences_docs,
        "gopher_quality_docs": q_gopher_quality_docs,
        "postings_docs": q_postings_docs,
        "lm_dataset_docs": q_lm_dataset_docs,
        "remove_dup_spans_docs": q_remove_dup_spans_docs,
        "stream_asof_events": q_stream_asof_events,
        "stream_simhash_docs": q_stream_simhash_docs,
        "dup_span_intervals_docs": q_dup_span_intervals_docs,
        "lsh_recall_docs": q_lsh_recall_docs,
        "ann_recall_embeddings": q_ann_recall_embeddings,
        "dsir_weights_docs": q_dsir_weights_docs,
        "repetition_stats_docs": q_repetition_stats_docs,
        "mix_select_docs": q_mix_select_docs,
        "semantic_dedup_embeddings": q_semantic_dedup_embeddings,
        "bigram_logprob_docs": q_bigram_logprob_docs,
        "trigram_backoff_docs": q_trigram_backoff_docs,
        "ppjoin_docs": q_ppjoin_docs,
        "label_prop_docs": q_label_prop_docs,
        "zorder_docs": q_zorder_docs,
        "dissolve_grid": q_dissolve_grid,
        "bpe_merges_docs": q_bpe_merges_docs,
        "bpe_tokenize_docs": q_bpe_tokenize_docs,
        "dissolve_lines": q_dissolve_lines,
        "dissolve_points": q_dissolve_points,
        "centroids_grid": q_centroids_grid,
        "simplify_docs": q_simplify_docs,
        "hull_points": q_hull_points,
        "focal_raster": q_focal_raster,
        "exact_dedup_docs": q_exact_dedup_docs,
        "remaining_outside": q_remaining_outside,
        "ifi_projections": q_ifi_projections,
        "tile_assignments": q_tile_assignments,
        "tile_rollup_grid": q_tile_rollup_grid,
        "knn_points_grid": q_knn_points_grid,
        "distance_join_points": q_distance_join_points,
        "zonal_weighted": q_zonal_weighted,
        "vectorize_range": q_vectorize_range,
        "round_raster_lineitem": q_round_raster_lineitem,
        "simhash_neardup_docs": q_simhash_neardup_docs,
        "line_dedup_docs": q_line_dedup_docs,
        "decontam_docs": q_decontam_docs,
        "clean_raster_range": q_clean_raster_range,
        "intersect_outside_grid": q_intersect_outside_grid,
        "intersect_lines_grid": q_intersect_lines_grid,
        "intersect_points_grid": q_intersect_points_grid,
        "zonal_centers": q_zonal_centers,
        "zonal_coverage_tiles": q_zonal_coverage_tiles,
        "ngram_jaccard_docs": q_ngram_jaccard_docs,
        "simhash_docs": q_simhash_docs,
        "line_dedup_doc_scope": q_line_dedup_doc_scope,
        "pricing_summary": q_pricing_summary,
        "top_customers": q_top_customers,
        "events_hourly": q_events_hourly,
        "events_sessions": q_events_sessions,
        "events_props_agg": q_events_props_agg,
        "text_stats_docs": q_text_stats_docs,
        "cosine_topk_embeddings": q_cosine_topk_embeddings,
        "cosine_neardup_embeddings": q_cosine_neardup_embeddings,
        "cosine_neardup_bucketed": q_cosine_neardup_bucketed,
        "ann_lsh_embeddings": q_ann_lsh_embeddings,
        "ann_multiprobe_embeddings": q_ann_multiprobe_embeddings,
        "ann_ivf_embeddings": q_ann_ivf_embeddings,
        "ann_quantized_embeddings": q_ann_quantized_embeddings,
        "multimodal_decode": q_multimodal_decode,
        "multimodal_resize": q_multimodal_resize,
        "multimodal_frames": q_multimodal_frames,
        "multimodal_audio": q_multimodal_audio,
        "multimodal_real_codecs": q_multimodal_real_codecs,
        "pages_table_roundtrip": q_pages_table_roundtrip,
    }

def oracle_sql() -> dict[str, str]:
    # --- reference-golden VALUES oracles -----------------------------------
    grid_square = """
SELECT * FROM (VALUES
  ('single', 'grid cell 0', CAST(3097719886 AS BIGINT)),
  ('single', 'grid cell 1', 3097248058),
  ('single', 'grid cell 2', 3097719886),
  ('single', 'grid cell 3', 3097248058)
) AS t(from_label, to_label, measure_m2)"""

    outside_grid = """
SELECT * FROM (VALUES
  ('by-myself', 'grid cell 1', CAST(3096540361 AS BIGINT)),
  ('by-myself', 'grid cell 3', 3096540361)
) AS t(from_label, to_label, measure_m2)"""

    lines_grid = """
SELECT * FROM (VALUES
  ('A', 'grid cell 0', CAST(61820 AS BIGINT)),
  ('A', 'grid cell 1', 111918),
  ('A', 'grid cell 3', 50101),
  ('B', 'grid cell 2', 79583)
) AS t(from_label, to_label, measure_m2)"""

    points_grid = """
SELECT * FROM (VALUES
  ('point 1', 'grid cell 0', CAST(1.0 AS DOUBLE)),
  ('point 2', 'grid cell 3', 1.0)
) AS t(from_label, to_label, n_points)"""

    ifi = """
SELECT * FROM (VALUES
  (CAST(1 AS BIGINT), 'single', 'grid cell 0', CAST(3097719886 AS BIGINT)),
  (2, 'single', 'grid cell 1', 3097248058),
  (3, 'single', 'grid cell 2', 3097719886),
  (4, 'single', 'grid cell 3', 3097248058)
) AS t(id, from_side, to_side, measure_m2)"""

    remaining = """
SELECT * FROM (VALUES ('by-myself', CAST(6191048106 AS BIGINT))) AS t(label, remaining_m2)"""

    # mean literals via string->DOUBLE cast: a bare float in VALUES
    # parses as DECIMAL first and the DECIMAL->DOUBLE re-round can lose
    # the low bits on 17-significant-digit reprs (the r4 multimodal
    # finding); min/max/count are exact halves/integers and safe either way
    zonal_coverage = """
SELECT * FROM (VALUES
  ('grid cell 0', 30.0, 47.0, CAST('38.29999923706055' AS DOUBLE), 10.0),
  ('grid cell 1', 0.0, 17.0, CAST('8.300000190734863' AS DOUBLE), 10.0),
  ('grid cell 2', 32.0, 49.0, CAST('40.70000076293945' AS DOUBLE), 10.0),
  ('grid cell 3', 2.0, 19.0, CAST('10.699999809265137' AS DOUBLE), 10.0)
) AS t(label, "min", "max", "mean", "count")"""

    zonal_centers = """
SELECT * FROM (VALUES
  ('grid cell 0', 30.0, 47.0, 38.5, 12.0),
  ('grid cell 1', 0.0, 17.0, 8.5, 12.0),
  ('grid cell 2', 33.0, 49.0, 41.0, 8.0),
  ('grid cell 3', 3.0, 19.0, 11.0, 8.0)
) AS t(label, "min", "max", "mean", "count")"""

    # weighted zonal: coverage fractions of axis-aligned boxes in
    # closed form (LEAST/GREATEST overlap over the same affine cell
    # bounds the constructor computes) — kernel-independent; the
    # float32 round-trip swallows the last-ulp difference between the
    # closed form and the clip kernel's shoelace areas
    zonal_weighted = f"""
WITH g AS (SELECT * FROM {grid_fixture_values()}),
rc AS (SELECT rr.r, cc.c
       FROM (SELECT unnest(range(10)) AS r) rr,
            (SELECT unnest(range(5)) AS c) cc
       WHERE rr.r NOT IN (4, 5)),
cells AS (SELECT CAST(r*5+c AS DOUBLE) AS v,
                 CAST((r*5+c) % 7 + 1 AS DOUBLE) AS wv,
                 0.4*c AS cminx, 2 - 0.2*(r+1) AS cminy,
                 0.4*(c+1) AS cmaxx, 2 - 0.2*r AS cmaxy
          FROM rc),
cand AS (
  SELECT label, v, wv,
         LEAST((LEAST(cmaxx, maxx) - GREATEST(cminx, minx))
               * (LEAST(cmaxy, maxy) - GREATEST(cminy, miny))
               / ((cmaxx - cminx) * (cmaxy - cminy)), 1.0) AS cov
  FROM cells JOIN g ON cminx < maxx AND minx < cmaxx
                   AND cminy < maxy AND miny < cmaxy)
SELECT label,
  CAST(CAST(min(v) AS FLOAT) AS DOUBLE) AS "min",
  CAST(CAST(max(v) AS FLOAT) AS DOUBLE) AS "max",
  CAST(CAST(sum(v*cov)/sum(cov) AS FLOAT) AS DOUBLE) AS "mean",
  CAST(CAST(sum(cov) AS FLOAT) AS DOUBLE) AS "count",
  CAST(CAST(sum(v*cov*wv)/sum(cov*wv) AS FLOAT) AS DOUBLE) AS weighted_mean,
  CAST(CAST(sum(v*cov*wv) AS FLOAT) AS DOUBLE) AS weighted_sum
FROM cand GROUP BY label"""

    # --- arithmetic (first-principles) oracles ------------------------------
    tile_assignments = cell_cover_sql(grid_fixture_values(), res=8)

    tile_rollup_grid = " UNION ALL ".join(
        f"SELECT CAST({r} AS INT) AS res, {parent_cell_sql('cell', r)} AS cell, "
        f"count(*) AS n FROM ({cell_cover_sql(grid_fixture_values(), res=8)}) c "
        f"GROUP BY 2"
        for r in (2, 4, 6))

    _hs = haversine_m_sql("a.lon", "a.lat", "b.lon", "b.lat")
    distance_join_points = (
        f"SELECT a.pid AS a, b.pid AS b, round({_hs}, 3) AS dist_m "
        f"FROM {_PTS_SQL} a, {_PTS_SQL} b "
        f"WHERE a.pid < b.pid AND {_hs} <= {_DIST_RADIUS_M!r}")

    knn = """
WITH q(query_id, qx, qy) AS (VALUES (1, 0.25, 0.25), (2, 1.75, 1.75),
                                    (3, 5.0, 0.5), (4, -1.0, -1.0)),
g(label, minx, miny, maxx, maxy) AS (VALUES
  ('grid cell 0', 0.0, 0.0, 1.0, 1.0), ('grid cell 1', 0.0, 1.0, 1.0, 2.0),
  ('grid cell 2', 1.0, 0.0, 2.0, 1.0), ('grid cell 3', 1.0, 1.0, 2.0, 2.0)),
d AS (
  SELECT query_id, label,
         sqrt(pow(GREATEST(minx - qx, qx - maxx, 0), 2)
            + pow(GREATEST(miny - qy, qy - maxy, 0), 2)) AS dist_raw
  FROM q, g),
r AS (SELECT query_id, label, dist_raw,
             row_number() OVER (PARTITION BY query_id ORDER BY dist_raw, label) AS rank
      FROM d)
SELECT CAST(query_id AS BIGINT) AS query_id, label,
       round(dist_raw, 6) AS dist, CAST(rank AS INT) AS rank
FROM r WHERE rank <= 2"""

    vectorize = """
SELECT CAST(i AS DOUBLE) AS val, CAST(1 AS BIGINT) AS n_regions
FROM range(50) t(i) WHERE i // 5 NOT IN (4, 5)"""

    clean_range = """
SELECT CAST(i // 5 AS BIGINT) AS "row", CAST(i % 5 AS BIGINT) AS col,
       CASE WHEN i // 5 IN (4, 5) THEN -99.0 ELSE CAST(i AS DOUBLE) END AS "value"
FROM range(50) t(i)"""

    round_li = """
SELECT l_orderkey, l_linenumber,
  CAST(CAST(CASE WHEN l_extendedprice = 0 THEN 0
       ELSE round(l_extendedprice * pow(10, 2 - floor(log10(abs(l_extendedprice)))))
            / pow(10, 2 - floor(log10(abs(l_extendedprice)))) END AS FLOAT) AS DOUBLE)
       AS price_sig3
FROM lineitem"""

    exact_dedup = """
SELECT min(doc_id) AS doc_id, md5(text) AS text_md5, count(*) AS group_size
FROM documents GROUP BY md5(text)"""

    sh = D.shingles_sql("text")
    minhash = D.minhash_sql(4, where="WHERE doc_id < 50")

    ngram_jaccard = f"""
WITH sh AS (SELECT doc_id, unnest({sh}) AS g FROM documents WHERE doc_id < 200),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
  FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id)
SELECT doc_a, doc_b, round(c * 1.0 / (sa.n + sb.n - c), 6) AS jaccard
FROM shared JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.2"""

    simhash = D.simhash_sql(where="WHERE doc_id < 100")

    # near-dup pairing excludes NULL/empty text (exact-dup territory);
    # the signature gate `simhash` above stays unfiltered
    sh150 = D.simhash_sql(where="WHERE doc_id < 150 AND coalesce(text,'') <> ''")
    simhash_neardup = f"""
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM ({sh150}) a JOIN ({sh150}) b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3"""

    dup_pairs = f"""
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM ({sh150}) a JOIN ({sh150}) b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3"""
    dup_clusters = D.duplicate_clusters_sql(
        dup_pairs, "SELECT doc_id FROM documents WHERE doc_id < 150")

    # 10-word line reshaping mirrored from q_line_dedup_docs, then the
    # operator's own SQL rendering over the derived table
    _w = D.WORDS_SQL.format(t="text")
    _docs2 = (f"(SELECT doc_id, array_to_string("
              f"[array_to_string(w[i*10+1:i*10+10], ' ') "
              f"for i in range(0, (len(w)+9)//10)], chr(10)) AS text "
              f"FROM (SELECT doc_id, {_w} AS w FROM documents) t)")
    line_dedup = D.line_dedup_sql(source=_docs2, min_count=2)
    line_dedup_doc = D.line_dedup_sql(source=_docs2, min_count=2, scope="doc")

    from pandarus_spark.operators.decontam import contamination_stats_sql
    from pandarus_spark.operators.textstats import unigram_logprob_sql
    decontam = contamination_stats_sql(
        docs_source="documents",
        bench_source="(SELECT doc_id AS bid, text FROM documents "
                     "WHERE doc_id % 37 = 0)", k=5)
    decontam = (f"SELECT doc_id, n_shingles, n_hits, "
                f"CAST(contaminated AS INT) AS contaminated FROM ({decontam})")
    unigram_lp = unigram_logprob_sql()

    q_sql = T.quality_score_sql("text")
    good_sql = (f"SELECT doc_id, text, {q_sql} AS quality FROM documents "
                f"WHERE doc_id < 150 AND {q_sql} >= 0.5")
    sh_good = D.simhash_sql(
        source=f"(SELECT * FROM ({good_sql}) WHERE coalesce(text,'') <> '')",
        where="")
    good_pairs = f"""
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM ({sh_good}) a JOIN ({sh_good}) b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3"""
    comp_sql = D.duplicate_clusters_sql(good_pairs,
                                        f"SELECT doc_id FROM ({good_sql})")
    clean_corpus = f"""
WITH comp AS ({comp_sql}),
sizes AS (SELECT cluster_id, count(*) AS n_members FROM comp GROUP BY cluster_id)
SELECT c.doc_id, g.quality, s.n_members
FROM comp c JOIN sizes s USING (cluster_id) JOIN ({good_sql}) g USING (doc_id)
WHERE c.doc_id = c.cluster_id"""

    pricing_summary = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 6) AS sum_qty,
       round(sum(l_extendedprice), 6) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 6) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 6) AS sum_charge,
       round(avg(l_quantity), 6) AS avg_qty,
       count(*) AS count_order
FROM lineitem WHERE l_shipdate <= '1998-09-02'
GROUP BY l_returnflag, l_linestatus"""

    top_customers = """
WITH rev AS (
  SELECT c_custkey, c_name,
         round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  WHERE o_orderstatus = 'O'
  GROUP BY c_custkey, c_name),
r AS (SELECT *, row_number() OVER (ORDER BY revenue DESC, c_custkey) AS rank FROM rev)
SELECT c_custkey, c_name, revenue, CAST(rank AS INT) AS rank FROM r WHERE rank <= 10"""

    events_hourly = """
SELECT date_trunc('hour', ts) AS window_start, event_type,
       count(*) AS n_events, round(sum("value"), 6) AS sum_value
FROM events GROUP BY 1, 2"""

    events_sessions = """
SELECT user_id, count(*) AS n_events,
       CAST(sum(CASE WHEN prev IS NULL OR epoch(ts) - epoch(prev) > 1800.0
                THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions
FROM (SELECT user_id, ts, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      FROM events)
GROUP BY user_id"""

    # sum(INT) in DuckDB is HUGEINT, which materializes as float64 via
    # Arrow/pandas — the driver's value hash then sees 99111.0 vs Spark's
    # bigint 99111.  Cast every aggregate to BIGINT so both engines emit
    # identical int64 columns (round-1 hash mismatch root cause).
    events_props = """
SELECT event_type, count(*) AS n,
       CAST(sum(CAST(json_extract(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
       CAST(min(CAST(json_extract(props, '$.k') AS INT)) AS BIGINT) AS min_k,
       CAST(max(CAST(json_extract(props, '$.k') AS INT)) AS BIGINT) AS max_k
FROM events GROUP BY event_type"""

    text_stats = f"""
SELECT doc_id,
  len(regexp_extract_all(coalesce(text, ''), '[\\w]+|[^\\w\\s]')) AS n_tokens,
  len(string_split(coalesce(text, ''), ' ')) AS n_words,
  length(coalesce(text, '')) AS n_chars2,
  {T.lang_id_sql('text')} AS lang_guess,
  {T.quality_score_sql('text')} AS quality,
  {T.dup_ngram_fraction_sql('text')} AS dup_2gram_frac,
  {T.fingerprint_sql('text')} AS fp
FROM documents"""

    cosine_topk = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
scored AS (
  SELECT query_id, e.vec_id AS neighbor_id,
         round(list_dot_product(qv, v)
               / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))), 6) AS cos
  FROM q, e WHERE e.vec_id != query_id),
r AS (SELECT query_id, neighbor_id, cos,
             row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
      FROM scored)
SELECT query_id, neighbor_id, cos, CAST(rank AS INT) AS rank FROM r WHERE rank <= 3"""

    cosine_neardup = """
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         round(list_dot_product(a.v, b.v)
               / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cos
  FROM e a JOIN e b ON a.vec_id < b.vec_id)
SELECT id_a, id_b, cos FROM p WHERE cos >= 0.4"""

    # deterministic synthetic media: precompute expected metadata rows.
    # Float literals go through CAST('<repr>' AS DOUBLE): a bare float
    # in a VALUES list parses as DECIMAL first, and the DECIMAL→DOUBLE
    # round-trip loses the low bits (caught by the round-4 exact-mode
    # checker: 126.96969696969697 became ...95) — the string→double
    # parse is correctly rounded, so the repr round-trips exactly.
    def _dlit(x: float) -> str:
        return f"CAST('{float(x)!r}' AS DOUBLE)"

    media_rows = []
    for i in range(16):
        b = M.encode_fake(8 + i % 8, 8 + (i * 3) % 8, seed=i)
        fmt, w, h2, mean = M._decode_one(b)
        media_rows.append(f"({i}, 'image', 'fake', {w}, {h2}, {len(b)}, {_dlit(mean)})")
    multimodal = ("SELECT CAST(media_id AS BIGINT) AS media_id, kind, format, "
                  "CAST(width AS INT) AS width, CAST(height AS INT) AS height, "
                  "CAST(n_bytes AS INT) AS n_bytes, CAST(mean_value AS DOUBLE) AS mean_value "
                  "FROM (VALUES " + ", ".join(media_rows)
                  + ") AS t(media_id, kind, format, width, height, n_bytes, mean_value)")

    # real codecs: expectations from the SOURCE arrays (mean/shape of
    # the numpy data the encoders serialized), NOT from the decoders —
    # a true independent oracle for the BMP/PGM/WAV parse paths
    real_rows = []
    for i in range(12):
        kind, b, src = M.real_media_payload(i)
        fmt = ["bmp", "pgm", "wav"][i % 3]
        if kind == "image":
            w, h2 = src.shape[1], src.shape[0]
        else:
            w, h2 = src.shape[0], src.shape[1]  # frames, channels
        real_rows.append(f"({i}, {kind!r}, {fmt!r}, {w}, {h2}, {len(b)}, "
                         f"{_dlit(float(src.mean()))})")
    multimodal_real = ("SELECT CAST(media_id AS BIGINT) AS media_id, kind, format, "
                       "CAST(width AS INT) AS width, CAST(height AS INT) AS height, "
                       "CAST(n_bytes AS INT) AS n_bytes, "
                       "CAST(mean_value AS DOUBLE) AS mean_value "
                       "FROM (VALUES " + ", ".join(real_rows)
                       + ") AS t(media_id, kind, format, width, height, n_bytes, mean_value)")

    # resize + frame-sample oracles: recompute expected rows from the
    # deterministic fake codec driver-side (same functions, no Spark)
    import struct as _struct

    import numpy as _np
    resize_rows, frame_rows = [], []
    for i in range(16):
        b = M.encode_fake(8 + i % 8, 8 + (i * 3) % 8, seed=i)
        fmt, w, h, _ = M._decode_one(b)
        payload = _np.frombuffer(b, dtype=_np.uint8, offset=12, count=w * h).reshape(h, w)
        yi = (_np.arange(4) * h // 4); xi = (_np.arange(4) * w // 4)
        resized = payload[_np.ix_(yi, xi)]
        rb = M.MAGIC + _struct.pack(">II", 4, 4) + resized.tobytes()
        _, rw, rh, rmean = M._decode_one(rb)
        resize_rows.append(f"({i}, 'image', 'fake', {rw}, {rh}, {len(rb)}, {_dlit(rmean)})")
        n_frames = len(range(0, h, 2))
        frame_rows.append(f"({i}, {n_frames}, {max(range(0, h, 2))})")
    multimodal_resize = ("SELECT CAST(media_id AS BIGINT) AS media_id, kind, format, "
                         "CAST(width AS INT) AS width, CAST(height AS INT) AS height, "
                         "CAST(n_bytes AS INT) AS n_bytes, CAST(mean_value AS DOUBLE) AS mean_value "
                         "FROM (VALUES " + ", ".join(resize_rows)
                         + ") AS t(media_id, kind, format, width, height, n_bytes, mean_value)")
    multimodal_frames = ("SELECT CAST(media_id AS BIGINT) AS media_id, "
                         "CAST(n_frames AS BIGINT) AS n_frames, "
                         "CAST(last_frame AS INT) AS last_frame "
                         "FROM (VALUES " + ", ".join(frame_rows)
                         + ") AS t(media_id, n_frames, last_frame)")

    # audio windows: recompute expected rows driver-side from the fake codec
    audio_rows = []
    for i in range(16):
        b = M.encode_fake(64 + (i * 7) % 64, 1, seed=1000 + i)
        _, w, h, _ = M._decode_one(b)
        pcm = _np.frombuffer(b, dtype=_np.uint8, offset=12, count=w * h).astype(_np.float64)
        for wno, start in enumerate(range(0, len(pcm), 16)):
            seg = pcm[start:start + 16]
            audio_rows.append(f"({i}, {wno}, {len(seg)}, "
                              f"{_dlit(round(float(_np.sqrt(_np.mean(seg ** 2))), 6))}, "
                              f"{_dlit(float(seg.max()))})")
    multimodal_audio = ("SELECT CAST(media_id AS BIGINT) AS media_id, "
                        "CAST(window_no AS INT) AS window_no, "
                        "CAST(n_samples AS INT) AS n_samples, "
                        "CAST(rms AS DOUBLE) AS rms, CAST(peak AS DOUBLE) AS peak "
                        "FROM (VALUES " + ", ".join(audio_rows)
                        + ") AS t(media_id, window_no, n_samples, rms, peak)")

    red_sql = C.redact_pii_sql("text")
    q_red = T.quality_score_sql(f"({red_sql})")
    words_red = f"string_split(lower(coalesce(({red_sql}), '')), ' ')"
    n_chunks_sql = C.chunk_count_sql(words_red, size=32, stride=24)
    training_corpus = f"""
WITH sampled AS (
  SELECT doc_id, {red_sql} AS rtext, {q_red} AS quality,
         CAST({n_chunks_sql} AS BIGINT) AS n_chunks
  FROM documents
  WHERE {C.stratified_sample_sql('doc_id', 'lang', _SAMPLE_RATES, 0.2)}),
good AS (SELECT * FROM sampled WHERE quality >= 0.4),
reps AS (SELECT md5(rtext) AS h, min(doc_id) AS doc_id,
                count(*) AS group_size
         FROM good GROUP BY md5(rtext))
SELECT g.doc_id, g.quality, r.group_size, g.n_chunks
FROM good g JOIN reps r USING (doc_id)"""

    top_tokens = T.top_tokens_sql(50)
    tf_idf = T.tf_idf_sql(source="(SELECT * FROM documents WHERE doc_id < 500)")

    # --- temporal-join oracles ----------------------------------------------
    events_asof = """
WITH v AS (SELECT user_id, ts, max("value") AS view_value
           FROM events WHERE event_type = 'view' GROUP BY user_id, ts),
c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click')
SELECT c.event_id, c.user_id, v.view_value
FROM c ASOF LEFT JOIN v ON c.user_id = v.user_id AND c.ts >= v.ts"""

    events_interval = """
WITH p AS (SELECT event_id AS purchase_id, ts AS s, ts + INTERVAL 30 MINUTE AS e
           FROM events WHERE event_type = 'purchase' AND user_id < 10),
c AS (SELECT event_id AS click_id, ts FROM events WHERE event_type = 'click')
SELECT click_id, purchase_id
FROM c JOIN p ON c.ts >= p.s AND c.ts < p.e"""

    # --- curation oracles (lockstep SQL renderings from the module) ---------
    url_normalize = (f"SELECT doc_id, {C.normalize_url_sql(_MESSY_URL_SQL)} AS url_norm, "
                     f"{C.url_domain_sql(_MESSY_URL_SQL)} AS domain FROM documents")

    domain_stats = f"""
WITH u AS (SELECT {C.url_domain_sql(_MESSY_URL_SQL)} AS domain,
                  {C.normalize_url_sql(_MESSY_URL_SQL)} AS url_norm
           FROM documents)
SELECT domain, count(*) AS n_pages, count(DISTINCT url_norm) AS n_urls
FROM u GROUP BY domain"""

    stratified_sample = (
        "SELECT doc_id, lang FROM documents WHERE "
        + C.stratified_sample_sql("doc_id", "lang", _SAMPLE_RATES, 0.05))

    chunk_tokens = C.chunk_tokens_sql(
        "text", 32, 24, source="(SELECT * FROM documents WHERE doc_id < 2000)")

    pii_stats = C.pii_stats_sql(_PII_LACED_SQL)

    source_profile = C.source_profile_sql()

    # --- round-4 lockstep oracles for the formerly rows-only gates ----------
    lsh_pairs = D.minhash_lsh_sql(num_hashes=16, bands=8, k=3, threshold=0.2)

    ngram_all = f"""
WITH shx AS (SELECT doc_id, unnest({sh}) AS g FROM documents),
sizes AS (SELECT doc_id, count(*) AS n FROM shx GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
  FROM shx a JOIN shx b ON a.g = b.g AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id)
SELECT doc_a, doc_b
FROM shared JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
WHERE round(c * 1.0 / (sa.n + sb.n - c), 6) >= 0.2"""

    lsh_recall = f"""
WITH lshp AS (SELECT doc_a, doc_b FROM ({lsh_pairs}) z),
tru AS ({ngram_all})
SELECT t.n AS n_true, l.n AS n_lsh, h.n AS n_hit,
       CAST((2000000 * h.n + t.n) // (2 * t.n) AS BIGINT) AS recall_ppm
FROM (SELECT count(*) AS n FROM tru) t,
     (SELECT count(*) AS n FROM lshp) l,
     (SELECT count(*) AS n FROM lshp JOIN tru USING (doc_a, doc_b)) h"""

    ann_lsh = S.ann_lsh_sql(k=3, n_tables=1, n_planes=6, seed=7, dim=64)
    ann_multiprobe = S.ann_lsh_sql(k=3, n_tables=16, n_planes=4, seed=7,
                                   dim=64)

    ann_recall = f"""
WITH brute AS (SELECT query_id, neighbor_id FROM ({cosine_topk}) z),
ann AS (SELECT query_id, neighbor_id FROM ({ann_multiprobe}) z)
SELECT b.n AS n_brute, a.n AS n_ann, h.n AS n_hit,
       CAST((2000000 * h.n + b.n) // (2 * b.n) AS BIGINT) AS recall_ppm
FROM (SELECT count(*) AS n FROM brute) b,
     (SELECT count(*) AS n FROM ann) a,
     (SELECT count(*) AS n FROM ann JOIN brute USING (query_id, neighbor_id)) h"""

    # --- streaming replay + batch session-rows oracles ----------------------
    from pandarus_spark.operators.windows import session_rows_sql
    session_rows_oracle = session_rows_sql("events")

    # release predicate in exact integer microseconds: the streaming
    # watermark is the ms-truncated max event time minus the 10-minute
    # delay; a session is emitted iff session_end + gap < watermark
    stream_sessions = f"""
WITH s AS ({session_rows_oracle}),
wm AS (SELECT (epoch_us(max(ts)) // 1000 - 600000) AS wm_ms FROM events)
SELECT user_id, session_start, session_end, n_events
FROM s, wm
WHERE epoch_us(session_end) + 1800 * 1000000 < wm_ms * 1000"""

    # --- round-4 additions --------------------------------------------------
    from pandarus_spark.operators.decontam import bloom_contaminated_sql
    from pandarus_spark.operators.interp import areal_interpolate_sql
    from pandarus_spark.operators.similarity import quantize_int8_sql

    flagship_rel = _flagship_oracle()
    areal_interp = areal_interpolate_sql(
        flagship_rel,
        "SELECT 'base ' || doc_id AS to_label, (doc_id % 97 + 1) AS value "
        "FROM documents")

    partition_metrics = f"""
SELECT CAST(split_part(to_label, ' ', 2) AS BIGINT) % 16 AS partition_id,
       count(*) AS n_rows,
       CAST(SUM(measure_m2) AS BIGINT) AS area_sum_m2,
       count(DISTINCT from_label) AS n_targets
FROM ({flagship_rel}) f
GROUP BY 1"""

    dup_spans = D.dup_span_stats_sql(k=5)

    bloom_decontam = bloom_contaminated_sql(
        bench_source="(SELECT text FROM documents WHERE doc_id % 37 = 0)",
        k=5, n_bits=1 << 14, n_hashes=3)

    embed_quantize = quantize_int8_sql()

    stream_decontam = (
        "SELECT doc_id FROM (" + contamination_stats_sql(
            docs_source="documents",
            bench_source="(SELECT doc_id AS bid, text FROM documents "
                         "WHERE doc_id % 37 = 0)", k=5)
        + ") WHERE NOT contaminated")

    # --- round-5 additions --------------------------------------------------
    # streaming as-of replay: DuckDB's native ASOF LEFT JOIN is the
    # independent oracle; release predicate in exact integer
    # microseconds (watermark = ms-truncated max event time over both
    # streams minus the 10-minute delay)
    stream_asof = """
WITH c AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
v AS (SELECT user_id, ts, "value" AS view_value
      FROM events WHERE event_type = 'view'),
wm AS (SELECT (epoch_us(max(ts)) // 1000 - 600000) AS wm_ms
       FROM events WHERE event_type IN ('click', 'view'))
SELECT c.user_id, c.event_id, c.ts, v.view_value AS matched_value
FROM c ASOF LEFT JOIN v ON c.user_id = v.user_id AND c.ts >= v.ts
WHERE epoch_us(c.ts) < (SELECT wm_ms FROM wm) * 1000"""

    # streaming simhash replay: distinct pairs == the batch
    # simhash_neardup set (pigeonhole recall, same empty-text
    # predicate) — same oracle SQL as the batch gate
    dup_span_intervals = D.dup_span_intervals_sql(k=5)

    return {
        "intersect_grid_square": grid_square,
        "intersect_outside_grid": outside_grid,
        "intersect_lines_grid": lines_grid,
        "intersect_points_grid": points_grid,
        "ifi_projections": ifi,
        "remaining_outside": remaining,
        "tile_assignments": tile_assignments,
        "tile_rollup_grid": tile_rollup_grid,
        "distance_join_points": distance_join_points,
        "knn_points_grid": knn,
        "zonal_coverage": zonal_coverage,
        "zonal_centers": zonal_centers,
        # tiles strategy + tile-table contract: same reference goldens
        "zonal_coverage_tiles": zonal_coverage,
        "zonal_weighted": zonal_weighted,
        "vectorize_range": vectorize,
        "clean_raster_range": clean_range,
        "round_raster_lineitem": round_li,
        "exact_dedup_docs": exact_dedup,
        "minhash_sigs_docs": minhash,
        "ngram_jaccard_docs": ngram_jaccard,
        "lsh_pairs_docs": lsh_pairs,
        "lsh_recall_docs": lsh_recall,
        "simhash_docs": simhash,
        "simhash_neardup_docs": simhash_neardup,
        "line_dedup_docs": line_dedup,
        "line_dedup_doc_scope": line_dedup_doc,
        "decontam_docs": decontam,
        "unigram_logprob_docs": unigram_lp,
        "dup_clusters_docs": dup_clusters,
        "clean_corpus": clean_corpus,
        "pricing_summary": pricing_summary,
        "top_customers": top_customers,
        "events_hourly": events_hourly,
        "events_sessions": events_sessions,
        "events_props_agg": events_props,
        "text_stats_docs": text_stats,
        "cosine_topk_embeddings": cosine_topk,
        "cosine_neardup_embeddings": cosine_neardup,
        # bucketed LSH near-dup at an exhaustive configuration == the
        # brute-force pair set, so it shares the full value oracle
        "cosine_neardup_bucketed": cosine_neardup,
        "ann_ivf_embeddings": cosine_topk,  # full probe == brute force
        "ann_quantized_embeddings": S.ann_quantized_sql(k=3, refine_m=32),
        "ann_lsh_embeddings": ann_lsh,
        "ann_multiprobe_embeddings": ann_multiprobe,
        "ann_recall_embeddings": ann_recall,

        "multimodal_decode": multimodal,
        "multimodal_real_codecs": multimodal_real,
        "multimodal_resize": multimodal_resize,
        "multimodal_frames": multimodal_frames,
        "multimodal_audio": multimodal_audio,
        "pages_table_roundtrip": """
SELECT 'https://example.test/base/' || CAST(doc_id AS VARCHAR) AS url,
       'en' AS lang
FROM documents WHERE doc_id < 200""",
        "training_corpus": training_corpus,
        "top_tokens_docs": top_tokens,
        "tf_idf_docs": tf_idf,
        "events_asof": events_asof,
        "events_interval_join": events_interval,
        "events_session_rows": session_rows_oracle,
        "stream_sessions": stream_sessions,
        "url_normalize_docs": url_normalize,
        "domain_stats_docs": domain_stats,
        "stratified_sample_docs": stratified_sample,
        "chunk_tokens_docs": chunk_tokens,
        "pii_stats_docs": pii_stats,
        "source_profile_docs": source_profile,
        "flagship_overlay": _flagship_oracle(),
        "shard_corpus_docs": C.shard_corpus_sql(16),
        "areal_interp_overlay": areal_interp,
        "overlay_partition_metrics": partition_metrics,
        "dup_span_docs": dup_spans,
        "bloom_decontam_docs": bloom_decontam,
        "embed_quantize_embeddings": embed_quantize,
        "stream_decontam_docs": stream_decontam,
        "pack_sequences_docs": C.pack_sequences_sql(128, 8),
        "gopher_quality_docs": T.gopher_rules_sql(),
        "postings_docs": T.postings_sample_sql(3),
        "postings_hot_docs": T.postings_sample_sql(3),
        # composed pipeline oracle: prepend the filter+dedup CTEs to the
        # packing SQL (same lockstep kernels end to end)
        "lm_dataset_docs": C.pack_sequences_sql(64, 4, source="dd").replace(
            "WITH base AS",
            "WITH kept AS (SELECT doc_id, text FROM documents WHERE "
            + T.gopher_keep_sql("text", min_words=40, stopwords=("the", "a"))
            + "), dd AS (SELECT doc_id, text FROM ("
            "SELECT doc_id, text, min(doc_id) OVER (PARTITION BY md5(text)) AS mn"
            " FROM kept) WHERE doc_id = mn), base AS", 1),
        "remove_dup_spans_docs": D.remove_dup_spans_sql(k=5),
        "stream_asof_events": stream_asof,
        "stream_simhash_docs": simhash_neardup,
        "dup_span_intervals_docs": dup_span_intervals,
        # round-5 additions
        "dsir_weights_docs": T.dsir_weights_sql("source = 'src0'",
                                                n_buckets=64),
        "repetition_stats_docs": T.repetition_stats_sql(),
        "mix_allocation_docs": C.mix_allocation_sql(100, alpha=2),
        "mix_select_docs": C.mix_select_sql(100, alpha=2),
        "semantic_dedup_embeddings": S.semantic_dedup_sql(n_clusters=8,
                                                          threshold=0.4),
        "bigram_logprob_docs": T.bigram_logprob_sql(),
        "trigram_backoff_docs": T.trigram_backoff_logprob_sql(),
        "ppjoin_docs": D.ppjoin_pairs_sql(threshold_micro=200_000),
        "hll_registers_docs": _sketch_registers_sql(),
        "hll_estimate_docs": _sketch_estimate_sql(),
        "hll_by_lang_docs": _sketch_by_lang_sql(),
        "cms_counts_docs": _cms_counts_sql(),
        "stream_hll_docs": _sketch_registers_sql(),
        "bottomk_sample_docs": (
            "SELECT rank, key AS doc_id, h FROM ("
            + C.bottomk_sample_sql("doc_id", k=25) + ")"),
        "lsh_join_docs": D.minhash_lsh_join_sql(
            num_hashes=16, bands=8, k=3, threshold=0.5,
            left_source="(SELECT * FROM documents WHERE doc_id % 3 = 0) l",
            right_source="(SELECT * FROM documents WHERE doc_id % 3 != 0) r"),
        "extract_links_docs": C.extract_links_sql(source="""
(SELECT 'https://example.org/page/' || doc_id AS url,
        encode('<html><body>' || CASE WHEN doc_id % 5 = 0 THEN '' ELSE
          '<a href="https://example.org/page/' ||
          ((doc_id * 7 + 1) % (SELECT count(*) FROM documents)) ||
          '">next</a><a href="/rel/' ||
          ((doc_id * 13 + 2) % (SELECT count(*) FROM documents)) ||
          '"></a>' END || '</body></html>') AS html
 FROM documents) p"""),
        "cube_revenue_lineitem": """
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS sum_cents,
       count(*) AS n_rows
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)""",
        "pagerank_docs": _pagerank_oracle_sql(),
        "label_prop_docs": _label_prop_oracle_sql(),
        "zorder_docs": _zorder_oracle_sql(),
        "dissolve_grid": _dissolve_oracle_sql(),
        "bpe_merges_docs": _bpe_merges_oracle_sql(),
        "bpe_tokenize_docs": _bpe_tokenize_oracle_sql(),
        "dissolve_lines": _dissolve_lines_oracle_sql(),
        "dissolve_points": _dissolve_points_oracle_sql(),
        "centroids_grid": _centroids_oracle_sql(),
        "simplify_docs": _simplify_oracle_sql(),
        "hull_points": _hull_oracle_sql(),
        "focal_raster": _focal_oracle_sql(),
        "tile_heatmap_pages": _tile_heatmap_oracle_sql(),
        "horn_raster": _horn_oracle_sql(),
        "clustering_coef_docs": _clustering_coef_oracle_sql(),
        "kcore_docs": _kcore_oracle_sql(),
        "map_algebra_raster": _map_algebra_oracle_sql(),
        "editdist_docs": _editdist_oracle_sql(),
        "hits_docs": _hits_oracle_sql(),
        "triangles_docs": _triangles_oracle_sql(),
        "bm25_docs": T.bm25_topk_sql(("spark", "join", "window"), k=25),
        "winnow_docs": D.winnow_fingerprints_sql(k=4, w=5),
        "winnow_pairs_docs": D.winnow_overlap_pairs_sql(
            k=4, w=5, min_shared=2, max_df=50),
        "crawl_delta_docs": C.crawl_delta_sql(
            "SELECT doc_id, text FROM documents WHERE doc_id % 17 <> 0",
            "SELECT doc_id, CASE WHEN doc_id % 13 = 0 THEN text || ' v2' "
            "ELSE text END AS text FROM documents WHERE doc_id % 5 <> 1"),
        "anchor_terms_docs": C.anchor_terms_sql(C.extract_links_sql(source="""
(SELECT 'https://example.org/page/' || doc_id AS url,
        encode('<html><body>' || CASE WHEN doc_id % 5 = 0 THEN '' ELSE
          '<a href="https://example.org/page/' ||
          ((doc_id * 7 + 1) % (SELECT count(*) FROM documents)) ||
          '">' || (CASE doc_id % 4 WHEN 0 THEN 'click here'
                   WHEN 1 THEN 'read more' WHEN 2 THEN 'official site'
                   ELSE 'next page' END) ||
          '</a><a href="/rel/' ||
          ((doc_id * 13 + 2) % (SELECT count(*) FROM documents)) ||
          '">more info</a>' END || '</body></html>') AS html
 FROM documents) p"""), k=3),
        "token_spectrum_docs": T.token_spectrum_sql(),
        "link_reciprocity_docs": _link_reciprocity_oracle_sql(),
        # the batch delta oracle minus its (stream-unobservable)
        # removed rows — stream_crawl_delta is stateless, so the
        # availableNow replay must equal this exactly
        "stream_delta_docs": ("SELECT * FROM (" + C.crawl_delta_sql(
            "SELECT doc_id, text FROM documents WHERE doc_id % 17 <> 0",
            "SELECT doc_id, CASE WHEN doc_id % 13 = 0 THEN text || ' v2' "
            "ELSE text END AS text FROM documents WHERE doc_id % 5 <> 1")
            + ") WHERE status <> 'removed'"),
        "containment_docs": D.containment_pairs_sql(
            k=3, threshold_micro=500_000, max_df=50),
        "domain_rank_docs": _domain_rank_oracle_sql(),
        "normalize_docs": (lambda e: f"SELECT doc_id, {e} AS text_norm, "
                           f"CAST(length({e}) AS BIGINT) AS n_chars_norm "
                           f"FROM documents")(
            C.normalize_text_sql("text", strip_punct=True)),
        # same recursive-CTE cluster oracle as dup_clusters_docs, then
        # the argmax-keeper SQL over integer micro-quality scores
        "dedup_keepers_docs": D.cluster_keepers_sql(
            dup_clusters,
            f"SELECT doc_id, CAST(round({T.quality_score_sql('text')} * 1e6)"
            f" AS BIGINT) AS score FROM documents WHERE doc_id < 150"),
        "length_quantiles_docs": C.hist_quantiles_sql(
            r"len(regexp_extract_all(coalesce(text, ''), "
            r"'[\w]+|[^\w\s]'))", group_expr="lang"),
        "ccnet_split_docs": T.ccnet_split_sql(),
        "pmi_collocations_docs": T.pmi_collocations_sql(k=20, min_count=3),
        # doc_box formula inlined (same double-op order as
        # sources/pages.py:doc_box), covered by the shared cell SQL
        "stream_tiles_docs": cell_cover_sql(
            "(SELECT 'base ' || doc_id AS label, "
            "-60.0 + (doc_id % 1024) * 0.05 AS minx, "
            "-30.0 + (doc_id // 1024) * 0.05 AS miny, "
            "(-60.0 + (doc_id % 1024) * 0.05) + 0.05 AS maxx, "
            "(-30.0 + (doc_id // 1024) * 0.05) + 0.05 AS maxy "
            "FROM documents WHERE doc_id < 300) AS d", res=12),
        # eps-graph pairs (brute haversine) -> recursive-CTE closure;
        # same oracle machinery as dup_clusters_docs
        "spatial_clusters_points": D.duplicate_clusters_sql(
            f"SELECT a.pid AS doc_a, b.pid AS doc_b "
            f"FROM {_PTS_SQL} a, {_PTS_SQL} b "
            f"WHERE a.pid < b.pid AND "
            + haversine_m_sql("a.lon", "a.lat", "b.lon", "b.lat")
            + f" <= {_DIST_RADIUS_M!r}",
            f"SELECT pid FROM {_PTS_SQL}",
            id_col="pid"),
        "blocklist_filter_docs": f"""
WITH u AS (SELECT doc_id,
                  {C.url_domain_sql(_MESSY2_URL_SQL)} AS domain
           FROM documents)
SELECT doc_id, domain FROM u
WHERE domain NOT IN ('host0.tld0', 'host1.tld2', 'host3.tld4')""",
        # every queries() entry has a value oracle as of round 4 (the
        # formerly rows-only LSH/ANN gates gained lockstep banded SQL)
    }
