"""Z-order (Morton) spatial file layout — the data-layout half of the
tiling story (graft addition; the reference is a single-node batch tool
with no storage layout concern, reference pandarus/model.py writes one
JSON per call).

``tiling/cells.py`` answers "which features MIGHT interact" (the join
index); this module answers "which ROWS should live near each other ON
DISK" so a 100 TB parquet lake prunes spatially-local scans: rows
sorted by the bit-interleaved Morton code of their quantized lon/lat
land in files whose per-file zkey min/max column statistics are tight,
disjoint ranges — a bbox query then touches only the files whose zkey
range intersects the query window's Morton range (the Delta/Iceberg
``ZORDER BY`` recipe, built from first principles).

Everything is closed-form integer arithmetic after one IEEE-exact
quantization (add / divide / multiply-by-power-of-two / floor — all
correctly rounded, bit-identical on any engine), so the keys carry a
full DuckDB value oracle like every other gate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from ..tiling.cells import LAT_MIN, LAT_SPAN, LON_MIN, LON_SPAN

MAX_BITS = 30           # 2*30 interleaved bits < 63: no sign-bit risk


def _quant_sql(expr: str, lo: float, span: float, bits: int) -> str:
    """floor((x - lo) / span * 2^bits) clamped to [0, 2^bits - 1].
    The divide and the power-of-two multiply are each correctly
    rounded, in a fixed order, so both engines produce identical
    bits; floor/least/greatest are exact on integers."""
    scaled = f"floor((({expr}) - {lo!r}) / {span!r} * {float(1 << bits)!r})"
    return (f"least(greatest(CAST({scaled} AS BIGINT), "
            f"CAST(0 AS BIGINT)), CAST({(1 << bits) - 1} AS BIGINT))")


def _shl(e: str, k: int, dialect: str) -> str:
    return (f"shiftleft({e}, {k})" if dialect == "spark"
            else f"(({e}) << {k})")


def _shr(e: str, k: int, dialect: str) -> str:
    return (f"shiftright({e}, {k})" if dialect == "spark"
            else f"(({e}) >> {k})")


def interleave_sql(ix: str, iy: str, bits: int, dialect: str) -> str:
    """Morton interleave of two ``bits``-wide non-negative integers:
    bit b of ix lands at position 2b, of iy at 2b+1.  Disjoint target
    bits, so the combine is a plain sum — no carries possible."""
    if not 1 <= bits <= MAX_BITS:
        raise ValueError(f"bits must be in [1, {MAX_BITS}]")
    terms = []
    for b in range(bits):
        terms.append(_shl(f"({_shr(f'({ix})', b, dialect)} & 1)",
                          2 * b, dialect))
        terms.append(_shl(f"({_shr(f'({iy})', b, dialect)} & 1)",
                          2 * b + 1, dialect))
    return "(" + " + ".join(terms) + ")"


def deinterleave_sql(z: str, bits: int, lane: int, dialect: str) -> str:
    """Inverse of :func:`interleave_sql`: lane 0 recovers ix, lane 1
    recovers iy."""
    if lane not in (0, 1):
        raise ValueError("lane must be 0 (ix) or 1 (iy)")
    terms = [_shl(f"({_shr(f'({z})', 2 * b + lane, dialect)} & 1)",
                  b, dialect)
             for b in range(bits)]
    return "(" + " + ".join(terms) + ")"


def zorder_key(lon_expr: str, lat_expr: str, bits: int = 16) -> Column:
    """Spark Column: the Morton code of (lon, lat) quantized to a
    2^bits x 2^bits WGS84 grid (pure Catalyst, whole-stage codegen).
    ``lon_expr``/``lat_expr`` are SQL expressions / column names.

    NOTE: this inlines the quantization into all 2*bits interleave
    terms — fine as a one-off expression, but inside wider plans
    prefer :func:`with_zorder_key`, which stages the quantized
    indices as intermediate columns so codegen compiles 2 small
    expressions instead of one 32-way-repeated one."""
    ix = _quant_sql(lon_expr, LON_MIN, LON_SPAN, bits)
    iy = _quant_sql(lat_expr, LAT_MIN, LAT_SPAN, bits)
    return F.expr(interleave_sql(ix, iy, bits, "spark"))


def with_zorder_key(df: DataFrame, lon_expr: str = "lon",
                    lat_expr: str = "lat", bits: int = 16,
                    key_col: str = "zkey") -> DataFrame:
    """Append the Morton key via staged projections: quantize once
    into ``_zx``/``_zy``, interleave over those plain attributes.
    Catalyst keeps the two projections separate (the quantization is
    non-cheap and multi-referenced, so CollapseProject leaves it
    staged), keeping the generated Java small and the quantization
    computed once per row instead of 2*bits times."""
    tmp = df.withColumn("_zx", F.expr(
              _quant_sql(lon_expr, LON_MIN, LON_SPAN, bits))) \
            .withColumn("_zy", F.expr(
              _quant_sql(lat_expr, LAT_MIN, LAT_SPAN, bits)))
    return (tmp.withColumn(key_col,
                           F.expr(interleave_sql("_zx", "_zy", bits,
                                                 "spark")))
               .drop("_zx", "_zy"))


def zorder_key_sql(lon_expr: str, lat_expr: str, bits: int = 16) -> str:
    """DuckDB rendering of :func:`zorder_key` (same quantization, same
    interleave, bit-identical)."""
    ix = _quant_sql(lon_expr, LON_MIN, LON_SPAN, bits)
    iy = _quant_sql(lat_expr, LAT_MIN, LAT_SPAN, bits)
    return interleave_sql(ix, iy, bits, "duckdb")


def zorder_layout(df: DataFrame, lon_col: str = "lon", lat_col: str = "lat",
                  bits: int = 16, n_files: int | None = None,
                  key_col: str = "zkey") -> DataFrame:
    """PRODUCTION path: append the Morton key and range-partition on
    it, so a subsequent ``.write.parquet`` emits files whose zkey
    min/max statistics are tight disjoint ranges — spatial locality on
    disk, scan pruning for free.

    Plan shape (100 TB test): the key is a map-side integer
    expression (zero shuffles); ``repartitionByRange`` is ONE range
    shuffle whose boundaries come from Spark's reservoir sample — the
    right tool for laying out files, but sample-dependent, so the
    EXACT-bucket twin :func:`zorder_buckets_exact` (rank-based,
    engine-reproducible) is what the oracle gate checks; this
    function's file-range disjointness is pinned by a partition-id
    test instead."""
    out = with_zorder_key(df, lon_col, lat_col, bits, key_col)
    if n_files is not None:
        if n_files < 1:
            raise ValueError("n_files must be positive")
        out = out.repartitionByRange(n_files, F.col(key_col))
    return out


def zorder_buckets_exact(df: DataFrame, lon_col: str = "lon",
                         lat_col: str = "lat", bits: int = 16,
                         n_buckets: int = 8,
                         id_col: str = "doc_id") -> DataFrame:
    """Deterministic twin of :func:`zorder_layout`'s bucketing for the
    oracle gate: bucket i holds rows with exact zkey-rank in
    [i*n/n_buckets, (i+1)*n/n_buckets) — ``bucket = (rank-1) *
    n_buckets DIV n`` over the (zkey, id) total order.  Integer-exact
    and sample-free, so DuckDB reproduces it bit-for-bit; the
    production path trades this global rank (one extra pass) for a
    reservoir sample, the standard engineering swap.

    Scale note: this twin uses a global window (one-task sort) — it
    is the VERIFICATION contract, not the 100 TB path; at scale the
    same rank decomposes over zkey high bits exactly like
    ``ccnet_split``'s order-aligned score bucketing, and the
    production layout (:func:`zorder_layout`) needs no rank at all."""
    if n_buckets < 1:
        raise ValueError("n_buckets must be positive")
    from pyspark.sql import Window

    keyed = with_zorder_key(df, lon_col, lat_col, bits).select(
        F.col(id_col), "zkey")
    w = Window.orderBy("zkey", id_col)
    n = keyed.count()
    return (keyed.withColumn("_rk", F.row_number().over(w))
                 .select(id_col, "zkey",
                         F.expr(f"(( _rk - 1) * {n_buckets}) DIV {n}")
                          .cast("long").alias("bucket")))


def zorder_buckets_sql(lon_expr: str, lat_expr: str,
                       source: str = "documents", bits: int = 16,
                       n_buckets: int = 8,
                       id_expr: str = "doc_id") -> str:
    """DuckDB rendering of :func:`zorder_buckets_exact`."""
    if n_buckets < 1:
        raise ValueError("n_buckets must be positive")
    zk = zorder_key_sql(lon_expr, lat_expr, bits)
    return f"""
WITH keyed AS (SELECT {id_expr} AS doc_id, {zk} AS zkey FROM {source}),
n AS (SELECT count(*) AS n FROM keyed)
SELECT doc_id, CAST(zkey AS BIGINT) AS zkey,
       CAST(((row_number() OVER (ORDER BY zkey, doc_id) - 1)
             * {n_buckets}) // n.n AS BIGINT) AS bucket
FROM keyed, n"""
