"""Event-time windowing + sessionization (graft additions).

The reference has no window functions, sorts, or event-time semantics
(SURVEY.md §2.3); a web-scale ingest pipeline needs both.  Everything
here is pure Catalyst (built-in window/agg expressions — whole-stage
codegen, one shuffle each) and reproducible in ANSI SQL for the DuckDB
oracle.

* :func:`hourly_rollup` — tumbling event-time windows via ``F.window``
  (the batch twin of streaming/stream.py's windowed cell counts; epoch-
  aligned 1-hour tumbling windows coincide with ``date_trunc('hour')``).
* :func:`sessionize` — gap-based sessions per key with ``lag`` over an
  ordered window; the batch twin of ``session_window`` in Structured
  Streaming.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..tiling import cells as C


def _epoch_seconds(df: DataFrame, col_name: str):
    """Seconds-as-double for gap/range arithmetic: genuine timestamp
    and date columns go through the epoch cast (NTZ can't cast straight
    to double; the identical zone shift cancels in differences), while
    NUMERIC columns pass through EXACTLY — a blanket
    double→timestamp→double round-trip would silently quantize them to
    microseconds and flip gap/boundary decisions for sub-microsecond
    differences (r4 advice; interval_join's docstring calls this out)."""
    t = df.schema[col_name].dataType.typeName()
    if t.startswith("timestamp") or t == "date" or t == "string":
        # string columns hold ISO-8601 text: a direct double cast would
        # NULL every row, so they must parse through timestamp too.
        return F.col(col_name).cast("timestamp").cast("double")
    return F.col(col_name).cast("double")


def hourly_rollup(events: DataFrame, ts_col: str = "ts",
                  key_col: str = "event_type", value_col: str = "value",
                  window: str = "1 hour") -> DataFrame:
    """(window_start, key, n_events, sum_value) per tumbling window."""
    return (events
            .groupBy(F.window(F.col(ts_col), window).alias("win"), F.col(key_col))
            .agg(F.count("*").alias("n_events"),
                 F.round(F.sum(value_col), 6).alias("sum_value"))
            .select(F.col("win.start").alias("window_start"), key_col,
                    "n_events", "sum_value"))


def asof_join(left: DataFrame, right: DataFrame, key_col: str = "user_id",
              ts_col: str = "ts") -> DataFrame:
    """As-of (most-recent-prior) join: each left row picks up the right
    row with the greatest ``ts_col`` ≤ its own, per ``key_col`` —
    DuckDB ``ASOF LEFT JOIN`` semantics (equal timestamps match;
    unmatched left rows keep NULL right columns).

    Spark has no native as-of join; the naive inequality join explodes
    quadratically per key.  This is the scale-correct shape instead:
    union both sides, ONE window per key ordered by (ts, side) with a
    running ``last(..., ignorenulls)`` carry-forward of the right
    payload, then keep the left rows.  Exactly one shuffle (the window
    partition), no join amplification, whole-stage codegen throughout.
    At equal ts the right row sorts first, making the match inclusive.

    Contract: ``right`` must be unique per (key, ts) — pre-aggregate
    ties (e.g. ``groupBy(key, ts).agg(max(...))``) so the carried
    value is well-defined.  Right payload column names must not
    collide with left columns (raises otherwise)."""
    payload = [c for c in right.columns if c not in (key_col, ts_col)]
    clash = sorted(set(payload) & set(left.columns))
    if clash:
        raise ValueError(f"right payload columns collide with left: {clash}")
    l2 = left.withColumn("__side", F.lit(1))
    r2 = right.withColumn("__side", F.lit(0))
    u = l2.unionByName(r2, allowMissingColumns=True)
    w = (Window.partitionBy(key_col)
         .orderBy(F.col(ts_col).asc(), F.col("__side").asc())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    # carry the matched right row's payload as ONE struct: a right row
    # always contributes a non-null struct (its FIELDS may be null), a
    # left row contributes null — so NULL payload values in the matched
    # row surface as NULL instead of resurrecting an older row's value,
    # and multi-column payloads never stitch fields from different rows
    rstruct = F.when(F.col("__side") == 0,
                     F.struct(*[F.col(c) for c in payload]))
    carried = F.last(rstruct, ignorenulls=True).over(w)
    return (u.select(*left.columns, F.col("__side"),
                     *[carried.getField(c).alias(c) for c in payload])
            .filter(F.col("__side") == 1)
            .drop("__side"))


def interval_join(points: DataFrame, intervals: DataFrame,
                  point_col: str = "ts", start_col: str = "start",
                  end_col: str = "end", bucket_seconds: float = 3600.0,
                  salt_buckets: int = 0,
                  salt_threshold: int = 100_000) -> DataFrame:
    """Range join: each point row matched to every interval containing
    it (``start ≤ p < end``), via 1-D time-bucket tiling — the temporal
    analogue of the engine's spatial cell join.  Intervals explode to
    the buckets they overlap, points hash to their bucket, and the
    equi-join on (bucket) + residual range predicate replaces the
    quadratic theta join Catalyst would otherwise plan (BNLJ).  An
    interval spanning B buckets appears B times pre-join but each
    (point, interval) pair survives exactly once — the point's bucket
    is unique.  One shuffle on the bucket key; ``bucket_seconds``
    trades fan-out (long intervals) against per-bucket density.

    Timestamp or numeric columns both work; numeric columns are used
    EXACTLY (only genuine timestamps go through the epoch-seconds cast
    — a blanket double→timestamp→double round-trip would silently
    quantize numeric values to microseconds and flip boundary
    membership for sub-microsecond differences).

    ``salt_buckets`` > 1 enables hot-bucket salting through
    ``cells._salted_join``, the one hot-key salt the overlay and the
    distance join share: a flash-sale half hour is ONE bucket key whose
    point×interval output amplification AQE's partition-splitting
    cannot break up.  Buckets whose POINT count reaches
    ``salt_threshold`` split the points across ``salt_buckets`` salts
    and replicate that bucket's intervals to every salt; each (point,
    interval) pair still survives exactly once (pinned by test)."""
    if bucket_seconds <= 0:
        raise ValueError("bucket_seconds must be positive")
    reserved = {"__bucket", "__p", "__salt", "__hot"}
    clash = sorted((set(points.columns) & set(intervals.columns))
                   | (reserved & set(points.columns))
                   | (reserved & set(intervals.columns)))
    if clash:
        raise ValueError(f"points/intervals column names collide: {clash}")

    p = _epoch_seconds(points, point_col)
    s = _epoch_seconds(intervals, start_col)
    e = _epoch_seconds(intervals, end_col)
    pb = F.floor(p / bucket_seconds).cast("long")
    # bucket cover is a SUPERSET (an interval ending exactly on a bucket
    # boundary claims one extra bucket); the residual range predicate
    # below decides membership exactly, so the cover only needs to
    # contain every bucket the interval touches — and greatest() keeps
    # the sequence ascending even for degenerate (empty) intervals
    lo = F.floor(s / bucket_seconds).cast("long")
    hi = F.greatest(F.floor(e / bucket_seconds).cast("long"), lo)
    iv = intervals.select("*", F.explode(F.sequence(lo, hi)).alias("__bucket"))
    pt = points.select("*", pb.alias("__bucket"), p.alias("__p"))
    joined = C._salted_join(pt, iv, "__bucket", points.columns,
                            salt_buckets, salt_threshold)
    joined = joined.filter((F.col("__p") >= s) & (F.col("__p") < e))
    return joined.drop("__bucket", "__p")


def sessionize(events: DataFrame, gap_seconds: float = 1800.0,
               key_col: str = "user_id", ts_col: str = "ts",
               order_col: str = "event_id") -> DataFrame:
    """(key, n_events, n_sessions): a new session starts when the gap to
    the previous event of the same key exceeds ``gap_seconds``.

    The order key breaks timestamp ties deterministically so the result
    is engine-independent (the oracle orders identically)."""
    w = Window.partitionBy(key_col).orderBy(F.col(ts_col).asc(), F.col(order_col).asc())
    secs = _epoch_seconds(events, ts_col)
    prev_secs = F.lag(secs).over(w)
    new_session = F.when(prev_secs.isNull() | ((secs - prev_secs) > gap_seconds),
                         1).otherwise(0)
    return (events
            .select(key_col, new_session.alias("new_session"))
            .groupBy(key_col)
            .agg(F.count("*").alias("n_events"),
                 F.sum("new_session").alias("n_sessions")))


def session_rows(events: DataFrame, gap_seconds: float = 1800.0,
                 key_col: str = "user_id", ts_col: str = "ts") -> DataFrame:
    """Per-session rows (key, session_start, session_end, n_events) —
    the batch twin of ``streaming/stream.py:stream_sessionize``'s
    output (same gap rule: a new session starts when the gap to the
    previous event STRICTLY exceeds ``gap_seconds``).  Gaps-and-islands
    over one window shuffle + one groupBy on the derived session id
    (same key prefix, so AQE coalesces the exchanges); no joins.

    Deterministic without an order tie-break: equal timestamps have
    gap 0 and always share a session, so the break column is invariant
    to their relative order."""
    w = Window.partitionBy(key_col).orderBy(F.col(ts_col).asc())
    secs = _epoch_seconds(events, ts_col)
    prev = F.lag(secs).over(w)
    brk = F.when(prev.isNull() | ((secs - prev) > gap_seconds), 1).otherwise(0)
    sid = F.sum(brk).over(w.rowsBetween(Window.unboundedPreceding, 0))
    return (events
            .select(key_col, F.col(ts_col), sid.alias("__sid"))
            .groupBy(key_col, "__sid")
            .agg(F.min(ts_col).alias("session_start"),
                 F.max(ts_col).alias("session_end"),
                 F.count("*").alias("n_events"))
            .drop("__sid"))


def session_rows_sql(source: str = "events", key_col: str = "user_id",
                     ts_col: str = "ts", gap_seconds: float = 1800.0,
                     where: str = "") -> str:
    """DuckDB rendering of :func:`session_rows` (same strict-gap break
    rule over ``epoch`` double seconds — both engines derive the epoch
    from the same integer microseconds by one correctly-rounded
    division, so the break decisions are bit-identical)."""
    return f"""
SELECT {key_col}, min({ts_col}) AS session_start, max({ts_col}) AS session_end,
       count(*) AS n_events
FROM (
  SELECT {key_col}, {ts_col},
         sum(brk) OVER (PARTITION BY {key_col} ORDER BY {ts_col}
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM (
    SELECT {key_col}, {ts_col},
           CASE WHEN lag({ts_col}) OVER w IS NULL
                  OR epoch({ts_col}) - epoch(lag({ts_col}) OVER w) > {gap_seconds}
                THEN 1 ELSE 0 END AS brk
    FROM {source} {where}
    WINDOW w AS (PARTITION BY {key_col} ORDER BY {ts_col})) b) g
GROUP BY {key_col}, sid"""
