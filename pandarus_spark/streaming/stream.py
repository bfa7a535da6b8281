"""Structured-Streaming ingestion: pages stream → live tile assignments.

The reference has no streaming surface (SURVEY.md §2.3); this is the
graft's incremental-ingest path: a stream of crawled pages is extracted
and tiled as it arrives, so the cell index stays current without
re-running the batch job.  ``mapInPandas`` extraction and the cell
cover work unchanged on streaming DataFrames; stateful aggregation uses
event-time windows + watermark for late data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

TILED_SCHEMA = "feature_id bigint, label string, warc_ts timestamp, cell bigint"


def _wall_to_epochs(ts, session_tz):
    """Pandas naive wall-time Series → (float epoch-seconds ndarray,
    valid positional mask).  Arrow renders Spark timestamps into pandas
    as tz-NAIVE wall times in spark.sql.session.timeZone while the
    GroupState APIs speak true epoch — every stateful operator converts
    through THIS helper so tz/DST/NaT handling cannot diverge.

    NaT rows are masked out (the watermark's late-row predicate passes
    NULL timestamps through, and astype('int64') on NaT raises).
    DST-ambiguous wall times (fall-back hour) pick the DST
    interpretation deterministically rather than dropping the event —
    an instant was lost at the Arrow naive-rendering boundary either
    way, and a 1-hour-shifted event beats a silently missing one."""
    import pandas as pd
    ts = pd.Series(ts)
    if getattr(ts.dt, "tz", None) is None:
        ts = ts.dt.tz_localize(session_tz, ambiguous=True,
                               nonexistent="shift_forward")
    valid = ts.notna().to_numpy()
    epochs = ts[valid].astype("int64").to_numpy() / 1e9
    return epochs, valid


def _epoch_to_wall(epoch: float, session_tz: str):
    """Float epoch-seconds → naive wall Timestamp in the session tz,
    rounded to µs (float epochs carry ~0.1 µs residue and Arrow's
    ns→µs output cast refuses to truncate)."""
    import pandas as pd
    return (pd.Timestamp(epoch, unit="s", tz="UTC").round("us")
            .tz_convert(session_tz).tz_localize(None))


def stream_tile_assignments(pages_stream: DataFrame, res: int = 12,
                            max_cells: int = 64) -> DataFrame:
    """Streaming pages → (feature_id, label, warc_ts, cell), one row per
    covering cell. Stateless (append-mode safe); extraction + tiling in
    one Arrow pass, no shuffle."""

    def gen(batches):
        import pandas as pd

        from ..geometry import geom as G
        from ..sources.pages import _stable_id, extract_text, parse_feature_text
        from ..tiling import cells as C
        for pdf in batches:
            out = {"feature_id": [], "label": [], "warc_ts": [], "cell": []}
            for url, ts, html in zip(pdf["url"], pdf["warc_ts"], pdf["html"]):
                label, geometry = parse_feature_text(extract_text(bytes(html)))
                mnx, mny, mxx, mxy = G.bounds(geometry)
                r = C.pick_resolution(mnx, mny, mxx, mxy, target_res=res, max_cells=max_cells)
                fid = _stable_id(url)
                for c in C.cover_bbox(mnx, mny, mxx, mxy, r):
                    out["feature_id"].append(fid)
                    out["label"].append(label if isinstance(label, str) else str(label))
                    out["warc_ts"].append(ts)
                    out["cell"].append(int(c))
            yield pd.DataFrame(out)

    return pages_stream.select("url", "warc_ts", "html").mapInPandas(gen, schema=TILED_SCHEMA)


def stream_hll_registers(docs_stream: DataFrame, key, p: int = 8) -> DataFrame:
    """Streaming HLL register table over ``key`` — the online form of
    ``sketch.hll_registers``: registers merge by MAX, so a plain
    streaming ``groupBy(bucket).max(rho)`` aggregation IS the sketch.
    Streaming state is bounded at 2^p rows forever (the whole point of
    sketching a 10^12-row stream), no watermark needed; run in
    ``complete`` output mode and the latest emitted table equals the
    batch register table over everything ingested so far (replay-gated
    against the batch SQL oracle).  NULL keys are skipped, matching
    the batch path."""
    from ..operators.sketch import _hll_bucket_rho
    if not 4 <= p <= 16:
        raise ValueError("p must be in [4, 16]")
    kcol = F.col(key) if isinstance(key, str) else key
    bucket, rho = _hll_bucket_rho(kcol, p)
    return (docs_stream.filter(kcol.isNotNull())
            .select(bucket.alias("bucket"), rho.alias("rho"))
            .groupBy("bucket").agg(F.max("rho").alias("reg")))


def stream_exact_dedup(docs_stream: DataFrame, text_col: str = "text",
                       ts_col: str | None = None,
                       watermark: str = "1 hour") -> DataFrame:
    """Streaming exact deduplication — the incremental twin of
    ``dedup.exact_dedup``: only the first-seen document per distinct
    text hash survives.

    With an event-time column, uses ``dropDuplicatesWithinWatermark``
    so the dedup state is bounded: a key's state is dropped once the
    watermark passes it (at 100 TB/day the state store would otherwise
    grow without limit — this is the standard trade: exact dedup inside
    the watermark horizon, pass-through beyond it).  Without ``ts_col``
    the state is unbounded (exact forever) — only for bounded backfills.
    """
    hashed = docs_stream.withColumn("text_md5",
                                    F.md5(F.encode(F.col(text_col), "utf-8")))
    if ts_col is not None:
        return (hashed.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
                .withWatermark(ts_col, watermark)
                .dropDuplicatesWithinWatermark(["text_md5"]))
    return hashed.dropDuplicates(["text_md5"])


SESSION_OUT_SCHEMA = ("user_id bigint, session_start timestamp, "
                      "session_end timestamp, n_events bigint")
# open (not-yet-emittable) session intervals, ordered by start
SESSION_STATE_SCHEMA = "starts array<double>, lasts array<double>, ns array<long>"


def stream_sessionize(events_stream: DataFrame, gap_seconds: float = 1800.0,
                      key_col: str = "user_id", ts_col: str = "ts",
                      watermark: str = "10 minutes") -> DataFrame:
    """Streaming gap-based sessionization — the custom stateful
    operator the batch :func:`~pandarus_spark.operators.windows.sessionize`
    twins: per-key session state lives in the state store via
    ``applyInPandasWithState`` (Arrow-batched; state is the list of
    OPEN session intervals per key, so its size is O(active users ×
    concurrent open sessions), not O(events)).

    Correctness under out-of-order data: arriving events and the stored
    intervals are merged as INTERVALS (sorted by start, chained while
    the gap to the previous interval's end is <= ``gap_seconds``), so a
    late event can extend a session backward or bridge two stored
    sessions.  A session is emitted (append-mode) only when the
    watermark has passed ``session_end + gap`` — only then can no
    remaining in-watermark event extend or bridge it.  Sessions the
    watermark has not released stay in state; the event-time timeout is
    set to the earliest release point so idle keys flush without new
    data.  Output: (user_id, session_start, session_end, n_events).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    gap = float(gap_seconds)
    # Arrow renders Spark timestamps into pandas as tz-NAIVE wall times
    # in spark.sql.session.timeZone, while getCurrentWatermarkMs /
    # setTimeoutTimestamp speak true epoch.  Capture the session tz at
    # build time and do every naive<->epoch conversion through it, so a
    # non-UTC session doesn't skew session release by the UTC offset.
    session_tz = (events_stream.sparkSession.conf.get(
        "spark.sql.session.timeZone", None) or "UTC")

    def fn(key, pdfs, state):
        import pandas as pd

        def emit(rows):
            return pd.DataFrame({
                "user_id": pd.Series([key[0]] * len(rows), dtype="int64"),
                "session_start": [_epoch_to_wall(s, session_tz) for s, _, _ in rows],
                "session_end": [_epoch_to_wall(e, session_tz) for _, e, _ in rows],
                "n_events": pd.Series([n for _, _, n in rows], dtype="int64"),
            })

        wm = state.getCurrentWatermarkMs() / 1000.0

        intervals = []
        if state.exists:
            starts, lasts, ns = state.get
            intervals = [(float(s), float(e), int(n))
                         for s, e, n in zip(starts, lasts, ns)]
        if not state.hasTimedOut:
            for pdf in pdfs:
                epochs, _ = _wall_to_epochs(pdf[ts_col], session_tz)
                intervals.extend((float(t), float(t), 1) for t in epochs)

        # interval merge: sort by start, chain while gap to previous end
        # fits — late events extend sessions backward or bridge them
        intervals.sort()
        merged = []
        for s, e, n in intervals:
            if merged and s - merged[-1][1] <= gap:
                ps, pe, pn = merged[-1]
                merged[-1] = (ps, max(pe, e), pn + n)
            else:
                merged.append((s, e, n))

        # release only sessions no in-watermark event can still touch
        ripe = [iv for iv in merged if iv[1] + gap < wm]
        open_ = [iv for iv in merged if iv[1] + gap >= wm]

        if open_:
            state.update(([s for s, _, _ in open_], [e for _, e, _ in open_],
                          [n for _, _, n in open_]))
            release_ms = int(min(e for _, e, _ in open_) * 1000 + gap * 1000)
            state.setTimeoutTimestamp(max(release_ms, int(wm * 1000) + 1))
        elif state.exists:
            state.remove()
        if ripe:
            yield emit(ripe)

    ev = events_stream.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return (ev.withWatermark(ts_col, watermark)
            .groupBy(key_col)
            .applyInPandasWithState(fn, SESSION_OUT_SCHEMA, SESSION_STATE_SCHEMA,
                                    "append", GroupStateTimeout.EventTimeTimeout))


NEARDUP_OUT_SCHEMA = "doc_a bigint, doc_b bigint, hamming int, band int"
NEARDUP_STATE_SCHEMA = "ids array<long>, hashes array<long>"


def stream_simhash_neardup(docs_stream: DataFrame, max_hamming: int = 3,
                           bits: int = 64, bands: int = 4,
                           text_col: str = "text", id_col: str = "doc_id",
                           max_state_per_bucket: int = 10_000) -> DataFrame:
    """Streaming near-duplicate detection — the incremental twin of
    :func:`~pandarus_spark.operators.dedup.simhash_neardup_pairs`.

    Per row (stateless, Catalyst): SimHash via
    :func:`~pandarus_spark.operators.dedup.simhash_expr` (bit-identical
    to the batch operator), banded into ``bands`` keys.  Per
    (band, key) bucket (stateful, ``applyInPandasWithState``): the
    state holds (doc_id, simhash) of every doc seen in the bucket;
    each arriving doc emits a pair for every stored doc within
    ``max_hamming`` and joins the state.  Pigeonhole recall is exact
    when ``max_hamming < bands``, as in batch.

    Output rows carry the matching ``band``; a pair within several
    matching bands is emitted once PER matching band — dedup on
    (doc_a, doc_b) downstream (batch post-processing or a keyed sink),
    since cross-bucket coordination inside the stream would serialize
    the operator.  State per bucket is capped at
    ``max_state_per_bucket`` ids (oldest evicted first) — the bound a
    10^12-doc stream needs; an evicted doc can no longer pair."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..operators.dedup import nz, simhash_expr

    if not max_hamming < bands:
        raise ValueError("pigeonhole exactness needs max_hamming < bands")
    width = bits // bands
    mask = (1 << width) - 1

    # NULL/EMPTY-text rows are excluded from near-dup pairing — the
    # SAME predicate batch simhash_neardup_pairs applies (they all
    # hash to the ''-token simhash and would pair quadratically at
    # hamming 0; they are exact duplicates, exact dedup's job).
    # Batch and streaming agree on NULL-heavy pages tables by
    # construction (round-2 advice).
    hashed = docs_stream.filter(F.length(nz(F.col(text_col))) > 0).select(
        F.col(id_col).cast("long").alias("doc_id"),
        simhash_expr(F.col(text_col), bits).alias("simhash"))
    banded = hashed.select(
        "doc_id", "simhash",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"),
                     F.shiftright(F.col("simhash"), b * width)
                     .bitwiseAND(F.lit(mask)).alias("key"))
            for b in range(bands)])).alias("bk")) \
        .select("doc_id", "simhash", "bk.band", "bk.key")

    def fn(key, pdfs, state):
        import pandas as pd
        band = int(key[0])
        ids, hashes = ([], [])
        if state.exists:
            s_ids, s_hashes = state.get
            ids, hashes = list(s_ids), list(s_hashes)
        out = {"doc_a": [], "doc_b": [], "hamming": [], "band": []}
        for pdf in pdfs:
            # deterministic order: pairs are emitted a<b regardless of
            # arrival interleaving within the micro-batch
            for doc_id, sh in sorted(zip(pdf["doc_id"].tolist(),
                                         pdf["simhash"].tolist())):
                for other_id, other_sh in zip(ids, hashes):
                    if other_id == doc_id:
                        continue
                    # mask to 64 bits: bit-63 simhashes are negative
                    # longs, and bin() of a negative int counts the
                    # magnitude's bits, not the two's-complement ones
                    h = bin((sh ^ other_sh) & 0xFFFFFFFFFFFFFFFF).count("1")
                    if h <= max_hamming:
                        a, b = sorted((doc_id, other_id))
                        out["doc_a"].append(a)
                        out["doc_b"].append(b)
                        out["hamming"].append(h)
                        out["band"].append(band)
                ids.append(doc_id)
                hashes.append(sh)
        if len(ids) > max_state_per_bucket:
            ids = ids[-max_state_per_bucket:]
            hashes = hashes[-max_state_per_bucket:]
        state.update((ids, hashes))
        if out["doc_a"]:
            yield pd.DataFrame({
                "doc_a": pd.Series(out["doc_a"], dtype="int64"),
                "doc_b": pd.Series(out["doc_b"], dtype="int64"),
                "hamming": pd.Series(out["hamming"], dtype="int32"),
                "band": pd.Series(out["band"], dtype="int32")})

    return (banded.groupBy("band", "key")
            .applyInPandasWithState(fn, NEARDUP_OUT_SCHEMA, NEARDUP_STATE_SCHEMA,
                                    "append", GroupStateTimeout.NoTimeout))


def stream_cell_counts(pages_stream: DataFrame, res: int = 12,
                       window: str = "1 minute", watermark: str = "2 minutes") -> DataFrame:
    """Windowed cell activity with late-data tolerance: count features
    per (cell, event-time window), watermarked on warc_ts. Emits in
    update/append mode depending on the sink."""
    tiled = stream_tile_assignments(pages_stream, res=res)
    return (tiled
            .withWatermark("warc_ts", watermark)
            .groupBy(F.window("warc_ts", window).alias("win"), "cell")
            .agg(F.count("*").alias("n_features"))
            .select(F.col("win.start").alias("window_start"), "cell", "n_features"))


ASOF_OUT_SCHEMA = ("user_id bigint, event_id bigint, ts timestamp, "
                   "matched_value double")
ASOF_STATE_SCHEMA = ("lts array<double>, lids array<long>, "
                     "rts array<double>, rvs array<double>")


def stream_asof_join(left_stream: DataFrame, right_stream: DataFrame,
                     key_col: str = "user_id", ts_col: str = "ts",
                     left_id_col: str = "event_id", right_value_col: str = "value",
                     watermark: str = "10 minutes",
                     right_ttl_seconds: float = 86400.0) -> DataFrame:
    """Streaming as-of join — the stateful twin of
    :func:`~pandarus_spark.operators.windows.asof_join` (stream
    enrichment: each left event picks up the right stream's latest
    value at-or-before its event time, per key).

    Release rule (append-mode exactness): a left row at time L is
    emitted only once the watermark passes L — after that, any future
    in-watermark right row has ts ≥ watermark > L and can no longer be
    its match, so the answer is final.  Out-of-order left rows and late
    right rows inside the watermark are therefore handled exactly
    (parity with the batch operator on released rows, pinned by test).

    Bounded state per key: left rows not yet released (ts ≥ watermark)
    plus the right history that can still matter — every right row with
    ts ≥ watermark and ONE latest row before it (the potential match
    for any future left, whose ts is necessarily ≥ watermark).
    Event-time timeout flushes buffered lefts on idle keys; a key whose
    state is ONLY right history expires ``right_ttl_seconds`` after the
    watermark (so one-time keys don't grow the key population without
    bound) — a left arriving after the TTL loses matches older than the
    TTL, the standard stream-stream state trade-off.

    Column contract (like stream_sessionize): key/id are int64, the
    carried right value is float64; ``right`` must be unique per
    (key, ts) — pre-aggregate ties upstream.  NULL-timestamp rows on
    either side and NULL ids/values are dropped (a NULL right value is
    "no observation"; the batch twin instead surfaces it — feed
    non-NULL values for parity)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    session_tz = (left_stream.sparkSession.conf.get(
        "spark.sql.session.timeZone", None) or "UTC")

    def fn(key, pdfs, state):
        import numpy as np
        import pandas as pd

        wm = state.getCurrentWatermarkMs() / 1000.0
        lts, lids, rts, rvs = [], [], [], []
        if state.exists:
            slts, slids, srts, srvs = state.get
            lts, lids = list(slts), list(slids)
            rts, rvs = list(srts), list(srvs)
        if not state.hasTimedOut:
            for pdf in pdfs:
                epochs, valid = _wall_to_epochs(pdf[ts_col], session_tz)
                sides = pdf["__side"].to_numpy()[valid]
                lid_vals = pdf["__lid"].to_numpy()[valid]
                rv_vals = pdf["__rv"].to_numpy()[valid]
                # NULL ids/values are dropped per the column contract
                lmask = (sides == 1) & ~pd.isna(lid_vals)
                lts.extend(epochs[lmask])
                lids.extend(int(x) for x in lid_vals[lmask])
                rmask = (sides == 0) & ~pd.isna(rv_vals)
                rts.extend(epochs[rmask])
                rvs.extend(float(x) for x in rv_vals[rmask])

        # sort right history once; precondition: unique per (key, ts)
        order = np.argsort(np.asarray(rts), kind="stable")
        rts_a = np.asarray(rts, dtype="float64")[order]
        rvs_a = np.asarray(rvs, dtype="float64")[order]

        ripe_idx = [i for i, t in enumerate(lts) if t < wm]
        keep_idx = [i for i, t in enumerate(lts) if t >= wm]

        if ripe_idx:
            out_ts = np.asarray([lts[i] for i in ripe_idx])
            pos = np.searchsorted(rts_a, out_ts, side="right") - 1
            matched = [float(rvs_a[p]) if p >= 0 else None for p in pos]
            yield pd.DataFrame({
                "user_id": pd.Series([key[0]] * len(ripe_idx), dtype="int64"),
                "event_id": pd.Series([lids[i] for i in ripe_idx], dtype="int64"),
                "ts": [_epoch_to_wall(t, session_tz) for t in out_ts],
                "matched_value": pd.Series(matched, dtype="float64"),
            })

        # prune the right history at the watermark (every buffered and
        # future left has ts >= wm, so only rows at/after wm plus ONE
        # latest row before it can still be a match)
        cut = int(np.searchsorted(rts_a, wm, side="right"))
        first = max(cut - 1, 0)
        rts_keep, rvs_keep = rts_a[first:], rvs_a[first:]

        if keep_idx:
            state.update(([float(lts[i]) for i in keep_idx],
                          [int(lids[i]) for i in keep_idx],
                          [float(t) for t in rts_keep],
                          [float(v) for v in rvs_keep]))
            release = int(min(lts[i] for i in keep_idx) * 1000) + 1
            state.setTimeoutTimestamp(max(release, int(wm * 1000) + 1))
        elif len(rts_keep) and (not state.hasTimedOut or ripe_idx):
            # right-history-only state: keep it for future lefts, but
            # with a TTL so one-time keys don't grow the key population
            # forever (timeouts reset every invocation — never updating
            # without one leaks the key).  Reached on data batches AND
            # on a left-release timeout (ripe_idx non-empty) — only a
            # pure TTL expiry falls through to remove.  The TTL anchors
            # at max(watermark, newest right ts): in the FIRST batch the
            # watermark is still epoch 0, and anchoring there would
            # expire 2024-era history the moment the real watermark is
            # computed.
            state.update(([], [], [float(t) for t in rts_keep],
                          [float(v) for v in rvs_keep]))
            anchor = max(wm, float(rts_keep[-1]))
            state.setTimeoutTimestamp(
                max(int((anchor + right_ttl_seconds) * 1000) + 1,
                    int(wm * 1000) + 1))
        elif state.exists:
            # timed out with no buffered lefts and nothing released:
            # the TTL elapsed — drop
            state.remove()

    l2 = left_stream.select(
        F.col(key_col), F.col(ts_col).cast("timestamp").alias(ts_col),
        F.col(left_id_col).cast("long").alias("__lid"),
        F.lit(None).cast("double").alias("__rv"), F.lit(1).alias("__side"))
    r2 = right_stream.select(
        F.col(key_col), F.col(ts_col).cast("timestamp").alias(ts_col),
        F.lit(None).cast("long").alias("__lid"),
        F.col(right_value_col).cast("double").alias("__rv"),
        F.lit(0).alias("__side"))
    u = l2.unionByName(r2).withWatermark(ts_col, watermark)
    return u.groupBy(key_col).applyInPandasWithState(
        fn, ASOF_OUT_SCHEMA, ASOF_STATE_SCHEMA,
        "append", GroupStateTimeout.EventTimeTimeout)


def stream_decontaminate(docs_stream: DataFrame, bench: DataFrame,
                         k: int = 8, text_col: str = "text") -> DataFrame:
    """Streaming benchmark decontamination — the stateless streaming
    twin of :func:`~pandarus_spark.operators.decontam.decontaminate`:
    documents sharing any k-word shingle with the (batch) eval set are
    dropped from the stream as they arrive.

    Scale shape mirrors the batch operator exactly: the eval set is
    tiny by design, so its rolling-hash shingle-id set (2^-62-collision
    62-bit ids, `dedup.shingle_id_rows` semantics) is computed ONCE
    batch-side and broadcast; each micro-batch row is checked
    ROW-LOCALLY — the document's id array comes from the same stacked
    Catalyst projections as batch (`dedup.shingle_id_arrays`), and
    membership is one Arrow-batched set probe.  Zero state, zero
    shuffle, append-mode safe, works under any watermark.  (A
    stream-static LEFT ANTI join would express the same thing, but
    Structured Streaming does not support anti joins with a static
    right side — the broadcast set probe is the supported shape.)

    Broadcast lifetime: each call creates ONE broadcast of the eval
    shingle-id set, referenced by the returned DataFrame's UDF
    closure.  Spark's ContextCleaner reclaims it automatically once
    the returned frame (and every query started from it) becomes
    unreachable in the driver — so in a long-lived session, drop the
    reference after the query stops rather than caching many returned
    frames (r4 advice).
    """
    from ..operators.decontam import benchmark_shingles
    from ..operators.dedup import shingle_id_arrays

    bench_ids = {int(r["shingle"])
                 for r in benchmark_shingles(bench, k=k,
                                             text_col=text_col).collect()}
    bc = docs_stream.sparkSession.sparkContext.broadcast(bench_ids)

    def _hit(ids):
        import pandas as pd
        s = bc.value
        return pd.Series([any(x in s for x in arr) for arr in ids])

    # explicit returnType + no type hints: `from __future__ import
    # annotations` stringifies hints, and pandas_udf cannot resolve
    # them against a function-local pandas import
    hit = F.pandas_udf(_hit, "boolean")

    arr = shingle_id_arrays(docs_stream, k=k, text_col=text_col,
                            keep=list(docs_stream.columns))
    return (arr.filter(~hit(F.col("_ids")))
            .select(*docs_stream.columns))


def stream_crawl_delta(new_stream: DataFrame, old: DataFrame,
                       id_col: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """Streaming twin of
    :func:`~pandarus_spark.operators.curation.crawl_delta`: classify
    documents of a NEW crawl as they arrive against a STATIC old
    crawl — ``added`` (key unseen), ``changed`` (content differs),
    ``unchanged``.  ``removed`` is structurally unobservable in a
    stream (absence never arrives); compute it batch-side after the
    crawl completes.  Output: ``(id_col, status)``, append-mode.

    Scale shape: both sides reduce to (key, md5 digest) MAP-SIDE, and
    the stream-static LEFT OUTER equi-join is the supported Structured
    Streaming shape — stateless (no watermark needed: the static side
    never changes), so replay is batch-boundary-independent and the
    availableNow replay equals the batch operator minus its
    ``removed`` rows.  The static side plans per micro-batch like any
    batch join: broadcast while the old digest table fits, shuffled
    hash beyond.  The caller owns the batch :func:`crawl_delta` key
    contract (unique, non-NULL) on both inputs."""
    from ..operators.curation import content_digest

    def _digest(df: DataFrame, out: str) -> DataFrame:
        return df.select(F.col(id_col),
                         content_digest(F.col(text_col)).alias(out))
    s = _digest(new_stream, "_h_new")
    o = _digest(old, "_h_old")
    status = (F.when(F.col("_h_old").isNull(), F.lit("added"))
               .when(F.col("_h_old") == F.col("_h_new"), F.lit("unchanged"))
               .otherwise(F.lit("changed")))
    return (s.join(o, id_col, "left")
             .select(F.col(id_col), status.alias("status")))
