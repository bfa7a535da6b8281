"""Checkpoint/resume ledger + Structured Streaming tile assignments."""

import os

import pytest
from pyspark.sql import functions as F

from pandarus_spark.plans.checkpoint import CheckpointLedger, intersect_partitioned, run_partitioned
from pandarus_spark.sources import pages as P
from pandarus_spark.streaming.stream import stream_cell_counts, stream_tile_assignments


def test_ledger_roundtrip(tmp_path):
    led = CheckpointLedger(str(tmp_path))
    assert not led.done("ds", "p=1")
    led.mark("ds", "p=1", {"rows": 5})
    assert led.done("ds", "p=1")
    assert led.metrics("ds", "p=1") == {"rows": 5}
    assert led.pending("ds", ["p=1", "p=2"]) == ["p=2"]


def test_run_partitioned_resumes(tmp_path):
    led = CheckpointLedger(str(tmp_path))
    calls = []

    def run_one(p):
        calls.append(p)
        if p == "b":
            raise RuntimeError("crash")
        return {"rows": 1}

    with pytest.raises(RuntimeError):
        run_partitioned(led, "ds", ["a", "b"], run_one)
    assert calls == ["a", "b"]
    calls.clear()

    def run_one_fixed(p):
        calls.append(p)
        return {"rows": 2}

    out = run_partitioned(led, "ds", ["a", "b"], run_one_fixed)
    assert calls == ["b"]                 # "a" skipped (resumed from marker)
    assert out["a"] == {"rows": 1}        # original metrics preserved
    assert out["b"] == {"rows": 2}


def test_intersect_partitioned_lineage(spark, tmp_path):
    # two-lang pages table: same grid features under two partition keys
    rows = []
    for lang, ds in (("en", "grid"), ("fr", "big-grid")):
        for url, ts, html, text, _ in P.page_rows(ds, P.FIXTURES[ds]()):
            rows.append((url, ts, html, text, lang))
    pages = spark.createDataFrame(rows, P.PAGES_SCHEMA)
    square = P.extract_features(P.pages_df(spark, "square"))
    led = CheckpointLedger(str(tmp_path / "ledger"))
    out = intersect_partitioned(spark, pages, square, led, "run1",
                                partition_col="lang", out_dir=str(tmp_path / "out"))
    assert out["en"]["rows"] == 4          # grid ∩ square
    assert out["fr"]["rows"] == 0          # big-grid is disjoint
    assert out["en"]["sum_measure"] > 0
    assert out["en"]["input_rows"] == 4
    # resumability: a second run touches nothing but returns the same
    out2 = intersect_partitioned(spark, pages, square, led, "run1",
                                 partition_col="lang", out_dir=str(tmp_path / "out2"))
    assert out2 == out
    assert not os.path.exists(str(tmp_path / "out2"))  # skipped, not rewritten


def test_streaming_tile_assignments(spark, tmp_path):
    src = str(tmp_path / "pages_in")
    P.pages_df(spark, "grid").write.parquet(src)
    stream = spark.readStream.schema(P.PAGES_SCHEMA).parquet(src)
    assert stream.isStreaming
    tiled = stream_tile_assignments(stream, res=8)
    q = (tiled.writeStream.format("memory").queryName("tiles_t")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM tiles_t").collect()
    assert len(got) >= 4                       # every grid cell got >=1 tile
    assert {r["label"] for r in got} == {f"grid cell {i}" for i in range(4)}
    batch = stream_tile_assignments(P.pages_df(spark, "grid"), res=8).collect()
    assert {(r["feature_id"], r["cell"]) for r in got} == \
           {(r["feature_id"], r["cell"]) for r in batch}  # stream == batch


def test_streaming_stateful_sessionize(spark, tmp_path):
    """applyInPandasWithState sessionization: a session is emitted only
    once the watermark passes session_end + gap (before that, a
    late-but-in-watermark event could still extend or bridge it).
    Emitted sessions must equal the batch-computed sessions the final
    watermark released."""
    from pandarus_spark.streaming.stream import stream_sessionize

    ev = (spark.read.parquet("/root/testdata/sf0.001/events.parquet")
          .filter(F.col("user_id") < 6))
    src = str(tmp_path / "events_in")
    ev.coalesce(1).write.parquet(src)

    stream = spark.readStream.schema(ev.schema).parquet(src)
    out = stream_sessionize(stream, gap_seconds=1800.0)
    q = (out.writeStream.format("memory").queryName("sessions_t")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(180)
    got = {(r["user_id"], r["session_start"], r["session_end"], r["n_events"])
           for r in spark.sql("SELECT * FROM sessions_t").collect()}

    # batch expectation: replay all events per user, merge into
    # sessions, keep those the final watermark (gmax - 10 min) passed
    # by more than the gap
    rows = sorted(ev.select("user_id", "ts").collect(),
                  key=lambda r: (r["user_id"], r["ts"]))
    gmax = max(r["ts"] for r in rows)
    sessions, cur = {}, {}
    for r in rows:
        u, t = r["user_id"], r["ts"]
        if u in cur and (t - cur[u][1]).total_seconds() <= 1800.0:
            s, _, n = cur[u]
            cur[u] = (s, t, n + 1)
        else:
            if u in cur:
                sessions.setdefault(u, []).append(cur[u])
            cur[u] = (t, t, 1)
    for u, iv in cur.items():
        sessions.setdefault(u, []).append(iv)
    want = {(u, s, e, n) for u, lst in sessions.items() for s, e, n in lst
            if (gmax - e).total_seconds() - 600.0 > 1800.0}
    assert got == want
    assert len(got) > 0


def test_streaming_sessionize_out_of_order_batches(spark, tmp_path):
    """Late-but-in-watermark events across micro-batches must extend a
    session backward or bridge two stored sessions, and emission must
    wait for the watermark to pass session_end + gap. Three sequential
    availableNow runs over one checkpoint = three ordered batches."""
    import datetime as dt

    from pandarus_spark.streaming.stream import stream_sessionize

    def T(sec):
        return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=sec)

    src = str(tmp_path / "ooo_in")
    ck = str(tmp_path / "ooo_ck")
    schema = "user_id long, ts timestamp"
    batches = [
        # run 1: u1 two separate intervals; u2 two separate intervals
        [(1, T(1000)), (1, T(9000)), (2, T(8000)), (2, T(11000))],
        # run 2: u1 merges forward (10500), opens (13000), and 8500
        # extends the 9000-session BACKWARD; u2's 9500 BRIDGES 8000+11000
        [(1, T(10500)), (1, T(13000)), (1, T(8500)), (2, T(9500))],
        # run 3: u1 new far event advances the watermark to 13400
        [(1, T(17000))],
    ]
    got = set()

    def sink(df, _epoch):
        for r in df.collect():
            got.add((r["user_id"], r["session_start"], r["session_end"], r["n_events"]))

    for rows in batches:
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)
        stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
        out = stream_sessionize(stream, gap_seconds=1800.0, watermark="1 hour")
        q = (out.writeStream.foreachBatch(sink)
             .option("checkpointLocation", ck).trigger(availableNow=True).start())
        q.awaitTermination(120)

    want = {
        (1, T(1000), T(1000), 1),      # released by run-1 watermark (5400)
        (1, T(8500), T(10500), 3),     # backward-extended; released at wm 13400
        (2, T(8000), T(11000), 3),     # bridged by 9500; released at wm 13400
    }
    assert got == want


def test_streaming_sessionize_non_utc_session_timezone(spark, tmp_path):
    """Round-2 advisor fix: with a non-UTC session timezone the
    watermark comparison and emitted wall times must NOT skew by the
    UTC offset — results must equal the UTC run exactly."""
    import datetime as dt

    from pandarus_spark.streaming.stream import stream_sessionize

    def T(sec):
        return dt.datetime(2024, 6, 1) + dt.timedelta(seconds=sec)

    rows = [(1, T(1000)), (1, T(1500)), (1, T(9000)), (2, T(500)), (1, T(20000))]
    schema = "user_id long, ts timestamp"

    def run(tag):
        src = str(tmp_path / f"tz_in_{tag}")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)
        stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
        out = stream_sessionize(stream, gap_seconds=1800.0, watermark="10 minutes")
        q = (out.writeStream.format("memory").queryName(f"tzs_{tag}")
             .option("checkpointLocation", str(tmp_path / f"tz_ck_{tag}"))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        return {(r["user_id"], r["session_start"], r["session_end"], r["n_events"])
                for r in spark.sql(f"SELECT * FROM tzs_{tag}").collect()}

    utc = run("utc")
    assert len(utc) > 0
    old = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        ny = run("ny")
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)
    assert ny == utc


def test_streaming_exact_dedup(spark, tmp_path):
    """Streaming dedup keeps one row per distinct text; count matches
    the batch operator's group count."""
    from pandarus_spark.operators.dedup import exact_dedup
    from pandarus_spark.streaming.stream import stream_exact_dedup

    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text"))
    src = str(tmp_path / "docs_in")
    docs.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(docs.schema).parquet(src)
    q = (stream_exact_dedup(stream).writeStream.format("memory")
         .queryName("dedup_t").option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM dedup_t").collect()
    n_distinct = exact_dedup(docs).count()
    assert len(got) == n_distinct
    assert len({r["text_md5"] for r in got}) == n_distinct


def test_streaming_windowed_counts(spark, tmp_path):
    src = str(tmp_path / "pages_in2")
    P.pages_df(spark, "grid").write.parquet(src)
    stream = spark.readStream.schema(P.PAGES_SCHEMA).parquet(src)
    counts = stream_cell_counts(stream, res=4, window="1 minute")
    q = (counts.writeStream.format("memory").queryName("cellcounts_t")
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM cellcounts_t").collect()
    assert sum(r["n_features"] for r in got) >= 4


def test_simhash_expr_bit_parity_with_batch(spark):
    """Row-local simhash_expr (the streaming path, and since round 3
    also what batch simhash() delegates to) == an INDEPENDENT
    explode + 64-buffer groupBy reference implementation, bit for bit.
    The reference is constructed here precisely because the production
    batch operator no longer contains it — comparing simhash() to
    simhash_expr() would be tautological."""
    from pandarus_spark.operators.dedup import _bit_lit, simhash_expr, words

    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text").limit(120))
    toks = (docs.select("doc_id",
                        F.explode(F.array_distinct(words(F.col("text")))).alias("tok"))
            .withColumn("md", F.md5(F.encode(F.col("tok"), "utf-8")))
            .withColumn("h0", F.conv(F.substring("md", 1, 15), 16, 10).cast("long"))
            .withColumn("h1", F.conv(F.substring("md", 17, 15), 16, 10).cast("long")))
    aggs = [F.sum(F.when(F.col(f"h{j // 60}").bitwiseAND(F.lit(1 << (j % 60))) != 0,
                         1).otherwise(-1)).alias(f"b{j}") for j in range(64)]
    sh = None
    for j in range(64):
        term = F.when(F.col(f"b{j}") > 0, _bit_lit(j)).otherwise(F.lit(0).cast("long"))
        sh = term if sh is None else sh + term
    ref = {r["doc_id"]: r["simhash"] for r in
           toks.groupBy("doc_id").agg(*aggs)
               .select("doc_id", sh.cast("long").alias("simhash")).collect()}
    row = {r["doc_id"]: r["sh"]
           for r in docs.select("doc_id", simhash_expr(F.col("text")).alias("sh")).collect()}
    assert row == ref and len(row) == 120


def test_stream_simhash_neardup_matches_batch(spark, tmp_path):
    """Two micro-batches of documents through the stateful near-dup
    operator: the deduped (doc_a, doc_b) pair set must equal the batch
    operator's on the full corpus (pigeonhole-exact recall)."""
    from pandarus_spark.operators.dedup import simhash_neardup_pairs
    from pandarus_spark.streaming.stream import stream_simhash_neardup

    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text").filter(F.col("doc_id") < 150))
    src = str(tmp_path / "nd_in")
    ck = str(tmp_path / "nd_ck")
    got = set()

    def sink(df, _epoch):
        for r in df.collect():
            got.add((r["doc_a"], r["doc_b"], r["hamming"]))

    halves = [docs.filter(F.col("doc_id") % 2 == 0), docs.filter(F.col("doc_id") % 2 == 1)]
    for part in halves:
        part.coalesce(1).write.mode("append").parquet(src)
        stream = spark.readStream.schema(docs.schema).parquet(src)
        q = (stream_simhash_neardup(stream, max_hamming=3, bands=4)
             .writeStream.foreachBatch(sink)
             .option("checkpointLocation", ck).trigger(availableNow=True).start())
        q.awaitTermination(180)

    want = {(r["doc_a"], r["doc_b"], r["hamming"])
            for r in simhash_neardup_pairs(docs, max_hamming=3, bands=4).collect()}
    # stream may emit a pair once per matching band — dedup exactly
    assert got == want
    assert len(want) > 0


def test_stream_simhash_neardup_drops_null_and_empty_text(spark, tmp_path):
    """NULL/empty-text docs must not hash to the ''-token simhash and
    pair quadratically — and batch and streaming must agree on them
    (round-2 advice: the nz() totalization made batch process NULL
    docs while streaming filtered them)."""
    from pandarus_spark.operators.dedup import simhash_neardup_pairs
    from pandarus_spark.streaming.stream import stream_simhash_neardup
    rows = [(1, "alpha beta gamma"), (2, None), (3, ""), (4, None),
            (5, "alpha beta gamma")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    src = str(tmp_path / "null_in")
    df.coalesce(1).write.parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)
    q = (stream_simhash_neardup(stream, max_hamming=3, bands=4)
         .writeStream.format("memory").queryName("nd_null")
         .option("checkpointLocation", str(tmp_path / "null_ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r["doc_a"], r["doc_b"]) for r in spark.sql("SELECT * FROM nd_null").collect()}
    batch = {(r["doc_a"], r["doc_b"])
             for r in simhash_neardup_pairs(df, max_hamming=3, bands=4).collect()}
    assert got == batch == {(1, 5)}  # only the real pair; no NULL/empty pairs


def test_simhash_neardup_rejects_max_hamming_not_below_bands(spark, tmp_path):
    """Pigeonhole recall needs max_hamming < bands; batch and streaming
    must refuse otherwise with a ValueError (an assert vanishes under
    ``python -O`` and the recall loss goes unnoticed)."""
    from pandarus_spark.operators.dedup import simhash_neardup_pairs
    from pandarus_spark.streaming.stream import stream_simhash_neardup
    docs = spark.createDataFrame([(0, "alpha beta")], "doc_id long, text string")
    stream = spark.readStream.schema("doc_id long, text string") \
        .parquet(str(tmp_path))
    for max_hamming in (4, 5):
        with pytest.raises(ValueError):
            simhash_neardup_pairs(docs, max_hamming=max_hamming, bands=4)
        with pytest.raises(ValueError):
            stream_simhash_neardup(stream, max_hamming=max_hamming, bands=4)


def test_curation_ops_compose_with_streaming(spark, tmp_path):
    """The curation layer (hash_sample -> chunk_tokens -> redact) is
    stateless/narrow, so it must run unchanged on a streaming
    DataFrame (append mode, no watermark needed) and produce exactly
    the batch result."""
    from pandarus_spark.operators import curation as C

    src = str(tmp_path / "docs")
    docs = spark.createDataFrame(
        [(i, f"tok{i} tok{i + 1} mail a{i}@ex.org word") for i in range(60)],
        "doc_id long, text string")
    docs.repartition(3).write.parquet(src)

    def pipeline(df):
        sampled = C.hash_sample(df, 0.5)
        chunks = C.chunk_tokens(sampled, size=3, stride=2)
        return chunks.withColumn("chunk_no", F.col("chunk_no").cast("long"))

    batch = {tuple(r) for r in pipeline(spark.read.parquet(src)).collect()}

    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    q = (pipeline(stream).writeStream.format("memory")
         .queryName("curation_stream").outputMode("append")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {tuple(r) for r in spark.table("curation_stream").collect()}
    assert got == batch and batch


def test_stream_asof_join_matches_batch_on_released_rows(spark, tmp_path):
    """Streaming as-of enrichment across three ordered micro-batches
    (one checkpoint): released left rows must carry exactly the batch
    asof_join's matches — including an out-of-order left row and a
    LATE right row that becomes the better match before release."""
    import datetime as dt

    from pandarus_spark.operators.windows import asof_join
    from pandarus_spark.streaming.stream import stream_asof_join

    def T(sec):
        return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=sec)

    lsrc, rsrc = str(tmp_path / "l_in"), str(tmp_path / "r_in")
    ck = str(tmp_path / "asof_ck")
    lschema = "user_id long, ts timestamp, event_id long"
    rschema = "user_id long, ts timestamp, value double"
    batches = [
        # run 1: u1 left at 1000, right at 500 — watermark ends at
        # 1000-600=400, so the left stays buffered (releasable only
        # when the watermark passes ITS ts)
        ([(1, T(1000), 10)], [(1, T(500), 1.0)]),
        # run 2: late-but-IN-watermark right at 900 (ts 900 >= wm 400)
        # becomes the better match for the buffered 1000 left;
        # out-of-order left at 4000; rows at 9000 advance the
        # watermark to 8400, releasing lefts 1000 and 4000
        ([(1, T(4000), 12), (1, T(9000), 13), (2, T(9000), 20)],
         [(1, T(900), 2.0), (1, T(4500), 3.0), (2, T(8000), 9.0)]),
        # run 3: rows at 17000 -> wm 16400 releases the 9000 lefts
        ([(1, T(17000), 14)], [(2, T(17000), 0.0)]),
    ]
    got = {}

    def sink(df, _epoch):
        for r in df.collect():
            got[r["event_id"]] = (r["user_id"], r["ts"], r["matched_value"])

    for lrows, rrows in batches:
        spark.createDataFrame(lrows, lschema).coalesce(1) \
            .write.mode("append").parquet(lsrc)
        spark.createDataFrame(rrows or [], rschema).coalesce(1) \
            .write.mode("append").parquet(rsrc)
        ls = spark.readStream.schema(lschema.replace(" long", " bigint")).parquet(lsrc)
        rs = spark.readStream.schema(rschema.replace(" long", " bigint")).parquet(rsrc)
        out = stream_asof_join(ls, rs, watermark="10 minutes")
        q = (out.writeStream.foreachBatch(sink)
             .option("checkpointLocation", ck).trigger(availableNow=True).start())
        q.awaitTermination(120)

    # batch expectation over ALL rows, restricted to released event_ids
    all_l = [r for lrows, _ in batches for r in lrows]
    all_r = [r for _, rrows in batches for r in rrows]
    left = spark.createDataFrame(all_l, lschema)
    right = (spark.createDataFrame(all_r, rschema)
             .groupBy("user_id", "ts").agg(F.max("value").alias("value")))
    want_all = {r["event_id"]: (r["user_id"], r["ts"], r["value"]) for r in
                asof_join(left.select("event_id", "user_id", "ts"), right,
                          key_col="user_id", ts_col="ts").collect()}
    assert set(got) >= {10, 12, 13, 20}, got
    assert 14 not in got  # final-run left stays buffered (wm 16400 < 17000)
    for eid, row in got.items():
        assert row == want_all[eid], eid
    # the late-right case was actually exercised: left 1000 matched the
    # in-watermark late 900 row, not the 500 row it saw first
    assert got[10][2] == 2.0
    assert got[12][2] == 2.0   # out-of-order left 4000: latest <= is 900
    assert got[13][2] == 3.0   # 9000 picks up the 4500 right
    assert got[20][2] == 9.0   # second key matched independently


def test_stream_asof_join_survives_null_rows(spark, tmp_path):
    """NULL timestamps pass Spark's late-row watermark predicate and
    reach the state function; they (and NULL ids/values) must be
    dropped per the column contract, not kill the query (regression:
    astype('int64') on NaT raises on pandas >= 2)."""
    import datetime as dt

    from pandarus_spark.streaming.stream import stream_asof_join

    def T(sec):
        return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=sec)

    lsrc, rsrc = str(tmp_path / "l_in"), str(tmp_path / "r_in")
    lschema = "user_id bigint, ts timestamp, event_id bigint"
    rschema = "user_id bigint, ts timestamp, value double"
    spark.createDataFrame(
        [(1, T(100), 10), (1, None, 11), (1, T(5000), 12)], lschema) \
        .coalesce(1).write.parquet(lsrc)
    spark.createDataFrame(
        [(1, T(50), 1.0), (1, None, 2.0), (1, T(80), None)], rschema) \
        .coalesce(1).write.parquet(rsrc)

    got = {}

    def sink(df, _epoch):
        for r in df.collect():
            got[r["event_id"]] = r["matched_value"]

    ls = spark.readStream.schema(lschema).parquet(lsrc)
    rs = spark.readStream.schema(rschema).parquet(rsrc)
    q = (stream_asof_join(ls, rs, watermark="10 minutes")
         .writeStream.foreachBatch(sink)
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    # watermark 5000-600=4400 releases the 100 left; its match is the
    # t=50 value (the NULL-value t=80 row is "no observation")
    assert got == {10: 1.0}


def test_stream_asof_right_history_survives_release_timeout(spark, tmp_path):
    """Two regressions in one flow: (a) the right-history TTL must
    anchor at max(watermark, newest right ts) — in the FIRST batch the
    watermark is epoch 0, and anchoring there expired 2024-era history
    the moment the real watermark was computed; (b) a left-release
    TIMEOUT invocation must retain the right history like a data-driven
    release does, not fall through to state.remove()."""
    import datetime as dt

    from pandarus_spark.streaming.stream import stream_asof_join

    def T(sec):
        return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=sec)

    lsrc, rsrc = str(tmp_path / "l_in"), str(tmp_path / "r_in")
    ck = str(tmp_path / "ck")
    lschema = "user_id bigint, ts timestamp, event_id bigint"
    rschema = "user_id bigint, ts timestamp, value double"
    batches = [
        # run 1: key 1 has ONLY right history; watermark is epoch 0
        # during this update (regression a)
        ([], [(1, T(1000), 1.0)]),
        # run 2: another key advances the watermark far past epoch
        # 86400 but not past T(1000)+TTL
        ([(9, T(5000), 90)], []),
        # run 3: key-1 left arrives; also advances wm so it releases —
        # possibly via a timeout invocation (regression b)
        ([(1, T(5000), 10), (9, T(7000), 91)], []),
        # run 4: a later key-1 left; its match must STILL be the
        # t=1000 right row retained through run 3's release
        ([(1, T(7000), 11), (9, T(9000), 92)], []),
        ([(9, T(17000), 93)], []),
    ]
    got = {}

    def sink(df, _epoch):
        for r in df.collect():
            got[r["event_id"]] = r["matched_value"]

    for lrows, rrows in batches:
        spark.createDataFrame(lrows or [], lschema).coalesce(1) \
            .write.mode("append").parquet(lsrc)
        spark.createDataFrame(rrows or [], rschema).coalesce(1) \
            .write.mode("append").parquet(rsrc)
        ls = spark.readStream.schema(lschema).parquet(lsrc)
        rs = spark.readStream.schema(rschema).parquet(rsrc)
        q = (stream_asof_join(ls, rs, watermark="10 minutes")
             .writeStream.foreachBatch(sink)
             .option("checkpointLocation", ck).trigger(availableNow=True).start())
        q.awaitTermination(120)

    assert got.get(10) == 1.0, got   # regression (a): history survived wm jump
    assert got.get(11) == 1.0, got   # regression (b): survived the release


def test_interval_join_stream_static(spark, tmp_path):
    """interval_join is an explode + equi-join + filter, so it works
    unchanged as a STREAM-static join (streaming points against a
    static interval table) in append mode — the third temporal
    operator usable on live streams."""
    import datetime as dt

    from pandarus_spark.operators.windows import interval_join

    def T(sec):
        return dt.datetime(2024, 1, 1) + dt.timedelta(seconds=sec)

    src = str(tmp_path / "pts_in")
    spark.createDataFrame(
        [(1, T(100)), (2, T(500)), (3, T(2000))], "pid bigint, ts timestamp") \
        .coalesce(1).write.parquet(src)
    intervals = spark.createDataFrame(
        [(10, T(0), T(600)), (11, T(1500), T(1800))],
        "iid bigint, start timestamp, end timestamp")

    stream = spark.readStream.schema("pid bigint, ts timestamp").parquet(src)
    out = interval_join(stream, intervals, bucket_seconds=300.0) \
        .select("pid", "iid")
    q = (out.writeStream.format("memory").queryName("ij_stream")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {(r["pid"], r["iid"]) for r in spark.table("ij_stream").collect()}
    assert got == {(1, 10), (2, 10)}


def test_stream_decontaminate_matches_batch(spark, tmp_path):
    """Streaming decontamination (stateless broadcast set probe) keeps
    exactly the documents batch decontaminate keeps."""
    from pandarus_spark.operators.decontam import decontaminate
    from pandarus_spark.streaming.stream import stream_decontaminate

    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text"))
    bench = docs.filter("doc_id % 9 = 0").select(
        F.col("doc_id").alias("bid"), "text")

    src = str(tmp_path / "dc_in")
    docs.coalesce(2).write.parquet(src)
    stream = spark.readStream.schema(docs.schema).parquet(src)
    out = stream_decontaminate(stream, bench, k=5)
    q = (out.writeStream.format("memory").queryName("dc_t")
         .option("checkpointLocation", str(tmp_path / "dc_ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r["doc_id"] for r in spark.sql("SELECT doc_id FROM dc_t").collect()}
    want = {r["doc_id"] for r in decontaminate(docs, bench, k=5).collect()}
    assert got == want
    assert 0 < len(want) < docs.count()  # some dropped, some kept


def test_stream_hll_registers_multi_batch_matches_batch(spark, tmp_path):
    """The 2^p-bounded streaming state must merge registers by max
    ACROSS batches: maxFilesPerTrigger=1 over 4 source files forces
    four micro-batches, and the final complete-mode table must equal
    the one-shot batch register table."""
    import pytest
    from pandarus_spark.operators.sketch import hll_registers
    from pandarus_spark.streaming.stream import stream_hll_registers

    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select("doc_id"))
    src = str(tmp_path / "hll_in")
    docs.repartition(4).write.parquet(src)
    stream = (spark.readStream.schema(docs.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    batches = []

    def sink(df, _epoch):
        batches.append({r["bucket"]: r["reg"] for r in df.collect()})

    q = (stream_hll_registers(stream, "doc_id", p=8)
         .writeStream.foreachBatch(sink).outputMode("complete")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    assert q.awaitTermination(120)
    assert len(batches) >= 2                    # genuinely multi-batch
    want = {r["bucket"]: r["reg"] for r in
            hll_registers(docs, "doc_id", p=8).collect() if r["reg"] > 0}
    assert batches[-1] == want
    # state monotonicity: registers only grow batch to batch
    for a, b in zip(batches, batches[1:]):
        assert all(a[k] <= b.get(k, 0) for k in a)
    with pytest.raises(ValueError):
        stream_hll_registers(stream, "doc_id", p=3)


def test_stream_crawl_delta_matches_batch_minus_removed(spark, tmp_path):
    """Stateless stream-static delta: a multi-batch availableNow replay
    of the new crawl must classify exactly like batch crawl_delta with
    the (stream-unobservable) 'removed' rows excluded, regardless of
    batch boundaries."""
    from pandarus_spark.operators.curation import crawl_delta
    from pandarus_spark.streaming.stream import stream_crawl_delta

    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text"))
    old = docs.filter(F.col("doc_id") % 17 != 0)
    i = F.col("doc_id")
    new_batch = (docs.filter(i % 5 != 1)
                 .select("doc_id",
                         F.when(i % 13 == 0, F.concat(F.col("text"),
                                                      F.lit(" v2")))
                          .otherwise(F.col("text")).alias("text")))
    src = str(tmp_path / "delta_in")
    new_batch.repartition(4).write.parquet(src)
    stream = (spark.readStream.schema(new_batch.schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    got, n_batches = [], [0]

    def sink(df, _epoch):
        rows = df.collect()
        if rows:
            n_batches[0] += 1
        got.extend((r["doc_id"], r["status"]) for r in rows)

    q = (stream_crawl_delta(stream, old)
         .writeStream.foreachBatch(sink).outputMode("append")
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    assert q.awaitTermination(120)
    assert n_batches[0] >= 2                    # genuinely multi-batch
    want = sorted((r["doc_id"], r["status"]) for r in
                  crawl_delta(old, new_batch).collect()
                  if r["status"] != "removed")
    assert sorted(got) == want
