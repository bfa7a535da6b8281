"""Tests for benchmark decontamination and the unigram LM scorer
(graft additions — training-data pipeline surface, no reference
analogue), plus line_dedup's in-document scope."""

import math
import random

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from pandarus_spark.operators.decontam import (
    benchmark_shingles, contamination_stats, contamination_stats_sql,
    decontaminate)
from pandarus_spark.operators.dedup import line_dedup, line_dedup_sql
from pandarus_spark.operators.textstats import (
    unigram_logprob, unigram_logprob_sql)


def test_contamination_flags_overlap(spark):
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps"),      # contains bench shingle
         (2, "totally clean document text here"),
         (3, "short")],                          # < k words: one truncated shingle
        "doc_id long, text string")
    bench = spark.createDataFrame([(1, "quick brown fox")],
                                  "bid long, text string")
    out = {r["doc_id"]: (r["n_hits"], r["contaminated"])
           for r in contamination_stats(docs, bench, k=3).collect()}
    assert out[1] == (1, True)
    assert out[2] == (0, False)
    assert out[3] == (0, False)
    clean = sorted(r["doc_id"] for r in decontaminate(docs, bench, k=3).collect())
    assert clean == [2, 3]


def test_benchmark_shingles_distinct(spark):
    """Shingle identity is the rolling-hash id since round 4: the two
    texts share their shingle sets ('a b c a b c' has exactly the
    shingles {a b c, b c a, c a b}; 'a b c' contributes the first), so
    the distinct union has 3 ids — and each id equals the id of the
    corresponding standalone 3-word text (positional rolling hash)."""
    from pandarus_spark.operators.dedup import word_shingle_ids
    from pyspark.sql import functions as F
    bench = spark.createDataFrame([(1, "a b c a b c"), (2, "a b c")],
                                  "bid long, text string")
    got = sorted(r["shingle"] for r in benchmark_shingles(bench, k=3).collect())
    singles = spark.createDataFrame([("a b c",), ("b c a",), ("c a b",)],
                                    "text string")
    want = sorted(r["ids"][0] for r in singles.select(
        word_shingle_ids(F.col("text"), 3).alias("ids")).collect())
    assert got == want and len(got) == 3


def test_shingle_ids_duckdb_parity_adversarial(spark):
    """word_shingle_ids vs the unrolled DuckDB recurrence on
    adversarial texts (empty, NULL, shorter-than-k, unicode, repeated)
    across k — bit parity of the full distinct id sets."""
    import duckdb
    from pyspark.sql import functions as F

    from pandarus_spark.operators.dedup import (
        shingle_id_lanes_sql, shingle_ids_over_sql, word_shingle_ids)
    texts = ["", None, "one", "a b", "a b c d e f g h i j", "x " * 30,
             "the quick brown fox jumps over the lazy dog again and again",
             "Ünïcode wörds überall ünïcode wörds überall extra pad here"]
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    con = duckdb.connect()
    con.execute("CREATE TABLE t(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", list(enumerate(texts)))
    h1, h2 = shingle_id_lanes_sql("text")
    for k in (2, 5, 8, 9):
        got = {r["doc_id"]: sorted(r["ids"]) for r in df.select(
            "doc_id", word_shingle_ids(F.col("text"), k).alias("ids")).collect()}
        q = (f"SELECT doc_id, {shingle_ids_over_sql('h1', 'h2', k)} AS ids "
             f"FROM (SELECT doc_id, {h1} AS h1, {h2} AS h2 FROM t) b")
        want = {d: sorted(v) for d, v in con.execute(q).fetchall()}
        assert got == want, k


def test_shingle_ids_positional_and_set_semantics(spark):
    """The rolling hash is positional (word order matters) and id
    equality tracks shingle-text equality on a hand corpus."""
    from pyspark.sql import functions as F

    from pandarus_spark.operators.dedup import word_shingle_ids
    df = spark.createDataFrame(
        [(0, "a b c"), (1, "c b a"), (2, "a b c"), (3, "a a a")],
        "doc_id long, text string")
    ids = {r["doc_id"]: r["ids"] for r in df.select(
        "doc_id", word_shingle_ids(F.col("text"), 3).alias("ids")).collect()}
    assert ids[0] == ids[2]          # same text -> same id
    assert ids[0] != ids[1]          # reversed word order -> different id
    assert len(ids[3]) == 1          # repeated words still one distinct id


def test_contamination_duckdb_parity(spark):
    rng = random.Random(23)
    vocab = [f"w{i}" for i in range(12)]
    docs = [(i, " ".join(rng.choice(vocab) for _ in range(rng.randrange(2, 15)))
             + (" alpha beta gamma delta" if i % 9 == 0 else ""))
            for i in range(80)]
    bench = [(i, " ".join(rng.choice(vocab) for _ in range(6)))
             for i in range(4)] + [(99, "alpha beta gamma delta epsilon")]
    ddf = spark.createDataFrame(docs, "doc_id long, text string")
    bdf = spark.createDataFrame(bench, "bid long, text string")
    got = sorted(tuple(r) for r in contamination_stats(ddf, bdf, k=4).collect())
    con = duckdb.connect()
    docs_pdf = pd.DataFrame(docs, columns=["doc_id", "text"])
    bench_pdf = pd.DataFrame(bench, columns=["bid", "text"])
    con.register("documents", docs_pdf)
    con.register("benchmark", bench_pdf)
    want = sorted(tuple(r) for r in
                  con.execute(contamination_stats_sql(k=4)).fetchall())
    assert got == want
    assert any(r[3] for r in got)  # fixture actually exercises hits


def test_unigram_logprob_hand_corpus(spark):
    # corpus: 6 tokens total — 'a'×3, 'b'×2, 'c'×1
    docs = spark.createDataFrame([(1, "a a b"), (2, "a b c")],
                                 "doc_id long, text string")
    out = {r["doc_id"]: (r["n_tokens"], r["nll_micro"])
           for r in unigram_logprob(docs).collect()}

    def micro(p):  # the operator's integer micro-nat rounding
        return round(math.log(1.0 / p) * 1e6)

    def mean_half_up(total, n):  # the operator's integer-only mean
        return (2 * total + n) // (2 * n)

    nll1 = mean_half_up(2 * micro(3 / 6) + micro(2 / 6), 3)
    nll2 = mean_half_up(micro(3 / 6) + micro(2 / 6) + micro(1 / 6), 3)
    assert out == {1: (3, nll1), 2: (3, nll2)}
    # rarer tokens -> higher mean NLL
    assert out[2][1] > out[1][1]
    # the output is INTEGER-only — round(float, 6) landed on exact .5
    # ties across engines (VERDICT.md r4 #1); a float column here is a
    # regression even if the values happen to agree
    assert dict(unigram_logprob(docs).dtypes)["nll_micro"] == "bigint"


def test_unigram_logprob_partition_invariance(spark):
    rng = random.Random(31)
    docs = [(i, " ".join(f"t{rng.randrange(20)}" for _ in range(10)))
            for i in range(50)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    a = sorted(tuple(r) for r in unigram_logprob(df).collect())
    b = sorted(tuple(r) for r in unigram_logprob(df.repartition(7)).collect())
    assert a == b  # integer micro-nat sums: order-free, bit-identical


def test_unigram_logprob_duckdb_parity(spark):
    rng = random.Random(37)
    docs = [(i, " ".join(f"t{rng.randrange(15)}"
                         for _ in range(rng.randrange(1, 12))))
            for i in range(60)] + [(999, None)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = sorted(tuple(r) for r in unigram_logprob(df).collect())
    con = duckdb.connect()
    docs_pdf = pd.DataFrame(docs, columns=["doc_id", "text"])
    con.register("documents", docs_pdf)
    want = sorted(tuple(r) for r in
                  con.execute(unigram_logprob_sql()).fetchall())
    assert got == want


def test_unigram_logprob_sql_columns_are_int64_through_arrow():
    """The driver fetches oracle results through Arrow, where DuckDB's
    HUGEINT (``sum(BIGINT)``) arrives as decimal128 and stringifies
    unlike Spark's bigint; both output columns must come out int64."""
    import pyarrow as pa
    con = duckdb.connect()
    con.register("documents", pd.DataFrame({"doc_id": [1, 2],
                                            "text": ["a a b", "a b c"]}))
    tbl = con.execute(unigram_logprob_sql()).fetch_arrow_table()
    assert tbl.schema.field("n_tokens").type == pa.int64()
    assert tbl.schema.field("nll_micro").type == pa.int64()
    assert sorted(tbl.column("n_tokens").to_pylist()) == [3, 3]


def test_line_dedup_doc_scope(spark):
    docs = spark.createDataFrame([(1, "x\ny\nx"), (2, "x\nz")],
                                 "doc_id long, text string")
    out = {r["doc_id"]: r["n_kept"]
           for r in line_dedup(docs, scope="doc").collect()}
    # doc1's second 'x' drops; doc2's 'x' is untouched (cross-doc)
    assert out == {1: 2, 2: 2}
    corpus = {r["doc_id"]: r["n_kept"]
              for r in line_dedup(docs, scope="corpus").collect()}
    assert corpus == {1: 2, 2: 1}  # corpus scope also strips doc2's 'x'
    con = duckdb.connect()
    docs_pdf = pd.DataFrame([(1, "x\ny\nx"), (2, "x\nz")],
                            columns=["doc_id", "text"])
    con.register("documents", docs_pdf)
    w = {r[0]: r[2] for r in
         con.execute(line_dedup_sql(scope="doc")).fetchall()}
    assert w == out


def test_line_dedup_scope_validation(spark):
    docs = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError, match="scope"):
        line_dedup(docs, scope="global")
    with pytest.raises(ValueError, match="scope"):
        line_dedup_sql(scope="global")


def test_bloom_decontam_superset_and_fp_rate(spark):
    """The Bloom path (beyond-broadcast-set scale variant) must flag a
    SUPERSET of the exact contaminated set (no false negatives — the
    guarantee that matters for decontamination) with a bounded
    false-positive rate at the configured sizing."""
    from pandarus_spark.operators.decontam import (
        bloom_contaminated, build_shingle_bloom, contamination_stats)
    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text"))
    bench = docs.filter("doc_id % 9 = 0").select(
        F.col("doc_id").alias("bid"), "text")
    exact = {r["doc_id"] for r in contamination_stats(docs, bench, k=5)
             .filter("contaminated").collect()}
    bloom = build_shingle_bloom(bench, k=5, n_bits=1 << 20, n_hashes=7)
    flagged = {r["doc_id"] for r in bloom_contaminated(docs, bloom, k=5)
               .filter("contaminated").collect()}
    assert exact <= flagged                       # no false negatives
    n_docs = docs.count()
    extra = len(flagged - exact)
    # 1M bits vs a tiny eval-shingle set -> FP rate ~0; allow slack
    assert extra <= max(2, n_docs // 50), (extra, n_docs)
    assert len(exact) > 0


def test_bloom_build_partition_invariant(spark):
    """The bitmap is an OR of per-item bits — identical whatever the
    partitioning of the build side."""
    from pandarus_spark.operators.decontam import build_shingle_bloom
    docs = (spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .select("doc_id", "text").filter("doc_id % 7 = 0"))
    w1, _, _ = build_shingle_bloom(docs, k=5, n_bits=1 << 18, n_hashes=5)
    w2, _, _ = build_shingle_bloom(docs.repartition(13), k=5,
                                   n_bits=1 << 18, n_hashes=5)
    assert (w1 == w2).all() and w1.any()


# ---------------------------------------------------------------------------
# dup_span_stats (cross-document duplicated n-gram spans, round 4)
# ---------------------------------------------------------------------------

def test_dup_span_stats_hand_corpus(spark):
    from pandarus_spark.operators.dedup import dup_span_stats
    d1 = "alpha beta gamma delta epsilon zeta"    # shingles: [a..e], [b..z]
    d2 = "alpha beta gamma delta epsilon other"   # shares the first shingle
    d3 = "one two three four five six"            # both shingles unique
    docs = spark.createDataFrame([(1, d1), (2, d2), (3, d3)],
                                 "doc_id long, text string")
    out = {r["doc_id"]: (r["n_shingles"], r["n_dup"], r["dup_ppm"])
           for r in dup_span_stats(docs, k=5).collect()}
    assert out[1] == (2, 1, 500000)
    assert out[2] == (2, 1, 500000)
    assert out[3] == (2, 0, 0)


def test_dup_span_stats_duckdb_parity_and_invariance(spark):
    from pandarus_spark.operators.dedup import dup_span_stats, dup_span_stats_sql
    rng = random.Random(3)
    vocab = [f"w{i}" for i in range(30)]
    shared = "the quick brown fox jumps over lazy dogs tonight"
    rows = []
    for i in range(120):
        t = " ".join(rng.choice(vocab) for _ in range(rng.randint(1, 25)))
        rows.append((i, t + " " + shared if i % 5 == 0 else t))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(tuple(r) for r in dup_span_stats(docs, k=5).collect())
    assert any(r[2] > 0 for r in got)  # the shared sentence duplicates
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    want = sorted(tuple(r) for r in con.execute(dup_span_stats_sql(k=5)).fetchall())
    assert got == want
    got2 = sorted(tuple(r) for r in
                  dup_span_stats(docs.repartition(7), k=5).collect())
    assert got2 == got


# ---------------------------------------------------------------------------
# bloom_contaminated_sql (value-exact SQL twin of the Bloom probe)
# ---------------------------------------------------------------------------

def test_bloom_contaminated_sql_parity(spark):
    """The Bloom probe is pure int64 arithmetic, so its exact flag set
    — deterministic false positives included — must match the SQL
    rendering bit-for-bit.  Tiny n_bits forces false positives so the
    parity covers the FP path, and the flag set must remain a superset
    of exact contamination."""
    from pandarus_spark.operators.decontam import (
        bloom_contaminated, bloom_contaminated_sql, build_shingle_bloom,
        contamination_stats)
    rng = random.Random(9)
    vocab = [f"t{i}" for i in range(40)]
    rows = [(i, " ".join(rng.choice(vocab) for _ in range(rng.randint(3, 20))))
            for i in range(150)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    bench = docs.filter(F.col("doc_id") % 11 == 0).select("text")
    bloom = build_shingle_bloom(bench, k=3, n_bits=256, n_hashes=3)
    got = {r["doc_id"]: r["contaminated"]
           for r in bloom_contaminated(docs, bloom, k=3).collect()}
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    sql = bloom_contaminated_sql(
        bench_source="(SELECT text FROM documents WHERE doc_id % 11 = 0)",
        k=3, n_bits=256, n_hashes=3)
    want = {r[0]: bool(r[1]) for r in con.execute(sql).fetchall()}
    assert got == want
    exact = {r["doc_id"] for r in
             contamination_stats(docs, bench.select(F.col("text")), k=3)
             .filter("contaminated").collect()}
    flagged = {d for d, c in got.items() if c}
    assert exact <= flagged          # no false negatives, ever
    assert len(flagged) > len(exact)  # n_bits=256 forces false positives


def test_dup_span_stats_null_and_empty_text(spark):
    """NULL/empty text docs still emit a row (one truncated shingle of
    the empty word) and never crash the union rollup."""
    from pandarus_spark.operators.dedup import dup_span_stats
    docs = spark.createDataFrame(
        [(1, None), (2, ""), (3, "real words here beyond the window")],
        "doc_id long, text string")
    out = {r["doc_id"]: r["n_shingles"] for r in dup_span_stats(docs, k=5).collect()}
    assert set(out) == {1, 2, 3}
    assert out[1] == 1 and out[2] == 1   # coalesce('') -> [''] -> 1 shingle
    # NULL and '' collapse to the same shingle id -> both are dup spans
    dup = {r["doc_id"]: r["n_dup"] for r in dup_span_stats(docs, k=5).collect()}
    assert dup[1] == 1 and dup[2] == 1 and dup[3] == 0


# ---------------------------------------------------------------------------
# remove_dup_spans (exact-substring dedup surgery, round-4c)
# ---------------------------------------------------------------------------


def test_remove_dup_spans_hand_corpus(spark):
    from pandarus_spark.operators.dedup import remove_dup_spans
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta"),
        (5, "Alpha Beta GAMMA delta epsilon zeta eta theta"),  # case-blind dup
        (9, "unique words here then alpha beta gamma delta epsilon done"),
        (3, "totally different content with no overlap at all"),
        (7, None),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: (r["text_clean"], r["n_removed"])
           for r in remove_dup_spans(docs, k=5).collect()}
    # canonical copy (smallest id) keeps everything
    assert got[1] == ("alpha beta gamma delta epsilon zeta eta theta", 0)
    # case-insensitive exact dup fully excised
    assert got[5] == ("", 8)
    # shared 5-gram footer cut mid-document, unique prose survives in
    # ORIGINAL positions/case
    assert got[9] == ("unique words here then done", 5)
    assert got[3][1] == 0 and got[7] == ("", 0)


def test_remove_dup_spans_consistent_with_stats(spark):
    from pandarus_spark.operators.dedup import dup_span_stats, remove_dup_spans
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    removed = {r["doc_id"]: r["n_removed"]
               for r in remove_dup_spans(docs, k=5).collect()}
    dup = {r["doc_id"]: r["n_dup"] for r in dup_span_stats(docs, k=5).collect()}
    # a doc loses words only if it HAS duplicated spans; some docs with
    # duplicated spans lose nothing (they are the canonical copy)
    assert any(v > 0 for v in removed.values())
    for did, nrem in removed.items():
        if nrem > 0:
            assert dup[did] > 0, did


def test_remove_dup_spans_parity_and_invariance(spark):
    import duckdb
    import pandas as pd
    from pandarus_spark.operators.dedup import remove_dup_spans, remove_dup_spans_sql
    pdf = pd.read_parquet("/root/testdata/sf0.001/documents.parquet")[
        ["doc_id", "text"]].head(200)
    docs = spark.createDataFrame(pdf)
    got = sorted(tuple(r) for r in remove_dup_spans(docs, k=5).collect())
    got2 = sorted(tuple(r) for r in
                  remove_dup_spans(docs.repartition(11), k=5).collect())
    assert got == got2
    con = duckdb.connect()
    con.register("documents", pdf)
    want = sorted(tuple(r) for r in con.execute(remove_dup_spans_sql(k=5)).fetchall())
    assert [tuple(map(str, a)) for a in got] == [tuple(map(str, b)) for b in want]


_SPAN_FIXTURE = [
    # overlapping + adjacent shared spans (spans merge across the
    # shared1/shared2 boundary in doc 2), a unique doc, NULL/empty
    # docs, and a sub-k whole-doc duplicate pair — every edge the
    # maximal-span merge has to handle
    (1, "alpha beta gamma delta epsilon zeta unique1a one two three four five"),
    (2, "prefix2 alpha beta gamma delta epsilon zeta one two three four five tail2"),
    (3, "one two three four five middle3 words3 here3 alpha beta gamma delta epsilon zeta"),
    (4, "totally unique text with no duplicated spans at all"),
    (5, None),
    (6, ""),
    (7, "tiny pair"),
    (8, "tiny pair"),
]


def test_dup_span_intervals_quadratic_reference(spark):
    """Paper-semantics parity (r4 verdict #6): the merged k-gram cover
    equals the per-doc union of ALL maximal common substrings of
    >= k words found by a quadratic all-pairs scan, plus the
    documented degenerate rule (whole-doc exact duplicates of sub-k
    docs report (1, n_words))."""
    from pandarus_spark.operators.dedup import dup_span_intervals
    k = 3
    docs = spark.createDataFrame(_SPAN_FIXTURE, "doc_id long, text string")
    low = {d: (t if t is not None else "").lower().split(" ")
           for d, t in _SPAN_FIXTURE}
    cov = {d: set() for d, _ in _SPAN_FIXTURE}
    ds = [d for d, _ in _SPAN_FIXTURE]
    for a in ds:
        for b in ds:
            if a == b:
                continue
            wa, wb = low[a], low[b]
            for i in range(len(wa)):
                for j in range(len(wb)):
                    n = 0
                    while (i + n < len(wa) and j + n < len(wb)
                           and wa[i + n] == wb[j + n]):
                        n += 1
                    if n >= k:
                        cov[a].update(range(i + 1, i + n + 1))
            if len(wa) < k and wa == wb:
                cov[a].update(range(1, len(wa) + 1))
    exp = {}
    for d in ds:
        runs = []
        for p in sorted(cov[d]):
            if runs and p == runs[-1][1] + 1:
                runs[-1][1] = p
            else:
                runs.append([p, p])
        exp[d] = [(st, en) for st, en in runs]
    got = {}
    for r in dup_span_intervals(docs, k=k).collect():
        got.setdefault(r["doc_id"], []).append((r["span_start"], r["span_end"]))
    for d in ds:
        assert sorted(got.get(d, [])) == exp[d], d


def test_dup_span_intervals_removal_equivalence(spark):
    """keeper_exempt=True intervals are EXACTLY what remove_dup_spans
    excises: deleting the reported intervals from the original words
    reproduces text_clean and n_removed for every doc."""
    from pandarus_spark.operators.dedup import dup_span_intervals, remove_dup_spans
    k = 3
    docs = spark.createDataFrame(_SPAN_FIXTURE, "doc_id long, text string")
    byd = {}
    for r in dup_span_intervals(docs, k=k, keeper_exempt=True).collect():
        byd.setdefault(r["doc_id"], []).append((r["span_start"], r["span_end"]))
    rem = {r["doc_id"]: (r["text_clean"], r["n_removed"])
           for r in remove_dup_spans(docs, k=k).collect()}
    for d, text in _SPAN_FIXTURE:
        words = (text if text is not None else "").split(" ")
        dels = set()
        for st, en in byd.get(d, []):
            dels.update(range(st, en + 1))
        kept = [w for j, w in enumerate(words, 1) if j not in dels]
        assert rem[d][0] == " ".join(kept), d
        assert rem[d][1] == len(words) - len(kept), d


def test_dup_span_intervals_duckdb_parity_and_invariance(spark):
    from pandarus_spark.operators.dedup import (dup_span_intervals,
                                                dup_span_intervals_sql)
    pdf = pd.read_parquet("/root/testdata/sf0.001/documents.parquet")[
        ["doc_id", "text"]].head(200)
    docs = spark.createDataFrame(pdf)
    for exempt in (False, True):
        got = sorted(tuple(r) for r in
                     dup_span_intervals(docs, k=5, keeper_exempt=exempt).collect())
        got2 = sorted(tuple(r) for r in
                      dup_span_intervals(docs.repartition(11), k=5,
                                         keeper_exempt=exempt).collect())
        assert got == got2
        con = duckdb.connect()
        con.register("documents", pdf)
        want = sorted(tuple(r) for r in con.execute(
            dup_span_intervals_sql(k=5, keeper_exempt=exempt)).fetchall())
        assert got == want
