"""Edge-case parity for the late-round-2 Catalyst kernel rewrites.

The shingle construction (zip_with over shifted slices), the
dup-ngram-fraction struct-tuple distinct, the word-shingle fingerprint,
and the folded streaming SimHash were each rewritten for plan size /
throughput with a "bit-identical output" claim.  This file makes that
claim a pinned regression surface: every kernel is compared against its
UNCHANGED DuckDB SQL rendering (the independent reference the driver
gate uses) over a corpus of generated texts plus the adversarial edge
cases — empty string, single word, double spaces (empty tokens), k-1
words (truncated shingle clamping), leading/trailing spaces, unicode,
and heavy repetition.

Also pins stream==batch SimHash equality (``simhash_expr`` vs the
explode+groupBy ``simhash``), which the streaming near-dup operator
relies on.
"""

import random
import string

import duckdb
import pytest
from pyspark.sql import functions as F

from pandarus_spark.operators import dedup as D, textstats as T

EDGE_TEXTS = [
    None,            # NULL text ≡ '' (nz totalization, both engines)
    "",
    "one",
    "two words",
    "a b c",
    "exactly four little words",
    "rep rep rep rep rep",
    "x  y",          # double space -> empty token
    " lead",
    "trail ",
    "  ",            # only empty tokens
    "Ünïcödé tëxt façade héllo wörld",
    "the the the and and of",
]


def _corpus():
    rng = random.Random(20260817)
    texts = list(EDGE_TEXTS)
    for _ in range(150):
        n = rng.randint(0, 14)
        texts.append(" ".join(
            "".join(rng.choices(string.ascii_lowercase, k=rng.randint(1, 6)))
            for _ in range(n)))
    return [(i, t) for i, t in enumerate(texts)]


@pytest.fixture(scope="module")
def corpus(spark):
    rows = _corpus()
    df = spark.createDataFrame(rows, "doc_id long, text string")
    con = duckdb.connect()
    con.execute("CREATE TABLE docs (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO docs VALUES (?, ?)", rows)
    return df, con


def test_word_shingles_matches_duckdb(corpus):
    # as SETS: DuckDB's list_distinct does not preserve encounter order
    # (the consumers — minhash, Jaccard — are all order-insensitive)
    df, con = corpus
    for k in (2, 3):
        got = {r["doc_id"]: sorted(r["sh"]) for r in
               df.select("doc_id", D.word_shingles(F.col("text"), k).alias("sh")).collect()}
        want = {i: sorted(sh) for i, sh in con.execute(
            f"SELECT doc_id, {D.shingles_sql('text', k)} FROM docs").fetchall()}
        assert got == want, f"k={k}"
    # the non-distinct gram stream under the shingles, as ORDERED lists
    for k in (1, 2, 3, 4):
        got = {r["doc_id"]: list(r["g"]) for r in
               df.select("doc_id", D._word_grams(F.col("text"), k).alias("g")).collect()}
        want = {i: list(g) for i, g in con.execute(
            f"SELECT doc_id, {D._word_grams_sql('text', k)} FROM docs").fetchall()}
        assert got == want, f"grams k={k}"


@pytest.mark.parametrize("name", [
    "unigram_logprob", "bigram_logprob", "trigram_backoff_logprob",
    "pmi_collocations", "repetition_stats"])
def test_ngram_ops_match_duckdb(corpus, name):
    """Each n-gram operator equals its ``*_sql`` twin row for row (PMI
    at ``min_count=1``: no pair of the corpus reaches the default 5)."""
    df, con = corpus
    kw = {"min_count": 1} if name == "pmi_collocations" else {}
    got_df = getattr(T, name)(df, **kw)
    cur = con.execute(getattr(T, name + "_sql")(source="docs", **kw))
    assert got_df.columns == [c[0] for c in cur.description]
    want = sorted(cur.fetchall())
    assert want
    assert sorted(tuple(r) for r in got_df.collect()) == want


def test_micro_mean_rounds_half_up_on_both_engines(spark):
    """The LMs' integer mean, ``(2·Σnll_m + Σtf) div (2·Σtf)``, at exact
    .5 ties and both neighbours of each: 2.5 -> 3 (half-even would give
    2), and 3400381.5 (a round-4 gate document's tie) -> 3400382."""
    rows = [(1, 1, 2), (1, 1, 3),                       # 5/2 = 2.5
            (2, 1, 4), (2, 1, 3),                       # 7/2 = 3.5
            (3, 3, 10), (3, 1, 0),                      # 10/4 = 2.5
            (4, 3, 9), (4, 1, 0),                       # 9/4 = 2.25
            (5, 3, 11), (5, 1, 0),                      # 11/4 = 2.75
            (6, 2, 13601525), (6, 2, 0),                # 3400381.25
            (7, 1, 6800763), (7, 1, 0),                 # 3400381.5
            (8, 2, 13601526), (8, 2, 0),                # 3400381.5
            (9, 3, 13601527), (9, 1, 0)]                # 3400381.75
    want = {1: 3, 2: 4, 3: 3, 4: 2, 5: 3,
            6: 3400381, 7: 3400382, 8: 3400382, 9: 3400382}
    df = spark.createDataFrame(rows, "doc long, tf long, nll_m long")
    got = {r["doc"]: r["m"] for r in df.groupBy("doc").agg(
        T._micro_mean("nll_m", "tf").alias("m")).collect()}
    assert got == want
    con = duckdb.connect()
    con.execute("CREATE TABLE t (doc BIGINT, tf BIGINT, nll_m BIGINT)")
    con.executemany("INSERT INTO t VALUES (?, ?, ?)", rows)
    tbl = con.execute(f"SELECT doc, {T._micro_mean_sql('nll_m', 'tf')} AS m "
                      "FROM t GROUP BY doc").fetch_arrow_table()
    assert str(tbl.schema.field("m").type) == "int64"
    assert dict(zip(*(c.to_pylist() for c in tbl.columns))) == want


def test_dup_ngram_fraction_matches_duckdb(corpus):
    df, con = corpus
    got = {r["doc_id"]: r["d"] for r in
           df.select("doc_id", T.dup_ngram_fraction(F.col("text")).alias("d")).collect()}
    want = {i: d for i, d in con.execute(
        f"SELECT doc_id, {T.dup_ngram_fraction_sql('text')} FROM docs").fetchall()}
    for i in got:
        assert got[i] == pytest.approx(want[i], abs=1e-12), i


def test_fingerprint_matches_duckdb(corpus):
    df, con = corpus
    got = {r["doc_id"]: r["fp"] for r in
           df.select("doc_id", T.fingerprint(F.col("text")).alias("fp")).collect()}
    want = {i: fp for i, fp in con.execute(
        f"SELECT doc_id, {T.fingerprint_sql('text')} FROM docs").fetchall()}
    assert got == want


def test_minhash_signatures_match_duckdb(corpus):
    df, con = corpus
    num_hashes = 8
    got = {r["doc_id"]: list(r["sig"]) for r in
           D.minhash_signatures(df, num_hashes=num_hashes).collect()}
    q = D.minhash_sql(num_hashes, source="docs")
    for row in con.execute(q).fetchall():
        assert got[row[0]] == list(row[1:]), row[0]


def test_simhash_expr_matches_batch_and_duckdb(corpus):
    # batch simhash() delegates to simhash_expr since round 3, so the
    # INDEPENDENT parity check is the DuckDB rendering (explode +
    # 64-bit-sum SQL — a genuinely separate implementation); the
    # Spark-side explode+groupBy reference lives in
    # test_checkpoint_streaming.test_simhash_expr_bit_parity_with_batch
    df, con = corpus
    expr = {r["doc_id"]: r["s"] for r in
            df.select("doc_id", D.simhash_expr(F.col("text")).alias("s")).collect()}
    batch = {r["doc_id"]: r["simhash"] for r in D.simhash(df).collect()}
    assert batch == {i: s for i, s in expr.items() if i in batch}
    want = {i: s for i, s in con.execute(
        D.simhash_sql(source="docs")).fetchall()}
    assert want  # the oracle actually produced rows
    for i, s in want.items():
        assert expr[i] == s, i


def test_null_text_totalized_end_to_end(spark):
    """A NULL-text doc must behave exactly like an empty-text doc in
    every text kernel — not vanish (posexplode of a NULL signature
    emits no rows) or null out stats columns.  External pages tables
    (read_pages_table) legitimately carry NULL text."""
    df = spark.createDataFrame(
        [(1, None), (2, ""), (3, "real words here")],
        "doc_id long, text string")
    sigs = {r["doc_id"]: list(r["sig"])
            for r in D.minhash_signatures(df, num_hashes=4).collect()}
    assert set(sigs) == {1, 2, 3}          # NULL row still present
    assert sigs[1] == sigs[2]              # NULL ≡ ''
    stats = {r["doc_id"]: r.asDict() for r in T.text_stats(df).collect()}
    assert stats[1] == {**stats[2], "doc_id": 1}
    assert all(v is not None for v in stats[1].values())
