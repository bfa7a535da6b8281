"""Text analysis for training-data pipelines (graft addition):
language-ID heuristic, quality scoring, token counting, document
fingerprinting. All pure Catalyst expressions (whole-stage codegen) —
no UDFs — and every formula is reproducible in ANSI SQL for
independent-oracle checks.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .dedup import (NZ_SQL, WORDS_SQL, _word_grams, _word_grams_sql, hash60,
                    nz, word_shingles, words)

# small marker sets per language for the n-gram/stopword heuristic
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is", "in", "that", "it"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "ich"),
    "fr": ("le", "la", "les", "et", "est", "une", "que", "pas"),
    "es": ("el", "la", "los", "y", "es", "una", "que", "no"),
}


def token_count(text: Column) -> Column:
    """Whitespace-ish token count (BPE-ish word splitting: runs of
    word chars or single non-space punctuation)."""
    return F.size(F.regexp_extract_all(nz(text), F.lit(r"[\w]+|[^\w\s]"), 0))


def whitespace_token_count(text: Column) -> Column:
    return F.size(F.split(nz(text), " "))


def n_chars(text: Column) -> Column:
    return F.length(nz(text))


def lang_scores(text: Column) -> dict[str, Column]:
    toks = words(text)
    out = {}
    for lang, markers in LANG_MARKERS.items():
        arr = F.array(*[F.lit(m) for m in markers])
        out[lang] = F.size(F.array_intersect(F.array_distinct(toks), arr))
    return out


def lang_id(text: Column) -> Column:
    """Stopword-marker language guess; deterministic tie-break by the
    fixed language order; 'und' (undetermined) when nothing matches."""
    scores = lang_scores(text)
    best_lang = F.lit("und")
    best_score = F.lit(0)
    for lang in LANG_MARKERS:  # fixed order => deterministic ties
        s = scores[lang]
        is_better = s > best_score
        best_lang = F.when(is_better, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(is_better, s).otherwise(best_score)
    return best_lang


def quality_score(text: Column) -> Column:
    """Heuristic quality in [0,1]: unique-token ratio, length saturation,
    mean token length saturation (deterministic, SQL-expressible)."""
    toks = words(text)
    n = F.size(toks)
    uniq = F.size(F.array_distinct(toks))
    unique_ratio = uniq / F.greatest(n, F.lit(1))
    len_sat = F.least(n / F.lit(200.0), F.lit(1.0))
    avg_len = n_chars(text) / F.greatest(n, F.lit(1))
    len_tok_sat = F.least(avg_len / F.lit(8.0), F.lit(1.0))
    return F.round(0.5 * unique_ratio + 0.3 * len_sat + 0.2 * len_tok_sat, 6)


def dup_ngram_fraction(text: Column, n: int = 2) -> Column:
    """Repetition metric (Gopher-style filter rule): fraction of word
    n-gram occurrences that are repeats of an earlier occurrence —
    ``1 - distinct_ngrams / total_ngrams``.  0 for repetition-free
    text, → 1 for degenerate boilerplate.  Pure Catalyst."""
    w = words(text)
    # distinct-count over struct n-tuples of shifted slices, not over
    # concat'd gram strings: words contain no spaces (split by " "), so
    # the distinct counts are identical, and skipping the string
    # concat+hash is ~6x cheaper (3.3 s -> 0.5 s on the sf0.1 corpus).
    # slice past the end is empty and arrays_zip null-pads, so a short
    # text still yields one truncated gram (DuckDB clamping parity).
    m = F.greatest(F.size(w) - (n - 1), F.lit(1))
    grams = F.arrays_zip(*[F.slice(w, 1 + j, m) for j in range(n)])
    total = F.size(grams)
    return F.round(F.lit(1.0) - F.size(F.array_distinct(grams))
                   / F.greatest(total, F.lit(1)), 6)


def dup_ngram_fraction_sql(t: str, n: int = 2) -> str:
    grams = _word_grams_sql(t, n)
    return (f"round(1.0 - len(list_distinct({grams})) * 1.0 "
            f"/ greatest(len({grams}), 1), 6)")


def fingerprint(text: Column) -> Column:
    """Selective document fingerprint: min over word-2-shingle hashes
    (a 1-permutation MinHash — robust to small edits, unlike
    md5-of-document).  Word shingles, not char-8-grams: one md5 per
    word instead of one per character position cuts the hash count
    ~5.5x at equal edit-robustness (an edit only perturbs the shingles
    containing it either way), and at corpus scale the md5s ARE the
    cost of this column."""
    return F.array_min(F.transform(word_shingles(text, 2), hash60))


def text_stats(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    t = F.col(text_col)
    return docs.select(
        F.col(id_col),
        token_count(t).alias("n_tokens"),
        whitespace_token_count(t).alias("n_words"),
        n_chars(t).alias("n_chars"),
        lang_id(t).alias("lang_guess"),
        quality_score(t).alias("quality"),
        dup_ngram_fraction(t).alias("dup_2gram_frac"),
        fingerprint(t).alias("fp"),
    )


def top_tokens(docs: DataFrame, k: int = 50, text_col: str = "text",
               id_col: str = "doc_id") -> DataFrame:
    """Exact corpus-wide top-k tokens: (token, total_tf, doc_freq,
    rank), ranked by total occurrences with a deterministic token
    tie-break.  Explode → one partial-agg shuffle on the token key →
    global top-k: Catalyst rewrites the rank-filter window into
    ``TakeOrderedAndProject(limit=k)`` BELOW the window (pinned by
    test), so each partition forwards only its local top-k and the
    final ordering touches O(k·partitions) rows, never the
    vocabulary."""
    from pyspark.sql import Window
    toks = docs.select(F.col(id_col), F.explode(words(F.col(text_col))).alias("token"))
    counts = toks.groupBy("token").agg(
        F.count("*").alias("total_tf"),
        F.countDistinct(id_col).alias("doc_freq"))
    w = Window.orderBy(F.col("total_tf").desc(), F.col("token").asc())
    return (counts.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("token", "total_tf", "doc_freq", "rank"))


def top_tokens_sql(k: int = 50, source: str = "documents",
                   text_expr: str = "text", id_expr: str = "doc_id") -> str:
    w = WORDS_SQL.format(t=text_expr)
    return f"""
WITH toks AS (SELECT {id_expr} AS did, unnest({w}) AS token FROM {source}),
counts AS (SELECT token, count(*) AS total_tf, count(DISTINCT did) AS doc_freq
           FROM toks GROUP BY token),
r AS (SELECT *, row_number() OVER (ORDER BY total_tf DESC, token) AS rank FROM counts)
SELECT token, total_tf, doc_freq, CAST(rank AS INT) AS rank FROM r WHERE rank <= {k}"""


def tf_idf(docs: DataFrame, text_col: str = "text",
           id_col: str = "doc_id") -> DataFrame:
    """Exact (doc, token) TF-IDF with smoothed idf
    ``ln((N+1)/(df+1)) + 1`` — the scikit-learn convention, chosen
    because it is reproducible in pure SQL.  N is the TOTAL document
    count (including empty docs).  Two shuffles: per-(doc, token)
    counts, then the token-keyed doc-frequency join; the df table is
    vocabulary-sized and broadcast-eligible.  The ln is
    ``detmath.det_ln`` (correctly-rounded arithmetic only) evaluated on
    the vocab-sized df table, so the 6-decimal rounding can never
    diverge from the DuckDB oracle by a libm ulp (VERDICT.md r3 #1/#2),
    and the transcendental runs per vocab entry, not per (doc, token)."""
    from ..functions.detmath import det_ln_col
    tf = _gram_tf(docs, text_col, id_col, 1)
    df_tab = tf.groupBy("g").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("__n"))  # 1-row scalar, broadcast below
    idf_tab = (df_tab.crossJoin(F.broadcast(n))
               .select("g",
                       (det_ln_col("__n + 1", "df + 1") + 1).alias("__idf_raw")))
    idf_raw = F.col("__idf_raw")
    return (tf.join(idf_tab, "g")
            .select(id_col, F.col("g").alias("token"), "tf",
                    F.round(idf_raw, 6).alias("idf"),
                    F.round(F.col("tf") * idf_raw, 6).alias("tf_idf")))


def tf_idf_sql(source: str = "documents", text_expr: str = "text",
               id_expr: str = "doc_id") -> str:
    from ..functions.detmath import det_ln_sql
    idf_raw = f"({det_ln_sql('n.n + 1', 'dfr.df + 1', 'duckdb')} + 1)"
    return f"""
WITH tf AS ({_gram_tf_sql(source, text_expr, id_expr, 1)}),
dfr AS (SELECT g, count(*) AS df FROM tf GROUP BY g),
n AS (SELECT count(*) AS n FROM {source}),
idf_tab AS (SELECT dfr.g, {idf_raw} AS idf_raw FROM dfr, n)
SELECT tf.doc_id, tf.g AS token, tf.tf,
       round(it.idf_raw, 6) AS idf,
       round(tf.tf * it.idf_raw, 6) AS tf_idf
FROM tf JOIN idf_tab it USING (g)"""


# ---------------------------------------------------------------------------
# n-gram core: gram counts and the per-document micro-nat LM scorer
# ---------------------------------------------------------------------------

def _gram_tf(docs: DataFrame, text_col: str, id_col: str, k: int) -> DataFrame:
    """(doc, g, tf): per-document counts of the k-gram stream
    (``dedup._word_grams``; k = 1 is the token stream) — one partial-agg
    shuffle keyed on (doc, gram)."""
    return (docs.select(F.col(id_col),
                        F.explode(_word_grams(F.col(text_col), k)).alias("g"))
                .groupBy(id_col, "g").agg(F.count("*").alias("tf")))


def _gram_tf_sql(source: str, text_expr: str, id_expr: str, k: int) -> str:
    """DuckDB rendering of :func:`_gram_tf` (a SELECT, id as doc_id)."""
    return (f"SELECT doc_id, g, count(*) AS tf FROM (SELECT {id_expr} AS doc_id, "
            f"unnest({_word_grams_sql(text_expr, k)}) AS g FROM {source}) GROUP BY doc_id, g")


def _gram_counts(docs: DataFrame, text_col: str, k: int) -> DataFrame:
    """(g, c): corpus counts of the k-gram stream — the token table
    (k = 1) of the bigram LM, PMI and the spectrum; one partial-agg
    shuffle keyed on the gram."""
    return (docs.select(F.explode(_word_grams(F.col(text_col), k)).alias("g"))
                .groupBy("g").agg(F.count("*").alias("c")))


def _gram_counts_sql(source: str, text_expr: str, k: int) -> str:
    """DuckDB rendering of :func:`_gram_counts` (a SELECT)."""
    return (f"SELECT g, count(*) AS c FROM (SELECT unnest("
            f"{_word_grams_sql(text_expr, k)}) AS g FROM {source}) GROUP BY g")


def _micro_mean(nll_m: str, tf: str) -> Column:
    """Aggregate: Σnll_m / Σtf rounded half-up to an int64,
    ``(2·Σnll_m + Σtf) div (2·Σtf)`` — every LM's per-document mean.
    The former ``round(Σnll_m/(Σtf·1e6), 6)`` landed on exact .5 ties
    (integer ratios with even denominators make them common; one
    round-4 gate document read 3400381.5 micro-nats exactly), where
    Spark's BigDecimal HALF_UP and DuckDB's multiply+nearbyint diverge
    by engine version (VERDICT.md r4 #1)."""
    return F.expr(f"(2 * sum({nll_m}) + sum({tf})) DIV (2 * sum({tf}))")


def _micro_mean_sql(nll_m: str, tf: str) -> str:
    """DuckDB rendering of :func:`_micro_mean`.  ``sum(BIGINT)`` is
    HUGEINT and ``//`` keeps it, hence the CAST: Arrow carries HUGEINT
    as decimal128, which would not stringify like Spark's bigint."""
    return f"CAST((2 * sum({nll_m}) + sum({tf})) // (2 * sum({tf})) AS BIGINT)"


def _score_docs(tf: DataFrame, scored: DataFrame, keys: list[str],
                id_col: str, n_name: str, mean_name: str) -> DataFrame:
    """Per-document LM score: (doc, keys, tf) ⋈ (keys, __nll_m1) →
    (doc, n_name = Σtf, mean_name = the micro-nat mean).  The ln ran
    once per distinct gram in ``scored``; the join and the doc-keyed
    agg move one row per (doc, distinct gram)."""
    return (tf.join(scored, keys).groupBy(id_col)
              .agg(F.sum("tf").alias(n_name),
                   _micro_mean("tf * __nll_m1", "tf").alias(mean_name)))


def _score_docs_sql(keys: list[str], n_name: str, mean_name: str) -> str:
    """DuckDB rendering of :func:`_score_docs`: the final SELECT over the
    caller's CTEs ``tf(doc_id, keys, tf)`` and ``sg(keys, nll_m1)``."""
    return f"""
SELECT tf.doc_id, CAST(sum(tf.tf) AS BIGINT) AS {n_name},
       {_micro_mean_sql('tf.tf * sg.nll_m1', 'tf.tf')} AS {mean_name}
FROM tf JOIN sg USING ({', '.join(keys)}) GROUP BY tf.doc_id"""


# ---------------------------------------------------------------------------
# SQL renderings (DuckDB oracle parity)
# ---------------------------------------------------------------------------

def quality_score_sql(t: str) -> str:
    toks = WORDS_SQL.format(t=t)
    return ("round(0.5 * (len(list_distinct({toks})) / greatest(len({toks}),1)) "
            "+ 0.3 * least(len({toks}) / 200.0, 1.0) "
            "+ 0.2 * least((length({t}) / greatest(len({toks}),1)) / 8.0, 1.0), 6)"
            ).format(toks=toks, t=NZ_SQL.format(t=t))


def lang_id_sql(t: str) -> str:
    toks = f"list_distinct({WORDS_SQL.format(t=t)})"
    score = {lang: f"len(list_intersect({toks}, {_sql_list(m)}))" for lang, m in LANG_MARKERS.items()}
    # same fold as lang_id(): strictly-greater replaces, fixed order
    expr_lang, expr_score = "'und'", "0"
    for lang in LANG_MARKERS:
        s = score[lang]
        expr_lang = f"CASE WHEN {s} > ({expr_score}) THEN '{lang}' ELSE {expr_lang} END"
        expr_score = f"CASE WHEN {s} > ({expr_score}) THEN {s} ELSE {expr_score} END"
    return expr_lang


def _sql_list(markers: tuple[str, ...]) -> str:
    return "[" + ",".join(f"'{m}'" for m in markers) + "]"


def fingerprint_sql(t: str) -> str:
    from .dedup import hash60_sql, shingles_sql
    return f"list_min([{hash60_sql('s')} for s in {shingles_sql(t, 2)}])"


# ---------------------------------------------------------------------------
# unigram LM scoring (CCNet-style perplexity proxy)
# ---------------------------------------------------------------------------

def unigram_logprob(docs: DataFrame, text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """Per-document mean negative log-probability under the corpus's
    own unigram LM — the CCNet recipe's perplexity proxy (low = common,
    head-of-distribution text; high = rare-token noise).  Output:
    (doc_id, n_tokens, nll_micro) with nll_micro the mean NLL in
    integer MICRO-nats (round-half-up).

    Cross-engine determinism (three layers, all required): (1) float
    sums are order-dependent, so each token's -ln(p) is first rounded
    to integer MICRO-nats and the per-document total is an exact int64
    sum (order-free); (2) the ln itself is ``detmath.det_ln_micro``,
    built from correctly-rounded arithmetic only — libm ``ln`` differs
    by 1 ulp across engines and flipped the micro-nat rounding of this
    very operator in the round-3 driver gate (VERDICT.md r3 #1);
    (3) the output itself is INTEGER-only: the mean is the explicit
    integer tie-break ``(2·Σnll_m + Σtf) div (2·Σtf)``
    (:func:`_micro_mean`).

    Plan shape: tf per (doc, token) is one partial-agg shuffle; the
    corpus frequency table derives from tf (vocabulary-sized, shuffle
    keyed on the token — broadcast-eligible at small vocab); the
    micro-nat ln is evaluated on the VOCAB-sized freq table, not per
    (doc, token) row; :func:`_score_docs` joins it back.  Every doc
    appears in the output (empty/NULL text tokenizes to the single ''
    token, scored like any other)."""
    from ..functions.detmath import det_ln_micro_col
    tf = _gram_tf(docs, text_col, id_col, 1)
    freq = tf.groupBy("g").agg(F.sum("tf").alias("c"))
    total = freq.agg(F.sum("c").alias("__t"))  # 1-row scalar
    scored = (freq.crossJoin(F.broadcast(total))
              .select("g", det_ln_micro_col("__t", "c").alias("__nll_m1")))
    return _score_docs(tf, scored, ["g"], id_col, "n_tokens", "nll_micro")


def unigram_logprob_sql(source: str = "documents", text_expr: str = "text",
                        id_expr: str = "doc_id") -> str:
    """DuckDB rendering of :func:`unigram_logprob` (same micro-nat
    integer summation, the same correctly-rounded-arithmetic ln from
    ``functions/detmath.py``, and the same explicit integer
    round-half-up mean, so the output is bit-identical — no libm, no
    float anywhere)."""
    from ..functions.detmath import det_ln_micro_sql
    nll_m1 = det_ln_micro_sql("t.t", "freq.c", "duckdb")
    return f"""
WITH tf AS ({_gram_tf_sql(source, text_expr, id_expr, 1)}),
freq AS (SELECT g, sum(tf) AS c FROM tf GROUP BY g),
t AS (SELECT sum(c) AS t FROM freq),
sg AS (SELECT freq.g, {nll_m1} AS nll_m1 FROM freq, t)""" + _score_docs_sql(
        ["g"], "n_tokens", "nll_micro")

# ---------------------------------------------------------------------------
# Gopher-style quality rules (per-document filter flags)
# ---------------------------------------------------------------------------

# presence of >= GOPHER_MIN_STOPWORDS of these marks natural prose
# (the classic Gopher rule set's stop list)
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
GOPHER_MIN_STOPWORDS = 2


def _gopher_metrics(text_col: str, stopwords: tuple) -> dict[str, Column]:
    """The raw rule metrics as named Column expressions — shared by
    :func:`gopher_rules` (reporting) and :func:`gopher_keep`
    (composable filter predicate), so the two can never drift."""
    t = nz(F.col(text_col))
    w = words(F.col(text_col))
    nw = F.size(w)                               # >= 1: split('') == ['']
    mean_wl = (F.length(t) - (nw - 1)) / nw
    alpha = F.size(F.filter(w, lambda x: x.rlike("[a-z]"))) / nw
    hash_cnt = F.length(t) - F.length(F.regexp_replace(t, r"#", ""))
    ell3_cnt = ((F.length(t) - F.length(F.regexp_replace(t, r"\.\.\.", ""))) / 3).cast("long")
    ell1_cnt = F.length(t) - F.length(F.regexp_replace(t, "…", ""))
    sym = (hash_cnt + ell3_cnt + ell1_cnt) / nw
    lines = F.split(t, "\n")
    nl = F.size(lines)                           # >= 1 likewise
    bullet = F.size(F.filter(
        lines, lambda l: F.substring(F.ltrim(l), 1, 1).isin("-", "*", "•"))) / nl
    ellipsis = F.size(F.filter(
        lines, lambda l: F.rtrim(l).endswith("...") | F.rtrim(l).endswith("…"))) / nl
    stop = sum((F.array_contains(w, s).cast("int") for s in stopwords),
               F.lit(0))
    return {"nw": nw, "mean_wl": mean_wl, "alpha": alpha, "sym": sym,
            "bullet": bullet, "ellipsis": ellipsis, "stop": stop}


def gopher_keep(text_col: str = "text",
                min_words: int = 50, max_words: int = 100_000,
                stopwords: tuple = GOPHER_STOPWORDS) -> Column:
    """The composite keep rule as a boolean Column — the form a
    composed pipeline filters on BEFORE any shuffle (cheap map-side
    predicate; same integer-exact arithmetic as gopher_rules, same
    cross-engine determinism).  ``gopher_keep_sql`` is the lockstep
    rendering."""
    m = _gopher_metrics(text_col, stopwords)
    return ((m["nw"] >= min_words) & (m["nw"] <= max_words)
            & (m["mean_wl"] >= 3.0) & (m["mean_wl"] <= 10.0)
            & (m["sym"] < 0.1) & (m["bullet"] < 0.9) & (m["ellipsis"] < 0.3)
            & (m["alpha"] > 0.8) & (m["stop"] >= GOPHER_MIN_STOPWORDS))


def gopher_keep_sql(text_expr: str = "text",
                    min_words: int = 50, max_words: int = 100_000,
                    stopwords: tuple = GOPHER_STOPWORDS) -> str:
    """DuckDB rendering of :func:`gopher_keep` as a single inline
    boolean expression (no CTE — droppable into any WHERE clause)."""
    t = NZ_SQL.format(t=text_expr)
    w = WORDS_SQL.format(t=text_expr)
    lines = f"string_split({t}, chr(10))"
    stop = " + ".join(f"CAST(list_contains({w}, '{s}') AS INT)"
                      for s in stopwords)
    return (
        f"(len({w}) BETWEEN {min_words} AND {max_words}"
        f" AND (length({t}) - (len({w}) - 1)) / len({w}) BETWEEN 3.0 AND 10.0"
        f" AND (length({t}) - length(replace({t}, '#', ''))"
        f"      + (length({t}) - length(replace({t}, '...', ''))) // 3"
        f"      + length({t}) - length(replace({t}, '…', ''))) / len({w}) < 0.1"
        f" AND len(list_filter({lines},"
        f"       l -> left(ltrim(l), 1) IN ('-', '*', '•'))) / len({lines}) < 0.9"
        f" AND len(list_filter({lines},"
        f"       l -> ends_with(rtrim(l), '...') OR ends_with(rtrim(l), '…')))"
        f"     / len({lines}) < 0.3"
        f" AND len(list_filter({w}, x -> regexp_matches(x, '[a-z]'))) / len({w}) > 0.8"
        f" AND ({stop}) >= {GOPHER_MIN_STOPWORDS})")


def gopher_rules(docs: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id",
                 min_words: int = 50, max_words: int = 100_000,
                 stopwords: tuple = GOPHER_STOPWORDS) -> DataFrame:
    """Gopher-style document quality rules (graft addition — the
    standard web-corpus filter battery, per Rae et al. 2021 §A1.1):
    word-count bounds, mean-word-length window [3, 10], symbol-to-word
    ratio (#, ellipses) < 0.1, < 90% bullet-started lines, < 30%
    ellipsis-ended lines, > 80% words with an alphabetic character,
    and >= 2 stopwords present.  Emits the per-document metrics plus
    ``keep_flag`` (1 = passes every rule).

    Determinism: every metric is a ratio of two integers — one IEEE
    divide, no libm — so rule comparisons and the 6-decimal rounded
    outputs are bit-identical across engines (see COVERAGE.md's
    float-determinism policy; class "integer-exact").  Mean word
    length exploits the single-space ``words`` convention:
    ``sum(len(word)) == n_chars - (n_words - 1)`` exactly.

    Scale shape: narrow map-side projection, zero shuffles, zero UDFs
    — whole-stage codegen end to end, same class as text_stats.
    """
    m = _gopher_metrics(text_col, stopwords)
    keep = gopher_keep(text_col, min_words, max_words, stopwords)
    return docs.select(
        F.col(id_col),
        m["nw"].cast("long").alias("n_words"),
        F.round(m["mean_wl"], 6).alias("mean_word_len"),
        F.round(m["sym"], 6).alias("symbol_ratio"),
        F.round(m["bullet"], 6).alias("bullet_ratio"),
        F.round(m["ellipsis"], 6).alias("ellipsis_ratio"),
        F.round(m["alpha"], 6).alias("alpha_word_frac"),
        m["stop"].cast("int").alias("n_stopwords"),
        keep.cast("int").alias("keep_flag"))


def gopher_rules_sql(source: str = "documents", text_expr: str = "text",
                     id_expr: str = "doc_id",
                     min_words: int = 50, max_words: int = 100_000,
                     stopwords: tuple = GOPHER_STOPWORDS) -> str:
    """DuckDB rendering of :func:`gopher_rules` (lockstep arithmetic)."""
    t = NZ_SQL.format(t=text_expr)
    w = WORDS_SQL.format(t=text_expr)
    stop = " + ".join(f"CAST(list_contains(w, '{s}') AS INT)"
                      for s in stopwords)
    return f"""
WITH base AS (
  SELECT {id_expr} AS doc_id, {t} AS t, {w} AS w,
         string_split({t}, chr(10)) AS lines
  FROM {source}),
m AS (
  SELECT doc_id,
         len(w) AS nw,
         (length(t) - (len(w) - 1)) / len(w) AS mean_wl,
         len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) / len(w) AS alpha,
         (length(t) - length(replace(t, '#', ''))
          + (length(t) - length(replace(t, '...', ''))) // 3
          + length(t) - length(replace(t, '…', ''))) / len(w) AS sym,
         len(list_filter(lines,
             l -> left(ltrim(l), 1) IN ('-', '*', '•'))) / len(lines) AS bullet,
         len(list_filter(lines,
             l -> ends_with(rtrim(l), '...') OR ends_with(rtrim(l), '…')))
           / len(lines) AS ellipsis,
         {stop} AS stop
  FROM base)
SELECT doc_id,
       CAST(nw AS BIGINT) AS n_words,
       round(mean_wl, 6) AS mean_word_len,
       round(sym, 6) AS symbol_ratio,
       round(bullet, 6) AS bullet_ratio,
       round(ellipsis, 6) AS ellipsis_ratio,
       round(alpha, 6) AS alpha_word_frac,
       CAST(stop AS INT) AS n_stopwords,
       CAST(nw BETWEEN {min_words} AND {max_words}
            AND mean_wl BETWEEN 3.0 AND 10.0
            AND sym < 0.1 AND bullet < 0.9 AND ellipsis < 0.3
            AND alpha > 0.8 AND stop >= {GOPHER_MIN_STOPWORDS} AS INT) AS keep_flag
FROM m"""

# ---------------------------------------------------------------------------
# inverted-index postings sample (skew-proof per-key top-k)
# ---------------------------------------------------------------------------


def postings_sample(docs: DataFrame, p: int = 3, n_salts: int = 8,
                    text_col: str = "text", id_col: str = "doc_id",
                    salt_threshold: int | None = None,
                    sample_mod: int = 100) -> DataFrame:
    """Inverted-index build: per token, the document frequency plus a
    deterministic postings sample — the ``p`` smallest doc ids that
    contain the token, rendered as a comma-joined string (graft
    addition; the index-construction step of a corpus search/audit
    pipeline).

    The per-key top-k is the interesting scale problem: a stopword's
    posting list is the whole corpus, so ``collect_list`` per token
    (unbounded state) or a single window over the token (one task
    sorts a billion rows) both die at 100 TB.  Two-stage salted
    selection instead: stage 1 ranks within ``(token, salt)`` —
    sort-based window, max partition df/n_salts rows, spillable —
    keeping ``p`` rows AND, over the same window partition (same
    single shuffle), each salt's member count; stage 2 is a tiny
    token-keyed agg over the surviving ≤ p·n_salts rows per token:
    the p smallest ids globally survive stage 1 (each is smallest-p
    within its own salt a fortiori), so slicing the sorted survivors
    is EXACT and salt-count-invariant — same contract as the
    overlay's hot-cell salting — and ``doc_freq`` is the sum of each
    salt's count taken once via its rn=1 row.  ONE full-data shuffle
    total (the exploded pairs table is never scanned or shuffled a
    second time, and there is no join).  Integer/string ops only —
    engine-exact.

    ``salt_threshold`` switches to HOT-ONLY salting: only tokens whose
    doc_freq, estimated on a deterministic 1/``sample_mod`` document
    sample, reaches the threshold are salted; the long tail keeps one
    salt so its stage-1 survivor budget stays ``p`` (uniform salting
    costs the tail p·n_salts survivors — measured blow-up in
    BASELINE.md).  Results are identical in every mode (salting is
    selection-invariant); adds one broadcast probe on the exploded
    table plus one narrow sample aggregation.
    """
    from pyspark.sql import Window

    if p < 1 or n_salts < 1:
        raise ValueError("p and n_salts must be positive")
    td = docs.select(
        F.explode(F.array_distinct(words(F.col(text_col)))).alias("token"),
        F.col(id_col).alias("did"))
    # the salt never reaches the output (result is salt-count-invariant),
    # so any deterministic hash does — xxhash64, not the md5 lanes
    salt = F.pmod(F.xxhash64(F.col("did")), F.lit(n_salts))
    if salt_threshold is not None:
        # HOT-ONLY salting (r4 verdict #7, measured in BASELINE.md
        # "round-5 postings skew"): uniform salting multiplies the
        # stage-1 survivor budget of EVERY token by n_salts (a cold
        # token's p rows become up to p·n_salts), so on a long-tailed
        # vocabulary the salted intermediate approaches the full
        # exploded table (285 MB vs 24 MB measured at 40M tokens) —
        # the tail pays for the head's disease.  Instead, estimate
        # doc_freq on a deterministic 1/sample_mod document sample
        # (hash-gated, no RNG), broadcast the tokens whose estimated
        # df clears salt_threshold, and salt ONLY those: cold tokens
        # keep one salt (stage-1 keeps p rows), hot tokens split
        # n_salts ways.  The result is UNCHANGED for every token —
        # selection is salt-invariant by construction (pinned by
        # test) — only the partitioning moves; a borderline token the
        # sample misses costs balance, never correctness.
        hot = (docs.filter(F.pmod(F.xxhash64(F.col(id_col)),
                                  F.lit(sample_mod)) == 0)
                   .select(F.explode(F.array_distinct(
                       words(F.col(text_col)))).alias("token"))
                   .groupBy("token")
                   .agg((F.count("*") * sample_mod).alias("_est"))
                   .filter(F.col("_est") >= salt_threshold)
                   .select("token", F.lit(True).alias("__hot")))
        td = td.join(F.broadcast(hot), "token", "left")
        salt = F.when(F.col("__hot").isNotNull(), salt) \
                .otherwise(F.lit(0).cast("long"))
    w1 = Window.partitionBy("token", "salt").orderBy("did")
    wc = Window.partitionBy("token", "salt")
    s1 = (td.withColumn("salt", salt)
            .select("token", "did",
                    F.row_number().over(w1).alias("rn"),
                    F.count("*").over(wc).alias("cnt"))
            .filter(F.col("rn") <= p))
    return (s1.groupBy("token").agg(
        F.sum(F.when(F.col("rn") == 1, F.col("cnt")).otherwise(0))
         .alias("doc_freq"),
        F.array_join(
            F.transform(F.slice(F.array_sort(F.collect_set("did")), 1, p),
                        lambda x: x.cast("string")), ",").alias("sample_docs"))
        .select("token", "doc_freq", "sample_docs"))


def postings_sample_sql(p: int = 3, source: str = "documents",
                        text_expr: str = "text", id_expr: str = "doc_id") -> str:
    """DuckDB rendering of :func:`postings_sample` (single window —
    the salted plan is result-identical by construction)."""
    w = WORDS_SQL.format(t=text_expr)
    return f"""
WITH td AS (
  SELECT unnest(list_distinct({w})) AS token, {id_expr} AS did
  FROM {source}),
r AS (
  SELECT token, did,
         row_number() OVER (PARTITION BY token ORDER BY did) AS rn,
         count(*) OVER (PARTITION BY token) AS doc_freq
  FROM td)
SELECT token, CAST(doc_freq AS BIGINT) AS doc_freq,
       string_agg(CAST(did AS VARCHAR), ',' ORDER BY did) AS sample_docs
FROM r WHERE rn <= {p}
GROUP BY token, doc_freq"""

# ---------------------------------------------------------------------------
# DSIR-style importance weights (hashed n-gram importance resampling)
# ---------------------------------------------------------------------------


def dsir_weights(docs: DataFrame, target_pred: Column, n_buckets: int = 64,
                 text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Data Selection via Importance Resampling (Xie et al. 2023) over
    hashed unigram features — the standard recipe for steering a raw
    web corpus toward a target domain (graft addition; no reference
    counterpart — pandarus has no text layer).

    Each token hashes into one of ``n_buckets`` feature buckets; the
    importance weight of a document is the log-likelihood ratio of its
    bucket counts under the TARGET bucket distribution (documents where
    ``target_pred`` holds) vs the RAW distribution (the whole corpus),
    with add-one smoothing:

        w(d) = sum_tokens [ ln p_t(b) - ln p_r(b) ]
        p_t(b) = (ct_b + 1) / (Nt + B),  p_r(b) = (cr_b + 1) / (Nr + B)

    Cross-engine determinism: the per-bucket term is computed as
    ``det_ln_micro(Nr+B, cr+1) - det_ln_micro(Nt+B, ct+1)`` — two
    correctly-rounded-arithmetic lns (``functions/detmath.py``) of
    ratios that are each >= 1 BY CONSTRUCTION (a bucket count never
    exceeds its distribution total), so there is no sign split, no
    integer product that could overflow at 10^12-document scale, and
    no libm anywhere.  Per-document weights are exact int64 sums of
    integer micro-nats (order-free).  Output: (doc_id, n_tokens,
    dsir_micro BIGINT) — higher means more target-like.

    Plan shape (100 TB test): ONE full-data shuffle — the per-(doc,
    bucket) partial agg; both bucket distributions derive from that
    table (bucket-keyed aggs over <= B rows per partition), the scored
    bucket table is <= B rows and broadcast back, and the final
    doc-keyed agg moves one row per (doc, distinct bucket) <= B.  The
    corpus text itself is never shuffled.  The (doc, bucket) table
    feeds three consumers (raw dist, target dist, final scoring), so
    it is ``localCheckpoint``ed once — column pruning makes the three
    subtrees non-identical, which defeats Spark's exchange reuse and
    would re-tokenize the corpus per consumer (the dup_span_stats
    pattern, dedup.py).  Its storage is <= B integers per doc; where
    even that exceeds budget, dropping the checkpoint stays correct
    and recomputes."""
    from ..functions.detmath import det_ln_micro_col
    from .dedup import hash60, words

    if n_buckets < 1:
        raise ValueError("n_buckets must be positive")
    b = F.lit(n_buckets).cast("long")
    toks = docs.select(F.col(id_col), target_pred.alias("__is_t"),
                       F.explode(words(F.col(text_col))).alias("token"))
    db = (toks.select(id_col, "__is_t",
                      F.pmod(hash60(F.col("token")), b).alias("bucket"))
              .groupBy(id_col, "__is_t", "bucket")
              .agg(F.count("*").alias("k"))
              .localCheckpoint(eager=False))
    raw = db.groupBy("bucket").agg(F.sum("k").alias("cr"))
    tgt = (db.filter(F.col("__is_t")).groupBy("bucket")
             .agg(F.sum("k").alias("ct")))
    nr = raw.agg(F.sum("cr").alias("__nr"))           # 1-row scalars
    nt = tgt.agg(F.coalesce(F.sum("ct"), F.lit(0)).alias("__nt"))
    buckets = (raw.join(tgt, "bucket", "left")
                  .na.fill({"ct": 0})
                  .crossJoin(F.broadcast(nr)).crossJoin(F.broadcast(nt))
                  .select(
                      "bucket",
                      (det_ln_micro_col(f"__nr + {n_buckets}", "cr + 1")
                       - det_ln_micro_col(f"__nt + {n_buckets}", "ct + 1"))
                      .alias("term_micro")))
    return (db.join(F.broadcast(buckets), "bucket")
              .groupBy(id_col)
              .agg(F.sum("k").alias("n_tokens"),
                   F.sum(F.col("k") * F.col("term_micro")).alias("dsir_micro")))


def dsir_weights_sql(target_pred_sql: str, n_buckets: int = 64,
                     source: str = "documents", text_expr: str = "text",
                     id_expr: str = "doc_id") -> str:
    """DuckDB rendering of :func:`dsir_weights` — same md5-derived
    bucket hash, the same detmath lns, the same integer micro-nat
    sums, so the output is bit-identical by construction."""
    from ..functions.detmath import det_ln_micro_sql
    from .dedup import hash60_sql

    w = WORDS_SQL.format(t=text_expr)
    bucket = f"({hash60_sql('token')} % {n_buckets})"
    ln_r = det_ln_micro_sql(f"nr.nr + {n_buckets}", "cr + 1", "duckdb")
    ln_t = det_ln_micro_sql(f"nt.nt + {n_buckets}",
                            "coalesce(tgt.ct, 0) + 1", "duckdb")
    return f"""
WITH toks AS (
  SELECT {id_expr} AS doc_id, {target_pred_sql} AS is_t,
         unnest({w}) AS token
  FROM {source}),
db AS (
  SELECT doc_id, is_t, {bucket} AS bucket, count(*) AS k
  FROM toks GROUP BY doc_id, is_t, bucket),
raw AS (SELECT bucket, sum(k) AS cr FROM db GROUP BY bucket),
tgt AS (SELECT bucket, sum(k) AS ct FROM db WHERE is_t GROUP BY bucket),
nr AS (SELECT sum(cr) AS nr FROM raw),
nt AS (SELECT coalesce(sum(ct), 0) AS nt FROM tgt),
buckets AS (
  SELECT raw.bucket,
         ({ln_r}) - ({ln_t}) AS term_micro
  FROM raw LEFT JOIN tgt ON raw.bucket = tgt.bucket, nr, nt),
scored AS (SELECT db.doc_id, db.k, b.term_micro
           FROM db JOIN buckets b ON db.bucket = b.bucket)
SELECT doc_id, CAST(sum(k) AS BIGINT) AS n_tokens,
       CAST(sum(k * term_micro) AS BIGINT) AS dsir_micro
FROM scored GROUP BY doc_id"""

# ---------------------------------------------------------------------------
# Repetition statistics (Gopher repetition-rule family)
# ---------------------------------------------------------------------------


def repetition_stats(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Within-document repetition metrics — the Gopher paper's
    repetition-removal rule family (Rae et al. 2021 §A1.1), the
    complement of the cross-document span surgery in ``dedup.py``
    (graft addition; no reference counterpart).

    Per document:
    * ``n_lines`` / ``dup_lines`` — line occurrences beyond the first
      of their distinct value (a line repeated 3x contributes 2);
    * ``dup_line_chars`` — characters in those beyond-first
      occurrences (the "duplicate line character fraction" numerator;
      the denominator ``total_chars`` is emitted alongside so the
      ratio never becomes an engine-tie-prone float);
    * ``top_2gram`` / ``top_2gram_count`` — the most frequent word
      2-gram (ties break to the lexicographically smallest) and its
      occurrence count (the "top n-gram fraction" rule's numerator
      family), over the suite's clamped gram stream
      (``dedup._word_grams``): a document with fewer than 2 words
      yields one truncated gram, so every doc has a top gram —
      occurrences are NON-distinct, since the rule counts repeats.

    INTEGER-AND-STRING output only — ratios are left to the consumer
    (``dup_line_chars / total_chars``), so no ``round(float)`` can
    land on an engine-dependent .5 tie (VERDICT r4 #1).

    Plan shape (100 TB test): two partial-agg shuffles keyed on
    (doc, line-hash) and (doc, 2-gram) — the same bounded shape as
    ``tf`` in the unigram LM; the two per-doc tables join on doc_id.
    No window over an unbounded key, no text re-shuffle (lines and
    shingles collapse map-side first via partial aggregation)."""
    from pyspark.sql import Window

    t = nz(F.col(text_col))
    lines = (docs.select(F.col(id_col), F.length(t).alias("total_chars"),
                         F.explode(F.split(t, "\n")).alias("line"))
                 .groupBy(id_col, "total_chars", "line")
                 .agg(F.count("*").alias("c"))
                 .groupBy(id_col, "total_chars")
                 .agg(F.sum(F.col("c")).alias("n_lines"),
                      F.sum(F.col("c") - 1).alias("dup_lines"),
                      F.sum((F.col("c") - 1) * F.length("line"))
                       .alias("dup_line_chars")))
    # non-distinct 2-gram occurrences (the rule counts repeats)
    grams = _gram_tf(docs, text_col, id_col, 2)
    w = Window.partitionBy(id_col).orderBy(F.desc("tf"), F.asc("g"))
    top = (grams.withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
                .select(F.col(id_col), F.col("g").alias("top_2gram"),
                        F.col("tf").alias("top_2gram_count")))
    return (lines.join(top, id_col)
            .select(id_col, "n_lines", "dup_lines", "dup_line_chars",
                    "total_chars", "top_2gram", "top_2gram_count"))


def repetition_stats_sql(source: str = "documents", text_expr: str = "text",
                         id_expr: str = "doc_id") -> str:
    """DuckDB rendering of :func:`repetition_stats` (the same
    non-distinct 2-gram stream)."""
    t = NZ_SQL.format(t=text_expr)
    return f"""
WITH lc AS (
  SELECT {id_expr} AS doc_id, length({t}) AS total_chars,
         unnest(string_split({t}, chr(10))) AS line
  FROM {source}),
lg AS (SELECT doc_id, total_chars, line, count(*) AS c
       FROM lc GROUP BY doc_id, total_chars, line),
lines AS (
  SELECT doc_id, total_chars,
         sum(c) AS n_lines, sum(c - 1) AS dup_lines,
         sum((c - 1) * length(line)) AS dup_line_chars
  FROM lg GROUP BY doc_id, total_chars),
gr AS ({_gram_tf_sql(source, text_expr, id_expr, 2)}),
top AS (
  SELECT doc_id, g AS top_2gram, tf AS top_2gram_count,
         row_number() OVER (PARTITION BY doc_id
                            ORDER BY tf DESC, g ASC) AS rn
  FROM gr)
SELECT l.doc_id,
       CAST(n_lines AS BIGINT) AS n_lines,
       CAST(dup_lines AS BIGINT) AS dup_lines,
       CAST(dup_line_chars AS BIGINT) AS dup_line_chars,
       CAST(total_chars AS BIGINT) AS total_chars,
       t.top_2gram,
       CAST(t.top_2gram_count AS BIGINT) AS top_2gram_count
FROM lines l JOIN (SELECT * FROM top WHERE rn = 1) t
  ON l.doc_id = t.doc_id"""

# ---------------------------------------------------------------------------
# Bigram-LM quality score (conditional perplexity proxy)
# ---------------------------------------------------------------------------


def bigram_logprob(docs: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Per-document mean negative log-probability of each adjacent
    word pair under the corpus's own add-one-smoothed bigram LM — the
    conditional upgrade of :func:`unigram_logprob` (CCNet proxies
    perplexity with a KenLM n-gram model; this is the n=2 member of
    that family, built engine-exact).

        nll(w1 w2) = -ln P(w2 | w1) = ln( (c(w1) + V) / (c(w1 w2) + 1) )

    with c(.) corpus counts and V the vocabulary size (distinct
    unigrams).  The ratio is >= 1 BY CONSTRUCTION — c(w1 w2) <= c(w1)
    counts the same left-word occurrences, and 1 <= V — so the term is
    a single non-negative ``det_ln_micro`` (correctly-rounded
    arithmetic only, functions/detmath.py): no sign split, no libm,
    no overflow-prone product.  Per-document output is the exact
    order-free int64 micro-nat mean with the explicit round-half-up
    integer tie-break (the unigram pattern): (doc_id, n_bigrams,
    nll2_micro).  Documents with fewer than 2 words score the single
    truncated gram (the suite's clamped shingle convention), so every
    doc appears.

    Plan shape (100 TB test): ONE full-data shuffle — the per-(doc,
    bigram) partial agg, localCheckpointed for its two consumers (the
    bigram frequency table derives from it; pruning defeats exchange
    reuse).  The unigram count table needs ONE more pass over the
    corpus (cheap narrow explode); both frequency tables are
    vocabulary-sized, joined on the bigram's left word and broadcast
    back.  The ln runs per distinct BIGRAM, never per occurrence."""
    from ..functions.detmath import det_ln_micro_col

    tf2 = _gram_tf(docs, text_col, id_col, 2).localCheckpoint(eager=False)
    freq2 = tf2.groupBy("g").agg(F.sum("tf").alias("c2"))
    freq1 = _gram_counts(docs, text_col, 1)
    vocab = freq1.agg(F.count("*").alias("__v"))       # 1-row scalar
    scored = (freq2
              .withColumn("w1", F.split(F.col("g"), " ").getItem(0))
              .join(freq1.select(F.col("g").alias("w1"),
                                 F.col("c").alias("c1")), "w1")
              .crossJoin(F.broadcast(vocab))
              .select("g", det_ln_micro_col("c1 + __v", "c2 + 1")
                      .alias("__nll_m1")))
    return _score_docs(tf2, scored, ["g"], id_col, "n_bigrams", "nll2_micro")


def bigram_logprob_sql(source: str = "documents", text_expr: str = "text",
                       id_expr: str = "doc_id") -> str:
    """DuckDB rendering of :func:`bigram_logprob` (same clamped
    2-gram shingling, the same detmath ln, the same integer
    round-half-up mean — bit-identical by construction)."""
    from ..functions.detmath import det_ln_micro_sql

    nll_m1 = det_ln_micro_sql("f1.c + v.v", "freq2.c2 + 1", "duckdb")
    return f"""
WITH tf AS ({_gram_tf_sql(source, text_expr, id_expr, 2)}),
freq2 AS (SELECT g, sum(tf) AS c2 FROM tf GROUP BY g),
f1 AS ({_gram_counts_sql(source, text_expr, 1)}),
v AS (SELECT count(*) AS v FROM f1),
sg AS (
  SELECT freq2.g, {nll_m1} AS nll_m1
  FROM freq2
  JOIN f1 ON string_split(freq2.g, ' ')[1] = f1.g, v)""" + _score_docs_sql(
        ["g"], "n_bigrams", "nll2_micro")

# ---------------------------------------------------------------------------
# CCNet-style quality split (per-language perplexity quantiles)
# ---------------------------------------------------------------------------


def ccnet_split(docs: DataFrame, head: int = 3, middle: int = 3,
                out_of: int = 10, lang_col: str = "lang",
                text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """CCNet's head/middle/tail corpus split (Wenzek et al. 2020):
    rank every document WITHIN ITS LANGUAGE by LM score (lower mean
    NLL = more fluent) and label the best ``head/out_of`` fraction
    "head", the next ``middle/out_of`` "middle", the rest "tail" —
    the standard quality tiering a pretraining mixture samples from
    (graft addition; composes :func:`unigram_logprob`).

    Quantile boundaries are INTEGER: k_head = (n_lang*head) div
    out_of, k_mid likewise — no float fraction can round differently
    across engines.  Output: (doc_id, lang, nll_micro, split).

    The scale problem is the per-language rank: a window over ``lang``
    sorts half the corpus in one task.  Instead the micro-nat score is
    bucketed on its high bits (``nll_micro div 2^16`` — mean-NLL lives
    in [0, ~30e6] micro-nats, so a few hundred ORDER-ALIGNED buckets),
    the per-(lang, bucket) histogram (tiny) yields each row's
    rank-offset by running sum, and a window ranks only WITHIN each
    (lang, bucket) — partitions bounded by bucket occupancy, never a
    whole language.  global_rank = offset + within-bucket rank,
    identical to the naive per-language window by construction (the
    bucketing is order-aligned), which is exactly what the DuckDB twin
    computes."""
    from pyspark.sql import Window

    if not (0 < head and 0 < middle and head + middle <= out_of):
        raise ValueError("need 0 < head, 0 < middle, head+middle <= out_of")
    lm = unigram_logprob(docs, text_col=text_col, id_col=id_col)
    scored = (lm.join(docs.select(id_col, lang_col), id_col)
                .select(id_col, lang_col, "nll_micro",
                        F.shiftright(F.col("nll_micro"), 16).alias("__b"))
                .localCheckpoint(eager=False))
    hist = (scored.groupBy(lang_col, "__b").agg(F.count("*").alias("c")))
    cum = Window.partitionBy(lang_col).orderBy("__b") \
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tot = Window.partitionBy(lang_col)
    hist = hist.select(
        lang_col, "__b",
        (F.sum("c").over(cum) - F.col("c")).alias("__offset"),
        F.sum("c").over(tot).alias("__n"))
    wb = Window.partitionBy(lang_col, "__b").orderBy("nll_micro", id_col)
    ranked = (scored.join(F.broadcast(hist), [lang_col, "__b"])
              .withColumn("__rank",
                          F.col("__offset") + F.row_number().over(wb)))
    k1 = F.expr(f"(__n * {head}) DIV {out_of}")
    k2 = F.expr(f"(__n * {head + middle}) DIV {out_of}")
    return ranked.select(
        id_col, lang_col, "nll_micro",
        F.when(F.col("__rank") <= k1, F.lit("head"))
         .when(F.col("__rank") <= k2, F.lit("middle"))
         .otherwise(F.lit("tail")).alias("split"))


def ccnet_split_sql(head: int = 3, middle: int = 3, out_of: int = 10,
                    source: str = "documents", lang_col: str = "lang",
                    text_expr: str = "text", id_expr: str = "doc_id") -> str:
    """DuckDB rendering of :func:`ccnet_split` via the naive
    per-language rank — result-identical to the bucketed plan by
    construction."""
    lm = unigram_logprob_sql(source=source, text_expr=text_expr,
                             id_expr=id_expr)
    return f"""
WITH lm AS ({lm}),
scored AS (
  SELECT lm.doc_id, d.{lang_col} AS lang, lm.nll_micro
  FROM lm JOIN {source} d ON lm.doc_id = d.{id_expr}),
ranked AS (
  SELECT doc_id, lang, nll_micro,
         row_number() OVER (PARTITION BY lang
                            ORDER BY nll_micro, doc_id) AS rank,
         count(*) OVER (PARTITION BY lang) AS n
  FROM scored)
SELECT doc_id, lang, nll_micro,
       CASE WHEN rank <= (n * {head}) // {out_of} THEN 'head'
            WHEN rank <= (n * {head + middle}) // {out_of} THEN 'middle'
            ELSE 'tail' END AS split
FROM ranked"""

# ---------------------------------------------------------------------------
# PMI collocations (word-association mining)
# ---------------------------------------------------------------------------


def pmi_collocations(docs: DataFrame, k: int = 20, min_count: int = 5,
                     text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Top-k adjacent-word collocations by pointwise mutual
    information — the classic phrase-mining signal (word2vec's phrase
    pass, quality auditing of n-gram stats) over the same clamped
    2-gram stream as :func:`bigram_logprob` (graft addition).

        PMI(w1 w2) = ln( c12 * N / (c1 * c2) )

    computed OVERFLOW-FREE and engine-exact as the four-term detmath
    decomposition ``ln(c12) + ln(N) - ln(c1) - ln(c2)`` — each term a
    non-negative ``det_ln_micro(x, 1)`` on int64 counts (no
    ``c1 * c2`` product that would overflow at 10^12 tokens), summed
    in integer micro-nats so no float ever appears.  N is the total
    token count (single-word docs contribute their truncated gram to
    the bigram stream but PMI is only ranked for true pairs —
    ``min_count`` filters the degenerate tail anyway).

    Output: (gram, c12, pmi_micro BIGINT, rank) — ranked by
    (pmi_micro DESC, gram ASC), exact global top-k via the same
    TakeOrderedAndProject shape as :func:`top_tokens` (each partition
    forwards its local top-k; the vocabulary never sorts in one
    task).  Plan: two partial-agg shuffles (bigram tf, unigram tf);
    the micro-nat lns run per SURVIVING distinct bigram (after the
    min_count filter), never per occurrence."""
    from pyspark.sql import Window
    from ..functions.detmath import det_ln_micro_col

    if k < 1 or min_count < 1:
        raise ValueError("k and min_count must be positive")
    g2 = (_gram_counts(docs, text_col, 2)
              .select(F.col("g").alias("gram"), F.col("c").alias("c12"))
              .filter(F.col("c12") >= min_count)
              .filter(F.col("gram").contains(" ")))
    f1 = _gram_counts(docs, text_col, 1)
    n_tot = docs.agg(F.sum(F.size(words(F.col(text_col)))).alias("__n"))
    scored = (g2.withColumn("w1", F.split(F.col("gram"), " ").getItem(0))
                .withColumn("w2", F.split(F.col("gram"), " ").getItem(1))
                .join(f1.select(F.col("g").alias("w1"),
                                F.col("c").alias("ca")), "w1")
                .join(f1.select(F.col("g").alias("w2"),
                                F.col("c").alias("cb")), "w2")
                .crossJoin(F.broadcast(n_tot))
                .select("gram", "c12",
                        (det_ln_micro_col("c12", "1")
                         + det_ln_micro_col("__n", "1")
                         - det_ln_micro_col("ca", "1")
                         - det_ln_micro_col("cb", "1")).alias("pmi_micro")))
    rk = Window.orderBy(F.desc("pmi_micro"), F.asc("gram"))
    return (scored.withColumn("rank", F.row_number().over(rk))
                  .filter(F.col("rank") <= k)
                  .select("gram", "c12", "pmi_micro", "rank"))


def pmi_collocations_sql(k: int = 20, min_count: int = 5,
                         source: str = "documents", text_expr: str = "text",
                         id_expr: str = "doc_id") -> str:
    """DuckDB rendering of :func:`pmi_collocations` (same clamped
    2-gram stream, the same four detmath lns)."""
    from ..functions.detmath import det_ln_micro_sql

    w = WORDS_SQL.format(t=text_expr)
    pmi = (f"({det_ln_micro_sql('c12', '1', 'duckdb')}"
           f" + {det_ln_micro_sql('(SELECT n FROM nt)', '1', 'duckdb')}"
           f" - {det_ln_micro_sql('ca.c', '1', 'duckdb')}"
           f" - {det_ln_micro_sql('cb.c', '1', 'duckdb')})")
    return f"""
WITH g2 AS (
  SELECT g AS gram, c AS c12 FROM ({_gram_counts_sql(source, text_expr, 2)})
  WHERE c >= {min_count} AND contains(g, ' ')),
f1 AS ({_gram_counts_sql(source, text_expr, 1)}),
nt AS (SELECT sum(len({w})) AS n FROM {source}),
scored AS (
  SELECT g2.gram, g2.c12, {pmi} AS pmi_micro
  FROM g2
  JOIN f1 ca ON string_split(g2.gram, ' ')[1] = ca.g
  JOIN f1 cb ON string_split(g2.gram, ' ')[2] = cb.g),
r AS (SELECT *, row_number() OVER (ORDER BY pmi_micro DESC, gram) AS rank
      FROM scored)
SELECT gram, CAST(c12 AS BIGINT) AS c12, CAST(pmi_micro AS BIGINT) AS pmi_micro,
       CAST(rank AS INT) AS rank
FROM r WHERE rank <= {k}"""


# ---------------------------------------------------------------------------
# BM25 ranked retrieval (integer-exact)
# ---------------------------------------------------------------------------

def bm25_topk(docs: DataFrame, terms: tuple[str, ...], k: int = 20,
              text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Top-k documents for a term query under BM25 — the classic
    ranked-retrieval scorer, the query-side complement of
    :func:`postings_sample`'s index side (quality-prior selection and
    targeted-corpus carving both reduce to "rank the corpus against a
    term list").  Output: (doc_id, n_hit, score_micro), the k highest
    scores, ties broken by doc_id ascending.

    INTEGER-EXACT rendering of Lucene-variant BM25 (k1 = 1.2,
    b = 0.75, idf = ln((N+1)/(df+0.5)) — always positive, no df > N/2
    negative-idf branch):

    * idf in integer micro-nats via ``detmath.det_ln_micro(2N+2,
      2df+1)`` — both arguments integers, no libm;
    * the tf component tf·(k1+1) / (tf + k1·(1-b+b·dl/avgdl)) with
      avgdl = Σdl/N is an exact rational; multiplying through by
      10·Σdl gives num = 22·tf·Σdl, den = 10·tf·Σdl + 3·Σdl + 9·dl·N
      — integers;
    * per-(doc,term) score = (idf_micro · num) div den, evaluated in
      DECIMAL(38,0) (Spark) / HUGEINT (DuckDB) — exact up to
      idf·22·tf·Σdl ≈ 1e26 at 10^13 corpus tokens, far inside both;
      the per-doc total is an int64 SUM of those — order-free under
      any partitioning, so the output is bit-identical everywhere
      (the float-determinism contract, COVERAGE.md).

    Plan shape (100 TB test): dl = size(words) is computed MAP-SIDE on
    the scan (no tokenized corpus ever shuffles); the token explode is
    FILTERED to the query terms before the first Exchange, so the only
    full-data shuffle carries candidate (doc, term, tf) rows — corpus
    rows without a query term exit at the scan; (N, Σdl) is a one-row
    scalar agg broadcast back; df/idf live on a |terms|-row table
    (broadcast); the final top-k is orderBy+limit =
    TakeOrderedAndProject, never a global sort.

    No reference counterpart: pandarus has no retrieval layer; BM25 is
    public (Robertson et al.; the Lucene idf variant)."""
    from ..functions.detmath import det_ln_micro_col
    from .dedup import words
    if not terms:
        raise ValueError("terms must be non-empty")
    if k < 1:
        raise ValueError("k must be positive")
    tset = [t.lower() for t in terms]
    d = docs.select(F.col(id_col),
                    F.size(words(F.col(text_col))).alias("dl"),
                    words(F.col(text_col)).alias("__w"))
    stats = d.agg(F.count("*").alias("n"), F.sum("dl").alias("sdl"))
    cand = d.select(
        id_col, "dl",
        F.explode(F.filter("__w", lambda x: x.isin(*tset))).alias("token"))
    tf = cand.groupBy(id_col, "dl", "token").agg(F.count("*").alias("tf"))
    dfq = tf.groupBy("token").agg(F.count("*").alias("df"))
    idf = (dfq.crossJoin(F.broadcast(stats))
              .select("token",
                      det_ln_micro_col("2 * n + 2", "2 * df + 1")
                      .alias("idf_m")))
    score = F.expr(
        "CAST((CAST(idf_m AS DECIMAL(38,0)) * 22 * tf * sdl) DIV "
        "(CAST(10 AS DECIMAL(38,0)) * tf * sdl + "
        "CAST(3 AS DECIMAL(38,0)) * sdl + "
        "CAST(9 AS DECIMAL(38,0)) * dl * n) AS BIGINT)")
    per_doc = (tf.join(F.broadcast(idf), "token")
                 .crossJoin(F.broadcast(stats))
                 .select(id_col, score.alias("s"))
                 .groupBy(id_col)
                 .agg(F.count("*").alias("n_hit"),
                      F.sum("s").alias("score_micro")))
    return (per_doc.orderBy(F.col("score_micro").desc(), F.col(id_col))
                   .limit(k)
                   .select(id_col, F.col("n_hit").cast("long").alias("n_hit"),
                           F.col("score_micro").cast("long")
                            .alias("score_micro")))


def bm25_topk_sql(terms: tuple[str, ...], k: int = 20,
                  source: str = "documents", text_expr: str = "text",
                  id_expr: str = "doc_id") -> str:
    """DuckDB rendering of :func:`bm25_topk` — the identical integer
    circuit (same detmath idf, same 10·Σdl-scaled rational, HUGEINT
    carries the DECIMAL(38,0) product)."""
    from ..functions.detmath import det_ln_micro_sql
    if not terms:
        raise ValueError("terms must be non-empty")
    if k < 1:
        raise ValueError("k must be positive")
    w = WORDS_SQL.format(t=text_expr)
    tlist = ", ".join("'" + t.lower().replace("'", "''") + "'"
                      for t in terms)
    idf_m = det_ln_micro_sql("2 * stats.n + 2", "2 * dfq.df + 1", "duckdb")
    return f"""
WITH d AS (SELECT {id_expr} AS doc_id, len({w}) AS dl, {w} AS w
           FROM {source}),
stats AS (SELECT count(*) AS n, sum(dl) AS sdl FROM d),
cand AS (SELECT doc_id, dl, unnest(w) AS token FROM d),
tf AS (SELECT doc_id, dl, token, count(*) AS tf FROM cand
       WHERE token IN ({tlist}) GROUP BY doc_id, dl, token),
dfq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
idf AS (SELECT dfq.token, {idf_m} AS idf_m FROM dfq, stats),
sc AS (SELECT tf.doc_id,
              CAST(CAST(idf.idf_m AS HUGEINT) * 22 * tf.tf * stats.sdl
                   // (CAST(10 AS HUGEINT) * tf.tf * stats.sdl
                       + CAST(3 AS HUGEINT) * stats.sdl
                       + CAST(9 AS HUGEINT) * tf.dl * stats.n)
                   AS BIGINT) AS s
       FROM tf JOIN idf ON tf.token = idf.token, stats)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hit,
       CAST(sum(s) AS BIGINT) AS score_micro
FROM sc GROUP BY doc_id
ORDER BY score_micro DESC, doc_id LIMIT {k}"""


def token_spectrum(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Token frequency-of-frequencies spectrum — the Zipf diagnostic
    (how many token types occur exactly f times): the standard corpus
    health check (hapax mass, head weight) and the input to
    Good-Turing smoothing.  Output: ``(freq BIGINT, n_types BIGINT)``.

    Plan shape (100 TB test): the token partial-agg shuffle is the
    only full-data Exchange; the second groupBy runs on the
    VOCAB-sized frequency table and its output is bounded by the
    number of DISTINCT frequency values — O(sqrt(total tokens)) for
    any corpus (Σf over distinct f ≤ N) — so the spectrum itself is
    always tiny.  Integer counts only: bit-identical everywhere."""
    return (_gram_counts(docs, text_col, 1)
                .groupBy(F.col("c").alias("freq"))
                .agg(F.count("*").alias("n_types"))
                .select(F.col("freq").cast("long"),
                        F.col("n_types").cast("long")))


def token_spectrum_sql(source: str = "documents",
                       text_expr: str = "text") -> str:
    """DuckDB rendering of :func:`token_spectrum`."""
    return f"""
WITH freq AS ({_gram_counts_sql(source, text_expr, 1)})
SELECT CAST(c AS BIGINT) AS freq, CAST(count(*) AS BIGINT) AS n_types
FROM freq GROUP BY c"""

# ---------------------------------------------------------------------------
# Trigram LM with stupid backoff (Brants et al. 2007)
# ---------------------------------------------------------------------------

# context sentinel for "no word at this position" (doc start); chr(1)
# cannot appear in the lowercase whitespace token stream of real text
_SENT = "\x01"


def trigram_backoff_logprob(docs: DataFrame, text_col: str = "text",
                            id_col: str = "doc_id") -> DataFrame:
    """Per-document mean negative log-score of every token under the
    corpus's own trigram LM with STUPID BACKOFF (Brants et al. 2007,
    "Large Language Models in Machine Translation") — the n=3 member
    of the CCNet-proxy family (:func:`unigram_logprob`,
    :func:`bigram_logprob`), and the scheme those authors designed
    precisely FOR web-scale distributed counting: no discounting, no
    normalization pass, just raw counts and a fixed backoff factor
    alpha = 0.4.

    Every position i scores its token w3 given up to two predecessors:

    * trigram seen:  nll = ln( c(w1 w2) / c(w1 w2 w3) )
    * else bigram:   nll = ln( c(w2) / c(w2 w3) ) + b * ln(1/alpha)
    * else unigram:  nll = ln( N / c(w3) )        + b * ln(1/alpha)

    with b the number of levels backed off FROM AVAILABLE context
    (doc-initial positions start at the highest order their context
    allows, with no penalty — position 1 scores pure unigram, position
    2 starts at bigram).  ln(1/0.4) = ln(5/2) is itself a
    ``det_ln_micro`` term, so the whole score is integer micro-nats of
    arithmetic-only transcendentals — bit-identical on any IEEE
    engine (functions/detmath.py).  Each ratio is >= 1 by
    construction (every k-gram occurrence contains its context's
    occurrence), so ``det_ln``'s t >= c >= 1 contract holds at every
    level.  Per-document output: ``(doc_id, n_tokens BIGINT,
    nll3_micro BIGINT)`` with the suite's explicit round-half-up
    integer mean — no float ever leaves the operator.

    Plan shape (100 TB test): ONE full-data shuffle — the per-(doc,
    w1, w2, w3) partial agg — localCheckpointed once for its five
    consumers (c3/c2/c1 count tables, the distinct-triple table, the
    join-back); all count tables are VOCAB-sized regroups of that
    table, never of the corpus; the three ``det_ln`` evaluations run
    once per DISTINCT triple (zipf-bounded), not per occurrence, and
    the scored-triple table broadcasts back while it fits (SHJ
    beyond).  No window, no per-doc sort: positions come from an
    array ``transform`` (pure codegen), not a lag window."""
    from ..functions.detmath import det_ln_micro_sql

    w = words(F.col(text_col))
    sent = F.lit(_SENT)
    tri = F.transform(w, lambda x, i: F.struct(
        F.when(i >= 2, F.get(w, i - 2)).otherwise(sent).alias("w1"),
        F.when(i >= 1, F.get(w, i - 1)).otherwise(sent).alias("w2"),
        x.alias("w3")))
    occ = (docs.select(F.col(id_col), F.explode(tri).alias("s"))
               .select(id_col, F.col("s.w1").alias("w1"),
                       F.col("s.w2").alias("w2"), F.col("s.w3").alias("w3"))
               .groupBy(id_col, "w1", "w2", "w3")
               .agg(F.count("*").alias("tf"))
               .localCheckpoint(eager=False))
    c3 = (occ.filter(F.col("w1") != sent)
             .groupBy("w1", "w2", "w3").agg(F.sum("tf").alias("c3")))
    c2 = (occ.filter(F.col("w2") != sent)
             .groupBy("w2", "w3").agg(F.sum("tf").alias("c2")))
    c1 = occ.groupBy("w3").agg(F.sum("tf").alias("c1"))
    n_tot = c1.agg(F.sum("c1").alias("__n"))          # 1-row scalar
    trip = occ.select("w1", "w2", "w3").distinct()
    scored = (trip
              .join(c3, ["w1", "w2", "w3"], "left")
              .join(c2, ["w2", "w3"], "left")
              .join(c2.select(F.col("w2").alias("w1"),
                              F.col("w3").alias("w2"),
                              F.col("c2").alias("c2ctx")),
                    ["w1", "w2"], "left")
              .join(c1, "w3", "left")
              .join(c1.select(F.col("w3").alias("w2"),
                              F.col("c1").alias("c1ctx")), "w2", "left")
              .crossJoin(F.broadcast(n_tot)))
    ln25 = det_ln_micro_sql("5", "2", "spark")
    has1 = f"w1 <> '{_SENT}'"
    has2 = f"w2 <> '{_SENT}'"
    nll = F.expr(f"""CASE
        WHEN c3 IS NOT NULL THEN {det_ln_micro_sql('c2ctx', 'c3', 'spark')}
        WHEN c2 IS NOT NULL THEN {det_ln_micro_sql('c1ctx', 'c2', 'spark')}
             + IF({has1}, {ln25}, CAST(0 AS BIGINT))
        ELSE {det_ln_micro_sql('__n', 'c1', 'spark')}
             + (CASE WHEN {has1} THEN 2 WHEN {has2} THEN 1 ELSE 0 END)
               * {ln25}
        END""").alias("__nll_m1")
    strip = scored.select("w1", "w2", "w3", nll)
    return _score_docs(occ, strip, ["w1", "w2", "w3"], id_col,
                       "n_tokens", "nll3_micro")


def trigram_backoff_logprob_sql(source: str = "documents",
                                text_expr: str = "text",
                                id_expr: str = "doc_id") -> str:
    """DuckDB rendering of :func:`trigram_backoff_logprob` (same
    positional gram extraction, the same detmath ln at every backoff
    level, the same integer round-half-up mean — bit-identical by
    construction)."""
    from ..functions.detmath import det_ln_micro_sql

    w = WORDS_SQL.format(t=text_expr)
    ln25 = det_ln_micro_sql("5", "2", "duckdb")
    return f"""
WITH base AS (SELECT {id_expr} AS doc_id, {w} AS w FROM {source}),
occ0 AS (
  SELECT doc_id,
         unnest([{{'w1': CASE WHEN i >= 3 THEN w[i-2] ELSE chr(1) END,
                   'w2': CASE WHEN i >= 2 THEN w[i-1] ELSE chr(1) END,
                   'w3': w[i]}}
                 for i in range(1, len(w) + 1)]) AS s
  FROM base),
tf AS (
  SELECT doc_id, s['w1'] AS w1, s['w2'] AS w2, s['w3'] AS w3,
         count(*) AS tf
  FROM occ0 GROUP BY doc_id, s['w1'], s['w2'], s['w3']),
c3 AS (SELECT w1, w2, w3, sum(tf) AS c3 FROM tf
       WHERE w1 <> chr(1) GROUP BY w1, w2, w3),
c2 AS (SELECT w2, w3, sum(tf) AS c2 FROM tf
       WHERE w2 <> chr(1) GROUP BY w2, w3),
c1 AS (SELECT w3, sum(tf) AS c1 FROM tf GROUP BY w3),
ntot AS (SELECT sum(c1) AS n FROM c1),
trip AS (SELECT DISTINCT w1, w2, w3 FROM tf),
sg AS (
  SELECT t.w1, t.w2, t.w3,
         CASE
           WHEN c3.c3 IS NOT NULL
             THEN {det_ln_micro_sql('ctx.c2', 'c3.c3', 'duckdb')}
           WHEN c2.c2 IS NOT NULL
             THEN {det_ln_micro_sql('cx.c1', 'c2.c2', 'duckdb')}
                  + CASE WHEN t.w1 <> chr(1)
                         THEN {ln25} ELSE CAST(0 AS BIGINT) END
           ELSE {det_ln_micro_sql('ntot.n', 'c1.c1', 'duckdb')}
                + (CASE WHEN t.w1 <> chr(1) THEN 2
                        WHEN t.w2 <> chr(1) THEN 1 ELSE 0 END) * {ln25}
         END AS nll_m1
  FROM trip t
  LEFT JOIN c3 ON t.w1 = c3.w1 AND t.w2 = c3.w2 AND t.w3 = c3.w3
  LEFT JOIN c2 ON t.w2 = c2.w2 AND t.w3 = c2.w3
  LEFT JOIN c2 ctx ON t.w1 = ctx.w2 AND t.w2 = ctx.w3
  LEFT JOIN c1 ON t.w3 = c1.w3
  LEFT JOIN c1 cx ON t.w2 = cx.w3, ntot)""" + _score_docs_sql(
        ["w1", "w2", "w3"], "n_tokens", "nll3_micro")
