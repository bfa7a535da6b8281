"""Corpus-curation operators for web-scale training-data pipelines
(graft addition — no reference analogue; first-class per the build
brief, alongside operators/dedup.py and operators/textstats.py):

* :func:`normalize_url` / :func:`url_domain` — URL canonicalization
  (the key everything URL-level dedups and groups on in a crawl
  pipeline) and registrable-domain extraction;
* :func:`domain_stats` — pages-per-domain profile over canonical URLs;
* :func:`hash_sample` / :func:`stratified_sample` — deterministic,
  reproducible corpus sampling by md5 threshold (same doc set on every
  run, every engine, any partitioning — unlike ``DataFrame.sample``);
* :func:`chunk_tokens` — token-window document chunking (context-window
  sharding with overlap) as a pure Catalyst explode;
* :func:`redact_pii` / :func:`pii_stats` — email/IPv4/phone redaction
  and counting;
* :func:`source_profile` — per-source corpus profile with exact
  quantiles.

Everything is pure Catalyst (whole-stage codegen, zero UDFs), and each
kernel has a lockstep ANSI-SQL rendering (the ``*_sql`` twins) so an
independent engine (DuckDB) reproduces values bit-for-bit.

Scale notes (the 100 TB shape): normalize_url / redact_pii /
hash_sample / chunk_tokens are narrow map-side ops — zero shuffle;
chunking is an explode that stays inside the input partition and never
materializes the chunk text (only its md5).  domain_stats /
source_profile are single partial-agg shuffles on low-cardinality
keys.  Sampling FILTERS before anything downstream shuffles, so a 1%
sample of 100 TB shuffles 1 TB.  Nothing here touches the driver.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from .dedup import hash60, hash60_sql, nz, words

# ---------------------------------------------------------------------------
# URL canonicalization
# ---------------------------------------------------------------------------

# query params that never identify content (trackers); name-anchored
TRACKING_PARAM_RE = r"^(utm_[A-Za-z0-9_]*|gclid|fbclid|ref)="
_SCHEME = r"[A-Za-z][A-Za-z0-9+.\-]*"


def normalize_url(url: Column) -> Column:
    """Canonical URL: lowercase scheme+host, strip userinfo / ``www.``
    prefix / default port (:80 http, :443 https) / fragment / tracking
    params (``utm_*``, ``gclid``, ``fbclid``, ``ref``) / trailing
    slashes; surviving query params sorted.  Inputs without a
    ``scheme://`` pass through as ``lower(trim(url))``.  Pure Catalyst;
    bit-identical to :func:`normalize_url_sql`."""
    u = nz(url)
    scheme = F.lower(F.regexp_extract(u, f"^({_SCHEME})://", 1))
    hostport = F.lower(F.regexp_extract(u, f"^{_SCHEME}://([^/?#]*)", 1))
    host = F.regexp_replace(hostport, r"^[^@/]*@", "")
    host = F.regexp_replace(host, r"^www\.", "")
    host = F.when(scheme == "http", F.regexp_replace(host, ":80$", "")) \
            .otherwise(host)
    host = F.when(scheme == "https", F.regexp_replace(host, ":443$", "")) \
            .otherwise(host)
    path = F.regexp_extract(u, f"^{_SCHEME}://[^/?#]*([^?#]*)", 1)
    path = F.regexp_replace(path, "/+$", "")
    # the first '?' BEFORE any '#' starts the query ([^#?]* is anchored,
    # so a '?' inside the fragment never matches)
    query = F.regexp_extract(u, r"^[^#?]*\?([^#]*)", 1)
    kept = F.array_sort(F.filter(
        F.split(query, "&"),
        lambda p: (p != F.lit("")) & ~p.rlike(TRACKING_PARAM_RE)))
    qs = F.array_join(kept, "&")
    norm = F.concat(scheme, F.lit("://"), host, path,
                    F.when(qs == "", F.lit("")).otherwise(F.concat(F.lit("?"), qs)))
    return F.when(scheme == "", F.lower(F.trim(u))).otherwise(norm)


def normalize_url_sql(u: str) -> str:
    u = f"coalesce({u}, '')"
    scheme = f"lower(regexp_extract({u}, '^({_SCHEME})://', 1))"
    hostport = f"lower(regexp_extract({u}, '^{_SCHEME}://([^/?#]*)', 1))"
    host = f"regexp_replace(regexp_replace({hostport}, '^[^@/]*@', ''), '^www\\.', '')"
    host = (f"CASE WHEN {scheme} = 'http' THEN regexp_replace({host}, ':80$', '') "
            f"WHEN {scheme} = 'https' THEN regexp_replace({host}, ':443$', '') "
            f"ELSE {host} END")
    path = (f"regexp_replace(regexp_extract({u}, "
            f"'^{_SCHEME}://[^/?#]*([^?#]*)', 1), '/+$', '')")
    query = f"regexp_extract({u}, '^[^#?]*\\?([^#]*)', 1)"
    kept = (f"list_sort(list_filter(string_split({query}, '&'), "
            f"p -> p <> '' AND NOT regexp_matches(p, '{TRACKING_PARAM_RE}')))")
    # DuckDB array_to_string([]) is NULL, Spark array_join([]) is '' —
    # without the coalesce every no-query URL (or one whose params are
    # all trackers) normalizes to NULL in the oracle (r5 finding)
    qs = f"coalesce(array_to_string({kept}, '&'), '')"
    norm = (f"{scheme} || '://' || {host} || {path} || "
            f"CASE WHEN {qs} = '' THEN '' ELSE '?' || {qs} END")
    return f"CASE WHEN {scheme} = '' THEN lower(trim({u})) ELSE {norm} END"


def domain_of_normalized(norm: Column) -> Column:
    """Registrable-ish domain from an ALREADY-normalized URL — use
    this when the canonical URL is materialized anyway (dedup keys,
    domain grouping) so the ~20-regexp normalize runs once per row."""
    host = F.regexp_extract(norm, f"^{_SCHEME}://([^/?#]*)", 1)
    host = F.regexp_replace(host, ":[0-9]+$", "")
    return F.regexp_extract(host, r"([^.]+\.[^.]+)$", 1)


def url_domain(url: Column) -> Column:
    """Registrable-ish domain: the last two dot-labels of the
    canonical host (``a.b.example.com`` → ``example.com``).  A
    public-suffix list would be data, not code — at pipeline scale
    ship it as a broadcast join against this column."""
    return domain_of_normalized(normalize_url(url))


def url_domain_sql(u: str) -> str:
    host = (f"regexp_replace(regexp_extract({normalize_url_sql(u)}, "
            f"'^{_SCHEME}://([^/?#]*)', 1), ':[0-9]+$', '')")
    return f"regexp_extract({host}, '([^.]+\\.[^.]+)$', 1)"


def domain_stats(pages: DataFrame, url_col: str = "url") -> DataFrame:
    """Pages per registrable domain over canonical URLs: n_pages,
    n_urls (distinct canonical).  The normalize runs ONCE per row and
    the domain derives from its result (Catalyst does not CSE the two
    independent expression trees — measured 2x on the regex phase);
    one partial-agg shuffle."""
    norm = pages.select(normalize_url(F.col(url_col)).alias("url_norm"))
    return (norm.select(domain_of_normalized(F.col("url_norm")).alias("domain"),
                        "url_norm")
            .groupBy("domain")
            .agg(F.count("*").alias("n_pages"),
                 F.countDistinct("url_norm").alias("n_urls")))


# ---------------------------------------------------------------------------
# deterministic sampling
# ---------------------------------------------------------------------------

_HASH_SPACE = 1 << 60


def sample_pred(key: Column, rate: float, salt: str = "sample") -> Column:
    """Deterministic keep-predicate: md5-derived 60-bit uniform of
    (salt, key) under an integer threshold.  Same decision for a key
    on every run, engine, and partitioning; disjoint salts give
    independent samples (held-out splits)."""
    threshold = int(rate * _HASH_SPACE)
    u = hash60(F.concat(F.lit(salt), F.lit(":"), key.cast("string")))
    return u < F.lit(threshold).cast("long")


def hash_sample(df: DataFrame, rate: float, key_col: str = "doc_id",
                salt: str = "sample") -> DataFrame:
    """Keep ~``rate`` of rows, deterministically by ``key_col``.  A
    narrow filter — runs BEFORE downstream shuffles, so a 1% sample of
    100 TB moves 1 TB."""
    return df.filter(sample_pred(F.col(key_col), rate, salt))


def stratified_sample(df: DataFrame, rates: dict[str, float],
                      strata_col: str = "lang", key_col: str = "doc_id",
                      default_rate: float = 0.0,
                      salt: str = "sample") -> DataFrame:
    """Per-stratum deterministic sampling (e.g. per-language quotas in
    a multilingual corpus): one uniform per key, compared against the
    stratum's threshold — still a narrow filter, zero shuffle."""
    u = hash60(F.concat(F.lit(salt), F.lit(":"), F.col(key_col).cast("string")))
    thr: Column = F.lit(int(default_rate * _HASH_SPACE)).cast("long")
    for stratum, rate in sorted(rates.items()):
        thr = F.when(F.col(strata_col) == stratum,
                     F.lit(int(rate * _HASH_SPACE)).cast("long")).otherwise(thr)
    return df.filter(u < thr)


def extract_links(pages: DataFrame, html_col: str = "html",
                  url_col: str = "url") -> DataFrame:
    """Outlink extraction from a Common-Crawl-style pages table:
    (src_url, dst_url, anchor) — one row per ``<a href="...">`` in
    the page's html, the edge-list constructor for link-graph work
    (feed :func:`~pandarus_spark.operators.graph.pagerank`).

    Pure Catalyst — the html binary decodes to UTF-8 and two
    ``regexp_extract_all`` passes pull hrefs and anchor texts (same
    tag regex, group 1 vs group 2), zipped positionally; no Python
    touches the bytes, so this runs at whole-stage-codegen speed and
    the explode is partition-local (zero shuffle).  Relative hrefs
    and empty anchors pass through verbatim — canonicalization is
    :func:`normalize_url`'s job, kept separate so the extract stays a
    narrow map."""
    tag = r'<a href="([^"]*)"[^>]*>([^<]*)</a>'
    s = F.decode(F.col(html_col), "utf-8")
    hrefs = F.regexp_extract_all(s, F.lit(tag), 1)
    anchors = F.regexp_extract_all(s, F.lit(tag), 2)
    pair = F.explode(F.zip_with(hrefs, anchors,
                                lambda h, a: F.struct(h.alias("h"),
                                                      a.alias("a"))))
    return (pages.select(F.col(url_col).alias("src_url"), pair.alias("p"))
                 .select("src_url", F.col("p.h").alias("dst_url"),
                         F.col("p.a").alias("anchor")))


def extract_links_sql(source: str = "pages", html_expr: str = "html",
                      url_expr: str = "url") -> str:
    """DuckDB rendering of :func:`extract_links` (decode the blob,
    same tag regex, positional zip via UNNEST of two aligned lists)."""
    tag = '<a href="([^"]*)"[^>]*>([^<]*)</a>'
    return f"""
WITH p AS (SELECT {url_expr} AS src_url,
                  regexp_extract_all(decode({html_expr}), '{tag}', 1) AS hs,
                  regexp_extract_all(decode({html_expr}), '{tag}', 2) AS asx
           FROM {source})
SELECT src_url, unnest(hs) AS dst_url, unnest(asx) AS anchor FROM p"""


def bottomk_sample(df: DataFrame, k: int, key_col: str = "doc_id",
                   n_salts: int = 8, salt: str = "sample") -> DataFrame:
    """EXACTLY-k uniform sample: the ``k`` keys with the smallest
    salted hashes, as (rank, key, h) — the fixed-size companion to
    :func:`hash_sample`'s fixed-rate filter (eval-set carving, golden
    subsets, A/B holdouts).  Bottom-k by hash is a mergeable uniform
    sample: the union of two corpora's bottom-k sets contains the
    union's bottom-k, so shards combine without resampling.

    Scale: a single ORDER BY + LIMIT sorts the corpus on one task's
    worth of reduction at 10^12 rows, so this uses the same two-stage
    salted selection as ``postings_sample``: stage 1 ranks within a
    hash-salt bucket (sort-based window over ~n/n_salts rows,
    spillable) and keeps k per bucket; stage 2 sorts the <= k*n_salts
    survivors globally — exact, because each of the true bottom-k is
    a fortiori in its own bucket's bottom-k.  Deterministic ties:
    order is (hash, key).

    Semantics: ROW-granular — NULL keys are skipped, but a key that
    appears on multiple rows can fill multiple sample slots (its rows
    tie on hash and rank adjacently); when keys can repeat and the
    sample must be key-distinct, dedup the key column first
    (``exact_dedup`` / ``dropDuplicates``), which the merge use-case
    does anyway."""
    from pyspark.sql import Window
    if k < 1 or n_salts < 1:
        raise ValueError("k and n_salts must be positive")
    key = F.col(key_col)
    u = hash60(F.concat(F.lit(salt), F.lit(":"), key.cast("string")))
    keyed = df.filter(key.isNotNull()).select(key.alias("key"), u.alias("h"))
    w1 = (Window.partitionBy(F.pmod(F.col("h"), F.lit(n_salts)))
                .orderBy("h", "key"))
    survivors = (keyed.withColumn("rn", F.row_number().over(w1))
                      .filter(F.col("rn") <= k).drop("rn"))
    w2 = Window.orderBy("h", "key")
    return (survivors.withColumn("rank", F.row_number().over(w2))
                     .filter(F.col("rank") <= k)
                     .select("rank", F.col("key").alias(key_col), "h"))


def bottomk_sample_sql(key_expr: str, k: int, salt: str = "sample",
                       source: str = "documents") -> str:
    """DuckDB rendering of :func:`bottomk_sample` (single global sort
    — the oracle is allowed the naive plan)."""
    u = hash60_sql(f"'{salt}:' || CAST({key_expr} AS VARCHAR)")
    return f"""
WITH keyed AS (SELECT {key_expr} AS key, {u} AS h FROM {source}
               WHERE {key_expr} IS NOT NULL),
r AS (SELECT row_number() OVER (ORDER BY h, key) AS rank, key, h FROM keyed)
SELECT CAST(rank AS INT) AS rank, key, h FROM r WHERE rank <= {k}"""


def stratified_sample_sql(key_expr: str, strata_expr: str,
                          rates: dict[str, float], default_rate: float = 0.0,
                          salt: str = "sample") -> str:
    u = hash60_sql(f"'{salt}:' || CAST({key_expr} AS VARCHAR)")
    cases = " ".join(
        f"WHEN {strata_expr} = '{s}' THEN {int(r * _HASH_SPACE)}"
        for s, r in sorted(rates.items()))
    return f"{u} < CASE {cases} ELSE {int(default_rate * _HASH_SPACE)} END"


# ---------------------------------------------------------------------------
# token-window chunking
# ---------------------------------------------------------------------------


def chunk_tokens(docs: DataFrame, size: int = 32, stride: int = 24,
                 text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Split each document's word stream into windows of ``size``
    tokens advancing by ``stride`` (overlap = size - stride), the
    standard context-window sharding for LM training data.  Emits
    (id, chunk_no, n_tokens, chunk_md5) — the md5 of the
    space-rejoined window, NOT the text itself, so the exploded table
    stays narrow.  Explode is partition-local: zero shuffle.

    Every document yields ≥1 chunk (short/empty text → one chunk of
    whatever is there); the last window may be partial.  ``stride``
    must not exceed ``size`` — a larger stride would silently drop the
    gap tokens from every chunk (raises instead)."""
    if stride <= 0 or size <= 0:
        raise ValueError("size and stride must be positive")
    if stride > size:
        raise ValueError(f"stride ({stride}) > size ({size}) would drop "
                         "the gap tokens from every chunk")
    w = words(F.col(text_col))
    n = F.size(w)
    # 1 + ceil((n - size) / stride) full-step windows, minimum 1
    extra = F.greatest(n - F.lit(size), F.lit(0))
    n_chunks = F.lit(1) + F.floor((extra + F.lit(stride - 1)) / F.lit(stride)).cast("int")
    chunks = F.transform(F.sequence(F.lit(0), n_chunks - 1),
                         lambda i: F.slice(w, i * stride + 1, size))
    ex = docs.select(F.col(id_col), F.posexplode(chunks).alias("chunk_no", "chunk"))
    return ex.select(
        id_col, "chunk_no",
        F.size("chunk").alias("n_tokens"),
        F.md5(F.encode(F.array_join("chunk", " "), "utf-8")).alias("chunk_md5"))


def chunk_count_sql(words_expr: str, size: int = 32, stride: int = 24) -> str:
    """SQL rendering of chunk_tokens' window count — the single source
    of truth for every oracle that accounts chunks without unnesting
    them (must stay in lockstep with the Catalyst ``n_chunks``
    expression in :func:`chunk_tokens`)."""
    return (f"(1 + (greatest(len({words_expr}) - {size}, 0) "
            f"+ {stride - 1}) // {stride})")


def chunk_tokens_sql(t: str, size: int = 32, stride: int = 24,
                     source: str = "documents", id_expr: str = "doc_id") -> str:
    w = f"string_split(lower(coalesce({t}, '')), ' ')"
    n_chunks = chunk_count_sql("w", size, stride)
    piece = f"w[i*{stride}+1 : i*{stride}+{size}]"
    return f"""
WITH toks AS (SELECT {id_expr} AS doc_id, {w} AS w FROM {source}),
ex AS (SELECT doc_id, unnest([{{'chunk_no': i, 'n_tokens': len({piece}),
                'chunk_md5': md5(array_to_string({piece}, ' '))}}
               for i in range(0, {n_chunks})], recursive := true)
       FROM toks)
SELECT doc_id, CAST(chunk_no AS INT) AS chunk_no,
       CAST(n_tokens AS INT) AS n_tokens, chunk_md5
FROM ex"""


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------

# dialect-portable patterns: no alternation, no lookaround — Java
# (Spark) and RE2 (DuckDB) produce identical matches for these
EMAIL_RE = r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}"
IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PHONE_RE = r"\+\d{1,3}[ \-]\d{2,4}[ \-]\d{3,4}"

_PII = (("email", EMAIL_RE, "<EMAIL>"),
        ("ipv4", IPV4_RE, "<IP>"),
        ("phone", PHONE_RE, "<PHONE>"))


def redact_pii(text: Column) -> Column:
    """Replace emails, then IPv4 addresses, then international-format
    phone numbers with typed placeholders (order matters: emails may
    contain digit runs)."""
    out = nz(text)
    for _, pattern, token in _PII:
        out = F.regexp_replace(out, pattern, token)
    return out


def redact_pii_sql(t: str) -> str:
    out = f"coalesce({t}, '')"
    for _, pattern, token in _PII:
        out = f"regexp_replace({out}, '{pattern}', '{token}', 'g')"
    return out


def pii_stats(docs: DataFrame, text_col: str = "text",
              id_col: str = "doc_id") -> DataFrame:
    """Per-document PII counts (on the original text) + md5 of the
    redacted text — the audit table a scrubbing pass emits."""
    t = F.col(text_col)
    counts = [F.regexp_count(nz(t), F.lit(p)).alias(f"n_{name}")
              for name, p, _ in _PII]
    return docs.select(
        F.col(id_col), *counts,
        F.md5(F.encode(redact_pii(t), "utf-8")).alias("redacted_md5"))


def pii_stats_sql(t: str, source: str = "documents",
                  id_expr: str = "doc_id") -> str:
    counts = ", ".join(
        f"CAST(len(regexp_extract_all(coalesce({t}, ''), '{p}')) AS INT) AS n_{name}"
        for name, p, _ in _PII)
    return (f"SELECT {id_expr} AS doc_id, {counts}, "
            f"md5({redact_pii_sql(t)}) AS redacted_md5 FROM {source}")


# ---------------------------------------------------------------------------
# per-source corpus profile
# ---------------------------------------------------------------------------


def source_profile(docs: DataFrame, group_col: str = "source",
                   size_col: str = "n_chars") -> DataFrame:
    """Corpus profile per source: doc count, mean quality, exact
    median / p90 of document size.  Exact (interpolated) percentiles,
    not approx — the group count is low-cardinality so the per-group
    sort is cheap, and the oracle must reproduce values exactly.

    Cross-engine determinism: mean quality is an exact int64 sum of
    per-doc MICRO-quality (quality_score is already 6-decimal, so
    micro-quality is lossless) with an explicit integer half-up mean —
    a float ``avg`` is both summation-order-dependent and, being a
    mean of exact rationals, structurally exposed to round(x, 6) .5
    ties (VERDICT.md r4 #1).  The percentiles stay float: their
    interpolation fractions terminate at one decimal digit (median =
    (a+b)/2, p90 fraction = k/10), so a 7th-decimal tie cannot occur."""
    from .textstats import quality_score
    s = F.col(size_col).cast("double")
    qm = F.round(quality_score(F.col("text")) * 1e6).cast("long")
    return (docs.groupBy(group_col)
            .agg(F.count("*").alias("n_docs"),
                 F.sum(qm).alias("__qsum"),
                 F.round(F.percentile(s, F.lit(0.5)), 6).alias("median_size"),
                 F.round(F.percentile(s, F.lit(0.9)), 6).alias("p90_size"))
            .select(group_col, "n_docs",
                    F.expr("(2 * __qsum + n_docs) DIV (2 * n_docs)")
                     .alias("avg_quality_micro"),
                    "median_size", "p90_size"))


def source_profile_sql(source: str = "documents", group_col: str = "source",
                       size_col: str = "n_chars") -> str:
    from .textstats import quality_score_sql
    q = quality_score_sql("text")
    return f"""
SELECT {group_col} AS source, count(*) AS n_docs,
       CAST((2 * sum(CAST(round({q} * 1e6) AS BIGINT)) + count(*))
            // (2 * count(*)) AS BIGINT) AS avg_quality_micro,
       round(quantile_cont(CAST({size_col} AS DOUBLE), 0.5), 6) AS median_size,
       round(quantile_cont(CAST({size_col} AS DOUBLE), 0.9), 6) AS p90_size
FROM {source} GROUP BY {group_col}"""


def hist_quantiles(df: DataFrame, value_col: str,
                   qs_milli: tuple[int, ...] = (250, 500, 750, 900, 990),
                   group_col: str | None = None) -> DataFrame:
    """Exact discrete quantiles of an integer measure via a bounded
    HISTOGRAM — the corpus-distribution profiler (token-count /
    doc-length percentiles per language, the numbers every curation
    report leads with).  Output: (<group>, q_milli INT, value BIGINT,
    n BIGINT) — ``value`` is the q/1000-quantile (discrete "lower"
    convention: the smallest v whose cumulative count reaches
    ``ceil(q * n / 1000)``), ``n`` the group's row count.

    Scale (the 100 TB test): :func:`source_profile`'s builtin
    ``percentile`` sorts each group's raw values — fine for
    low-cardinality groups, wrong for a corpus-wide distribution.
    Here the ONLY full-data shuffle is the partial-agg histogram on
    (group, value) — map-side combine collapses each partition to at
    most |distinct values| rows, bounded by the value domain (token
    counts: ~1e5 distinct at any corpus size), NOT by corpus rows.
    The cumulative window + quantile probe then run on the tiny
    histogram.  Continuous measures must be bucketed by the caller
    first (that keeps the boundedness contract explicit).

    Determinism: pure integer arithmetic — the threshold test is
    ``cum * 1000 >= q * n`` (no float division anywhere), so two
    engines cannot disagree.  Bound: ``cum * 1000`` must stay in
    int64 → supports ~9e15 rows per group (document-count scale is
    1e12; fine).  NULL values are skipped (SQL aggregate convention);
    qs_milli entries must lie in [1, 1000]."""
    from pyspark.sql import Window
    if not qs_milli or any(not 1 <= q <= 1000 for q in qs_milli):
        raise ValueError("qs_milli entries must lie in [1, 1000]")
    v = F.col(value_col).cast("long")
    grp = (F.col(group_col) if group_col else F.lit("all")).alias("grp")
    hist = (df.filter(v.isNotNull())
              .groupBy(grp, v.alias("v"))
              .agg(F.count("*").alias("c")))
    wc = Window.partitionBy("grp").orderBy("v") \
               .rowsBetween(Window.unboundedPreceding, 0)
    wn = Window.partitionBy("grp")
    cum = (hist.withColumn("cum", F.sum("c").over(wc))
               .withColumn("n", F.sum("c").over(wn)))
    q = F.explode(F.array(*[F.lit(int(x)) for x in qs_milli])).alias("q_milli")
    return (cum.select("grp", "v", "c", "cum", "n", q)
               .filter((F.col("cum") * 1000 >= F.col("q_milli") * F.col("n"))
                       & ((F.col("cum") - F.col("c")) * 1000
                          < F.col("q_milli") * F.col("n")))
               .select(F.col("grp").alias(group_col or "scope"),
                       "q_milli", F.col("v").alias("value"), "n"))


def hist_quantiles_sql(value_expr: str,
                       qs_milli: tuple[int, ...] = (250, 500, 750, 900, 990),
                       group_expr: str | None = None,
                       source: str = "documents") -> str:
    """DuckDB rendering of :func:`hist_quantiles` (same histogram +
    integer threshold circuit; the oracle is allowed the naive
    window)."""
    if not qs_milli or any(not 1 <= q <= 1000 for q in qs_milli):
        raise ValueError("qs_milli entries must lie in [1, 1000]")
    g = group_expr if group_expr else "'all'"
    gname = group_expr if group_expr else "scope"
    qs = ", ".join(str(int(x)) for x in qs_milli)
    return f"""
WITH hist AS (
  SELECT {g} AS grp, CAST({value_expr} AS BIGINT) AS v, count(*) AS c
  FROM {source} WHERE {value_expr} IS NOT NULL GROUP BY 1, 2),
cum AS (
  SELECT grp, v, c,
         CAST(sum(c) OVER (PARTITION BY grp ORDER BY v) AS BIGINT) AS cum,
         CAST(sum(c) OVER (PARTITION BY grp) AS BIGINT) AS n
  FROM hist),
qs AS (SELECT unnest([{qs}]) AS q_milli)
SELECT grp AS {gname}, q_milli, v AS value, n
FROM cum, qs
WHERE cum * 1000 >= q_milli * n AND (cum - c) * 1000 < q_milli * n"""


def shard_corpus(docs, n_shards: int = 64, id_col: str = "doc_id"):
    """Deterministic training-order sharding: every document gets a
    ``(shard, pos)`` that is a pure function of its id — the data-order
    reproducibility contract a training run needs (re-running the prep
    job on re-partitioned/re-scaled input yields byte-identical shard
    manifests, so a resumed training job sees the same sample order).

    ``shard = md5-lane(id) mod n_shards`` balances shards to within
    sampling noise regardless of id distribution (sequential ids, url
    hashes, snapshot offsets all land uniformly); ``pos`` ranks the
    second md5 lane within the shard (ties broken by id), giving a
    deterministic within-shard shuffle — training sees a stable
    pseudo-random order, not ingestion order.

    Scale shape: one narrow projection + ONE window shuffle keyed on
    the shard id (n_shards partitions of ~|docs|/n_shards rows each —
    the partition size is chosen by n_shards, so executor memory
    bounds are explicit, and the same key is the natural write
    partitioning for the shard files).
    """
    from pyspark.sql import Window

    from .dedup import hash60, hash60b

    sid = F.col(id_col).cast("string")
    d = docs.select(F.col(id_col),
                    F.pmod(hash60(sid), F.lit(n_shards)).alias("shard"),
                    hash60b(sid).alias("_ord"))
    w = Window.partitionBy("shard").orderBy(F.col("_ord"), F.col(id_col))
    return (d.withColumn("pos", F.row_number().over(w).cast("long"))
            .select(id_col, "shard", "pos"))


def shard_corpus_sql(n_shards: int = 64, source: str = "documents",
                     id_expr: str = "doc_id") -> str:
    """DuckDB rendering of :func:`shard_corpus` (lockstep md5 lanes)."""
    from .dedup import hash60_sql, hash60b_sql
    sid = f"CAST({id_expr} AS VARCHAR)"
    return f"""
SELECT {id_expr} AS doc_id,
       {hash60_sql(sid)} % {n_shards} AS shard,
       CAST(row_number() OVER (PARTITION BY {hash60_sql(sid)} % {n_shards}
                               ORDER BY {hash60b_sql(sid)}, {id_expr})
            AS BIGINT) AS pos
FROM {source}"""

def pack_sequences(docs, seq_len: int = 128, n_shards: int = 16,
                   id_col: str = "doc_id", text_col: str = "text"):
    """Training-sequence packing: concatenate the corpus in the
    deterministic :func:`shard_corpus` order and cut it into
    fixed-``seq_len``-token training sequences, emitting for every
    document the sequence slices it fills — the last data-prep step
    before a causal-LM training run (documents are packed back to back
    so no sequence carries padding; a document crossing a boundary
    contributes a slice to each side).

    Output: ``(doc_id, shard, seq, doc_from, n_fill)`` — document
    ``doc_id`` supplies ``n_fill`` tokens starting at its own token
    offset ``doc_from`` into training sequence ``seq`` of ``shard``.
    ``sum(n_fill) GROUP BY shard, seq`` is exactly ``seq_len`` for
    every sequence except each shard's ragged tail — invariants the
    gate's oracle pins.  Token count is the whitespace convention
    (``size(split(text, ' '))``, the same count chunk_tokens uses), so
    the whole kernel is integer arithmetic: bit-identical on any
    engine, byte-identical manifests under any input partitioning.

    Scale shape (100 TB): ONE window shuffle keyed on the shard id —
    the cumulative-offset window and the row-local slice explode both
    run inside the shard partition, and the explode fan-out is bounded
    by ``tokens/seq_len + 1`` rows per document.  Pick ``n_shards`` ≥
    cluster parallelism (each shard is one task's sequential scan);
    shard sizes concentrate at |corpus|/n_shards by the md5 lane, so
    executor memory bounds are explicit, exactly as in
    :func:`shard_corpus`.
    """
    from pyspark.sql import Window

    from .dedup import hash60, hash60b

    if seq_len < 1 or n_shards < 1:
        raise ValueError("seq_len and n_shards must be positive")
    sid = F.col(id_col).cast("string")
    d = docs.select(
        F.col(id_col),
        F.pmod(hash60(sid), F.lit(n_shards)).alias("shard"),
        hash60b(sid).alias("_ord"),
        F.size(F.split(nz(F.col(text_col)), " ")).cast("long").alias("n_tokens"))
    w = (Window.partitionBy("shard").orderBy(F.col("_ord"), F.col(id_col))
         .rowsBetween(Window.unboundedPreceding, -1))
    d = d.withColumn("off", F.coalesce(F.sum("n_tokens").over(w), F.lit(0).cast("long")))
    # sequences this document overlaps (n_tokens >= 1 always: split('')
    # is [''] on both engines, so the range is never empty)
    d = d.withColumn("seq", F.explode(F.sequence(
        F.expr(f"off div {seq_len}"),
        F.expr(f"(off + n_tokens - 1) div {seq_len}"))))
    beg = F.greatest(F.col("off"), F.col("seq") * seq_len)
    end = F.least(F.col("off") + F.col("n_tokens"), (F.col("seq") + 1) * seq_len)
    return d.select(
        F.col(id_col), F.col("shard"),
        F.col("seq").cast("long").alias("seq"),
        (beg - F.col("off")).cast("long").alias("doc_from"),
        (end - beg).cast("long").alias("n_fill"))


def pack_sequences_sql(seq_len: int = 128, n_shards: int = 16,
                       source: str = "documents", id_expr: str = "doc_id",
                       text_expr: str = "text") -> str:
    """DuckDB rendering of :func:`pack_sequences` (lockstep md5 lanes,
    integer window + generate_series; `//` == Spark's `div` on the
    non-negative operands here)."""
    from .dedup import hash60_sql, hash60b_sql
    sid = f"CAST({id_expr} AS VARCHAR)"
    ntok = f"CAST(len(string_split(coalesce({text_expr}, ''), ' ')) AS BIGINT)"
    return f"""
WITH base AS (
  SELECT {id_expr} AS doc_id,
         {hash60_sql(sid)} % {n_shards} AS shard,
         {hash60b_sql(sid)} AS _ord,
         {ntok} AS n_tokens
  FROM {source}),
offs AS (
  SELECT *, CAST(coalesce(sum(n_tokens) OVER (
               PARTITION BY shard ORDER BY _ord, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             0) AS BIGINT) AS off
  FROM base),
sl AS (
  SELECT doc_id, shard, off, n_tokens,
         unnest(generate_series(off // {seq_len},
                                (off + n_tokens - 1) // {seq_len})) AS seq
  FROM offs)
SELECT doc_id, shard, CAST(seq AS BIGINT) AS seq,
       CAST(greatest(off, seq * {seq_len}) - off AS BIGINT) AS doc_from,
       CAST(least(off + n_tokens, (seq + 1) * {seq_len})
            - greatest(off, seq * {seq_len}) AS BIGINT) AS n_fill
FROM sl"""

# ---------------------------------------------------------------------------
# Corpus mixing: power-weighted source allocation + exact deterministic draw
# ---------------------------------------------------------------------------


def mix_allocation(docs: DataFrame, n_total: int, alpha: int = 2,
                   source_col: str = "source",
                   id_col: str = "doc_id") -> DataFrame:
    """Training-mixture allocation across sources — the "sampling
    temperature" recipe (p_s proportional to count^alpha) every
    multi-source LM dataset card documents, made INTEGER-EXACT so two
    engines can never disagree (graft addition).

    Largest-remainder method: base_s = (n*w_s) div W, the
    ``n - sum(base)`` leftovers go to the largest remainders
    ``(n*w_s) mod W`` (ties to the lexicographically first source),
    and each allocation is capped at the source's own count (the cap
    can make the total undershoot ``n_total`` — emitted as-is rather
    than papering over with a float renormalization).  ``alpha`` is an
    integer power (alpha=2 sharpens toward big sources; 1 = exact
    proportionality); intermediates are int64, so alpha=2 needs
    per-source counts < 3e9 and ``n_total * w_s`` < 2^63 — beyond
    that, move the arithmetic to DECIMAL(38,0)/HUGEINT (both engines
    support it; the formula is unchanged).

    Output: (source, n_docs, weight, alloc).  Plan: ONE partial-agg
    shuffle to the source-level table, then window arithmetic over
    |sources| rows — nothing else moves."""
    if alpha < 1:
        raise ValueError("alpha must be a positive integer")
    counts = docs.groupBy(F.col(source_col).alias("source")) \
                 .agg(F.count("*").alias("n_docs"))
    return _allocation_from_counts(counts, n_total, alpha)


def _allocation_from_counts(counts: DataFrame, n_total: int,
                            alpha: int) -> DataFrame:
    """Largest-remainder arithmetic over a (source, n_docs) table —
    shared by :func:`mix_allocation` and :func:`mix_select` so the
    selection path can derive the quota from ITS OWN single scan."""
    from pyspark.sql import Window

    w = F.col("n_docs")
    for _ in range(alpha - 1):
        w = w * F.col("n_docs")
    t = counts.withColumn("weight", w.cast("long"))
    every = Window.partitionBy()
    rem_rank = Window.partitionBy().orderBy(
        F.desc("rem"), F.asc("source"))
    t = (t.withColumn("W", F.sum("weight").over(every))
          .withColumn("base", F.expr(f"({n_total} * weight) DIV W"))
          .withColumn("rem", F.expr(f"({n_total} * weight) % W"))
          .withColumn("extras", F.lit(n_total) - F.sum("base").over(every))
          .withColumn("rr", F.row_number().over(rem_rank)))
    return (t.select("source", "n_docs", "weight",
                     F.least(F.col("base")
                             + (F.col("rr") <= F.col("extras")).cast("long"),
                             F.col("n_docs")).alias("alloc")))


def mix_allocation_sql(n_total: int, alpha: int = 2,
                       source: str = "documents",
                       source_col: str = "source") -> str:
    """DuckDB rendering of :func:`mix_allocation`."""
    w = " * ".join(["n_docs"] * alpha)
    return f"""
WITH counts AS (
  SELECT {source_col} AS source, count(*) AS n_docs
  FROM {source} GROUP BY {source_col}),
t AS (
  SELECT source, n_docs, CAST({w} AS BIGINT) AS weight FROM counts),
a AS (
  SELECT source, n_docs, weight,
         ({n_total} * weight) // sum(weight) OVER () AS base,
         ({n_total} * weight) % sum(weight) OVER () AS rem
  FROM t),
b AS (
  SELECT source, n_docs, weight, base,
         {n_total} - sum(base) OVER () AS extras,
         row_number() OVER (ORDER BY rem DESC, source ASC) AS rr
  FROM a)
SELECT source, CAST(n_docs AS BIGINT) AS n_docs, weight,
       CAST(least(base + CASE WHEN rr <= extras THEN 1 ELSE 0 END,
                  n_docs) AS BIGINT) AS alloc
FROM b"""


def mix_select(docs: DataFrame, n_total: int, alpha: int = 2,
               source_col: str = "source", id_col: str = "doc_id",
               salt: str = "mix", n_buckets: int = 1024) -> DataFrame:
    """Draw the :func:`mix_allocation` quota from each source — the
    alloc_s documents with the SMALLEST md5-rank (deterministic
    "random" — same draw on every run, engine, partitioning).

    The scale problem is exact per-source k-smallest selection when
    both the source and its quota are billions of rows: a rank window
    per source sorts an entire source in one task.  Histogram
    selection instead: bucket the 60-bit hash space into ``n_buckets``
    ORDER-ALIGNED slices (bucket = h div 2^60/B), build the tiny
    per-(source, bucket) histogram (one partial-agg shuffle, |S|xB
    rows), find each source's boundary bucket by running-sum, then
    keep every row below the boundary outright and rank ONLY inside
    the boundary bucket (~1/B of the source, and B scales freely) for
    the exact top-up.  Selection is identical to the naive rank by
    construction: both compute the alloc_s smallest (h, id) pairs.
    ONE scan of the narrow (source, h, id) projection, which is
    ``localCheckpoint``ed (it feeds the histogram and both filter
    branches — pruning defeats exchange reuse); the quota itself
    derives from the histogram, so the corpus is never re-read.  The
    text never moves.

    Output: (doc_id, source)."""
    from pyspark.sql import Window

    if alpha < 1:
        raise ValueError("alpha must be a positive integer")
    if n_buckets < 1 or (n_buckets & (n_buckets - 1)):
        raise ValueError("n_buckets must be a power of two")
    shift = 60 - n_buckets.bit_length() + 1
    keyed = docs.select(
        F.col(source_col).alias("source"), F.col(id_col),
        hash60(F.concat(F.lit(salt), F.lit(":"),
                        F.col(id_col).cast("string"))).alias("h"))
    keyed = (keyed.withColumn("bucket", F.shiftright(F.col("h"), shift))
                  .localCheckpoint(eager=False))
    hist = (keyed.groupBy("source", "bucket").agg(F.count("*").alias("c"))
                 .localCheckpoint(eager=False))
    counts = hist.groupBy("source").agg(F.sum("c").alias("n_docs"))
    alloc = _allocation_from_counts(counts, n_total, alpha) \
        .select("source", "alloc")
    cum = Window.partitionBy("source").orderBy("bucket") \
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist = (hist.join(F.broadcast(alloc), "source")
                .withColumn("cum", F.sum("c").over(cum))
                .withColumn("below", F.col("cum") - F.col("c")))
    # boundary bucket: the first whose running count reaches the quota
    bound = (hist.filter((F.col("cum") >= F.col("alloc"))
                         & (F.col("below") < F.col("alloc")))
                 .select("source", F.col("bucket").alias("b_star"),
                         "below", "alloc"))
    keyed = keyed.join(F.broadcast(bound), "source", "left")
    full = keyed.filter(F.col("b_star").isNotNull()
                        & (F.col("bucket") < F.col("b_star")))
    w = Window.partitionBy("source").orderBy("h", id_col)
    edge = (keyed.filter(F.col("bucket") == F.col("b_star"))
                 .withColumn("rn", F.row_number().over(w))
                 .filter(F.col("rn") <= F.col("alloc") - F.col("below")))
    return (full.select(id_col, "source")
                .unionByName(edge.select(id_col, "source")))


def mix_select_sql(n_total: int, alpha: int = 2, source: str = "documents",
                   source_col: str = "source", id_expr: str = "doc_id",
                   salt: str = "mix") -> str:
    """DuckDB rendering of :func:`mix_select` via the naive per-source
    rank — result-identical to the histogram plan by construction."""
    h = hash60_sql(f"'{salt}:' || CAST({id_expr} AS VARCHAR)")
    alloc = mix_allocation_sql(n_total, alpha, source, source_col)
    return f"""
WITH alloc AS ({alloc}),
r AS (
  SELECT {id_expr} AS doc_id, {source_col} AS source,
         row_number() OVER (PARTITION BY {source_col}
                            ORDER BY {h}, {id_expr}) AS rn
  FROM {source})
SELECT r.doc_id, r.source
FROM r JOIN alloc ON r.source = alloc.source
WHERE r.rn <= alloc.alloc"""

# ---------------------------------------------------------------------------
# Domain blocklist filter
# ---------------------------------------------------------------------------


def blocklist_filter(pages: DataFrame, blocked: DataFrame,
                     url_col: str = "url",
                     domain_col: str = "domain") -> DataFrame:
    """Drop every page whose registrable domain appears in a blocklist
    — the URL-level exclusion pass (spam/adult/SEO lists) every crawl
    pipeline runs before content filters (graft addition).

    Matching is EQUALITY on the registrable domain (``url_domain``
    collapses subdomains to their last two labels, so ``a.b.spam.test``
    blocks via ``spam.test`` — swap in a public-suffix broadcast table
    for exact PSL semantics; the join shape is identical).  The
    blocklist is list-sized → broadcast LEFT ANTI join: a narrow
    map-side filter at 100 TB, the corpus never shuffles.  Rows keep
    their input columns plus the extracted ``domain``."""
    keyed = pages.withColumn(domain_col, url_domain(F.col(url_col)))
    b = blocked.select(F.col(blocked.columns[0]).alias(domain_col)).distinct()
    return keyed.join(F.broadcast(b), domain_col, "left_anti")


# ---------------------------------------------------------------------------
# Crawl delta (incremental-crawl snapshot diff)
# ---------------------------------------------------------------------------

def content_digest(text: Column) -> Column:
    """The crawl-delta content-identity digest: md5 of the raw text,
    NULL hashing as the empty string.  ONE definition shared by
    :func:`crawl_delta` and the streaming twin
    (:func:`~pandarus_spark.streaming.stream.stream_crawl_delta`) so
    the stream-equals-batch-minus-removed contract cannot drift."""
    return F.md5(F.coalesce(text.cast("string"), F.lit("")))


def crawl_delta(old: DataFrame, new: DataFrame, id_col: str = "doc_id",
                text_col: str = "text", check_keys: bool = True) -> DataFrame:
    """Snapshot diff between two crawls of the same key space — the
    first question of every incremental pipeline run: which documents
    are new, which vanished, which changed, which can be skipped.
    Output: ``(id_col, status)`` with status in ``added`` (key only in
    the new crawl), ``removed`` (only in the old), ``changed`` (both,
    content differs), ``unchanged`` — one row per key observed in
    either crawl.

    Content identity is md5 of the raw text (NULL text hashes as the
    empty string) — deterministic on both engines, and computed
    MAP-SIDE so the join shuffles ``(key, 32-byte digest)`` rows, never
    the documents themselves.  Duplicate or NULL keys within one crawl
    are an upstream-contract violation and raise (dup keys would
    silently multiply full-outer rows; a NULL key never matches itself
    across the join, so one document would read as both added AND
    removed).

    Plan shape (100 TB test): two narrow map-only projections → ONE
    key-keyed full-outer join (sort-merge/SHJ at scale; the 32-byte
    digest is the entire payload) → map-side CASE.  The key guard
    costs one eager count-aggregate scan per crawl at call time; pass
    ``check_keys=False`` to skip it (and stay fully lazy) when the
    key contract is already enforced upstream — the 100 TB path."""
    def _digests(df: DataFrame, side: str) -> DataFrame:
        return df.select(F.col(id_col),
                         content_digest(F.col(text_col))
                         .alias(f"_h_{side}"))
    o, n = _digests(old, "old"), _digests(new, "new")
    if check_keys:
        for side, df in (("old", o), ("new", n)):
            total, nonnull, distinct = df.agg(
                F.count("*"), F.count(F.col(id_col)),
                F.count_distinct(F.col(id_col))).first()
            if nonnull != total:
                raise ValueError(
                    f"NULL {id_col} in the {side} crawl "
                    f"({total - nonnull} of {total} rows)")
            if nonnull != distinct:
                raise ValueError(f"duplicate {id_col} in the {side} crawl "
                                 f"({nonnull} rows, {distinct} distinct keys)")
    joined = o.join(n, id_col, "full_outer")
    status = (F.when(F.col("_h_old").isNull(), F.lit("added"))
               .when(F.col("_h_new").isNull(), F.lit("removed"))
               .when(F.col("_h_old") == F.col("_h_new"), F.lit("unchanged"))
               .otherwise(F.lit("changed")))
    return joined.select(F.col(id_col), status.alias("status"))


def crawl_delta_sql(old_sql: str, new_sql: str, id_expr: str = "doc_id",
                    text_expr: str = "text") -> str:
    """DuckDB rendering of :func:`crawl_delta` (same md5 identity,
    same full-outer CASE; the key guard is the caller's contract here;
    ``id_expr`` must be a plain column name — it also names the output
    column, matching the Spark twin's ``id_col``)."""
    return f"""
WITH o AS (SELECT {id_expr} AS k,
                  md5(coalesce(CAST({text_expr} AS VARCHAR), '')) AS h_old
           FROM ({old_sql})),
n AS (SELECT {id_expr} AS k,
             md5(coalesce(CAST({text_expr} AS VARCHAR), '')) AS h_new
      FROM ({new_sql}))
SELECT coalesce(o.k, n.k) AS {id_expr},
       CASE WHEN o.k IS NULL THEN 'added'
            WHEN n.k IS NULL THEN 'removed'
            WHEN o.h_old = n.h_new THEN 'unchanged'
            ELSE 'changed' END AS status
FROM o FULL OUTER JOIN n ON o.k = n.k"""


# ---------------------------------------------------------------------------
# Anchor-text profiles (the anchor-text index)
# ---------------------------------------------------------------------------

def anchor_terms(edges: DataFrame, k: int = 3,
                 dst_col: str = "dst_url",
                 anchor_col: str = "anchor") -> DataFrame:
    """Per-destination top-k anchor terms over a link edge list — the
    classic anchor-text index (what OTHER pages call a page describes
    it better than the page itself; the original web-search ranking
    signal, and a URL-level topic prior for corpus selection).
    Output: ``(dst_col, token, cnt BIGINT, rank INT)`` with rank 1..k
    per destination, ordered by count descending then token ascending
    — integer/string-only, so bit-identical everywhere.

    Plan shape (100 TB test): the anchor tokenization is a narrow
    partition-local explode; the (dst, token) partial-agg shuffle is
    the only full-data Exchange and map-side combine collapses
    repeated (dst, token) pairs before it — a mega-destination with
    10^9 "click here" in-links moves one row per partition, not 10^9;
    the rank window's partitions are bounded by the destination's
    DISTINCT anchor vocabulary, and Catalyst's WindowGroupLimit
    applies the rank<=k cut MAP-SIDE below the window exchange
    (plan-pinned, the bottomk_sample shape), so the second shuffle
    carries at most k-ish rows per (task, destination).

    Composes upstream with :func:`extract_links` (edge construction)
    and :func:`normalize_url` (destination canonicalization).

    No reference counterpart: pandarus has no web layer; anchor-text
    indexing is classic public IR."""
    if k < 1:
        raise ValueError("k must be positive")
    from pyspark.sql import Window
    toks = (edges.select(F.col(dst_col),
                         F.explode(words(F.col(anchor_col))).alias("token"))
                 .filter(F.col("token") != ""))
    tf = toks.groupBy(dst_col, "token").agg(F.count("*").alias("cnt"))
    w = (Window.partitionBy(dst_col)
               .orderBy(F.col("cnt").desc(), F.col("token")))
    return (tf.withColumn("rank", F.row_number().over(w))
              .filter(F.col("rank") <= k)
              .select(dst_col, "token", F.col("cnt").cast("long").alias("cnt"),
                      F.col("rank").cast("int").alias("rank")))


def anchor_terms_sql(edges_sql: str, k: int = 3,
                     dst_col: str = "dst_url",
                     anchor_col: str = "anchor") -> str:
    """DuckDB rendering of :func:`anchor_terms` (same tokenizer, same
    count-then-token ordering)."""
    if k < 1:
        raise ValueError("k must be positive")
    from .dedup import WORDS_SQL
    w = WORDS_SQL.format(t=anchor_col)
    return f"""
WITH e AS ({edges_sql}),
t AS (SELECT {dst_col}, unnest({w}) AS token FROM e),
tf AS (SELECT {dst_col}, token, count(*) AS c
       FROM t WHERE token <> '' GROUP BY {dst_col}, token),
r AS (SELECT *, row_number() OVER (PARTITION BY {dst_col}
                                   ORDER BY c DESC, token) AS rn
      FROM tf)
SELECT {dst_col}, token, CAST(c AS BIGINT) AS cnt, CAST(rn AS INT) AS rank
FROM r WHERE rn <= {k}"""


# ---------------------------------------------------------------------------
# Text normalization (the pre-tokenization cleanup pass)
# ---------------------------------------------------------------------------

def normalize_text(text: Column, lowercase: bool = True,
                   strip_punct: bool = False) -> Column:
    """The standard pre-tokenization cleanup: strip C0/C1 control
    characters, collapse all whitespace runs (space, tab, newline,
    NBSP) to single spaces, trim, and optionally casefold / strip
    punctuation — the normalization every dedup/LM pipeline applies
    before hashing so that formatting-only variants collapse.
    NULL-safe (NULL → '').

    Pure Catalyst ``regexp_replace`` chain — a narrow map, zero
    shuffle, whole-stage codegen; character classes are explicit
    codepoint ranges (no locale-dependent ``\\s``/``\\p{Punct}``
    semantics to drift between engines), so the SQL twin is
    bit-identical."""
    t = F.coalesce(text, F.lit(""))
    t = F.regexp_replace(
        t, "[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f\\x{0080}-\\x{009f}]", "")
    if strip_punct:
        t = F.regexp_replace(t, r"[!-/:-@\[-`{-~]", " ")
    # braced \x{00a0}, never \uXXXX: Java and RE2 both accept the
    # braced form, while RE2 silently matches NOTHING on \uXXXX
    # (measured: the invalid escape poisons the class without raising)
    t = F.regexp_replace(t, "[ \\x09\\x0a\\x0d\\x{00a0}]+", " ")
    t = F.trim(t)
    return F.lower(t) if lowercase else t


def normalize_text_sql(t: str, lowercase: bool = True,
                       strip_punct: bool = False) -> str:
    """DuckDB rendering of :func:`normalize_text` (same explicit
    codepoint classes, same replacement order, 'g' flag for
    replace-all)."""
    e = f"coalesce({t}, '')"
    e = (f"regexp_replace({e}, "
         f"'[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f"
         f"\\x{{0080}}-\\x{{009f}}]', '', 'g')")
    if strip_punct:
        e = f"regexp_replace({e}, '[!-/:-@\\[-`{{-~]', ' ', 'g')"
    e = (f"regexp_replace({e}, "
         f"'[ \\x09\\x0a\\x0d\\x{{00a0}}]+', ' ', 'g')")
    e = f"trim({e})"
    return f"lower({e})" if lowercase else e


def normalize_docs(docs: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id", lowercase: bool = True,
                   strip_punct: bool = False) -> DataFrame:
    """Column-level :func:`normalize_text` applied to a documents
    table; output ``(id_col, text_norm, n_chars_norm)``.  A narrow
    map — composes ahead of every hashing operator so formatting-only
    duplicates collapse into :func:`~pandarus_spark.operators.dedup.
    exact_dedup`'s hash groups."""
    norm = normalize_text(F.col(text_col), lowercase=lowercase,
                          strip_punct=strip_punct)
    return docs.select(F.col(id_col), norm.alias("text_norm"),
                       F.length(norm).cast("long").alias("n_chars_norm"))
