"""Link-graph operators over web-page edges (graft addition).

PageRank is THE canonical derived signal of a Common-Crawl-style
corpus (URL-level quality priors for training-data selection), but
the textbook formulation is float-iterative — per-node in-neighbor
sums whose float addition order differs run to run, engine to engine.
This variant is INTEGER-EXACT and therefore bit-identical everywhere:

* rank mass is carried in integer MICRO-units (total mass
  ``n_nodes * 1_000_000``);
* the damping factor is the exact rational 17/20 (0.85), applied as
  ``floor(r_u * 17 / (20 * deg_u))`` per out-edge — int64 throughout
  (mass <= n * 1e6, * 17 stays far inside int64);
* per-node aggregation is an integer SUM — order-free under any
  partitioning;
* floors leak a deterministic dust of mass per iteration (documented
  trade: exactness over mass conservation — ranks remain a valid
  ORDERING, which is what selection pipelines consume);
* dangling nodes (no out-edges) keep only their teleport share — the
  early-MapReduce convention, chosen over mass-redistribution to keep
  each iteration a single join + partial agg.

A fixed iteration count (default 10) keeps the computation a finite
arithmetic circuit, so the DuckDB twin is the same circuit as chained
CTEs — no convergence test, no float epsilon.

No reference counterpart: pandarus has no graph layer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

MICRO = 1_000_000


def pagerank(edges: DataFrame, n_iters: int = 10,
             src_col: str = "src", dst_col: str = "dst") -> DataFrame:
    """Integer-exact PageRank over an edge list.  Output:
    (node, rank_micro BIGINT) for every node appearing as src or dst.

    Plan shape (100 TB test): out-degrees are ONE partial-agg shuffle
    computed once; each iteration is one src-keyed join (rank table —
    node-sized — joins the edge list; broadcast while it fits, SHJ
    beyond) plus one dst-keyed partial-agg shuffle, with the rank
    table ``localCheckpoint``ed per round so plans stay O(1) in the
    iteration count (the duplicate_clusters hygiene).  Parallel edges
    are honored (two links A->B transfer twice), matching the SQL
    twin."""
    if n_iters < 1:
        raise ValueError("n_iters must be positive")
    e = edges.select(F.col(src_col).cast("long").alias("u"),
                     F.col(dst_col).cast("long").alias("v"))
    nodes = (e.select(F.col("u").alias("node"))
              .unionByName(e.select(F.col("v").alias("node")))
              .distinct()
              .localCheckpoint(eager=False))
    deg = e.groupBy("u").agg(F.count("*").alias("deg"))
    ed = e.join(deg, "u").localCheckpoint(eager=False)
    # per-node teleport share: (1-d) * MICRO = 3/20 of each unit mass
    base = (3 * MICRO) // 20
    r = nodes.select("node", F.lit(MICRO).cast("long").alias("r"))
    for _ in range(n_iters):
        contrib = (ed.join(r.withColumnRenamed("node", "u"), "u")
                     .select(F.col("v").alias("node"),
                             F.expr("(r * 17) DIV (20 * deg)").alias("c"))
                     .groupBy("node").agg(F.sum("c").alias("inflow")))
        r = (nodes.join(contrib, "node", "left")
                  .na.fill({"inflow": 0})
                  .select("node",
                          (F.lit(base).cast("long") + F.col("inflow"))
                          .alias("r"))
                  .localCheckpoint(eager=False))
    return r.select(F.col("node"), F.col("r").alias("rank_micro"))


def hits(edges: DataFrame, n_iters: int = 5,
         src_col: str = "src", dst_col: str = "dst") -> DataFrame:
    """Integer-exact HITS (Kleinberg hubs & authorities) over an edge
    list.  Output: (node, hub_micro BIGINT, auth_micro BIGINT) for
    every node appearing as src or dst.

    Same determinism contract as :func:`pagerank`, different
    normalization problem: textbook HITS rescales by the L2 norm
    (a sqrt — order-sensitive float), so this variant normalizes by
    the MAXIMUM instead (L-infinity): after each half-step,
    ``score = (raw * 1e6) DIV max(raw)``.  Max is an order-free
    integer aggregate, the product is exact in DECIMAL(38,0) (raw <=
    n * 1e6 ~ 9e18 at 10^12 nodes; * 1e6 stays inside 38 digits), and
    floor division is identical on both engines (non-negative
    operands), so the circuit is bit-identical everywhere.  L-inf
    normalization preserves the score ORDERING each iteration (it is
    a positive rescale), which is what ranking consumers use; the top
    hub/authority reads exactly 1_000_000.

    Plan shape (100 TB test): per iteration, one src- or dst-keyed
    join of the node-sized score table against the edge list
    (broadcast while it fits, SHJ beyond) + one partial-agg shuffle,
    then a SCALAR max (one-row agg, crossJoin-broadcast back — no
    data shuffle); the score table localCheckpoints per half-step so
    plans stay O(1) in the iteration count.  Parallel edges honored,
    matching the SQL twin.  Nodes with no in-edges (resp. out-edges)
    score authority (resp. hub) 0; an empty edge set yields all
    zeros (the max is clamped to >= 1, never a divide-by-zero)."""
    if n_iters < 1:
        raise ValueError("n_iters must be positive")
    e = (edges.select(F.col(src_col).cast("long").alias("u"),
                      F.col(dst_col).cast("long").alias("v"))
              .localCheckpoint(eager=False))
    nodes = (e.select(F.col("u").alias("node"))
              .unionByName(e.select(F.col("v").alias("node")))
              .distinct()
              .localCheckpoint(eager=False))
    norm = (f"CAST(raw AS DECIMAL(38,0)) * {MICRO} "
            f"DIV greatest(maxraw, CAST(1 AS BIGINT))")

    def _half(score, edge_key, agg_key):
        # score(edge_key) flows to agg_key; then L-inf normalize
        raw = (e.join(score.withColumnRenamed("node", edge_key), edge_key)
                .groupBy(F.col(agg_key).alias("node"))
                .agg(F.sum("s").alias("raw")))
        mx = raw.agg(F.max("raw").alias("maxraw"))
        return (nodes.join(raw, "node", "left")
                     .na.fill({"raw": 0})
                     .crossJoin(F.broadcast(mx))
                     .select("node",
                             F.expr(norm).cast("long").alias("s"))
                     .localCheckpoint(eager=False))

    h = nodes.select("node", F.lit(MICRO).cast("long").alias("s"))
    a = None
    for _ in range(n_iters):
        a = _half(h, "u", "v")      # authority(v) = sum of hub(u), u->v
        h = _half(a, "v", "u")      # hub(u) = sum of authority(v), u->v
    return (h.withColumnRenamed("s", "hub_micro")
             .join(a.withColumnRenamed("s", "auth_micro"), "node")
             .select("node", "hub_micro", "auth_micro"))


def triangles(edges: DataFrame,
              src_col: str = "src", dst_col: str = "dst") -> DataFrame:
    """Per-node triangle counts over an edge list (the clustering-
    coefficient numerator — the classic spam/link-farm signal on web
    graphs: organic neighborhoods close triangles, farms don't).
    Output: (node, n_tri BIGINT), zero-filled, for every node with at
    least one non-loop edge (a node appearing ONLY in self-loops is
    not in the simple graph and is dropped with its loops) —
    integer-exact, so bit-identical everywhere.

    Semantics: the graph is treated as UNDIRECTED and SIMPLE — edge
    direction, parallel edges, and self-loops are all collapsed/
    dropped before counting, matching the SQL twin.

    Plan shape (100 TB test): the skew answer is DEGREE-ORDERED
    ORIENTATION — each undirected edge is directed from its lower
    (degree, id) endpoint to the higher, so every triangle is
    enumerated exactly once (at its unique vertex with two out-edges
    inside the triangle) and per-vertex wedge generation is bounded by
    C(out_deg, 2) with out_deg = O(sqrt(m)) — the O(m^1.5) bound of
    the classic MapReduce triangle algorithms, immune to the 10^8-in-
    degree hub that breaks naive neighbor-joins.  Shuffles: canonical
    distinct (1), degree partial-agg (1, node-keyed), two node-keyed
    orientation joins against the node-sized degree table (broadcast
    while it fits, SHJ beyond), the src-keyed wedge self-join, and the
    (p,q)-keyed closure equi-join against the canonical edges.  No
    crossJoin, no all-pairs anywhere.

    No reference counterpart: pandarus has no graph layer."""
    e0 = (edges.select(F.col(src_col).cast("long").alias("u"),
                       F.col(dst_col).cast("long").alias("v"))
               .filter(F.col("u") != F.col("v")))
    # canonical undirected simple edges: a < b
    e = (e0.select(F.least("u", "v").alias("a"),
                   F.greatest("u", "v").alias("b"))
           .distinct()
           .localCheckpoint(eager=False))
    deg = (e.select(F.col("a").alias("node"))
            .unionByName(e.select(F.col("b").alias("node")))
            .groupBy("node").agg(F.count("*").alias("deg")))
    # the degree table already enumerates every node once — reuse it
    # as the zero-fill domain instead of a second union+distinct scan
    nodes = deg.select("node")
    # orient a<->b from lower (deg, id) to higher: a total order, so
    # each triangle has exactly one vertex with out-degree 2 in it
    lower = (F.col("da") < F.col("db")) | \
            ((F.col("da") == F.col("db")) & (F.col("a") < F.col("b")))
    o = (e.join(deg.select(F.col("node").alias("a"),
                           F.col("deg").alias("da")), "a")
          .join(deg.select(F.col("node").alias("b"),
                           F.col("deg").alias("db")), "b")
          .select(F.when(lower, F.col("a")).otherwise(F.col("b")).alias("x"),
                  F.when(lower, F.col("b")).otherwise(F.col("a")).alias("y"))
          .localCheckpoint(eager=False))
    # wedges at x: unordered out-neighbor pairs, canonical p < q by id
    l, r = o.alias("l"), o.alias("r")
    w = (l.join(r, (F.col("l.x") == F.col("r.x")) &
                   (F.col("l.y") < F.col("r.y")))
          .select(F.col("l.x").alias("x"),
                  F.col("l.y").alias("p"), F.col("r.y").alias("q")))
    # closure: wedge (p, q) is a triangle iff canonical edge (p, q)
    tri = w.join(e, (F.col("p") == F.col("a")) & (F.col("q") == F.col("b")))
    per_node = (tri.select(F.col("x").alias("node"))
                   .unionByName(tri.select(F.col("p").alias("node")))
                   .unionByName(tri.select(F.col("q").alias("node")))
                   .groupBy("node").agg(F.count("*").alias("n_tri")))
    return (nodes.join(per_node, "node", "left")
                 .na.fill({"n_tri": 0})
                 .select("node", F.col("n_tri").cast("long").alias("n_tri")))


def triangles_sql(edges_sql: str,
                  src_col: str = "src", dst_col: str = "dst") -> str:
    """DuckDB rendering of :func:`triangles`: the identical circuit —
    canonicalize, degree-order, orient, wedge self-join, closure join,
    charge each triangle to all three corners."""
    return f"""
WITH e0 AS (SELECT u, v FROM (
              SELECT CAST({src_col} AS BIGINT) AS u,
                     CAST({dst_col} AS BIGINT) AS v
              FROM ({edges_sql})) WHERE u <> v),
e AS (SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b FROM e0),
deg AS (SELECT node, count(*) AS deg
        FROM (SELECT a AS node FROM e UNION ALL SELECT b FROM e)
        GROUP BY node),
nodes AS (SELECT node FROM deg),
o AS (SELECT CASE WHEN (da.deg, e.a) < (db.deg, e.b)
                  THEN e.a ELSE e.b END AS x,
             CASE WHEN (da.deg, e.a) < (db.deg, e.b)
                  THEN e.b ELSE e.a END AS y
      FROM e JOIN deg da ON e.a = da.node
             JOIN deg db ON e.b = db.node),
w AS (SELECT l.x, l.y AS p, r.y AS q
      FROM o l JOIN o r ON l.x = r.x AND l.y < r.y),
tri AS (SELECT w.x, w.p, w.q
        FROM w JOIN e ON w.p = e.a AND w.q = e.b),
per_node AS (SELECT node, count(*) AS n_tri
             FROM (SELECT x AS node FROM tri
                   UNION ALL SELECT p FROM tri
                   UNION ALL SELECT q FROM tri)
             GROUP BY node)
SELECT nodes.node, CAST(coalesce(per_node.n_tri, 0) AS BIGINT) AS n_tri
FROM nodes LEFT JOIN per_node ON nodes.node = per_node.node"""


def hits_sql(edges_sql: str, n_iters: int = 5,
             src_col: str = "src", dst_col: str = "dst") -> str:
    """DuckDB rendering of :func:`hits`: the identical arithmetic
    circuit as chained CTEs (one authority/hub pair per iteration;
    HUGEINT carries the DECIMAL(38,0) product).  Every CTE is
    MATERIALIZED: DuckDB otherwise inlines them, and since each
    ``{out}`` reads ``{out}_raw`` twice, the plan grows exponentially
    with ``n_iters``."""
    if n_iters < 1:
        raise ValueError("n_iters must be positive")
    parts = [f"""e AS MATERIALIZED (SELECT CAST({src_col} AS BIGINT) AS u,
                            CAST({dst_col} AS BIGINT) AS v
                     FROM ({edges_sql})),
nodes AS MATERIALIZED (SELECT u AS node FROM e UNION SELECT v FROM e),
h0 AS MATERIALIZED (SELECT node, CAST({MICRO} AS BIGINT) AS s FROM nodes)"""]

    def _half(out, inn, edge_key, agg_key):
        return f"""{out}_raw AS MATERIALIZED (
  SELECT e.{agg_key} AS node, sum({inn}.s) AS raw
  FROM e JOIN {inn} ON e.{edge_key} = {inn}.node
  GROUP BY e.{agg_key}),
{out} AS MATERIALIZED (
  SELECT nodes.node,
         CAST(CAST(coalesce({out}_raw.raw, 0) AS HUGEINT) * {MICRO}
              // greatest((SELECT coalesce(max(raw), 0) FROM {out}_raw),
                          CAST(1 AS HUGEINT)) AS BIGINT) AS s
  FROM nodes LEFT JOIN {out}_raw ON nodes.node = {out}_raw.node)"""

    for i in range(1, n_iters + 1):
        parts.append(_half(f"a{i}", f"h{i - 1}", "u", "v"))
        parts.append(_half(f"h{i}", f"a{i}", "v", "u"))
    body = ",\n".join(parts)
    return (f"WITH {body}\n"
            f"SELECT h{n_iters}.node, h{n_iters}.s AS hub_micro, "
            f"a{n_iters}.s AS auth_micro\n"
            f"FROM h{n_iters} JOIN a{n_iters} "
            f"ON h{n_iters}.node = a{n_iters}.node")


def pagerank_sql(edges_sql: str, n_iters: int = 10,
                 src_col: str = "src", dst_col: str = "dst") -> str:
    """DuckDB rendering of :func:`pagerank`: the identical arithmetic
    circuit as chained CTEs (one pair per iteration)."""
    if n_iters < 1:
        raise ValueError("n_iters must be positive")
    parts = [f"""e AS (SELECT CAST({src_col} AS BIGINT) AS u,
                            CAST({dst_col} AS BIGINT) AS v
                     FROM ({edges_sql})),
nodes AS (SELECT u AS node FROM e UNION SELECT v FROM e),
deg AS (SELECT u, count(*) AS deg FROM e GROUP BY u),
ed AS (SELECT e.u, e.v, deg.deg FROM e JOIN deg ON e.u = deg.u),
base AS (SELECT (3 * {MICRO}) // 20 AS b),
r0 AS (SELECT node, CAST({MICRO} AS BIGINT) AS r FROM nodes)"""]
    for i in range(1, n_iters + 1):
        parts.append(f"""c{i} AS (
  SELECT ed.v AS node, sum((r{i - 1}.r * 17) // (20 * ed.deg)) AS inflow
  FROM ed JOIN r{i - 1} ON ed.u = r{i - 1}.node
  GROUP BY ed.v),
r{i} AS (
  SELECT nodes.node,
         CAST((SELECT b FROM base) + coalesce(c{i}.inflow, 0) AS BIGINT) AS r
  FROM nodes LEFT JOIN c{i} ON nodes.node = c{i}.node)""")
    body = ",\n".join(parts)
    return (f"WITH {body}\n"
            f"SELECT node, r AS rank_micro FROM r{n_iters}")


def link_reciprocity(edges: DataFrame,
                     src_col: str = "src", dst_col: str = "dst") -> DataFrame:
    """Per-node link reciprocity over a DIRECTED edge list: how many
    of a node's distinct out-links are returned (u->v AND v->u) — the
    classic organic-vs-spam web-graph signal (link farms exchange
    links; organic citation is mostly one-way).  Output: ``(node,
    out_deg BIGINT, n_recip BIGINT)`` for every node with at least one
    non-loop out-edge; integer-exact everywhere.

    Plan shape (100 TB test): distinct directed edges (one shuffle),
    then ONE ids-only self-equi-join probing each edge (u,v) against
    the reversed key (v,u) — hash join on the pair key, no fan-out
    (distinct edges join at most once) — and a node-keyed partial agg.
    Text/pages never enter; rows are two ints wide throughout."""
    e = (edges.select(F.col(src_col).cast("long").alias("u"),
                      F.col(dst_col).cast("long").alias("v"))
              .filter(F.col("u") != F.col("v"))
              .distinct()
              .localCheckpoint(eager=False))
    rev = e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    recip = e.join(rev, ["u", "v"], "left_semi").select("u")
    return (e.select("u").groupBy("u").agg(F.count("*").alias("out_deg"))
             .join(recip.groupBy("u").agg(F.count("*").alias("n_recip")),
                   "u", "left")
             .na.fill({"n_recip": 0})
             .select(F.col("u").alias("node"),
                     F.col("out_deg").cast("long").alias("out_deg"),
                     F.col("n_recip").cast("long").alias("n_recip")))


def link_reciprocity_sql(edges_sql: str, src_col: str = "src",
                         dst_col: str = "dst") -> str:
    """DuckDB rendering of :func:`link_reciprocity` (same distinct
    directed edges, same reversed-key semi join)."""
    return f"""
WITH e AS (SELECT DISTINCT u, v FROM (
             SELECT CAST({src_col} AS BIGINT) AS u,
                    CAST({dst_col} AS BIGINT) AS v
             FROM ({edges_sql})) WHERE u <> v),
recip AS (SELECT e.u, count(*) AS n_recip
          FROM e SEMI JOIN e r ON e.u = r.v AND e.v = r.u
          GROUP BY e.u),
deg AS (SELECT u, count(*) AS out_deg FROM e GROUP BY u)
SELECT deg.u AS node, CAST(deg.out_deg AS BIGINT) AS out_deg,
       CAST(coalesce(recip.n_recip, 0) AS BIGINT) AS n_recip
FROM deg LEFT JOIN recip ON deg.u = recip.u"""


# ---------------------------------------------------------------------------
# Label propagation communities (Raghavan et al. 2007, deterministic)
# ---------------------------------------------------------------------------

def label_propagation(edges: DataFrame, n_iters: int = 5,
                      src_col: str = "src", dst_col: str = "dst") -> DataFrame:
    """Community detection by synchronous label propagation over the
    UNDIRECTED graph (Raghavan et al. 2007), made deterministic: every
    node starts labeled with its own id; each round every node adopts
    the most frequent label among its neighbors PLUS ONE VOTE for its
    own current label, ties broken to the SMALLEST label (the paper
    breaks ties randomly — that is unreproducible across engines, so
    this variant pins the argmin, the same determinization
    :func:`hits` applies to its normalization; the self-vote kills
    the pure-synchronous scheme's two-node label swap, which
    otherwise oscillates forever on pendant pairs).  Communities
    (dense regions) converge to one label; unlike
    :func:`pandarus_spark.operators.dedup.duplicate_clusters`
    (connected components) LPA splits a sparse bridge between two
    dense regions.  Output: ``(node, label)``, both BIGINT, after
    exactly ``n_iters`` synchronous rounds — the fixed round count
    makes the output well-defined even where larger odd cycles still
    oscillate.

    Plan shape (100 TB test): edges symmetrize + distinct once
    (checkpointed); per round, ONE node-keyed join of the node-sized
    label table against the edge list (broadcast while it fits, SHJ
    beyond), one (node, label) partial agg — a hub's repeated
    neighbor labels collapse map-side — and one node-keyed window
    whose partitions are bounded by each node's DISTINCT neighbor
    label count (<= degree, shrinking as communities converge), never
    by total rows.  The label table ``localCheckpoint``s per round so
    plans stay O(1) in the iteration count (the
    :func:`pagerank` hygiene).  Integer labels only — bit-identical
    on any engine."""
    if n_iters < 1:
        raise ValueError("n_iters must be positive")
    from pyspark.sql import Window

    e0 = edges.select(F.col(src_col).cast("long").alias("u"),
                      F.col(dst_col).cast("long").alias("v"))
    e = (e0.unionByName(e0.select(F.col("v").alias("u"),
                                  F.col("u").alias("v")))
           .filter(F.col("u") != F.col("v"))
           .distinct()
           .localCheckpoint(eager=False))
    lab = (e.select(F.col("u").alias("node")).distinct()
            .withColumn("label", F.col("node")))
    w = Window.partitionBy("u").orderBy(F.desc("c"), F.asc("label"))
    for _ in range(n_iters):
        votes = (e.join(lab.withColumnRenamed("node", "v"), "v")
                  .select("u", "label")
                  .unionByName(lab.select(F.col("node").alias("u"),
                                          "label")))
        cnt = votes.groupBy("u", "label").agg(F.count("*").alias("c"))
        lab = (cnt.withColumn("rn", F.row_number().over(w))
                  .filter(F.col("rn") == 1)
                  .select(F.col("u").alias("node"), "label")
                  .localCheckpoint(eager=False))
    return lab.select(F.col("node").cast("long"),
                      F.col("label").cast("long"))


def label_propagation_sql(edges_sql: str, n_iters: int = 5,
                          src_col: str = "src",
                          dst_col: str = "dst") -> str:
    """DuckDB rendering of :func:`label_propagation` (same
    symmetrization, the same self-vote, the same count-desc/label-asc
    tie-break, one CTE per synchronous round).  The CTEs are
    MATERIALIZED because ``l{i}`` reads ``l{i-1}`` twice and DuckDB
    would otherwise inline the chain exponentially."""
    if n_iters < 1:
        raise ValueError("n_iters must be positive")
    parts = [f"""e AS MATERIALIZED (
  SELECT DISTINCT u, v FROM (
    SELECT {src_col} AS u, {dst_col} AS v FROM ({edges_sql})
    UNION ALL
    SELECT {dst_col}, {src_col} FROM ({edges_sql})) WHERE u <> v)""",
             "l0 AS MATERIALIZED (SELECT DISTINCT u AS node, u AS label FROM e)"]
    for i in range(1, n_iters + 1):
        parts.append(f"""l{i} AS MATERIALIZED (
  SELECT node, label FROM (
    SELECT node, label,
           row_number() OVER (PARTITION BY node
                              ORDER BY c DESC, label ASC) AS rn
    FROM (SELECT node, label, count(*) AS c FROM (
            SELECT e.u AS node, l.label AS label
            FROM e JOIN l{i - 1} l ON e.v = l.node
            UNION ALL
            SELECT node, label FROM l{i - 1})
          GROUP BY node, label))
  WHERE rn = 1)""")
    body = ",\n".join(parts)
    return (f"WITH {body}\n"
            f"SELECT CAST(node AS BIGINT) AS node, "
            f"CAST(label AS BIGINT) AS label FROM l{n_iters}")


# ---------------------------------------------------------------------------
# Local clustering coefficient + k-core peeling
# ---------------------------------------------------------------------------

def clustering_coefficient(edges: DataFrame, src_col: str = "src",
                           dst_col: str = "dst") -> DataFrame:
    """Per-node LOCAL clustering coefficient over the undirected
    simple graph — the triangle-closure density Watts & Strogatz
    defined, and the per-node refinement of :func:`triangles`' farm
    signal.  Output: ``(node, deg BIGINT, n_tri BIGINT,
    cc_micro BIGINT)`` with ``cc_micro = (2 * n_tri * 1e6) DIV
    (deg * (deg - 1))`` — integer micro-units, exact everywhere;
    degree-<2 nodes report 0.

    Plan shape (100 TB test): :func:`triangles` does the heavy
    lifting (degree-ordered orientation, O(m^1.5)); this adds one
    node-keyed degree partial agg and one node-keyed join — both on
    node-sized tables."""
    t = triangles(edges, src_col=src_col, dst_col=dst_col)
    e0 = (edges.select(F.col(src_col).cast("long").alias("u"),
                       F.col(dst_col).cast("long").alias("v"))
               .filter(F.col("u") != F.col("v")))
    e = (e0.select(F.least("u", "v").alias("a"),
                   F.greatest("u", "v").alias("b"))
           .distinct())
    deg = (e.select(F.col("a").alias("node"))
            .unionByName(e.select(F.col("b").alias("node")))
            .groupBy("node").agg(F.count("*").alias("deg")))
    return (t.join(deg, "node")
             .select("node", F.col("deg").cast("long"),
                     F.col("n_tri").cast("long"),
                     F.expr("CASE WHEN deg >= 2 THEN "
                            "(2 * n_tri * 1000000) DIV (deg * (deg - 1)) "
                            "ELSE 0 END").cast("long")
                      .alias("cc_micro")))


def clustering_coefficient_sql(edges_sql: str, src_col: str = "src",
                               dst_col: str = "dst") -> str:
    """DuckDB rendering of :func:`clustering_coefficient` (composes
    :func:`triangles_sql` as a subquery)."""
    tri = triangles_sql(edges_sql, src_col=src_col, dst_col=dst_col)
    return f"""
WITH t AS (SELECT * FROM ({tri}) x),
e0 AS (SELECT u, v FROM (
         SELECT CAST({src_col} AS BIGINT) AS u,
                CAST({dst_col} AS BIGINT) AS v
         FROM ({edges_sql})) WHERE u <> v),
e AS (SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b FROM e0),
deg AS (SELECT node, count(*) AS deg
        FROM (SELECT a AS node FROM e UNION ALL SELECT b FROM e)
        GROUP BY node)
SELECT t.node, CAST(deg.deg AS BIGINT) AS deg,
       CAST(t.n_tri AS BIGINT) AS n_tri,
       CAST(CASE WHEN deg.deg >= 2 THEN
            (2 * t.n_tri * 1000000) // (deg.deg * (deg.deg - 1))
            ELSE 0 END AS BIGINT) AS cc_micro
FROM t JOIN deg ON t.node = deg.node"""


def kcore(edges: DataFrame, k: int = 2, n_rounds: int = 4,
          src_col: str = "src", dst_col: str = "dst") -> DataFrame:
    """k-core peeling (Seidman 1983): synchronously remove every node
    whose degree in the surviving undirected simple graph is below
    ``k``, ``n_rounds`` times; output ``(node, deg)`` for the nodes
    whose degree in the surviving subgraph is still >= k — the
    k-core once a further peel changes nothing (the fixed round count
    keeps the output well-defined and SQL-mirrorable even before
    convergence; pick ``n_rounds`` >= the fixture's peel depth, and
    check convergence by comparing ``n_rounds`` to ``n_rounds + 1``).

    Plan shape (100 TB test): per round, one node-keyed degree
    partial agg over the surviving edges plus two semi-joins of the
    edge list against the node-sized survivor table (broadcast while
    it fits); edges ``localCheckpoint`` per round so plans stay O(1)
    in rounds (the pagerank hygiene)."""
    if k < 1:
        raise ValueError("k must be positive")
    if n_rounds < 1:
        raise ValueError("n_rounds must be positive")
    e0 = (edges.select(F.col(src_col).cast("long").alias("u"),
                       F.col(dst_col).cast("long").alias("v"))
               .filter(F.col("u") != F.col("v")))
    e = (e0.select(F.least("u", "v").alias("a"),
                   F.greatest("u", "v").alias("b"))
           .distinct()
           .localCheckpoint(eager=False))

    def degrees(ed):
        return (ed.select(F.col("a").alias("node"))
                  .unionByName(ed.select(F.col("b").alias("node")))
                  .groupBy("node").agg(F.count("*").alias("deg")))

    for _ in range(n_rounds):
        keep = degrees(e).filter(F.col("deg") >= k).select("node")
        e = (e.join(keep.withColumnRenamed("node", "a"), "a", "semi")
              .join(keep.withColumnRenamed("node", "b"), "b", "semi")
              .select("a", "b")
              .localCheckpoint(eager=False))
    return (degrees(e).filter(F.col("deg") >= k)
            .select("node", F.col("deg").cast("long")))


def kcore_sql(edges_sql: str, k: int = 2, n_rounds: int = 4,
              src_col: str = "src", dst_col: str = "dst") -> str:
    """DuckDB rendering of :func:`kcore` (one CTE pair per peel
    round, the label_propagation pattern)."""
    if k < 1:
        raise ValueError("k must be positive")
    if n_rounds < 1:
        raise ValueError("n_rounds must be positive")
    parts = [f"""e0 AS (
  SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b FROM (
    SELECT CAST({src_col} AS BIGINT) AS u,
           CAST({dst_col} AS BIGINT) AS v
    FROM ({edges_sql})) WHERE u <> v)"""]
    prev = "e0"
    for i in range(1, n_rounds + 1):
        parts.append(f"""k{i} AS (
  SELECT node FROM (
    SELECT node, count(*) AS deg FROM (
      SELECT a AS node FROM {prev} UNION ALL SELECT b FROM {prev})
    GROUP BY node)
  WHERE deg >= {k})""")
        parts.append(f"""e{i} AS (
  SELECT a, b FROM {prev}
  WHERE a IN (SELECT node FROM k{i})
    AND b IN (SELECT node FROM k{i}))""")
        prev = f"e{i}"
    body = ",\n".join(parts)
    return f"""WITH {body}
SELECT node, CAST(deg AS BIGINT) AS deg FROM (
  SELECT node, count(*) AS deg FROM (
    SELECT a AS node FROM {prev} UNION ALL SELECT b FROM {prev})
  GROUP BY node)
WHERE deg >= {k}"""
