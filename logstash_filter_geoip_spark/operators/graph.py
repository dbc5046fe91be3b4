"""Graph analytics over edge relations: weighted PageRank (iterative) and
degree-oriented triangle counting (one-shot).

The web-pipeline companion to ``dedup.dedup_components`` (connected
components): where components answer "which docs are the same", PageRank
answers "which domains are authoritative" — the classic domain-quality
prior a crawl/curation pipeline feeds into sampling weights. The driver
query ranks the registered-domain transition graph derived from the
events URL stream.

Semantics (ONE definition, mirrored token-for-token in the oracle): the
simple damped iteration

    rank_{i+1}(n) = (1 - d)/N + d * SUM_{m->n} rank_i(m) * w(m,n) / out_w(m)

with N = |nodes|, out_w(m) = total outgoing edge weight of m, fixed
``n_iter`` iterations from the uniform 1/N start. Dangling nodes (no
out-edges) leak their mass — the textbook simple variant, identical in
both engines by construction; self-loops are kept. All scalar constants
are evaluated in IEEE double with the SAME operation order in both
engines ((1-d)/N, rank*w/out_w left-to-right), so per-element arithmetic
is bit-identical; only the per-node contribution SUM order differs
(1e-16-grade noise, far under the oracle's 6dp rounding).

Scale shape (100 TB): edges/nodes/ranks are all data-sized relations —
every join is a keyed shuffle join (merge-hinted per the session-10
static-estimate rule; nothing corpus-derived is ever broadcast), the
contribution aggregate is two-phase on dst, and each iteration's rank
relation is localCheckpoint'ed so the plan stays one-iteration deep (the
dedup_components loop discipline).

The oracle is the k-times UNROLLED CTE chain (pr0..prK) — fixed-iteration
loops need no recursion, and unrolling sidesteps the SQL restriction on
aggregates in recursive terms.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

N_ITER = 5
DAMPING = 0.85


def pagerank(edges: DataFrame, n_iter: int = N_ITER, weight: str | None = None,
             checkpoint: bool = True) -> DataFrame:
    """(node, pagerank) after ``n_iter`` damped iterations over the edge
    relation; parallel edges collapse into summed weights (weight=None →
    each edge counts 1). Raises on an empty graph.

    ``checkpoint=False`` keeps the full declarative plan (used by the plan
    contract test); production leaves it True — an O(n_iter)-deep joined
    plan re-executes every prior iteration at each reference otherwise.
    """
    if weight is not None:
        wtype = dict(edges.dtypes).get(weight, "")
        if wtype in ("float", "double") or wtype.startswith("decimal"):
            raise ValueError(
                f"pagerank: weight column {weight!r} is {wtype} — weights "
                f"must be integral (a fractional weight would silently "
                f"truncate under the long cast: 0.5 -> 0 zeroes the edge "
                f"AND its out-weight, yielding NaN ranks). Scale "
                f"fractional weights to integer units first.")
    w = (F.col(weight) if weight is not None else F.lit(1))
    e = (edges.select("src", "dst", w.cast("long").alias("w"))
              .groupBy("src", "dst").agg(F.sum("w").alias("w")))
    out_w = e.groupBy("src").agg(F.sum("w").alias("out_w"))
    nodes = (e.select(F.col("src").alias("node"))
              .unionByName(e.select(F.col("dst").alias("node")))
              .distinct())
    ew = e.join(out_w.hint("merge"), "src")
    if checkpoint:
        ew = ew.localCheckpoint(eager=True)
        nodes = nodes.localCheckpoint(eager=True)
    n_nodes = nodes.count()
    if n_nodes == 0:
        raise ValueError("pagerank: empty edge relation (no nodes)")
    base = (1.0 - DAMPING) / n_nodes
    ranks = nodes.select("node", F.lit(1.0 / n_nodes).alias("rank"))
    if checkpoint:
        ranks = ranks.localCheckpoint(eager=True)
    for _ in range(n_iter):
        contrib = (ew.join(ranks.withColumnRenamed("node", "src")
                               .hint("merge"), "src")
                     .select("dst", (F.col("rank") * F.col("w")
                                     / F.col("out_w")).alias("c"))
                     .groupBy("dst").agg(F.sum("c").alias("contrib")))
        ranks = (nodes.join(contrib.withColumnRenamed("dst", "node")
                                   .hint("merge"), "node", "left")
                      .select("node",
                              (F.lit(base) + F.lit(DAMPING)
                               * F.coalesce("contrib", F.lit(0.0)))
                              .alias("rank")))
        if checkpoint:
            ranks = ranks.localCheckpoint(eager=True)
    return ranks.select("node", F.col("rank").alias("pagerank"))


def pagerank_oracle_sql(edges_sql: str) -> str:
    """DuckDB mirror: the iteration UNROLLED into a pr0..prK CTE chain.
    ``edges_sql`` must select (src, dst, w). Every float constant carries
    an explicit DOUBLE cast (DuckDB types bare decimal literals DECIMAL,
    whose arithmetic diverges from the IEEE doubles Spark uses)."""
    d = f"CAST({DAMPING!r} AS DOUBLE)"
    base = (f"(CAST(1 AS DOUBLE) - {d}) / (SELECT count(*) FROM nodes)")
    init = "CAST(1 AS DOUBLE) / (SELECT count(*) FROM nodes)"
    ctes = [f"""raw_edges AS ({edges_sql}),
agg_e AS (
  SELECT src, dst, CAST(sum(w) AS BIGINT) AS w FROM raw_edges GROUP BY 1, 2
),
out_w AS (SELECT src, sum(w) AS out_w FROM agg_e GROUP BY src),
nodes AS (SELECT src AS node FROM agg_e UNION SELECT dst FROM agg_e),
pr0 AS (SELECT node, {init} AS rank FROM nodes)"""]
    for i in range(1, N_ITER + 1):
        ctes.append(f"""pr{i} AS (
  SELECT n.node,
         {base} + {d} * coalesce(c.contrib, CAST(0 AS DOUBLE)) AS rank
  FROM nodes n LEFT JOIN (
    SELECT e.dst, sum(p.rank * e.w / o.out_w) AS contrib
    FROM agg_e e
    JOIN pr{i - 1} p ON p.node = e.src
    JOIN out_w o ON o.src = e.src
    GROUP BY e.dst
  ) c ON c.dst = n.node
)""")
    return ("WITH " + ",\n".join(ctes)
            + f"\nSELECT node, rank AS pagerank FROM pr{N_ITER}\n")


# ---------------------------------------------------------------------------
# the ONE undirected-graph universe rule (triangle / k-core / LPA share it):
# loops dropped, NULL endpoints contribute no edge, direction and parallel
# duplicates collapse into canonical a<b pairs
# ---------------------------------------------------------------------------


def _canonical_edges(edges: DataFrame) -> DataFrame:
    return (edges.where(F.col("src").isNotNull() & F.col("dst").isNotNull()
                        & (F.col("src") != F.col("dst")))
                 .select(F.least("src", "dst").alias("a"),
                         F.greatest("src", "dst").alias("b"))
                 .distinct())


def canon_edges_ctes(edges_sql: str, prefix: str,
                     materialized: bool = False,
                     edge_name: str | None = None) -> str:
    """The identical rule as two DuckDB CTEs `{prefix}_raw`/`{edge_name}`
    (a text to place first inside WITH; edge_name defaults to
    `{prefix}_e`). ``materialized`` forces AS MATERIALIZED — required
    whenever downstream CTEs reference their predecessor more than once
    per unrolled round (DuckDB's default CTE inlining is exponential in
    unroll depth — the k_core finding)."""
    m = "MATERIALIZED " if materialized else ""
    edge_name = edge_name or f"{prefix}_e"
    return f"""{prefix}_raw AS {m}({edges_sql}),
{edge_name} AS {m}(
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM {prefix}_raw
  WHERE src IS NOT NULL AND dst IS NOT NULL AND src <> dst
)"""


# ---------------------------------------------------------------------------
# triangle counting (degree-oriented wedge enumeration)
# ---------------------------------------------------------------------------


def triangle_count(edges: DataFrame, cache: bool = True) -> DataFrame:
    """Per-node triangle participation over an undirected simple graph:
    (node, degree, n_tri) for every node with at least one edge. The input
    is an arbitrary edge relation — direction, parallel duplicates, and
    self-loops are normalization noise (canonicalized to distinct a<b
    pairs, loops dropped); rows with a NULL endpoint contribute no edge.
    The global triangle count is sum(n_tri)/3.

    Scale shape (100 TB): the classic degree-oriented enumeration — every
    canonical edge is oriented from its lower-(degree, id) endpoint to the
    higher, so each triangle {x ≺ y ≺ z} is found exactly once, as the
    wedge (x→y, x→z) closed by the canonical edge (y, z). Orientation
    bounds every node's out-degree by O(sqrt(m)) regardless of raw-degree
    skew (the hot node's edges point INTO it), so the wedge self-join —
    the only superlinear step — is O(m^1.5) worst case and skew-defused by
    construction. Every side relation (degrees, oriented edges, closures)
    is corpus-derived → merge-hinted keyed shuffle joins (the session-10
    static-estimate rule; nothing data-sized broadcasts).

    The oracle (``triangle_oracle_sql``) is deliberately a DIFFERENT
    shape — the canonical 3-way a<b join (e1=(x,y), e2=(y,z), e3=(x,z)) —
    so the two engines agree through independent enumeration orders, not a
    mirrored plan.

    ``cache=True`` (default) persists the three multiply-referenced
    relations (canonical edges ×3, degrees ×3, oriented edges ×2):
    projection collapse does NOT share plan subtrees, so without the
    barrier the full edge derivation re-executes once per downstream
    reference (7 SMJs re-deriving the input vs 3 over cached state).
    ``cache=False`` keeps the fully declarative plan (the plan contract
    test's view of the join strategy)."""
    e = _canonical_edges(edges)
    if cache:
        e = e.persist()
    deg = (e.select(F.col("a").alias("node"))
            .unionByName(e.select(F.col("b").alias("node")))
            .groupBy("node").agg(F.count(F.lit(1)).alias("degree")))
    if cache:
        deg = deg.persist()
    ed = (e.join(deg.select(F.col("node").alias("a"),
                            F.col("degree").alias("deg_a")).hint("merge"),
                 "a")
           .join(deg.select(F.col("node").alias("b"),
                            F.col("degree").alias("deg_b")).hint("merge"),
                 "b"))
    # ties orient a→b: a < b by canonicalization, so (deg, id) stays total
    fwd = F.col("deg_a") <= F.col("deg_b")
    oriented = ed.select(
        F.when(fwd, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(fwd, F.col("b")).otherwise(F.col("a")).alias("v"))
    if cache:
        oriented = oriented.persist()
    o1 = oriented.select("u", F.col("v").alias("v1"))
    o2 = oriented.select("u", F.col("v").alias("v2"))
    # v1 < v2 names each unordered wedge once, matching the a<b closure key
    wedges = (o1.join(o2.hint("merge"), "u")
                .where(F.col("v1") < F.col("v2")))
    # closure probe: shuffle_hash, not merge — the wedge side is the
    # superlinear relation (O(m^1.5) rows) and an SMJ would SORT it; the
    # hash build side is the edge relation, edge-sized per partition
    tri = wedges.join(
        e.select(F.col("a").alias("v1"), F.col("b").alias("v2"))
         .hint("shuffle_hash"),
        ["v1", "v2"])
    per_node = (tri.select(F.explode(F.array("u", "v1", "v2")).alias("node"))
                   .groupBy("node").agg(F.count(F.lit(1)).alias("n_tri")))
    return (deg.join(per_node.hint("merge"), "node", "left")
               .select("node", "degree",
                       F.coalesce("n_tri", F.lit(0).cast("long"))
                        .alias("n_tri")))


def triangle_oracle_sql(edges_sql: str) -> str:
    """DuckDB mirror with an INDEPENDENT enumeration shape: canonical a<b
    edges, triangles as the textbook 3-way join (x,y)+(y,z)+(x,z) with
    x<y<z — no degree orientation anywhere. ``edges_sql`` must select
    (src, dst); CTE names are tri_-prefixed (a bare name would collide
    with user table names — the session-13 rule)."""
    return f"""
WITH {canon_edges_ctes(edges_sql, "tri")},
tri_deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS degree
  FROM (SELECT a AS node FROM tri_e UNION ALL SELECT b AS node FROM tri_e)
  GROUP BY node
),
tri_tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM tri_e e1
  JOIN tri_e e2 ON e2.a = e1.b
  JOIN tri_e e3 ON e3.a = e1.a AND e3.b = e2.b
),
tri_per AS (
  SELECT node, CAST(count(*) AS BIGINT) AS n_tri
  FROM (SELECT x AS node FROM tri_tri UNION ALL
        SELECT y FROM tri_tri UNION ALL
        SELECT z FROM tri_tri)
  GROUP BY node
)
SELECT d.node AS node, d.degree AS degree,
       CAST(coalesce(p.n_tri, 0) AS BIGINT) AS n_tri
FROM tri_deg d LEFT JOIN tri_per p ON p.node = d.node
"""


COOC_MAX_BASKET = 1024


def cooccurrence_edges(df: DataFrame, basket_col: str, item_col: str,
                       max_basket: int = COOC_MAX_BASKET) -> DataFrame:
    """Co-occurrence (src, dst) pairs: items sharing a basket are linked
    (s1 < s2 by value, pair INSTANCES preserved — every consumer
    canonicalizes). Baskets with more than ``max_basket`` DISTINCT items
    are EXCLUDED entirely — the basket-module universe rule applied to
    edge derivation: one adversarial mega-basket otherwise explodes into
    C(n, 2) pair rows, the quadratic-hot-key class the attribution join
    defuses with time buckets.

    r6 shape: ONE basket-keyed aggregate (collect_list, the cap on
    size(array_distinct) so duplicate rows don't inflate it) + a double
    explode, replacing the former kept-aggregate → kept-join →
    basket-key SMJ self-join chain — one Exchange instead of three and a
    single derivation of the input projection (measured 1.8 s → 0.6 s at
    1.2M pairs; pair multiset identical, pinned by the raw-join equality
    test). Per-basket buffering is bounded by the cap TIMES row
    multiplicity — the same budget the self-join's quadratic output
    already spent."""
    if max_basket < 2:
        raise ValueError(
            f"cooccurrence_edges: max_basket={max_basket} — baskets "
            f"below 2 items can never form an edge")
    bi = df.select(F.col(basket_col).alias("k"),
                   F.col(item_col).alias("i"))
    g = (bi.groupBy("k").agg(F.collect_list("i").alias("items"))
           .where(F.size(F.array_distinct("items")) <= max_basket))
    return (g.select(F.explode("items").alias("src"), "items")
             .select("src", F.explode("items").alias("dst"))
             .where(F.col("src") < F.col("dst"))
             .select("src", "dst"))


def part_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """"Bought-together" item graph: parts co-occurring in an order are
    linked (the classic co-purchase similarity graph), mega-orders
    excluded by the cooccurrence_edges cap (every TPC-H-shaped order is
    far under it, so gate values are unchanged — the cap exists for
    adversarial/open inputs)."""
    li = (spark.read.parquet(f"{sf_dir}/lineitem.parquet")
               .select("l_orderkey", "l_partkey"))
    return cooccurrence_edges(li, "l_orderkey", "l_partkey")


PART_EDGES_SQL = f"""
  SELECT a.l_partkey AS src, b.l_partkey AS dst
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  WHERE a.l_orderkey IN (
    SELECT l_orderkey FROM lineitem
    GROUP BY l_orderkey
    HAVING count(DISTINCT l_partkey) <= {COOC_MAX_BASKET})"""


def q_part_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle participation in the bought-together part graph — the
    cohesion signal (clustering) item-recommendation pipelines threshold
    on; n_tri/degree pairs let the consumer derive the local clustering
    coefficient exactly."""
    return triangle_count(part_edges(spark, sf_dir))


# ---------------------------------------------------------------------------
# k-core decomposition (iterative peeling)
# ---------------------------------------------------------------------------

KCORE_K = 80            # the driver query's core threshold
KCORE_ORACLE_ROUNDS = 8  # unroll depth; sf0.01 converges in 5 (margin test)


def k_core(edges: DataFrame, k: int) -> DataFrame:
    """Nodes of the k-core — the maximal subgraph where every node keeps
    degree ≥ k — as (node, degree) with the WITHIN-CORE degree. The
    classic dense-community / spam-subgraph screen: peeling is iterative
    (removing a weak node can weaken its neighbors), so this runs to a
    TRUE FIXPOINT like ``dedup.dedup_components`` — per-round
    localCheckpoint keeps the plan one round deep, the round's weak-node
    count doubles as the convergence check, and termination is guaranteed
    (every continuing round removes ≥ 1 node). Input normalization is
    triangle_count's (canonical a<b, loops/NULLs/duplicates drop).

    Scale shape (100 TB): each round is one two-phase degree aggregate +
    two UNHINTED anti-joins against the weak set; the edge relation only
    ever SHRINKS. The anti-joins are deliberately not merge-hinted (r6):
    the weak set derives from the CHECKPOINTED degree relation, whose
    static stats are unknown-huge (a LogicalRDD — not the under-reporting
    post-aggregate estimate the session-10 merge-hint rule guards
    against), so the static plan is always a shuffle join and only AQE's
    runtime shuffle sizes can promote a genuinely small weak set to a
    broadcast (measured 7.1 → 5.1 s at sf0.1). A data-sized weak set
    stays a shuffle join.

    The oracle (``kcore_oracle_sql``) is the peel UNROLLED to a fixed
    depth — exact once the gate data converges within it (the
    fuzzy-decon "exact in its gate regime" pattern, margin pinned by
    test); the operator itself never bounds rounds."""
    if k < 1:
        raise ValueError(f"k_core: k={k} — the smallest sane core is 1")
    e = _canonical_edges(edges).localCheckpoint(eager=True)
    while True:
        deg = (e.select(F.col("a").alias("node"))
                .unionByName(e.select(F.col("b").alias("node")))
                .groupBy("node").agg(F.count(F.lit(1)).alias("degree"))
                .localCheckpoint(eager=True))
        weak = deg.where(F.col("degree") < k)
        if weak.isEmpty():
            return deg
        e = (e.join(weak.select(F.col("node").alias("a")), "a", "left_anti")
              .join(weak.select(F.col("node").alias("b")), "b", "left_anti")
              .localCheckpoint(eager=True))


def kcore_oracle_sql(edges_sql: str, k: int,
                     rounds: int = KCORE_ORACLE_ROUNDS) -> str:
    """DuckDB mirror: the peel unrolled into a kc_e0..kc_eR CTE chain
    (recursive CTEs forbid the per-round degree aggregate). Every CTE is
    AS MATERIALIZED — each round references its predecessor multiple
    times, and DuckDB's default CTE INLINING makes the expression tree
    (hence planning time) exponential in the unroll depth (~4^R; measured
    hung at R=45, instant materialized). Exact iff the data converges
    within ``rounds`` — extra rounds past convergence are no-ops, and
    non-convergence surfaces as a loud value mismatch."""
    ctes = [canon_edges_ctes(edges_sql, "kc", materialized=True,
                             edge_name="kc_e0")]
    for i in range(1, rounds + 1):
        p = i - 1
        ctes.append(f"""kc_d{p} AS MATERIALIZED (
  SELECT node, count(*) AS d
  FROM (SELECT a AS node FROM kc_e{p} UNION ALL SELECT b FROM kc_e{p})
  GROUP BY node
),
kc_e{i} AS MATERIALIZED (
  SELECT a, b FROM kc_e{p}
  WHERE a IN (SELECT node FROM kc_d{p} WHERE d >= {k})
    AND b IN (SELECT node FROM kc_d{p} WHERE d >= {k})
)""")
    return (f"WITH " + ",\n".join(ctes) + f"""
SELECT node, CAST(count(*) AS BIGINT) AS degree
FROM (SELECT a AS node FROM kc_e{rounds}
      UNION ALL SELECT b FROM kc_e{rounds})
GROUP BY node
""")


def q_part_core(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The KCORE_K-core of the bought-together part graph — the densely
    co-purchased item community (converges well inside the oracle's
    unroll depth at sf0.01; margin pinned by test)."""
    return k_core(part_edges(spark, sf_dir), k=KCORE_K)


# ---------------------------------------------------------------------------
# label propagation (synchronous, fixed rounds — community detection)
# ---------------------------------------------------------------------------

LPA_ROUNDS = 3


def label_propagation(edges: DataFrame,
                      n_rounds: int = LPA_ROUNDS) -> DataFrame:
    """Community labels by SYNCHRONOUS label propagation over the
    canonical undirected simple graph (triangle_count normalization):
    labels start as the node ids; each round EVERY node simultaneously
    adopts the most frequent label among its neighbors, ties broken by
    the smallest label. Exactly ``n_rounds`` rounds — a FIXED-ROUND
    definition (like pagerank, unlike k_core's fixpoint), so the result
    is deterministic and the unrolled oracle is exact at ANY scale with
    no convergence caveat. Classic asynchronous LPA is order-dependent
    and unreproducible across engines BY CONSTRUCTION — the synchronous
    min-tie variant is the one definition all three engines can share.

    Scale shape (100 TB): per round one keyed join of the (node, nbr)
    relation against the label relation (merge-hinted, corpus-derived),
    one two-phase (node, label) count, and one per-node arg-max window;
    labels localCheckpoint per round (the loop discipline); the
    direction-doubled edge relation persists once."""
    if n_rounds < 1:
        raise ValueError(f"label_propagation: n_rounds={n_rounds} — "
                         f"need at least one round")
    e = _canonical_edges(edges)
    nbr = (e.select(F.col("a").alias("node"), F.col("b").alias("nbr"))
            .unionByName(
                e.select(F.col("b").alias("node"), F.col("a").alias("nbr")))
            .persist())
    labels = (nbr.select("node").distinct()
                 .select("node", F.col("node").alias("label"))
                 .localCheckpoint(eager=True))
    from pyspark.sql import Window
    w = Window.partitionBy("node").orderBy(F.desc("n"), F.asc("label"))
    for _ in range(n_rounds):
        votes = (nbr.join(labels.select(F.col("node").alias("nbr"),
                                        "label").hint("merge"), "nbr")
                    .groupBy("node", "label")
                    .agg(F.count(F.lit(1)).alias("n")))
        labels = (votes.withColumn("rk", F.row_number().over(w))
                       .where(F.col("rk") == 1)
                       .select("node", "label")
                       .localCheckpoint(eager=True))
    # the returned relation is an EAGER checkpoint — nothing downstream
    # reads nbr, so release its cache entry (unlike triangle_count, whose
    # lazy return still scans the persisted relations)
    nbr.unpersist()
    return labels


def lpa_oracle_sql(edges_sql: str, n_rounds: int = LPA_ROUNDS) -> str:
    """DuckDB mirror: the rounds unrolled as AS MATERIALIZED CTEs (the
    kcore rule — default CTE inlining is exponential in depth), identical
    (count DESC, label ASC) arg-max ordering."""
    ctes = [canon_edges_ctes(edges_sql, "lp", materialized=True) + f""",
lp_nbr AS MATERIALIZED (
  SELECT a AS node, b AS nbr FROM lp_e
  UNION ALL SELECT b AS node, a AS nbr FROM lp_e
),
lp_l0 AS MATERIALIZED (
  SELECT DISTINCT node, node AS label FROM lp_nbr
)"""]
    for i in range(1, n_rounds + 1):
        ctes.append(f"""lp_l{i} AS MATERIALIZED (
  SELECT node, label FROM (
    SELECT nb.node, l.label,
           row_number() OVER (PARTITION BY nb.node
                              ORDER BY count(*) DESC, l.label ASC) AS rk
    FROM lp_nbr nb JOIN lp_l{i - 1} l ON l.node = nb.nbr
    GROUP BY nb.node, l.label
  ) WHERE rk = 1
)""")
    return ("WITH " + ",\n".join(ctes)
            + f"\nSELECT node, label FROM lp_l{n_rounds}\n")


def q_part_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community labels over the bought-together part graph after
    LPA_ROUNDS synchronous rounds."""
    return label_propagation(part_edges(spark, sf_dir))


# ---------------------------------------------------------------------------
# driver contract: registered-domain transition graph from the URL stream
# ---------------------------------------------------------------------------


def domain_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed (src, dst) domain transitions: per user, each event's
    registered domain links from the previous one (ts, event_id order);
    rows whose URL does not parse contribute no edge on either end."""
    from pyspark.sql import Window
    from logstash_filter_geoip_spark.operators import web
    urls = web.url_normalize(web._events_urls(spark, sf_dir))
    win = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = urls.select(
        F.lag("registered_domain").over(win).alias("src"),
        F.col("registered_domain").alias("dst"))
    return seq.where(F.col("src").isNotNull() & F.col("dst").isNotNull())


def q_domain_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pagerank(domain_edges(spark, sf_dir))


def queries():
    return {"domain_pagerank": q_domain_pagerank,
            "part_triangles": q_part_triangles,
            "part_core": q_part_core,
            "part_communities": q_part_communities}


def oracles() -> dict[str, str]:
    from logstash_filter_geoip_spark.operators import web
    regdom = web.registered_domain_sql(
        web.url_part_exprs("url", "duckdb")["host"])
    edges_sql = f"""
  SELECT src, dst, 1 AS w FROM (
    SELECT lag(dom) OVER (PARTITION BY user_id
                          ORDER BY ts, event_id) AS src,
           dom AS dst
    FROM (SELECT event_id, user_id, ts, {regdom} AS dom
          FROM (SELECT event_id, user_id, ts,
                       {web.URL_CASES_SQL} AS url FROM events) u) dm
  ) seq WHERE src IS NOT NULL AND dst IS NOT NULL"""
    return {"domain_pagerank": pagerank_oracle_sql(edges_sql),
            "part_triangles": triangle_oracle_sql(PART_EDGES_SQL),
            "part_core": kcore_oracle_sql(PART_EDGES_SQL, KCORE_K),
            "part_communities": lpa_oracle_sql(PART_EDGES_SQL)}
