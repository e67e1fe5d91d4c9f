"""Graph analytics over the co-purchase graph: triangle counting and
PageRank, both expressed as pure DataFrame joins/aggregations (the same
relational shapes GraphFrames lowers to) — no RDDs, no driver loops over
data, and a DuckDB recursive-CTE oracle for BOTH, including the iterative
PageRank.

Graph: vertices = parts; undirected edge (x, y) iff the two parts appear
in the same order AND share a brand (the brand filter keeps the demo
graph sparse; the operators themselves are brand-agnostic). Edge building
is a lineitem self-join co-partitioned on l_orderkey — per-order fan-out
is bounded by order size (≤ 7 lines ⇒ ≤ 21 pairs), so the expansion is
linear in the fact table at any scale. The part dimension joins broadcast.

Scale posture:
- triangles: node-ordered (x < y < z) enumeration counts each triangle
  exactly once; wedge fan-out is bounded by max same-brand degree. The
  classic further refinement (orient edges low-degree → high-degree) is
  a one-line edge rewrite on top of the same joins.
- pagerank: 8 synchronous power iterations; each is one join + one
  aggregation shuffled on the vertex key. Lineage is localCheckpoint-
  truncated mid-loop exactly like dedup's connected components.
"""

from __future__ import annotations

import warnings

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from collimate_spark.catalog import load_table
from collimate_spark.scratch import scache

_DAMP = 0.85
_ITERS = 8

# Shared SQL prelude: the same-brand co-purchase edge list, x < y.
_EDGES_CTE = """
li AS (SELECT l_orderkey, l_partkey FROM lineitem),
pb AS (SELECT p_partkey, p_brand FROM part),
edges AS (
  SELECT DISTINCT a.l_partkey AS x, b.l_partkey AS y
  FROM li a
  JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  JOIN pb pa ON pa.p_partkey = a.l_partkey
  JOIN pb pbb ON pbb.p_partkey = b.l_partkey
  WHERE pa.p_brand = pbb.p_brand
)
"""


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct same-brand co-purchase part pairs (x < y)."""
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_partkey")
    part = load_table(spark, "part", sf_dir).select("p_partkey", "p_brand")
    a, b = li.alias("a"), li.alias("b")
    pairs = a.join(
        b,
        on=(F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") < F.col("b.l_partkey")),
    ).select(F.col("a.l_partkey").alias("x"), F.col("b.l_partkey").alias("y"))
    pa = F.broadcast(part.withColumnRenamed("p_partkey", "x").withColumnRenamed("p_brand", "bx"))
    pb = F.broadcast(part.withColumnRenamed("p_partkey", "y").withColumnRenamed("p_brand", "by"))
    return (
        pairs.join(pa, "x").join(pb, "y").filter(F.col("bx") == F.col("by")).select("x", "y").distinct()
    )


def triangle_participation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vertex triangle participation counts. Node-ordered listing:
    wedge (x<y, y<z) closed by edge (x, z) finds each triangle once;
    each contributes to all three of its vertices via ONE explode (a
    3-branch union would re-evaluate the wedge join per branch — the
    plan audit caught exactly that). Two self-joins of the (small,
    reduced) edge list — the fact table is touched once, in the edge
    build."""
    e = _copurchase_edges(spark, sf_dir).transform(scache)
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(e2, on=F.col("e1.y") == F.col("e2.x"))
        .join(e3, on=(F.col("e3.x") == F.col("e1.x")) & (F.col("e3.y") == F.col("e2.y")))
        .select(F.col("e1.x").alias("a"), F.col("e1.y").alias("b"), F.col("e2.y").alias("c"))
    )
    verts = tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
    return (
        verts.groupBy("node").agg(F.count(F.lit(1)).alias("n_triangles")).orderBy("node")
    )


TRIANGLE_SQL = f"""
WITH {_EDGES_CTE},
tri AS (
  SELECT e1.x AS a, e1.y AS b, e2.y AS c
  FROM edges e1
  JOIN edges e2 ON e1.y = e2.x
  JOIN edges e3 ON e3.x = e1.x AND e3.y = e2.y
),
verts AS (
  SELECT a AS node FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri
)
SELECT node, COUNT(*) AS n_triangles
FROM verts GROUP BY node ORDER BY node
"""


def pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 0.85, 8 synchronous iterations) on the
    undirected co-purchase graph. Each iteration is ONE join of the rank
    vector with the symmetric edge list + ONE aggregation on the
    destination key: rank' = (1-d)/N + d·Σ rank(u)/deg(u). The rank
    vector is |V| rows — tiny next to the fact table — and lineage is
    checkpoint-truncated every 4 iterations so the loop never grows an
    unbounded plan. Oracled by a DuckDB recursive CTE running the exact
    same recurrence."""
    e = _copurchase_edges(spark, sf_dir)
    sym = e.unionAll(e.select(F.col("y").alias("x"), F.col("x").alias("y"))).transform(scache)
    deg = sym.groupBy("x").agg(F.count(F.lit(1)).alias("deg"))
    edges = sym.join(deg, "x").select(
        F.col("x").alias("src"), F.col("y").alias("dst"), "deg"
    ).transform(scache)
    # an empty graph seeds no ranks, so its divisor is never read; max()
    # keeps 1/N defined and the result is zero rows, like the oracle's
    n_nodes = max(deg.count(), 1)
    ranks = deg.select(F.col("x").alias("node"), F.lit(1.0 / n_nodes).alias("r"))
    for i in range(_ITERS):
        contribs = edges.join(ranks, on=F.col("src") == F.col("node")).select(
            "dst", (F.col("r") / F.col("deg")).alias("c")
        )
        ranks = contribs.groupBy("dst").agg(
            (F.lit((1.0 - _DAMP) / n_nodes) + F.lit(_DAMP) * F.sum("c")).alias("r")
        ).select(F.col("dst").alias("node"), "r")
        if i % 4 == 3:
            ranks = ranks.localCheckpoint(eager=False)
    return ranks.select("node", F.round("r", 6).alias("rank")).orderBy("node")


PAGERANK_SQL = f"""
WITH RECURSIVE {_EDGES_CTE},
sym AS (
  SELECT x AS src, y AS dst FROM edges
  UNION ALL SELECT y, x FROM edges
),
deg AS (SELECT src, CAST(COUNT(*) AS DOUBLE) AS deg FROM sym GROUP BY src),
e AS (SELECT s.src, s.dst, d.deg FROM sym s JOIN deg d ON d.src = s.src),
nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM deg),
pr(iter, node, r) AS (
  SELECT 0, src, 1.0 / (SELECT n FROM nn) FROM deg
  UNION ALL
  SELECT iter + 1, e.dst,
         (1 - {_DAMP}) / (SELECT n FROM nn)
         + {_DAMP} * SUM(pr.r / e.deg)
  FROM pr JOIN e ON pr.node = e.src
  WHERE iter < {_ITERS}
  GROUP BY iter, e.dst
)
SELECT node, ROUND(r, 6) AS rank
FROM pr WHERE iter = {_ITERS}
ORDER BY node
"""


def market_basket_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule mining over orders-as-baskets: for part pairs
    co-purchased in ≥2 orders, emit support, confidence P(y|x) and lift.
    Scale shape: ONE fact scan, ONE shuffle — baskets materialize as
    per-order sorted item SETS (groupBy order key, so dedup rides the
    same aggregation), and the x<y pair stream is generated ROW-LOCALLY
    by a nested-transform expression over each basket (fan-out bounded
    by basket size², never a join). Item marginals and the basket count
    reuse the cached basket frame. This replaces the basket self-join
    formulation (2 extra fact shuffles + 2 extra scans, measured 2×
    slower at sf0.1). The full Apriori generalization iterates this
    same shape per itemset size — the pair pass shown here is the one
    that matters at scale (larger itemsets prune exponentially).

    The item-marginal joins carry no hint: ``item_c`` is |distinct
    items|-sized — catalog-proportional, not constant — so the planner
    picks the strategy (broadcast from the cached frame's statistics or
    AQE's runtime map-output sizes, shuffle joins on the already-reduced
    pair frame beyond the threshold). Caches here are per-query scratch:
    long-lived multi-query sessions should ``clear_scratch()`` between
    queries (see ``operators/__init__`` docstring)."""
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_partkey")
    baskets = (
        li.groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("items"))
        .transform(scache)  # 3 consumers: pair stream, item marginals, n_orders
    )
    n_orders = baskets.count()
    # all x<y pairs within a basket, row-local (items sorted ascending)
    pairs = F.expr(
        "flatten(transform(items, (xi, i) -> "
        "transform(slice(items, i + 2, size(items)), yj -> struct(xi AS x, yj AS y))))"
    )
    pair_c = (
        baskets.select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.x").alias("x"), F.col("p.y").alias("y"))
        .agg(F.count(F.lit(1)).alias("c_xy"))
        .filter(F.col("c_xy") >= 2)
    )
    item_c = (
        baskets.select(F.explode("items").alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("c"))
        .transform(scache)  # read by both marginal joins
    )
    cx = item_c.select(F.col("k").alias("x"), F.col("c").alias("c_x"))
    cy = item_c.select(F.col("k").alias("y"), F.col("c").alias("c_y"))
    return (
        pair_c.join(cx, "x")
        .join(cy, "y")
        .select(
            "x",
            "y",
            "c_xy",
            F.round(F.col("c_xy") / F.col("c_x"), 4).alias("confidence"),
            F.round(
                (F.col("c_xy") / F.col("c_x")) / (F.col("c_y") / F.lit(float(n_orders))), 4
            ).alias("lift"),
        )
        .orderBy(F.desc("c_xy"), "x", "y")
        .limit(100)
    )


MARKET_BASKET_SQL = """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
n AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS DOUBLE) AS n_orders FROM li),
pair_c AS (
  SELECT a.l_partkey AS x, b.l_partkey AS y, COUNT(*) AS c_xy
  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
  HAVING COUNT(*) >= 2
),
item_c AS (SELECT l_partkey AS k, COUNT(*) AS c FROM li GROUP BY 1)
SELECT x, y, c_xy,
       ROUND(c_xy * 1.0 / cx.c, 4) AS confidence,
       ROUND((c_xy * 1.0 / cx.c) / (cy.c / n_orders), 4) AS lift
FROM pair_c
JOIN item_c cx ON cx.k = x
JOIN item_c cy ON cy.k = y, n
ORDER BY c_xy DESC, x, y
LIMIT 100
"""


BFS_SOURCE = 1  # source part key
BFS_MAX_HOPS = 4


def bfs_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-source BFS hop distances (≤ BFS_MAX_HOPS) over the
    undirected co-purchase graph — synchronous frontier expansion: each
    round joins the CURRENT frontier to the edge list, anti-joins the
    visited set, unions, localCheckpoints (lineage truncation, same
    device as connected components / PageRank). Work per round is
    |frontier|·avg-degree — the textbook distributed BFS; rounds =
    graph diameter bound, each one join + one distinct shuffle.
    Oracle: DuckDB recursive CTE computing min-hops with the same hop
    cap — the declarative twin of the iterative plan."""
    e = _copurchase_edges(spark, sf_dir)
    edges = e.select("x", "y").unionAll(e.select(F.col("y").alias("x"), F.col("x").alias("y")))
    visited = spark.createDataFrame([(BFS_SOURCE, 0)], "node: long, dist: int")
    frontier = visited
    for hop in range(1, BFS_MAX_HOPS + 1):
        neighbors = (
            frontier.join(edges, frontier["node"] == edges["x"])
            .select(F.col("y").alias("node"))
            .distinct()
            .join(visited.select("node"), "node", "left_anti")
            .withColumn("dist", F.lit(hop))
        )
        neighbors = neighbors.localCheckpoint(eager=True)
        if neighbors.isEmpty():
            break
        visited = visited.unionAll(neighbors).localCheckpoint(eager=True)
        frontier = neighbors
    return visited.orderBy("node")


BFS_SQL = f"""
WITH RECURSIVE {_EDGES_CTE},
sym AS (SELECT x, y FROM edges UNION ALL SELECT y, x FROM edges),
bfs(node, dist) AS (
  SELECT CAST({BFS_SOURCE} AS BIGINT) AS node, 0 AS dist
  UNION
  SELECT s.y, b.dist + 1
  FROM bfs b JOIN sym s ON s.x = b.node
  WHERE b.dist < {BFS_MAX_HOPS}
)
SELECT node, MIN(dist) AS dist
FROM bfs
GROUP BY node
ORDER BY node
"""


# ---------------------------------------------------------------------------
# k-core decomposition (iterative peeling to fixpoint)

KCORE_K = 3
KCORE_MAX_ROUNDS = 20


def _survivor_edges(sym: DataFrame, alive: DataFrame) -> DataFrame:
    """Edges with BOTH endpoints in the survivor set (two left-semi
    joins; the planner picks broadcast or shuffle per round)."""
    return sym.join(alive, "x", "left_semi").join(
        alive.withColumnRenamed("x", "y"), "y", "left_semi"
    )


def kcore_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 3-core of the co-purchase graph: iteratively peel every
    vertex of degree < k until nothing changes — the standard density
    filter (a vertex survives only if it keeps ≥ k neighbors AMONG
    SURVIVORS, which no single degree computation can decide; hence the
    fixpoint loop). Emits surviving vertices with their within-core
    degree.

    Scale: the symmetric edge list materializes once (columnar cache);
    each round semi-joins it against the SURVIVOR VERTEX SET and
    re-aggregates degrees — per-round state is |V| longs, never a second
    edge materialization, and lineage stays flat. The driver-side
    per-round survivor count is bounded metadata (one long), and the
    peeling depth is ≤ the graph's degeneracy ordering length — tiny for
    near-clique co-purchase graphs, capped at KCORE_MAX_ROUNDS with a
    fixpoint break (a cap hit without convergence warns — a truncated
    non-k-core result must not pass silently). The survivor-set semi
    joins carry no hint: the planner broadcasts the checkpointed set
    while it fits under spark.sql.autoBroadcastJoinThreshold and
    shuffles beyond it — same shape, no broadcast ceiling at 100 TB
    vertex cardinalities. Oracled by BOUNDED UNROLLING
    (``KCORE_SQL``): peeling is not monotone, so a recursive CTE can't
    express it, but the round cap makes it finite — KCORE_MAX_ROUNDS
    chained CTEs, each one peel step; post-fixpoint rounds are no-ops,
    so the unrolled result equals the early-breaking loop exactly.
    Tests additionally verify against pure-Python peeling on the
    collected edge list, and against a run with broadcast disabled."""
    e = _copurchase_edges(spark, sf_dir)
    # the edge list materializes ONCE; every round iterates only the
    # (vertex-sized) survivor set against it — never re-materializing
    # edges (the naive per-round edge checkpoint doubled the build cost via
    # the RDD round-trip; keep's PER-ROUND localCheckpoint is
    # load-bearing — cache-only vertex sets grow the analysis tree
    # exponentially, measured 92s/round by round 6)
    sym = e.unionByName(
        e.select(F.col("y").alias("x"), F.col("x").alias("y"))
    ).transform(scache)  # columnar cache: localCheckpoint's RDD round-trip costs 2×
    alive = sym.select("x").distinct().localCheckpoint()
    n_prev = alive.count()  # bounded metadata: one long per round
    converged = False
    for _ in range(KCORE_MAX_ROUNDS):
        keep = (
            _survivor_edges(sym, alive)
            .groupBy("x")
            .agg(F.count(F.lit(1)).alias("d"))
            .filter(F.col("d") >= KCORE_K)
            .select("x")
            .localCheckpoint()
        )
        n_now = keep.count()
        alive = keep
        if n_now == n_prev:
            converged = True
            break
        n_prev = n_now
    if not converged:
        warnings.warn(
            f"kcore_membership hit KCORE_MAX_ROUNDS={KCORE_MAX_ROUNDS} before "
            "fixpoint; result may contain vertices below the k-core degree "
            "(raise KCORE_MAX_ROUNDS for deep/chain-like graphs)",
            RuntimeWarning,
            stacklevel=2,
        )
    return (
        _survivor_edges(sym, alive)
        .groupBy(F.col("x").alias("node"))
        .agg(F.count(F.lit(1)).alias("core_degree"))
        .orderBy("node")
    )


def _kcore_sql() -> str:
    """DuckDB oracle for ``kcore_membership`` by bounded unrolling: the
    peeling loop is capped at KCORE_MAX_ROUNDS, so it unrolls into that
    many chained aggregate CTEs (alive_i = vertices of alive_{i-1} with
    ≥ k surviving neighbors). Rounds past the fixpoint are identity, so
    alive_N equals whatever round the Spark loop broke on."""
    # AS MATERIALIZED is load-bearing: each round references the previous
    # round twice, so inlined CTEs would expand the plan 2^rounds-fold
    # (DuckDB actually exhausts file handles re-scanning the parquet);
    # materialization makes evaluation linear in the round count.
    steps = ["alive0 AS MATERIALIZED (SELECT DISTINCT x FROM sym)"]
    for i in range(1, KCORE_MAX_ROUNDS + 1):
        steps.append(
            f"alive{i} AS MATERIALIZED (\n"
            f"  SELECT s.x FROM sym s\n"
            f"  JOIN alive{i - 1} a ON a.x = s.x\n"
            f"  JOIN alive{i - 1} b ON b.x = s.y\n"
            f"  GROUP BY s.x HAVING COUNT(*) >= {KCORE_K}\n"
            ")"
        )
    last = f"alive{KCORE_MAX_ROUNDS}"
    return (
        f"WITH {_EDGES_CTE},\n"
        "sym AS MATERIALIZED (SELECT x, y FROM edges UNION ALL SELECT y, x FROM edges),\n"
        + ",\n".join(steps)
        + f"""
SELECT s.x AS node, COUNT(*) AS core_degree
FROM sym s
JOIN {last} a ON a.x = s.x
JOIN {last} b ON b.x = s.y
GROUP BY s.x
ORDER BY node
"""
    )


KCORE_SQL = _kcore_sql()


def degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the co-purchase graph: Pearson r between
    the endpoint degrees over all (symmetric) edges — positive means
    hubs link to hubs (assortative mixing), negative means hub-leaf
    structure. One number that characterizes the whole topology, from
    one degree aggregation + two broadcast joins + one corr fold —
    every step keyed or dimension-sized, no iteration. The edge list
    and the degree table are cached: uncached, every reference to sym /
    deg re-executed the whole lineitem self-join edge build (the plan
    audit showed 24 FileScans; caching cuts the build to one — the same
    fix triangle_participation got in round 3)."""
    e = _copurchase_edges(spark, sf_dir).transform(scache)
    sym = e.unionByName(e.select(F.col("y").alias("x"), F.col("x").alias("y")))
    deg = sym.groupBy("x").agg(F.count(F.lit(1)).alias("d")).transform(scache)
    dx = F.broadcast(deg.select(F.col("x"), F.col("d").alias("dx")))
    dy = F.broadcast(deg.select(F.col("x").alias("y"), F.col("d").alias("dy")))
    return sym.join(dx, "x").join(dy, "y").agg(
        F.count(F.lit(1)).alias("n_directed_edges"),
        F.round(F.corr("dx", "dy"), 4).alias("assortativity"),
        F.round(F.avg("dx"), 4).alias("avg_degree"),
    )


ASSORTATIVITY_SQL = f"""
WITH {_EDGES_CTE},
sym AS (
  SELECT x, y FROM edges
  UNION ALL SELECT y, x FROM edges
),
deg AS (SELECT x, COUNT(*) AS d FROM sym GROUP BY x)
SELECT COUNT(*) AS n_directed_edges,
       ROUND(CORR(a.d, b.d), 4) AS assortativity,
       ROUND(AVG(a.d), 4) AS avg_degree
FROM sym s
JOIN deg a ON a.x = s.x
JOIN deg b ON b.x = s.y
"""


QUERIES = {
    "triangle_participation": triangle_participation,
    "pagerank_copurchase": pagerank_copurchase,
    "market_basket_rules": market_basket_rules,
    "bfs_distances": bfs_distances,
    "kcore_membership": kcore_membership,
    "degree_assortativity": degree_assortativity,
}

ORACLES = {
    "degree_assortativity": ASSORTATIVITY_SQL,
    "triangle_participation": TRIANGLE_SQL,
    "pagerank_copurchase": PAGERANK_SQL,
    "market_basket_rules": MARKET_BASKET_SQL,
    "bfs_distances": BFS_SQL,
    "kcore_membership": KCORE_SQL,
}
