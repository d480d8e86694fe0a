"""Network analysis: shortest paths and network catchments by
distributed Bellman-Ford label relaxation.

The road-network / utility-network primitive the spatial joins feed
(snap_points gives the nearest segment; this gives network distance).
:func:`nearest_facility` is multi-source relaxation with facility
allocation; :func:`sssp` is its single-source case.  Per round ONE
join + groupBy relaxes every frontier label, the old label rides
along as a column, and :func:`fixpoint.fixpoint` runs the rounds (one
Spark job each, a WARNING if ``max_iter`` runs out).  Rounds are
bounded by the longest shortest-path HOP count, not |V|:

    d_{k+1}(v) = min(d_k(v), min over edges (u,v,w) of d_k(u) + w)

All weights are exact int64 (quantize meters to decimeters upstream),
so distances are engine-independent integers.

At 100 TB scale this is the plan GraphFrames/Pregel uses: the edge
frame shuffles once per round on dst, the label frame is |V| rows, and
a hub-and-spoke network converges in O(diameter) rounds.  The oracle
is an INDEPENDENT derivation: a capped recursive CTE over (node,
running-dist) pairs whose prune bound provably exceeds every shortest
path, cross-checked against Dijkstra in tests.
"""
from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .fixpoint import fixpoint

_INF = (1 << 62) - 1


def sssp(
    edges: DataFrame,
    source: int,
    u: str = "u",
    v: str = "v",
    w: str = "w",
    directed: bool = False,
    max_iter: int = 64,
) -> DataFrame:
    """Exact integer shortest-path distances from ``source`` over
    ``edges`` (u, v, w int64 >= 0).  Returns (node, dist) for every
    REACHABLE node (unreachable nodes are absent, the sparse
    convention).  Undirected by default (edges traversed both ways).
    The single-source case of :func:`nearest_facility` — its rounds
    run (and are described) as ``nearest_facility``."""
    return nearest_facility(
        edges, [source], u=u, v=v, w=w, directed=directed, max_iter=max_iter
    ).select("node", "dist")


def lattice_edges_sql(n_x: int, n_y: int) -> str:
    """Deterministic integer-weight grid-lattice edge list as SQL (the
    fixture both engines share): nodes (i, j) -> id = j*n_x + i,
    4-neighbor edges, weight 1 + mix(a*73856093 xor b*19349663) % 9
    with a = min(id), b = max(id) so the weight is symmetric."""
    mix = (
        "(1 + (xor(least(a, b) * 73856093, greatest(a, b) * 19349663)"
        " % 4294967296) % 9)"
    )
    return f"""
SELECT a AS u, b AS v, {mix} AS w FROM (
  SELECT j.range * {n_x} + i.range AS a,
         j.range * {n_x} + i.range + 1 AS b
  FROM range({n_x - 1}) i, range({n_y}) j
  UNION ALL
  SELECT j.range * {n_x} + i.range AS a,
         (j.range + 1) * {n_x} + i.range AS b
  FROM range({n_x}) i, range({n_y - 1}) j
)
"""


def lattice_edges(spark, n_x: int, n_y: int) -> DataFrame:
    """The same fixture computed Spark-side (pure codegen, no UDF)."""
    horiz = (
        spark.range(n_x - 1)
        .crossJoin(spark.range(n_y).withColumnRenamed("id", "j"))
        .select(
            (F.col("j") * n_x + F.col("id")).alias("a"),
            (F.col("j") * n_x + F.col("id") + 1).alias("b"),
        )
    )
    vert = (
        spark.range(n_x)
        .crossJoin(spark.range(n_y - 1).withColumnRenamed("id", "j"))
        .select(
            (F.col("j") * n_x + F.col("id")).alias("a"),
            ((F.col("j") + 1) * n_x + F.col("id")).alias("b"),
        )
    )
    e = horiz.union(vert)
    lo = F.least("a", "b")
    hi = F.greatest("a", "b")
    wexpr = 1 + F.pmod(
        F.pmod(
            (lo * F.lit(73856093)).bitwiseXOR(hi * F.lit(19349663)),
            F.lit(4294967296),
        ),
        F.lit(9),
    )
    return e.select(
        F.col("a").alias("u"), F.col("b").alias("v"), wexpr.alias("w")
    )


def sssp_oracle_sql(n_x: int, n_y: int, source: int) -> str:
    """Capped recursive-CTE shortest path (the independent-engine
    derivation): explore (node, running-dist) pairs, prune any path
    whose distance reaches the cap, take min per node.  The cap
    9·((n_x−1)+(n_y−1)) is a PROVABLE upper bound on every lattice
    shortest path (the direct staircase path has ≤ that weight, max
    edge weight 9), so pruning never cuts an optimal path, and it
    bounds the recursion's state space to |V|·cap pairs — cycles
    cannot recurse forever.  (A chained-CTE min-plus unroll is
    exponential under DuckDB 1.0's CTE inlining; this form runs in
    milliseconds.)"""
    cap = 9 * ((n_x - 1) + (n_y - 1)) + 1  # +1: the prune is strict
    return f"""
WITH RECURSIVE e0 AS ({lattice_edges_sql(n_x, n_y)}),
e AS (SELECT u, v, w FROM e0 UNION SELECT v, u, w FROM e0),
sp(node, d) AS (
  SELECT {source}, 0
  UNION
  SELECT e.v, sp.d + e.w FROM sp JOIN e ON e.u = sp.node
  WHERE sp.d + e.w < {cap}
)
SELECT node, CAST(min(d) AS BIGINT) AS dist FROM sp GROUP BY 1
"""


def nearest_facility(
    edges: DataFrame,
    sources: list,
    u: str = "u",
    v: str = "v",
    w: str = "w",
    directed: bool = False,
    max_iter: int = 64,
) -> DataFrame:
    """Multi-source SSSP with facility allocation (network catchment
    assignment): every reachable node gets (dist, fac) = the network
    distance to its nearest facility and that facility's id, ties
    broken by the SMALLEST facility id — deterministic and
    engine-independent.  The label is a lexicographic (dist, fac)
    struct, so ``F.min``/``F.least`` implement the tie-broken min-plus
    algebra natively (struct ordering is lexicographic)."""
    e = edges.select(
        F.col(u).cast("long").alias("u"),
        F.col(v).cast("long").alias("v"),
        F.col(w).cast("long").alias("w"),
    )
    if not directed:
        e = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v"), "w"))
    e = e.distinct().localCheckpoint(eager=False)
    nodes = (
        e.select(F.col("u").alias("node"))
        .union(e.select(F.col("v").alias("node")))
        .distinct()
    )
    srcs = [int(s) for s in sources]
    is_src = F.col("node").isin(srcs)
    lab = nodes.select(
        "node",
        F.struct(
            F.when(is_src, F.lit(0).cast("long"))
            .otherwise(F.lit(_INF))
            .alias("dist"),
            F.when(is_src, F.col("node")).otherwise(F.lit(-1)).alias("fac"),
        ).alias("lb"),
    )

    def step(lab: DataFrame) -> DataFrame:
        relaxed = (
            e.join(
                lab.select(F.col("node").alias("u"), F.col("lb").alias("_lu")),
                "u",
            )
            .where(F.col("_lu.dist") < F.lit(_INF))
            .groupBy(F.col("v").alias("node"))
            .agg(
                F.min(
                    F.struct(
                        (F.col("_lu.dist") + F.col("w")).alias("dist"),
                        F.col("_lu.fac").alias("fac"),
                    )
                ).alias("_cand")
            )
        )
        return lab.join(relaxed, "node", "left").select(
            "node",
            F.least("lb", F.coalesce("_cand", "lb")).alias("lb"),
            F.col("lb").alias("_ol"),
        )

    lab = fixpoint(
        lab, step, F.col("lb") != F.col("_ol"), max_iter, "nearest_facility"
    )
    return lab.where(F.col("lb.dist") < F.lit(_INF)).select(
        "node", F.col("lb.dist").alias("dist"), F.col("lb.fac").alias("fac")
    )


def facility_oracle_sql(n_x: int, n_y: int, sources: list) -> str:
    """Capped recursive CTE seeded at every facility; per node the
    lexicographic (min dist, then min facility id) — the sssp oracle's
    multi-source, tie-broken extension."""
    cap = 9 * ((n_x - 1) + (n_y - 1)) + 1
    seeds = " UNION ALL ".join(
        f"SELECT {int(s)} AS node, 0 AS d, {int(s)} AS fac"
        for s in sources
    )
    return f"""
WITH RECURSIVE e0 AS ({lattice_edges_sql(n_x, n_y)}),
e AS (SELECT u, v, w FROM e0 UNION SELECT v, u, w FROM e0),
sp(node, d, fac) AS (
  {seeds}
  UNION
  SELECT e.v, sp.d + e.w, sp.fac FROM sp JOIN e ON e.u = sp.node
  WHERE sp.d + e.w < {cap}
),
g AS (SELECT node, min(d) AS dist FROM sp GROUP BY 1)
SELECT g.node, CAST(g.dist AS BIGINT) AS dist,
       CAST(min(sp.fac) AS BIGINT) AS fac
FROM g JOIN sp ON sp.node = g.node AND sp.d = g.dist
GROUP BY 1, 2
"""
