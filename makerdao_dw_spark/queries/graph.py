"""Graph traversal queries: bounded BFS over a data-derived edge list.

The reference's warehouse implies graph-shaped questions (funds flowing
between contracts/addresses) but ships none; BFS is the missing
traversal primitive next to the connected-components operator used by
near-dup clustering (operators/graph.py). The edge list here is a
market-basket co-occurrence graph built from `lineitem` — two parts are
adjacent when some order contains both — which is real analytics
structure, not a synthetic grid.

Oracle: DuckDB recursive CTE (`WITH RECURSIVE walk(...)`) — a fully
independent implementation of the same bounded-shortest-hop semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.graph import bfs_distances
from ..session import load_table
from .registry import query

_BFS_ORACLE = """
WITH RECURSIVE edges AS (
  SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
  FROM lineitem a
  JOIN lineitem b ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
), walk(node, dist) AS (
  SELECT (SELECT MIN(l_partkey) FROM lineitem), 0
  UNION
  SELECT e.dst, w.dist + 1
  FROM walk w JOIN edges e ON e.src = w.node
  WHERE w.dist < 3
)
SELECT node AS part, CAST(MIN(dist) AS INT) AS dist
FROM walk GROUP BY node ORDER BY part
"""


@query("bfs_part_cooccurrence", oracle=_BFS_ORACLE, tags=("graph", "bfs", "iterative"))
def bfs_part_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop distance (<= 3) from the lowest part key through the
    co-purchase graph: frontier-expansion BFS (one join + one anti-join
    per level, driver-side loop only — operators/graph.py).

    Edge build (r11, guide §2.2 — shuffle fewer bytes): one groupBy
    shuffle of lineitem into per-order part sets + a double explode,
    instead of the self-join on l_orderkey that shuffled lineitem TWICE
    and then paid the join. Per-order arrays are bounded (TPC-H orders
    have <= 7 lines), the pair set is identical (verified element-wise:
    collect_set drops NULL part keys exactly like the a<>b filter did,
    and the trailing distinct makes element order irrelevant), and the
    oracle keeps the join formulation. Measured warm at sf0.1:
    4.4 s -> 2.5 s to the checkpointed edge list."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    edges = (
        li.groupBy("l_orderkey")
        .agg(F.collect_set("l_partkey").alias("ps"))
        .filter(F.size("ps") > 1)
        .select(F.explode("ps").alias("src"), "ps")
        .select("src", F.explode("ps").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    source = li.agg(F.min("l_partkey").alias("node"))
    return (
        bfs_distances(edges, source, max_hops=3)
        .select(F.col("node").alias("part"), "dist")
        .orderBy("part")
    )


# --------------------------------------------------------------------------
# Triangle counting (graph clustering structure)
# --------------------------------------------------------------------------
@query(
    "graph_triangle_counts",
    oracle="""
WITH li AS (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem WHERE l_partkey % 10 = 0
), e AS (
    SELECT DISTINCT a.l_partkey AS s, b.l_partkey AS t
    FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
), tri AS (
    SELECT e1.s AS x, e1.t AS y, e2.t AS z
    FROM e e1
    JOIN e e2 ON e2.s = e1.t
    JOIN e e3 ON e3.s = e1.s AND e3.t = e2.t
), corners AS (
    SELECT x AS node FROM tri UNION ALL SELECT y FROM tri UNION ALL SELECT z FROM tri
)
SELECT node, COUNT(*) AS n_triangles
FROM corners GROUP BY node ORDER BY n_triangles DESC, node LIMIT 50
""",
    tags=("graph", "triangles"),
)
def graph_triangle_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle participation in the co-purchase graph
    (thinned to partkey % 10 to keep the demo subgraph honest): the
    canonical edge-orientation algorithm — orient every edge s<t, then
    triangles are the closure join e1(s,t) ⋈ e2(t,z) ⋈ e3(s,z), which
    counts each triangle exactly once.

    100 TB notes: orientation (degree- or id-based) is THE trick —
    un-oriented triangle joins count each triangle 6x and explode on
    high-degree nodes. The two joins shuffle on node keys; the standard
    production refinement (orient by DEGREE, so high-degree nodes get
    low out-degree) drops the worst-case join fan-out to O(m^1.5)."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_partkey") % 10 == 0)
        .select("l_orderkey", "l_partkey")
    )
    # one-shuffle oriented edge build (r11, the bfs_part_cooccurrence
    # rewrite; orientation via the src < dst filter on exploded pairs)
    e = (
        li.groupBy("l_orderkey")
        .agg(F.collect_set("l_partkey").alias("ps"))
        .filter(F.size("ps") > 1)
        .select(F.explode("ps").alias("s"), "ps")
        .select("s", F.explode("ps").alias("t"))
        .filter(F.col("s") < F.col("t"))
        .select("s", "t")
        .distinct()
    )
    # the edge set feeds THREE join arms: materialize it once (lineage
    # cut, reliable-checkpoint-aware) instead of relying on partial AQE
    # exchange reuse across the replicated subtrees
    from ..operators.graph import _cut_lineage

    e = _cut_lineage(e)
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(e2, F.col("e2.s") == F.col("e1.t"))
        .join(e3, (F.col("e3.s") == F.col("e1.s")) & (F.col("e3.t") == F.col("e2.t")))
        .select(F.col("e1.s").alias("x"), F.col("e1.t").alias("y"), F.col("e2.t").alias("z"))
    )
    corners = (
        tri.select(F.col("x").alias("node"))
        .unionAll(tri.select(F.col("y").alias("node")))
        .unionAll(tri.select(F.col("z").alias("node")))
    )
    return (
        corners.groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
        .orderBy(F.col("n_triangles").desc(), "node")
        .limit(50)
    )


# --------------------------------------------------------------------------
# PageRank (fixed-iteration power method, exact cross-engine recurrence)
# --------------------------------------------------------------------------
_PR_ITERS = 3


def _pagerank_oracle(iters: int) -> str:
    """Unrolled power iteration: DuckDB recursive CTEs forbid aggregates
    in the recursive term, so K iterations are generated as chained CTEs
    r0 -> r1 -> ... -> rK, each applying the EXACT recurrence of
    operators.graph.pagerank (round-12 contributions summed as
    DECIMAL(38,12), round-12 rank update)."""
    head = """
WITH li AS (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem WHERE l_partkey % 10 = 0
), e AS (
    SELECT a.l_partkey AS src, b.l_partkey AS dst
    FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    GROUP BY 1, 2
), deg AS (
    SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src
), nodes AS (
    SELECT src AS node FROM e UNION SELECT dst FROM e
), nn AS (
    SELECT COUNT(*) AS n FROM nodes
), r0 AS (
    SELECT node, ROUND(1.0 / (SELECT n FROM nn), 12) AS rank FROM nodes
)"""
    steps = []
    for k in range(iters):
        steps.append(f""", r{k + 1} AS (
    SELECT nd.node,
           -- CAST(1 AS DOUBLE) - 0.85: the bare (1 - 0.85) is an exact
           -- DECIMAL 0.15 whose double cast differs by 1 ulp from the
           -- engine-side double subtraction Spark/Python perform
           ROUND((CAST(1 AS DOUBLE) - 0.85) / (SELECT n FROM nn)
                 + 0.85 * COALESCE(CAST(s.sm AS DOUBLE), 0.0), 12) AS rank
    FROM nodes nd LEFT JOIN (
        SELECT e.dst, SUM(CAST(ROUND(r.rank / d.outdeg, 12) AS DECIMAL(38,12))) AS sm
        FROM e JOIN deg d ON e.src = d.src JOIN r{k} r ON r.node = e.src
        GROUP BY e.dst
    ) s ON s.dst = nd.node
)""")
    return (
        head
        + "".join(steps)
        + f"\nSELECT node AS part, rank AS pagerank FROM r{iters} ORDER BY pagerank DESC, part LIMIT 100\n"
    )


@query(
    "pagerank_copurchase",
    oracle=_pagerank_oracle(_PR_ITERS),
    tags=("graph", "pagerank", "iterative"),
)
def pagerank_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the (symmetrized) part co-purchase
    graph, 3 power iterations — the 'which items anchor the catalog'
    signal. Exactly value-checked against a DuckDB unrolled-CTE twin:
    the recurrence rounds every per-edge contribution to 12 decimals
    and sums in DECIMAL(38,12), so both engines walk bit-identical
    doubles (operators/graph.py::pagerank).

    100 TB shape: per iteration one rank⋈edges hash join plus one
    dst-keyed aggregation, uniform node keys, driver sees only the node
    count; lineage cut per round, reliable-checkpoint-aware."""
    from ..operators.graph import pagerank

    li = (
        load_table(spark, sf_dir, "lineitem")
        .filter(F.col("l_partkey") % 10 == 0)
        .select("l_orderkey", "l_partkey")
    )
    # one-shuffle edge build (r11, the bfs_part_cooccurrence rewrite):
    # per-order part-set arrays + double explode replace the self-join
    # that shuffled the (filtered) fact table twice; identical pair set
    # (collect_set dedups per order and drops NULLs like the <> filter;
    # the trailing distinct ignores element order)
    edges = (
        li.groupBy("l_orderkey")
        .agg(F.collect_set("l_partkey").alias("ps"))
        .filter(F.size("ps") > 1)
        .select(F.explode("ps").alias("src"), "ps")
        .select("src", F.explode("ps").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    return (
        pagerank(edges, iterations=_PR_ITERS)
        .select(F.col("node").alias("part"), F.col("rank").alias("pagerank"))
        .orderBy(F.col("pagerank").desc(), "part")
        .limit(100)
    )
