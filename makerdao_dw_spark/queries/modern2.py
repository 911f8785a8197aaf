"""Modern SQL surface, wave 2: native recursive CTEs (Spark 4's
UnionLoop), error-safe `try_*` arithmetic (ANSI mode without the
blast radius), and the GROUP BY ALL / lateral-column-alias sugar.

The reference ships PostgreSQL-dialect SQL and leans on its external
warehouse for all of this (`queries/makerdao/assets_per_type.sql` is
plain CTE chaining, but PostgreSQL offers WITH RECURSIVE and NULL-safe
division to the same analysts); a Spark replacement has to provide the
same affordances natively — and since Spark 4 runs ANSI mode by
default, the `try_*` family is what keeps 100 TB jobs from dying at
hour three on one malformed row.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F  # noqa: F401  (kept for parity with sibling modules)

from ..session import (
    clone_with,
    input_partitions,
    load_table,
    materialize_lazy,
    share_view,
    stage,
)
from .registry import query


# --------------------------------------------------------------------------
# Native recursive CTE: multi-seed reachability over a co-purchase DAG
# --------------------------------------------------------------------------
_REACH_EDGES_SQL = """
WITH two AS (
  SELECT l_orderkey FROM {lineitem} GROUP BY l_orderkey HAVING COUNT(*) = 2
)
SELECT MIN(l_partkey) AS src, MAX(l_partkey) AS dst
FROM {lineitem} JOIN two USING (l_orderkey)
GROUP BY l_orderkey
HAVING MIN(l_partkey) <> MAX(l_partkey)
"""

_REACH_LOOP_SQL = """
WITH RECURSIVE reach(node, depth) AS (
  SELECT DISTINCT src AS node, 0 AS depth FROM {edges} WHERE src < 100
  UNION ALL
  SELECT e.dst, r.depth + 1
  FROM reach r JOIN {edges} e ON e.src = r.node
  WHERE r.depth < 6
)
SELECT node, MIN(depth) AS min_depth, COUNT(*) AS n_paths
FROM reach
GROUP BY node
ORDER BY node
"""

# the oracle keeps the whole thing as ONE recursive statement (DuckDB
# materializes CTEs by default, so `edges` runs once there)
_REACH_SQL = """
WITH RECURSIVE two AS (
  SELECT l_orderkey FROM {lineitem} GROUP BY l_orderkey HAVING COUNT(*) = 2
),
edges AS (
  SELECT MIN(l_partkey) AS src, MAX(l_partkey) AS dst
  FROM {lineitem} JOIN two USING (l_orderkey)
  GROUP BY l_orderkey
  HAVING MIN(l_partkey) <> MAX(l_partkey)
),
reach(node, depth) AS (
  SELECT DISTINCT src AS node, 0 AS depth FROM edges WHERE src < 100
  UNION ALL
  SELECT e.dst, r.depth + 1
  FROM reach r JOIN edges e ON e.src = r.node
  WHERE r.depth < 6
)
SELECT node, MIN(depth) AS min_depth, COUNT(*) AS n_paths
FROM reach
GROUP BY node
ORDER BY node
"""


@query(
    "recursive_cte_reachability",
    oracle=_REACH_SQL.format(lineitem="lineitem"),
    tags=("recursive-cte", "graph", "iteration"),
)
def recursive_cte_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reachability (min hop depth + path count) from all low-keyed
    parts through a co-purchase DAG — written as a NATIVE `WITH
    RECURSIVE` on both engines. Complements `bfs_part_cooccurrence`,
    which drives the same iteration from Python (operators/graph.py):
    here the engine owns the loop (Spark 4's UnionLoop operator), so
    the plan itself is iterative — the form analysts migrating
    PostgreSQL recursive queries will actually write.

    Edges come from 2-line orders as (min part → max part), which
    makes the graph a DAG (src < dst always), so UNION ALL recursion
    terminates without distinct-dedup — Spark's recursion does not
    support UNION distinct yet, and the depth guard bounds path
    enumeration regardless. Scale note: each iteration is one
    hash-join of the frontier against the (dimension-sized) edge
    relation; the explicit `CAST(0 AS INT)`-free anchor works because
    both src and the literal share types after the GROUP BY — the
    anchor and step must type-merge exactly or UnionLoop refuses.

    r11: the edge list is MATERIALIZED before the loop. Spark inlines
    non-recursive CTEs, so `edges` written inside the recursive
    statement lands in UnionLoop's step plan and the whole derivation
    (two lineitem scans + two aggregations + a join) re-executed on
    EVERY iteration — 7 depths re-scanned lineitem ~14x (guide §1.2:
    don't recompute what you throw away; plans/r11/
    recursive_cte_reachability_before.txt shows LogicalRelation inside
    the loop body). Deriving edges once (same SQL), persisting the
    edge-sized result LAZILY (materialize_lazy — the loop's anchor
    builds the cache, every later iteration reads it; an eager count
    would pay one extra derivation) and recursing over the cached view
    leaves one hash join per iteration; results are row-identical.
    UnionLoop re-plans the step each iteration through the
    CacheManager, so the substitution is a runtime effect (the static
    explain still prints the logical step subtree). DuckDB
    materializes CTEs by default, so the oracle is unchanged.
    """
    edges = materialize_lazy(
        spark.sql(_REACH_EDGES_SQL, lineitem=load_table(spark, sf_dir, "lineitem"))
    )
    # r11 loop-execution confs (guide §1.2/§2): with AQE on, EVERY
    # UnionLoop iteration pays adaptive stage-materialization barriers
    # + re-optimization on a frontier-sized step — measured 2x the
    # whole query at sf0.1 (loop 9.3 s -> 3.9 s with AQE off and the
    # loop exchanges statically sized from the input, floor 8). Results
    # are plan-independent.
    #
    # The confs must hold at execution time and the loop frame is lazy,
    # so the loop runs HERE, on a clone of the session that carries them
    # (session.clone_with): another thread's entry re-asserting the
    # engine's confs on `spark` cannot turn AQE back on under the loop,
    # and the caller's confs are never written. stage() executes it — a
    # hard lineage cut to a node-cardinality parquet (the house
    # iterative-query idiom) — and reads the result back on `spark`.
    loop = clone_with(spark, {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.shuffle.partitions": str(input_partitions(spark, sf_dir, "lineitem", floor=8)),
    })
    # A named view, not a spark.sql argument: the argument's view is
    # dropped right after analysis, and dropping a view uncaches the
    # persisted frame behind it before the loop reads it. A global view,
    # so the clone sees it; the uuid keeps concurrent invocations apart.
    # It is dropped once stage() has run the loop.
    edges_view = f"_rec_edges_{uuid.uuid4().hex}"
    try:
        loop_sql = _REACH_LOOP_SQL.format(edges=share_view(edges, edges_view))
        return stage(loop.sql(loop_sql), "rec_reach", spark)
    finally:
        spark.catalog.dropGlobalTempView(edges_view)


# --------------------------------------------------------------------------
# Error-safe arithmetic: the try_* family under default ANSI mode
# --------------------------------------------------------------------------
@query(
    "try_arithmetic_battery",
    oracle="""
SELECT o_orderkey,
       CASE WHEN o_orderkey % 7 = 0 THEN NULL
            ELSE ROUND(o_totalprice / CAST(o_orderkey % 7 AS DOUBLE), 6) END AS safe_ratio,
       TRY_CAST(o_orderstatus AS INT) AS status_as_int,
       list_extract(string_split(o_orderpriority, '-'), 3) AS third_token,
       TRY_CAST(substr(o_orderpriority, 1, 1) AS INT) AS priority_digit
FROM orders
WHERE o_orderkey % 100 < 5
ORDER BY o_orderkey
""",
    tags=("try-functions", "ansi", "error-safe"),
)
def try_arithmetic_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The `try_*` battery: division by a data-dependent zero, casts
    that fail for every row, out-of-bounds array access, and a cast
    that succeeds — each returning NULL instead of killing the job.

    Spark 4 defaults to ANSI mode, where plain `/ 0` and bad casts
    THROW; `try_divide`/`try_cast`/`try_element_at` are the sanctioned
    row-level escape hatches (vs disabling ANSI globally, which hides
    real corruption). The DuckDB oracle spells the same semantics with
    TRY_CAST / CASE guards / list_extract's NULL-on-OOB. All map-side
    expressions — the battery adds zero exchanges to the scan.
    """
    return spark.sql(
        """
        SELECT o_orderkey,
               ROUND(try_divide(o_totalprice, CAST(o_orderkey % 7 AS DOUBLE)), 6) AS safe_ratio,
               try_cast(o_orderstatus AS INT) AS status_as_int,
               try_element_at(split(o_orderpriority, '-'), 3) AS third_token,
               try_cast(substr(o_orderpriority, 1, 1) AS INT) AS priority_digit
        FROM {orders}
        WHERE o_orderkey % 100 < 5
        ORDER BY o_orderkey
        """,
        orders=load_table(spark, sf_dir, "orders"),
    )


# --------------------------------------------------------------------------
# GROUP BY ALL + lateral column aliases (modern SQL sugar, same plan)
# --------------------------------------------------------------------------
@query(
    "groupby_all_lateral_alias",
    oracle="""
SELECT l_returnflag, l_linestatus,
       SUM(CAST(gross AS DECIMAL(38,6))) AS sum_gross,
       SUM(CAST(net AS DECIMAL(38,6))) AS sum_net,
       COUNT(*) AS n_lines
FROM (
  SELECT l_returnflag, l_linestatus,
         l_extendedprice * (1 - l_discount) AS net,
         net * (1 + l_tax) AS gross
  FROM lineitem
)
GROUP BY ALL
ORDER BY l_returnflag, l_linestatus
""",
    tags=("sugar", "group-by-all", "lateral-alias"),
)
def groupby_all_lateral_alias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ALL over a projection whose `gross` column references
    the sibling alias `net` defined in the SAME select list (lateral
    column alias) — two pieces of modern SQL sugar that both engines
    resolve to the ordinary Q1-style aggregate. The value check proves
    the alias chain evaluates in order (net first, then gross) with
    identical double math before the per-row decimal cast.
    """
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               SUM(CAST(gross AS DECIMAL(38,6))) AS sum_gross,
               SUM(CAST(net AS DECIMAL(38,6))) AS sum_net,
               COUNT(*) AS n_lines
        FROM (
          SELECT l_returnflag, l_linestatus,
                 l_extendedprice * (1 - l_discount) AS net,
                 net * (1 + l_tax) AS gross
          FROM {lineitem}
        )
        GROUP BY ALL
        ORDER BY l_returnflag, l_linestatus
        """,
        lineitem=load_table(spark, sf_dir, "lineitem"),
    )
