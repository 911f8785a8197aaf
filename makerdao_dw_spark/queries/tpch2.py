"""Classic warehouse join/agg shapes, wave 2 (TPC-H Q5/Q10/Q14/Q19
analogues over the driver's star schema).

Why these four: each exercises a DISTINCT physical plan pattern the
reference's warehouse (PostgreSQL/Snowflake executing
`queries/makerdao/assets_per_type.sql`) would rely on its external
engine for, and that a 100 TB Spark deployment must get right:

- Q5  — 6-way snowflake join with a cycle (customer.nation == supplier
  .nation): dimension broadcasts + one fact-fact shuffle join.
- Q10 — fact-side filter + grouped top-k: TakeOrderedAndProject, never
  a global sort.
- Q14 — conditional aggregation over one joined scan (no self-join).
- Q19 — disjunctive OR-of-ANDs join residual: the join key stays an
  equi-join on partkey; only the residual predicate is disjunctive.
  (A naive engine turns this into a cross product; Catalyst keeps the
  hash join and evaluates the OR as a post-join filter, and pushes the
  single-table conjuncts below the join.)

Determinism contract (driver hash-compare): money math is cast to
DECIMAL(38,6) per row BEFORE SUM so aggregation order can't flip low
bits; ratios are derived from the exact decimal sums with one double
division + ROUND at the end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import load_table
from .registry import query
from .tpch_common import REV


_REV = REV  # single definition: tpch_common.py


# --------------------------------------------------------------------------
# Q5 shape: local-supplier volume (snowflake join with nation cycle)
# --------------------------------------------------------------------------
@query(
    "q5_local_supplier_volume",
    oracle=f"""
SELECT n_name, SUM({_REV}) AS revenue
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name
""",
    tags=("join", "tpch-shape", "snowflake"),
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 analogue: revenue by supplier nation where the supplier
    is in the customer's own nation, one region, two order-years.

    Scale shape: region/nation/supplier/customer broadcast (all are
    dimension-sized at any SF — supplier/customer grow but stay orders
    of magnitude below lineitem); orders⋈lineitem is the only shuffle
    join. The nation-equality cycle (c_nationkey = s_nationkey) arrives
    as a residual on the supplier join, not a second shuffle.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        o.join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("c_custkey") == F.col("o_custkey"))
        .join(
            F.broadcast(s),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_name")
        .agg(F.sum(F.expr(_REV)).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("n_name"))
    )


# --------------------------------------------------------------------------
# Q10 shape: returned-item reporting (grouped top-k customers)
# --------------------------------------------------------------------------
@query(
    "q10_returned_items",
    oracle=f"""
SELECT c_custkey, c_name, n_name,
       SUM({_REV}) AS revenue,
       COUNT(*) AS n_lines
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1996-07-01'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
    tags=("join", "tpch-shape", "topk"),
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 analogue: top-20 customers by revenue lost to returns
    in one half-year. orderBy+limit compiles to TakeOrderedAndProject —
    per-partition heaps + a single driver merge of 20-row heads, never a
    global sort (the difference between O(n log 20) and a full shuffle
    at 100 TB). Tie-break on c_custkey makes top-20 unique."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-07-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    return (
        o.join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.sum(F.expr(_REV)).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


# --------------------------------------------------------------------------
# Q14 shape: promo revenue share (conditional agg over one joined scan)
# --------------------------------------------------------------------------
@query(
    "q14_promo_revenue_share",
    oracle=f"""
SELECT SUM(CASE WHEN p_type = 'PROMO' THEN {_REV} END) AS promo_revenue,
       SUM({_REV}) AS total_revenue,
       ROUND(100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO' THEN {_REV} END) AS DOUBLE)
                   / CAST(SUM({_REV}) AS DOUBLE), 6) AS promo_share_pct
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE l_shipdate >= TIMESTAMP '1996-09-01'
  AND l_shipdate <  TIMESTAMP '1996-10-01'
""",
    tags=("join", "tpch-shape", "conditional-agg"),
)
def q14_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 analogue: % of one month's revenue from PROMO parts.
    One scan, one broadcast join, one aggregate — the numerator is a
    CASE inside the same SUM pass, not a second join/scan. The ratio is
    derived from the two exact decimal sums with a single double
    division (deterministic across engines), not decimal division
    (whose result scale rules differ between Spark and DuckDB)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part")
    rev = F.expr(_REV)
    promo = F.sum(F.when(F.col("p_type") == "PROMO", rev)).alias("promo_revenue")
    total = F.sum(rev).alias("total_revenue")
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .agg(promo, total)
        .withColumn(
            "promo_share_pct",
            F.round(
                F.lit(100.0)
                * F.col("promo_revenue").cast("double")
                / F.col("total_revenue").cast("double"),
                6,
            ),
        )
    )


# --------------------------------------------------------------------------
# Q19 shape: disjunctive OR-of-ANDs join residual
# --------------------------------------------------------------------------
_Q19_PRED = """
   (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)
"""


@query(
    "q19_disjunctive_predicates",
    oracle=f"""
SELECT SUM({_REV}) AS revenue, COUNT(*) AS n_lines
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE {_Q19_PRED}
""",
    tags=("join", "tpch-shape", "disjunctive"),
)
def q19_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 analogue: revenue under an OR of per-brand (size,
    quantity) envelopes. The equi-key p_partkey = l_partkey keeps this a
    hash join; the disjunction is a residual filter evaluated post-join.
    Catalyst additionally extracts the common single-table implications
    (p_brand IN (...), p_size <= 35, l_quantity <= 30) and pushes them
    below the join into the scans — asserted in test_plan_shape.py."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    joined = li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey")).filter(
        F.expr(_Q19_PRED)
    )
    return joined.agg(
        F.sum(F.expr(_REV)).alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


# --------------------------------------------------------------------------
# Q4 shape: priority checking (correlated EXISTS -> semi-join to fact)
# --------------------------------------------------------------------------
@query(
    "q4_order_priority",
    oracle="""
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1996-04-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
    tags=("join", "tpch-shape", "exists"),
)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 analogue: one quarter's orders having at least one
    returned line, counted by priority. (The reference schema lacks
    commit/receipt dates; `l_returnflag = 'R'` stands in for the late-
    delivery predicate — the plan shape is identical.) The correlated
    EXISTS decorrelates to a LEFT SEMI join: the fact side is scanned
    once, the filter prunes orders before the join, and no lineitem
    columns survive the semi-join into the aggregate."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        o.join(li, F.col("l_orderkey") == F.col("o_orderkey"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# Q13 shape: customer order-count distribution (outer join + double agg)
# --------------------------------------------------------------------------
@query(
    "q13_customer_distribution",
    oracle="""
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey
                  AND o_orderpriority NOT LIKE '1-%'
  GROUP BY c_custkey
) per_cust
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
""",
    tags=("join", "tpch-shape", "double-agg"),
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 analogue: how many customers placed k orders, for each
    k — including k=0, which is why the join must be a LEFT OUTER with
    the predicate ON the join (filtering WHERE would silently drop the
    zero-order customers). Two aggregations: per-customer COUNT of a
    nullable key, then the distribution over counts. Scale: first agg
    shuffles on c_custkey (pre-partitioned by the join), second input
    is |distinct counts| rows — negligible."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(~F.col("o_orderpriority").like("1-%"))
    per_cust = (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


# --------------------------------------------------------------------------
# Q22 shape: anti join + scalar-subquery threshold
# --------------------------------------------------------------------------
@query(
    "q22_dormant_rich_customers",
    oracle="""
WITH threshold AS (
  SELECT SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS sum_pos, COUNT(*) AS n_pos
  FROM customer WHERE c_acctbal > 0
)
SELECT c_nationkey,
       COUNT(*) AS n_custs,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DECIMAL(38,6)) AS total_bal
FROM customer, threshold
WHERE CAST(c_acctbal AS DECIMAL(18,6)) * n_pos > sum_pos
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY c_nationkey
ORDER BY c_nationkey
""",
    tags=("join", "tpch-shape", "anti-join"),
)
def q22_dormant_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 analogue: customers with above-average balance (among
    positive balances) with no order since 2000, rolled up by nation.
    Physical shape: the scalar AVG subquery broadcasts as a one-row
    cross input; the NOT EXISTS decorrelates to LEFT ANTI against only
    the o_custkey column of orders (column-pruned to the join key).
    Balance sums aggregate in DECIMAL(38,6) — c_acctbal is a double, so
    per-row cast BEFORE SUM keeps the total order-independent.

    The above-average test is the multiplied-through exact form
    `bal * n_pos > sum_pos` (same pattern as q11/q17/q20): comparing
    against AVG() directly would cross representations — Spark
    avg(decimal) yields DECIMAL(38,10) while DuckDB AVG(DECIMAL) is
    DOUBLE — and a boundary customer could flip membership between
    engines. No engine rounds inside a predicate."""
    c = load_table(spark, sf_dir, "customer")
    o_keys = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    bal18 = F.col("c_acctbal").cast("decimal(18,6)")
    pos_stats = (
        c.filter(F.col("c_acctbal") > 0)
        .agg(F.sum(bal18).alias("sum_pos"), F.count(F.lit(1)).alias("n_pos"))
    )
    return (
        c.join(F.broadcast(pos_stats))
        .filter(bal18 * F.col("n_pos") > F.col("sum_pos"))
        .join(o_keys, F.col("o_custkey") == F.col("c_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_custs"),
            F.sum(F.col("c_acctbal").cast("decimal(38,6)"))
            .cast("decimal(38,6)")
            .alias("total_bal"),
        )
        .orderBy("c_nationkey")
    )


# --------------------------------------------------------------------------
# Q7 shape: bi-nation trade flow by year (symmetric pair disjunction)
# --------------------------------------------------------------------------
@query(
    "q7_nation_trade_flows",
    oracle=f"""
SELECT n1.n_name AS supp_nation,
       n2.n_name AS cust_nation,
       EXTRACT(YEAR FROM l_shipdate) AS l_year,
       SUM({_REV}) AS revenue
FROM lineitem
JOIN orders   ON o_orderkey = l_orderkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN customer ON c_custkey = o_custkey
JOIN nation n1 ON n1.n_nationkey = s_nationkey
JOIN nation n2 ON n2.n_nationkey = c_nationkey
WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
GROUP BY n1.n_name, n2.n_name, EXTRACT(YEAR FROM l_shipdate)
ORDER BY supp_nation, cust_nation, l_year
""",
    tags=("join", "tpch-shape", "bi-nation"),
)
def q7_nation_trade_flows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 analogue: yearly revenue flowing each way between two
    nations (supplier side vs customer side). The distinctive plan
    property: the pair disjunction references BOTH nation aliases, so
    it cannot push below either nation join — but each alias's
    single-table implication (n_name IN (N1, N2)) CAN and must prune
    both broadcast dimension inputs before the joins; the cross-alias
    OR evaluates as a residual afterwards. The year extraction groups
    on a derived column — computed pre-shuffle (map-side), so the
    exchange carries (name, name, year) keys only."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    s = load_table(spark, sf_dir, "supplier")
    c = load_table(spark, sf_dir, "customer")
    pair = ("NATION_1", "NATION_2")
    n1 = load_table(spark, sf_dir, "nation").filter(F.col("n_name").isin(*pair)).select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, sf_dir, "nation").filter(F.col("n_name").isin(*pair)).select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(c), F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(n1), F.col("n1_key") == F.col("s_nationkey"))
        .join(F.broadcast(n2), F.col("n2_key") == F.col("c_nationkey"))
        .filter(
            ((F.col("supp_nation") == pair[0]) & (F.col("cust_nation") == pair[1]))
            | ((F.col("supp_nation") == pair[1]) & (F.col("cust_nation") == pair[0]))
        )
        .groupBy(
            "supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year")
        )
        .agg(F.sum(F.expr(_REV)).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


@query(
    "q12_priority_shipping",
    oracle="""
SELECT l_returnflag,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate >= o_orderdate + INTERVAL 30 DAY
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
    tags=("tpch", "q12"),
)
def q12_priority_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 (shipping-mode priority counts), adapted to the
    synthetic schema: the testdata lineitem has no
    l_shipmode/l_commitdate/l_receiptdate, so the grouping key is
    l_returnflag and the late-shipping predicate is shipdate >=
    orderdate + 30 days — same plan shape as the canonical Q12
    (fact-fact equi join, residual date predicate, conditional counts).

    Scale: the orders⋈lineitem join shuffles both sides on orderkey
    once (or goes exchange-free on bucketed tables); the CASE counts
    fold map-side into a 3-group aggregate."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .filter(F.col("l_shipdate") >= F.col("o_orderdate") + F.expr("INTERVAL 30 DAY"))
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("bigint").alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )
