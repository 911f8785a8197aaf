"""Classic warehouse join/agg shapes, wave 4 — the remaining TPC-H
analogues expressible over the driver schema (no partsupp table, no
l_commitdate/l_receiptdate, so Q2/Q11/Q16/Q17/Q20/Q21 are reshaped to
lineitem-derived equivalents that keep each query's *plan* shape).

Why each one earns its slot (each exercises a distinct physical
pattern the reference delegates to its external warehouse — the repo
ships only SQL text, `queries/makerdao/assets_per_type.sql`, and lets
PostgreSQL/Snowflake plan it; a Spark replacement must own these):

- Q6  — pure scan+filter+scalar agg: the "is pushdown working" probe.
- Q2  — correlated MIN subquery → per-group min + equality join-back.
- Q11 — HAVING against a global scalar: aggregate reused for total.
- Q15 — view aggregated twice (per-key and its MAX): exchange reuse.
- Q16 — distinct pairs + NOT IN exclusion + COUNT(DISTINCT).
- Q17 — per-part average threshold: two-pass over the fact with the
  tiny per-part aggregate broadcast back.
- Q20 — nested "more than a third shipped in one year" test folded
  into ONE conditional-aggregation scan (no nested semi-join chain).
- Q21 — the EXISTS + NOT-EXISTS fact self-correlation, implemented as
  windows over one exchange, ORACLE-checked by the literal
  EXISTS/NOT-EXISTS formulation in DuckDB (different formulation on
  each engine = real cross-check, not shared math).

Determinism contract (driver hash-compare): money/quantity math casts
to DECIMAL(38,6) per row BEFORE SUM; thresholds that would divide
(avg, share-of-total) are re-expressed as exact integer-decimal
multiplications (5*q*n < sum, rev*1500 > total, q97*6 > total), so no
engine ever rounds inside a predicate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import load_table
from .registry import query
from .tpch_common import QTY, REV

_REV = REV  # single definition: tpch_common.py
_QTY = QTY  # single definition: tpch_common.py


# --------------------------------------------------------------------------
# Q6 shape: forecast revenue change (scan + filter + scalar aggregate)
# --------------------------------------------------------------------------
@query(
    "q6_forecast_revenue",
    oracle="""
SELECT SUM(CAST(l_extendedprice * l_discount AS DECIMAL(38,6))) AS revenue,
       COUNT(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
    tags=("tpch-shape", "scan", "pushdown"),
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: revenue that would be gained by eliminating small
    discounts — a single selective scan feeding one scalar aggregate.

    Scale shape: ALL three predicates push to the parquet scan
    (row-group min/max skips whole chunks of a date-sorted layout);
    the aggregate is partial → single-partition final, so the only
    exchange carries 32 partial rows. At 100 TB this is the
    I/O-bound lower bound every other query is measured against.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .select(
            F.expr("CAST(l_extendedprice * l_discount AS DECIMAL(38,6))").alias("d_rev")
        )
        .agg(F.sum("d_rev").alias("revenue"), F.count(F.lit(1)).alias("n_lines"))
    )


# --------------------------------------------------------------------------
# Q2 shape: cheapest part per type → who supplies it
# --------------------------------------------------------------------------
@query(
    "q2_cheapest_part_suppliers",
    oracle="""
WITH cheapest AS (
  SELECT p_type, p_partkey
  FROM part p
  WHERE p_retailprice = (SELECT MIN(p2.p_retailprice) FROM part p2 WHERE p2.p_type = p.p_type)
)
SELECT p_type, p_partkey, s_suppkey, s_name, n_name
FROM cheapest
JOIN (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) pairs ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
ORDER BY p_type, p_partkey, s_suppkey
""",
    tags=("tpch-shape", "correlated-subquery", "join"),
)
def q2_cheapest_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 analogue (no partsupp): for each part type, the
    minimum-retail-price part(s), and every supplier that has actually
    shipped them, with the supplier's nation.

    The correlated `price = (SELECT MIN … WHERE same type)` becomes a
    per-type MIN window on the part dimension — evaluated once over
    2k parts, never against the fact table. The fact table's only job
    is the DISTINCT (partkey, suppkey) association (the de facto
    partsupp), which shuffles key pairs only; the cheapest-part set,
    supplier, and nation all broadcast. No double comparison is ever
    computed — the equality tests a value against a MIN drawn from the
    same column, which is exact in IEEE754 on both engines.
    """
    p = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    cheapest = (
        p.withColumn("min_price", F.min("p_retailprice").over(Window.partitionBy("p_type")))
        .filter(F.col("p_retailprice") == F.col("min_price"))
        .select("p_type", "p_partkey")
    )
    pairs = li.select("l_partkey", "l_suppkey").distinct()
    return (
        pairs.join(F.broadcast(cheapest), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("p_type", "p_partkey", "s_suppkey", "s_name", "n_name")
        .orderBy("p_type", "p_partkey", "s_suppkey")
    )


# --------------------------------------------------------------------------
# Q11 shape: parts above a share-of-total revenue threshold
# --------------------------------------------------------------------------
@query(
    "q11_important_parts",
    oracle=f"""
SELECT l_partkey AS partkey, SUM({_REV}) AS part_revenue
FROM lineitem
GROUP BY l_partkey
HAVING SUM({_REV}) * 1500 > (SELECT SUM({_REV}) FROM lineitem)
ORDER BY part_revenue DESC, partkey
""",
    tags=("tpch-shape", "having-scalar", "aggregate"),
)
def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 analogue: parts whose revenue exceeds 1/1500 of total
    revenue — a HAVING clause against a global scalar subquery.

    Scale shape: ONE hash aggregation by partkey; the global total is
    re-aggregated FROM the per-part result (|parts| rows, and Spark
    reuses the per-part exchange rather than rescanning the fact),
    then crossed back as a one-row broadcast. The share test is
    `rev * 1500 > total` — exact decimal multiplication, no division
    anywhere, so the boundary part can't flip between engines.
    """
    li = load_table(spark, sf_dir, "lineitem")
    per_part = (
        li.select(F.col("l_partkey").alias("partkey"), F.expr(_REV).alias("rev"))
        .groupBy("partkey")
        .agg(F.sum("rev").alias("part_revenue"))
    )
    total = per_part.agg(F.sum("part_revenue").alias("total_revenue"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("part_revenue") * 1500 > F.col("total_revenue"))
        .select("partkey", "part_revenue")
        .orderBy(F.col("part_revenue").desc(), "partkey")
    )


# --------------------------------------------------------------------------
# Q15 shape: top supplier(s) by quarterly revenue (view aggregated twice)
# --------------------------------------------------------------------------
@query(
    "q15_top_supplier",
    oracle=f"""
WITH revenue AS (
  SELECT l_suppkey AS suppkey, SUM({_REV}) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1997-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM revenue
JOIN supplier ON s_suppkey = suppkey
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
ORDER BY s_suppkey
""",
    tags=("tpch-shape", "view-reuse", "scalar-subquery"),
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: supplier(s) with the maximum revenue for one quarter
    — the `revenue` view is consumed twice (rows + its MAX).

    Scale shape: the quarter filter pushes to the scan; ONE hash
    aggregate by suppkey; the MAX re-aggregates the |suppliers|-row
    result (exchange reused, fact scanned once) and broadcasts back as
    a single row. Ties are kept (exact decimal equality — TPC-H's own
    spec note about ties applies), supplier names arrive by broadcast.
    """
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    # The explicit isnotnull matches the constraint the supplier equi-join
    # pushes into the probe side; with it on BOTH consumers of `revenue`,
    # the two aggregation subtrees canonicalize identically and AQE reuses
    # one shuffle (fact scanned once) instead of recomputing the view.
    revenue = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
            & F.col("l_suppkey").isNotNull()
        )
        .select(F.col("l_suppkey").alias("suppkey"), F.expr(_REV).alias("rev"))
        .groupBy("suppkey")
        .agg(F.sum("rev").alias("total_revenue"))
    )
    best = revenue.agg(F.max("total_revenue").alias("best_revenue"))
    return (
        revenue.crossJoin(F.broadcast(best))
        .filter(F.col("total_revenue") == F.col("best_revenue"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


# --------------------------------------------------------------------------
# Q16 shape: supplier variety per brand/type with an exclusion list
# --------------------------------------------------------------------------
@query(
    "q16_supplier_variety",
    oracle="""
SELECT p_brand, p_type, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) pairs
JOIN part ON p_partkey = l_partkey
WHERE p_size IN (1, 14, 23, 45)
  AND p_brand <> 'Brand#3'
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type
ORDER BY supplier_cnt DESC, p_brand, p_type
""",
    tags=("tpch-shape", "distinct-agg", "anti-join"),
)
def q16_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 analogue (lineitem pairs stand in for partsupp): how
    many distinct suppliers can ship each surviving (brand, type),
    excluding suppliers on a deny list (negative account balance —
    the analogue of Q16's complaints subquery).

    Scale shape: the NOT IN deny list decorrelates to a broadcast
    LEFT ANTI join (s_suppkey is non-null, so NOT IN == anti join
    without the null trap); part prunes by size/brand BEFORE its
    broadcast; the only fact-sized work is the DISTINCT pair shuffle,
    which COUNT(DISTINCT) then reuses as its own first phase.
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_size").isin(1, 14, 23, 45) & (F.col("p_brand") != "Brand#3")
    )
    deny = load_table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select("s_suppkey")
    pairs = li.select("l_partkey", "l_suppkey").distinct()
    return (
        pairs.join(F.broadcast(deny), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("p_brand", "p_type")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type")
    )


# --------------------------------------------------------------------------
# Q17 shape: revenue locked in small-quantity lines of one brand
# --------------------------------------------------------------------------
@query(
    "q17_small_quantity_revenue",
    oracle=f"""
WITH brand_parts AS (
  SELECT p_partkey FROM part WHERE p_brand = 'Brand#4'
),
pq AS (
  SELECT l_partkey AS pk, SUM({_QTY}) AS sum_qty, COUNT(*) AS n_part_lines
  FROM lineitem JOIN brand_parts ON p_partkey = l_partkey
  GROUP BY l_partkey
)
SELECT SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS small_qty_revenue,
       COUNT(*) AS n_small_lines
FROM lineitem
JOIN pq ON pk = l_partkey
WHERE {_QTY} * 5 * n_part_lines < sum_qty
""",
    tags=("tpch-shape", "avg-threshold", "two-pass"),
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: revenue on lines of one brand whose quantity is
    below 20% of that part's average line quantity.

    The correlated AVG subquery is the classic two-pass-over-the-fact
    shape: pass 1 aggregates (sum_qty, n) per brand part — a tiny
    result because the brand prunes part FIRST (broadcast semi
    against ~4% of parts) — and pass 2 probes it as a broadcast.
    The threshold `q < 0.2 * avg` is restated as `5*q*n < sum` —
    integer-scaled exact decimals, so no division and no rounding can
    disagree across engines. Both passes scan only brand lines.
    """
    li = load_table(spark, sf_dir, "lineitem")
    brand_parts = (
        load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#4").select("p_partkey")
    )
    brand_lines = li.join(F.broadcast(brand_parts), F.col("p_partkey") == F.col("l_partkey"))
    pq = (
        brand_lines.select(F.col("l_partkey").alias("pk"), F.expr(_QTY).alias("qty"))
        .groupBy("pk")
        .agg(F.sum("qty").alias("sum_qty"), F.count(F.lit(1)).alias("n_part_lines"))
    )
    return (
        li.join(F.broadcast(pq), F.col("pk") == F.col("l_partkey"))
        .filter(F.expr(_QTY) * 5 * F.col("n_part_lines") < F.col("sum_qty"))
        .select(F.expr("CAST(l_extendedprice AS DECIMAL(38,6))").alias("price"))
        .agg(F.sum("price").alias("small_qty_revenue"), F.count(F.lit(1)).alias("n_small_lines"))
    )


# --------------------------------------------------------------------------
# Q20 shape: suppliers concentrated on one year (conditional-agg fold)
# --------------------------------------------------------------------------
@query(
    "q20_concentrated_shippers",
    oracle=f"""
WITH shipped AS (
  SELECT l_suppkey AS suppkey,
         SUM(CASE WHEN l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
                  THEN {_QTY} ELSE CAST(0 AS DECIMAL(38,6)) END) AS qty_1997,
         SUM({_QTY}) AS qty_total
  FROM lineitem
  JOIN part ON p_partkey = l_partkey
  WHERE p_name LIKE '%blue%'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, n_name, qty_1997, qty_total
FROM shipped
JOIN supplier ON s_suppkey = suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE qty_1997 * 6 > qty_total
ORDER BY s_suppkey
""",
    tags=("tpch-shape", "conditional-agg", "semi-join-fold"),
)
def q20_concentrated_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 analogue (no partsupp availqty): suppliers who shipped
    more than a sixth of their all-time 'blue'-part quantity during
    1997 — Q20's nested `availqty > 0.5 * sum(qty in window)` test.

    Where Q20's textbook plan is a chain of nested semi-joins, the
    reshaped predicate folds into ONE conditional-aggregation scan:
    the year window becomes a CASE inside SUM, so the fact is read
    once, the part filter prunes before its broadcast, and the
    share test is `qty_1997 * 6 > qty_total` — exact decimals, no
    division. supplier/nation attach by broadcast after the aggregate
    (|suppliers| rows, not fact-sized).
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_name").like("%blue%")).select("p_partkey")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    in_1997 = (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp")) & (
        F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp")
    )
    qty = F.expr(_QTY)
    shipped = (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .select(
            F.col("l_suppkey").alias("suppkey"),
            F.when(in_1997, qty).otherwise(F.lit(0).cast("decimal(38,6)")).alias("q97"),
            qty.alias("q"),
        )
        .groupBy("suppkey")
        .agg(F.sum("q97").alias("qty_1997"), F.sum("q").alias("qty_total"))
        .filter(F.col("qty_1997") * 6 > F.col("qty_total"))
    )
    return (
        shipped.join(F.broadcast(s), F.col("s_suppkey") == F.col("suppkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", "n_name", "qty_1997", "qty_total")
        .orderBy("s_suppkey")
    )


# --------------------------------------------------------------------------
# Q21 shape: the supplier who kept the order waiting
# --------------------------------------------------------------------------
@query(
    "q21_waiting_suppliers",
    oracle="""
SELECT s_name, COUNT(DISTINCT l1.l_orderkey) AS numwait
FROM lineitem l1
JOIN supplier ON l1.l_suppkey = s_suppkey
JOIN orders   ON o_orderkey = l1.l_orderkey
WHERE o_orderstatus = 'F'
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate >= l1.l_shipdate)
GROUP BY s_name
ORDER BY numwait DESC, s_name
""",
    tags=("tpch-shape", "exists", "not-exists", "self-correlation"),
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 analogue (shipdate stands in for receipt/commit): in
    completed multi-supplier orders, the supplier whose shipment came
    strictly after EVERY other supplier's — the one who kept the order
    waiting — counted per supplier.

    The oracle keeps Q21's literal double-correlation (EXISTS another
    supplier's line; NOT EXISTS another supplier's line shipping on or
    after mine). The Spark side proves the same predicate with windows
    over ONE partitioning instead of two fact self-joins: after the
    orders join (status F), rows are hash-partitioned by orderkey, so
    the (order, supplier) max-shipdate aggregate AND the per-order
    windows (overall max, supplier count, how many suppliers hit the
    max) all reuse that ONE exchange — a supplier qualifies iff it
    uniquely holds the order's max shipdate and isn't alone in the
    order. Two formulations, one hash-compare: a real cross-check.
    """
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F").select("o_orderkey")
    s = load_table(spark, sf_dir, "supplier")
    lines = (
        li.select("l_orderkey", "l_suppkey", "l_shipdate")
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .drop("o_orderkey")
    )
    per_supp = lines.groupBy("l_orderkey", "l_suppkey").agg(
        F.max("l_shipdate").alias("supp_max")
    )
    w = Window.partitionBy("l_orderkey")
    winners = (
        per_supp.withColumn("max_all", F.max("supp_max").over(w))
        .withColumn("n_supp", F.count(F.lit(1)).over(w))
        .withColumn(
            "n_at_max",
            F.sum(F.when(F.col("supp_max") == F.col("max_all"), 1).otherwise(0)).over(w),
        )
        .filter(
            (F.col("supp_max") == F.col("max_all"))
            & (F.col("n_at_max") == 1)
            & (F.col("n_supp") >= 2)
        )
    )
    return (
        winners.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
    )
