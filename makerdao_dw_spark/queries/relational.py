"""Relational operator surface (SURVEY.md §2.B) on the driver's TPC-H-ish
testdata.

Each query pins one or more inventory operators (tags) and carries a
DuckDB oracle. Determinism rules (cross-engine exactness):

- never SUM raw doubles (order-dependent); cast to DECIMAL(38,6) first
- averages/ratios: CAST(SUM(decimal) AS DOUBLE)/COUNT — deterministic
  scalar ops on exact inputs (DuckDB's AVG(decimal) returns DOUBLE with
  order-dependent summation, so we avoid AVG entirely)
- every window order and LIMIT carries a unique tiebreak key
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType

from ..session import load_table
from .registry import query

DEC = DecimalType(38, 6)


# --------------------------------------------------------------------------
# B7/B19 hash aggregate — TPC-H Q1 shape (pricing summary)
# --------------------------------------------------------------------------
@query(
    "q1_pricing_summary",
    oracle="""
SELECT l_returnflag, l_linestatus,
       SUM(CAST(l_quantity AS DECIMAL(38,6))) AS sum_qty,
       SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS sum_base_price,
       SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS sum_disc_price,
       SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(38,6))) AS sum_charge,
       CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS avg_qty,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2024-11-01 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
    tags=("B1", "B4", "B7", "B19", "B20"),
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread: the testdata ships lineitem as ONE parquet row group, so
    # the scan cannot split and the decimal partial aggregation — the
    # whole query — ran on one core (guide §2.5 input skew). The
    # round-robin exchange carries only the 7 pruned columns (Catalyst
    # pushes the filter and projection through Repartition) and every
    # aggregate here is an exact decimal sum / count, so partitioning
    # cannot change the result. Measured 2.4–3.2 → 1.5–2.1 s at sf0.1.
    li = load_table(spark, sf_dir, "lineitem", spread=True)
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2024-11-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast(DEC)).alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast(DEC)).alias("sum_base_price"),
            F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC)).alias("sum_disc_price"),
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))).cast(DEC)
            ).alias("sum_charge"),
            (F.sum(F.col("l_quantity").cast(DEC)).cast("double") / F.count(F.lit(1))).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


# --------------------------------------------------------------------------
# B2/B4 filter + projection with arithmetic
# --------------------------------------------------------------------------
@query(
    "filter_project",
    oracle="""
SELECT l_orderkey, l_linenumber,
       CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6)) AS net_price,
       l_returnflag AS flag
FROM lineitem
WHERE l_discount > 0.05 AND l_quantity <> 0 AND l_returnflag <> 'N'
""",
    tags=("B2", "B4"),
)
def filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter((F.col("l_discount") > 0.05) & (F.col("l_quantity") != 0) & (F.col("l_returnflag") != "N")).select(
        "l_orderkey",
        "l_linenumber",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC).alias("net_price"),
        F.col("l_returnflag").alias("flag"),
    )


# --------------------------------------------------------------------------
# B3/B5 typed-null union (by name, branches in different column order)
# --------------------------------------------------------------------------
@query(
    "union_typed_nulls",
    oracle="""
SELECT 'customer' AS kind, c_custkey AS party_key, c_name AS party_name,
       CAST(c_acctbal AS DECIMAL(38,6)) AS balance, CAST(NULL AS DECIMAL(38,6)) AS order_total
FROM customer
UNION ALL BY NAME
SELECT CAST(o_totalprice AS DECIMAL(38,6)) AS order_total, 'order' AS kind,
       o_orderkey AS party_key, o_orderstatus AS party_name, CAST(NULL AS DECIMAL(38,6)) AS balance
FROM orders WHERE o_orderstatus = 'F'
""",
    tags=("B3", "B5"),
)
def union_typed_nulls(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").select(
        F.lit("customer").alias("kind"),
        F.col("c_custkey").alias("party_key"),
        F.col("c_name").alias("party_name"),
        F.col("c_acctbal").cast(DEC).alias("balance"),
        F.lit(None).cast(DEC).alias("order_total"),
    )
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F").select(
        F.col("o_totalprice").cast(DEC).alias("order_total"),
        F.lit("order").alias("kind"),
        F.col("o_orderkey").alias("party_key"),
        F.col("o_orderstatus").alias("party_name"),
        F.lit(None).cast(DEC).alias("balance"),
    )
    return cust.unionByName(orders)


# --------------------------------------------------------------------------
# B22 equi-join with broadcast dimensions (customer -> nation -> region)
# --------------------------------------------------------------------------
@query(
    "join_broadcast_dims",
    oracle="""
SELECT r.r_name AS region, n.n_name AS nation,
       COUNT(*) AS n_customers,
       SUM(CAST(c.c_acctbal AS DECIMAL(38,6))) AS total_balance
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name, n.n_name
ORDER BY region, nation
""",
    tags=("B22", "B7", "B20"),
)
def join_broadcast_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    r = F.broadcast(load_table(spark, sf_dir, "region"))
    return (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(F.col("c_acctbal").cast(DEC)).alias("total_balance"),
        )
        .orderBy("region", "nation")
    )


# --------------------------------------------------------------------------
# Multiway fact join (TPC-H Q5 shape): lineitem⋈orders⋈customer⋈nation⋈region
# --------------------------------------------------------------------------
@query(
    "multiway_join_revenue",
    oracle="""
SELECT n.n_name AS nation,
       SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(38,6))) AS revenue
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name IN ('ASIA', 'EUROPE') AND o.o_orderstatus <> 'F'
GROUP BY n.n_name
ORDER BY revenue DESC, nation
""",
    tags=("B22", "B7", "B18", "B20"),
)
def multiway_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") != "F")
    c = load_table(spark, sf_dir, "customer")
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    r = F.broadcast(load_table(spark, sf_dir, "region").filter(F.col("r_name").isin("ASIA", "EUROPE")))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC)).alias("revenue"))
        .orderBy(F.col("revenue").desc(), "nation")
    )


# --------------------------------------------------------------------------
# Semi / anti joins (B23 spirit: existence-filtered scan)
# --------------------------------------------------------------------------
@query(
    "semi_anti_join",
    oracle="""
SELECT c_custkey, c_name, 'active' AS status FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
UNION ALL
-- NOT EXISTS, not NOT IN: a single NULL o_custkey makes NOT IN
-- three-valued-NULL for every unmatched row, while Spark's LEFT ANTI
-- has NOT-EXISTS semantics (keeps them)
SELECT c_custkey, c_name, 'dormant' AS status FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
""",
    tags=("B23", "B5"),
)
def semi_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    active = c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name", F.lit("active").alias("status")
    )
    dormant = c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name", F.lit("dormant").alias("status")
    )
    return active.unionByName(dormant)


# --------------------------------------------------------------------------
# Outer joins with null-producing sides
# --------------------------------------------------------------------------
@query(
    "outer_join_order_counts",
    oracle="""
SELECT c.c_custkey, c.c_mktsegment,
       COUNT(o.o_orderkey) AS n_orders,
       SUM(CAST(o.o_totalprice AS DECIMAL(38,6))) AS total_spend
FROM customer c
LEFT JOIN orders o ON c.c_custkey = o.o_custkey
GROUP BY c.c_custkey, c.c_mktsegment
""",
    tags=("B22", "B7"),
)
def outer_join_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_mktsegment")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast(DEC)).alias("total_spend"),
        )
    )


# --------------------------------------------------------------------------
# DISTINCT + set operations (INTERSECT / EXCEPT)
# --------------------------------------------------------------------------
@query(
    "distinct_values",
    oracle="SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders",
    tags=("distinct",),
)
def distinct_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "orders").select("o_orderstatus", "o_orderpriority").distinct()


@query(
    "intersect_except",
    oracle="""
SELECT l_orderkey AS orderkey, 'both' AS tag FROM lineitem WHERE l_discount > 0.08
INTERSECT
SELECT o_orderkey AS orderkey, 'both' AS tag FROM orders WHERE o_totalprice > 1000
UNION ALL
SELECT * FROM (
  SELECT o_orderkey AS orderkey, 'only_orders' AS tag FROM orders WHERE o_totalprice > 1000
  EXCEPT
  SELECT l_orderkey AS orderkey, 'only_orders' AS tag FROM lineitem WHERE l_discount > 0.08
)
""",
    tags=("intersect", "except"),
)
def intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_discount") > 0.08).select(F.col("l_orderkey").alias("orderkey"))
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 1000).select(F.col("o_orderkey").alias("orderkey"))
    both = li.intersect(o).select("orderkey", F.lit("both").alias("tag"))
    only_orders = o.subtract(li).select("orderkey", F.lit("only_orders").alias("tag"))
    return both.unionByName(only_orders)


# --------------------------------------------------------------------------
# Top-k with deterministic tiebreak (LIMIT)
# --------------------------------------------------------------------------
@query(
    "topk_orders",
    oracle="""
SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(38,6)) AS total
FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 25
""",
    tags=("topk", "B20"),
)
def topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load_table(spark, sf_dir, "orders")
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .select("o_orderkey", F.col("o_totalprice").cast(DEC).alias("total"))
        .limit(25)
    )


# --------------------------------------------------------------------------
# B17 row_number + B11 cumulative + lag/lead/rank family
# --------------------------------------------------------------------------
@query(
    "window_rank_lag",
    oracle="""
SELECT * FROM (
  SELECT o_custkey, o_orderkey,
         CAST(o_totalprice AS DECIMAL(38,6)) AS total,
         ROW_NUMBER() OVER w AS rn,
         RANK() OVER w AS rnk,
         DENSE_RANK() OVER w AS drnk,
         LAG(o_orderkey) OVER w AS prev_order,
         LEAD(o_orderkey) OVER w AS next_order
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
) WHERE rn <= 3
""",
    tags=("B17", "lag", "lead", "rank"),
)
def window_rank_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            F.col("o_totalprice").cast(DEC).alias("total"),
            F.row_number().over(w).alias("rn"),
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
            F.lag("o_orderkey").over(w).alias("prev_order"),
            F.lead("o_orderkey").over(w).alias("next_order"),
        )
        .filter(F.col("rn") <= 3)
    )


@query(
    "window_cumulative",
    oracle="""
SELECT event_id, user_id,
       SUM(CAST(value AS DECIMAL(38,6))) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS running_value,
       COUNT(*) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS running_n
FROM events
""",
    tags=("B11",),
)
def window_cumulative(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "event_id",
        "user_id",
        F.sum(F.col("value").cast(DEC)).over(w).alias("running_value"),
        F.count(F.lit(1)).over(w).alias("running_n"),
    )


# --------------------------------------------------------------------------
# B8 global (empty OVER) window
# --------------------------------------------------------------------------
@query(
    "global_window_share",
    oracle="""
SELECT o_orderkey,
       CAST(o_totalprice AS DECIMAL(38,6)) AS total,
       CAST(o_totalprice AS DOUBLE) / NULLIF(CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) OVER () AS DOUBLE), 0) AS share,
       CAST(MAX(CAST(o_totalprice AS DECIMAL(38,6))) OVER () AS DOUBLE) AS global_max
FROM orders
""",
    tags=("B8",),
)
def global_window_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The empty-OVER window semantics (every row sees the corpus SUM and
    # MAX) computed as a 1-row exact aggregate broadcast back onto the
    # scan (r11, guide §2.5): Spark executes an empty PARTITION BY as
    # ONE window partition — the whole table funneled through a single
    # task's sort (measured 7.8 s at sf1, the worst kind of 100 TB
    # plan). The aggregate is the same exact DECIMAL sum/max the window
    # computed, so every derived value is bit-identical; the broadcast
    # relation is one row.
    o = load_table(spark, sf_dir, "orders")
    g = F.broadcast(
        o.agg(
            F.sum(F.col("o_totalprice").cast(DEC)).alias("_gsum"),
            F.max(F.col("o_totalprice").cast(DEC)).alias("_gmax"),
        )
    )
    return o.crossJoin(g).select(
        "o_orderkey",
        F.col("o_totalprice").cast(DEC).alias("total"),
        # NULLIF(total, 0): share is undefined when the corpus total is
        # zero — NULL, not an ANSI DIVIDE_BY_ZERO (DuckDB would emit NULL)
        (
            F.col("o_totalprice").cast("double")
            / F.nullif(F.col("_gsum").cast("double"), F.lit(0.0))
        ).alias("share"),
        F.col("_gmax").cast("double").alias("global_max"),
    )


# --------------------------------------------------------------------------
# B12/B16 LOCF: conditional count window -> group id -> unordered MAX window
# --------------------------------------------------------------------------
@query(
    "locf_last_purchase",
    oracle="""
WITH marked AS (
  SELECT event_id, user_id, ts, event_type,
         CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(38,6)) END AS purchase_value,
         SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
             OVER (PARTITION BY user_id ORDER BY ts, event_id) AS grp
  FROM events
)
SELECT event_id, user_id, event_type,
       MAX(purchase_value) OVER (PARTITION BY user_id, grp) AS last_purchase_value
FROM marked
""",
    tags=("B12", "B16"),
)
def locf_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w_ord = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = e.select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.when(F.col("event_type") == "purchase", F.col("value").cast(DEC)).alias("purchase_value"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).over(w_ord).alias("grp"),
    )
    w_grp = Window.partitionBy("user_id", "grp")
    return marked.select(
        "event_id",
        "user_id",
        "event_type",
        F.max("purchase_value").over(w_grp).alias("last_purchase_value"),
    )


# --------------------------------------------------------------------------
# B9 gap-filling sequence explode (lateral series, no join)
# --------------------------------------------------------------------------
@query(
    "gap_fill_sequence",
    oracle="""
WITH bounds AS (
  SELECT user_id,
         MIN(DATEDIFF('day', DATE '2024-01-01', CAST(ts AS DATE))) AS d0,
         MAX(DATEDIFF('day', DATE '2024-01-01', CAST(ts AS DATE))) AS d1
  FROM events GROUP BY user_id
)
SELECT user_id, UNNEST(GENERATE_SERIES(d0, d1, 1)) AS day_idx
FROM bounds
""",
    tags=("B9", "B7"),
)
def gap_fill_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    day_idx = F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
    bounds = e.groupBy("user_id").agg(F.min(day_idx).alias("d0"), F.max(day_idx).alias("d1"))
    return bounds.select(
        "user_id",
        F.explode(F.sequence(F.col("d0"), F.col("d1"), F.lit(1))).alias("day_idx"),
    )


# --------------------------------------------------------------------------
# B14 integer bucketing (floor-division semantics, not bare cast)
# --------------------------------------------------------------------------
@query(
    "bucketed_event_counts",
    oracle="""
SELECT user_id,
       CAST(FLOOR(DATEDIFF('day', DATE '2024-01-01', CAST(ts AS DATE)) / 7) AS INT) AS week_bucket,
       COUNT(*) AS n_events,
       SUM(CAST(value AS DECIMAL(38,6))) AS total_value
FROM events
GROUP BY 1, 2
ORDER BY user_id, week_bucket
""",
    tags=("B14", "B7", "B20"),
)
def bucketed_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    day_idx = F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
    return (
        e.groupBy(
            "user_id",
            F.floor(day_idx / 7).cast("int").alias("week_bucket"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum(F.col("value").cast(DEC)).alias("total_value"))
        .orderBy("user_id", "week_bucket")
    )


# --------------------------------------------------------------------------
# B18 CASE / LIKE / IN categorization
# --------------------------------------------------------------------------
@query(
    "case_categorize_parts",
    oracle="""
SELECT CASE WHEN p_type LIKE 'PROMO%' THEN 'promo'
            WHEN p_type LIKE '%BRUSHED%' THEN 'brushed'
            WHEN p_brand IN ('Brand#1', 'Brand#2') THEN 'big_brand'
            ELSE 'other' END AS category,
       COUNT(*) AS n_parts,
       SUM(CAST(p_retailprice AS DECIMAL(38,6))) AS total_price
FROM part
GROUP BY 1 ORDER BY category
""",
    tags=("B18", "B7"),
)
def case_categorize_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    cat = (
        F.when(F.col("p_type").like("PROMO%"), "promo")
        .when(F.col("p_type").like("%BRUSHED%"), "brushed")
        .when(F.col("p_brand").isin("Brand#1", "Brand#2"), "big_brand")
        .otherwise("other")
        .alias("category")
    )
    return (
        p.groupBy(cat)
        .agg(F.count(F.lit(1)).alias("n_parts"), F.sum(F.col("p_retailprice").cast(DEC)).alias("total_price"))
        .orderBy("category")
    )


# --------------------------------------------------------------------------
# ROLLUP + GROUPING() (grouping sets family)
# --------------------------------------------------------------------------
@query(
    "rollup_returnflag",
    oracle="""
SELECT l_returnflag, l_linestatus,
       GROUPING(l_returnflag) AS g_flag, GROUPING(l_linestatus) AS g_status,
       COUNT(*) AS n, SUM(CAST(l_quantity AS DECIMAL(38,6))) AS sum_qty
FROM lineitem
GROUP BY ROLLUP(l_returnflag, l_linestatus)
""",
    tags=("rollup", "grouping"),
)
def rollup_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.grouping("l_returnflag").alias("g_flag"),
        F.grouping("l_linestatus").alias("g_status"),
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_quantity").cast(DEC)).alias("sum_qty"),
    )


# --------------------------------------------------------------------------
# Correlated-style aggregate filter (decorrelated as join against agg)
# --------------------------------------------------------------------------
@query(
    "above_avg_orders",
    oracle="""
SELECT o.o_custkey, o.o_orderkey, CAST(o.o_totalprice AS DECIMAL(38,6)) AS total
FROM orders o
JOIN (
  SELECT o_custkey,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS avg_total
  FROM orders GROUP BY o_custkey
) a ON o.o_custkey = a.o_custkey
WHERE o.o_totalprice > a.avg_total
""",
    tags=("B22", "subquery"),
)
def above_avg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    avg = o.groupBy(F.col("o_custkey").alias("k")).agg(
        (F.sum(F.col("o_totalprice").cast(DEC)).cast("double") / F.count(F.lit(1))).alias("avg_total")
    )
    return (
        o.join(avg, o.o_custkey == avg.k)
        .filter(F.col("o_totalprice") > F.col("avg_total"))
        .select("o_custkey", "o_orderkey", F.col("o_totalprice").cast(DEC).alias("total"))
    )


# --------------------------------------------------------------------------
# JSON extraction (props column) + math functions (B10 family)
# --------------------------------------------------------------------------
@query(
    "json_extract_props",
    oracle="""
SELECT event_id, CAST(json_extract_string(TRY_CAST(props AS JSON), '$.k') AS INT) AS k,
       event_type
FROM events
WHERE CAST(json_extract_string(TRY_CAST(props AS JSON), '$.k') AS INT) > 50
""",
    tags=("json",),
)
def json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """B-plane JSON path extraction. Spark's get_json_object is NULL on
    malformed input; the oracle needs TRY_CAST(props AS JSON) for the
    same tolerance (bare json_extract_string throws on e.g. '')."""
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return e.select("event_id", k.alias("k"), "event_type").filter(k > 50)


@query(
    "math_rescale_pow",
    oracle="""
SELECT event_id,
       POW(1.0 + value / 1e6, 3600 * 24 * 365) - 1 AS apy,
       LN(1.0 + value / 100.0) AS log_val,
       SQRT(value) AS root_val,
       CAST(ROUND(value, 1) AS DECIMAL(38,6)) AS rounded
FROM events WHERE value > 0
""",
    tags=("B10",),
)
def math_rescale_pow(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return e.filter(F.col("value") > 0).select(
        "event_id",
        (F.pow(F.lit(1.0) + F.col("value") / F.lit(1e6), F.lit(3600 * 24 * 365)) - 1).alias("apy"),
        F.log(F.lit(1.0) + F.col("value") / F.lit(100.0)).alias("log_val"),
        F.sqrt("value").alias("root_val"),
        F.round("value", 1).cast(DEC).alias("rounded"),
    )


# --------------------------------------------------------------------------
# String functions (B15 family on string data; binary decode is unit-tested
# on blockchain fixtures since testdata has no binary columns)
# --------------------------------------------------------------------------
@query(
    "string_functions",
    oracle="""
SELECT p_partkey,
       UPPER(p_brand) AS brand_upper,
       REPLACE(p_type, ' ', '_') AS type_snake,
       SUBSTR(p_name, 1, 10) AS name_prefix,
       LENGTH(p_name) AS name_len,
       CONCAT(COALESCE(p_brand, ''), ':', COALESCE(p_type, '')) AS brand_type,
       REGEXP_REPLACE(p_name, '[aeiou]', '', 'g') AS no_vowels
FROM part
""",
    tags=("B15", "strings"),
)
def string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_upper"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_snake"),
        F.substring("p_name", 1, 10).alias("name_prefix"),
        F.length("p_name").alias("name_len"),
        # explicit COALESCE-to-'' on BOTH engines: Spark concat_ws
        # SKIPS a NULL field (and its separator) while DuckDB CONCAT
        # treats NULL as '' — 'T1' vs ':T1' for a NULL brand
        F.concat(
            F.coalesce("p_brand", F.lit("")),
            F.lit(":"),
            F.coalesce("p_type", F.lit("")),
        ).alias("brand_type"),
        F.regexp_replace("p_name", "[aeiou]", "").alias("no_vowels"),
    )


# --------------------------------------------------------------------------
# TPC-H Q3 shape: selective dimension filter -> 3-way join -> grouped
# revenue -> top-k. The canonical "join order + broadcast" stress: the
# filtered customer segment is dimension-sized (broadcast), lineitem is
# the probe side, and the top-k is a TakeOrderedAndProject (no full sort).
# --------------------------------------------------------------------------
@query(
    "q3_shipping_priority",
    oracle="""
SELECT l_orderkey,
       SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS revenue,
       o_orderdate, o_orderpriority
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-07-01'
  AND l_shipdate  > TIMESTAMP '1998-07-01'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
""",
    tags=("B22", "tpch-q3", "broadcast", "topk"),
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 (shipping priority) adapted to the testdata schema.

    Scale notes: customer-after-filter is ~1/5 of a dimension table ->
    explicit broadcast keeps the orders scan shuffle-free; the only wide
    exchange is the final group-by on l_orderkey, and LIMIT 10 over the
    sorted aggregate runs as TakeOrderedAndProject (per-partition top-k,
    no global sort materialization).
    """
    cutoff = F.lit("1998-07-01").cast("timestamp")
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(DEC)).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey"))
        .limit(10)
    )


# --------------------------------------------------------------------------
# TPC-H Q18 shape: large-volume orders — HAVING-filtered aggregate used as
# a semi-join filter, then re-join to the fact for detail rows.
# --------------------------------------------------------------------------
@query(
    "q18_large_orders",
    oracle="""
WITH big AS (
    SELECT l_orderkey,
           SUM(CAST(l_quantity AS DECIMAL(38,6))) AS sum_qty
    FROM lineitem
    GROUP BY l_orderkey
    HAVING SUM(CAST(l_quantity AS DECIMAL(38,6))) > 150
)
SELECT c_name, c_custkey, o_orderkey, o_totalprice, sum_qty
FROM big
JOIN orders   ON o_orderkey = big.l_orderkey
JOIN customer ON c_custkey = o_custkey
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
""",
    tags=("B22", "tpch-q18", "having", "topk"),
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 (large-volume customers) adapted to the testdata schema.

    The aggregate-then-HAVING result is the small side by construction
    (high-volume orders are rare), so it drives the join back to orders;
    customer joins broadcast. One shuffle for the lineitem group-by, and
    AQE converts the big->orders join to broadcast at runtime once the
    HAVING filter collapses the build side.
    """
    li = load_table(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast(DEC)).alias("sum_qty"))
        .filter(F.col("sum_qty") > 150)
    )
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select("c_name", "c_custkey", "o_orderkey", "o_totalprice", "sum_qty")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(100)
    )


# --------------------------------------------------------------------------
# NULL-semantics battery (the cross-engine landmine checklist)
# --------------------------------------------------------------------------
@query(
    "null_semantics_battery",
    oracle="""
WITH base AS (
    SELECT CASE WHEN o_custkey % 7 = 0 THEN NULL ELSE o_custkey % 7 END AS grp,
           CASE WHEN o_orderkey % 11 = 0 THEN NULL
                ELSE CAST(o_totalprice AS DECIMAL(38,6)) END AS v
    FROM orders
), agg AS (
    SELECT grp,
           COUNT(*) AS n_rows,
           COUNT(v) AS n_vals,
           CAST(SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           CAST(COALESCE(SUM(v), 0) AS DOUBLE) AS sum_v
    FROM base GROUP BY grp
), dim AS (
    SELECT DISTINCT grp, COALESCE(CAST(grp AS VARCHAR), 'unknown') AS label
    FROM base
)
SELECT a.grp, d.label, a.n_rows, a.n_vals, a.n_nulls, a.sum_v,
       ROUND(a.sum_v / NULLIF(a.n_vals, 0), 6) AS avg_ignoring_nulls
FROM agg a JOIN dim d ON a.grp IS NOT DISTINCT FROM d.grp
ORDER BY a.grp NULLS FIRST
""",
    tags=("relational", "nulls", "battery"),
)
def null_semantics_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every cross-engine NULL landmine in one query: NULL group keys
    (group together in both engines), COUNT(*) vs COUNT(col) vs the
    explicit null count, SUM-ignores-NULLs with a COALESCE floor, AVG
    re-derived as sum/count-of-non-nulls, a NULL-SAFE equi-join (Spark
    `<=>` = DuckDB IS NOT DISTINCT FROM — a plain `=` would silently
    drop the NULL group's row), and an EXPLICIT sort order (asc_nulls_
    first: Spark's ASC default is NULLS FIRST but DuckDB's is NULLS
    LAST — an implicit sort is a latent hash-mismatch).

    One aggregation shuffle; the dim side is |groups|-sized
    (broadcast). The null-safe join compiles to a regular hash join on
    the key's null-flag — no nested loop."""
    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        F.when(F.col("o_custkey") % 7 == 0, None)
        .otherwise(F.col("o_custkey") % 7)
        .alias("grp"),
        F.when(F.col("o_orderkey") % 11 == 0, None)
        .otherwise(F.col("o_totalprice").cast("decimal(38,6)"))
        .alias("v"),
    )
    agg = base.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("v").alias("n_vals"),
        F.sum(F.col("v").isNull().cast("long")).alias("n_nulls"),
        F.coalesce(F.sum("v"), F.lit(0).cast("decimal(38,6)"))
        .cast("double")
        .alias("sum_v"),
    )
    dim = base.select("grp").distinct().select(
        "grp", F.coalesce(F.col("grp").cast("string"), F.lit("unknown")).alias("label")
    )
    return (
        agg.alias("a")
        .join(F.broadcast(dim.alias("d")), F.expr("a.grp <=> d.grp"))
        .select(
            F.col("a.grp").alias("grp"),
            "label",
            "n_rows",
            "n_vals",
            "n_nulls",
            "sum_v",
            # NULLIF: an all-NULL-value group has n_vals = 0 (ANSI
            # divide-by-zero on Spark, not a quiet NULL)
            F.round(
                F.col("sum_v") / F.expr("nullif(n_vals, 0)"), 6
            ).alias("avg_ignoring_nulls"),
        )
        .orderBy(F.col("grp").asc_nulls_first())
    )
