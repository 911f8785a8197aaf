"""OLAP operator battery: multidimensional aggregation (cube / grouping
sets), approximate aggregates, range (interval) joins, distribution
window functions, and higher-order array functions. All oracle-checked
except the approximate sketches (bounded-error asserted in unit tests
instead — an approx answer has no exact oracle by definition).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import md5_int_duck, md5_int_spark
from ..operators.order_stats import use_parallel
from ..operators.skew import salted_join
from ..session import load_table
from .registry import query


# --------------------------------------------------------------------------
# CUBE: all 2^2 grouping combinations in one pass
# --------------------------------------------------------------------------
@query(
    "cube_order_stats",
    oracle="""
SELECT o_orderpriority, o_orderstatus,
       COUNT(*) AS n,
       SUM(CAST(o_totalprice AS DECIMAL(38,4))) AS total
FROM orders
GROUP BY CUBE (o_orderpriority, o_orderstatus)
ORDER BY o_orderpriority NULLS FIRST, o_orderstatus NULLS FIRST
""",
    tags=("cube", "rollup-family"),
)
def cube_order_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderpriority", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(38,4)")).alias("total"),
        )
        .orderBy(
            F.col("o_orderpriority").asc_nulls_first(),
            F.col("o_orderstatus").asc_nulls_first(),
        )
    )


# --------------------------------------------------------------------------
# GROUPING SETS with grouping() disambiguation (a real NULL group key vs
# a super-aggregate NULL are different things)
# --------------------------------------------------------------------------
@query(
    "grouping_sets_events",
    oracle="""
SELECT event_type, CAST(EXTRACT(year FROM ts) AS BIGINT) AS y,
       GROUPING(event_type) AS g_type, GROUPING(CAST(EXTRACT(year FROM ts) AS BIGINT)) AS g_year,
       COUNT(*) AS n
FROM events
GROUP BY GROUPING SETS ((event_type), (CAST(EXTRACT(year FROM ts) AS BIGINT)), ())
ORDER BY g_type, g_year, event_type NULLS FIRST, y NULLS FIRST
""",
    tags=("grouping-sets",),
)
def grouping_sets_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        """
        SELECT event_type, CAST(year(ts) AS BIGINT) AS y,
               CAST(grouping(event_type) AS BIGINT) AS g_type,
               CAST(grouping(CAST(year(ts) AS BIGINT)) AS BIGINT) AS g_year,
               COUNT(*) AS n
        FROM {events}
        GROUP BY GROUPING SETS ((event_type), (CAST(year(ts) AS BIGINT)), ())
        ORDER BY g_type, g_year, event_type NULLS FIRST, y NULLS FIRST
        """,
        events=load_table(spark, sf_dir, "events"),
    )


# --------------------------------------------------------------------------
# Range (interval) join: events within 7 days after the customer's order
# --------------------------------------------------------------------------
@query(
    "range_join_order_events",
    oracle="""
SELECT o.o_orderkey, COUNT(e.event_id) AS n_events_week_after
FROM orders o
LEFT JOIN events e
  ON e.user_id = o.o_custkey
 AND e.ts >= o.o_orderdate
 AND e.ts < o.o_orderdate + INTERVAL 7 DAY
WHERE o.o_orderkey % 20 = 0
GROUP BY o.o_orderkey
ORDER BY o.o_orderkey
""",
    tags=("range-join", "interval"),
)
def range_join_order_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-key + interval predicate: the equality on user_id makes this
    a hash join with a residual range filter — the scalable shape (the
    pure-range-condition variant degenerates to a broadcast-nested-loop;
    always give the planner an equi-key when the domain has one)."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 20 == 0)
    e = load_table(spark, sf_dir, "events")
    cond = (
        (F.col("e.user_id") == F.col("o.o_custkey"))
        & (F.col("e.ts") >= F.col("o.o_orderdate"))
        & (F.col("e.ts") < F.col("o.o_orderdate") + F.expr("INTERVAL 7 DAY"))
    )
    return (
        o.alias("o")
        .join(e.alias("e"), cond, "left")
        .groupBy("o.o_orderkey")
        .agg(F.count("e.event_id").alias("n_events_week_after"))
        .orderBy("o_orderkey")
    )


# --------------------------------------------------------------------------
# Distribution window functions: ntile / percent_rank / cume_dist
# --------------------------------------------------------------------------
@query(
    "distribution_windows",
    oracle="""
SELECT o_orderkey, o_orderpriority,
       NTILE(4) OVER w AS quartile,
       ROUND(PERCENT_RANK() OVER w, 9) AS pct_rank,
       ROUND(CUME_DIST() OVER w, 9) AS cume,
       DENSE_RANK() OVER (PARTITION BY o_orderpriority ORDER BY o_custkey) AS cust_drank
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
ORDER BY o_orderkey
""",
    tags=("window", "ntile", "percent_rank"),
)
def distribution_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    wd = Window.partitionBy("o_orderpriority").orderBy("o_custkey")
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.ntile(4).over(w).alias("quartile"),
        F.round(F.percent_rank().over(w), 9).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 9).alias("cume"),
        F.dense_rank().over(wd).cast("long").alias("cust_drank"),
    ).orderBy("o_orderkey")


# --------------------------------------------------------------------------
# RANGE frame windows (value-range moving aggregate, not row-count)
# --------------------------------------------------------------------------
@query(
    "range_frame_window",
    oracle="""
SELECT event_id, user_id, ts,
       COUNT(*) OVER (PARTITION BY user_id ORDER BY ts
                      RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW) AS n_last_hour
FROM events
ORDER BY event_id
""",
    tags=("window", "range-frame"),
)
def range_frame_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding count over an event-time range (true RANGE frame on a
    timestamp ordering — rows at any density, frame bounded by value)."""
    return spark.sql(
        """
        SELECT event_id, user_id, ts,
               COUNT(*) OVER (PARTITION BY user_id ORDER BY ts
                              RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW) AS n_last_hour
        FROM {events}
        ORDER BY event_id
        """,
        events=load_table(spark, sf_dir, "events"),
    )


# --------------------------------------------------------------------------
# Lateral posexplode + higher-order array functions
# --------------------------------------------------------------------------
@query(
    "posexplode_embeddings",
    oracle="""
SELECT vec_id, CAST(u.i - 1 AS INT) AS pos, ROUND(CAST(embedding[u.i] AS DOUBLE), 6) AS component
FROM embeddings, LATERAL (SELECT UNNEST(generate_series(1, len(embedding))) AS i) u
WHERE vec_id % 100 = 0 AND u.i <= 8
ORDER BY vec_id, pos
""",
    tags=("lateral", "posexplode"),
)
def posexplode_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 100 == 0)
    return (
        e.select("vec_id", F.posexplode(F.slice("embedding", 1, 8)).alias("pos", "c"))
        .select("vec_id", "pos", F.round(F.col("c").cast("double"), 6).alias("component"))
        .orderBy("vec_id", "pos")
    )


@query(
    "array_higher_order",
    oracle="""
SELECT vec_id,
       len(list_filter(embedding, x -> x > 0)) AS n_positive,
       ROUND(list_reduce(list_prepend(CAST(0 AS DOUBLE),
             list_transform(embedding, x -> CAST(ABS(x) AS DOUBLE))), (a, b) -> a + b), 6) AS l1_norm,
       ROUND(CAST(list_max(embedding) AS DOUBLE), 6) AS max_c,
       CASE WHEN len(list_filter(embedding, x -> ABS(x) > 2.5)) > 0 THEN TRUE ELSE FALSE END AS has_outlier
FROM embeddings
WHERE vec_id % 50 = 0
ORDER BY vec_id
""",
    tags=("higher-order", "array"),
)
def array_higher_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """filter/transform/aggregate/exists over the embedding arrays —
    all JVM-side lambda expressions, zero Python."""
    e = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 50 == 0)
    return e.select(
        "vec_id",
        F.size(F.filter("embedding", lambda x: x > 0)).alias("n_positive"),
        F.round(
            F.aggregate(
                F.transform("embedding", lambda x: F.abs(x.cast("double"))),
                F.lit(0.0),
                lambda a, b: a + b,
            ),
            6,
        ).alias("l1_norm"),
        F.round(F.array_max("embedding").cast("double"), 6).alias("max_c"),
        F.exists("embedding", lambda x: F.abs(x) > 2.5).alias("has_outlier"),
    ).orderBy("vec_id")


# --------------------------------------------------------------------------
# Approximate aggregates: HLL distinct + quantile sketch.
# The sketch VALUES are engine-specific, so the registered surface emits
# the exact companions plus error-bound booleans (abs(approx-exact) within
# tolerance) — fully oracle-checkable: DuckDB computes the exact values
# and literal TRUEs, so a sketch regression beyond tolerance flips a cell
# and fails the hash.
# --------------------------------------------------------------------------
@query(
    "approx_aggregates",
    oracle="""
SELECT event_type,
       COUNT(DISTINCT user_id) AS exact_users,
       ROUND(quantile_cont(CAST(value AS DOUBLE), 0.5), 4) AS exact_p50,
       TRUE AS hll_within_5pct,
       TRUE AS p50_within_10pct
FROM events
GROUP BY event_type
ORDER BY event_type
""",
    tags=("approx", "hll", "quantile-sketch"),
)
def approx_aggregates_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct + quantile-sketch median, surfaced as
    exact values + in-tolerance booleans so the DuckDB oracle can check
    them (sketch internals are engine-specific; the CLAIM — bounded
    error vs exact — is portable). At 100 TB the approx aggregates are
    the one-pass mergeable answers; their exact companions here are the
    correctness bound."""
    e = load_table(spark, sf_dir, "events")
    agg = e.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.02).alias("approx_users"),
        F.countDistinct("user_id").alias("exact_users"),
        F.expr("approx_percentile(cast(value as double), 0.5, 10000)").alias("approx_p50"),
        F.expr("percentile(cast(value as double), 0.5)").alias("exact_p50_raw"),
    )
    return agg.select(
        "event_type",
        "exact_users",
        F.round("exact_p50_raw", 4).alias("exact_p50"),
        (
            F.abs(F.col("approx_users") - F.col("exact_users"))
            <= 0.05 * F.col("exact_users")
        ).alias("hll_within_5pct"),
        # an all-NULL-value group has NULL exact AND NULL approx: the
        # claim then is "both sketches agree it's undefined" (a bare
        # <= would emit NULL and diverge from the oracle's literal TRUE)
        F.when(
            F.col("exact_p50_raw").isNull(), F.col("approx_p50").isNull()
        )
        .otherwise(
            F.abs(F.col("approx_p50") - F.col("exact_p50_raw"))
            <= 0.10 * F.abs(F.col("exact_p50_raw"))
        )
        .alias("p50_within_10pct"),
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# Histogram (width_bucket equi-width binning)
# --------------------------------------------------------------------------
@query(
    "histogram_order_values",
    oracle="""
WITH bounds AS (SELECT MIN(o_totalprice) lo, MAX(o_totalprice) hi FROM orders)
SELECT CASE WHEN hi = lo THEN 0
            ELSE LEAST(CAST(FLOOR((o_totalprice - lo) / ((hi - lo) / 20.0)) AS BIGINT), 19)
       END AS bucket,
       COUNT(*) AS n,
       ROUND(MIN(o_totalprice), 2) AS bucket_min,
       ROUND(MAX(o_totalprice), 2) AS bucket_max
FROM orders, bounds
GROUP BY 1 ORDER BY bucket
""",
    tags=("histogram", "binning"),
)
def histogram_order_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """20-bin equi-width histogram. The bounds are a 2-value broadcast
    (crossJoin of a 1-row aggregate), the binning a pure map expression:
    one shuffle total at any scale."""
    o = load_table(spark, sf_dir, "orders")
    bounds = o.agg(F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi"))
    return (
        o.crossJoin(F.broadcast(bounds))
        .withColumn(
            "bucket",
            # constant column (hi = lo) -> bin width 0: everything in
            # bucket 0 instead of an ANSI DIVIDE_BY_ZERO
            F.when(F.col("hi") == F.col("lo"), F.lit(0))
            .otherwise(
                F.least(
                    F.floor(
                        (F.col("o_totalprice") - F.col("lo"))
                        / ((F.col("hi") - F.col("lo")) / 20.0)
                    ),
                    F.lit(19),
                )
            )
            .cast("long"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("o_totalprice"), 2).alias("bucket_min"),
            F.round(F.max("o_totalprice"), 2).alias("bucket_max"),
        )
        .orderBy("bucket")
    )


# --------------------------------------------------------------------------
# UNPIVOT (wide -> long melt)
# --------------------------------------------------------------------------
@query(
    "unpivot_lineitem_charges",
    oracle="""
SELECT l_orderkey, l_linenumber, component, ROUND(amount, 4) AS amount
FROM (
    SELECT l_orderkey, l_linenumber,
           l_extendedprice AS base,
           l_extendedprice * l_discount AS discount_amt,
           l_extendedprice * (1 - l_discount) * l_tax AS tax_amt
    FROM lineitem WHERE l_orderkey % 100 = 0
) UNPIVOT (amount FOR component IN (base, discount_amt, tax_amt))
ORDER BY l_orderkey, l_linenumber, component
""",
    tags=("unpivot", "melt"),
)
def unpivot_lineitem_charges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide->long melt via stack() — the inverse of pivot, pure map-side
    (row explosion x3, no shuffle until the final sort).

    NULL cells are dropped (`amount IS NOT NULL`) to pin ONE melt
    semantics across engines: DuckDB's UNPIVOT silently excludes NULL
    cells while Spark's stack() keeps them — on any NULL charge column
    the two would disagree on row count without the explicit filter."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 100 == 0)
    wide = li.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_extendedprice").alias("base"),
        (F.col("l_extendedprice") * F.col("l_discount")).alias("discount_amt"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount")) * F.col("l_tax")).alias("tax_amt"),
    )
    return (
        wide.select(
            "l_orderkey",
            "l_linenumber",
            F.expr(
                "stack(3, 'base', base, 'discount_amt', discount_amt, 'tax_amt', tax_amt)"
            ).alias("component", "amount"),
        )
        .filter(F.col("amount").isNotNull())
        .withColumn("amount", F.round("amount", 4))
        .orderBy("l_orderkey", "l_linenumber", "component")
    )


# --------------------------------------------------------------------------
# Correlated EXISTS / NOT EXISTS
# --------------------------------------------------------------------------
@query(
    "exists_correlated",
    oracle="""
SELECT c_custkey, c_name
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o
              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
  AND NOT EXISTS (SELECT 1 FROM events e
                  WHERE e.user_id = c.c_custkey AND e.event_type = 'error')
ORDER BY c_custkey
""",
    tags=("exists", "subquery", "B23"),
)
def exists_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS/NOT EXISTS — decorrelated by Catalyst into a
    semi join + anti join (the only scalable execution)."""
    return spark.sql(
        """
        SELECT c_custkey, c_name
        FROM {customer} c
        WHERE EXISTS (SELECT 1 FROM {orders} o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
          AND NOT EXISTS (SELECT 1 FROM {events} e
                          WHERE e.user_id = c.c_custkey AND e.event_type = 'error')
        ORDER BY c_custkey
        """,
        **{t: load_table(spark, sf_dir, t) for t in ("customer", "orders", "events")},
    )


# --------------------------------------------------------------------------
# median / mode aggregates
# --------------------------------------------------------------------------
@query(
    "median_mode_aggregates",
    oracle="""
WITH agg AS (
    SELECT o_orderstatus,
           ROUND(MEDIAN(o_totalprice), 4) AS med_price,
           COUNT(DISTINCT o_custkey) AS n_customers
    FROM orders GROUP BY o_orderstatus
), pc AS (
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS c
    FROM orders GROUP BY 1, 2
), ranked AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                                 ORDER BY c DESC, o_orderpriority) AS rk
    FROM pc
)
SELECT a.o_orderstatus, a.med_price, r.o_orderpriority AS common_priority, a.n_customers
FROM agg a JOIN ranked r
  ON a.o_orderstatus IS NOT DISTINCT FROM r.o_orderstatus AND r.rk = 1
ORDER BY a.o_orderstatus
""",
    tags=("median", "mode", "distinct-agg"),
)
def median_mode_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """median (exact interpolated) + deterministic mode (Spark 4's
    mode(col, true) breaks frequency ties by lowest value; the oracle
    spells the same tie-break as an explicit count+rank) + distinct
    aggregation."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.round(F.median("o_totalprice"), 4).alias("med_price"),
            F.expr("mode(o_orderpriority, true)").alias("common_priority"),
            F.countDistinct("o_custkey").alias("n_customers"),
        )
        .select("o_orderstatus", "med_price", "common_priority", "n_customers")
        .orderBy("o_orderstatus")
    )


# --------------------------------------------------------------------------
# Statistical moments from exact decimal power sums (mergeable, exact)
# --------------------------------------------------------------------------
@query(
    "stats_moments",
    oracle="""
WITH s AS (
    SELECT event_type,
           COUNT(*) AS n,
           SUM(CAST(value AS DECIMAL(38,6))) AS s1,
           SUM(CAST(value AS DECIMAL(18,6)) * CAST(value AS DECIMAL(18,6))) AS s2
    FROM events GROUP BY event_type
)
SELECT event_type, n,
       ROUND(CAST(s1 AS DOUBLE) / n, 6) AS mean,
       ROUND((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n) / NULLIF(n - 1, 0), 4) AS variance,
       ROUND(SQRT((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n) / NULLIF(n - 1, 0)), 6) AS stddev
FROM s ORDER BY event_type
""",
    tags=("statistics", "moments"),
)
def stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variance/stddev derived from EXACT decimal power sums (n, Σx, Σx²)
    instead of the built-in var_samp: power sums are the mergeable,
    order-independent form (how any distributed/streaming engine should
    compute moments), so the result is bit-deterministic under any
    parallelism — the built-in double accumulation is not.

    The square is computed at DECIMAL(18,6): (18,6)x(18,6) -> (37,12)
    fits under both engines' 38-digit cap, so the per-row product is
    EXACT to all 12 decimal places. Squaring at (38,6) instead would
    overflow the cap and make Spark round each product back to scale 6
    (a silent 5e-7/row drift vs DuckDB's exact wider product) — the
    precision budget IS the correctness contract here. |value| < 1e12
    is the domain bound this buys it."""
    e = load_table(spark, sf_dir, "events")
    v = F.col("value").cast("decimal(38,6)")
    v18 = F.col("value").cast("decimal(18,6)")
    s = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(v).alias("s1"),
        F.sum(v18 * v18).alias("s2"),
    )
    s1d, s2d, nd = F.col("s1").cast("double"), F.col("s2").cast("double"), F.col("n")
    # sample variance is UNDEFINED at n = 1: NULL (matches var_samp), not
    # a DIVIDE_BY_ZERO throw under ANSI mode
    var = (s2d - s1d * s1d / nd) / F.nullif(nd - 1, F.lit(0))
    return s.select(
        "event_type",
        "n",
        F.round(s1d / nd, 6).alias("mean"),
        F.round(var, 4).alias("variance"),
        F.round(F.sqrt(var), 6).alias("stddev"),
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# Map-typed column operations (map build -> lookup/merge), compared as
# sorted entry arrays (maps have no canonical order to hash)
# --------------------------------------------------------------------------
@query(
    "map_event_type_counts",
    oracle="""
WITH pc AS (
    SELECT user_id, event_type, COUNT(*) AS c
    FROM events WHERE event_type IS NOT NULL
    GROUP BY user_id, event_type
)
SELECT user_id,
       array_to_string(list_sort(list(event_type || ':' || CAST(c AS VARCHAR))), ',') AS type_counts,
       len(list(event_type)) AS n_types
FROM pc
GROUP BY user_id
ORDER BY user_id
""",
    tags=("map", "collect"),
)
def map_event_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user map of event_type -> count, built with map_from_entries
    then exported as sorted 'k:v' entries (maps are unordered, so the
    comparable form is the sorted entry list; the map itself is the
    useful column downstream — O(1) lookups via map_get). NULL event
    types are excluded on BOTH engines: Spark maps cannot hold a NULL
    key (NULL_MAP_KEY throw), so the operator's declared domain is
    non-NULL keys."""
    e = load_table(spark, sf_dir, "events")
    pc = (
        e.filter(F.col("event_type").isNotNull())
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    m = pc.groupBy("user_id").agg(
        F.map_from_entries(F.collect_list(F.struct("event_type", "c"))).alias("tc")
    )
    return m.select(
        "user_id",
        F.array_join(
            F.array_sort(
                F.transform(
                    F.map_entries("tc"),
                    lambda kv: F.concat(kv["key"], F.lit(":"), kv["value"].cast("string")),
                )
            ),
            ",",
        ).alias("type_counts"),
        F.size(F.map_keys("tc")).cast("long").alias("n_types"),
    ).orderBy("user_id")


# --------------------------------------------------------------------------
# Null semantics: null-safe equality, NULLIF/NVL, NaN handling
# --------------------------------------------------------------------------
@query(
    "null_semantics",
    oracle="""
SELECT o_orderkey,
       NULLIF(o_orderstatus, 'O') AS status_or_null,
       (o_orderstatus IS NOT DISTINCT FROM NULLIF(o_orderstatus, 'O')) AS ns_eq,
       COALESCE(NULLIF(o_orderstatus, 'O'), 'OPEN') AS status_filled,
       CASE WHEN isnan(CASE WHEN o_orderkey % 7 = 0 THEN CAST('NaN' AS DOUBLE)
                            ELSE o_totalprice END)
            THEN 0.0
            ELSE ROUND(CASE WHEN o_orderkey % 7 = 0 THEN CAST('NaN' AS DOUBLE)
                            ELSE o_totalprice END, 2) END AS price_nan_fixed
FROM orders
WHERE o_orderkey % 40 = 0
ORDER BY o_orderkey
""",
    tags=("null-semantics", "nan"),
)
def null_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULLIF / null-safe <=> / COALESCE / nanvl — the null-vs-NaN
    semantics corner every SQL engine must pin down (Spark's <=> is
    DuckDB's IS NOT DISTINCT FROM; nanvl exists only Spark-side, the
    oracle spells it as an isnan CASE)."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 40 == 0)
    status_or_null = F.nullif(F.col("o_orderstatus"), F.lit("O"))
    maybe_nan = F.when(
        F.col("o_orderkey") % 7 == 0, F.expr("cast('NaN' as double)")
    ).otherwise(F.col("o_totalprice"))
    return o.select(
        "o_orderkey",
        status_or_null.alias("status_or_null"),
        F.col("o_orderstatus").eqNullSafe(status_or_null).alias("ns_eq"),
        F.coalesce(status_or_null, F.lit("OPEN")).alias("status_filled"),
        F.round(F.nanvl(maybe_nan, F.lit(0.0)), 2).alias("price_nan_fixed"),
    ).orderBy("o_orderkey")


# --------------------------------------------------------------------------
# Bitwise aggregates and scalar bit manipulation
# --------------------------------------------------------------------------
@query(
    "bitwise_ops",
    oracle="""
SELECT user_id,
       BIT_AND(CAST(event_id % 256 AS BIGINT)) AS band,
       BIT_OR(CAST(event_id % 256 AS BIGINT)) AS bor,
       BIT_XOR(CAST(event_id % 256 AS BIGINT)) AS bxor,
       CAST(user_id AS BIGINT) << 3 AS shifted,
       CAST(user_id AS BIGINT) & 255 AS low_byte
FROM events
GROUP BY user_id
ORDER BY user_id
""",
    tags=("bitwise",),
)
def bitwise_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise AND/OR/XOR aggregates (flag-column compaction: fold
    per-event feature bits into one word per user) + scalar shifts."""
    e = load_table(spark, sf_dir, "events")
    bits = (F.col("event_id") % 256).cast("long")
    return (
        e.groupBy("user_id")
        .agg(
            F.bit_and(bits).alias("band"),
            F.bit_or(bits).alias("bor"),
            F.bit_xor(bits).alias("bxor"),
        )
        .withColumn("shifted", F.expr("shiftleft(cast(user_id as bigint), 3)"))
        .withColumn("low_byte", F.col("user_id").cast("long").bitwiseAND(F.lit(255)))
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# Recursive CTE (Spark 4): per-user date grid via monotone recursion
# --------------------------------------------------------------------------
@query(
    "recursive_cte_date_grid",
    oracle="""
WITH RECURSIVE bounds AS (
    SELECT user_id, CAST(MIN(ts) AS DATE) AS day, CAST(MAX(ts) AS DATE) AS max_day
    FROM events WHERE user_id % 10 = 0 GROUP BY user_id
), grid(user_id, day, max_day) AS (
    SELECT user_id, day, max_day FROM bounds
    UNION ALL
    SELECT user_id, day + INTERVAL 1 DAY, max_day FROM grid WHERE day < max_day
)
SELECT user_id, CAST(day AS DATE) AS day FROM grid
ORDER BY user_id, day
""",
    tags=("recursive-cte", "B9"),
)
def recursive_cte_date_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's generate_series gap-fill (B9) via Spark 4's native
    WITH RECURSIVE: the fixpoint runs inside the engine. Monotone
    recursion (strictly advancing date, one parent per row) — the shape
    recursive CTEs handle without needing the UNION-dedup Spark doesn't
    support yet. sequence()+explode stays the preferred plan (one map
    stage, no iteration); this pins the recursive operator itself."""
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id") % 10 == 0)
    return spark.sql(
        """
        WITH RECURSIVE grid(user_id, day, max_day) AS (
            SELECT user_id, CAST(MIN(ts) AS DATE), CAST(MAX(ts) AS DATE)
            FROM {events} GROUP BY user_id
            UNION ALL
            SELECT user_id, date_add(day, 1), max_day FROM grid WHERE day < max_day
        )
        SELECT user_id, day FROM grid
        ORDER BY user_id, day
        """,
        events=e,
    )


# --------------------------------------------------------------------------
# Weighted sampling without replacement (Efraimidis–Spirakis A-Res).
# --------------------------------------------------------------------------
# The A-Res key: u ~ U(0,1) from a Knuth multiplicative hash of the row
# key (integer arithmetic -> bit-identical uniforms in any engine), then
# ln(u)/w with w = o_totalprice/1000. ONE dialect-neutral definition
# consumed by BOTH Spark (F.expr) and the DuckDB oracles of the two
# weighted-sample queries — the cross-engine reproducibility contract
# lives or dies on these constants staying in lockstep everywhere.
_ES_KEY_SQL = (
    "LN((((o_orderkey * 2654435761) % 4294967296) + 1) / 4294967297.0)"
    " / (o_totalprice / 1000.0)"
)


@query(
    "weighted_sample_orders",
    oracle=f"""
WITH keyed AS (
    SELECT o_orderkey, o_totalprice,
           {_ES_KEY_SQL} AS es_key
    FROM orders
    WHERE o_totalprice > 0
)
SELECT o_orderkey, o_totalprice, ROUND(es_key, 9) AS es_key
FROM keyed
ORDER BY es_key DESC, o_orderkey
LIMIT 200
""",
    tags=("sampling", "weighted", "efraimidis-spirakis", "topk"),
)
def weighted_sample_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sample WITHOUT replacement via Efraimidis–Spirakis A-Res:
    each row draws u ~ U(0,1) and the k rows with the largest u^(1/w)
    (equivalently largest ln(u)/w) form an exact weighted sample. Here
    u comes from a Knuth multiplicative hash of the key — integer
    arithmetic, so Spark and DuckDB derive bit-identical uniforms and
    the sample is reproducible across engines (the property seeded
    engine RNGs can't give).

    Scale notes: fully distributed — the per-row key is a scalar
    expression and top-k by key is TakeOrderedAndProject (per-partition
    heap + driver merge of k rows, no global sort, no shuffle of the
    full table). This is THE pattern for weighted corpus subsampling at
    100 TB: one scan, k rows out.
    """
    o = load_table(spark, sf_dir, "orders")
    # zero/negative weight = zero inclusion probability: excluded BEFORE
    # the key (w = 0 would divide by zero under ANSI; DuckDB yields NULL)
    o = o.filter(F.col("o_totalprice") > 0)
    es_key = F.expr(_ES_KEY_SQL)
    return (
        o.select("o_orderkey", "o_totalprice", F.round(es_key, 9).alias("es_key"))
        .orderBy(F.col("es_key").desc(), F.col("o_orderkey"))
        .limit(200)
    )


@query(
    "sample_stratified_exact",
    oracle=f"""
WITH u AS (
  SELECT event_type, event_id,
         ({md5_int_duck("'strat:' || CAST(event_id AS VARCHAR)")} % 1000000) / 1000000.0 AS unif
  FROM events
)
SELECT event_type,
       COUNT(*) AS n_sampled,
       MIN(event_id) AS min_event_id,
       MAX(event_id) AS max_event_id
FROM u
WHERE unif < CASE event_type WHEN 'click' THEN 0.2 WHEN 'view' THEN 0.2 ELSE 1.0 END
GROUP BY event_type
ORDER BY event_type
""",
    tags=("sampling", "stratified", "deterministic"),
)
def sample_stratified_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sample: 20% of clicks/views, 100% of the rest (the
    usual class-rebalancing step for training data). The per-row
    uniform is an arithmetic md5 hash of the row key, not a sampler RNG
    such as `DataFrame.sampleBy` —
    so the EXACT sample membership is reproducible in any engine (full
    DuckDB oracle) and stable under repartitioning, task retries, and
    Spark version changes. That reproducibility is what a training-data
    pipeline actually wants from a sampling step: the sample is a pure
    function of the data, not of the execution. Same integer-modulus
    uniform on both sides (1e6 buckets) so no float-division ulp can
    flip a membership decision. Scale: one scan, no shuffle before the
    tiny rollup; the filter is codegen'd string+hash math."""
    e = load_table(spark, sf_dir, "events")
    draw = F.expr(md5_int_spark("concat('strat:', cast(event_id as string))"))
    unif = (draw % 1000000) / 1000000.0
    frac = (
        F.when(F.col("event_type").isin("click", "view"), 0.2).otherwise(1.0)
    )
    return (
        e.filter(unif < frac)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.min("event_id").alias("min_event_id"),
            F.max("event_id").alias("max_event_id"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Skyline / Pareto frontier (dominance query)
# --------------------------------------------------------------------------
@query(
    "skyline_orders",
    oracle="""
WITH per_price AS (
    SELECT o_totalprice AS price, MAX(o_orderdate) AS mx_date
    FROM orders GROUP BY o_totalprice
), swept AS (
    SELECT price,
           MAX(mx_date) OVER (ORDER BY price DESC
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS better_price_mx_date
    FROM per_price
)
SELECT o.o_orderkey, CAST(o.o_totalprice AS DOUBLE) AS price, o.o_orderdate
FROM orders o JOIN swept s ON o.o_totalprice = s.price
WHERE s.better_price_mx_date IS NULL OR s.better_price_mx_date <= o.o_orderdate
ORDER BY price DESC, o.o_orderkey
""",
    tags=("skyline", "pareto", "dominance"),
)
def skyline_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier of orders on (price higher-better, date later-
    better): an order is on the skyline iff no other order has BOTH a
    strictly higher price and a strictly later date — the classic
    dominance operator (maxima) that SQL engines lack as a primitive.

    Sweep formulation, not the O(N^2) dominance self-join: collapse to
    per-distinct-price max dates (one shuffle), run ONE descending-price
    window whose running max(date) over STRICTLY-better prices (the
    1-PRECEDING frame on distinct prices = strictly greater) gives each
    price level its dominating date; join back and filter. The global
    window runs on |distinct prices| rows, not facts; at 100 TB shard it
    like the sweep-line: per-shard frontiers union'd then re-swept
    (frontier size is tiny, so the re-sweep is driver-trivial)."""
    o = load_table(spark, sf_dir, "orders")
    per_price = o.groupBy(F.col("o_totalprice").alias("price")).agg(
        F.max("o_orderdate").alias("mx_date")
    )
    # r12: past the source-size gate the descending-price sweep is
    # sharded by price band instead of one single-task empty-PARTITION
    # BY window over |distinct prices| rows (guide §2.5).
    # band = floor(price/8192) is monotone in price, so rows in a
    # strictly higher band have strictly higher prices: the exclusive
    # running max decomposes into a PARALLEL within-band exclusive
    # prefix max plus each band's opening max (the max over all higher
    # bands — an exclusive prefix over |bands| rows, bounded by the
    # price domain, not the corpus). greatest() skips NULLs exactly
    # like window MAX, and per_price has one row per price, so the
    # ROWS -1 frame == strictly-higher prices on both formulations —
    # values identical (pinned by tests/test_order_stats_queries.py).
    # Below the gate the plain window is kept: the distinct-price frame
    # fits one task and the band machinery is pure fixed cost
    # (measured r12: sf1 1.03 -> 1.32 s unconditionally banded).
    if use_parallel(spark, sf_dir, "orders"):
        band = F.floor(F.col("price").cast("double") / F.lit(8192.0)).alias("band")
        banded = per_price.select("price", "mx_date", band)
        w_local = Window.partitionBy("band").orderBy(F.col("price").desc()).rowsBetween(
            Window.unboundedPreceding, -1
        )
        band_offsets = (
            banded.groupBy("band")
            .agg(F.max("mx_date").alias("band_mx"))
            .select(
                "band",
                F.max("band_mx")
                .over(
                    Window.orderBy(F.col("band").desc()).rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                )
                .alias("opening_mx"),
            )
        )
        locald = banded.withColumn("local_mx", F.max("mx_date").over(w_local))
        swept = (
            # null-safe on band: a NULL price (NULL band) row must
            # survive exactly as it did under the old single window
            locald.join(
                F.broadcast(band_offsets),
                locald["band"].eqNullSafe(band_offsets["band"]),
            )
            .select(
                "price",
                F.greatest("local_mx", "opening_mx").alias("better_price_mx_date"),
            )
        )
    else:
        w = (
            Window.orderBy(F.col("price").desc())
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        swept = per_price.select(
            "price", F.max("mx_date").over(w).alias("better_price_mx_date")
        )
    return (
        o.join(swept, o.o_totalprice == swept.price)
        .filter(
            F.col("better_price_mx_date").isNull()
            | (F.col("better_price_mx_date") <= F.col("o_orderdate"))
        )
        .select(
            "o_orderkey", F.col("o_totalprice").cast("double").alias("price"), "o_orderdate"
        )
        .orderBy(F.col("price").desc(), "o_orderkey")
    )


# --------------------------------------------------------------------------
# Quantile discretization (ML feature binning)
# --------------------------------------------------------------------------
@query(
    "quantile_bin_features",
    oracle="""
WITH b AS (
    SELECT list_transform(quantile_cont(CAST(o_totalprice AS DOUBLE),
                                        [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]),
                          x -> ROUND(x, 4)) AS bs
    FROM orders
)
SELECT len(list_filter(b.bs, x -> x <= CAST(o.o_totalprice AS DOUBLE))) AS bin,
       COUNT(*) AS n,
       ROUND(MIN(CAST(o.o_totalprice AS DOUBLE)), 2) AS lo,
       ROUND(MAX(CAST(o.o_totalprice AS DOUBLE)), 2) AS hi
FROM orders o CROSS JOIN b
GROUP BY 1
ORDER BY bin
""",
    tags=("binning", "quantile", "ml-prep"),
)
def quantile_bin_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile discretization of a numeric feature (the QuantileDiscretizer
    shape): pass 1 computes the 9 interior decile boundaries (exact
    interpolated percentile, rounded to 4dp so both engines agree at the
    ulp level), pass 2 assigns each row its bin by counting boundaries
    <= value. The boundary table is ONE row -> broadcast crossJoin; bin
    assignment is a map-side array op; the rollup is a 10-group
    aggregation. At 100 TB swap percentile -> approx_percentile (same
    shape, mergeable sketch pass)."""
    o = load_table(spark, sf_dir, "orders")
    bounds = o.agg(
        F.expr(
            "transform(percentile(cast(o_totalprice as double),"
            " array(0.1D,0.2D,0.3D,0.4D,0.5D,0.6D,0.7D,0.8D,0.9D)),"
            " x -> round(x, 4))"
        ).alias("bs")
    )
    p = F.col("o_totalprice").cast("double")
    return (
        o.crossJoin(F.broadcast(bounds))
        .select(
            F.size(F.expr("filter(bs, x -> x <= cast(o_totalprice as double))"))
            .cast("long")
            .alias("bin"),
            p.alias("price"),
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("price"), 2).alias("lo"),
            F.round(F.max("price"), 2).alias("hi"),
        )
        .orderBy("bin")
    )


# --------------------------------------------------------------------------
# Weighted sampling PER STRATUM (A-Res inside each group)
# --------------------------------------------------------------------------
@query(
    "weighted_sample_per_priority",
    oracle=f"""
WITH keyed AS (
    SELECT o_orderpriority, o_orderkey, o_totalprice,
           {_ES_KEY_SQL} AS es_key
    FROM orders
    WHERE o_totalprice > 0
), ranked AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                 ORDER BY es_key DESC, o_orderkey) AS rk
    FROM keyed
)
SELECT o_orderpriority, rk, o_orderkey, o_totalprice, ROUND(es_key, 9) AS es_key
FROM ranked WHERE rk <= 20
ORDER BY o_orderpriority, rk
""",
    tags=("sampling", "weighted", "stratified", "efraimidis-spirakis"),
)
def weighted_sample_per_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum weighted sampling without replacement: the same
    hash-uniform Efraimidis-Spirakis key as `weighted_sample_orders`,
    ranked INSIDE each order priority — k weighted picks per stratum in
    one pass (class-balanced weighted subsampling).

    Scale shape: one hash exchange on the stratum key; Spark plans the
    rank<=k filter as WindowGroupLimit, so each reducer keeps a k-row
    heap per group instead of materializing and sorting whole strata —
    the per-group analog of TakeOrderedAndProject."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    es_key = F.expr(_ES_KEY_SQL)
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("es_key_raw").desc(), "o_orderkey"
    )
    return (
        o.select("o_orderpriority", "o_orderkey", "o_totalprice", es_key.alias("es_key_raw"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 20)
        .select(
            "o_orderpriority",
            "rk",
            "o_orderkey",
            "o_totalprice",
            F.round("es_key_raw", 9).alias("es_key"),
        )
        .orderBy("o_orderpriority", "rk")
    )


# --------------------------------------------------------------------------
# Discrete percentiles (percentile_disc: an ACTUAL value at the rank,
# never interpolated — the ordered-set aggregate)
# --------------------------------------------------------------------------
@query(
    "percentile_disc_battery",
    oracle="""
WITH ranked AS (
    SELECT o_orderpriority, o_totalprice,
           ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey) AS rn,
           COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
    FROM orders
)
SELECT o_orderpriority,
       CAST(MAX(CASE WHEN rn = CAST(CEIL(0.5 * n) AS BIGINT) THEN o_totalprice END) AS DOUBLE) AS p50_disc,
       CAST(MAX(CASE WHEN rn = CAST(CEIL(0.9 * n) AS BIGINT) THEN o_totalprice END) AS DOUBLE) AS p90_disc,
       CAST(MAX(CASE WHEN rn = CAST(CEIL(0.99 * n) AS BIGINT) THEN o_totalprice END) AS DOUBLE) AS p99_disc
FROM ranked
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
    tags=("percentile", "ordered-set", "disc"),
)
def percentile_disc_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percentile_disc semantics (SQL ordered-set aggregate): the value
    at rank ceil(p*n) — an ACTUAL data value, never an interpolation
    (the companion to percentile_order_values' percentile_cont). Both
    engines compute it from the same row_number/count formulation, so
    ties and rank edges agree exactly.

    Scale shape: one hash exchange on the group key shared by both
    windows and the final aggregate — rank assignment and the rollup
    never re-shuffle."""
    o = load_table(spark, sf_dir, "orders")
    wp = Window.partitionBy("o_orderpriority")
    ranked = o.select(
        "o_orderpriority",
        "o_totalprice",
        F.row_number()
        .over(wp.orderBy("o_totalprice", "o_orderkey"))
        .alias("rn"),
        F.count(F.lit(1)).over(wp).alias("n"),
    )

    def disc(p: float, name: str):
        return F.max(
            F.when(
                F.col("rn") == F.ceil(F.lit(p) * F.col("n")).cast("bigint"),
                F.col("o_totalprice"),
            )
        ).cast("double").alias(name)

    return (
        ranked.groupBy("o_orderpriority")
        .agg(disc(0.5, "p50_disc"), disc(0.9, "p90_disc"), disc(0.99, "p99_disc"))
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# Skew diagnosis: per-key cardinality profile (run BEFORE picking salts)
# --------------------------------------------------------------------------
@query(
    "skew_profile_events",
    oracle="""
WITH kc AS (
    SELECT event_type AS key, COUNT(*) AS n FROM events GROUP BY event_type
), stats AS (
    SELECT COUNT(*) AS n_keys,
           CAST(MAX(n) AS BIGINT) AS max_n,
           CAST(MIN(n) AS BIGINT) AS min_n,
           CAST(SUM(n) AS BIGINT) AS total_n,
           ROUND(quantile_cont(CAST(n AS DOUBLE), 0.5), 4) AS median_n
    FROM kc
)
SELECT n_keys, max_n, min_n, total_n, median_n,
       ROUND(max_n / median_n, 6) AS skew_factor,
       ROUND(CAST(max_n AS DOUBLE) / total_n, 6) AS top_key_share
FROM stats
""",
    tags=("skew", "diagnosis", "ops"),
)
def skew_profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pre-salting diagnosis: per-key row counts reduced to the
    numbers that decide a join/agg strategy — skew factor (hottest key
    vs median) and the hottest key's share of all rows. skew_factor ~ 1
    => plain hash partitioning is fine; >> 1 => salt the hot keys or
    rely on AQE skew-join (see salted_skew_aggregate for the fix this
    query tells you to apply).

    Scale shape: the key-count rollup is the only fact-sized shuffle;
    the profile reduces |keys| rows to one. At 100 TB you run this on a
    sample or on the partial-agg output — same plan."""
    e = load_table(spark, sf_dir, "events")
    kc = e.groupBy(F.col("event_type").alias("key")).agg(F.count(F.lit(1)).alias("n"))
    stats = kc.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.max("n").alias("max_n"),
        F.min("n").alias("min_n"),
        F.sum("n").cast("bigint").alias("total_n"),
        F.round(F.expr("percentile(cast(n as double), 0.5)"), 4).alias("median_n"),
    )
    return stats.select(
        "n_keys",
        "max_n",
        "min_n",
        "total_n",
        "median_n",
        F.round(F.col("max_n") / F.col("median_n"), 6).alias("skew_factor"),
        F.round(F.col("max_n").cast("double") / F.col("total_n"), 6).alias("top_key_share"),
    )


# --------------------------------------------------------------------------
# Whale-key (skewed) join: explicit salted join
# --------------------------------------------------------------------------
@query(
    "whale_key_salted_join",
    oracle="""
WITH whale AS (
    -- manufacture the pathology skew_profile_events diagnoses: ~90%
    -- of all orders collapse onto customer 1 (a single whale key)
    SELECT CASE WHEN o_custkey % 10 = 0 THEN o_custkey ELSE 1 END AS c_custkey,
           o_orderkey,
           CAST(o_totalprice AS DECIMAL(38,4)) AS price
    FROM orders WHERE o_custkey IS NOT NULL
)
SELECT c.c_mktsegment,
       COUNT(*) AS n_orders,
       COUNT(DISTINCT w.c_custkey) AS n_customers,
       SUM(w.price) AS total_price
FROM whale w JOIN customer c ON w.c_custkey = c.c_custkey
GROUP BY c.c_mktsegment
ORDER BY c_mktsegment NULLS FIRST
""",
    tags=("skew", "salting", "join", "B22"),
)
def whale_key_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skewed JOIN under a manufactured whale key: ~90% of orders are
    remapped to customer 1, then joined to the customer dimension via
    operators.skew.salted_join — the big side is salted by
    pmod(hash(o_orderkey), 16) and the dimension replicated 16x, so the
    whale customer's rows spread across 16 shuffle keys instead of
    funneling through one reducer. The dimension side carries a
    shuffle_hash hint to model the at-scale case (a dimension too big
    to broadcast — with a broadcast join there is no key exchange and
    no skew problem to solve); the plan's join exchanges hash on
    (c_custkey, _salt), asserted in tests/test_plan_shape.py. Join
    output is provably identical to the unsalted join (each fact row
    matches its dimension row under exactly one salt), checked against
    the plain unsalted DuckDB oracle. The companion whale-bounds test
    (tests/test_whale_keys.py) drives a 1M-row single-key fact table
    through salted_join and asserts no post-shuffle partition holds
    more than ~2/salt of the whale's rows."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey").isNotNull())
    whale = o.select(
        F.when(F.col("o_custkey") % 10 == 0, F.col("o_custkey"))
        .otherwise(F.lit(1))
        .alias("c_custkey"),
        "o_orderkey",
        F.col("o_totalprice").cast("decimal(38,4)").alias("price"),
    )
    dim = (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_mktsegment")
        .hint("shuffle_hash")
    )
    joined = salted_join(
        whale, dim, "c_custkey", salt=16, salt_source=F.col("o_orderkey")
    )
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct("c_custkey").alias("n_customers"),
            F.sum("price").alias("total_price"),
        )
        .orderBy(F.col("c_mktsegment").asc_nulls_first())
    )
