"""Data profiling & robust statistics, wave 18 (round 6): the
inspect-before-you-trust jobs — a Deequ-style column profiler, robust
(median/MAD) outlier detection, and split-conformal prediction
intervals with measured coverage.

- `table_profile_summary`: per-column profile of the orders table in
  long form (rows, nulls, distincts, min/max) — the data-quality
  profiler every warehouse runs on landing (AWS Deequ / dbt tests
  shape). Min/max canonicalize through ROUND -> DECIMAL -> string
  (doubles) and a pinned format (timestamps) so the text is identical
  on both engines.
- `mad_robust_outliers`: per-event-type robust outlier screen using
  median and MAD (median absolute deviation, consistency-scaled by
  1.4826): |x - median| > 3 * 1.4826 * MAD. The robust twin of the
  z-score screen — immune to the outliers it hunts. Two exact-median
  passes; the per-type medians broadcast back onto one fact scan each.
- `conformal_interval_calibration`: split conformal prediction around
  a per-priority group-mean model: train/calibration/test splits by
  the md5-anchored draw, conformal radius = ceil((n_cal+1)*0.9)-th
  smallest calibration |residual| (finite-sample 90% guarantee,
  distribution-free), then the EMPIRICAL test coverage of
  prediction +- radius — the distribution-free uncertainty wrapper
  modern ML serving uses, as a distributed query.

Determinism: exact interpolated medians (identical IEEE (a+b)/2 on
both engines), decimal-cast sums under every mean, md5-anchored
splits, rank selection over unique (value, id) orders, printf
canonical formatting, NULLIF on degenerate denominators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import md5_int_duck, md5_int_spark
from ..operators.order_stats import global_row_number, use_parallel
from ..session import load_table, materialize
from .registry import query


# ---------------------------------------------------------------------------
# Deequ-style per-column profile (long form)
# ---------------------------------------------------------------------------
_TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss.SSSSSS"
_TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S.%f"


@query(
    "table_profile_summary",
    oracle=f"""
WITH t AS (SELECT * FROM orders)
SELECT 'o_orderkey' AS column_name, COUNT(*) AS n_rows,
       CAST(COUNT(*) - COUNT(o_orderkey) AS BIGINT) AS n_nulls,
       COUNT(DISTINCT o_orderkey) AS n_distinct,
       CAST(MIN(o_orderkey) AS VARCHAR) AS min_value,
       CAST(MAX(o_orderkey) AS VARCHAR) AS max_value
FROM t
UNION ALL
SELECT 'o_custkey', COUNT(*), CAST(COUNT(*) - COUNT(o_custkey) AS BIGINT),
       COUNT(DISTINCT o_custkey),
       CAST(MIN(o_custkey) AS VARCHAR), CAST(MAX(o_custkey) AS VARCHAR)
FROM t
UNION ALL
SELECT 'o_orderstatus', COUNT(*), CAST(COUNT(*) - COUNT(o_orderstatus) AS BIGINT),
       COUNT(DISTINCT o_orderstatus), MIN(o_orderstatus), MAX(o_orderstatus)
FROM t
UNION ALL
SELECT 'o_totalprice', COUNT(*), CAST(COUNT(*) - COUNT(o_totalprice) AS BIGINT),
       COUNT(DISTINCT o_totalprice),
       CAST(CAST(ROUND(MIN(o_totalprice), 6) AS DECIMAL(38,6)) AS VARCHAR),
       CAST(CAST(ROUND(MAX(o_totalprice), 6) AS DECIMAL(38,6)) AS VARCHAR)
FROM t
UNION ALL
SELECT 'o_orderdate', COUNT(*), CAST(COUNT(*) - COUNT(o_orderdate) AS BIGINT),
       COUNT(DISTINCT o_orderdate),
       strftime(MIN(o_orderdate), '{_TS_FMT_DUCK}'),
       strftime(MAX(o_orderdate), '{_TS_FMT_DUCK}')
FROM t
UNION ALL
SELECT 'o_orderpriority', COUNT(*), CAST(COUNT(*) - COUNT(o_orderpriority) AS BIGINT),
       COUNT(DISTINCT o_orderpriority), MIN(o_orderpriority), MAX(o_orderpriority)
FROM t
ORDER BY column_name
""",
    tags=("profiling", "data-quality", "deequ"),
)
def table_profile_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column landing profile of orders, long form: row count, null
    count, distinct count, canonical min/max strings — the first query
    a data platform runs on a new table (Deequ analyzer shape). ONE
    scan computes every column's aggregates in a single global
    aggregation row; the long form is a map-side stack (unpivot) of
    that 1-row result, so profiling N columns costs one pass at any
    table size. Doubles canonicalize through ROUND(6) -> DECIMAL(38,6)
    -> string and timestamps through a pinned format — identical text
    on both engines (bare double->string rendering differs, and
    printf-style formatting rounds midpoints differently: Spark
    HALF_UP vs DuckDB half-even)."""
    # r11: spread — the single-row-group testdata file otherwise runs
    # the Expand (6 countDistinct arms multiply rows 7x) and the
    # partial aggregation on ONE core. Every aggregate here is exact
    # and order-free (count/min/max/distinct), so partitioning cannot
    # change the result.
    o = load_table(spark, sf_dir, "orders", spread=True)
    cols = [
        ("o_orderkey", "bigint"),
        ("o_custkey", "bigint"),
        ("o_orderstatus", "string"),
        ("o_totalprice", "double"),
        ("o_orderdate", "timestamp"),
        ("o_orderpriority", "string"),
    ]

    def canon(c: str, typ: str, agg: str) -> F.Column:
        col = F.min(c) if agg == "min" else F.max(c)
        if typ == "double":
            # ROUND first (F.round and DuckDB ROUND agree: half-up /
            # half-away — the repo's cross-engine rounding anchor),
            # then render through DECIMAL(38,6) for fixed-scale text.
            # printf-style formatting is NOT safe here: Spark's
            # format_string rounds HALF_UP while DuckDB's printf
            # rounds half-even — dyadic midpoints like 9/128 diverge.
            return F.round(col, 6).cast("decimal(38,6)").cast("string")
        if typ == "timestamp":
            return F.date_format(col, _TS_FMT_SPARK)
        return col.cast("string")

    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c, typ in cols:
        aggs += [
            (F.count(F.lit(1)) - F.count(c)).alias(f"nulls_{c}"),
            F.countDistinct(c).alias(f"dist_{c}"),
            canon(c, typ, "min").alias(f"min_{c}"),
            canon(c, typ, "max").alias(f"max_{c}"),
        ]
    one = o.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', nulls_{c}, dist_{c}, min_{c}, max_{c}" for c, _ in cols
    )
    return (
        one.select(
            "n_rows",
            F.expr(
                f"stack({len(cols)}, {stack_args})"
                " as (column_name, n_nulls, n_distinct, min_value, max_value)"
            ),
        )
        .select(
            "column_name", "n_rows", "n_nulls", "n_distinct",
            "min_value", "max_value",
        )
        .orderBy("column_name")
    )


# ---------------------------------------------------------------------------
# Median/MAD robust outlier screen
# ---------------------------------------------------------------------------
_MAD_K = 1.4826  # consistency constant for normal data
_MAD_Z = 3.0


@query(
    "mad_robust_outliers",
    oracle=f"""
WITH med AS (
    SELECT event_type, MEDIAN(value) AS med, COUNT(value) AS n_vals
    FROM events GROUP BY event_type
),
dev AS (
    SELECT e.event_type, e.value, m.med, m.n_vals,
           ABS(e.value - m.med) AS adev
    FROM events e JOIN med m ON e.event_type IS NOT DISTINCT FROM m.event_type
),
mad AS (
    SELECT event_type, MEDIAN(adev) AS mad
    FROM dev GROUP BY event_type
)
SELECT d.event_type,
       CAST(MAX(d.n_vals) AS BIGINT) AS n_vals,
       ROUND(MAX(d.med), 6) AS median_value,
       ROUND(MAX(m.mad), 6) AS mad,
       CAST(COALESCE(SUM(CASE WHEN d.adev > {_MAD_Z} * {_MAD_K} * m.mad
                              THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_outliers,
       ROUND(CAST(COALESCE(SUM(CASE WHEN d.adev > {_MAD_Z} * {_MAD_K} * m.mad
                                    THEN 1 ELSE 0 END), 0) AS DOUBLE)
             / NULLIF(MAX(d.n_vals), 0), 6) AS outlier_rate
FROM dev d JOIN mad m ON d.event_type IS NOT DISTINCT FROM m.event_type
GROUP BY d.event_type
ORDER BY d.event_type
""",
    tags=("profiling", "outliers", "robust-statistics", "mad"),
)
def mad_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-type outlier screen: median + MAD (x 1.4826), flag
    |x - median| > 3 scaled MADs — the screen that doesn't move when
    the outliers it hunts contaminate the mean/stddev (unlike the
    z-score twin). Two exact-median aggregations over (type, value);
    the |types|-sized median tables broadcast back onto the fact scan
    via NULL-SAFE joins (a NULL event type is still a segment).
    Exact interpolated medians are identical IEEE arithmetic on both
    engines; NULL values never enter ABS (NULL adev rows count in
    neither the outlier sum nor n_vals)."""
    e = load_table(spark, sf_dir, "events")
    med = (
        e.groupBy("event_type")
        .agg(F.median("value").alias("med"), F.count("value").alias("n_vals"))
        .transform(materialize)
    )
    dev = e.alias("e").join(
        F.broadcast(med.alias("m")),
        F.expr("e.event_type <=> m.event_type"),
    ).select(
        F.col("e.event_type").alias("event_type"),
        "value",
        "med",
        "n_vals",
        F.abs(F.col("value") - F.col("med")).alias("adev"),
    )
    mad = (
        dev.groupBy("event_type")
        .agg(F.median("adev").alias("mad"))
        .transform(materialize)
    )
    flagged = dev.alias("d").join(
        F.broadcast(mad.alias("m2")),
        F.expr("d.event_type <=> m2.event_type"),
    )
    is_out = F.when(
        F.col("adev") > _MAD_Z * _MAD_K * F.col("mad"), 1
    ).otherwise(0)
    return (
        flagged.groupBy(F.col("d.event_type").alias("event_type"))
        .agg(
            F.max("n_vals").alias("n_vals"),
            F.round(F.max("med"), 6).alias("median_value"),
            F.round(F.max("mad"), 6).alias("mad"),
            F.coalesce(F.sum(is_out), F.lit(0)).alias("n_outliers"),
            F.round(
                F.coalesce(F.sum(is_out), F.lit(0)).cast("double")
                / F.expr("nullif(max(n_vals), 0)"),
                6,
            ).alias("outlier_rate"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Split-conformal prediction interval with measured coverage
# ---------------------------------------------------------------------------
_CONF_ALPHA = 0.1  # target 90% coverage
_SPLIT_SPARK = "(" + md5_int_spark("concat('conf:', cast(o_orderkey as string))") + " % 4)"
_SPLIT_DUCK = "(" + md5_int_duck("'conf:' || o_orderkey") + " % 4)"
# split: 0,1 = train (50%), 2 = calibration, 3 = test


@query(
    "conformal_interval_calibration",
    oracle=f"""
WITH base AS (
    SELECT o_orderkey, o_orderpriority, o_totalprice,
           {_SPLIT_DUCK} AS sp
    FROM orders WHERE o_totalprice IS NOT NULL
),
model AS (
    SELECT o_orderpriority,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
               / COUNT(*) AS pred
    FROM base WHERE sp <= 1 GROUP BY o_orderpriority
),
calib AS (
    SELECT ABS(b.o_totalprice - m.pred) AS r, b.o_orderkey
    FROM base b JOIN model m
      ON b.o_orderpriority IS NOT DISTINCT FROM m.o_orderpriority
    WHERE b.sp = 2
),
qsel AS (
    SELECT r AS q_radius FROM (
        SELECT r, ROW_NUMBER() OVER (ORDER BY r, o_orderkey) AS rk,
               COUNT(*) OVER () AS n_cal
        FROM calib
    ) WHERE rk = LEAST(CAST(CEIL((n_cal + 1) * {1 - _CONF_ALPHA}) AS BIGINT), n_cal)
),
test AS (
    SELECT ABS(b.o_totalprice - m.pred) AS r
    FROM base b JOIN model m
      ON b.o_orderpriority IS NOT DISTINCT FROM m.o_orderpriority
    WHERE b.sp = 3
)
SELECT (SELECT COUNT(*) FROM calib) AS n_cal,
       (SELECT COUNT(*) FROM test) AS n_test,
       ROUND((SELECT q_radius FROM qsel), 6) AS q_radius,
       ROUND((SELECT CAST(SUM(CASE WHEN r <= (SELECT q_radius FROM qsel)
                                   THEN 1 ELSE 0 END) AS DOUBLE)
                     / NULLIF(COUNT(*), 0) FROM test), 6) AS test_coverage
""",
    tags=("evaluation", "conformal", "uncertainty", "calibration"),
)
def conformal_interval_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split conformal prediction around a per-priority group-mean
    model: md5-anchored 50/25/25 train/calibration/test split, radius
    = ceil((n_cal+1)*0.9)-th smallest calibration |residual| (the
    finite-sample distribution-free 90% guarantee), and the measured
    test coverage of prediction +- radius. The distribution-free
    uncertainty wrapper around any point model — evaluated entirely
    in-engine. Model table is |priorities|-sized and broadcasts onto
    both splits (NULL-SAFE: a NULL priority is a model class); the
    rank selection runs over calibration cardinality; the radius is a
    broadcast 1-row aggregate for the test pass."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice").isNotNull())
    base = o.select(
        "o_orderkey",
        "o_orderpriority",
        "o_totalprice",
        F.expr(_SPLIT_SPARK).alias("sp"),
    ).transform(materialize)
    model = F.broadcast(
        base.filter(F.col("sp") <= 1)
        .groupBy("o_orderpriority")
        .agg(
            (
                F.sum(F.col("o_totalprice").cast("decimal(38,6)")).cast("double")
                / F.count(F.lit(1))
            ).alias("pred")
        )
    )

    def resid(sp: int) -> DataFrame:
        return (
            base.filter(F.col("sp") == sp)
            .alias("b")
            .join(
                model.alias("m"),
                F.expr("b.o_orderpriority <=> m.o_orderpriority"),
            )
            .select(
                F.abs(F.col("o_totalprice") - F.col("pred")).alias("r"),
                "o_orderkey",
            )
        )

    calib = resid(2).transform(materialize)  # count + rank select
    # every piece below is a GLOBAL aggregate (exactly one row even on
    # empty inputs) so the final crossJoin chain can never lose the
    # n_cal/q_radius columns to an empty test split
    cal_n = calib.agg(F.count(F.lit(1)).alias("n_cal"))
    # r12: the rank/count selection of the ceil((n+1)*0.9)-th residual
    # ran through a single-task empty-PARTITION BY window over the
    # whole calibration split (guide §2.5); past the source-size gate,
    # global_row_number computes the identical rank and count with a
    # range-partitioned parallel sort (calib is already materialized,
    # so the boundary-sampling pass reads the cache). Below the gate
    # the plain window is kept (measured r12: unconditionally parallel
    # regressed sf1 1.4 -> 2.6 s; both forms value-identical).
    q_row = (
        global_row_number(
            calib,
            [F.col("r"), F.col("o_orderkey")],
            rank_col="rk",
            total_col="nc",
            # calib is ~25% of ORDER ROWS (not per-entity), so the
            # single-task sort hurts a decade earlier: measured r12 at
            # sf10 (orders 238 MiB, calib 3.7M rows) the parallel form
            # is already 1.58x ahead — lower crossover
            parallel=use_parallel(sf_dir, "orders", threshold_bytes=128 * (1 << 20)),
        )
        .filter(
            F.col("rk")
            == F.least(
                F.ceil((F.col("nc") + 1) * (1 - _CONF_ALPHA)).cast("bigint"),
                F.col("nc"),
            )
        )
        .agg(F.max("r").alias("q_radius"))
    )
    test_stats = resid(3).crossJoin(F.broadcast(q_row)).agg(
        F.count(F.lit(1)).alias("n_test"),
        F.round(
            F.sum(
                F.when(F.col("r") <= F.col("q_radius"), 1).otherwise(0)
            ).cast("double")
            / F.expr("nullif(count(1), 0)"),
            6,
        ).alias("test_coverage"),
    )
    return (
        cal_n.crossJoin(F.broadcast(q_row))
        .crossJoin(F.broadcast(test_stats))
        .select(
            "n_cal",
            "n_test",
            F.round("q_radius", 6).alias("q_radius"),
            "test_coverage",
        )
    )
