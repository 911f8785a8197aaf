"""Time-series modeling, wave 22 (round 6): sequential smoothing and
robust trend — the two classical forecasters the EWMA / OLS / seasonal
family doesn't cover.

- `holt_linear_forecast`: Holt's double exponential smoothing (level +
  trend) over the daily value series, with a 7-day-ahead forecast.
  The recurrence is SEQUENTIAL (each step needs the previous state),
  which SQL windows cannot express — it runs as a LEFT FOLD over the
  collected daily array: Spark `aggregate()` with a struct state,
  DuckDB a recursive CTE — both walk the same order with the same IEEE
  ops, so the smoothed state is bit-identical. The distributed part is
  the daily rollup; the fold is O(days) on one row (days are
  calendar-bounded at any corpus size — the correct shape for a
  sequential model over a rolled-up series).
- `theil_sen_trend`: the Theil-Sen estimator — median of all pairwise
  slopes, intercept = median(y - slope*x) — the robust trend line that
  tolerates up to ~29% outliers where OLS (regression_user_trend's
  machinery) breaks. Pairs are O(days^2) with days calendar-bounded,
  so the quadratic is over series length, never corpus size.

Determinism: exact-decimal daily sums cast to double once; dyadic
smoothing constants (alpha = 0.5, beta = 0.25) so every multiply is
exact-scaled IEEE; identical left-fold order both engines; exact
interpolated medians; NULL timestamps/values excluded (no day / no
observation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import load_table, materialize
from .registry import query


_ALPHA = 0.5  # level smoothing (dyadic)
_BETA = 0.25  # trend smoothing (dyadic)
_H = 7  # forecast horizon (days)

# ---------------------------------------------------------------------------
# Holt double exponential smoothing
# ---------------------------------------------------------------------------


@query(
    "holt_linear_forecast",
    oracle=f"""
WITH RECURSIVE daily AS (
    SELECT CAST(ts AS DATE) AS d,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS y
    FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
    GROUP BY 1
),
seq AS (
    SELECT y, ROW_NUMBER() OVER (ORDER BY d) AS i,
           COUNT(*) OVER () AS n
    FROM daily
),
rec AS (
    -- Holt recurrence as a recursive CTE: identical step order and
    -- IEEE ops as the Spark fold
    SELECT 2 AS i,
           (SELECT y FROM seq WHERE i = 2) AS level,
           (SELECT y FROM seq WHERE i = 2) - (SELECT y FROM seq WHERE i = 1)
               AS trend
    WHERE (SELECT MAX(n) FROM seq) >= 2
    UNION ALL
    SELECT r.i + 1,
           {_ALPHA} * s.y + (1.0 - {_ALPHA}) * (r.level + r.trend),
           {_BETA} * (({_ALPHA} * s.y + (1.0 - {_ALPHA}) * (r.level + r.trend))
                      - r.level)
           + (1.0 - {_BETA}) * r.trend
    FROM rec r JOIN seq s ON s.i = r.i + 1
),
final AS (
    SELECT level, trend FROM rec
    WHERE i = (SELECT MAX(n) FROM seq)
)
SELECT h,
       ROUND(level + h * trend, 6) AS forecast,
       ROUND(level, 6) AS level,
       ROUND(trend, 6) AS trend
FROM final CROSS JOIN (SELECT UNNEST(generate_series(1, {_H})) AS h)
ORDER BY h
""",
    tags=("timeseries", "forecast", "holt", "smoothing"),
)
def holt_linear_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear (double exponential) smoothing over the daily
    value series, emitting the h = 1..7 day-ahead forecasts plus the
    final level/trend state. Init: level = y2, trend = y2 - y1 (the
    standard two-point start; series shorter than 2 days emit no
    rows). The recurrence is sequential — inexpressible as a window —
    so it runs as aggregate()'s left fold with a (level, trend) struct
    state over the ordered daily array; the oracle walks the SAME
    recurrence as a recursive CTE, and dyadic smoothing constants keep
    every step's IEEE arithmetic bit-identical. Scale shape: the
    daily rollup is the distributed pass; the array and fold are
    calendar-bounded (365 values/year regardless of corpus size) on a
    single row — the correct residence for sequential state."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("y")
    )
    arr = daily.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(d, y))), s -> s.y)"
        ).alias("ys")
    )
    folded = arr.select(
        F.expr(
            f"""
            CASE WHEN size(ys) >= 2 THEN
                aggregate(
                    slice(ys, 3, greatest(size(ys) - 2, 0)),
                    named_struct('level', ys[1], 'trend', ys[1] - ys[0]),
                    (acc, y) -> named_struct(
                        'level', {_ALPHA}d * y
                                 + (1.0d - {_ALPHA}d) * (acc.level + acc.trend),
                        'trend', {_BETA}d * (({_ALPHA}d * y
                                 + (1.0d - {_ALPHA}d) * (acc.level + acc.trend))
                                 - acc.level)
                                 + (1.0d - {_BETA}d) * acc.trend)
                )
            END AS st
            """
        )
    ).filter(F.col("st").isNotNull())
    return (
        folded.select(
            F.explode(F.sequence(F.lit(1), F.lit(_H))).alias("h"),
            F.col("st.level").alias("lv"),
            F.col("st.trend").alias("tr"),
        )
        .select(
            "h",
            F.round(F.col("lv") + F.col("h") * F.col("tr"), 6).alias("forecast"),
            F.round("lv", 6).alias("level"),
            F.round("tr", 6).alias("trend"),
        )
        .orderBy("h")
    )


# ---------------------------------------------------------------------------
# Theil-Sen robust trend
# ---------------------------------------------------------------------------


@query(
    "theil_sen_trend",
    oracle="""
WITH daily AS (
    SELECT CAST(ts AS DATE) AS d,
           CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS y
    FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
    GROUP BY 1
),
xy AS (
    SELECT CAST(d - (SELECT MIN(d) FROM daily) AS BIGINT) AS x, y FROM daily
),
slopes AS (
    SELECT (b.y - a.y) / (b.x - a.x) AS s
    FROM xy a JOIN xy b ON a.x < b.x
),
sl AS (SELECT MEDIAN(s) AS slope, COUNT(*) AS n_pairs FROM slopes),
ic AS (
    SELECT MEDIAN(y - (SELECT slope FROM sl) * x) AS intercept FROM xy
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM xy) AS n_days,
       CAST(sl.n_pairs AS BIGINT) AS n_pairs,
       ROUND(sl.slope, 6) AS slope,
       ROUND(ic.intercept, 6) AS intercept
FROM sl CROSS JOIN ic
""",
    tags=("timeseries", "robust-statistics", "theil-sen", "trend"),
)
def theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend of the daily value series: slope =
    median of all pairwise slopes, intercept = median(y - slope*x) —
    tolerates ~29% outliers where OLS breaks (the trend-line
    counterpart of the MAD screen). Pairs are O(days^2) with days
    calendar-bounded, so the self-join quadratic is over series
    length, never corpus size; the distributed pass is the daily
    rollup, checkpointed once for the pair join (both sides) and the
    intercept pass. Exact interpolated medians; slope denominators
    are distinct integer day offsets (never zero)."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("value").isNotNull()
    )
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.sum(F.col("value").cast("decimal(38,6)")).cast("double").alias("y")
    )
    m0 = daily.agg(F.min("d").alias("d0"))
    xy = (
        daily.crossJoin(F.broadcast(m0))
        .select(F.datediff("d", "d0").cast("bigint").alias("x"), "y")
        .transform(materialize)
    )
    slopes = (
        xy.alias("a")
        .join(xy.alias("b"), F.col("a.x") < F.col("b.x"))
        .select(
            ((F.col("b.y") - F.col("a.y")) / (F.col("b.x") - F.col("a.x"))).alias(
                "s"
            )
        )
    )
    sl = slopes.agg(
        F.median("s").alias("slope"), F.count(F.lit(1)).alias("n_pairs")
    )
    ic = (
        xy.crossJoin(F.broadcast(sl))
        .select((F.col("y") - F.col("slope") * F.col("x")).alias("r"))
        .agg(F.median("r").alias("intercept"))
    )
    nd = xy.agg(F.count(F.lit(1)).alias("n_days"))
    return (
        nd.crossJoin(F.broadcast(sl))
        .crossJoin(F.broadcast(ic))
        .select(
            "n_days",
            "n_pairs",
            F.round("slope", 6).alias("slope"),
            F.round("intercept", 6).alias("intercept"),
        )
    )
