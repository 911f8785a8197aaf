"""Time-series smoothing / gap repair / distribution-balance operators.

The reference's analytics query (`queries/makerdao/assets_per_type.sql`
:41-53) already does LOCF carry-forward and gap-grid filling; these
operators extend that family with the smoothing and interpolation a
metrics warehouse needs, plus the class-balance statistics a training-
data pipeline uses to audit corpus composition.

Cross-engine determinism notes (the hard part of this module):

- EWMA: with decay 1/2 the adjusted-EWMA weights are exact powers of
  two, so ``value * (1 << rn)`` is an EXACT double scaling (mantissa
  unchanged). Numerator/denominator are then cast DECIMAL(38,6) per row
  and summed exactly; the final ratio is one double division + ROUND.
  No libm pow() anywhere — Java's Math.pow and C's pow disagree by ulps.
- Interpolation: the daily value is derived from an exact decimal SUM
  and a COUNT (one double division), so prev/next anchors are identical
  across engines; the interpolation formula is then identical double
  arithmetic on identical inputs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import load_table
from .registry import query


# --------------------------------------------------------------------------
# Trailing EWMA per user (decay 1/2, adjusted weights, last 50 events)
# --------------------------------------------------------------------------
@query(
    "ewma_user_values",
    oracle="""
WITH trail AS (
  SELECT user_id, event_id, ts, value,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn_desc
  FROM events
), ordered AS (
  SELECT user_id, event_id, value,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM trail WHERE rn_desc <= 50
), sums AS (
  SELECT user_id, event_id, rn,
         SUM(CAST(value * CAST(1::BIGINT << rn AS DOUBLE) AS DECIMAL(38,6)))
             OVER (PARTITION BY user_id ORDER BY rn
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS num,
         SUM(CAST(CAST(1::BIGINT << rn AS DOUBLE) AS DECIMAL(38,6)))
             OVER (PARTITION BY user_id ORDER BY rn
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS den
  FROM ordered
)
SELECT user_id, event_id,
       ROUND(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 6) AS ewma
FROM sums
ORDER BY user_id, rn
""",
    tags=("timeseries", "window", "ewma"),
)
def ewma_user_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adjusted EWMA (pandas ewm(alpha=0.5, adjust=True) semantics) of
    each user's event values over their trailing 50 events:

        ewma_i = sum_j w_j x_j / sum_j w_j,   w_j = (1/2)^(i-j) ∝ 2^j

    The 2^-i factor cancels in the ratio, so both running sums use the
    POSITION-ONLY weight 2^rn (rn <= 50 after the trailing filter, so
    the bigint shift never overflows and value*2^rn stays well inside
    double range). Scale: two narrow windows over the same (user_id)
    hash partitioning — one exchange, no join, no iteration."""
    e = load_table(spark, sf_dir, "events")
    w_desc = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    trailing = (
        e.withColumn("rn_desc", F.row_number().over(w_desc))
        .filter(F.col("rn_desc") <= 50)
        .drop("rn_desc")
    )
    w_asc = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = trailing.withColumn("rn", F.row_number().over(w_asc))
    weight = F.expr("CAST(shiftleft(CAST(1 AS BIGINT), rn) AS DOUBLE)")
    run = (
        Window.partitionBy("user_id")
        .orderBy("rn")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sums = ordered.select(
        "user_id",
        "event_id",
        "rn",
        F.sum((F.col("value") * weight).cast("decimal(38,6)")).over(run).alias("num"),
        F.sum(weight.cast("decimal(38,6)")).over(run).alias("den"),
    )
    return sums.select(
        "user_id",
        "event_id",
        F.round(F.col("num").cast("double") / F.col("den").cast("double"), 6).alias(
            "ewma"
        ),
        "rn",
    ).orderBy("user_id", "rn").drop("rn")


# --------------------------------------------------------------------------
# Linear interpolation over a per-user daily spine
# --------------------------------------------------------------------------
@query(
    "interpolate_daily_values",
    oracle="""
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS d,
         SUM(CAST(value AS DECIMAL(38,6))) AS v_sum, COUNT(*) AS v_n
  FROM events GROUP BY 1, 2
), spine AS (
  SELECT user_id, UNNEST(generate_series(MIN(d), MAX(d), INTERVAL 1 DAY))::DATE AS d
  FROM daily GROUP BY user_id
), grid AS (
  SELECT s.user_id, s.d,
         CAST(daily.v_sum AS DOUBLE) / daily.v_n AS v
  FROM spine s LEFT JOIN daily ON daily.user_id = s.user_id AND daily.d = s.d
), anchored AS (
  SELECT user_id, d, v,
         LAST_VALUE(v IGNORE NULLS) OVER w_prev AS prev_v,
         LAST_VALUE(CASE WHEN v IS NOT NULL THEN d END IGNORE NULLS) OVER w_prev AS prev_d,
         FIRST_VALUE(v IGNORE NULLS) OVER w_next AS next_v,
         FIRST_VALUE(CASE WHEN v IS NOT NULL THEN d END IGNORE NULLS) OVER w_next AS next_d
  FROM grid
  WINDOW
    w_prev AS (PARTITION BY user_id ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
    w_next AS (PARTITION BY user_id ORDER BY d ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT user_id, d,
       ROUND(CASE
         WHEN v IS NOT NULL THEN v
         WHEN prev_v IS NULL THEN next_v
         WHEN next_v IS NULL THEN prev_v
         ELSE prev_v + (next_v - prev_v)
              * (CAST(d - prev_d AS DOUBLE) / CAST(next_d - prev_d AS DOUBLE))
       END, 6) AS v_interp,
       (v IS NULL) AS was_gap
FROM anchored
ORDER BY user_id, d
""",
    tags=("timeseries", "interpolation", "gap-fill"),
)
def interpolate_daily_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user daily average series with linear interpolation across
    missing days (edges clamp to nearest observation — same as pandas
    interpolate(limit_direction='both')).

    Extends the reference's gap-grid trick (assets_per_type.sql:25-29
    builds a noop grid; :53 does LOCF) from step-carry to true linear
    repair. Scale shape: the spine comes from sequence()+explode (no
    join, no shuffle beyond the user_id grouping); anchors are two
    opposite-direction frames over the SAME (user_id, d) sort, so the
    second window reuses the first's exchange+sort."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "user_id", F.col("ts").cast("date").alias("d")
    ).agg(
        F.sum(F.col("value").cast("decimal(38,6)")).alias("v_sum"),
        F.count(F.lit(1)).alias("v_n"),
    )
    spine = (
        daily.groupBy("user_id")
        .agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
        .select(
            "user_id",
            F.explode(F.sequence("d0", "d1", F.expr("INTERVAL 1 DAY"))).alias("d"),
        )
    )
    grid = spine.join(daily, ["user_id", "d"], "left").select(
        "user_id",
        "d",
        (F.col("v_sum").cast("double") / F.col("v_n")).alias("v"),
    )
    w_prev = (
        Window.partitionBy("user_id")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_next = (
        Window.partitionBy("user_id")
        .orderBy("d")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    known_d = F.when(F.col("v").isNotNull(), F.col("d"))
    anchored = grid.select(
        "user_id",
        "d",
        "v",
        F.last("v", ignorenulls=True).over(w_prev).alias("prev_v"),
        F.last(known_d, ignorenulls=True).over(w_prev).alias("prev_d"),
        F.first("v", ignorenulls=True).over(w_next).alias("next_v"),
        F.first(known_d, ignorenulls=True).over(w_next).alias("next_d"),
    )
    frac = F.datediff(F.col("d"), F.col("prev_d")).cast("double") / F.datediff(
        F.col("next_d"), F.col("prev_d")
    ).cast("double")
    interp = (
        F.when(F.col("v").isNotNull(), F.col("v"))
        .when(F.col("prev_v").isNull(), F.col("next_v"))
        .when(F.col("next_v").isNull(), F.col("prev_v"))
        .otherwise(F.col("prev_v") + (F.col("next_v") - F.col("prev_v")) * frac)
    )
    return anchored.select(
        "user_id",
        "d",
        F.round(interp, 6).alias("v_interp"),
        F.col("v").isNull().alias("was_gap"),
    ).orderBy("user_id", "d")


# --------------------------------------------------------------------------
# Corpus class-balance audit: per-source language distribution stats
# --------------------------------------------------------------------------
@query(
    "class_balance_entropy",
    oracle="""
WITH counts AS (
  SELECT source, lang, COUNT(*) AS n
  FROM documents GROUP BY 1, 2
), totals AS (
  SELECT source, lang, n,
         SUM(n) OVER (PARTITION BY source) AS n_src,
         COUNT(*) OVER (PARTITION BY source) AS k_langs
  FROM counts
)
SELECT source,
       MAX(k_langs) AS k_langs,
       CAST(MAX(n_src) AS BIGINT) AS n_docs,
       ROUND(CAST(SUM(CAST(-(CAST(n AS DOUBLE)/n_src) * LN(CAST(n AS DOUBLE)/n_src)
                       AS DECIMAL(38,12))) AS DOUBLE), 6) AS entropy,
       ROUND(1.0 - CAST(SUM(CAST((CAST(n AS DOUBLE)/n_src) * (CAST(n AS DOUBLE)/n_src)
                       AS DECIMAL(38,12))) AS DOUBLE), 6) AS gini_impurity,
       ROUND(CAST(MAX(n) AS DOUBLE) / MAX(n_src), 6) AS majority_share
FROM totals
GROUP BY source
ORDER BY source
""",
    tags=("training-data", "balance", "entropy"),
)
def class_balance_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus composition audit: Shannon entropy, Gini impurity, and
    majority-class share of the language mix within each source — the
    stats a training-data pipeline monitors to keep a 100 TB corpus's
    language balance from drifting. Per-term contributions are cast to
    DECIMAL(38,12) before the SUM so the handful-of-langs addition
    order can't flip a low bit (house determinism rule)."""
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("n"))
    w_src = Window.partitionBy("source")
    totals = counts.select(
        "source",
        "lang",
        "n",
        F.sum("n").over(w_src).alias("n_src"),
        F.count(F.lit(1)).over(w_src).alias("k_langs"),
    )
    p = F.col("n").cast("double") / F.col("n_src")
    return (
        totals.groupBy("source")
        .agg(
            F.max("k_langs").alias("k_langs"),
            F.max("n_src").alias("n_docs"),
            F.round(
                F.sum((-p * F.log(p)).cast("decimal(38,12)")).cast("double"), 6
            ).alias("entropy"),
            F.round(
                F.lit(1.0) - F.sum((p * p).cast("decimal(38,12)")).cast("double"), 6
            ).alias("gini_impurity"),
            F.round(F.max("n").cast("double") / F.max("n_src"), 6).alias(
                "majority_share"
            ),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Hopping (sliding) time windows in BATCH mode (F.window multi-assign)
# --------------------------------------------------------------------------
@query(
    "hopping_window_counts",
    oracle="""
WITH bounds AS (
  SELECT time_bucket(INTERVAL 30 MINUTE, MIN(ts)) AS t0, MAX(ts) AS t1 FROM events
), starts AS (
  SELECT UNNEST(generate_series(
           (SELECT t0 FROM bounds) - INTERVAL 30 MINUTE,
           (SELECT t1 FROM bounds),
           INTERVAL 30 MINUTE)) AS w_start
), hits AS (
  SELECT s.w_start, e.event_type, e.value
  FROM events e JOIN starts s
    ON e.ts >= s.w_start AND e.ts < s.w_start + INTERVAL 60 MINUTE
)
SELECT w_start, w_start + INTERVAL 60 MINUTE AS w_end, event_type,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DECIMAL(38,6)) AS total_value
FROM hits
GROUP BY w_start, event_type
ORDER BY w_start, event_type
""",
    tags=("timeseries", "hopping-window", "batch-window"),
)
def hopping_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type counts over 60-minute windows hopping every 30
    minutes, via the native `F.window` in BATCH mode — each event lands
    in windowDuration/slideDuration = 2 windows (the multi-assignment
    the oracle reproduces with an interval join against the generated
    window-start grid).

    Scale shape: window assignment is a narrow generate (each row emits
    its 2 (window, row) pairs in place — no join, unlike the oracle's
    formulation), then one hash aggregation on (window, type). The
    shuffle carries window-struct + type keys only. Empty windows
    don't exist by construction (count >= 1), matching the oracle's
    inner join."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(
            F.window("ts", "60 minutes", "30 minutes").alias("w"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(38,6)"))
            .cast("decimal(38,6)")
            .alias("total_value"),
        )
        .select(
            F.col("w.start").alias("w_start"),
            F.col("w.end").alias("w_end"),
            "event_type",
            "n_events",
            "total_value",
        )
        .orderBy("w_start", "event_type")
    )


# --------------------------------------------------------------------------
# Native session_window in BATCH mode vs the manual gaps-and-islands
# --------------------------------------------------------------------------
@query(
    "session_window_batch",
    oracle="""
WITH flagged AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR epoch(ts) - epoch(LAG(ts) OVER w) >= 4 * 3600
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WHERE ts IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), numbered AS (
  SELECT user_id, ts, value,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS sid
  FROM flagged
)
SELECT user_id, MIN(ts) AS session_start,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DECIMAL(38,6)) AS total_value
FROM numbered
GROUP BY user_id, sid
ORDER BY user_id, session_start
""",
    tags=("timeseries", "session-window", "batch-window"),
)
def session_window_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user sessions (4h inactivity gap) via the NATIVE
    `F.session_window` in batch mode, value-checked against the manual
    gaps-and-islands formulation in DuckDB — proving the built-in's
    merge semantics (a session extends while gaps are < the timeout;
    DuckDB's twin splits at gap >= duration, the tie direction pinned
    in NOTES) coincide with the classic two-window algorithm.

    Scale shape: session_window is ONE hash exchange on user_id +
    sort; Spark merges adjacent windows in the aggregation itself —
    no LAG pre-pass, no second window stage like the manual build.
    NULL-ts rows carry no event time and belong to no session — the
    built-in drops them implicitly; the filter makes that contract
    explicit and keeps the oracle in lockstep."""
    e = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    return (
        e.groupBy("user_id", F.session_window("ts", "4 hours").alias("sw"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(38,6)"))
            .cast("decimal(38,6)")
            .alias("total_value"),
        )
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            "n_events",
            "total_value",
        )
        .orderBy("user_id", "session_start")
    )


# --------------------------------------------------------------------------
# CUSUM changepoint detection (prefix-min cumsum — pure windows)
# --------------------------------------------------------------------------
@query(
    "cusum_changepoints",
    oracle="""
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS d,
         CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DECIMAL(38,6)) AS x
  FROM events GROUP BY 1, 2
), series AS (
  SELECT user_id, d, x,
         SUM(x - CAST(50 AS DECIMAL(38,6)))
           OVER (PARTITION BY user_id ORDER BY d
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
  FROM daily
), cusum AS (
  SELECT user_id, d, x,
         CAST(s - LEAST(MIN(s) OVER (PARTITION BY user_id ORDER BY d
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                 CAST(0 AS DECIMAL(38,6)))
              AS DECIMAL(38,6)) AS cusum
  FROM series
)
SELECT user_id, d, x, cusum, cusum > 500 AS changepoint
FROM cusum
ORDER BY user_id, d
""",
    tags=("timeseries", "cusum", "changepoint"),
)
def cusum_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM over each user's daily totals: the classic
    sequential statistic s_i = max(0, s_{i-1} + x_i - k) re-expressed
    as a PURE window computation — s_i = S_i - min_{0<=j<=i} S_j where
    S is the running sum of (x - k) and the j=0 term is the EMPTY
    prefix S_0 = 0 (hence least(min, 0): without it the first day
    always reads 0 and every changepoint fires late). The recurrence
    looks inherently sequential (the trap that pushes people to
    mapPartitions loops); the prefix-min identity keeps it in two
    window passes over ONE (user_id) exchange+sort, fully
    decimal-exact, deterministic. Flags days where accumulated drift
    above k=50/day exceeds 500."""
    e = load_table(spark, sf_dir, "events")
    daily = (
        e.groupBy("user_id", F.col("ts").cast("date").alias("d"))
        .agg(
            F.sum(F.col("value").cast("decimal(38,6)"))
            .cast("decimal(38,6)")
            .alias("x")
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    k = F.lit(50).cast("decimal(38,6)")
    series = daily.withColumn("s", F.sum(F.col("x") - k).over(w))
    zero = F.lit(0).cast("decimal(38,6)")
    cusum = series.withColumn(
        "cusum",
        (F.col("s") - F.least(F.min("s").over(w), zero)).cast("decimal(38,6)"),
    )
    return cusum.select(
        "user_id", "d", "x", "cusum", (F.col("cusum") > 500).alias("changepoint")
    ).orderBy("user_id", "d")


# --------------------------------------------------------------------------
# Rolling z-score anomalies (exact decimal moments, RANGE day frame)
# --------------------------------------------------------------------------
@query(
    "rolling_zscore_anomalies",
    oracle="""
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS d,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS x
  FROM events GROUP BY 1, 2
), moments AS (
  SELECT user_id, d, x,
         COUNT(*) OVER w AS n,
         SUM(x) OVER w AS s1,
         SUM(x * x) OVER w AS s2
  FROM daily
  WINDOW w AS (PARTITION BY user_id ORDER BY d
               RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW)
)
, zcalc AS (
  SELECT user_id, d, x, n,
         CASE WHEN n >= 3
               AND CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) > 0
              THEN (CAST(x AS DOUBLE) - CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                   / SQRT((CAST(s2 AS DOUBLE)
                           - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                          / (CAST(n AS DOUBLE) - 1))
         END AS z
  FROM moments
)
SELECT user_id, d, x,
       ROUND(z, 6) AS z,
       COALESCE(ABS(z) > 2, FALSE) AS is_anomaly
FROM zcalc
ORDER BY user_id, d
""",
    tags=("timeseries", "anomaly", "rolling-window"),
)
def rolling_zscore_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day z-score of each user's daily total, anomaly at
    |z| > 2. The moments (n, Σx, Σx²) accumulate in EXACT decimal
    inside a RANGE day frame — x is DECIMAL(18,6) so x·x is an exact
    DECIMAL(37,12), no rounding anywhere until the final double
    z-ratio (identical two-operand double ops in both engines).
    Scale: one exchange on user_id; the frame is day-RANGE so sparse
    series window correctly (missing days shrink n, they don't
    shift a fixed ROWS frame)."""
    e = load_table(spark, sf_dir, "events")
    daily = (
        e.groupBy("user_id", F.col("ts").cast("date").alias("d"))
        .agg(
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("decimal(18,6)")
            .alias("x")
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.expr("datediff(d, DATE '1970-01-01')"))
        .rangeBetween(-6, 0)
    )
    m = daily.select(
        "user_id",
        "d",
        "x",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("x").over(w).alias("s1"),
        F.sum(F.col("x") * F.col("x")).over(w).alias("s2"),
    )
    n_d = F.col("n").cast("double")
    x_d = F.col("x").cast("double")
    s1_d = F.col("s1").cast("double")
    s2_d = F.col("s2").cast("double")
    # identical operation sequence to the oracle: every intermediate is
    # a two-operand double op on exact decimal inputs
    disc = s2_d - s1_d * s1_d / n_d
    z = F.when(
        (F.col("n") >= 3) & (disc > 0),
        (x_d - s1_d / n_d) / F.sqrt(disc / (n_d - F.lit(1.0))),
    )
    return m.select(
        "user_id",
        "d",
        "x",
        F.round(z, 6).alias("z"),
        F.coalesce(F.abs(z) > 2, F.lit(False)).alias("is_anomaly"),
    ).orderBy("user_id", "d")


# --------------------------------------------------------------------------
# Linear trend per user (regression aggregates from exact moments)
# --------------------------------------------------------------------------
@query(
    "regression_user_trend",
    oracle="""
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS d,
         CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DECIMAL(18,6)) AS y
  FROM events GROUP BY 1, 2
), xy AS (
  SELECT user_id,
         CAST(d - MIN(d) OVER (PARTITION BY user_id) AS BIGINT) AS x,
         y
  FROM daily
), m AS (
  SELECT user_id, COUNT(*) AS n,
         SUM(x) AS sx, SUM(x * x) AS sx2,
         SUM(y) AS sy, SUM(CAST(x AS DECIMAL(18,6)) * y) AS sxy
  FROM xy GROUP BY user_id
)
SELECT user_id, n,
       ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)),
             6) AS slope,
       ROUND((CAST(sy AS DOUBLE) - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
             * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 6) AS intercept
FROM m
WHERE n >= 3 AND n * sx2 - sx * sx <> 0
ORDER BY user_id
""",
    tags=("timeseries", "regression", "exact-moments"),
)
def regression_user_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user linear trend (slope/intercept of daily total vs days
    since first activity) computed from EXACT integer/decimal moment
    sums (n, Σx, Σx², Σy, Σxy) — the mergeable-moments formulation of
    OLS, the same decomposition the built-in regr_slope uses except
    the accumulation here is order-independent exact arithmetic, so
    the result hash-matches any engine (built-in regr_* accumulates
    doubles in partition order — nondeterministic low bits under
    parallelism, which is why it's NOT used). Doubles appear only in
    the final two-operand slope/intercept expressions.

    Scale: one (user, day) aggregation, then a user-level aggregation
    of 5 numbers — the window for x reuses nothing heavy; moments are
    map-side combinable."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy("user_id", F.col("ts").cast("date").alias("d")).agg(
        F.sum(F.col("value").cast("decimal(18,6)")).cast("decimal(18,6)").alias("y")
    )
    w_u = Window.partitionBy("user_id")
    xy = daily.select(
        "user_id",
        F.datediff(F.col("d"), F.min("d").over(w_u)).cast("bigint").alias("x"),
        "y",
    )
    m = xy.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sx2"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x").cast("decimal(18,6)") * F.col("y")).alias("sxy"),
    )
    n_d = F.col("n").cast("double")
    sx_d = F.col("sx").cast("double")
    sx2_d = F.col("sx2").cast("double")
    sy_d = F.col("sy").cast("double")
    sxy_d = F.col("sxy").cast("double")
    slope = (n_d * sxy_d - sx_d * sy_d) / (n_d * sx2_d - sx_d * sx_d)
    intercept = (sy_d - slope * sx_d) / n_d
    return (
        m.filter(
            (F.col("n") >= 3)
            & (F.col("n") * F.col("sx2") - F.col("sx") * F.col("sx") != 0)
        )
        .select(
            "user_id",
            "n",
            F.round(slope, 6).alias("slope"),
            F.round(intercept, 6).alias("intercept"),
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# Trailing-window distinct count (7-day rolling active users)
# --------------------------------------------------------------------------
@query(
    "trailing_7d_distinct_users",
    oracle="""
WITH du AS (
    SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events
), days AS (
    SELECT DISTINCT d FROM du
), contrib AS (
    SELECT days.d, du.user_id
    FROM days JOIN du ON du.d > days.d - INTERVAL 7 DAY AND du.d <= days.d
)
SELECT CAST(d AS VARCHAR) AS day, COUNT(DISTINCT user_id) AS active_7d
FROM contrib GROUP BY d ORDER BY day
""",
    tags=("timeseries", "rolling-distinct", "dau"),
)
def trailing_7d_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct active users per day — the metric windowed
    SUMs can't give (distinct does not decompose over a sliding frame).

    Formulation: collapse events to distinct (day, user) FIRST (the
    fact-sized shuffle), then explode each day-user into the <=7 report
    days it contributes to and count distinct per day. The explode
    multiplies the DEDUPLICATED day-user pairs (|users|x|days| scale),
    never raw events — at 100 TB that's the difference between 7x a
    small rollup and 7x the fact table. (The sketch alternative — daily
    HLL + 7-way merge — is sketch_hll_daily_active's pattern; this is
    the exact path.)"""
    e = load_table(spark, sf_dir, "events")
    du = e.select(F.to_date("ts").alias("d"), "user_id").distinct()
    contrib = du.select(
        F.explode(F.sequence(F.lit(0), F.lit(6))).alias("off"), "d", "user_id"
    ).select(F.date_add(F.col("d"), F.col("off")).alias("day"), "user_id")
    report_days = du.select("d").distinct()
    return (
        contrib.join(report_days, contrib.day == report_days.d)
        .groupBy(F.col("day").cast("string").alias("day"))
        .agg(F.countDistinct("user_id").alias("active_7d"))
        .orderBy("day")
    )


# --------------------------------------------------------------------------
# Seasonal decomposition (day-of-week additive model)
# --------------------------------------------------------------------------
@query(
    "seasonal_decompose_dow",
    oracle="""
WITH daily AS (
  SELECT CAST(ts AS DATE) AS d,
         SUM(CAST(value AS DECIMAL(38,6))) AS total
  FROM events GROUP BY 1
), keyed AS (
  SELECT d, total, dayofweek(d) AS dow FROM daily
), season AS (
  SELECT dow,
         CAST(SUM(total) AS DOUBLE) / COUNT(*) AS dow_mean
  FROM keyed GROUP BY dow
), gstats AS (
  SELECT CAST(SUM(total) AS DOUBLE) / COUNT(*) AS g_mean FROM keyed
)
SELECT CAST(k.d AS VARCHAR) AS d,
       k.dow,
       CAST(k.total AS DOUBLE) AS total,
       ROUND(s.dow_mean - g.g_mean, 6) AS seasonal,
       ROUND(CAST(k.total AS DOUBLE) - s.dow_mean, 6) AS residual
FROM keyed k JOIN season s ON k.dow = s.dow CROSS JOIN gstats g
ORDER BY k.d
""",
    tags=("timeseries", "seasonality", "decomposition"),
)
def seasonal_decompose_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive seasonal decomposition of the daily event-value series
    with a day-of-week seasonal component: per date, total = global mean
    + seasonal(dow) + residual. The residual column is the
    deseasonalized anomaly signal (a spike on 'an unusually busy
    Tuesday' survives; the ordinary weekend dip does not).

    Exactness: daily totals and all means aggregate in DECIMAL(38,6)
    (exact sums, counts), doubles appear only in the final scalar
    divisions/subtractions — identical IEEE ops both engines. Shapes:
    one date-keyed aggregation over the data, then |days|-sized joins —
    the seasonal table is 7 rows (broadcast), the global mean 1 row.
    dayofweek parity: Spark's dayofweek() is 1=Sunday..7, DuckDB's is
    0=Sunday..6 — normalized via (dayofweek - 1)."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date("ts").alias("d")).agg(
        F.sum(F.col("value").cast("decimal(38,6)")).alias("total")
    )
    keyed = daily.select(
        "d", "total", (F.dayofweek("d") - 1).cast("long").alias("dow")
    )
    season = F.broadcast(
        keyed.groupBy("dow").agg(
            (F.sum("total").cast("double") / F.count(F.lit(1))).alias("dow_mean")
        )
    )
    glob = F.broadcast(
        keyed.agg((F.sum("total").cast("double") / F.count(F.lit(1))).alias("g_mean"))
    )
    return (
        keyed.join(season, "dow")
        .crossJoin(glob)
        .select(
            F.col("d").cast("string").alias("d"),
            "dow",
            F.col("total").cast("double").alias("total"),
            F.round(F.col("dow_mean") - F.col("g_mean"), 6).alias("seasonal"),
            F.round(F.col("total").cast("double") - F.col("dow_mean"), 6).alias(
                "residual"
            ),
        )
        .orderBy("d")
    )
