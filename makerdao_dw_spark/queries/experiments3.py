"""Experimentation wave 19 (round 6): variance reduction and test
planning — the two readouts that turn the wave-15/17 A/B machinery
into a production experimentation platform.

- `cuped_variance_reduction`: CUPED (Controlled-experiment Using
  Pre-Experiment Data, Deng et al. 2013) — adjust the experiment
  metric by the pre-period covariate, theta = cov(x, y) / var(x)
  pooled across arms, and report per-arm adjusted means plus the
  achieved variance-reduction ratio. THE standard sensitivity boost
  every large experimentation platform applies before the z-test.
  Pre-period = events in the first half of the corpus window,
  metric = purchase count in the second half; everything from exact
  decimal moment sums (n, Sx, Sy, Sxx, Syy, Sxy), doubles only in
  final two-operand expressions.
- `ab_power_mde`: minimum detectable effect of the CURRENT experiment
  at 95% confidence / 80% power, from the realized arm sizes and the
  control conversion rate: MDE = (z_a/2 + z_b) * SE(p). The planning
  companion to `ab_conversion_ztest` — "how small a lift could this
  experiment even see?".

Determinism: md5-anchored arms (shared single definition from
experiments.py), DECIMAL(38,6) moment sums, IEEE-exact sqrt, NULLIF
on every vanishing denominator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import load_table, materialize
from .experiments import _ARM_DUCK, _ARM_SPARK
from .registry import query


_DEC = "decimal(38,6)"

# ---------------------------------------------------------------------------
# CUPED variance reduction
# ---------------------------------------------------------------------------


@query(
    "cuped_variance_reduction",
    oracle=f"""
WITH bounds AS (
    -- midpoint in INTEGER MICROSECONDS on both engines (timestamp
    -- interval halving rounds differently across engines), over the
    -- SAME assignable-unit row set the metric uses (a NULL-user row
    -- carrying the extreme ts must not move the oracle's midpoint
    -- while the Spark side ignores it)
    SELECT epoch_us(MIN(ts))
           + (epoch_us(MAX(ts)) - epoch_us(MIN(ts))) // 2 AS mid_us
    FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
),
peruser AS (
    SELECT user_id,
           MAX({_ARM_DUCK}) AS arm,
           CAST(SUM(CASE WHEN epoch_us(ts) < bounds.mid_us THEN 1 ELSE 0 END)
               AS DECIMAL(38,6)) AS x,
           CAST(SUM(CASE WHEN epoch_us(ts) >= bounds.mid_us
                          AND event_type = 'purchase' THEN 1 ELSE 0 END)
               AS DECIMAL(38,6)) AS y
    FROM events CROSS JOIN bounds
    WHERE user_id IS NOT NULL AND ts IS NOT NULL
    GROUP BY user_id
),
gm AS (
    SELECT COUNT(*) AS n,
           SUM(x) AS sx, SUM(y) AS sy,
           SUM(x * x) AS sxx, SUM(x * y) AS sxy
    FROM peruser
),
theta AS (
    SELECT (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n)
           / NULLIF(CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n, 0.0)
               AS th,
           CAST(sx AS DOUBLE) / NULLIF(n, 0) AS mean_x
    FROM gm
),
per_arm AS (
    SELECT arm, COUNT(*) AS n,
           SUM(x) AS sx, SUM(y) AS sy,
           SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy
    FROM peruser GROUP BY arm
)
SELECT arm,
       CAST(a.n AS BIGINT) AS n_users,
       ROUND(CAST(a.sy AS DOUBLE) / a.n, 6) AS mean_y,
       ROUND(CAST(a.sy AS DOUBLE) / a.n
             - t.th * (CAST(a.sx AS DOUBLE) / a.n - t.mean_x), 6) AS mean_y_adj,
       ROUND((CAST(a.syy AS DOUBLE) - CAST(a.sy AS DOUBLE) * CAST(a.sy AS DOUBLE) / a.n)
             / NULLIF(a.n - 1, 0), 6) AS var_y,
       ROUND(((CAST(a.syy AS DOUBLE) - CAST(a.sy AS DOUBLE) * CAST(a.sy AS DOUBLE) / a.n)
              - 2 * t.th * (CAST(a.sxy AS DOUBLE) - CAST(a.sx AS DOUBLE) * CAST(a.sy AS DOUBLE) / a.n)
              + t.th * t.th * (CAST(a.sxx AS DOUBLE) - CAST(a.sx AS DOUBLE) * CAST(a.sx AS DOUBLE) / a.n))
             / NULLIF(a.n - 1, 0), 6) AS var_y_adj,
       ROUND(t.th, 6) AS theta
FROM per_arm a CROSS JOIN theta t
ORDER BY arm
""",
    tags=("experiments", "cuped", "variance-reduction", "ab-test"),
)
def cuped_variance_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED (Deng et al. 2013): per-arm experiment metric (post-period
    purchase count) adjusted by the pre-period activity covariate,
    theta = cov(x,y)/var(x) POOLED across arms (the standard choice —
    theta must not depend on treatment), with per-arm raw vs adjusted
    variance so the sensitivity gain is measured, not assumed. All
    statistics derive from exact decimal moment sums (n, Sx, Sy, Sxx,
    Syy, Sxy) — order-free, mergeable, one shuffle to the per-user
    rollup, then arm-cardinality math; the corpus midpoint and theta
    are broadcast 1-row aggregates. Same md5 arm anchor as the whole
    experiments family."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    # midpoint in INTEGER MICROSECONDS: floor((min+max span)/2) is
    # identical integer math on both engines (timestamp/interval
    # halving is not — Spark's long cast is seconds)
    bounds = F.broadcast(
        ev.agg(
            (
                F.unix_micros(F.min("ts"))
                + F.floor(
                    (
                        F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))
                    )
                    / 2
                ).cast("long")
            ).alias("mid_us")
        )
    )
    peruser = (
        ev.crossJoin(bounds)
        .groupBy("user_id")
        .agg(
            F.max(F.expr(_ARM_SPARK)).alias("arm"),
            F.sum(
                F.when(F.unix_micros("ts") < F.col("mid_us"), 1).otherwise(0)
            )
            .cast(_DEC)
            .alias("x"),
            F.sum(
                F.when(
                    (F.unix_micros("ts") >= F.col("mid_us"))
                    & (F.col("event_type") == "purchase"),
                    1,
                ).otherwise(0)
            )
            .cast(_DEC)
            .alias("y"),
        )
        .transform(materialize)
    )
    gm = peruser.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    theta = F.broadcast(
        gm.select(
            (
                (
                    F.col("sxy").cast("double")
                    - F.col("sx").cast("double") * F.col("sy").cast("double") / F.col("n")
                )
                / F.expr(
                    "nullif(cast(sxx as double)"
                    " - cast(sx as double) * cast(sx as double) / n, 0.0d)"
                )
            ).alias("th"),
            (F.col("sx").cast("double") / F.expr("nullif(n, 0)")).alias("mean_x"),
        )
    )
    per_arm = peruser.groupBy("arm").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
    )
    n = F.col("n")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    sxx, syy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    sxy = F.col("sxy").cast("double")
    css_y = syy - sy * sy / n
    css_x = sxx - sx * sx / n
    ccs_xy = sxy - sx * sy / n
    nm1 = F.expr("nullif(n - 1, 0)")
    return (
        per_arm.crossJoin(theta)
        .select(
            "arm",
            n.cast("bigint").alias("n_users"),
            F.round(sy / n, 6).alias("mean_y"),
            F.round(
                sy / n - F.col("th") * (sx / n - F.col("mean_x")), 6
            ).alias("mean_y_adj"),
            F.round(css_y / nm1, 6).alias("var_y"),
            F.round(
                (
                    css_y
                    - 2 * F.col("th") * ccs_xy
                    + F.col("th") * F.col("th") * css_x
                )
                / nm1,
                6,
            ).alias("var_y_adj"),
            F.round("th", 6).alias("theta"),
        )
        .orderBy("arm")
    )


# ---------------------------------------------------------------------------
# Minimum detectable effect at the realized sample sizes
# ---------------------------------------------------------------------------
_Z_ALPHA = 1.959964  # two-sided 95%
_Z_BETA = 0.841621  # 80% power


@query(
    "ab_power_mde",
    oracle=f"""
WITH assigned AS (
    SELECT user_id,
           MAX({_ARM_DUCK}) AS arm,
           MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
    FROM events WHERE user_id IS NOT NULL GROUP BY user_id
),
agg AS (
    SELECT CAST(COALESCE(SUM(CASE WHEN arm = 0 THEN 1 END), 0) AS BIGINT) AS n_a,
           CAST(COALESCE(SUM(CASE WHEN arm = 1 THEN 1 END), 0) AS BIGINT) AS n_b,
           CAST(COALESCE(SUM(CASE WHEN arm = 0 THEN conv END), 0) AS BIGINT)
               AS conv_a
    FROM assigned
),
r AS (
    SELECT *, CAST(conv_a AS DOUBLE) / NULLIF(n_a, 0) AS p0 FROM agg
)
SELECT n_a, n_b,
       ROUND(p0, 6) AS control_rate,
       ROUND(({_Z_ALPHA} + {_Z_BETA})
             * SQRT(p0 * (1.0 - p0)
                    * (1.0 / NULLIF(n_a, 0) + 1.0 / NULLIF(n_b, 0))), 6)
           AS mde_abs,
       ROUND(({_Z_ALPHA} + {_Z_BETA})
             * SQRT(p0 * (1.0 - p0)
                    * (1.0 / NULLIF(n_a, 0) + 1.0 / NULLIF(n_b, 0)))
             / NULLIF(p0, 0.0), 6) AS mde_rel
FROM r
""",
    tags=("experiments", "power", "mde", "planning"),
)
def ab_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum detectable effect of the running experiment at 95%
    confidence / 80% power, from the realized arm sizes and the
    control conversion rate — the planning readout next to the z-test
    ("this experiment cannot see lifts below X"). Pure closed-form
    arithmetic over one per-user rollup; the z constants are shared
    literals; NULLIF everywhere a degenerate arm would divide by
    zero. NULL user_id rows are excluded (no assignable unit)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    assigned = ev.groupBy("user_id").agg(
        F.max(F.expr(_ARM_SPARK)).alias("arm"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("conv"),
    )
    agg = assigned.agg(
        F.coalesce(F.sum(F.when(F.col("arm") == 0, 1)), F.lit(0)).alias("n_a"),
        F.coalesce(F.sum(F.when(F.col("arm") == 1, 1)), F.lit(0)).alias("n_b"),
        F.coalesce(
            F.sum(F.when(F.col("arm") == 0, F.col("conv"))), F.lit(0)
        ).alias("conv_a"),
    )
    p0 = F.col("conv_a").cast("double") / F.expr("nullif(n_a, 0)")
    mde = (_Z_ALPHA + _Z_BETA) * F.sqrt(
        p0
        * (F.lit(1.0) - p0)
        * (
            F.lit(1.0) / F.expr("nullif(n_a, 0)")
            + F.lit(1.0) / F.expr("nullif(n_b, 0)")
        )
    )
    return agg.select(
        "n_a",
        "n_b",
        F.round(p0, 6).alias("control_rate"),
        F.round(mde, 6).alias("mde_abs"),
        F.round(F.when(p0 != 0.0, mde / p0), 6).alias("mde_rel"),
    )
