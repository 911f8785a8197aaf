"""Experimentation & survival analytics, wave 15 (round 6): the
product-analytics jobs that sit next to the funnel/attribution family —
censored-data survival curves, randomized-experiment readouts, and
market-basket association rules.

- `kaplan_meier_churn`: the Kaplan-Meier survival estimator over
  per-user activity spans, with right-censoring — THE standard
  churn/retention curve. A user's lifetime is first-event to
  last-event (day granularity); users still active within 7 days of
  the corpus end are censored (their true lifetime is unobserved).
  S(t) = prod_{t_i <= t} (1 - d_i / n_i) over event times; computed as
  exp of an exact-decimal window sum of per-term ln factors, with the
  all-deaths (factor = 0) edge handled by an explicit zero-counter
  window rather than ln(0).
- `ab_conversion_ztest`: a two-proportion z-test readout of a
  deterministic 50/50 experiment split (md5-anchored assignment, the
  repo's standard arithmetic hash — both engines assign identically,
  so the whole readout is value-oracled). Conversion = the user fired
  at least one 'purchase' event. z uses the pooled-variance standard
  error; significance at the two-sided 95% level.
- `market_basket_lift`: association rules over parts co-purchased in
  one order — support / confidence (both directions) / lift, with the
  apriori pruning that makes the pair join feasible at scale: only
  items above a minimum item support enter pair generation, and pairs
  below a minimum pair support are dropped before the metric joins.

Determinism: integer counts everywhere, doubles derived by +,-,*,/ and
IEEE-exact sqrt; ln terms are quantized to DECIMAL(38,12) before the
window sum (suppressing the known cross-engine 1-ulp ln drift); one
ROUND per emitted double; NULLIF on every vanishing denominator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import md5_int_duck, md5_int_spark
from ..session import load_table, materialize
from .basket_common import basket_ctes_duck, basket_pair_join, frequent_baskets
from .registry import query


# ---------------------------------------------------------------------------
# Kaplan-Meier survival over per-user activity spans
# ---------------------------------------------------------------------------
_KM_CENSOR_DAYS = 7  # active within 7 days of corpus end => censored


@query(
    "kaplan_meier_churn",
    oracle=f"""
WITH peruser AS (
    SELECT user_id,
           CAST(MIN(ts) AS DATE) AS first_d,
           CAST(MAX(ts) AS DATE) AS last_d
    FROM events GROUP BY user_id
),
anchor AS (SELECT MAX(last_d) AS gmax FROM peruser),
spans AS (
    SELECT user_id,
           last_d - first_d AS dur,
           CASE WHEN anchor.gmax - last_d > {_KM_CENSOR_DAYS}
                THEN 1 ELSE 0 END AS churned
    FROM peruser, anchor
    WHERE last_d IS NOT NULL
),
bytime AS (
    SELECT dur AS t_days,
           CAST(SUM(churned) AS BIGINT) AS n_events,
           CAST(SUM(1 - churned) AS BIGINT) AS n_censored
    FROM spans GROUP BY dur
),
curve AS (
    SELECT t_days, n_events, n_censored,
           SUM(n_events + n_censored) OVER (
               ORDER BY t_days
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
           ) AS n_at_risk
    FROM bytime
),
terms AS (
    SELECT *,
           CAST(CASE WHEN n_events < n_at_risk THEN
                    LN(CAST(n_at_risk - n_events AS DOUBLE) / n_at_risk)
                ELSE 0.0 END AS DECIMAL(38,12)) AS ln_term,
           CASE WHEN n_events = n_at_risk THEN 1 ELSE 0 END AS is_zero
    FROM curve
)
SELECT t_days,
       CAST(n_at_risk AS BIGINT) AS n_at_risk,
       n_events, n_censored,
       CASE WHEN SUM(is_zero) OVER (ORDER BY t_days) > 0 THEN 0.0
            ELSE ROUND(EXP(CAST(SUM(ln_term) OVER (ORDER BY t_days)
                                AS DOUBLE)), 6)
       END AS survival
FROM terms ORDER BY t_days
""",
    tags=("experiments", "survival", "kaplan-meier", "churn"),
)
def kaplan_meier_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier churn survival: lifetime = first-to-last event day
    span per user; a user whose last event is within 7 days of the
    corpus end is right-censored (churn unobserved). S(t) steps down by
    (1 - d_t / n_t) at each duration with d_t observed churns, n_t the
    at-risk count — computed as exp(window-SUM of DECIMAL(38,12) ln
    factors) so the running product is exact-order-free; an interval
    where everyone at risk churns (factor 0) is excluded from the ln
    sum and zeroes every later point via a cumulative flag instead of
    reaching ln(0). One shuffle builds the per-user span table; the
    duration rollup and all four windows run over duration cardinality
    (day-granular, bounded by corpus span — ~thousands of rows at ANY
    corpus size, so the single-partition windows are safe); the censor
    anchor is a broadcast 1-row aggregate off the checkpointed span
    rollup (two consumers)."""
    ev = load_table(spark, sf_dir, "events")
    peruser = (
        ev.groupBy("user_id")
        .agg(
            F.to_date(F.min("ts")).alias("first_d"),
            F.to_date(F.max("ts")).alias("last_d"),
        )
        .transform(materialize)
    )
    anchor = F.broadcast(peruser.agg(F.max("last_d").alias("gmax")))
    spans = (
        peruser.filter(F.col("last_d").isNotNull())
        .crossJoin(anchor)
        .select(
            F.datediff("last_d", "first_d").alias("dur"),
            F.when(
                F.datediff("gmax", "last_d") > _KM_CENSOR_DAYS, 1
            ).otherwise(0).alias("churned"),
        )
    )
    bytime = spans.groupBy(F.col("dur").alias("t_days")).agg(
        F.sum("churned").alias("n_events"),
        F.sum(F.lit(1) - F.col("churned")).alias("n_censored"),
    )
    w_tail = Window.orderBy("t_days").rowsBetween(
        Window.currentRow, Window.unboundedFollowing
    )
    curve = bytime.withColumn(
        "n_at_risk", F.sum(F.col("n_events") + F.col("n_censored")).over(w_tail)
    )
    terms = curve.select(
        "t_days",
        "n_at_risk",
        "n_events",
        "n_censored",
        F.expr(
            "cast(case when n_events < n_at_risk then"
            " ln(cast(n_at_risk - n_events as double) / n_at_risk)"
            " else 0.0d end as decimal(38,12))"
        ).alias("ln_term"),
        F.when(F.col("n_events") == F.col("n_at_risk"), 1)
        .otherwise(0)
        .alias("is_zero"),
    )
    w_cum = Window.orderBy("t_days").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return terms.select(
        "t_days",
        "n_at_risk",
        "n_events",
        "n_censored",
        F.when(F.sum("is_zero").over(w_cum) > 0, F.lit(0.0))
        .otherwise(
            F.round(F.exp(F.sum("ln_term").over(w_cum).cast("double")), 6)
        )
        .alias("survival"),
    ).orderBy("t_days")


# ---------------------------------------------------------------------------
# Two-proportion z-test over a deterministic 50/50 split
# ---------------------------------------------------------------------------
_Z_CRIT = 1.959964  # two-sided 95%
_ARM_SPARK = md5_int_spark("concat('ab:', cast(user_id as string))") + " % 2"
_ARM_DUCK = md5_int_duck("'ab:' || user_id") + " % 2"


@query(
    "ab_conversion_ztest",
    oracle=f"""
WITH assigned AS (
    SELECT user_id,
           MAX({_ARM_DUCK}) AS arm,
           MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
    FROM events GROUP BY user_id
),
agg AS (
    SELECT CAST(COALESCE(SUM(CASE WHEN arm = 0 THEN 1 END), 0) AS BIGINT) AS n_a,
           CAST(COALESCE(SUM(CASE WHEN arm = 1 THEN 1 END), 0) AS BIGINT) AS n_b,
           CAST(COALESCE(SUM(CASE WHEN arm = 0 THEN conv END), 0) AS BIGINT) AS conv_a,
           CAST(COALESCE(SUM(CASE WHEN arm = 1 THEN conv END), 0) AS BIGINT) AS conv_b
    FROM assigned
),
rates AS (
    SELECT *,
           CAST(conv_a AS DOUBLE) / NULLIF(n_a, 0) AS ra,
           CAST(conv_b AS DOUBLE) / NULLIF(n_b, 0) AS rb,
           CAST(conv_a + conv_b AS DOUBLE) / NULLIF(n_a + n_b, 0) AS pp
    FROM agg
)
SELECT n_a, n_b, conv_a, conv_b,
       ROUND(ra, 6) AS rate_a,
       ROUND(rb, 6) AS rate_b,
       ROUND(ra - rb, 6) AS abs_lift,
       ROUND((ra - rb) / NULLIF(SQRT(pp * (1.0 - pp)
             * (1.0 / NULLIF(n_a, 0) + 1.0 / NULLIF(n_b, 0))), 0.0), 6)
           AS z_stat,
       ABS((ra - rb) / NULLIF(SQRT(pp * (1.0 - pp)
             * (1.0 / NULLIF(n_a, 0) + 1.0 / NULLIF(n_b, 0))), 0.0))
           > {_Z_CRIT} AS significant_95
FROM rates
""",
    tags=("experiments", "ab-test", "statistics"),
)
def ab_conversion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test over a deterministic 50/50 user split:
    arm = md5('ab:'||user_id) parity (the repo's arithmetic-hash
    anchor — both engines assign identically, so the full experiment
    readout is value-oracled; a live system would swap the anchor for
    its assignment service). Conversion = any 'purchase' event. z =
    (ra - rb) / sqrt(p(1-p)(1/n_a + 1/n_b)) with pooled p — doubles
    derived only by +,-,*,/ and IEEE-exact sqrt, so bit-identical
    cross-engine. One shuffle to the per-user rollup, then a global
    aggregate: scales as a single pass at any corpus size. Degenerate
    arms (empty corpus, one-arm corpus) surface as NULL rate/z rather
    than a division error (NULLIF on every denominator)."""
    ev = load_table(spark, sf_dir, "events")
    assigned = ev.groupBy("user_id").agg(
        F.max(F.expr(_ARM_SPARK)).alias("arm"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("conv"),
    )
    agg = assigned.agg(
        F.coalesce(
            F.sum(F.when(F.col("arm") == 0, 1)), F.lit(0)
        ).alias("n_a"),
        F.coalesce(
            F.sum(F.when(F.col("arm") == 1, 1)), F.lit(0)
        ).alias("n_b"),
        F.coalesce(
            F.sum(F.when(F.col("arm") == 0, F.col("conv"))), F.lit(0)
        ).alias("conv_a"),
        F.coalesce(
            F.sum(F.when(F.col("arm") == 1, F.col("conv"))), F.lit(0)
        ).alias("conv_b"),
    )
    ra = F.col("conv_a").cast("double") / F.expr("nullif(n_a, 0)")
    rb = F.col("conv_b").cast("double") / F.expr("nullif(n_b, 0)")
    pp = (F.col("conv_a") + F.col("conv_b")).cast("double") / F.expr(
        "nullif(n_a + n_b, 0)"
    )
    se = F.sqrt(
        pp
        * (F.lit(1.0) - pp)
        * (
            F.lit(1.0) / F.expr("nullif(n_a, 0)")
            + F.lit(1.0) / F.expr("nullif(n_b, 0)")
        )
    )
    z = (ra - rb) / F.expr("nullif(se, 0.0d)")
    return (
        agg.withColumn("se", se)
        .select(
            "n_a",
            "n_b",
            "conv_a",
            "conv_b",
            F.round(ra, 6).alias("rate_a"),
            F.round(rb, 6).alias("rate_b"),
            F.round(ra - rb, 6).alias("abs_lift"),
            F.round(z, 6).alias("z_stat"),
            (F.abs(z) > _Z_CRIT).alias("significant_95"),
        )
    )


# ---------------------------------------------------------------------------
# Market-basket association rules with apriori pruning
# ---------------------------------------------------------------------------
_MB_MIN_ITEM = 5  # item must appear in >= 5 baskets to enter pair gen
_MB_MIN_PAIR = 2  # rule must be observed in >= 2 baskets
_MB_TOP = 50


@query(
    "market_basket_lift",
    oracle=f"""
WITH {basket_ctes_duck(_MB_MIN_ITEM)},
n_orders AS (SELECT COUNT(DISTINCT o) AS n FROM baskets),
pairs AS (
    SELECT b1.p AS p1, b2.p AS p2, COUNT(*) AS n_pair
    FROM fb b1
    JOIN fb b2 ON b1.o = b2.o AND b1.p < b2.p
    GROUP BY 1, 2
    HAVING COUNT(*) >= {_MB_MIN_PAIR}
)
SELECT p1, p2,
       CAST(n_pair AS BIGINT) AS n_pair,
       CAST(f1.n_item AS BIGINT) AS n_p1,
       CAST(f2.n_item AS BIGINT) AS n_p2,
       ROUND(CAST(n_pair AS DOUBLE) / n_orders.n, 6) AS support,
       ROUND(CAST(n_pair AS DOUBLE) / f1.n_item, 6) AS conf_p1_p2,
       ROUND(CAST(n_pair AS DOUBLE) / f2.n_item, 6) AS conf_p2_p1,
       ROUND(CAST(n_pair AS DOUBLE) * n_orders.n
             / (CAST(f1.n_item AS DOUBLE) * f2.n_item), 6) AS lift
FROM pairs
JOIN freq f1 ON pairs.p1 = f1.p
JOIN freq f2 ON pairs.p2 = f2.p
CROSS JOIN n_orders
ORDER BY CAST(n_pair AS DOUBLE) * n_orders.n
         / (CAST(f1.n_item AS DOUBLE) * f2.n_item) DESC, p1, p2
LIMIT {_MB_TOP}
""",
    tags=("experiments", "association-rules", "market-basket"),
)
def market_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over parts bought together in one order:
    support, confidence in both rule directions, and lift for the top
    50 pairs by lift. The scale story is the apriori pruning: items
    below {_MB_MIN_ITEM} baskets never enter pair generation (the
    frequent-item semi-join), and pairs below {_MB_MIN_PAIR}
    observations drop before the metric joins — so the quadratic
    blowup is bounded by basket width times frequent-item density,
    not corpus size. The pair self-join keys on the (uniform) order
    key; pair counting shuffles on (p1, p2); the basket total is a
    broadcast 1-row aggregate; the frequent-item table joins back
    twice on the part key. All metrics are integer-count ratios:
    bit-identical doubles on both engines. The basket build is the
    SHARED scaffold (basket_common.py) — label_propagation_communities
    walks the same graph."""
    li = load_table(spark, sf_dir, "lineitem")
    baskets, freq, b_freq = frequent_baskets(li, _MB_MIN_ITEM)
    n_orders = F.broadcast(
        baskets.select("o").distinct().agg(F.count(F.lit(1)).alias("n"))
    )
    pairs = (
        basket_pair_join(b_freq)
        .select(F.col("b1.p").alias("p1"), F.col("b2.p").alias("p2"))
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .filter(F.col("n_pair") >= _MB_MIN_PAIR)
    )
    f1 = freq.select(F.col("p").alias("p1"), F.col("n_item").alias("n_p1"))
    f2 = freq.select(F.col("p").alias("p2"), F.col("n_item").alias("n_p2"))
    lift = (
        F.col("n_pair").cast("double")
        * F.col("n")
        / (F.col("n_p1").cast("double") * F.col("n_p2"))
    )
    return (
        pairs.join(f1, "p1")
        .join(f2, "p2")
        .crossJoin(n_orders)
        .select(
            "p1",
            "p2",
            "n_pair",
            "n_p1",
            "n_p2",
            F.round(F.col("n_pair").cast("double") / F.col("n"), 6).alias(
                "support"
            ),
            F.round(
                F.col("n_pair").cast("double") / F.col("n_p1"), 6
            ).alias("conf_p1_p2"),
            F.round(
                F.col("n_pair").cast("double") / F.col("n_p2"), 6
            ).alias("conf_p2_p1"),
            F.round(lift, 6).alias("lift"),
            lift.alias("_lift_raw"),
        )
        .orderBy(F.col("_lift_raw").desc(), "p1", "p2")
        .limit(_MB_TOP)
        .drop("_lift_raw")
    )
