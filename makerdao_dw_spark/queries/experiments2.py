"""Experimentation wave 17 (round 6): resampling inference and the
experiment-health gates that surround the wave-15 A/B readout.

- `bootstrap_blb_ci`: Bag-of-Little-Bootstraps confidence interval for
  the mean order value (Kleiner et al., "A Scalable Bootstrap for
  Massive Data"): the corpus hash-splits into s disjoint subsamples;
  each runs B multinomial-weighted bootstrap replicates; the replicate
  means' rank quantiles give a per-subsample CI, and the BLB estimate
  is the average of the per-subsample bounds (computed by the reader —
  the query emits the per-subsample rows). At 100 TB, production BLB
  draws s subsamples of size n^0.6 instead of a full partition (one
  hash-range predicate swap); the weighting, replicate grain, and
  rank-quantile machinery here are exactly the at-scale shapes.
  Multinomial weights are approximated by iid Poisson(1) draws — the
  standard distributed-bootstrap trick — realized as a deterministic
  inverse-CDF CASE ladder over the md5-anchored uniform, so both
  engines draw the SAME weights and the whole resampling procedure is
  value-oracled (swap the anchor for a real RNG without changing the
  plan).
- `ab_uplift_by_segment`: the wave-15 z-test readout disaggregated by
  user-activity quartile — the heterogeneous-treatment-effect table
  that catches a flat topline hiding segment-level movement. Same
  deterministic md5 arm assignment as `ab_conversion_ztest`.
- `ab_srm_check`: the sample-ratio-mismatch gate — chi-square of the
  realized arm counts against the designed 50/50 split, alarmed at
  |z| > 3 (the industry SRM threshold). The first thing a trustworthy
  experimentation platform checks before reading any metric.

Determinism: integer counts and md5-anchored draws; doubles from
+,-,*,/ and IEEE-exact sqrt; replicate means aggregate in
DECIMAL(38,6) before ONE double division; per-subsample summaries
quantize replicate means to DECIMAL(38,12) before averaging; NULLIF on
every vanishing denominator; every rank window orders on (value, id).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import md5_int_duck, md5_int_spark
from ..operators.order_stats import global_ntile, use_parallel
from ..session import load_table
from .experiments import _ARM_DUCK, _ARM_SPARK
from .registry import query


# ---------------------------------------------------------------------------
# Bag-of-Little-Bootstraps CI for the mean order value
# ---------------------------------------------------------------------------
_BLB_S = 4  # subsamples
_BLB_B = 40  # bootstrap replicates per subsample
_BLB_LO_RK = 2  # ~2.5% rank of 40 (clamped to the surviving count)
_U_DENOM = 1 << 20

# Poisson(1) CDF breakpoints (cumulative e^-1 / k! sums) for the
# inverse-CDF ladder; identical double literals on both engines.
_POIS_CDF = (
    0.36787944117144233,  # k = 0
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
    0.9994058151824183,
    0.9999167588507119,  # k = 6; else 7
)


def _pois_case(u: str) -> str:
    """Inverse-CDF Poisson(1) draw as a CASE ladder (shared SQL text —
    both engines parse the same expression over the same uniform)."""
    branches = " ".join(
        f"WHEN {u} < {c!r} THEN {k}" for k, c in enumerate(_POIS_CDF)
    )
    return f"(CASE {branches} ELSE 7 END)"


# md5-anchored uniform in [2^-20, 1), namespaced per (replicate, order)
_BLB_U_SPARK = (
    "((" + md5_int_spark("concat('blb:', cast(b as string), ':', cast(o_orderkey as string))")
    + f" % {_U_DENOM - 1} + 1) / cast({_U_DENOM} as double))"
)
_BLB_U_DUCK = (
    "((" + md5_int_duck("'blb:' || b || ':' || o_orderkey")
    + f" % {_U_DENOM - 1} + 1) / CAST({_U_DENOM} AS DOUBLE))"
)
_SUB_SPARK = md5_int_spark("concat('blb_s:', cast(o_orderkey as string))") + f" % {_BLB_S}"
_SUB_DUCK = md5_int_duck("'blb_s:' || o_orderkey") + f" % {_BLB_S}"


@query(
    "bootstrap_blb_ci",
    oracle=f"""
WITH sub AS (
    SELECT o_orderkey, o_totalprice, {_SUB_DUCK} AS s FROM orders
),
rep AS (
    SELECT s, o_orderkey, o_totalprice, b,
           {_pois_case(_BLB_U_DUCK)} AS w
    FROM sub CROSS JOIN (SELECT UNNEST(generate_series(1, {_BLB_B})) AS b)
),
means AS (
    SELECT s, b,
           CAST(SUM(CAST(w * o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
               / NULLIF(SUM(w), 0) AS m,
           CAST(SUM(w) AS BIGINT) AS n_weight
    FROM rep GROUP BY s, b
),
ranked AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY s ORDER BY m, b) AS rk,
           COUNT(*) OVER (PARTITION BY s) AS cnt
    FROM means WHERE m IS NOT NULL
)
SELECT s AS subsample,
       CAST(COUNT(*) AS BIGINT) AS n_reps,
       ROUND(CAST(SUM(CAST(m AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*), 6)
           AS mean_boot,
       ROUND(MIN(CASE WHEN rk = LEAST({_BLB_LO_RK}, cnt) THEN m END), 6)
           AS ci_lo,
       ROUND(MIN(CASE WHEN rk = GREATEST(cnt - 1, 1) THEN m END), 6)
           AS ci_hi
FROM ranked GROUP BY s ORDER BY s
""",
    tags=("experiments", "bootstrap", "blb", "statistics"),
)
def bootstrap_blb_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bag-of-Little-Bootstraps 95% CI for the mean order value:
    s = {_BLB_S} hash-disjoint subsamples x B = {_BLB_B} bootstrap
    replicates, multinomial weights ~ iid Poisson(1) from the
    md5-anchored uniform (deterministic — the full resampling
    procedure is value-oracled). Replicate means aggregate
    SUM(DECIMAL(38,6) w*x) / SUM(w) — exact numerator, one double
    division; the CI is the (2, n-1) rank pair of the surviving
    (non-degenerate) replicate means per subsample — (2, 39) at the
    full B. Data motion: the B-fold fan-out is
    map-side (explode of a literal sequence), the only shuffle keys on
    (subsample, replicate), and every window runs over s*B rows. At
    100 TB production BLB draws n^0.6-sized subsamples instead of
    full hash partitions — one predicate swap, same plan."""
    o = load_table(spark, sf_dir, "orders")
    # r11: spread the narrow projection BEFORE the B-fold fan-out. The
    # testdata ships one row group per file, so without this the entire
    # resampling CPU (B+1 = 41 md5 draws per order) ran on ONE core —
    # measured 11.1 s at sf0.1 against ~1 s spread (guide §2.5 "input
    # skew: one huge unsplittable file — repartition immediately after
    # the read"). Projecting first keeps the exchange to 3 narrow
    # columns; every aggregate downstream is order-free (exact decimal
    # sums, integer counts), so the result is partitioning-invariant.
    sub = (
        o.select("o_orderkey", "o_totalprice")
        .repartition(spark.sparkContext.defaultParallelism)
        .select("o_orderkey", "o_totalprice", F.expr(_SUB_SPARK).alias("s"))
    )
    rep = sub.select(
        "s",
        "o_orderkey",
        "o_totalprice",
        F.explode(F.sequence(F.lit(1), F.lit(_BLB_B))).alias("b"),
    ).withColumn("w", F.expr(_pois_case(_BLB_U_SPARK)))
    means = rep.groupBy("s", "b").agg(
        (
            F.sum(
                (F.col("w") * F.col("o_totalprice")).cast("decimal(38,6)")
            ).cast("double")
            / F.expr("nullif(sum(w), 0)")
        ).alias("m"),
        F.sum("w").alias("n_weight"),
    )
    # Zero-total-weight replicates (possible on tiny subsamples) have
    # a NULL mean: they are DEGENERATE draws, excluded from both the
    # bootstrap average and the rank quantiles — n_reps reports the
    # surviving count and the quantile ranks clamp to it, so a thin
    # subsample still emits a CI from what exists (review, wave 17).
    ws = Window.partitionBy("s")
    ranked = (
        means.filter(F.col("m").isNotNull())
        .withColumn("rk", F.row_number().over(ws.orderBy("m", "b")))
        .withColumn("cnt", F.count(F.lit(1)).over(ws))
    )
    return (
        ranked.groupBy(F.col("s").alias("subsample"))
        .agg(
            F.count(F.lit(1)).alias("n_reps"),
            F.round(
                F.sum(F.col("m").cast("decimal(38,12)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_boot"),
            F.round(
                F.min(
                    F.when(
                        F.col("rk") == F.least(F.lit(_BLB_LO_RK), F.col("cnt")),
                        F.col("m"),
                    )
                ),
                6,
            ).alias("ci_lo"),
            F.round(
                F.min(
                    F.when(
                        F.col("rk")
                        == F.greatest(F.col("cnt") - 1, F.lit(1)),
                        F.col("m"),
                    )
                ),
                6,
            ).alias("ci_hi"),
        )
        .orderBy("subsample")
    )


# ---------------------------------------------------------------------------
# Per-segment uplift readout of the deterministic A/B split.
# _ARM_SPARK/_ARM_DUCK are IMPORTED from experiments.py — the uplift,
# SRM, and topline z-test queries must describe ONE experiment, so the
# anchor has exactly one definition.
# ---------------------------------------------------------------------------
_SEG_N = 4


@query(
    "ab_uplift_by_segment",
    oracle=f"""
WITH assigned AS (
    SELECT user_id,
           MAX({_ARM_DUCK}) AS arm,
           MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv,
           COUNT(*) AS n_events
    FROM events GROUP BY user_id
),
seg AS (
    SELECT *, NTILE({_SEG_N}) OVER (ORDER BY n_events,
                                    user_id NULLS LAST) AS segment
    FROM assigned
),
agg AS (
    SELECT segment,
           CAST(COALESCE(SUM(CASE WHEN arm = 0 THEN 1 END), 0) AS BIGINT) AS n_a,
           CAST(COALESCE(SUM(CASE WHEN arm = 1 THEN 1 END), 0) AS BIGINT) AS n_b,
           CAST(COALESCE(SUM(CASE WHEN arm = 0 THEN conv END), 0) AS BIGINT)
               AS conv_a,
           CAST(COALESCE(SUM(CASE WHEN arm = 1 THEN conv END), 0) AS BIGINT)
               AS conv_b
    FROM seg GROUP BY segment
),
rates AS (
    SELECT *,
           CAST(conv_a AS DOUBLE) / NULLIF(n_a, 0) AS ra,
           CAST(conv_b AS DOUBLE) / NULLIF(n_b, 0) AS rb,
           CAST(conv_a + conv_b AS DOUBLE) / NULLIF(n_a + n_b, 0) AS pp
    FROM agg
)
SELECT segment, n_a, n_b, conv_a, conv_b,
       ROUND(ra, 6) AS rate_a,
       ROUND(rb, 6) AS rate_b,
       ROUND(ra - rb, 6) AS abs_lift,
       ROUND((ra - rb) / NULLIF(SQRT(pp * (1.0 - pp)
             * (1.0 / NULLIF(n_a, 0) + 1.0 / NULLIF(n_b, 0))), 0.0), 6)
           AS z_stat
FROM rates ORDER BY segment
""",
    tags=("experiments", "ab-test", "uplift", "segmentation"),
)
def ab_uplift_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The A/B readout disaggregated by user-activity quartile
    (NTILE(4) of per-user event count over a unique (n_events,
    user_id) order) — the heterogeneous-treatment-effect table that
    catches a flat topline hiding segment movement. Arm assignment is
    the SAME md5 anchor as ab_conversion_ztest, so the two queries
    describe one experiment. One shuffle to the per-user rollup; the
    quantile window runs over user cardinality; per-segment z uses
    the pooled-variance SE with NULLIF on every degenerate
    denominator."""
    ev = load_table(spark, sf_dir, "events")
    assigned = ev.groupBy("user_id").agg(
        F.max(F.expr(_ARM_SPARK)).alias("arm"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("conv"),
        F.count(F.lit(1)).alias("n_events"),
    )
    # user_id tie-break pinned NULLS LAST on both engines: a NULL
    # user_id group tying on n_events would otherwise shift every
    # segment on one engine only (review, wave 17)
    #
    # r12: past the source-size gate the NTILE runs as the parallel
    # global rank instead of the single-task empty-PARTITION BY window
    # — the quantile split runs over USER cardinality, a corpus-scale
    # one-task sort (guide §2.5). Below the gate the plain window is
    # kept (measured r12: unconditionally parallel regressed sf1
    # 0.58 -> 1.24 s; both forms value-identical).
    seg = global_ntile(
        assigned,
        [F.col("n_events"), F.col("user_id").asc_nulls_last()],
        _SEG_N,
        "segment",
        parallel=use_parallel(spark, sf_dir, "events"),
    )
    agg = seg.groupBy("segment").agg(
        F.coalesce(F.sum(F.when(F.col("arm") == 0, 1)), F.lit(0)).alias("n_a"),
        F.coalesce(F.sum(F.when(F.col("arm") == 1, 1)), F.lit(0)).alias("n_b"),
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
    return (
        agg.withColumn("se", se)
        .select(
            "segment",
            "n_a",
            "n_b",
            "conv_a",
            "conv_b",
            F.round(ra, 6).alias("rate_a"),
            F.round(rb, 6).alias("rate_b"),
            F.round(ra - rb, 6).alias("abs_lift"),
            F.round((ra - rb) / F.expr("nullif(se, 0.0d)"), 6).alias("z_stat"),
        )
        .orderBy("segment")
    )


# ---------------------------------------------------------------------------
# Sample-ratio-mismatch gate
# ---------------------------------------------------------------------------
_SRM_Z = 3.0  # industry SRM alarm threshold


@query(
    "ab_srm_check",
    oracle=f"""
WITH assigned AS (
    SELECT user_id, MAX({_ARM_DUCK}) AS arm FROM events GROUP BY user_id
),
agg AS (
    SELECT CAST(COALESCE(SUM(CASE WHEN arm = 0 THEN 1 END), 0) AS BIGINT) AS n_a,
           CAST(COALESCE(SUM(CASE WHEN arm = 1 THEN 1 END), 0) AS BIGINT) AS n_b
    FROM assigned
)
SELECT n_a, n_b,
       CAST(n_a + n_b AS BIGINT) AS n_total,
       ROUND(CAST(n_a + n_b AS DOUBLE) / 2.0, 6) AS expected_each,
       ROUND((n_a - CAST(n_a + n_b AS DOUBLE) / 2.0)
             / NULLIF(SQRT(CAST(n_a + n_b AS DOUBLE) / 4.0), 0.0), 6)
           AS z_srm,
       ABS((n_a - CAST(n_a + n_b AS DOUBLE) / 2.0)
             / NULLIF(SQRT(CAST(n_a + n_b AS DOUBLE) / 4.0), 0.0)) > {_SRM_Z}
           AS srm_alarm
FROM agg
""",
    tags=("experiments", "ab-test", "srm", "data-quality"),
)
def ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio mismatch: are the realized arm counts consistent
    with the designed 50/50 split? z = (n_a - N/2) / sqrt(N/4),
    alarmed at |z| > 3 — the first gate a trustworthy experimentation
    platform runs, because a biased assignment invalidates every
    downstream metric. Same md5 arm anchor as the readout queries.
    One per-user rollup plus a global aggregate; pure integer counts
    into IEEE-exact arithmetic."""
    ev = load_table(spark, sf_dir, "events")
    assigned = ev.groupBy("user_id").agg(F.max(F.expr(_ARM_SPARK)).alias("arm"))
    agg = assigned.agg(
        F.coalesce(F.sum(F.when(F.col("arm") == 0, 1)), F.lit(0)).alias("n_a"),
        F.coalesce(F.sum(F.when(F.col("arm") == 1, 1)), F.lit(0)).alias("n_b"),
    )
    n_tot = (F.col("n_a") + F.col("n_b")).cast("double")
    z = (F.col("n_a") - n_tot / 2.0) / F.expr(
        "nullif(sqrt(cast(n_a + n_b as double) / 4.0d), 0.0d)"
    )
    return agg.select(
        "n_a",
        "n_b",
        (F.col("n_a") + F.col("n_b")).alias("n_total"),
        F.round(n_tot / 2.0, 6).alias("expected_each"),
        F.round(z, 6).alias("z_srm"),
        (F.abs(z) > _SRM_Z).alias("srm_alarm"),
    )
