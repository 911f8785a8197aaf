"""Mergeable-sketch rollups (Apache DataSketches via Spark 4 built-ins).

The defining 100 TB aggregation pattern: compute a tiny mergeable
summary per partition/day/segment ONCE, persist it in a rollup table,
and answer distinct-count / set-overlap / quantile questions later by
merging kilobyte sketches instead of rescanning petabytes. The
reference delegates all aggregation to its warehouse; at our target
scale these are the operators that replace "COUNT(DISTINCT) over the
whole history" jobs.

DuckDB has no DataSketches build, so the REGISTERED surfaces emit exact
companions + in-tolerance booleans (fully oracle-checkable: the oracle
computes exact values and literal TRUEs; a sketch regression beyond
tolerance flips a cell and fails the hash). The raw estimate queries
live on as `*_raw` functions, with accuracy and merge-consistency
pinned by `tests/test_sketches.py`:

- HLL union-of-parts estimate == sketch-of-whole estimate (register
  max-merge is exact, order-independent), and within 2% of exact
  distinct counts.
- Theta union/intersection/difference within 5% of exact set algebra.
- KLL merged quantiles within rank-error bounds of the exact ranks.

Determinism: HLL registers and theta's k-smallest-hash retention are
order-independent, so those two queries return identical rows on every
run (pinned by test). KLL is the exception — DataSketches KLL compaction
draws random offsets, so its estimates legitimately wobble inside the
rank-error envelope run-to-run; the test pins shape + envelope instead.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import load_table
from .registry import query


# --------------------------------------------------------------------------
# HLL rollup table: daily sketches, estimates read per-day AND merged
# --------------------------------------------------------------------------
def sketch_hll_daily_active_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-active-users rollup: one HLL sketch of `user_id` per day,
    read back as per-day estimates plus a TOTAL row computed by merging
    the daily sketches — never rescanning the events.

    This is the materialized-rollup pattern: the expensive pass runs
    once per partition (map-side partial sketch, tiny shuffle of
    ~KB registers), and any date-range distinct count is then a merge
    of |days| sketches. Union-of-parts == sketch-of-whole exactly,
    because HLL merge is a register-wise max. Untimestamped rows have
    no day to roll into — excluded (matches the checked surface)."""
    e = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    daily = e.groupBy(F.to_date("ts").alias("d")).agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    per_day = daily.select(
        F.col("d").cast("string").alias("scope"),
        F.hll_sketch_estimate("sk").alias("est_users"),
    )
    total = daily.agg(
        F.lit("TOTAL").alias("scope"),
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_users"),
    )
    return per_day.unionByName(total).orderBy("scope")


@query(
    "sketch_hll_daily_active",
    oracle="""
SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS scope,
       COUNT(DISTINCT user_id) AS exact_users,
       TRUE AS est_within_5pct
FROM events WHERE ts IS NOT NULL GROUP BY 1
UNION ALL
SELECT 'TOTAL', COUNT(DISTINCT user_id), TRUE FROM events
WHERE ts IS NOT NULL
ORDER BY scope
""",
    tags=("sketch", "hll", "rollup"),
)
def sketch_hll_daily_active(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver surface for the HLL rollup: sketch estimates are
    engine-specific, so the registered output is the EXACT per-scope
    distinct count plus an in-tolerance boolean derived from the sketch
    estimate — fully DuckDB-oracle-checkable (the oracle emits exact
    counts and literal TRUE), while still executing the full sketch
    rollup + union-merge path. Raw estimates: sketch_hll_daily_active_raw
    (accuracy + merge-exactness pinned in tests/test_sketches.py).
    Daily-active is undefined for an untimestamped event: NULL-ts rows
    are excluded on both engines (they'd otherwise form a NULL scope
    that the equi-join silently drops on one engine only)."""
    est = sketch_hll_daily_active_raw(spark, sf_dir)
    e = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    exact_day = e.groupBy(F.to_date("ts").cast("string").alias("scope")).agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    exact_total = e.agg(
        F.lit("TOTAL").alias("scope"), F.countDistinct("user_id").alias("exact_users")
    )
    exact = exact_day.unionByName(exact_total)
    return (
        exact.join(est, "scope")
        .select(
            "scope",
            "exact_users",
            (
                F.abs(F.col("est_users") - F.col("exact_users"))
                <= 0.05 * F.col("exact_users")
            ).alias("est_within_5pct"),
        )
        .orderBy("scope")
    )


# --------------------------------------------------------------------------
# Theta set algebra: audience overlap between two event types
# --------------------------------------------------------------------------
def sketch_theta_userday_overlap_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience overlap via theta sketches: the distinct (user, day)
    activity keys of `click` vs `purchase` events, with union /
    intersection / difference estimated from two kilobyte sketches
    rather than a self-join of the fact table.

    Theta is the sketch family that supports INTERSECTION and
    DIFFERENCE (HLL only unions): at 100 TB, "users who did A and B"
    as exact distinct requires a shuffle of both sides; as theta
    algebra it's a merge of two persisted summaries. Items are
    user-day strings so the sets only partially overlap (every user
    eventually does everything; user-days discriminate)."""
    e = load_table(spark, sf_dir, "events")
    keyed = e.filter(
        F.col("event_type").isin("click", "purchase")
        & F.col("user_id").isNotNull()
        & F.col("ts").isNotNull()
    ).select(
        "event_type",
        F.concat_ws("_", F.col("user_id"), F.to_date("ts")).alias("user_day"),
    )
    sk = keyed.groupBy("event_type").agg(F.theta_sketch_agg("user_day").alias("sk"))
    wide = sk.groupBy().pivot("event_type", ["click", "purchase"]).agg(F.first("sk"))
    a, b = F.col("click"), F.col("purchase")

    # a corpus with NO rows of one type leaves that pivot cell NULL:
    # semantically the EMPTY set (estimate 0, identity for union,
    # annihilator for intersection) — the theta_* expressions must
    # never see a NULL buffer
    def est(col: F.Column) -> F.Column:
        return F.coalesce(
            F.when(col.isNotNull(), F.theta_sketch_estimate(col)), F.lit(0.0)
        )

    union_ab = (
        F.when(a.isNull(), b).when(b.isNull(), a).otherwise(F.theta_union(a, b))
    )
    inter_ab = F.when(a.isNotNull() & b.isNotNull(), F.theta_intersection(a, b))
    diff_ab = F.when(a.isNotNull() & b.isNull(), a).otherwise(
        F.when(a.isNotNull() & b.isNotNull(), F.theta_difference(a, b))
    )
    return wide.select(
        est(a).alias("est_click"),
        est(b).alias("est_purchase"),
        est(union_ab).alias("est_union"),
        est(inter_ab).alias("est_intersection"),
        est(diff_ab).alias("est_click_only"),
    )


@query(
    "sketch_theta_userday_overlap",
    oracle="""
WITH k AS (
    SELECT CAST(user_id AS VARCHAR) || '_' || CAST(CAST(ts AS DATE) AS VARCHAR) AS user_day,
           MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS has_c,
           MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS has_p
    FROM events WHERE event_type IN ('click', 'purchase')
      AND user_id IS NOT NULL AND ts IS NOT NULL
    GROUP BY 1
)
SELECT CAST(COALESCE(SUM(has_c), 0) AS BIGINT) AS exact_click,
       CAST(COALESCE(SUM(has_p), 0) AS BIGINT) AS exact_purchase,
       COUNT(*) AS exact_union,
       CAST(COALESCE(SUM(has_c * has_p), 0) AS BIGINT) AS exact_intersection,
       CAST(COALESCE(SUM(has_c * (1 - has_p)), 0) AS BIGINT) AS exact_click_only,
       TRUE AS est_click_ok, TRUE AS est_purchase_ok, TRUE AS est_union_ok,
       TRUE AS est_intersection_ok, TRUE AS est_click_only_ok
FROM k
""",
    tags=("sketch", "theta", "set-algebra"),
)
def sketch_theta_userday_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver surface for theta set algebra: exact union/intersection/
    difference counts (one GROUP BY user_day pass) plus booleans that the
    theta estimates land within 5% of the exact union size — the standard
    error model for theta intersections. Raw estimates:
    sketch_theta_userday_overlap_raw (pinned in tests/test_sketches.py)."""
    est = sketch_theta_userday_overlap_raw(spark, sf_dir)
    e = load_table(spark, sf_dir, "events")
    k = (
        # a user-day identity needs BOTH parts: concat_ws would
        # silently collapse a NULL user/ts to a partial key while the
        # oracle's || yields NULL — exclude on both engines
        e.filter(
            F.col("event_type").isin("click", "purchase")
            & F.col("user_id").isNotNull()
            & F.col("ts").isNotNull()
        )
        .groupBy(
            F.concat_ws("_", F.col("user_id"), F.to_date("ts")).alias("user_day")
        )
        .agg(
            F.max(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("has_c"),
            F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("has_p"),
        )
    )
    # COALESCE(...0): an empty key set is ZERO distinct user-days, not
    # NULL — and the est_ok comparisons must stay boolean (not NULL)
    exact = k.agg(
        F.coalesce(F.sum("has_c"), F.lit(0)).cast("bigint").alias("exact_click"),
        F.coalesce(F.sum("has_p"), F.lit(0)).cast("bigint").alias("exact_purchase"),
        F.count(F.lit(1)).alias("exact_union"),
        F.coalesce(F.sum(F.col("has_c") * F.col("has_p")), F.lit(0))
        .cast("bigint")
        .alias("exact_intersection"),
        F.coalesce(F.sum(F.col("has_c") * (1 - F.col("has_p"))), F.lit(0))
        .cast("bigint")
        .alias("exact_click_only"),
    )
    tol = 0.05 * F.col("exact_union")

    def ok(est_col: str, exact_col: str) -> F.Column:
        # estimate of an EMPTY set is NULL (no sketch) = 0 distinct:
        # coalesce keeps the claim boolean instead of NULL
        return F.abs(F.coalesce(F.col(est_col), F.lit(0.0)) - F.col(exact_col)) <= tol

    return exact.crossJoin(F.broadcast(est)).select(
        "exact_click",
        "exact_purchase",
        "exact_union",
        "exact_intersection",
        "exact_click_only",
        ok("est_click", "exact_click").alias("est_click_ok"),
        ok("est_purchase", "exact_purchase").alias("est_purchase_ok"),
        ok("est_union", "exact_union").alias("est_union_ok"),
        ok("est_intersection", "exact_intersection").alias("est_intersection_ok"),
        ok("est_click_only", "exact_click_only").alias("est_click_only_ok"),
    )


# --------------------------------------------------------------------------
# KLL quantile sketches: per-segment + merged distribution summary
# --------------------------------------------------------------------------
def sketch_kll_value_quantiles_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-distribution rollup: one KLL double sketch of `value` per
    event type, read back as p25/p50/p90/p99, plus an ALL row whose
    sketch is the pairwise merge of the per-type sketches (there is no
    merge *aggregate* for KLL in Spark 4.1 — `kll_sketch_merge_double`
    is binary — so the ALL row folds collect_list with a higher-order
    aggregate(), which is fine because |segments| is small by
    definition; the data-sized pass is the per-segment sketch_agg).

    Same scale story as the HLL rollup but for quantiles: percentile
    questions over any segment union become sketch merges, replacing
    exact `percentile()` sorts that shuffle the full column."""
    e = load_table(spark, sf_dir, "events")
    sk = e.groupBy("event_type").agg(
        F.kll_sketch_agg_double("value").alias("sk"),
        F.count("value").alias("nv"),
    )
    # a segment whose values are all NULL aggregates to a valid-but-
    # EMPTY 8-byte buffer (NOT a SQL NULL) on which merge/quantile
    # throw KLL_INVALID_INPUT_SKETCH_BUFFER — the explicit value count
    # is the guard: the fold skips empty sketches and quantiles are
    # only read where nv > 0
    merged = sk.agg(
        F.expr(
            "aggregate(sort_array(collect_list(struct(event_type, sk, nv))),"
            " CAST(NULL AS BINARY),"
            " (acc, x) -> CASE WHEN x.nv = 0 THEN acc"
            "                  WHEN acc IS NULL THEN x.sk"
            "                  ELSE kll_sketch_merge_double(acc, x.sk) END)"
        ).alias("sk"),
        F.sum("nv").alias("nv"),
    ).select(F.lit("ALL").alias("segment"), "sk", "nv")
    both = sk.select(F.col("event_type").alias("segment"), "sk", "nv").unionByName(
        merged
    )

    def q(p: float, name: str) -> F.Column:
        return F.when(
            F.col("nv") > 0,
            F.kll_sketch_get_quantile_double("sk", F.lit(p)),
        ).alias(name)

    return both.select(
        "segment", q(0.25, "p25"), q(0.5, "p50"), q(0.9, "p90"), q(0.99, "p99")
    ).orderBy("segment")


@query(
    "sketch_kll_value_quantiles",
    oracle="""
SELECT event_type AS segment, COUNT(*) AS n_rows,
       TRUE AS rank_ok_p25, TRUE AS rank_ok_p50, TRUE AS rank_ok_p90, TRUE AS rank_ok_p99
FROM events GROUP BY event_type
UNION ALL
SELECT 'ALL', COUNT(*), TRUE, TRUE, TRUE, TRUE FROM events
ORDER BY segment
""",
    tags=("sketch", "kll", "quantiles"),
)
def sketch_kll_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver surface for the KLL rollup: KLL guarantees RANK error, so
    the checkable claim is "the empirical rank of each sketch quantile
    estimate is within 5% of its target rank". The estimates (which
    legitimately wobble run-to-run inside the envelope) never appear in
    the output — only n_rows and the rank-check booleans, both exactly
    reproducible in DuckDB. Raw estimates: sketch_kll_value_quantiles_raw
    (envelope pinned in tests/test_sketches.py)."""
    ests = sketch_kll_value_quantiles_raw(spark, sf_dir)
    e = load_table(spark, sf_dir, "events")
    # the ALL row is a GLOBAL aggregate (always exactly one row, even
    # on an empty corpus — the oracle's UNION ALL branch always emits
    # one), NOT an 'ALL'-labeled union of values (which vanishes when
    # the corpus is empty and diverges from the oracle)
    per_seg = e.groupBy(F.col("event_type").alias("segment")).agg(
        F.count(F.lit(1)).alias("n_rows"), F.count("value").alias("n_vals")
    )
    agg_all = e.agg(
        F.lit("ALL").alias("segment"),
        F.count(F.lit(1)).alias("n_rows"),
        F.count("value").alias("n_vals"),
    )
    vals = e.select(F.col("event_type").alias("segment"), "value").unionByName(
        e.select(F.lit("ALL").alias("segment"), "value")
    )
    # null-safe segment joins (<=>): a NULL event_type is a real
    # segment on both engines; an equi-join would silently drop it on
    # the Spark side only. Ranks are over NON-NULL values (the sketch
    # never sees NULLs), so the empirical fraction counts them alone.
    # BOTH one-sided empirical ranks per estimate: with tied values the
    # CDF jumps, so the correct claim is that the target rank lies in
    # [P(X < est) - tol, P(X <= est) + tol] — a single <= fraction
    # falsely fails a segment of identical values (P(X <= est) = 1)
    fracs = (
        vals.filter(F.col("value").isNotNull())
        .alias("v")
        .join(F.broadcast(ests.alias("k")), F.expr("v.segment <=> k.segment"))
        .groupBy(F.col("v.segment").alias("segment"))
        .agg(
            *[
                c
                for p in ("p25", "p50", "p90", "p99")
                for c in (
                    (
                        F.sum(F.when(F.col("value") < F.col(p), 1).otherwise(0))
                        / F.count(F.lit(1))
                    ).alias(f"frlt_{p}"),
                    (
                        F.sum(F.when(F.col("value") <= F.col(p), 1).otherwise(0))
                        / F.count(F.lit(1))
                    ).alias(f"frle_{p}"),
                )
            ],
        )
    )
    agg = (
        per_seg.unionByName(agg_all)
        .alias("b")
        .join(fracs.alias("f"), F.expr("b.segment <=> f.segment"), "left")
        .select(
            F.col("b.segment").alias("segment"),
            "n_rows",
            "n_vals",
            *[
                F.col(c)
                for p in ("p25", "p50", "p90", "p99")
                for c in (f"frlt_{p}", f"frle_{p}")
            ],
        )
    )
    # tolerance = max(5%, 1/n): the KLL rank envelope is 5% of rank,
    # but empirical rank is quantized in steps of 1/n — below n=20 the
    # discrete resolution dominates (n=1: ANY estimate is within one
    # rank step, so the claim is vacuously true, matching the oracle).
    # NULLIF guards n=0; a segment with ZERO non-NULL values has no
    # distribution to check — its claim is vacuous TRUE, like the
    # oracle's literal.
    tol = F.greatest(
        F.lit(0.05), F.lit(1.0) / F.nullif(F.col("n_vals"), F.lit(0))
    )
    return agg.select(
        "segment",
        "n_rows",
        *[
            F.coalesce(
                (F.col(f"frlt_{p}") - tol <= F.lit(target))
                & (F.lit(target) <= F.col(f"frle_{p}") + tol),
                F.col("n_vals") == 0,
            ).alias(f"rank_ok_{p}")
            for p, target in (("p25", 0.25), ("p50", 0.50), ("p90", 0.90), ("p99", 0.99))
        ],
    ).orderBy("segment")
