"""Warehouse-maintenance / training-pipeline operator wave: declarative
data-quality expectations, SCD2 interval construction, funnel conversion,
and per-group winsorization. All fully oracle-checked.

These generalize the reference's operational patterns: its guardrails
are per-row try/except prints (reference `eth-contract.py:114-118`), its
"dimension history" is implicit in block-ordered event tables, and its
only funnel-ish analysis is the assets_per_type LOCF cascade. Here each
becomes a first-class, scale-shaped operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.quality import (
    accepted_values,
    foreign_key,
    in_range,
    matches,
    not_null,
    run_suite,
    unique_key,
)
from ..session import load_table
from .registry import query


# --------------------------------------------------------------------------
# Data-quality expectation suite: N constraints, ~1 scan
# --------------------------------------------------------------------------
@query(
    "dq_orders_suite",
    oracle="""
WITH t AS (SELECT COUNT(*) AS n FROM orders)
SELECT 'accepted_values(o_orderstatus)' AS "constraint", n AS n_checked,
       (SELECT COUNT(*) FROM orders WHERE o_orderstatus IS NOT NULL
          AND o_orderstatus NOT IN ('F','O','P')) AS n_violations FROM t
UNION ALL
SELECT 'foreign_key(o_custkey)', n,
       (SELECT COUNT(*) FROM orders o WHERE o.o_custkey IS NOT NULL
          AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)) FROM t
UNION ALL
SELECT 'in_range(o_totalprice)', n,
       (SELECT COUNT(*) FROM orders WHERE o_totalprice IS NOT NULL
          AND (o_totalprice < 0 OR o_totalprice > 400000)) FROM t
UNION ALL
SELECT 'matches(o_orderpriority)', n,
       (SELECT COUNT(*) FROM orders WHERE o_orderpriority IS NOT NULL
          AND NOT regexp_matches(o_orderpriority, '^[1-5]-')) FROM t
UNION ALL
SELECT 'not_null(o_custkey)', n,
       (SELECT COUNT(*) FROM orders WHERE o_custkey IS NULL) FROM t
UNION ALL
SELECT 'unique_key(o_orderkey)', n,
       (SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) FROM
          (SELECT COUNT(*) AS c FROM orders GROUP BY o_orderkey HAVING COUNT(*) > 1)) FROM t
ORDER BY "constraint"
""",
    tags=("data-quality", "expectations", "conditional-agg"),
)
def dq_orders_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Six table-level constraints on orders evaluated by
    `operators.quality.run_suite`: the four scalar checks share ONE
    conditional-aggregation scan; uniqueness is one key-only group-by;
    referential integrity is one broadcast anti-join. The range check is
    deliberately tight (p > 400k fails) so the suite demonstrably
    catches violations rather than vacuously passing.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    scalar = [
        not_null("o_custkey"),
        in_range("o_totalprice", lo=0, hi=400000),
        accepted_values("o_orderstatus", ["F", "O", "P"]),
        matches("o_orderpriority", "^[1-5]-"),
    ]
    extra = [
        unique_key(o, ["o_orderkey"]),
        foreign_key(o, "o_custkey", c, "c_custkey"),
    ]
    return run_suite(o, scalar, extra)


# --------------------------------------------------------------------------
# SCD2: collapse an event stream into validity intervals (gaps & islands)
# --------------------------------------------------------------------------
@query(
    "scd2_user_state",
    oracle="""
WITH runs AS (
    SELECT user_id, event_type, ts, event_id,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
         - ROW_NUMBER() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS grp
    FROM events
), collapsed AS (
    SELECT user_id, event_type,
           MIN(ts) AS valid_from,
           MIN(event_id) AS first_event_id,
           COUNT(*) AS n_events
    FROM runs GROUP BY user_id, event_type, grp
)
SELECT user_id, event_type, valid_from,
       LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from, first_event_id) AS valid_to,
       n_events
FROM collapsed
ORDER BY user_id, valid_from, first_event_id
""",
    tags=("scd2", "gaps-islands", "window"),
)
def scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2 from an event log: collapse each
    user's consecutive same-state events into one run (the gaps-and-
    islands double-row_number trick), then stitch runs into
    [valid_from, valid_to) intervals with LEAD — NULL valid_to = the
    current state. This is the standard dimension-history build the
    reference's block-ordered evt tables imply but never materialize.

    Scale notes: both row_numbers and the LEAD share the user_id hash
    partitioning, so the whole build is ONE shuffle of (user, type, ts,
    id) — no payload columns — followed by map-side run aggregation.
    """
    e = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts", "event_id")
    w_all = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_typ = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    runs = e.withColumn("grp", F.row_number().over(w_all) - F.row_number().over(w_typ))
    collapsed = runs.groupBy("user_id", "event_type", "grp").agg(
        F.min("ts").alias("valid_from"),
        F.min("event_id").alias("first_event_id"),
        F.count(F.lit(1)).alias("n_events"),
    )
    w_lead = Window.partitionBy("user_id").orderBy("valid_from", "first_event_id")
    return (
        collapsed.withColumn("valid_to", F.lead("valid_from").over(w_lead))
        .orderBy("user_id", "valid_from", "first_event_id")
        .select("user_id", "event_type", "valid_from", "valid_to", "n_events")
    )


# --------------------------------------------------------------------------
# Funnel conversion: ordered stage matching (view -> click -> purchase)
# --------------------------------------------------------------------------
@query(
    "funnel_conversion",
    oracle="""
WITH v AS (
    SELECT user_id, MIN(ts) AS t_view FROM events WHERE event_type = 'view' GROUP BY user_id
), c AS (
    SELECT v.user_id, v.t_view, MIN(e.ts) AS t_click
    FROM v JOIN events e ON e.user_id = v.user_id AND e.event_type = 'click' AND e.ts > v.t_view
    GROUP BY v.user_id, v.t_view
), p AS (
    SELECT c.user_id, c.t_view, MIN(e.ts) AS t_purchase
    FROM c JOIN events e ON e.user_id = c.user_id AND e.event_type = 'purchase' AND e.ts > c.t_click
    GROUP BY c.user_id, c.t_view
)
SELECT (SELECT COUNT(*) FROM v) AS n_viewed,
       (SELECT COUNT(*) FROM c) AS n_clicked,
       (SELECT COUNT(*) FROM p) AS n_purchased,
       (SELECT ROUND(CAST(SUM(DATEDIFF('microsecond', t_view, t_purchase)) AS DOUBLE)
                     / COUNT(*) / 1000000.0, 6) FROM p) AS avg_secs_to_convert
""",
    tags=("funnel", "sequence-match", "conversion"),
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-stage ordered funnel: first view, first click strictly
    after it, first purchase strictly after that click; stage
    populations plus mean view->purchase latency. The per-stage
    "earliest qualifying event" is a min-aggregate over a
    time-conditioned join — the relational form of sequential pattern
    matching (MATCH_RECOGNIZE without the state machine).

    Scale notes: every join keys on user_id, so one hash partitioning
    serves all three stages; stage tables shrink monotonically and the
    time predicate prunes before aggregation. Latency sums are exact
    integer microseconds (no double accumulation).
    """
    e = load_table(spark, sf_dir, "events")
    v = e.filter(F.col("event_type") == "view").groupBy("user_id").agg(F.min("ts").alias("t_view"))
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id", "t_view")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id", "t_view")
        .agg(F.min("ts").alias("t_purchase"))
    )
    lat = F.unix_micros(F.col("t_purchase")) - F.unix_micros(F.col("t_view"))
    stats = p.agg(
        F.count(F.lit(1)).alias("n_purchased"),
        F.round(F.sum(lat).cast("double") / F.count(F.lit(1)) / 1000000.0, 6).alias("avg_secs_to_convert"),
    )
    return (
        v.agg(F.count(F.lit(1)).alias("n_viewed"))
        .crossJoin(c.agg(F.count(F.lit(1)).alias("n_clicked")))
        .crossJoin(stats)
        .select("n_viewed", "n_clicked", "n_purchased", "avg_secs_to_convert")
    )


# --------------------------------------------------------------------------
# Winsorization: per-group percentile clipping (outlier handling)
# --------------------------------------------------------------------------
@query(
    "winsorize_values",
    oracle="""
WITH q AS (
    SELECT event_type,
           quantile_cont(value, 0.05) AS p05,
           quantile_cont(value, 0.95) AS p95
    FROM events GROUP BY event_type
)
SELECT e.event_type,
       ROUND(q.p05, 6) AS p05,
       ROUND(q.p95, 6) AS p95,
       COUNT(*) AS n,
       CAST(SUM(CASE WHEN e.value < q.p05 THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_lo,
       CAST(SUM(CASE WHEN e.value > q.p95 THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped_hi,
       SUM(CAST(LEAST(GREATEST(e.value, q.p05), q.p95) AS DECIMAL(38,6))) AS winsorized_sum
FROM events e JOIN q USING (event_type)
GROUP BY e.event_type, q.p05, q.p95
ORDER BY e.event_type
""",
    tags=("winsorize", "percentile", "outliers"),
)
def winsorize_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group winsorization: clip each group's values into its own
    [p05, p95] (exact linear-interpolated percentiles), report clip
    counts and the exact decimal sum of the clipped column — the
    standard outlier-taming step before normalizing a training feature.

    Scale notes: two aggregations over the same event_type partitioning;
    the percentile table is group-cardinality-sized, so it broadcasts
    back onto the fact scan and the clip itself is a pure map. Exact
    percentiles shuffle the value column once; at petabyte scale swap in
    approx_percentile with the same downstream shape.
    """
    e = load_table(spark, sf_dir, "events")
    q = e.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.05)).alias("p05"),
        F.percentile("value", F.lit(0.95)).alias("p95"),
    )
    clipped = F.least(F.greatest(F.col("value"), F.col("p05")), F.col("p95"))
    return (
        e.join(F.broadcast(q), "event_type")
        .groupBy("event_type", "p05", "p95")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("value") < F.col("p05"), 1).otherwise(0)).alias("n_clipped_lo"),
            F.sum(F.when(F.col("value") > F.col("p95"), 1).otherwise(0)).alias("n_clipped_hi"),
            F.sum(clipped.cast("decimal(38,6)")).alias("winsorized_sum"),
        )
        .select(
            "event_type",
            F.round("p05", 6).alias("p05"),
            F.round("p95", 6).alias("p95"),
            "n",
            "n_clipped_lo",
            "n_clipped_hi",
            "winsorized_sum",
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Cohort retention: day-0 cohorts x day-offset activity matrix
# --------------------------------------------------------------------------
@query(
    "cohort_retention",
    oracle="""
WITH first AS (
    SELECT user_id, MIN(CAST(ts AS DATE)) AS cohort_day FROM events GROUP BY user_id
), act AS (
    SELECT DISTINCT f.user_id, f.cohort_day,
           DATEDIFF('day', f.cohort_day, CAST(e.ts AS DATE)) AS day_offset
    FROM events e JOIN first f ON e.user_id = f.user_id
    WHERE e.event_type = 'purchase'
), size_ AS (
    SELECT cohort_day, COUNT(*) AS cohort_size FROM first GROUP BY cohort_day
)
SELECT a.cohort_day, a.day_offset,
       COUNT(*) AS n_active,
       ROUND(CAST(COUNT(*) AS DOUBLE) / s.cohort_size, 6) AS retention
FROM act a JOIN size_ s ON a.cohort_day = s.cohort_day
GROUP BY a.cohort_day, a.day_offset, s.cohort_size
ORDER BY a.cohort_day, a.day_offset
""",
    tags=("cohort", "retention", "analytics"),
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort-retention matrix: users grouped by first-activity day,
    tracked by whether they purchased k days later. The canonical
    product-analytics rollup — two aggregations plus a dimension-sized
    cohort-size join.

    Scale notes: both the first-touch aggregate and the activity dedup
    key on user_id (one partitioning reused); the cohort-size table is
    date-cardinality-sized and broadcasts. Nothing wide carries payload
    columns.
    """
    e = load_table(spark, sf_dir, "events")
    first = e.groupBy("user_id").agg(F.min(F.col("ts").cast("date")).alias("cohort_day"))
    act = (
        e.filter(F.col("event_type") == "purchase")
        .join(first, "user_id")
        .select(
            "user_id",
            "cohort_day",
            F.datediff(F.col("ts").cast("date"), F.col("cohort_day")).alias("day_offset"),
        )
        .distinct()
    )
    size = first.groupBy("cohort_day").agg(F.count(F.lit(1)).alias("cohort_size"))
    return (
        act.groupBy("cohort_day", "day_offset")
        .agg(F.count(F.lit(1)).alias("n_active"))
        .join(F.broadcast(size), "cohort_day")
        .select(
            "cohort_day",
            "day_offset",
            "n_active",
            F.round(F.col("n_active").cast("double") / F.col("cohort_size"), 6).alias("retention"),
        )
        .orderBy("cohort_day", "day_offset")
    )


# --------------------------------------------------------------------------
# Sweep-line concurrency: peak overlapping activity windows per day
# --------------------------------------------------------------------------
@query(
    "concurrency_sweepline",
    oracle="""
WITH deltas AS (
    SELECT ts AS t, 1 AS delta, event_id FROM events
    UNION ALL
    SELECT ts + INTERVAL 10 MINUTE AS t, -1 AS delta, event_id FROM events
), running AS (
    SELECT t, delta, event_id,
           SUM(delta) OVER (ORDER BY t, delta DESC, event_id ROWS UNBOUNDED PRECEDING) AS live
    FROM deltas
)
SELECT CAST(t AS DATE) AS day, CAST(MAX(live) AS BIGINT) AS peak_concurrent
FROM running
GROUP BY CAST(t AS DATE)
ORDER BY day
""",
    tags=("sweepline", "interval", "concurrency"),
)
def concurrency_sweepline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent activity per day via the sweep-line trick: each
    event opens a 10-minute activity window; +1/-1 boundary deltas,
    one global running sum over (time, delta desc, id) — starts tie-
    sorted before ends so a window closing exactly when another opens
    counts as overlap — then a per-day max. This is how interval-
    overlap questions (concurrent sessions, live connections, room
    occupancy) stay relational instead of becoming per-row loops.

    Scale notes: the global-order running sum is the one inherently
    serial step; at 100 TB shard the sweep by a coarse time range
    (day), carry per-shard opening offsets computed from shard
    boundary sums — the pattern is documented in SCALE.md; at testdata
    scale a single range partition suffices and Spark's window handles
    it in one pass.
    """
    e = load_table(spark, sf_dir, "events")
    starts = e.select(F.col("ts").alias("t"), F.lit(1).alias("delta"), "event_id")
    ends = e.select(
        (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("t"),
        F.lit(-1).alias("delta"),
        "event_id",
    )
    deltas = starts.unionByName(ends).withColumn("day", F.col("t").cast("date"))
    # r12: the documented SCALE.md sharding, implemented — the global
    # running sum is sharded by day (day(t) is monotone in the sweep
    # order, and a NULL t lands in the NULL day, which sorts first
    # exactly like the old ASC NULLS FIRST global order): a per-day
    # PARALLEL running sum plus per-day opening offsets (an exclusive
    # prefix sum over |days| rows — bounded by the calendar, not the
    # corpus). Replaces the single-task empty-PARTITION BY window that
    # funneled 2x|events| rows through one sort (guide §2.5). Integer
    # sums => bit-identical to the global running sum.
    w_local = Window.partitionBy("day").orderBy(
        F.col("t"), F.col("delta").desc(), F.col("event_id")
    ).rowsBetween(Window.unboundedPreceding, 0)
    day_offsets = (
        deltas.groupBy("day")
        .agg(F.sum("delta").alias("day_sum"))
        .select(
            "day",
            F.coalesce(
                F.sum("day_sum").over(
                    Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ).alias("opening"),
        )
    )
    running = deltas.withColumn("local_live", F.sum("delta").over(w_local)).join(
        F.broadcast(day_offsets), deltas["day"].eqNullSafe(day_offsets["day"])
    ).drop(day_offsets["day"])
    return (
        running.groupBy("day")
        .agg(F.max(F.col("local_live") + F.col("opening")).cast("long").alias("peak_concurrent"))
        .orderBy("day")
    )


# --------------------------------------------------------------------------
# Point-in-time join: probe events against SCD2 dimension versions
# --------------------------------------------------------------------------
@query(
    "pit_join_purchase_state",
    oracle="""
WITH browse AS (
    SELECT user_id, event_type, ts, event_id FROM events
    WHERE event_type IN ('signup', 'view', 'click')
), runs AS (
    SELECT user_id, event_type, ts, event_id,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
         - ROW_NUMBER() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS grp
    FROM browse
), intervals AS (
    SELECT user_id, event_type AS state, MIN(ts) AS valid_from,
           MIN(event_id) AS first_event_id
    FROM runs GROUP BY user_id, event_type, grp
), versions AS (
    SELECT user_id, state, valid_from,
           LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY valid_from, first_event_id) AS valid_to
    FROM intervals
)
SELECT p.event_id, p.user_id, p.ts AS purchase_ts,
       v.state AS state_at_purchase, v.valid_from AS state_since
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
LEFT JOIN versions v
  ON p.user_id = v.user_id
 AND p.ts >= v.valid_from
 AND (v.valid_to IS NULL OR p.ts < v.valid_to)
ORDER BY p.event_id
""",
    tags=("warehouse", "pit-join", "scd2"),
)
def pit_join_purchase_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time join: each purchase picks the SCD2 browsing-state
    version (signup/view/click runs, built gaps-and-islands style) that
    was valid at the purchase timestamp — the canonical "join the fact
    to the dimension AS OF event time" warehouse operation, here as an
    interval join rather than the LOCF union trick (asof_join_order_
    events) so both physical strategies are covered.

    Scale shape: equi join on user_id with the interval bounds as a
    residual — one co-partitioned shuffle each side, and the half-open
    [from, to) tiling guarantees <=1 match per probe so the join never
    amplifies. Dimension-version tables are |state changes|-sized, far
    smaller than the fact; with a broadcastable dimension this becomes
    a map-only lookup."""
    e = load_table(spark, sf_dir, "events")
    browse = e.filter(F.col("event_type").isin("signup", "view", "click")).select(
        "user_id", "event_type", "ts", "event_id"
    )
    w_all = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_typ = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    runs = browse.withColumn(
        "grp", F.row_number().over(w_all) - F.row_number().over(w_typ)
    )
    intervals = runs.groupBy("user_id", "event_type", "grp").agg(
        F.min("ts").alias("valid_from"),
        F.min("event_id").alias("first_event_id"),
    )
    w_lead = Window.partitionBy("user_id").orderBy("valid_from", "first_event_id")
    versions = intervals.select(
        "user_id",
        F.col("event_type").alias("state"),
        "valid_from",
        F.lead("valid_from").over(w_lead).alias("valid_to"),
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        "event_id", F.col("user_id").alias("p_user"), F.col("ts").alias("purchase_ts")
    )
    return (
        p.join(
            versions,
            (F.col("p_user") == F.col("user_id"))
            & (F.col("purchase_ts") >= F.col("valid_from"))
            & (F.col("valid_to").isNull() | (F.col("purchase_ts") < F.col("valid_to"))),
            "left",
        )
        .select(
            "event_id",
            F.col("p_user").alias("user_id"),
            "purchase_ts",
            F.col("state").alias("state_at_purchase"),
            F.col("valid_from").alias("state_since"),
        )
        .orderBy("event_id")
    )


# --------------------------------------------------------------------------
# Dataset.observe: DQ metrics collected ON the scan, not by a second pass
# --------------------------------------------------------------------------
@query(
    "dq_observe_metrics",
    oracle="""
SELECT COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_props,
       COUNT(DISTINCT event_type) AS n_event_types,
       MIN(event_id) AS min_event_id,
       MAX(event_id) AS max_event_id
FROM events
""",
    tags=("dq", "observe", "metrics"),
)
def dq_observe_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality counters via Dataset.observe: the metrics accumulate
    on the SAME job that materializes the frame (CollectMetricsExec is
    map-side, merged on the driver), so at 100 TB the quality telemetry
    is free — no second scan, no extra shuffle. The exception is
    n_event_types (distinct needs an aggregation, observe can only do
    algebraic accumulators), computed in the same single pass's
    aggregate instead.

    The observed metrics come back as a 1-row DataFrame compared against
    a plain DuckDB aggregate oracle — proving the accumulator path
    produces exactly what a dedicated aggregation pass would."""
    from pyspark.sql import Observation

    e = load_table(spark, sf_dir, "events")
    obs = Observation()
    observed = e.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("props").isNull().cast("long")).alias("n_null_props"),
        F.min("event_id").alias("min_event_id"),
        F.max("event_id").alias("max_event_id"),
    )
    # one real pass: the distinct-type aggregate drives the job the
    # observation piggybacks on
    n_types = observed.agg(F.countDistinct("event_type").alias("n")).collect()[0]["n"]
    m = obs.get
    return e.sparkSession.createDataFrame(
        [
            (
                m["n_rows"],
                m["n_null_props"],
                n_types,
                m["min_event_id"],
                m["max_event_id"],
            )
        ],
        "n_rows bigint, n_null_props bigint, n_event_types bigint, min_event_id bigint, max_event_id bigint",
    )


# --------------------------------------------------------------------------
# Multi-touch marketing attribution (first / last / linear)
# --------------------------------------------------------------------------
@query(
    "attribution_multi_touch",
    oracle="""
WITH conv AS (
    SELECT event_id AS conv_id, user_id, ts AS conv_ts, value AS conv_value
    FROM events WHERE event_type = 'purchase'
), touch AS (
    SELECT event_id AS touch_id, user_id, ts AS touch_ts, event_type AS channel
    FROM events WHERE event_type IN ('click', 'view', 'signup')
), windowed AS (
    SELECT c.conv_id, c.conv_value, t.touch_id, t.touch_ts, t.channel
    FROM conv c JOIN touch t
      ON c.user_id = t.user_id
     AND t.touch_ts <= c.conv_ts
     AND t.touch_ts >= c.conv_ts - INTERVAL 1 DAY
), ranked AS (
    SELECT *,
           ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY touch_ts, touch_id) AS rn_asc,
           ROW_NUMBER() OVER (PARTITION BY conv_id ORDER BY touch_ts DESC, touch_id DESC) AS rn_desc,
           COUNT(*) OVER (PARTITION BY conv_id) AS n_touches
    FROM windowed
)
SELECT channel,
       COUNT(*) AS n_touches,
       CAST(SUM(CASE WHEN rn_asc = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_first,
       CAST(SUM(CASE WHEN rn_desc = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_last,
       CAST(SUM(CASE WHEN rn_asc = 1
                     THEN CAST(ROUND(conv_value, 9) AS DECIMAL(38,9))
                     ELSE CAST(0 AS DECIMAL(38,9)) END) AS DOUBLE) AS first_touch_value,
       CAST(SUM(CASE WHEN rn_desc = 1
                     THEN CAST(ROUND(conv_value, 9) AS DECIMAL(38,9))
                     ELSE CAST(0 AS DECIMAL(38,9)) END) AS DOUBLE) AS last_touch_value,
       CAST(SUM(CAST(ROUND(conv_value / n_touches, 9) AS DECIMAL(38,9))) AS DOUBLE) AS linear_value
FROM ranked
GROUP BY channel
ORDER BY channel
""",
    tags=("analytics", "attribution", "interval-join"),
)
def attribution_multi_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch / last-touch / linear attribution of purchase value
    to the marketing touches (click/view/signup) in the 1-day lookback
    before each purchase.

    Join shape: EQUI-join on user_id with the time window as a residual
    predicate (the pit_join pattern) — per-user event streams are small,
    so the residual never degenerates into a nested loop; at 100 TB
    both sides hash-shuffle once on the uniform user key (or co-located
    via user bucketing). Window functions rank the touches per
    conversion; the linear weight conv_value/n_touches is rounded to 9
    decimals and summed as DECIMAL(38,9) (the repo determinism rule:
    arrival order can never flip a bit)."""
    e = load_table(spark, sf_dir, "events")
    conv = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("conv_id"),
        "user_id",
        F.col("ts").alias("conv_ts"),
        F.col("value").alias("conv_value"),
    )
    touch = e.filter(F.col("event_type").isin("click", "view", "signup")).select(
        F.col("event_id").alias("touch_id"),
        "user_id",
        F.col("ts").alias("touch_ts"),
        F.col("event_type").alias("channel"),
    )
    windowed = conv.join(
        touch,
        (conv.user_id == touch.user_id)
        & (touch.touch_ts <= conv.conv_ts)
        & (touch.touch_ts >= conv.conv_ts - F.expr("INTERVAL 1 DAY")),
    ).select("conv_id", "conv_value", "touch_id", "touch_ts", "channel")
    w_asc = Window.partitionBy("conv_id").orderBy("touch_ts", "touch_id")
    w_desc = Window.partitionBy("conv_id").orderBy(
        F.col("touch_ts").desc(), F.col("touch_id").desc()
    )
    w_all = Window.partitionBy("conv_id")
    ranked = (
        windowed.withColumn("rn_asc", F.row_number().over(w_asc))
        .withColumn("rn_desc", F.row_number().over(w_desc))
        .withColumn("n_touches_conv", F.count(F.lit(1)).over(w_all))
    )
    dec9 = "decimal(38,9)"
    zero = F.lit(0).cast(dec9)
    return (
        ranked.groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_touches"),
            F.sum(F.when(F.col("rn_asc") == 1, 1).otherwise(0)).alias("n_first"),
            F.sum(F.when(F.col("rn_desc") == 1, 1).otherwise(0)).alias("n_last"),
            F.sum(
                F.when(
                    F.col("rn_asc") == 1, F.round("conv_value", 9).cast(dec9)
                ).otherwise(zero)
            )
            .cast("double")
            .alias("first_touch_value"),
            F.sum(
                F.when(
                    F.col("rn_desc") == 1, F.round("conv_value", 9).cast(dec9)
                ).otherwise(zero)
            )
            .cast("double")
            .alias("last_touch_value"),
            F.sum(
                F.round(F.col("conv_value") / F.col("n_touches_conv"), 9).cast(dec9)
            )
            .cast("double")
            .alias("linear_value"),
        )
        .orderBy("channel")
    )


# --------------------------------------------------------------------------
# CDC net-effect apply (last-wins change-feed compaction)
# --------------------------------------------------------------------------
@query(
    "cdc_net_state",
    oracle="""
WITH changes AS (
    SELECT user_id, ts, event_id, value,
           CASE event_type WHEN 'signup' THEN 'I'
                           WHEN 'purchase' THEN 'U'
                           WHEN 'error' THEN 'D' END AS op
    FROM events
    WHERE event_type IN ('signup', 'purchase', 'error')
), ranked AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                 ORDER BY ts DESC, event_id DESC) AS rn,
           COUNT(*) OVER (PARTITION BY user_id) AS n_changes
    FROM changes
)
SELECT user_id, op AS last_op, n_changes,
       ROUND(value, 6) AS last_value
FROM ranked
WHERE rn = 1 AND op <> 'D'
ORDER BY user_id
""",
    tags=("warehouse", "cdc", "compaction"),
)
def cdc_net_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture net-effect compaction: a change feed of
    inserts/updates/deletes (signup/purchase/error standing in for
    I/U/D) collapses to the CURRENT state per key — last operation
    wins, keys whose final op is a delete vanish. This is the apply
    step a Debezium/Kafka CDC stream needs before a warehouse MERGE
    (the record-level half; a table format's MERGE INTO is the
    file-level half).

    Deterministic last-wins: ties on ts break by event_id (the feed's
    monotone sequence number). One window over the user key — at 100 TB
    the feed shuffles once on the uniform key; in production the
    row_number trick runs per micro-batch before the MERGE."""
    e = load_table(spark, sf_dir, "events")
    changes = e.filter(
        F.col("event_type").isin("signup", "purchase", "error")
    ).select(
        "user_id",
        "ts",
        "event_id",
        "value",
        F.when(F.col("event_type") == "signup", "I")
        .when(F.col("event_type") == "purchase", "U")
        .otherwise("D")
        .alias("op"),
    )
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    wc = Window.partitionBy("user_id")
    return (
        changes.withColumn("rn", F.row_number().over(w))
        .withColumn("n_changes", F.count(F.lit(1)).over(wc))
        .filter((F.col("rn") == 1) & (F.col("op") != "D"))
        .select(
            "user_id",
            F.col("op").alias("last_op"),
            "n_changes",
            F.round("value", 6).alias("last_value"),
        )
        .orderBy("user_id")
    )
