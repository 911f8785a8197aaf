"""Flagship query — the `assets_per_type` plan shape on the driver's `events` table.

Mirrors the reference's entire analytics surface
(`/root/reference/queries/makerdao/assets_per_type.sql:1-79`) structurally:
filter<> (B4) -> typed-null union branches (B3/B5) -> per-key cumulative
window (B11) -> time bucket (B14) -> row_number-desc top-1-per-group (B17)
-> CASE categorization (B18) -> final group-by with sum + blended ratio
(B19) -> multi-key order (B20).

Determinism notes: monetary values are cast to DECIMAL(38,6) *before* any
aggregation so sums are exact and order-insensitive; every window order
includes `event_id` so the total order is unique (RANGE default frame ==
ROWS, matching PostgreSQL/DuckDB tie semantics the reference relies on).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType

from ..session import load_table
from .registry import query

DEC = DecimalType(38, 6)

FLAGSHIP_ORACLE = """
WITH base AS (
    SELECT event_id, ts, user_id, event_type, value
    FROM events WHERE value <> 0.0
), branched AS (
    SELECT user_id, ts, event_id, event_type,
           CAST(value AS DECIMAL(38,6)) AS credit,
           CAST(NULL AS DECIMAL(38,6)) AS debit
    FROM base WHERE event_type <> 'error'
    UNION ALL BY NAME
    SELECT CAST(value AS DECIMAL(38,6)) AS debit,
           user_id, ts, event_id, event_type,
           CAST(NULL AS DECIMAL(38,6)) AS credit
    FROM base WHERE event_type = 'error'
), cum AS (
    SELECT *,
           SUM(COALESCE(credit, 0) - COALESCE(debit, 0))
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS balance
    FROM branched
), bucketed AS (
    SELECT *,
           CAST(ts AS DATE) AS dt,
           ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                              ORDER BY ts DESC, event_id DESC) AS rk
    FROM cum
), last_state AS (
    SELECT * FROM bucketed WHERE rk = 1 AND balance <> 0
), categorized AS (
    SELECT dt,
           CASE WHEN event_type LIKE 'purch%' THEN 'revenue'
                WHEN event_type IN ('click', 'view') THEN 'engagement'
                WHEN event_type = 'signup' THEN 'acquisition'
                ELSE 'other' END AS category,
           balance
    FROM last_state
)
SELECT dt, category,
       SUM(balance) AS total_balance,
       COUNT(*) AS n_users,
       CAST(SUM(balance) AS DOUBLE) / COUNT(*) AS avg_balance
FROM categorized
GROUP BY dt, category
ORDER BY dt DESC, category
"""


def _flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread=False: the branch stages are cheap filter+projects and the
    # window immediately hash-exchanges on user_id — an auto-spread
    # round-robin exchange before that is pure overhead.
    events = load_table(spark, sf_dir, "events", spread=False)

    base = events.filter(F.col("value") != 0.0)

    credit = base.filter(F.col("event_type") != "error").select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.col("value").cast(DEC).alias("credit"),
        F.lit(None).cast(DEC).alias("debit"),
    )
    # Column order deliberately differs: unionByName is load-bearing (B5).
    debit = base.filter(F.col("event_type") == "error").select(
        F.col("value").cast(DEC).alias("debit"),
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.lit(None).cast(DEC).alias("credit"),
    )
    branched = credit.unionByName(debit)

    w_cum = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cum = branched.withColumn(
        "balance",
        F.sum(F.coalesce("credit", F.lit(0).cast(DEC)) - F.coalesce("debit", F.lit(0).cast(DEC))).over(w_cum),
    )

    # Last row per (user, day) WITHOUT a second window sort: in the same
    # ascending (ts, event_id) order the cumulative window already
    # established, a row is its day's last iff the next row belongs to a
    # different day (ties impossible — event_id is unique). Equivalent to
    # row_number() desc == 1 over (user_id, dt) but reuses the existing
    # partitioning AND ordering: no extra exchange, no extra sort.
    bucketed = cum.withColumn("dt", F.col("ts").cast("date")).withColumn(
        "nxt_dt", F.lead(F.col("ts").cast("date")).over(w_cum)
    )
    last_state = bucketed.filter(
        (F.col("nxt_dt").isNull() | (F.col("nxt_dt") != F.col("dt"))) & (F.col("balance") != 0)
    )

    categorized = last_state.select(
        "dt",
        F.when(F.col("event_type").like("purch%"), "revenue")
        .when(F.col("event_type").isin("click", "view"), "engagement")
        .when(F.col("event_type") == "signup", "acquisition")
        .otherwise("other")
        .alias("category"),
        "balance",
    )

    return (
        categorized.groupBy("dt", "category")
        .agg(
            F.sum("balance").alias("total_balance"),
            F.count(F.lit(1)).alias("n_users"),
            (F.sum("balance").cast("double") / F.count(F.lit(1))).alias("avg_balance"),
        )
        .orderBy(F.col("dt").desc(), F.col("category"))
    )


query(
    "flagship_events_funnel",
    oracle=FLAGSHIP_ORACLE,
    tags=("B2", "B3", "B4", "B5", "B7", "B11", "B14", "B17", "B18", "B19", "B20"),
    doc="assets_per_type plan shape on events: union/window/top-1/categorize/rollup",
)(_flagship)
