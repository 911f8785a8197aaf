"""Incremental view maintenance: refresh a materialized rollup from a
delta without rescanning history.

The reference's whole ingestion design is incremental-append
(`classes.py:32-50` resumes at max(block_number)+1), but its analytics
query recomputes from scratch on every run. This operator closes that
gap Spark-natively: a rollup over (sum, count)-style mergeable partial
aggregates can absorb a delta by UNION + re-aggregate — the algebraic
property (SUM of partial SUMs == SUM of all) that also underlies
Spark's own map-side partial aggregation, lifted to the job level.

At 100 TB this is the difference between a daily job that scans one
day and one that scans three years: the materialized side is read
pre-aggregated (|groups| rows, not |history| rows), only the delta
touches raw data. AVG is deliberately included because it is NOT
directly mergeable — it must be re-derived from merged (sum, count),
which the oracle's full recompute verifies we do correctly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import load_table
from .registry import query

_CUTOFF = "1999-01-01"


@query(
    "ivm_incremental_rollup",
    oracle="""
SELECT l_returnflag, l_linestatus,
       COUNT(*) AS n_rows,
       CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DECIMAL(38,6)) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DECIMAL(38,6)) AS sum_price,
       ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*), 6) AS avg_qty
FROM lineitem
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
    tags=("warehouse", "ivm", "partial-agg-merge"),
)
def ivm_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintain a (returnflag, linestatus) revenue rollup incrementally:
    the pre-cutoff "materialized" rollup and the post-cutoff delta
    rollup are each aggregated independently, then merged by UNION +
    SUM over the partials. The oracle is a FULL RECOMPUTE over the
    whole table — equality proves the merge is lossless.

    The two branch scans carry disjoint pushed date filters (asserted
    in test_plan_shape.py): in production the materialized branch is a
    |groups|-row table read, and only the delta branch touches the
    fact. AVG re-derives from merged (sum, count) — the canonical
    non-mergeable aggregate handled via its mergeable decomposition."""
    li = load_table(spark, sf_dir, "lineitem")
    cutoff = F.lit(_CUTOFF).cast("timestamp")

    def rollup(part: DataFrame) -> DataFrame:
        return part.groupBy("l_returnflag", "l_linestatus").agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("l_quantity").cast("decimal(38,6)")).alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast("decimal(38,6)")).alias("sum_price"),
        )

    # NULL ship dates route to the materialized branch so the split is
    # EXHAUSTIVE — bare `< cutoff` / `>= cutoff` both reject NULL and
    # would silently drop those rows from the merged rollup while the
    # full-recompute oracle counts them
    materialized = rollup(
        li.filter(F.col("l_shipdate").isNull() | (F.col("l_shipdate") < cutoff))
    )
    delta = rollup(li.filter(F.col("l_shipdate") >= cutoff))
    merged = (
        materialized.unionByName(delta)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("n_rows").alias("n_rows"),
            F.sum("sum_qty").cast("decimal(38,6)").alias("sum_qty"),
            F.sum("sum_price").cast("decimal(38,6)").alias("sum_price"),
        )
    )
    return merged.select(
        "l_returnflag",
        "l_linestatus",
        "n_rows",
        "sum_qty",
        "sum_price",
        F.round(F.col("sum_qty").cast("double") / F.col("n_rows"), 6).alias("avg_qty"),
    ).orderBy("l_returnflag", "l_linestatus")
