"""User-defined aggregate (Arrow-batched pandas GROUPED_AGG UDAF).

The last user-defined surface in the engine: scalar Python UDFs power
the ABI decoders (`decode/`), a Python UDTF powers the lateral split
(`queries/modern.py`) — this module adds the UDAF, the shape Spark
reserves for aggregation logic its built-ins can't express. The demo
statistic is the Gini coefficient of order values per priority class
(a concentration measure built-in SQL has no aggregate for).

UDAFs are the slow path by design — one Arrow batch transfer per group
set — so the house rule stands: this is the ONLY aggregate in the
registry that leaves the JVM, and the plan test pins that every other
relational query stays EvalPython-free. Scale: grouped-agg UDAFs
shuffle exactly like a built-in agg (hash partition on keys, no
collect); the Python cost is per-group O(n log n) for the sort.

Cross-engine determinism: inputs arrive as DECIMAL(38,6) (exact), the
rank-weighted sums are computed in exact decimal arithmetic inside the
UDAF — Arrow delivers them as Python Decimal objects — and the final
ratio is ONE double division, mirrored term-for-term by the DuckDB
oracle's window formulation. Rank ties are harmless: tied values
contribute identical products under any tie order.
"""

from __future__ import annotations

from decimal import Decimal

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..session import load_table, pandas_group_buckets
from .registry import query


def _make_gini_udaf():
    # built lazily: the pandas_udf decorator parses its return-type
    # string through the active SparkSession, so a module-level
    # definition would break registry import in session-less contexts
    @pandas_udf("double")
    def _gini_decimal(v: pd.Series) -> float:
        """Gini = (2*Σ i·x_(i) − (n+1)·Σx) / (n·Σx), x sorted
        ascending, i = 1..n. Numerator/denominator are exact Decimal;
        one double division at the end."""
        xs = sorted(v.dropna())
        n = len(xs)
        if n == 0:
            return None
        s0 = sum(xs, Decimal(0))
        if s0 == 0:
            # Gini is UNDEFINED for a zero total (0/0): NULL, matching
            # the SQL twin where the division yields NULL — returning
            # 0.0 here diverged from the oracle on an all-zero group
            return None
        s1 = sum((Decimal(i + 1) * x for i, x in enumerate(xs)), Decimal(0))
        return float(2 * s1 - (n + 1) * s0) / float(n * s0)

    return _gini_decimal


@query(
    "udaf_gini_order_values",
    oracle="""
WITH ranked AS (
  SELECT o_orderpriority,
         CAST(o_totalprice AS DECIMAL(38,6)) AS x,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                            ORDER BY CAST(o_totalprice AS DECIMAL(38,6))) AS rn
  FROM orders
), sums AS (
  SELECT o_orderpriority,
         COUNT(*) AS n_orders,
         SUM(CAST(rn * x AS DECIMAL(38,6))) AS s1,
         SUM(x) AS s0
  FROM ranked GROUP BY o_orderpriority
)
SELECT o_orderpriority, n_orders,
       ROUND(CAST(2 * s1 - (n_orders + 1) * s0 AS DOUBLE)
             / CAST(n_orders * s0 AS DOUBLE), 6) AS gini
FROM sums
ORDER BY o_orderpriority
""",
    tags=("udaf", "pandas", "statistics"),
)
def udaf_gini_order_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-value concentration per priority class via a pandas
    GROUPED_AGG UDAF, verified against a pure-SQL window formulation of
    the same exact-decimal Gini formula in DuckDB — proving the Arrow
    decimal round-trip and the UDAF's arithmetic agree with a
    relational engine to the last rounded digit."""
    o = load_table(spark, sf_dir, "orders")
    # Spark disallows mixing a GROUPED_AGG pandas UDAF with built-in
    # aggregates in one agg() [INVALID_PANDAS_UDF_PLACEMENT]; the count
    # comes from a separate agg joined back on the (tiny) group key.
    gini_udaf = _make_gini_udaf()
    gini = o.groupBy("o_orderpriority").agg(
        F.round(gini_udaf(F.col("o_totalprice").cast("decimal(38,6)")), 6).alias(
            "gini"
        )
    )
    counts = o.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n_orders"))
    # null-safe join key: a NULL priority group must survive the
    # count join (plain equi-join drops it — NULL never equals NULL)
    return (
        gini.alias("g")
        .join(
            F.broadcast(counts.alias("c")),
            F.expr("g.o_orderpriority <=> c.o_orderpriority"),
        )
        .select(F.col("g.o_orderpriority").alias("o_orderpriority"), "n_orders", "gini")
        .orderBy("o_orderpriority")
    )


@query(
    "grouped_map_minmax_norm",
    oracle="""
WITH ranged AS (
  SELECT user_id, event_id, value,
         MIN(value) OVER (PARTITION BY user_id) AS lo,
         MAX(value) OVER (PARTITION BY user_id) AS hi
  FROM events
)
SELECT user_id, event_id,
       ROUND(CASE WHEN hi > lo THEN (value - lo) / (hi - lo) ELSE 0.5 END, 6) AS norm
FROM ranged
ORDER BY user_id, event_id
""",
    tags=("grouped-map", "pandas", "normalization"),
)
def grouped_map_minmax_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user min-max normalization via `applyInPandas` (GROUPED_MAP
    — the third and last pandas API family after mapInPandas and the
    GROUPED_AGG UDAF): each user's events arrive as one pandas frame,
    the transform emits a same-cardinality frame. The oracle is the
    pure-window formulation, so the driver proves the Arrow group
    round-trip computes exactly what the relational form does (the
    arithmetic is one subtraction + one division per row — identical
    double ops on identical inputs).

    Scale: GROUPED_MAP shuffles like a groupBy and holds ONE GROUP in
    memory at a time — fine for per-user event counts, wrong for
    whale groups (then: window form above, which streams). That
    trade-off is the reason both forms exist in this registry.

    COST NOTE (r11, the cogroup_order_event_stats bucketing, measured
    there at 8.9x): GROUPED_MAP pays one Python call per GROUP, so the
    grouped-map key is a coarse bucket pmod(hash(user_id), 256) and the
    pandas body normalizes every user in the bucket VECTORIZED
    (groupby(dropna=False).transform over min/max — NULL user keys keep
    their group, matching the window oracle's NULL partition). Python
    invocations drop from n_users to the bucket count; per-row
    arithmetic is the same (value - lo) / (hi - lo) in float64, so
    values are bit-identical. Bucket count = one per shuffle partition
    (session.pandas_group_buckets, r11: each group also pays a fixed
    Arrow flush — 256 buckets measured 4x slower than 32 at sf0.1).
    sf0.1 sweep: 9.2 s -> see OPTIMIZATION_r11.md."""
    import numpy as np

    n_buckets = pandas_group_buckets(spark)
    e = (
        load_table(spark, sf_dir, "events")
        .select("user_id", "event_id", "value")
        .withColumn("b", F.pmod(F.hash("user_id"), F.lit(n_buckets)))
    )

    def norm(pdf: pd.DataFrame) -> pd.DataFrame:
        g = pdf.groupby("user_id", dropna=False)["value"]
        lo = g.transform("min")
        hi = g.transform("max")
        denom = hi - lo
        spread = denom > 0
        n = pd.Series(
            np.where(
                spread,
                (pdf["value"] - lo) / np.where(spread, denom, 1.0),
                0.5,
            ),
            index=pdf.index,
        )
        # NO rounding here: pandas .round is numpy scaled half-to-even,
        # a different algorithm from the F.round/DuckDB ROUND pair the
        # rest of the registry standardizes on — round Spark-side
        return pd.DataFrame(
            {"user_id": pdf["user_id"], "event_id": pdf["event_id"], "norm": n}
        )

    return (
        e.groupBy("b")
        .applyInPandas(norm, "user_id bigint, event_id bigint, norm double")
        .select("user_id", "event_id", F.round("norm", 6).alias("norm"))
        .orderBy("user_id", "event_id")
    )
