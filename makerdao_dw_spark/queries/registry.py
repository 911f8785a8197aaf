"""Query registry — the declared operator surface.

Every implemented operator from SURVEY.md §2 registers here as a named
query: a Spark implementation ``fn(spark, sf_dir) -> DataFrame`` plus,
where ANSI-SQL-expressible, a DuckDB oracle SQL string over the same
parquet tables. The driver harness runs both sides and compares
row-count + schema + order-insensitive value hash, so:

- alias every computed column identically in both implementations
- make results deterministic: exact decimal aggregation instead of
  order-dependent double sums; unique total orders under every window
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from ..session import query_scope

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL twin; None => rows-only check
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""


REGISTRY: dict[str, Query] = {}


def query(name: str, oracle: str | None = None, tags: tuple[str, ...] = (), doc: str = ""):
    """Decorator registering a Spark query implementation.

    The registered fn is wrapped as the single per-query entry: it runs
    inside session.query_scope, which at a top-level call configures
    the session (so a vanilla session such as the driver harness's
    comes out right and query bodies just call load_table), opens the
    QueryScope that owns what the query materializes and stages, and
    releases the same thread's earlier scopes (frames one query back,
    staged dirs two: the returned plan's consumers run after the fn
    returns, so the next entry is the earliest safe point; without the
    release, per-query caches accumulate across the one-session-
    many-queries driver runs). A NESTED call (a registered query
    invoked through REGISTRY from inside another) joins the outer
    query's scope and does neither. The decorator returns the raw fn,
    so calling it directly bypasses the wrapper and expects a
    configured session."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")

        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            with query_scope(spark):
                return fn(spark, sf_dir)

        wrapped.__name__ = fn.__name__
        wrapped.__doc__ = fn.__doc__
        wrapped.__wrapped__ = fn
        REGISTRY[name] = Query(name=name, fn=wrapped, oracle=oracle, tags=tags, doc=doc or (fn.__doc__ or ""))
        return fn

    return deco


# ---------------------------------------------------------------------------
# Output-surface normalization (driver-canonicalizer contract).
#
# The external driver hash-compares stringified cells, so DECIMAL outputs
# are fragile: Spark's DECIMAL(38,6) renders "4956.660000" while DuckDB's
# DECIMAL(38,2) renders "4956.66" — equal values, failed hash. The fix is
# a *result-surface* rule, not a query rewrite: aggregate in exact DECIMAL
# (deterministic under any partitioning/order), then cast the FINAL output
# column to DOUBLE on BOTH sides. Casting the same exact decimal value to
# IEEE double is deterministic on both engines, and the driver formats
# floats with %.12g, so both sides hash identically.
#
# DOUBLE_CAST maps query name -> output columns to cast. It is applied at
# the queries_dict()/oracles_dict() boundary: the Spark DataFrame gets
# .withColumn(c, c.cast("double")) and the DuckDB oracle is wrapped in
# SELECT * REPLACE (CAST(c AS DOUBLE) AS c). tests/test_output_surface.py
# walks the registry and fails if any query leaks a DecimalType (or
# array/map/NTZ) column, so new queries can't reintroduce the class.
# ---------------------------------------------------------------------------
DOUBLE_CAST: dict[str, tuple[str, ...]] = {
    "above_avg_orders": ("total",),
    "bucketed_event_counts": ("total_value",),
    "case_categorize_parts": ("total_price",),
    "cube_order_stats": ("total",),
    "cusum_changepoints": ("x", "cusum"),
    "filter_project": ("net_price",),
    "flagship_events_funnel": ("total_balance",),
    "global_window_share": ("total",),
    "groupby_all_lateral_alias": ("sum_gross", "sum_net"),
    "hopping_window_counts": ("total_value",),
    "ivm_incremental_rollup": ("sum_qty", "sum_price"),
    "join_broadcast_dims": ("total_balance",),
    "locf_last_purchase": ("last_purchase_value",),
    "math_rescale_pow": ("rounded",),
    "multiway_join_revenue": ("revenue",),
    "outer_join_order_counts": ("total_spend",),
    "q10_returned_items": ("revenue",),
    "q11_important_parts": ("part_revenue",),
    "q14_promo_revenue_share": ("promo_revenue", "total_revenue"),
    "q15_top_supplier": ("total_revenue",),
    "q17_small_quantity_revenue": ("small_qty_revenue",),
    "q18_large_orders": ("sum_qty",),
    "q19_disjunctive_predicates": ("revenue",),
    "q1_pricing_summary": ("sum_qty", "sum_base_price", "sum_disc_price", "sum_charge"),
    "q20_concentrated_shippers": ("qty_1997", "qty_total"),
    "q22_dormant_rich_customers": ("total_bal",),
    "q3_shipping_priority": ("revenue",),
    "q5_local_supplier_volume": ("revenue",),
    "q6_forecast_revenue": ("revenue",),
    "q7_nation_trade_flows": ("revenue",),
    "q8_market_share": ("nation_revenue", "total_revenue"),
    "q9_product_profit": ("sum_profit",),
    "rolling_zscore_anomalies": ("x",),
    "rollup_returnflag": ("sum_qty",),
    "salted_skew_aggregate": ("total",),
    "session_window_batch": ("total_value",),
    "streaming_hopping_counts": ("total_value",),
    "streaming_static_join": ("total_value",),
    "streaming_windowed_counts": ("total_value",),
    "table_diff_snapshot": ("sum_price_v1", "sum_price_v2"),
    "topk_orders": ("total",),
    "union_typed_nulls": ("balance", "order_total"),
    "whale_key_salted_join": ("total_price",),
    "window_cumulative": ("running_value",),
    "window_rank_lag": ("total",),
    "winsorize_values": ("winsorized_sum",),
}


# DATE output columns rendered as ISO 'YYYY-MM-DD' strings on both sides.
# Same rationale as DOUBLE_CAST: a DATE cell survives fetchall-style
# canonicalizers, but a pandas-based one converts DuckDB DATE to
# datetime64 ("2024-01-30 00:00:00") while Spark keeps datetime.date
# ("2024-01-30") — the string form is unambiguous under ANY canon. The
# only r2-sampled date-output query (flagship) hash-failed; none passed.
DATE_STRING_CAST: dict[str, tuple[str, ...]] = {
    "cohort_retention": ("cohort_day",),
    "concurrency_sweepline": ("day",),
    "cusum_changepoints": ("d",),
    "flagship_events_funnel": ("dt",),
    "interpolate_daily_values": ("d",),
    "recursive_cte_date_grid": ("day",),
    "rolling_zscore_anomalies": ("d",),
}


def _wrap_casts(
    fn: QueryFn, dbl: tuple[str, ...], dstr: tuple[str, ...]
) -> QueryFn:
    from pyspark.sql import functions as F

    def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
        df = fn(spark, sf_dir)
        for c in dbl:
            if c in df.columns:
                df = df.withColumn(c, F.col(c).cast("double"))
        for c in dstr:
            if c in df.columns:
                df = df.withColumn(c, F.col(c).cast("string"))
        return df

    wrapped.__name__ = getattr(fn, "__name__", "query")
    wrapped.__doc__ = fn.__doc__
    return wrapped


def _wrap_oracle_casts(sql: str, dbl: tuple[str, ...], dstr: tuple[str, ...]) -> str:
    repl = ", ".join(
        [f'CAST("{c}" AS DOUBLE) AS "{c}"' for c in dbl]
        + [f'CAST("{c}" AS VARCHAR) AS "{c}"' for c in dstr]
    )
    return f"SELECT * REPLACE ({repl}) FROM (\n{sql}\n) __cast_t"


def queries_dict() -> dict[str, QueryFn]:
    out: dict[str, QueryFn] = {}
    for name, q in REGISTRY.items():
        dbl = DOUBLE_CAST.get(name, ())
        dstr = DATE_STRING_CAST.get(name, ())
        out[name] = _wrap_casts(q.fn, dbl, dstr) if (dbl or dstr) else q.fn
    return out


def oracles_dict() -> dict[str, str]:
    out: dict[str, str] = {}
    for name, q in REGISTRY.items():
        if q.oracle is None:
            continue
        dbl = DOUBLE_CAST.get(name, ())
        dstr = DATE_STRING_CAST.get(name, ())
        out[name] = (
            _wrap_oracle_casts(q.oracle, dbl, dstr) if (dbl or dstr) else q.oracle
        )
    return out
