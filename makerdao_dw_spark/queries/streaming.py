"""Streaming-executed queries, oracle-checked against batch SQL.

These run REAL Structured Streaming plans (file-stream source →
watermark → windowed/sessionized/stateful aggregation → memory sink,
drained with AvailableNow by streaming/jobs.drain) and return the
materialized result. The DuckDB oracles are the batch-equivalent
answers — streaming and batch must agree on a bounded input, which is
exactly what these check.

Watermark choice: testdata events arrive in one file (one micro-batch),
so a 1-hour watermark is semantic documentation more than a correctness
lever here; on an unbounded stream it bounds state for the window and
session aggregations. Output mode is "complete" for the windowed aggs
(memory sink) so the drained result equals the batch answer exactly.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..session import input_partitions, load_table
from ..streaming.jobs import drain, drain_session
from ..streaming.sources import stream_table
from .registry import query


def _events_session(spark: SparkSession, sf_dir: str) -> SparkSession:
    """The drain session of a stateful events stream: its state store
    gets one partition per 32 MiB of events, at least 4 (a parallelism
    floor)."""
    return drain_session(spark, input_partitions(spark, sf_dir, "events", floor=4))


@query(
    "streaming_windowed_counts",
    oracle="""
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
       event_type,
       COUNT(*) AS n,
       SUM(CAST(value AS DECIMAL(38,6))) AS total_value
FROM events
WHERE ts IS NOT NULL  -- watermarked jobs drop rows with no event time
GROUP BY 1, 2
ORDER BY day, event_type
""",
    tags=("streaming", "watermark", "window"),
)
def streaming_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-day event-time windows with a 1-hour watermark:
    count + exact-decimal value sum per (day, event_type)."""
    ev = stream_table(_events_session(spark, sf_dir), sf_dir, "events")
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(38,6)")).alias("total_value"),
        )
    )
    out = drain(agg, "complete", spark)
    return out.select(
        F.col("w.start").alias("day"), "event_type", "n", "total_value"
    ).orderBy("day", "event_type")


@query(
    "streaming_hopping_counts",
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
    tags=("streaming", "hopping-window", "watermark"),
)
def streaming_hopping_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of `hopping_window_counts`: the same 60/30-minute
    multi-assign windows computed by Structured Streaming with a 1-hour
    watermark (state keyed by (window, type), bounded by the watermark) —
    completing the streaming window family: tumbling, session, hopping.
    Each event enters 2 windows (multi-assign generate)."""
    ev = stream_table(_events_session(spark, sf_dir), sf_dir, "events")
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "60 minutes", "30 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(38,6)"))
            .cast("decimal(38,6)")
            .alias("total_value"),
        )
    )
    out = drain(agg, "complete", spark)
    return out.select(
        F.col("w.start").alias("w_start"),
        F.col("w.end").alias("w_end"),
        "event_type",
        "n_events",
        "total_value",
    ).orderBy("w_start", "event_type")


@query(
    "streaming_session_windows",
    oracle="""
WITH flagged AS (
    SELECT user_id, ts,
           CASE WHEN LAG(ts) OVER w IS NULL
                     OR ts - LAG(ts) OVER w >= INTERVAL 4 HOUR
                THEN 1 ELSE 0 END AS new_session
    FROM events
    WHERE ts IS NOT NULL  -- watermarked jobs drop rows with no event time
    WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), numbered AS (
    SELECT user_id, ts,
           SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts) AS sid
    FROM flagged
)
SELECT user_id,
       MIN(ts) AS session_start,
       MAX(ts) + INTERVAL 4 HOUR AS session_end,
       COUNT(*) AS n_events
FROM numbered
GROUP BY user_id, sid
ORDER BY user_id, session_start
""",
    tags=("streaming", "session-window"),
)
def streaming_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based session windows (4h inactivity) per user via
    ``session_window``, the built-in streaming sessionization operator;
    ``session_end`` is last-event-time + gap (Spark's window.end).

    Spark ``session_window`` splits when the gap is >= the 4h
    duration (windows are [start, last+gap) and merge only on overlap),
    so the oracle's boundary condition is ``>=`` — unlike the strict
    ``>`` of the batch `sessionize_events` query."""
    ev = stream_table(_events_session(spark, sf_dir), sf_dir, "events")
    sess = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "4 hours").alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    out = drain(sess, "complete", spark)
    return out.select(
        "user_id",
        F.col("sw.start").alias("session_start"),
        F.col("sw.end").alias("session_end"),
        "n_events",
    ).orderBy("user_id", "session_start")


# output and state schemas of _update_user_stats, as DDL strings
_STATE_OUT = "user_id BIGINT, n_events BIGINT, max_value DOUBLE, min_value DOUBLE, last_ts TIMESTAMP"
_STATE = "n BIGINT, mx DOUBLE, mn DOUBLE, last_us BIGINT"


def _update_user_stats(key, pdfs: Iterator[pd.DataFrame], state: GroupState):
    """Per-user running stats carried across micro-batches. Only
    order-independent aggregates (count/max/min/event-time max) so the
    result is deterministic under any batch split."""
    n, mx, mn, last_us = state.get if state.exists else (0, None, None, None)
    for pdf in pdfs:
        if len(pdf) == 0:
            continue
        n += len(pdf)
        bmx = float(pdf["value"].max())
        bmn = float(pdf["value"].min())
        # Timestamp.value is epoch-nanos regardless of the column's
        # datetime64 resolution (ns under Arrow defaults, us otherwise)
        bts = int(pd.Timestamp(pdf["ts"].max()).value) // 1000  # -> us
        mx = bmx if mx is None else max(mx, bmx)
        mn = bmn if mn is None else min(mn, bmn)
        last_us = bts if last_us is None else max(last_us, bts)
    state.update((n, mx, mn, last_us))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "max_value": [mx],
            "min_value": [mn],
            "last_ts": [pd.Timestamp(last_us, unit="us")],
        }
    )


@query(
    "streaming_stateful_user_stats",
    oracle="""
SELECT user_id,
       COUNT(*) AS n_events,
       MAX(value) AS max_value,
       MIN(value) AS min_value,
       MAX(ts) AS last_ts
FROM events
WHERE ts IS NOT NULL  -- the stateful job keys time-ordered state on event time
GROUP BY user_id
ORDER BY user_id
""",
    tags=("streaming", "stateful", "applyInPandasWithState"),
)
def streaming_stateful_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent running aggregates (count/max/min/latest) kept
    in the state store across micro-batches — deterministic under any
    batch split, hence exactly oracle-checkable. Custom stateful operator
    (applyInPandasWithState): the pattern for per-key aggregates the
    built-in operators can't express (arbitrary Python state transition).
    Untimestamped rows are excluded: 'latest ts' is undefined for them,
    and pandas would otherwise fold a NaT into the state as the int64-min
    sentinel (year 1677) — the watermarked queries drop such rows
    implicitly, this one pins the same contract explicitly."""
    ev = stream_table(drain_session(spark), sf_dir, "events").filter(F.col("ts").isNotNull())
    st = ev.groupBy("user_id").applyInPandasWithState(
        _update_user_stats, _STATE_OUT, _STATE, "update", GroupStateTimeout.NoTimeout
    )
    # NOT size-derived state partitions here (r11): this operator's cost
    # is the per-group pandas transition function — Python CPU that wants
    # core-count parallelism — and it carries ONE state store per
    # partition, so commit fan-out is already cheap. Measured: 4
    # partitions 4.1 s vs session parallelism 2.2 s at sf0.1/32 cores.
    out = drain(st, "update", spark)
    # A key updated in several micro-batches emits once per batch in the
    # sink; the last emission per key is the final state.
    w = F.row_number().over(
        Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    )
    return (
        out.withColumn("_rk", w).filter(F.col("_rk") == 1).drop("_rk").orderBy("user_id")
    )


def dedup_events(sdf: DataFrame) -> DataFrame:
    """Exactly-once events by event_id, with key state that expires once
    the watermark passes the key's event time + 1 hour."""
    return sdf.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(["event_id"])


@query(
    "streaming_dedup",
    oracle="""
SELECT event_id, ts, user_id, event_type, value, props
FROM events
ORDER BY event_id
""",
    tags=("streaming", "dedup", "exactly-once", "bounded-state"),
)
def streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The stream unioned with itself (every row twice) must come out
    exactly once via ``dropDuplicatesWithinWatermark`` on event_id —
    the bounded-state form (key state expires past the 1h watermark
    horizon instead of growing one row per distinct key forever).
    Deterministic because every column is functionally determined by
    event_id and the AvailableNow drain delivers both union legs in
    one micro-batch — the at-least-once -> exactly-once repair stage of
    an ingestion DAG.

    Unlike plain ``dropDuplicates`` (which keeps one state row per
    distinct key FOREVER — measured 100k -> 1M state rows at 10x input
    in BENCH_streaming_sf1_r7.json, the only streaming query whose
    state grew with corpus size), the watermarked form expires a key's
    state once the watermark passes its event time + horizon: on an
    unbounded 100 TB stream, state is bounded by the duplicate-arrival
    horizon (here 1 hour), not by corpus cardinality.
    tests/test_streaming.py::test_dedup_state_stays_bounded_across_micro_batches
    pins that over ten time-ordered micro-batches.

    Semantics notes, both verified empirically (Spark 4.1):
    - NULL-event-time rows pass through un-dropped and are deduplicated
      against duplicates arriving in the SAME micro-batch (their keys
      are not persisted in state). The AvailableNow drain reads both
      union legs in one micro-batch, so the doubled corpus — including
      NULL-ts rows — dedups exactly and the batch oracle needs no ts
      filter.
    - Duplicates separated by more than the horizon would re-emit;
      that is the operator's contract (the horizon IS the dedup
      window), acceptable because ingestion duplicates are
      retry-clustered in time."""
    s = _events_session(spark, sf_dir)
    doubled = stream_table(s, sf_dir, "events").unionByName(stream_table(s, sf_dir, "events"))
    out = drain(dedup_events(doubled), "append", spark)
    return out.orderBy("event_id")


@query(
    "streaming_static_join",
    oracle="""
SELECT c.c_nationkey,
       COUNT(*) AS n_events,
       SUM(CAST(e.value AS DECIMAL(38,6))) AS total_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY c.c_nationkey
ORDER BY c.c_nationkey
""",
    tags=("streaming", "stream-static-join"),
)
def streaming_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events stream joined to the static customer dimension (broadcast
    per micro-batch), aggregated per nation — the enrichment stage every
    streaming ingest DAG needs. No state store: the static side is
    re-planned each batch, so slowly-changing dims pick up updates."""
    s = _events_session(spark, sf_dir)
    ev = stream_table(s, sf_dir, "events")
    cust = F.broadcast(load_table(s, sf_dir, "customer").select("c_custkey", "c_nationkey"))
    joined = ev.join(cust, ev["user_id"] == cust["c_custkey"])
    agg = joined.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(38,6)")).alias("total_value"),
    )
    out = drain(agg, "complete", spark)
    return out.orderBy("c_nationkey")


@query(
    "streaming_stream_stream_join",
    oracle="""
SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id AS p_user
FROM events p JOIN events c
  ON p.event_type = 'purchase' AND c.event_type = 'click'
 AND p.user_id = c.user_id
 AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
ORDER BY purchase_id, click_id
""",
    tags=("streaming", "stream-stream-join"),
)
def streaming_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchases joined to the same user's clicks in the prior hour —
    two watermarked streams with an event-time-bounded condition (the
    requirement that lets join state expire), checked against the batch
    join answer. Without both watermarks and the time bound on both
    sides, stream-stream join state grows forever."""
    s = _events_session(spark, sf_dir)
    p = (
        stream_table(s, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .withWatermark("ts", "1 hour")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
    )
    c = (
        stream_table(s, sf_dir, "events")
        .filter(F.col("event_type") == "click")
        .withWatermark("ts", "1 hour")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
    )
    j = p.join(
        c,
        F.expr(
            "p_user = c_user AND c_ts >= p_ts - INTERVAL 1 HOUR AND c_ts <= p_ts"
        ),
    )
    out = drain(j.select("purchase_id", "click_id", "p_user"), "append", spark)
    return out.orderBy("purchase_id", "click_id")
