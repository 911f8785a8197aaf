"""Advanced relational operators: as-of join, sessionization, pivot,
percentiles, ordered aggregation, min_by/max_by + first/last windows,
date/time functions. All oracle-checked.

The as-of join is the headline: the operator class the reference's
schema design implies (join events to the latest prior state) and a
standard time-series primitive Spark lacks natively. Implemented as a
union + LOCF window — a shuffle-on-key, sort-within-partition plan that
scales linearly (no range explosion, no per-row probes), exactly how
you'd run it at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DecimalType

from ..session import load_table, pandas_group_buckets
from .registry import query

DEC = DecimalType(38, 6)


# --------------------------------------------------------------------------
# As-of join: each order joined to the customer's latest event before it.
# Spark: tag+union both streams, one window LOCF pass. Oracle: DuckDB
# ASOF JOIN (native) — two independent implementations, same semantics.
# --------------------------------------------------------------------------
@query(
    "asof_join_order_events",
    oracle="""
WITH e1 AS (
    -- one state row per (user, ts): MAX event_id (+ its event_type) —
    -- ASOF tie-breaking among equal state timestamps is unspecified in
    -- both engines, so the dedup IS the determinism contract (mirrored
    -- in the Spark path; same pattern as asof_backward_order_events).
    -- event_type rides a struct through MAX_BY: bare MAX_BY(event_type,
    -- event_id) IGNORES rows whose event_type is NULL and would
    -- forward-fill from an older event — the struct is never NULL, so
    -- the winner's NULL survives (pinned by the degenerate-corpus test
    -- test_asof_null_event_type_on_winning_row)
    SELECT user_id, ts, MAX(event_id) AS event_id,
           (MAX_BY(struct_pack(ty := event_type), event_id)).ty AS event_type
    FROM events WHERE ts IS NOT NULL GROUP BY user_id, ts
)
-- NULL-date probes are split out with NULL payloads: an order with no
-- date has no "as of" point (DuckDB's ASOF would otherwise apply its
-- own NULL ordering and match the LATEST state — engine quirk, not a
-- semantic); untimestamped events are likewise never "latest prior"
SELECT o.o_orderkey, o.o_custkey,
       e.event_id AS last_event_id, e.event_type AS last_event_type
FROM (SELECT * FROM orders WHERE o_orderdate IS NOT NULL) o
ASOF LEFT JOIN e1 e
  ON o.o_custkey = e.user_id AND e.ts < o.o_orderdate
UNION ALL
SELECT o_orderkey, o_custkey, NULL, NULL
FROM orders WHERE o_orderdate IS NULL
ORDER BY o_orderkey
""",
    tags=("asof", "range-join"),
)
def asof_join_order_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of (latest-prior) join via union + LOCF window.

    DuckDB ties ASOF to strict `<`; we replicate by ordering PROBE rows
    before state rows at equal timestamps (`is_probe` DESC), so the
    probe's preceding-rows frame sees only strictly-earlier states —
    an event at exactly the order's timestamp is NOT a match (pinned by
    the degenerate-corpus oracle compare, which caught the inverted
    ordering).

    Determinism contract: MULTIPLE state rows at the same (user_id, ts)
    are tie-broken by MAX(event_id) — pinned on the Spark side by adding
    last_event_id to the window orderBy (the frame's final row is then
    the max-event_id state of the latest strictly-earlier timestamp, and
    F.last of both payload columns reads that same row), and on the
    oracle side by the dedup CTE (DuckDB ASOF's tie pick among equal
    state timestamps is unspecified). Zero extra shuffle — the plan stays
    one hash exchange (test_plan_shape.test_asof_join_single_shuffle);
    asof_backward_order_events pins the mirror contract (MIN) the same
    way. The property test test_semantics_properties.py generates
    deliberate ties against DuckDB.
    """
    # window-first plan: skip auto-spread (see window_rank_lag note).
    # Untimestamped events are never "latest prior" — excluded (their
    # NULL t would sort NULLS FIRST into every probe's preceding frame)
    # NULL-key states excluded too: the window PARTITIONS BY key, and
    # Spark groups NULL keys into one partition — a NULL-user state
    # would match a NULL-custkey probe, which join equality never does
    e = load_table(spark, sf_dir, "events", spread=False)
    e = e.filter(F.col("ts").isNotNull() & F.col("user_id").isNotNull()).select(
        F.col("user_id").alias("k"),
        F.col("ts").alias("t"),
        F.lit(0).alias("is_probe"),
        F.col("event_id").alias("last_event_id"),
        F.col("event_type").alias("last_event_type"),
        F.lit(None).cast("long").alias("o_orderkey"),
    )
    o = load_table(spark, sf_dir, "orders", spread=False)
    o = o.select(
        F.col("o_custkey").alias("k"),
        F.col("o_orderdate").alias("t"),
        F.lit(1).alias("is_probe"),
        F.lit(None).cast("long").alias("last_event_id"),
        F.lit(None).cast("string").alias("last_event_type"),
        "o_orderkey",
    )
    # strict '<': at equal t the state row must NOT be visible to the
    # probe, so probes sort BEFORE states on ties (is_probe DESC puts
    # probe=1 first) — LOCF then only sees strictly-earlier states.
    # (Caught by the degenerate-corpus oracle compare: the previous ASC
    # ordering put the state first, so an event at EXACTLY the order's
    # timestamp leaked into the match while DuckDB's ASOF excluded it.)
    # last_event_id last in the orderBy: among equal-(t) state rows the
    # frame's final row is the MAX event_id — the determinism contract.
    w = (
        Window.partitionBy("k")
        .orderBy(F.col("t"), F.col("is_probe").desc(), F.col("last_event_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # both payload columns ride ONE struct (NULL on probe rows, so
    # ignorenulls skips them): F.last reads id and type off the SAME
    # state row even if event_type were NULL there — matching the
    # oracle's MAX_BY(event_type, event_id), which returns NULL rather
    # than forward-filling from an older event.
    merged = e.unionByName(o).withColumn(
        "ev",
        F.when(
            F.col("is_probe") == 0,
            F.struct(F.col("last_event_id"), F.col("last_event_type")),
        ),
    ).withColumn("ev_ff", F.last("ev", ignorenulls=True).over(w))
    # NULL-date probes match nothing BY CONTRACT (their NULLS-FIRST
    # position already gives an empty preceding frame; the explicit
    # guard pins the semantics against ordering changes)
    return (
        merged.filter(F.col("is_probe") == 1)
        .select(
            "o_orderkey",
            F.col("k").alias("o_custkey"),
            F.when(
                F.col("t").isNotNull() & F.col("k").isNotNull(),
                F.col("ev_ff.last_event_id"),
            ).alias("last_event_id"),
            F.when(
                F.col("t").isNotNull() & F.col("k").isNotNull(),
                F.col("ev_ff.last_event_type"),
            ).alias("last_event_type"),
        )
        .orderBy("o_orderkey")
    )


# --------------------------------------------------------------------------
# Sessionization: 4-hour-gap sessions per user (streaming-adjacent op
# expressed as lag -> flag -> cumulative session id)
# --------------------------------------------------------------------------
@query(
    "sessionize_events",
    oracle="""
WITH flagged AS (
    SELECT user_id, event_id, ts,
           CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                     > INTERVAL 4 HOUR OR
                LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                THEN 1 ELSE 0 END AS new_session
    FROM events
), numbered AS (
    SELECT *, CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS session_id
    FROM flagged
)
SELECT user_id, session_id, COUNT(*) AS n_events,
       MIN(ts) AS session_start, MAX(ts) AS session_end
FROM numbered
GROUP BY user_id, session_id
ORDER BY user_id, session_id
""",
    tags=("session", "B11", "B12"),
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = e.withColumn("prev_ts", F.lag("ts").over(w)).withColumn(
        "new_session",
        F.when(
            F.col("prev_ts").isNull()
            | (F.col("ts").cast("long") - F.col("prev_ts").cast("long") > 4 * 3600),
            1,
        ).otherwise(0),
    )
    numbered = flagged.withColumn("session_id", F.sum("new_session").over(w))
    return (
        numbered.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
        )
        .orderBy("user_id", "session_id")
    )


# --------------------------------------------------------------------------
# Pivot (conditional aggregation fan-out)
# --------------------------------------------------------------------------
@query(
    "pivot_event_counts",
    oracle="""
SELECT user_id,
       COUNT(*) FILTER (WHERE event_type = 'click') AS click,
       COUNT(*) FILTER (WHERE event_type = 'view') AS view,
       COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
       COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
       COUNT(*) FILTER (WHERE event_type = 'error') AS error
FROM events
GROUP BY user_id
ORDER BY user_id
""",
    tags=("pivot",),
)
def pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    kinds = ["click", "view", "purchase", "signup", "error"]
    return (
        e.groupBy("user_id")
        .pivot("event_type", kinds)
        .agg(F.count(F.lit(1)))
        .na.fill(0, kinds)
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# Percentiles (exact, interpolated — percentile_cont semantics both sides)
# --------------------------------------------------------------------------
@query(
    "percentile_order_values",
    oracle="""
SELECT o_orderpriority,
       ROUND(quantile_cont(o_totalprice, 0.5), 4) AS p50,
       ROUND(quantile_cont(o_totalprice, 0.9), 4) AS p90,
       ROUND(quantile_cont(o_totalprice, 0.99), 4) AS p99,
       ROUND(MIN(o_totalprice), 4) AS lo,
       ROUND(MAX(o_totalprice), 4) AS hi
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
    tags=("percentile",),
)
def percentile_order_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(o_totalprice, 0.9)"), 4).alias("p90"),
            F.round(F.expr("percentile(o_totalprice, 0.99)"), 4).alias("p99"),
            F.round(F.min("o_totalprice"), 4).alias("lo"),
            F.round(F.max("o_totalprice"), 4).alias("hi"),
        )
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# Ordered string aggregation + array aggregation
# --------------------------------------------------------------------------
@query(
    "ordered_string_agg",
    oracle="""
SELECT n.n_name AS nation,
       string_agg(c.c_name, ',' ORDER BY c.c_name) AS customers_csv,
       array_to_string(list_sort(list(c.c_custkey)), ',') AS custkeys
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
ORDER BY nation
""",
    tags=("stringagg", "collect"),
)
def ordered_string_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    return (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.array_join(F.array_sort(F.collect_list("c_name")), ",").alias("customers_csv"),
            F.array_join(
                F.array_sort(F.collect_list("c_custkey")).cast("array<string>"), ","
            ).alias("custkeys"),
        )
        .orderBy("nation")
    )


# --------------------------------------------------------------------------
# min_by / max_by + first/last window values
# --------------------------------------------------------------------------
@query(
    "minby_maxby_orders",
    oracle="""
SELECT o_custkey,
       MIN_BY(o_orderkey, o_totalprice) AS cheapest_order,
       MAX_BY(o_orderkey, o_totalprice) AS priciest_order,
       ARG_MIN(o_orderdate, o_orderkey) AS first_key_date
FROM orders
GROUP BY o_custkey
ORDER BY o_custkey
""",
    tags=("minby", "maxby"),
)
def minby_maxby_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """min_by/max_by: deterministic because (o_totalprice, o_orderkey)
    pairs are unique per customer in this data; arg_min on the unique
    orderkey is always deterministic."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.expr("min_by(o_orderkey, o_totalprice)").alias("cheapest_order"),
            F.expr("max_by(o_orderkey, o_totalprice)").alias("priciest_order"),
            F.expr("min_by(o_orderdate, o_orderkey)").alias("first_key_date"),
        )
        .orderBy("o_custkey")
    )


@query(
    "first_last_window",
    oracle="""
SELECT DISTINCT user_id,
       FIRST_VALUE(event_id) OVER w AS first_event,
       LAST_VALUE(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_event,
       NTH_VALUE(event_id, 2) OVER w AS second_event
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
ORDER BY user_id
""",
    tags=("firstlast", "nth"),
)
def first_last_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        e.select(
            "user_id",
            F.first("event_id").over(w).alias("first_event"),
            F.last("event_id").over(w).alias("last_event"),
            F.nth_value("event_id", 2).over(w).alias("second_event"),
        )
        .distinct()
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# Date/time function battery
# --------------------------------------------------------------------------
@query(
    "date_functions",
    oracle="""
SELECT event_id,
       CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_start,
       CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hour_start,
       EXTRACT(year FROM ts) AS y,
       EXTRACT(month FROM ts) AS m,
       EXTRACT(dow FROM ts) AS dow,
       EXTRACT(hour FROM ts) AS h,
       CAST(ts AS DATE) + INTERVAL 7 DAY AS next_week
FROM events
ORDER BY event_id
""",
    tags=("datetime",),
)
def date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXTRACT(dow): DuckDB numbers Sunday=0..Saturday=6; Spark's dayofweek
    is Sunday=1..7, so subtract 1 to align."""
    e = load_table(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.date_trunc("day", "ts").alias("day_start"),
        F.date_trunc("hour", "ts").alias("hour_start"),
        F.year("ts").cast("long").alias("y"),
        F.month("ts").cast("long").alias("m"),
        (F.dayofweek("ts") - 1).cast("long").alias("dow"),
        F.hour("ts").cast("long").alias("h"),
        (F.col("ts").cast("date") + F.expr("INTERVAL 7 DAY")).cast("timestamp").alias("next_week"),
    ).orderBy("event_id")


# --------------------------------------------------------------------------
# Secondary sort + mapInPandas: per-key ordered imperative logic.
# --------------------------------------------------------------------------
_DELTA_ORACLE = """
SELECT user_id, event_id,
       value - LAG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS delta
FROM events
ORDER BY user_id, event_id
"""


@query(
    "secondary_sort_deltas",
    oracle=_DELTA_ORACLE,
    tags=("mapInPandas", "secondary-sort", "sessionless"),
)
def secondary_sort_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The secondary-sort pattern: hash-repartition by key, sort within
    partitions by (key, time, id), then a single mapInPandas pass that
    carries state ACROSS Arrow batches (a key's rows may straddle the
    ~10k-row batch boundary — the carry is the part naive
    implementations get wrong). Computes each event's value delta vs the
    user's previous event; oracle = a LAG window, so the imperative and
    declarative routes must agree bit-for-bit.

    At scale this is the fallback shape for per-key ordered logic Spark
    expressions can't state (custom decoders, run-length logic): ONE
    shuffle, no driver involvement, Arrow-batched Python.
    """
    import pandas as pd

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_id", "value")
    n = spark.sparkContext.defaultParallelism
    part = ev.repartition(n, "user_id").sortWithinPartitions("user_id", "ts", "event_id")

    def deltas(batches):
        prev_user, prev_val = None, None
        for pdf in batches:
            vals = []
            for u, v in zip(pdf["user_id"], pdf["value"]):
                vals.append(v - prev_val if u == prev_user else None)
                prev_user, prev_val = u, v
            yield pd.DataFrame(
                {
                    "user_id": pdf["user_id"],
                    "event_id": pdf["event_id"],
                    # nullable Float64 so None -> SQL NULL (plain float64
                    # would smuggle NaN through instead)
                    "delta": pd.array(vals, dtype="Float64"),
                }
            )

    out = part.mapInPandas(deltas, "user_id BIGINT, event_id BIGINT, delta DOUBLE")
    return out.orderBy("user_id", "event_id")


# --------------------------------------------------------------------------
# Event-sequence pattern matching (MATCH_RECOGNIZE-lite)
# --------------------------------------------------------------------------
# Whale-key cap for event_pattern_match: the pattern is evaluated over
# each user's FIRST _PATH_CAP events (by (ts, event_id)); n_events stays
# the exact full count and `truncated` flags capped users. The cap
# bounds the aggregation buffer (the pre-r6 formulation collect_list'd
# EVERY event of a whale user into one buffer before sorting) — same
# pattern as inverted_index_postings' pre-collect row_number limit.
_PATH_CAP = 10_000


def _pattern_oracle(cap: int) -> str:
    return f"""
WITH ranked AS (
    SELECT user_id, event_id, ts,
           CASE event_type WHEN 'view' THEN 'v'
                           WHEN 'click' THEN 'c'
                           WHEN 'purchase' THEN 'p'
                           WHEN 'signup' THEN 's'
                           ELSE 'e' END AS sym,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
    FROM events
), seq AS (
    SELECT user_id,
           string_agg(CASE WHEN rn <= {cap} THEN sym END, ''
                      ORDER BY ts, event_id) AS path,
           COUNT(*) AS n_events
    FROM ranked GROUP BY user_id
)
SELECT user_id, n_events,
       len(path) - len(regexp_replace(path, 'v[^p]*c[^p]*p', '', 'g'))
         AS matched_len,
       CASE WHEN regexp_matches(path, 'v[^p]*c[^p]*p') THEN
            CAST(strpos(path, 'v') AS INT) ELSE NULL END AS first_v_pos,
       regexp_matches(path, 'v[^p]*c[^p]*p') AS converted,
       n_events > {cap} AS truncated
FROM seq
ORDER BY user_id
"""


def _pattern_match_frame(e: DataFrame, cap: int) -> DataFrame:
    """Core of event_pattern_match with an explicit whale cap (the
    pathological-user test drives this with a small cap; the registered
    query uses _PATH_CAP)."""
    sym = (
        F.when(F.col("event_type") == "view", "v")
        .when(F.col("event_type") == "click", "c")
        .when(F.col("event_type") == "purchase", "p")
        .when(F.col("event_type") == "signup", "s")
        .otherwise("e")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ranked = e.select(
        "user_id", "ts", "event_id", sym.alias("sym")
    ).withColumn("rn", F.row_number().over(w))
    # rank window and groupBy share ONE user_id exchange; collect_list
    # skips the NULLs the rn-guard produces, so the aggregation buffer
    # holds at most `cap` structs per user — the whale bound
    seq = ranked.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("rn") <= cap,
                            F.struct("ts", "event_id", "sym"),
                        )
                    )
                ),
                lambda s: s["sym"],
            ),
            "",
        ).alias("path"),
        F.count(F.lit(1)).alias("n_events"),
    )
    pat = "v[^p]*c[^p]*p"
    return seq.select(
        "user_id",
        "n_events",
        (
            F.length("path") - F.length(F.regexp_replace("path", pat, ""))
        ).alias("matched_len"),
        F.when(
            F.col("path").rlike(pat), F.instr(F.col("path"), "v").cast("int")
        ).alias("first_v_pos"),
        F.col("path").rlike(pat).alias("converted"),
        (F.col("n_events") > cap).alias("truncated"),
    ).orderBy("user_id")


@query(
    "event_pattern_match",
    oracle=_pattern_oracle(_PATH_CAP),
    tags=("analytics", "pattern", "match-recognize"),
)
def event_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL MATCH_RECOGNIZE-style sequence pattern detection, which Spark
    lacks natively, expressed as ordered path-string construction +
    regex: per user, the event stream becomes a compact symbol string
    (deterministically ordered by (ts, event_id)) and the funnel
    pattern view →(no purchase between)→ click →…→ purchase is a plain
    regex over it.

    Shape at 100 TB: ONE shuffle on user_id (the rank window and the
    aggregate share it); regex evaluation is codegen'd JVM work, rows
    out = |users|. Whale contract (round 6): the path covers each
    user's first _PATH_CAP events — the row_number pre-guard keeps the
    collect_list buffer bounded for a 1M-event user (pinned by
    tests/test_whale_keys.py) — while n_events stays the exact full
    count and `truncated` marks capped users instead of silently
    dropping them. The Spark path-string is built with array_sort over
    (ts, event_id, sym) structs + array_join — no UDF, no
    MATCH_RECOGNIZE engine needed for linear-pattern funnels."""
    return _pattern_match_frame(load_table(spark, sf_dir, "events"), _PATH_CAP)


# --------------------------------------------------------------------------
# Cogrouped-map (applyInPandas over a COGROUP): the two-sided Arrow API
# --------------------------------------------------------------------------
@query(
    "cogroup_order_event_stats",
    oracle="""
WITH eo AS (
    -- NULL entity keys are excluded on BOTH engines: per-entity stats
    -- are undefined without an entity (and pandas groupby would drop
    -- the NaN key silently while SQL's FULL JOIN keeps two NULL rows)
    SELECT user_id AS k, COUNT(*) AS n_events, MIN(ts) AS first_event_ts
    FROM events WHERE user_id IS NOT NULL GROUP BY user_id
), oo AS (
    SELECT o_custkey AS k, COUNT(*) AS n_orders,
           MIN(o_orderdate) AS first_order_ts
    FROM orders WHERE o_custkey IS NOT NULL GROUP BY o_custkey
), pre AS (
    SELECT e.user_id AS k, COUNT(*) AS n_events_before_first_order
    FROM events e JOIN oo ON e.user_id = oo.k
    WHERE e.ts < oo.first_order_ts
    GROUP BY e.user_id
)
SELECT COALESCE(eo.k, oo.k) AS k,
       COALESCE(oo.n_orders, 0) AS n_orders,
       COALESCE(eo.n_events, 0) AS n_events,
       COALESCE(pre.n_events_before_first_order, 0) AS n_events_before_first_order
FROM eo FULL OUTER JOIN oo ON eo.k = oo.k
LEFT JOIN pre ON COALESCE(eo.k, oo.k) = pre.k
ORDER BY k
""",
    tags=("cogroup", "applyInPandas", "arrow"),
)
def cogroup_order_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COGROUPED-map Arrow surface: `df.groupBy(k).cogroup(other.
    groupBy(k)).applyInPandas(...)` hands each key's rows from BOTH
    tables to one pandas function — the API for per-key logic that
    needs two aligned inputs (custom as-of merges, per-entity
    reconciliation) without a pre-join.

    The pandas body computes per-customer order/event counts and how
    many events precede the first order — all exact integers, so the
    DuckDB oracle value-checks the whole cogroup round-trip (both
    sides' Arrow batches, empty-side keys included via the full-outer
    cogroup semantics). 100 TB shape: one hash shuffle per side on the
    shared key (identical to the join it replaces), per-key pandas work
    bounded by per-customer activity.

    COST NOTE (measured, SCALE.md + BENCH_r5_ops): cogroup pays one
    Python function call per GROUP, so the cogroup key here is a coarse
    bucket pmod(hash(k), 256), not the raw key — the pandas body then
    does the per-key work VECTORIZED (pandas groupby) over every key in
    the bucket. Python invocations drop from n_keys to 256 while the
    shuffle volume, semantics, and oracle are unchanged (measured at
    sf0.1, min-of-3: r4's per-key form 34.7 s -> bucketed 3.9 s, 8.9x).
    The cap on bucket size is the usual skew story: the hash of a
    uniform customer key spreads evenly; a genuinely hot single key
    still lands in one pandas call either way. Computations expressible
    as joins+aggregates (like this oracle) should STILL use them;
    cogroup is for per-key logic that genuinely needs pandas on BOTH
    inputs. Bucket count (r11): one bucket per shuffle partition via
    session.pandas_group_buckets — each group pays a fixed Arrow flush
    on top of the Python call, so 256 buckets cost 5.1 s where 32 cost
    1.2 s at sf0.1 (identical results at any count)."""
    import pandas as pd

    n_buckets = pandas_group_buckets(spark)
    # NULL entity keys excluded (matches the oracle's declared domain;
    # pandas groupby would silently drop the NaN key anyway)
    e = load_table(spark, sf_dir, "events").filter(F.col("user_id").isNotNull()).select(
        F.col("user_id").alias("k"),
        "ts",
        F.pmod(F.hash(F.col("user_id")), F.lit(n_buckets)).alias("b"),
    )
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_custkey").isNotNull()).select(
        F.col("o_custkey").alias("k"),
        "o_orderdate",
        F.pmod(F.hash(F.col("o_custkey")), F.lit(n_buckets)).alias("b"),
    )

    def stats(key, events_pdf: pd.DataFrame, orders_pdf: pd.DataFrame) -> pd.DataFrame:
        # vectorized over EVERY key in the bucket — no per-key Python loop
        ev = events_pdf.groupby("k").agg(n_events=("ts", "size"))
        oo = orders_pdf.groupby("k").agg(
            n_orders=("o_orderdate", "size"), first_order=("o_orderdate", "min")
        )
        out = ev.join(oo, how="outer")
        if len(events_pdf) and len(oo):
            m = events_pdf.merge(
                oo[["first_order"]], left_on="k", right_index=True, how="inner"
            )
            pre = (
                (m["ts"] < m["first_order"]).groupby(m["k"]).sum().rename("n_pre")
            )
            out = out.join(pre, how="left")
        else:
            out["n_pre"] = 0
        out = out.reset_index()
        return pd.DataFrame(
            {
                "k": out["k"].astype("int64"),
                "n_orders": out["n_orders"].fillna(0).astype("int64"),
                "n_events": out["n_events"].fillna(0).astype("int64"),
                "n_events_before_first_order": out["n_pre"]
                .fillna(0)
                .astype("int64"),
            }
        )

    out_schema = (
        "k bigint, n_orders bigint, n_events bigint, n_events_before_first_order bigint"
    )
    return (
        e.groupBy("b")
        .cogroup(o.groupBy("b"))
        .applyInPandas(stats, out_schema)
        .orderBy("k")
    )


# --------------------------------------------------------------------------
# Backward as-of join: each order joined to the customer's FIRST event
# strictly after it (the mirror primitive — next-touch attribution,
# "what happened next" analyses)
# --------------------------------------------------------------------------
@query(
    "asof_backward_order_events",
    oracle="""
WITH e1 AS (
    -- one state row per (user, ts): MIN event_id — ASOF tie-breaking
    -- among equal timestamps is unspecified in both engines, so the
    -- dedup IS the determinism contract (mirrored in the Spark path)
    SELECT user_id, ts, MIN(event_id) AS event_id
    FROM events WHERE ts IS NOT NULL GROUP BY user_id, ts
)
-- NULL-date probes split out with a NULL payload (see the forward
-- as-of: DuckDB ASOF's NULL handling is an engine quirk, not a
-- semantic); untimestamped events are never "first following"
SELECT o.o_orderkey, o.o_custkey,
       e.event_id AS next_event_id
FROM (SELECT * FROM orders WHERE o_orderdate IS NOT NULL) o
ASOF LEFT JOIN e1 e
  ON o.o_custkey = e.user_id AND e.ts > o.o_orderdate
UNION ALL
SELECT o_orderkey, o_custkey, NULL
FROM orders WHERE o_orderdate IS NULL
ORDER BY o_orderkey
""",
    tags=("asof", "range-join", "backward"),
)
def asof_backward_order_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of (first-following) join via the same union + window
    formulation as asof_join_order_events, mirrored: FIRST over the
    FOLLOWING frame instead of LAST over the preceding one. Strict '>':
    at equal timestamps the state sorts BEFORE the probe (is_probe ASC),
    so it is excluded from the probe's following-rows frame.

    Same 100 TB shape as the forward as-of: one hash exchange on the
    key, one sort, linear — no per-probe range scan."""
    # untimestamped events excluded; a NULL-t PROBE would sort NULLS
    # FIRST with the whole partition in its following frame — nulled
    # out explicitly below (no "as of" point)
    e = (
        load_table(spark, sf_dir, "events", spread=False)
        .filter(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .groupBy("user_id", "ts")
        .agg(F.min("event_id").alias("event_id"))
        .select(
            F.col("user_id").alias("k"),
            F.col("ts").alias("t"),
            F.lit(0).alias("is_probe"),
            F.col("event_id").alias("next_event_id"),
            F.lit(None).cast("long").alias("o_orderkey"),
        )
    )
    o = load_table(spark, sf_dir, "orders", spread=False).select(
        F.col("o_custkey").alias("k"),
        F.col("o_orderdate").alias("t"),
        F.lit(1).alias("is_probe"),
        F.lit(None).cast("long").alias("next_event_id"),
        "o_orderkey",
    )
    w = (
        Window.partitionBy("k")
        .orderBy(F.col("t"), F.col("is_probe").asc(), F.col("next_event_id"))
        .rowsBetween(1, Window.unboundedFollowing)
    )
    merged = e.unionByName(o).withColumn(
        "ev_ff", F.first("next_event_id", ignorenulls=True).over(w)
    )
    return (
        merged.filter(F.col("is_probe") == 1)
        .select(
            "o_orderkey",
            F.col("k").alias("o_custkey"),
            F.when(
                F.col("t").isNotNull() & F.col("k").isNotNull(),
                F.col("ev_ff"),
            ).alias("next_event_id"),
        )
        .orderBy("o_orderkey")
    )
