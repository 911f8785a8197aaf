"""Incremental maintenance & layout analytics, wave 21 (round 6): the
warehouse-operations queries — join-delta view maintenance, Z-order
layout auditing, and watermark planning.

- `ivm_join_delta`: incremental maintenance of a JOIN view (the rollup
  half lives in `ivm_incremental_rollup`): with base/delta splits of
  BOTH join sides, the view delta is the inclusion-exclusion
  d(A join B) = dA*B0 + A0*dB + dA*dB — three delta-sized joins
  instead of a full recompute. The query computes the maintained
  revenue per priority BOTH ways (algebraic terms vs full recompute)
  and emits a per-group match flag: the IVM correctness claim is part
  of the result surface.
- `zorder_morton_audit`: interleave two bucketized dimensions
  (customer, order day) into a Morton/Z-order code — the multi-column
  clustering layout (Delta OPTIMIZE ZORDER) — and report, per
  Z-"file", row counts, per-dimension min/max envelopes, and whether
  a 2-D query box could prune it (the payoff metric of Z-ordering:
  both dimensions stay range-prunable in ONE layout). Pure integer
  bit arithmetic, identical on both engines.
- `watermark_lateness_audit`: per event type, the distribution of
  event-time lateness versus arrival order (running max event time
  over arrival sequence) — p50/p95/max lateness and the fraction
  beyond 1 hour: the number a platform reads before choosing its
  withWatermark() bound. Per-type windows, never a global sort.

Determinism: integer bucket/bit math, exact interpolated percentiles
(identical IEEE (a+b)/2 both engines), decimal revenue sums, NULL
entity/time rows excluded with the contract documented.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import load_table, materialize
from .registry import query


_DEC = "decimal(38,6)"

# ---------------------------------------------------------------------------
# Join-delta incremental view maintenance
# ---------------------------------------------------------------------------


@query(
    "ivm_join_delta",
    oracle="""
WITH o AS (
    SELECT o_orderkey, o_orderpriority,
           (o_orderkey % 7 = 0) AS is_delta
    FROM orders
),
l AS (
    SELECT l_orderkey, l_linenumber,
           CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6)) AS rev,
           (l_linenumber >= 4) AS is_delta
    FROM lineitem WHERE l_linenumber IS NOT NULL
),
terms AS (
    SELECT o.o_orderpriority AS pri, l.rev,
           CASE WHEN NOT o.is_delta AND NOT l.is_delta THEN 'base'
                WHEN o.is_delta AND NOT l.is_delta THEN 'dA_B0'
                WHEN NOT o.is_delta AND l.is_delta THEN 'A0_dB'
                ELSE 'dA_dB' END AS term
    FROM o JOIN l ON o.o_orderkey = l.l_orderkey
),
ivm AS (
    -- rev_ivm is the SUM OF THE TAGGED TERMS, never SUM(rev): the
    -- match flag must fail if the inclusion-exclusion partition ever
    -- drops or double-counts a branch
    SELECT pri,
           SUM(CASE WHEN term = 'base' THEN rev END) AS rev_base,
           SUM(CASE WHEN term <> 'base' THEN rev END) AS rev_delta,
           COALESCE(SUM(CASE WHEN term = 'base' THEN rev END), 0)
           + COALESCE(SUM(CASE WHEN term <> 'base' THEN rev END), 0)
               AS rev_ivm
    FROM terms GROUP BY pri
),
full_v AS (
    SELECT o.o_orderpriority AS pri, SUM(l.rev) AS rev_full
    FROM o JOIN l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderpriority
)
SELECT i.pri AS o_orderpriority,
       CAST(COALESCE(i.rev_base, 0) AS DOUBLE) AS rev_base,
       CAST(COALESCE(i.rev_delta, 0) AS DOUBLE) AS rev_delta,
       CAST(i.rev_ivm AS DOUBLE) AS rev_ivm,
       CAST(f.rev_full AS DOUBLE) AS rev_full,
       i.rev_ivm IS NOT DISTINCT FROM f.rev_full AS ivm_matches
FROM ivm i JOIN full_v f ON i.pri IS NOT DISTINCT FROM f.pri
ORDER BY i.pri NULLS FIRST
""",
    tags=("ivm", "incremental", "join-delta", "warehouse"),
)
def ivm_join_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental JOIN-view maintenance: both sides split into base +
    delta (orders by key mod, lineitems by late line numbers), the
    maintained revenue-per-priority view updated by the
    inclusion-exclusion terms dA*B0 + A0*dB + dA*dB, and verified
    in-result against the full recompute (ivm_matches — exact decimal
    sums, so the algebra must hold bit-for-bit). At scale the three
    delta terms are delta-sized joins (dA and dB broadcast when small)
    against the base sides — the cost model that replaces full-view
    recompute; here all four terms come from ONE tagged join so the
    claim costs one pass. NULL priorities survive via null-safe
    grouping joins; NULL line numbers are excluded (no delta
    membership)."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        (F.col("o_orderkey") % 7 == 0).alias("o_delta"),
    )
    li = (
        # spread: single-row-group lineitem (q1 rationale, change #17) —
        # the broadcast join + decimal partial sums otherwise run on one
        # core; exact decimal sums are partitioning-invariant
        load_table(spark, sf_dir, "lineitem", spread=True)
        .filter(F.col("l_linenumber").isNotNull())
        .select(
            "l_orderkey",
            (F.col("l_extendedprice") * (1 - F.col("l_discount")))
            .cast(_DEC)
            .alias("rev"),
            (F.col("l_linenumber") >= 4).alias("l_delta"),
        )
    )
    joined = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            F.col("o_orderpriority").alias("pri"),
            "rev",
            F.when(~F.col("o_delta") & ~F.col("l_delta"), "base")
            .when(F.col("o_delta") & ~F.col("l_delta"), "dA_B0")
            .when(~F.col("o_delta") & F.col("l_delta"), "A0_dB")
            .otherwise("dA_dB")
            .alias("term"),
        )
    )
    zero_d = F.lit(0).cast(_DEC)
    # rev_ivm = sum of the TAGGED terms (not SUM(rev)): the match flag
    # verifies the inclusion-exclusion partition itself — a dropped or
    # double-counted branch must flip it. rev_full (the full-recompute
    # side of the check) is SUM(rev) over the SAME grouped rows, so it
    # lives in the SAME aggregate (r11, guide §1.2): the old two-
    # aggregate + null-safe-self-join form computed the tagged join
    # twice behind a persist+count; one hash aggregate produces all
    # four values with identical decimal arithmetic.
    zero = F.lit(0).cast(_DEC)
    return (
        joined.groupBy("pri")
        .agg(
            F.sum(F.when(F.col("term") == "base", F.col("rev"))).alias("rev_base"),
            F.sum(F.when(F.col("term") != "base", F.col("rev"))).alias("rev_delta"),
            (
                F.coalesce(
                    F.sum(F.when(F.col("term") == "base", F.col("rev"))), zero_d
                )
                + F.coalesce(
                    F.sum(F.when(F.col("term") != "base", F.col("rev"))), zero_d
                )
            ).alias("rev_ivm"),
            F.sum("rev").alias("rev_full"),
        )
        .select(
            F.col("pri").alias("o_orderpriority"),
            F.coalesce("rev_base", zero).cast("double").alias("rev_base"),
            F.coalesce("rev_delta", zero).cast("double").alias("rev_delta"),
            F.col("rev_ivm").cast("double").alias("rev_ivm"),
            F.col("rev_full").cast("double").alias("rev_full"),
            F.expr("rev_ivm <=> rev_full").alias("ivm_matches"),
        )
        .orderBy(F.col("o_orderpriority").asc_nulls_first())
    )


# ---------------------------------------------------------------------------
# Z-order (Morton) layout audit
# ---------------------------------------------------------------------------
_Z_BITS = 4  # 16 buckets per dimension -> 8-bit Morton code
_Z_BOX_LO, _Z_BOX_HI = 3, 5  # the 2-D query box (both dims)


def _morton_sql(xb: str, yb: str) -> str:
    """8-bit Morton interleave of two 4-bit bucket ids — plain integer
    shifts/masks, one shared SQL text for both engines."""
    parts = []
    for i in range(_Z_BITS):
        parts.append(f"((({xb} >> {i}) & 1) << {2 * i})")
        parts.append(f"((({yb} >> {i}) & 1) << {2 * i + 1})")
    return "(" + " + ".join(parts) + ")"


@query(
    "zorder_morton_audit",
    oracle=f"""
WITH b AS (
    SELECT MIN(o_custkey) AS c_lo, MAX(o_custkey) AS c_hi,
           MIN(CAST(o_orderdate AS DATE)) AS d_lo,
           MAX(CAST(o_orderdate AS DATE)) AS d_hi
    FROM orders WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
),
coded AS (
    -- '//' (floor division), NOT '/'+CAST: DuckDB '/' on integers is
    -- FLOAT division and CAST(double AS BIGINT) ROUNDS, while Spark's
    -- floor() floors — positive integer floor division matches
    SELECT LEAST(((o_custkey - b.c_lo) * 16)
                 // NULLIF(b.c_hi - b.c_lo + 1, 0), 15) AS cb,
           LEAST(((CAST(o_orderdate AS DATE) - b.d_lo) * 16)
                 // NULLIF(b.d_hi - b.d_lo + 1, 0), 15) AS db
    FROM orders CROSS JOIN b
    WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
),
files AS (
    SELECT {_morton_sql('cb', 'db')} AS zfile,
           COUNT(*) AS n_rows,
           MIN(cb) AS min_cb, MAX(cb) AS max_cb,
           MIN(db) AS min_db, MAX(db) AS max_db
    FROM coded GROUP BY 1
)
SELECT CAST(zfile AS BIGINT) AS zfile,
       CAST(n_rows AS BIGINT) AS n_rows,
       CAST(min_cb AS BIGINT) AS min_cb, CAST(max_cb AS BIGINT) AS max_cb,
       CAST(min_db AS BIGINT) AS min_db, CAST(max_db AS BIGINT) AS max_db,
       (max_cb >= {_Z_BOX_LO} AND min_cb <= {_Z_BOX_HI}
        AND max_db >= {_Z_BOX_LO} AND min_db <= {_Z_BOX_HI}) AS box_overlaps
FROM files ORDER BY zfile
""",
    tags=("warehouse", "layout", "zorder", "pruning"),
)
def zorder_morton_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order layout audit: bucketize (customer, order day) into 16
    buckets each, interleave into an 8-bit Morton code (the Z-"file"
    id — what OPTIMIZE ZORDER BY materializes), and report per-file
    min/max envelopes on BOTH dimensions plus whether a 2-D query box
    could prune the file — Z-ordering's payoff is that both columns
    stay range-prunable in one layout (a 1-D sort leaves the second
    column unprunable; compare io/layout.py's sorted_write). Since the
    Morton code is built FROM the buckets, each file's envelope is
    provably tight — the audit surface a layout job emits next to the
    rewrite. The 2-column (key, day) projection is materialized ONCE
    (session.materialize) and feeds BOTH the bounds aggregate and the
    bucketizer — without it the bounds-then-bucketize dependency
    forces a second full parquet scan+decode of orders (the r6 curve
    showed exactly 2x a single scan); the checkpoint is ~5% of the
    table width, strictly cheaper than re-decoding at any scale.
    Integer bit math identical on both engines. Rows missing either
    dimension are excluded (no cell)."""
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_custkey").isNotNull() & F.col("o_orderdate").isNotNull())
        .select("o_custkey", F.to_date("o_orderdate").alias("o_day"))
        .transform(materialize)
    )
    b = F.broadcast(
        o.agg(
            F.min("o_custkey").alias("c_lo"),
            F.max("o_custkey").alias("c_hi"),
            F.min("o_day").alias("d_lo"),
            F.max("o_day").alias("d_hi"),
        )
    )
    coded = o.crossJoin(b).select(
        F.least(
            F.floor(
                ((F.col("o_custkey") - F.col("c_lo")) * 16)
                / F.expr("nullif(c_hi - c_lo + 1, 0)")
            ).cast("bigint"),
            F.lit(15),
        ).alias("cb"),
        F.least(
            F.floor(
                (F.datediff("o_day", F.col("d_lo")) * 16)
                / F.expr("nullif(datediff(d_hi, d_lo) + 1, 0)")
            ).cast("bigint"),
            F.lit(15),
        ).alias("db"),
    )
    files = coded.groupBy(F.expr(_morton_sql("cb", "db")).alias("zfile")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("cb").alias("min_cb"),
        F.max("cb").alias("max_cb"),
        F.min("db").alias("min_db"),
        F.max("db").alias("max_db"),
    )
    return files.select(
        "zfile",
        "n_rows",
        "min_cb",
        "max_cb",
        "min_db",
        "max_db",
        (
            (F.col("max_cb") >= _Z_BOX_LO)
            & (F.col("min_cb") <= _Z_BOX_HI)
            & (F.col("max_db") >= _Z_BOX_LO)
            & (F.col("min_db") <= _Z_BOX_HI)
        ).alias("box_overlaps"),
    ).orderBy("zfile")


# ---------------------------------------------------------------------------
# Watermark lateness audit
# ---------------------------------------------------------------------------
_LATE_BOUND_S = 3600  # the candidate watermark bound to evaluate


@query(
    "watermark_lateness_audit",
    oracle=f"""
WITH arr AS (
    SELECT event_type, ts,
           MAX(ts) OVER (PARTITION BY event_type
                         ORDER BY event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS high_water
    FROM events WHERE ts IS NOT NULL
),
late AS (
    SELECT event_type,
           (epoch_us(high_water) - epoch_us(ts)) // 1000000 AS late_s
    FROM arr
)
SELECT event_type,
       COUNT(*) AS n_events,
       ROUND(quantile_cont(CAST(late_s AS DOUBLE), 0.5), 4) AS p50_late_s,
       ROUND(quantile_cont(CAST(late_s AS DOUBLE), 0.95), 4) AS p95_late_s,
       CAST(MAX(late_s) AS BIGINT) AS max_late_s,
       ROUND(CAST(SUM(CASE WHEN late_s > {_LATE_BOUND_S} THEN 1 ELSE 0 END)
                  AS DOUBLE) / NULLIF(COUNT(*), 0), 6) AS frac_over_1h
FROM late GROUP BY event_type ORDER BY event_type
""",
    tags=("streaming", "watermark", "lateness", "planning"),
)
def watermark_lateness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time lateness versus arrival order, per event type: each
    event's lag behind the running high-water mark (MAX event time
    over arrival sequence = event_id), summarized as p50/p95/max and
    the fraction beyond a 1-hour candidate bound — the measurement a
    platform reads BEFORE choosing withWatermark() (too tight drops
    that fraction of data; too loose holds state). Lateness in integer
    seconds from integer-microsecond math; exact interpolated
    percentiles (identical IEEE both engines).

    The running max is SHARDED (the concurrency_sweepline decomposition
    from SCALE.md): a plain per-type window has event-type cardinality
    (~5) as its ONLY parallelism, so one task sorts the whole type — the
    round-7 second-decade run caught it steepening (3.7x first decade,
    11.4x second). Instead: (1) per-(type, arrival-shard) max — a tiny
    map-combined rollup; (2) exclusive prefix-max across shard maxima
    (shard-cardinality window); (3) the within-shard running max windows
    on (type, shard) — parallelism = types x shards — merged with the
    broadcast shard offsets via greatest(). Exact: shard id is monotone
    in arrival order, so prefix(prev shards) + within-shard prefix IS
    the full prefix. Untimestamped rows have no event time to be late
    by (excluded); NULL event_type is a real group on both engines."""
    shard_rows = 1 << 20  # arrival-ids per shard; ~n/1M shards per type
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select(
            "event_type",
            "ts",
            "event_id",
            F.floor(F.col("event_id") / shard_rows).alias("shard"),
        )
    )
    shard_max = ev.groupBy("event_type", "shard").agg(F.max("ts").alias("sh_max"))
    w_prev = (
        Window.partitionBy("event_type")
        .orderBy("shard")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offs = F.broadcast(
        shard_max.select(
            "event_type", "shard", F.max("sh_max").over(w_prev).alias("prev_hw")
        )
    )
    w_sh = (
        Window.partitionBy(F.col("e.event_type"), F.col("e.shard"))
        .orderBy(F.col("e.event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # null-safe keys: NULL event_type is a real lateness group and a
    # NULL event_id yields a NULL shard — plain join equality would
    # silently drop their shard offsets
    late = (
        ev.alias("e")
        .join(
            offs.alias("o"),
            F.expr("e.event_type <=> o.event_type AND e.shard <=> o.shard"),
            "left",
        )
        .select(
            F.col("e.event_type").alias("event_type"),
            F.floor(
                (
                    F.unix_micros(
                        # greatest() skips NULLs: first shard has no prev_hw
                        F.greatest(F.max(F.col("e.ts")).over(w_sh), F.col("o.prev_hw"))
                    )
                    - F.unix_micros(F.col("e.ts"))
                )
                / 1000000
            ).alias("late_s"),
        )
    )
    return (
        late.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(
                F.expr("percentile(cast(late_s as double), 0.5)"), 4
            ).alias("p50_late_s"),
            F.round(
                F.expr("percentile(cast(late_s as double), 0.95)"), 4
            ).alias("p95_late_s"),
            F.max("late_s").alias("max_late_s"),
            F.round(
                F.sum(
                    F.when(F.col("late_s") > _LATE_BOUND_S, 1).otherwise(0)
                ).cast("double")
                / F.expr("nullif(count(1), 0)"),
                6,
            ).alias("frac_over_1h"),
        )
        .orderBy("event_type")
    )
