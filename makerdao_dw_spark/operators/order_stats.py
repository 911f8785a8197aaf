"""Parallel total-order statistics: global ROW_NUMBER / NTILE without a
corpus-scale single-task Window.

Spark executes an empty-``PARTITION BY`` window as ONE partition: the
physical plan is ``Exchange SinglePartition`` feeding a single task that
sorts the entire input (``Window ... [partitionSpec=[]]``). At 100 TB
that is a one-task corpus sort whose skew grows with the data — the
plan class VERDICT r11 flagged (`global_window_share`,
`dsir_importance_resample`).

These helpers compute the SAME values with range partitioning:

1. ``repartitionByRange(order)`` + ``sortWithinPartitions(order)`` —
   a parallel global sort.
2. A local ordinal per row from ``monotonically_increasing_id()`` on
   the sorted stream: Spark assigns ``pid * 2^33 + position`` in row
   order, so ``mid - (pid << 33)`` is the 0-based position within the
   partition — no Python boundary, no extra exchange.
3. Per-partition row counts cumulated into per-partition offsets —
   <= #shuffle-partitions rows, bounded by cluster size, not data —
   broadcast-joined back.

The sorted+ordinal frame is persisted (``materialize_lazy``, released
at the next registered query's entry like every house persist): the
count aggregate and the data path MUST observe the same partitioning
and ordinals, and two independently-planned range exchanges would each
sample their own boundaries (measured r12: ReusedExchange does NOT
dedup them — the counts side is column-pruned below its exchange, so
the subtrees never canonicalize equal). The persist pins one exchange,
one sampling pass, one ordinal assignment. The INPUT is persisted too:
the range exchange's boundary-sampling pass otherwise executes the
input subtree a second time.

THE SCALE GATE (``use_parallel``): the machinery above costs a fixed
~0.5–1.5 s locally (persist + range shuffle + offsets broadcast),
while a single-task sort of a testdata-sized frame costs milliseconds —
measured r12 at sf0.1/sf1, the parallel form REGRESSED every converted
query except the genuinely window-bound ones (e.g. session_rfm_features
0.75 -> 2.8 s at sf1). So callers gate on the SOURCE table's on-disk
footprint, exactly like the r11 LPA small-corpus gate: below the
threshold the plain window (optimal: the whole frame fits one task)
is kept; above it the parallel form engages. Both forms are
value-identical (pinned by tests/test_order_stats.py and the per-query
parity tests), so the gate is a pure plan choice.

Exactness: callers order by a TOTAL order (unique tie-break key), so
the global ordinal is unique and partitioning-invariant: ANY valid
range split yields identical ranks, and AQE coalescing of the range
exchange (adjacent partitions merged, order preserved) cannot change
them. NULL placement follows the sort expressions exactly as the
single-task window would (pass asc_nulls_last etc. explicitly when the
key is nullable).

NTILE(k) is derived from the exact rank and total count with the SQL
bucket rule (the first ``n % k`` buckets get one extra row), verified
bit-identical to ``F.ntile`` by tests/test_order_stats.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..session import input_bytes, materialize_lazy

__all__ = [
    "global_row_number",
    "global_ntile",
    "ntile_from_rank",
    "use_parallel",
]

# Source-table footprint past which a per-entity frame derived from it
# is assumed to overflow what ONE task should sort. Calibration (r12
# A/Bs in OPTIMIZATION_r12.md): the crossover tracks the RANK INPUT's
# cardinality, which different queries derive differently from the same
# source — conformal ranks 25% of ORDER ROWS (3.7M at sf10: parallel
# already 1.58x ahead there, so it passes threshold_bytes=128 MiB),
# while the per-USER ntiles rank ~1/10 of event rows (1M users at
# sf10: the one-task sort is still milliseconds and the parallel
# machinery's fixed cost loses 2x). The 512 MiB default engages the
# per-entity queries at sf100-scale inputs (events 1.6 GB -> 10M users,
# documents 873 MB -> 5M docs) where the serial sort is a material
# wall; at 100 TB every fact table is orders of magnitude past either
# threshold.
_PARALLEL_INPUT_BYTES = 512 * (1 << 20)

# monotonically_increasing_id() packs (partition id, position) as
# pid * 2^33 + position, so the local ordinal mid - (pid << 33) is exact
# only below 2^33 rows per range partition; past it the position spills
# into the partition-id bits and ranks go silently wrong.
_ORDINAL_BITS = 33
_MAX_PARTITION_ROWS = 1 << _ORDINAL_BITS


def use_parallel(sf_dir: str, table: str, threshold_bytes: int = _PARALLEL_INPUT_BYTES) -> bool:
    """The scale gate: True when `table`'s on-disk size says the
    rank/ntile input can be a material single-task sort. File-size
    only — no estimate job (the LPA gate's fast path); an unreadable
    path assumes BIG, because the parallel form is always correct,
    just not always cheapest. ``threshold_bytes`` lets a caller whose
    rank input is a larger fraction of the source lower the crossover
    (see the calibration note above)."""
    size = input_bytes(sf_dir, table)
    return size is None or size > threshold_bytes


def _scratch(df: DataFrame, stem: str) -> str:
    """A scratch column name absent from df (ADVICE r11: a fixed name
    would silently clobber a caller column)."""
    name = stem
    i = 0
    while name in df.columns:
        i += 1
        name = f"{stem}{i}"
    return name


def global_row_number(
    df: DataFrame,
    order: list[Column | str],
    rank_col: str = "rk",
    total_col: str | None = None,
    parallel: bool = True,
) -> DataFrame:
    """``df`` plus ``rank_col`` = exact global
    ``ROW_NUMBER() OVER (ORDER BY *order)`` (1-based, LongType).

    ``order`` MUST be a total order over the rows (unique tie-break
    key) — otherwise ranks within a tie group are partitioning-
    dependent, exactly as they would be nondeterministic under the
    plain window. When ``total_col`` is given, the total row count is
    attached to every row as well (LongType).

    ``parallel=False`` keeps the plain single-task window formulation
    (optimal when the whole frame fits one task — see the module
    docstring's scale gate); both forms produce identical values and
    identical column types/positions.

    Row order of the result is unspecified; callers that need a
    specific output order apply their own ``orderBy`` (all registered
    queries do).
    """
    if not parallel:
        out = df.withColumn(
            rank_col, F.row_number().over(Window.orderBy(*order)).cast("long")
        )
        if total_col is not None:
            out = out.withColumn(
                total_col,
                F.count(F.lit(1)).over(
                    Window.rowsBetween(
                        Window.unboundedPreceding, Window.unboundedFollowing
                    )
                ),
            )
        return out

    pid = _scratch(df, "__os_pid")
    mid = _scratch(df, "__os_mid")
    cnt = _scratch(df, "__os_cnt")
    off = _scratch(df, "__os_off")
    tot = total_col or _scratch(df, "__os_tot")

    base = materialize_lazy(
        materialize_lazy(df)
        .repartitionByRange(*order)
        .sortWithinPartitions(*order)
        .withColumn(pid, F.spark_partition_id())
        .withColumn(mid, F.monotonically_increasing_id())
    )
    counts = base.groupBy(pid).agg(F.count(F.lit(1)).alias(cnt))
    # Offsets over <= #partitions rows: this window IS single-partition,
    # but its input is bounded by cluster size (same class as a
    # collected argmax), not by the data.
    w_prev = Window.orderBy(pid).rowsBetween(Window.unboundedPreceding, -1)
    w_all = Window.orderBy(pid).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    # The ordinal bound is checked inside the offset column itself (an
    # unused check column would be pruned): the broadcast of this
    # <= #partitions-row frame evaluates it, with no extra job.
    offs = counts.select(
        pid,
        F.when(
            F.col(cnt) >= F.lit(_MAX_PARTITION_ROWS),
            F.raise_error(
                F.lit(
                    f"global_row_number: a range partition holds >= "
                    f"{_MAX_PARTITION_ROWS} rows, past the exact range "
                    "of the monotonically_increasing_id local ordinal"
                )
            ),
        )
        .otherwise(F.coalesce(F.sum(cnt).over(w_prev), F.lit(0)))
        .alias(off),
        F.sum(cnt).over(w_all).alias(tot),
    )
    return (
        base.join(F.broadcast(offs), pid)
        .withColumn(
            rank_col,
            F.col(mid)
            - F.shiftleft(F.col(pid).cast("long"), _ORDINAL_BITS)
            + F.col(off)
            + F.lit(1),
        )
        .select(*df.columns, rank_col, *([total_col] if total_col else []))
    )


def _idiv(a: Column, b: Column) -> Column:
    """Exact floor division for non-negative long columns: the
    numerator is made exactly divisible first, so the double division
    is exact (integer results well under 2^53) and the cast is safe."""
    return ((a - a % b) / b).cast("long")


def ntile_from_rank(rank: Column, total: Column, k: int) -> Column:
    """Exact ``NTILE(k)`` (IntegerType) from a 1-based global rank and
    the total row count — the SQL bucket rule: with ``q = n div k`` and
    ``r = n mod k``, buckets 1..r hold ``q+1`` rows and buckets r+1..k
    hold ``q`` rows. Matches ``F.ntile(k).over(...)`` bit-for-bit
    (pinned by tests/test_order_stats.py across n % k residues,
    including n < k where q = 0)."""
    kc = F.lit(k).cast("long")
    q = _idiv(total, kc)
    r = total % kc
    head = r * (q + 1)  # rows covered by the q+1-sized buckets
    tile = F.when(
        rank <= head,  # ceil(rank / (q+1)) == floor((rank+q) / (q+1))
        _idiv(rank + q, q + 1),
    ).otherwise(
        # n < k  =>  q = 0 and head = n covers every row, so this
        # branch (which divides by q) is unreachable there
        r + _idiv(rank - head + q - 1, q)
    )
    return tile.cast("int")


def global_ntile(
    df: DataFrame,
    order: list[Column | str],
    k: int,
    tile_col: str,
    parallel: bool = True,
) -> DataFrame:
    """``df`` plus ``tile_col`` = exact global
    ``NTILE(k) OVER (ORDER BY *order)`` (IntegerType, like
    ``F.ntile``), via :func:`global_row_number`. Same total-order
    requirement and scale gate."""
    if not parallel:
        return df.withColumn(tile_col, F.ntile(k).over(Window.orderBy(*order)))
    rk = _scratch(df, "__os_rk")
    tot = _scratch(df, "__os_tot")
    ranked = global_row_number(df, order, rank_col=rk, total_col=tot)
    return ranked.withColumn(
        tile_col, ntile_from_rank(F.col(rk), F.col(tot), k)
    ).drop(rk, tot)
