"""operators/order_stats: the parallel global rank/ntile must be
bit-identical to the single-task Window formulation it replaces (r12 —
the registry-wide partition-less-window kill)."""

from __future__ import annotations

import pytest
from pyspark.sql import Row, Window
from pyspark.sql import functions as F

from makerdao_dw_spark.operators.order_stats import (
    global_ntile,
    global_row_number,
)


def _sample(spark, n: int, with_nulls: bool = False):
    """n rows with a non-unique score (ties forced: score = id % 7) and
    a unique id tie-break, spread over several input partitions."""
    df = spark.range(0, n, 1, 8).select(
        F.pmod(F.col("id") * 37, F.lit(7)).alias("score"),
        F.col("id").alias("doc_id"),
    )
    if with_nulls:
        df = df.withColumn(
            "score", F.when(F.col("doc_id") % 11 == 0, None).otherwise(F.col("score"))
        )
    return df


ORDER = lambda: [F.col("score").desc_nulls_last(), F.col("doc_id").asc_nulls_last()]  # noqa: E731


@pytest.mark.parametrize("n", [0, 1, 5, 1000])
def test_global_row_number_matches_window(spark, n):
    df = _sample(spark, n)
    par = global_row_number(df, ORDER(), "rk", total_col="n_all")
    got = {r["doc_id"]: (r["rk"], r["n_all"]) for r in par.collect()}
    w = Window.orderBy(*ORDER())
    ref = df.withColumn("rk", F.row_number().over(w)).withColumn(
        "n_all",
        F.count(F.lit(1)).over(
            Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        ),
    )
    want = {r["doc_id"]: (r["rk"], r["n_all"]) for r in ref.collect()}
    assert got == want
    # both forms emit the same columns in the same order
    window = global_row_number(df, ORDER(), "rk", total_col="n_all", parallel=False)
    assert par.columns == window.columns == ref.columns


def test_global_row_number_nulls_last(spark):
    df = _sample(spark, 500, with_nulls=True)
    got = {r["doc_id"]: r["rk"] for r in global_row_number(df, ORDER(), "rk").collect()}
    want = {
        r["doc_id"]: r["rk"]
        for r in df.withColumn("rk", F.row_number().over(Window.orderBy(*ORDER()))).collect()
    }
    assert got == want


# n values straddling every n % k residue plus n < k and n == 0
@pytest.mark.parametrize("n", [0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 997])
@pytest.mark.parametrize("k", [4, 5, 10])
def test_global_ntile_matches_window(spark, n, k):
    df = _sample(spark, n)
    got = {
        r["doc_id"]: r["tile"] for r in global_ntile(df, ORDER(), k, "tile").collect()
    }
    want = {
        r["doc_id"]: r["tile"]
        for r in df.withColumn(
            "tile", F.ntile(k).over(Window.orderBy(*ORDER()))
        ).collect()
    }
    assert got == want
    # same TYPE too (the queries' declared schemas depend on it)
    assert (
        dict(global_ntile(df, ORDER(), k, "tile").dtypes)["tile"]
        == dict(df.withColumn("tile", F.ntile(k).over(Window.orderBy(*ORDER()))).dtypes)["tile"]
    )


def test_partition_rows_past_ordinal_range_fail_loudly(spark, monkeypatch):
    """A range partition at or past the local ordinal's exact range
    (2^33 rows; patched down to 4 here) must raise, not rank wrong."""
    from makerdao_dw_spark.operators import order_stats

    monkeypatch.setattr(order_stats, "_MAX_PARTITION_ROWS", 4)
    with pytest.raises(Exception, match="past the exact range"):
        global_row_number(_sample(spark, 1000), ORDER(), "rk").collect()
    monkeypatch.undo()
    assert global_row_number(_sample(spark, 1000), ORDER(), "rk").count() == 1000


def test_scratch_names_avoid_caller_columns(spark):
    df = spark.range(0, 10).select(
        F.col("id").alias("doc_id"),
        F.col("id").alias("__os_pid"),
        (F.col("id") * 2).alias("__os_tot"),
    )
    out = global_row_number(df, [F.col("doc_id").desc()], "rk")
    rows = {r["doc_id"]: (r["__os_pid"], r["__os_tot"], r["rk"]) for r in out.collect()}
    assert rows[9] == (9, 18, 1) and rows[0] == (0, 0, 10)


def test_no_data_sized_single_partition_window_in_plan(spark):
    """The whole point: the data-sized window is gone. The data path
    carries a RangePartitioning exchange and rejoins the offsets by
    BROADCAST; the only SinglePartition exchange left feeds the
    per-partition count frame (<= #partitions rows — its input is the
    partial count aggregate, never raw data)."""
    df = _sample(spark, 1000)
    plan = (
        global_row_number(df, ORDER(), "rk")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    low = plan.lower()
    assert "rangepartitioning" in low
    assert "broadcast" in low  # offsets come back as a broadcast join
    # exactly one SinglePartition exchange (the bounded offsets frame),
    # not one per data-path window as in the old formulation
    assert low.count("singlepartition") <= 1
    # and it must sit directly above a partial count aggregate, i.e.
    # the bounded frame — never the raw scan
    import re

    m = re.search(r"exchange singlepartition", low)
    if m:
        below = low[m.end():]
        assert "hashaggregate" in below.split("exchange")[0] or "hashaggregate" in below[:400]
