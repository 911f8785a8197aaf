"""Round-11 optimization internals.

Pins the two behavior-preserving rewrites this round made to shared
operators:

1. kmeans.dists_arr (one transform lambda over a codebook array
   literal) must be BIT-IDENTICAL to the unrolled per-centroid fold it
   replaced — same doubles element-by-element, and the assignment
   built on it unchanged.
2. session.materialize_lazy must register the frame in the open
   QueryScope (so the next registered query's entry drops it) WITHOUT
   eagerly computing it, and the cache must actually be populated by
   the first action.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from makerdao_dw_spark.operators.kmeans import (
    _dist2,
    _lit_vec,
    assign_clusters,
    dists_arr,
)
from makerdao_dw_spark.session import current_scope, materialize_lazy, query_scope

_CENTROIDS = [
    [0.25, -1.5, 3.0],
    [0.1000000000000001, 2.7182818284590451, -0.3333333333333333],
    [1e-12, -1e12, 0.5],
    [0.25, -1.5, 3.0000000000000004],  # near-tie with centroid 0
]


def test_dists_arr_bit_identical_to_unrolled(spark):
    df = spark.createDataFrame(
        [(1, [0.2, -1.4, 2.9]), (2, [0.1, 2.8, -0.4]), (3, [0.25, -1.5, 3.0])],
        "id bigint, v array<double>",
    )
    rows = df.select(
        dists_arr("v", _CENTROIDS).alias("fast"),
        F.array(*[_dist2("v", c) for c in _CENTROIDS]).alias("slow"),
    ).collect()
    for r in rows:
        assert len(r["fast"]) == len(_CENTROIDS)
        for a, b in zip(r["fast"], r["slow"]):
            # bit-identical, not approx: the unrolled DuckDB oracles
            # mirror the exact left-fold doubles
            assert a == b and str(a) == str(b)


def test_assign_clusters_ties_to_lowest_id(spark):
    # a vector equidistant-by-construction from centroids 0 and 3
    # (3.0 vs 3.0000000000000004 differ, so this checks ORDER not ties;
    # the exact-duplicate tie case uses two identical centroids)
    df = spark.createDataFrame([(1, [0.25, -1.5, 3.0])], "id bigint, v array<double>")
    dup = [[1.0, 1.0, 1.0], [2.0, 2.0, 2.0], [1.0, 1.0, 1.0]]
    got = assign_clusters(df, "v", dup).collect()[0]["cluster"]
    assert got == 0  # first index wins among exact-tied distances


def test_single_literal_vec_is_one_expression_node(spark):
    # the whole point of _lit_vec: ONE Literal, not CreateArray(dim lits)
    plan = (
        spark.range(1)
        .select(_lit_vec([1.0, 2.0, 3.0]).alias("c"))
        ._jdf.queryExecution()
        .analyzed()
        .toString()
    )
    assert "array(" not in plan  # a CreateArray would print as array(1.0, ...)


def test_materialize_lazy_registers_without_computing(spark):
    calls = {"n": 0}

    @F.udf("long")
    def bump(x):
        calls["n"] += 1
        return x

    base = spark.range(10).select(F.col("id"))
    df = materialize_lazy(base.select(F.sum("id").alias("s")))
    # registered for the standard release lifecycle...
    assert current_scope(spark).frames[-1] is df
    # ...but nothing ran yet (no job needed to check: storage level is
    # set lazily; the frame is cached only once an action executes)
    assert df.storageLevel.useMemory  # persist() was applied
    assert df.collect()[0]["s"] == 45
    # second consumer reads the cache (InMemoryTableScan in the plan)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan
    # ...which unpersists it at the next top-level entry
    with query_scope(spark):
        pass
    assert not df.storageLevel.useMemory


def test_state_partitions_derivation(spark, tmp_path):
    """state_partitions: ceil(bytes/32MB) with a floor of 4 and a cap at
    the session's shuffle-partition count."""
    from makerdao_dw_spark.streaming.jobs import _STATE_PART_TARGET_BYTES, state_partitions

    # tiny file -> floor
    f = tmp_path / "events.parquet"
    f.write_bytes(b"x" * 1024)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    try:
        assert state_partitions(spark, str(tmp_path), "events") == 4
        # 5 targets' worth of bytes -> 5 partitions (between floor and cap)
        f.write_bytes(b"x" * (5 * _STATE_PART_TARGET_BYTES - 1))
        assert state_partitions(spark, str(tmp_path), "events") == 5
        # huge input -> capped at the session shuffle-partition count
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        assert state_partitions(spark, str(tmp_path), "events") == 4
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)


def test_drain_restores_session_confs(spark, tmp_path):
    """drain pins state partitions and disables the no-data batch only
    for the drain's duration — the session confs come back."""
    import pandas as pd

    from makerdao_dw_spark.streaming.jobs import drain

    src = tmp_path / "src"
    src.mkdir()
    pd.DataFrame({"k": [1, 2, 2], "v": [1.0, 2.0, 3.0]}).to_parquet(
        src / "part-0.parquet"
    )
    schema = spark.read.parquet(str(src)).schema
    sdf = (
        spark.readStream.schema(schema)
        .parquet(str(src))
        .groupBy("k")
        .count()
    )
    old_parts = spark.conf.get("spark.sql.shuffle.partitions")
    out = drain(sdf, "complete", state_parts=3)
    assert out.count() == 2
    assert spark.conf.get("spark.sql.shuffle.partitions") == old_parts
    assert (
        spark.conf.get("spark.sql.streaming.noDataMicroBatches.enabled")
        == "true"
    )
