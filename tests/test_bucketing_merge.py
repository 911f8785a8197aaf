"""MERGE/upsert semantics of `io/merge.merge_dataframes`, the merge the
serving-table upsert (streaming/jobs.py::stream_serving_aggregates)
applies per micro-batch. Bucketed tables are `session.stage_bucketed`'s,
tested in test_session_stage.py."""

from __future__ import annotations

from makerdao_dw_spark.io.merge import merge_dataframes


def test_merge_dataframes_semantics(spark):
    target = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "k long, s string, v long"
    )
    updates = spark.createDataFrame([(2, "B", 99), (4, "d", 40)], "k long, s string, v long")
    out = {r["k"]: (r["s"], r["v"]) for r in merge_dataframes(target, updates, ["k"]).collect()}
    assert out == {1: ("a", 10), 2: ("B", 99), 3: ("c", 30), 4: ("d", 40)}
