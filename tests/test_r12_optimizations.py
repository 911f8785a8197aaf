"""r12 optimization-round pins (VERDICT r11 items 3 and 5):

- the recursive-CTE loop confs (AQE off, shrunken shuffle partitions)
  must be restored by the query itself, not by the NEXT query's
  configure() — a non-registry consumer must never inherit them;
- the streaming drains' trailing no-data micro-batch removal must be
  sink-invariant: every drain returns identical rows with
  streaming.jobs.FINAL_WATERMARK_BATCH on and off.
"""

from __future__ import annotations

import pytest

from makerdao_dw_spark.queries import queries_dict
from makerdao_dw_spark.streaming import jobs


def test_recursive_cte_restores_session_confs(spark, sf_dir):
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    df = queries_dict()["recursive_cte_reachability"](spark, sf_dir)
    # the loop executes inside the query fn (staged); both confs must
    # already be back BEFORE any consumer touches the returned frame
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
    # and the returned frame is conf-independent: executing it changes
    # nothing and yields rows
    assert df.count() > 0
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"


STREAMING = [
    "streaming_windowed_counts",
    "streaming_hopping_counts",
    "streaming_session_windows",
    "streaming_stateful_user_stats",
    "streaming_dedup",
    "streaming_static_join",
    "streaming_stream_stream_join",
]


@pytest.mark.parametrize("name", STREAMING)
def test_streaming_final_watermark_batch_sink_invariant(spark, sf_dir, name, monkeypatch):
    """The r11 drain change skips the eviction-only trailing micro-batch;
    the sink rows must be IDENTICAL either way for every registered
    drain (the one semantics-adjacent r11 change — VERDICT r11 item 5)."""
    qd = queries_dict()
    monkeypatch.setattr(jobs, "FINAL_WATERMARK_BATCH", False)
    without = sorted(tuple(r) for r in qd[name](spark, sf_dir).collect())
    monkeypatch.setattr(jobs, "FINAL_WATERMARK_BATCH", True)
    with_batch = sorted(tuple(r) for r in qd[name](spark, sf_dir).collect())
    assert without == with_batch
    assert len(without) > 0


# --------------------------------------------------------------------------
# VERDICT r11 item 8: _scan_splits probes row groups, not just files
# --------------------------------------------------------------------------
def _write_parquet(tmp_path, name, n_rows, row_group_size):
    import pyarrow as pa
    import pyarrow.parquet as pq

    p = str(tmp_path / name)
    pq.write_table(
        pa.table({"id": list(range(n_rows))}), p, row_group_size=row_group_size
    )
    return p


def _tiny_splits(spark):
    """Session confs under which Spark cuts even a few-KB file into
    byte ranges of about one row group (maxSplitBytes ~ 64 B)."""
    spark.conf.set("spark.sql.files.maxPartitionBytes", "64")
    spark.conf.set("spark.sql.files.openCostInBytes", "0")


def _default_splits(spark):
    spark.conf.unset("spark.sql.files.maxPartitionBytes")
    spark.conf.unset("spark.sql.files.openCostInBytes")


def test_scan_splits_counts_row_groups(spark, tmp_path):
    """Row groups bound the split count of a file big enough to be cut
    into several byte ranges; at the default split size the same tiny
    file is one range, so one split whatever its row-group count."""
    from makerdao_dw_spark.session import _input_signature, _scan_splits

    single = _write_parquet(tmp_path, "one.parquet", 100, 100)
    multi = _write_parquet(tmp_path, "two.parquet", 100, 50)
    _tiny_splits(spark)
    try:
        assert _scan_splits(spark, single, _input_signature(single)) == 1
        assert _scan_splits(spark, multi, _input_signature(multi)) == 2
    finally:
        _default_splits(spark)
    assert _scan_splits(spark, multi, _input_signature(multi)) == 1
    # a directory: one split per data file, partition subdirs included
    d = tmp_path / "dir.parquet"
    (d / "k=1").mkdir(parents=True)
    _write_parquet(d, "a.parquet", 10, 10)
    _write_parquet(d / "k=1", "b.parquet", 10, 10)
    (d / "_SUCCESS").write_text("")
    assert _scan_splits(spark, str(d), _input_signature(str(d))) == 2
    assert _scan_splits(spark, str(d), None) == 1


def test_spread_skips_multi_row_group_single_file(spark, tmp_path):
    """A single file that Spark itself cuts into >= parallelism splits
    must NOT get the round-robin exchange (which would shuffle the
    whole table for nothing); the estimate is checked against the
    scan's real partition count."""
    from makerdao_dw_spark.session import load_table

    par = spark.sparkContext.defaultParallelism
    p = _write_parquet(tmp_path, "t.parquet", par * 1000, 1000)  # par row groups
    _tiny_splits(spark)
    try:
        assert spark.read.parquet(p).rdd.getNumPartitions() >= par
        df = load_table(spark, str(tmp_path), "t", spread=True)
        assert "Repartition" not in df._jdf.queryExecution().optimizedPlan().toString()
    finally:
        _default_splits(spark)
    # the unsplittable single-row-group layout still gets the spread
    _write_parquet(tmp_path, "u.parquet", par * 10, par * 10)
    df2 = load_table(spark, str(tmp_path), "u", spread=True)
    assert "Repartition" in df2._jdf.queryExecution().optimizedPlan().toString()


def test_spread_covers_small_file_with_many_row_groups(spark, tmp_path):
    """A small file with many tiny row groups is ONE byte-range split at
    the default split size, so its scan runs on one core: load_table
    must still spread it (the row-group count alone over-estimated the
    splits and skipped the spread)."""
    from makerdao_dw_spark.session import load_table

    par = spark.sparkContext.defaultParallelism
    p = _write_parquet(tmp_path, "m.parquet", par * 40, 10)  # 4*par row groups
    assert spark.read.parquet(p).rdd.getNumPartitions() == 1
    df = load_table(spark, str(tmp_path), "m", spread=True)
    assert "Repartition" in df._jdf.queryExecution().optimizedPlan().toString()
    assert df.rdd.getNumPartitions() == par
