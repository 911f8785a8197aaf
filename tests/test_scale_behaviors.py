"""Scale-behavior tests: AQE skew-join splitting actually fires on a
skewed key, and watermarks actually drop late data — the two runtime
behaviors SCALE.md leans on, proven rather than asserted."""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F

from .conftest import conf_override


def test_aqe_splits_skewed_join(spark):
    """90% of the left rows share one key. With AQE skew handling tuned
    to small test sizes, the sort-merge join must show split (skew=true)
    partitions in the final adaptive plan."""
    left = spark.range(0, 60_000).select(
        F.when(F.col("id") % 10 != 0, F.lit(7)).otherwise(F.col("id")).alias("k"),
        F.concat(F.lit("pad_"), F.col("id").cast("string")).alias("payload"),
    )
    right = spark.range(0, 5_000).select(
        (F.col("id") % 2_500).alias("k"), F.col("id").alias("r")
    )
    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    with conf_override(spark, confs):
        j = left.join(right, "k")
        j.collect()  # execute THIS plan instance (count() would build another)
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:2000]


def test_watermark_drops_late_rows(spark, tmp_path):
    """Append-mode windowed aggregation: once the watermark passes a
    window's end, a late row for that window must be DROPPED, not
    re-emitted — the state-bounding contract streaming relies on."""
    d = tmp_path / "late"
    d.mkdir()
    t0 = pd.Timestamp("2024-01-01 00:00:00")

    def write(name, rows):
        pdf = pd.DataFrame(rows)
        # UTC-adjusted so Spark reads TIMESTAMP (not TIMESTAMP_NTZ, which
        # withWatermark rejects as an event-time column)
        pdf["ts"] = pdf["ts"].dt.tz_localize("UTC").astype("datetime64[us, UTC]")
        pdf.to_parquet(d / name)

    # batch 0: two events in hour-0, one far ahead (advances the
    # watermark past hour-0 + the 10min delay for the NEXT batch)
    write("a.parquet", {"ts": [t0, t0 + pd.Timedelta("5min"), t0 + pd.Timedelta("3h")], "v": [1, 1, 1]})
    # batch 1: unrelated on-time event; during this batch the hour-0
    # window is finalized (emitted + evicted)
    write("m.parquet", {"ts": [t0 + pd.Timedelta("3h1min")], "v": [1]})
    # batch 2: a LATE event for hour-0 — state is gone, watermark ~2h51m,
    # so the row must be dropped (a late row landing in the SAME batch as
    # the eviction may still merge; Spark only guarantees the drop once
    # the watermark filter is ahead of it — hence the m.parquet batch)
    write("z.parquet", {"ts": [t0 + pd.Timedelta("1min")], "v": [100]})

    schema = spark.read.parquet(str(d)).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(d))
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.sum("v").alias("total"), F.count(F.lit(1)).alias("n"))
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("late_test")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    q.stop()
    out = spark.table("late_test").collect()
    hour0 = [(r["total"], r["n"]) for r in out if r["w"]["start"].hour == 0]
    # exactly ONE finalized hour-0 row with the two on-time events; the
    # late v=100 neither merged nor re-opened the window
    assert hour0 == [(2, 2)], out
    dropped = sum(
        p["stateOperators"][0]["numRowsDroppedByWatermark"] for p in q.recentProgress
    )
    assert dropped == 1, [p["stateOperators"][0] for p in q.recentProgress]


def test_dynamic_partition_pruning_fires(spark, tmp_path):
    """A date/key-partitioned fact joined to a filtered dimension must
    prune fact partitions AT RUNTIME from the dim filter (dynamic
    partition pruning) — the mechanism that turns a 100 TB full scan
    into a 3-partition read when the dimension narrows the keys."""
    fact = spark.range(0, 20_000).select(
        F.col("id"),
        (F.col("id") % 20).alias("part_key"),
        (F.col("id") * 2).alias("v"),
    )
    fact.write.mode("overwrite").partitionBy("part_key").parquet(str(tmp_path / "fact"))
    dim = spark.range(0, 20).select(
        F.col("id").alias("part_key"),
        F.when(F.col("id") < 3, "hot").otherwise("cold").alias("tag"),
    )
    j = (
        spark.read.parquet(str(tmp_path / "fact"))
        .join(dim.filter(F.col("tag") == "hot"), "part_key")
        .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
    )
    plan = spark._jvm.PythonSQLUtils.explainString(j._jdf.queryExecution(), "formatted")
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    row = j.collect()[0]
    # keys 0,1,2 -> ids where id%20 in (0,1,2): 3000 rows of the 20k
    assert row["n"] == 3_000, row
    assert row["s"] == sum(2 * i for i in range(20_000) if i % 20 < 3), row
