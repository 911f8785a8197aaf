"""IO plane tests: partitioned writes prune on read, and the JDBC
adapter builds correct plans (no driver jar in this env, so the JDBC
write path is asserted up to the driver-load boundary)."""

from __future__ import annotations

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from makerdao_dw_spark.io.jdbc import JdbcConfig, write_jdbc
from makerdao_dw_spark.session import load_table

from .conftest import SF_DIR


@pytest.fixture(scope="module")
def sample(spark):
    return load_table(spark, SF_DIR, "events").limit(200).cache()


def test_partitioned_write_prunes_on_read(spark, sample, tmp_path):
    """A filter on the partition column must turn into PartitionFilters
    (directory pruning), not a data filter over all files."""
    path = str(tmp_path / "part")
    df = sample.withColumn("day", F.to_date("ts"))
    df.write.partitionBy("day").parquet(path)
    back = spark.read.parquet(path)
    one_day = back.select("day").distinct().first()["day"]
    q = back.filter(F.col("day") == F.lit(one_day))
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "isnotnull(day" in plan, plan
    assert q.count() == df.filter(F.col("day") == F.lit(one_day)).count()


def test_jdbc_write_reaches_driver_boundary(spark, sample):
    """Without a driver jar the batched JDBC sink must fail at driver
    load — proving the plan (url/batchsize/partitioning) is built
    correctly up to the warehouse boundary."""
    cfg = JdbcConfig(url="jdbc:postgresql://localhost:5/x", user="u", password="p")
    with pytest.raises(Py4JJavaError, match="(?i)driver|class"):
        write_jdbc(sample.limit(1), cfg, "t", num_partitions=2)


def test_compaction_reduces_files(spark, sample, tmp_path):
    from makerdao_dw_spark.io.maintenance import compact_table, table_layout_stats

    path = str(tmp_path / "frag")
    # fragment: 40 tiny files across 2 partitions (micro-batch accretion)
    frag = sample.withColumn("p", (F.col("event_id") % 2).cast("int")).repartition(20)
    frag.write.partitionBy("p").mode("overwrite").parquet(path)
    before = table_layout_stats(spark, path)
    assert before["n_files"] >= 20

    rows_before = spark.read.parquet(path).count()
    stats = compact_table(spark, path, partition_col="p")
    after = stats["after"]
    assert after["n_files"] < before["n_files"]
    assert after["total_bytes"] > 0
    df = spark.read.parquet(path)
    assert df.count() == rows_before
    assert {r["p"] for r in df.select("p").distinct().collect()} == {0, 1}


def test_schema_evolution_abi_upgrade(spark, tmp_path):
    """ABI-upgrade simulation: a call table written pre-upgrade (5
    params) and post-upgrade (6 params) must read back as one table
    with the union schema, NULL for the new column on old rows."""
    from makerdao_dw_spark.io.formats import read_evolved

    path = str(tmp_path / "vat_call_file")
    v1 = spark.range(5).select(
        F.col("id").alias("block_number"),
        F.lit("i1").alias("ilk"),
        F.lit(1).alias("what"),
    )
    v1.write.mode("append").parquet(path)
    v2 = spark.range(5, 8).select(
        F.col("id").alias("block_number"),
        F.lit("i2").alias("ilk"),
        F.lit(2).alias("what"),
        F.lit("0xabc").alias("data_raw"),  # the upgraded ABI's new param
    )
    v2.write.mode("append").parquet(path)
    merged = read_evolved(spark, path)
    assert set(merged.columns) == {"block_number", "ilk", "what", "data_raw"}
    rows = {r.block_number: r.data_raw for r in merged.collect()}
    assert len(rows) == 8
    assert rows[0] is None and rows[7] == "0xabc"
    # plain read of one generation still prunes to its own columns
    old_only = merged.filter(F.col("data_raw").isNull())
    assert old_only.count() == 5


def test_load_table_normalizes_every_parquet_timestamp_flavor(spark, tmp_path):
    """The driver's testdata has shipped TIMESTAMP(NANOS) (r1) and
    TIMESTAMP(MICROS, isAdjustedToUTC=false) (r2+); plain UTC micros is
    the third plausible flavor. load_table must surface ALL of them as
    plain TimestampType with identical wall-clock values — the r2 bench/
    correctness breakage class, pinned."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from makerdao_dw_spark.session import load_table

    ts = [dt.datetime(2024, 1, 30, 12, 34, 56, 789000), dt.datetime(2024, 6, 1, 0, 0, 0)]
    flavors = {
        "micros_ntz": pa.timestamp("us"),
        "micros_utc": pa.timestamp("us", tz="UTC"),
        "nanos_ntz": pa.timestamp("ns"),
    }
    for name, typ in flavors.items():
        tbl = pa.table({"ts": pa.array(ts, type=typ), "events_id": [1, 2]})
        d = tmp_path / name
        d.mkdir()
        pq.write_table(tbl, str(d / "events.parquet"))
        df = load_table(spark, str(d), "events")
        assert dict(df.dtypes)["ts"] == "timestamp", (name, df.dtypes)
        got = sorted(r.ts for r in df.select("ts").collect())
        assert got == sorted(ts), (name, got)
