"""Streaming plane tests: the checkpointed incremental ingest and
multi-batch stateful accumulation. The ingest tests cover a clean
restart (only new files are read), a replayed batch after a lost commit
entry and a batch that failed part way, which must land exactly once
after the rerun, and tables that have no rows yet. The windowed/session/
stateful query results themselves are oracle-gated in
test_queries_oracle via the registry."""

from __future__ import annotations

import os

import pandas as pd
import pytest

from makerdao_dw_spark.ingest.fixtures import VAT_ADDRESS, maker_chain, maker_specs
from makerdao_dw_spark.ingest.pipeline import (
    RAW_LOG_SCHEMA,
    decode_logs_for_table,
    fetch_raw_logs,
    resume_block,
)
from makerdao_dw_spark.streaming.jobs import stream_ingest_logs


@pytest.fixture(scope="module")
def landing(spark, tmp_path_factory):
    """Two waves of raw logs landing as separate files."""
    d = tmp_path_factory.mktemp("landing")
    chain = maker_chain(head=600)
    w1 = fetch_raw_logs(spark, chain, [VAT_ADDRESS], 0, 299, step=100)
    w2 = fetch_raw_logs(spark, chain, [VAT_ADDRESS], 300, 599, step=100)
    return str(d), w1, w2


def test_incremental_ingest_resumes_from_checkpoint(spark, landing, tmp_path):
    landing_dir, w1, w2 = landing
    out = str(tmp_path / "silver")
    ckpt = str(tmp_path / "ckpt")
    vat_specs, _ = maker_specs()
    frob = [s for s in vat_specs if s.table == "vat_call_frob"]

    # wave 1 lands; first run drains it
    w1.coalesce(1).write.mode("append").parquet(landing_dir)
    stream_ingest_logs(spark, landing_dir, frob, out, "makermcd", ckpt, partition_blocks=200)
    p = os.path.join(out, "makermcd", "vat_call_frob")
    n1 = spark.read.parquet(p).count()
    assert n1 > 0

    # restart with same checkpoint, nothing new -> no duplicates
    stream_ingest_logs(spark, landing_dir, frob, out, "makermcd", ckpt, partition_blocks=200)
    assert spark.read.parquet(p).count() == n1

    # wave 2 lands; restart processes ONLY the new file
    w2.coalesce(1).write.mode("append").parquet(landing_dir)
    stream_ingest_logs(spark, landing_dir, frob, out, "makermcd", ckpt, partition_blocks=200)
    df = spark.read.parquet(p)
    n2 = df.count()
    assert n2 > n1
    # no row duplicated across the three runs
    assert df.dropDuplicates(["block_number", "log_index"]).count() == n2
    # both waves' block ranges present
    mn, mx = df.agg({"block_number": "min"}).first()[0], df.agg({"block_number": "max"}).first()[0]
    assert mn < 300 <= mx


@pytest.fixture(scope="module")
def vat_landing(spark, tmp_path_factory):
    """VAT logs of blocks 0-299 landed as one file; tests drain it into
    their own warehouse and checkpoint."""
    d = str(tmp_path_factory.mktemp("vat_landing"))
    raw = fetch_raw_logs(spark, maker_chain(head=300), [VAT_ADDRESS], 0, 299, step=100)
    raw.coalesce(1).write.mode("overwrite").parquet(d)
    return d


def _ingest(spark, landing_dir, specs, out, ckpt):
    stream_ingest_logs(spark, landing_dir, specs, out, "makermcd", ckpt, partition_blocks=200)


def _no_staging(out):
    assert [f for f in os.listdir(os.path.join(out, "makermcd")) if f.startswith("_")] == []


def test_replay_after_lost_commit_lands_once(spark, vat_landing, tmp_path):
    """foreachBatch is at-least-once: a batch whose writes finished but
    whose commit entry did not is run again on restart. Dropping the last
    commit entry stands in for that crash; the replay must not add rows."""
    out, ckpt = str(tmp_path / "silver"), str(tmp_path / "ckpt")
    frob = [s for s in maker_specs()[0] if s.table == "vat_call_frob"]
    _ingest(spark, vat_landing, frob, out, ckpt)
    p = os.path.join(out, "makermcd", "vat_call_frob")
    n1 = spark.read.parquet(p).count()
    assert n1 > 0

    commits = os.path.join(ckpt, "commits")
    last = max(int(f) for f in os.listdir(commits) if f.isdigit())
    # the .crc must go too, or the restart refuses the checkpoint
    os.remove(os.path.join(commits, str(last)))
    os.remove(os.path.join(commits, f".{last}.crc"))
    _ingest(spark, vat_landing, frob, out, ckpt)

    df = spark.read.parquet(p)
    assert df.count() == n1
    assert df.dropDuplicates(["block_number", "log_index"]).count() == n1
    _no_staging(out)


def test_failed_batch_rerun_lands_once(spark, vat_landing, tmp_path, monkeypatch):
    """A write that fails after the first of two tables was written (the
    second table's write lands, then raises) fails the drain; the rerun
    of the uncommitted batch leaves each table with exactly its decodable
    rows."""
    from pyspark.errors import StreamingQueryException
    from pyspark.sql.readwriter import DataFrameWriter

    out, ckpt = str(tmp_path / "silver"), str(tmp_path / "ckpt")
    specs = [s for s in maker_specs()[0] if s.table in ("vat_call_frob", "vat_call_grab")]
    real_parquet = DataFrameWriter.parquet
    failed = []

    def write_then_fail_once(self, path, *args, **kwargs):
        real_parquet(self, path, *args, **kwargs)
        if specs[1].table in path and not failed:
            failed.append(path)
            raise RuntimeError("injected failure after the write")

    monkeypatch.setattr(DataFrameWriter, "parquet", write_then_fail_once)
    with pytest.raises(StreamingQueryException, match="injected failure"):
        _ingest(spark, vat_landing, specs, out, ckpt)
    assert failed
    _no_staging(out)

    _ingest(spark, vat_landing, specs, out, ckpt)
    raw = spark.read.schema(RAW_LOG_SCHEMA).parquet(vat_landing)
    for spec in specs:
        df = spark.read.parquet(os.path.join(out, "makermcd", spec.table))
        n = decode_logs_for_table(raw, spec).count()
        assert n > 0
        assert df.count() == n, spec.table
        assert df.dropDuplicates(["block_number", "log_index"]).count() == n, spec.table
    _no_staging(out)


@pytest.fixture(scope="module")
def vat_only_warehouse(spark, vat_landing, tmp_path_factory):
    """VAT-only logs drained through the vat AND jug specs: jug_call_file
    gets no rows, so the ingest leaves no dir for it."""
    out = str(tmp_path_factory.mktemp("vat_only"))
    vat_specs, jug_specs = maker_specs()
    _ingest(spark, vat_landing, vat_specs + jug_specs, out, os.path.join(out, "_ckpt"))
    return out


def _jug_table(src, dst, state):
    """Copy the warehouse src to dst with its jug_call_file dir missing
    (how the ingest leaves a table with no rows) or an empty dir holding
    only _SUCCESS (how an empty append leaves it)."""
    import shutil

    shutil.copytree(src, dst)
    d = os.path.join(dst, "makermcd", "jug_call_file")
    shutil.rmtree(d, ignore_errors=True)
    if state == "empty dir":
        os.makedirs(d)
        open(os.path.join(d, "_SUCCESS"), "w").close()


@pytest.mark.parametrize("jug", ["missing", "empty dir"])
def test_dashboard_reads_table_with_no_rows(spark, vat_only_warehouse, tmp_path, jug):
    """A table with no rows yet, missing or an empty dir, reads as empty:
    the dashboard matches DUCKDB_SQL over the same tables, with an empty
    jug_call_file."""
    import math

    import duckdb

    from makerdao_dw_spark.queries.assets_per_type import DUCKDB_SQL, TABLES, assets_per_type

    out = str(tmp_path / "wh")
    _jug_table(vat_only_warehouse, out, jug)
    s_rows = [tuple(r) for r in assets_per_type(spark, out).collect()]
    assert s_rows

    con = duckdb.connect()
    for t in TABLES[:3]:
        pattern = os.path.join(out, "makermcd", t, "**", "*.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{pattern}', hive_partitioning=1)")
    con.execute("CREATE TABLE jug_call_file (block_number BIGINT, ilk BLOB, data DECIMAL(38,0))")
    d_rows = con.execute(DUCKDB_SQL).fetchall()
    con.close()

    assert len(s_rows) == len(d_rows)
    for a, b in zip(s_rows, d_rows):
        assert a[:2] == b[:2], (a, b)
        assert math.isclose(a[2], b[2], rel_tol=1e-9, abs_tol=1e-4), (a, b)
        assert a[3] is None and b[3] is None and a[4] is None and b[4] is None, (a, b)


def test_resume_block_skips_only_missing_tables(spark, vat_only_warehouse, tmp_path):
    """resume_block: a table not written yet (no dir) or empty (only
    _SUCCESS) gives the creation block; an unreadable table raises
    instead of silently restarting the contract from its creation."""
    _, jug_specs = maker_specs()
    for state in ("missing", "empty dir"):
        out = str(tmp_path / state)
        _jug_table(vat_only_warehouse, out, state)
        assert resume_block(spark, out, "makermcd", jug_specs, 7) == 7

    part = os.path.join(out, "makermcd", "jug_call_file", "block_range=0")
    os.makedirs(part)
    with open(os.path.join(part, "part-0.parquet"), "wb") as f:
        f.write(b"not a parquet file")
    with pytest.raises(Exception):
        resume_block(spark, out, "makermcd", jug_specs, 7)


def test_resume_block_reads_footers_and_starts_no_job(spark, vat_only_warehouse, tmp_path):
    """resume_block takes max(block_number) from the parquet footer
    statistics: the answer equals a scan's max + 1, the call starts no
    Spark job, and a data file written without statistics raises."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from pyspark.sql import functions as F

    vat_specs, jug_specs = maker_specs()
    root = os.path.join(vat_only_warehouse, "makermcd")
    scan = max(
        spark.read.parquet(os.path.join(root, s.table)).agg(F.max("block_number")).first()[0]
        for s in vat_specs
    )
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    first = dag.nextJobId()
    got = resume_block(spark, vat_only_warehouse, "makermcd", vat_specs + jug_specs, 0)
    assert dag.nextJobId() == first
    assert got == scan + 1

    part = tmp_path / "makermcd" / jug_specs[0].table / "block_range=0"
    part.mkdir(parents=True)
    pq.write_table(pa.table({"block_number": [5]}), part / "part-0.parquet", write_statistics=False)
    with pytest.raises(KeyError):
        resume_block(spark, str(tmp_path), "makermcd", jug_specs, 0)


def test_stateful_accumulates_across_batches(spark, tmp_path):
    """applyInPandasWithState must carry state across micro-batches:
    feed the same keys in two files with maxFilesPerTrigger=1 and check
    totals equal the union, not the last batch."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    from makerdao_dw_spark.queries.streaming import _STATE, _STATE_OUT, _update_user_stats

    d = tmp_path / "ev"
    d.mkdir()
    ts = pd.Timestamp("2024-01-01")
    pd.DataFrame(
        {"user_id": [1, 1, 2], "value": [1.0, 5.0, 2.0], "ts": [ts, ts, ts]}
    ).astype({"ts": "datetime64[us]"}).to_parquet(d / "a.parquet")
    pd.DataFrame(
        {"user_id": [1, 2], "value": [9.0, 0.5], "ts": [ts + pd.Timedelta("1h")] * 2}
    ).astype({"ts": "datetime64[us]"}).to_parquet(d / "b.parquet")

    schema = spark.read.parquet(str(d)).schema
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(str(d))
    )
    st = stream.groupBy("user_id").applyInPandasWithState(
        _update_user_stats, _STATE_OUT, _STATE, "update", GroupStateTimeout.NoTimeout
    )
    name = "stateful_mb_test"
    q = (
        st.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    q.stop()
    out = spark.table(name)
    # last emission per key = accumulated state over BOTH batches
    final = {
        r["user_id"]: r
        for r in out.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
            ),
        )
        .filter("rk = 1")
        .collect()
    }
    assert final[1]["n_events"] == 3 and final[1]["max_value"] == 9.0
    assert final[2]["n_events"] == 2 and final[2]["min_value"] == 0.5


def test_rocksdb_state_store_matches_default(spark):
    """The RocksDB state store provider (the 100 TB choice: state spills
    to local disk instead of living on the executor heap) produces
    byte-identical windowed-aggregation results to the default provider.
    Provider is picked per-query at checkpoint creation, so flipping the
    conf between runs is safe with fresh checkpoints."""
    from makerdao_dw_spark.queries.streaming import streaming_windowed_counts

    from .conftest import SF_DIR

    key = "spark.sql.streaming.stateStore.providerClass"
    prev = spark.conf.get(key, None)
    base = [tuple(r) for r in streaming_windowed_counts(spark, SF_DIR).collect()]
    try:
        spark.conf.set(
            key,
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
        rocks = [tuple(r) for r in streaming_windowed_counts(spark, SF_DIR).collect()]
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)
    assert sorted(base) == sorted(rocks)


def test_stream_table_reads_directory_shaped_tables(spark, tmp_path):
    """Scaled/production corpora ship tables as part-file DIRECTORIES
    (name.parquet/part-*.parquet); the file-stream source does not
    recurse, so before the round-4 fix stream_table silently drained 0
    rows from them. Both layouts must yield the full table."""
    from makerdao_dw_spark.streaming.sources import stream_table
    from makerdao_dw_spark.streaming.jobs import drain

    src = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    n = src.count()
    d = str(tmp_path / "scaled")
    src.repartition(4).write.parquet(os.path.join(d, "events.parquet"))

    got = drain(stream_table(spark, d, "events").groupBy().count(), "complete")
    assert got.collect()[0][0] == n


def test_stream_table_reads_hive_partitioned_tables(spark, tmp_path):
    """The repo's own ingest sink writes partitionBy(...) subdirectories
    (name.parquet/key=value/part-*.parquet). Spark's file-stream source
    DOES recurse into key=value partition dirs (partition discovery), so
    stream_table must yield the full table WITH the partition column —
    pinned here because an advisory flagged this layout as a suspected
    silent-0-rows path (it is not; this test keeps it that way)."""
    from pyspark.sql import functions as F

    from makerdao_dw_spark.streaming.jobs import drain
    from makerdao_dw_spark.streaming.sources import stream_table

    src = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    n = src.count()
    d = str(tmp_path / "parted")
    src.withColumn("block_range", F.pmod(F.col("event_id"), F.lit(4))).write.partitionBy(
        "block_range"
    ).parquet(os.path.join(d, "events.parquet"))

    df = stream_table(spark, d, "events")
    assert "block_range" in df.columns  # partition column discovered
    by_part = {
        r["block_range"]: r["n"]
        for r in drain(
            df.groupBy("block_range").agg(F.count("*").alias("n")), "complete"
        ).collect()
    }
    assert sum(by_part.values()) == n and len(by_part) == 4


def test_stream_table_nested_nonpartition_dir_fails_loudly(spark, tmp_path):
    """A table dir nested in a NON key=value way (no partition discovery
    possible) must raise at open time — never silently drain 0 rows."""
    import pytest
    from pyspark.errors import AnalysisException

    from makerdao_dw_spark.streaming.sources import stream_table

    d = str(tmp_path / "nested")
    inner = os.path.join(d, "events.parquet", "nested")
    spark.range(5).write.parquet(os.path.join(inner, "inner.parquet"))
    with pytest.raises(AnalysisException):
        stream_table(spark, d, "events")


def test_drop_duplicates_within_watermark(spark, tmp_path):
    """dropDuplicatesWithinWatermark drops duplicate event_ids that
    arrive within the watermark horizon: one micro-batch with repeated
    keys comes out once per key. The drain is one batch, so no state
    expires here; test_dedup_state_stays_bounded_across_micro_batches
    checks expiry across batches."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from makerdao_dw_spark.streaming.jobs import drain
    from makerdao_dw_spark.streaming.sources import stream_table

    t0 = datetime.datetime(2024, 1, 1)
    rows = {
        "event_id": [1, 1, 2, 2, 3],
        "ts": [t0, t0 + datetime.timedelta(minutes=5), t0, t0, t0 + datetime.timedelta(hours=1)],
        "user_id": [10, 10, 20, 20, 30],
        "event_type": ["click"] * 5,
        "value": [1.0] * 5,
        "props": ["{}"] * 5,
    }
    d = str(tmp_path)
    pq.write_table(pa.table(rows), os.path.join(d, "events.parquet"))

    ev = stream_table(spark, d, "events")
    deduped = ev.withWatermark("ts", "2 hours").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    out = drain(deduped.select("event_id"), "append")
    got = sorted(r.event_id for r in out.collect())
    assert got == [1, 2, 3], got


def test_dedup_state_stays_bounded_across_micro_batches(spark, sf_dir, tmp_path):
    """streaming_dedup's bounded form keeps state to about one slice of
    the stream, where plain dropDuplicates keeps one row per key.

    The events (non-NULL ts) are cut into K time-ordered files with
    increasing mtimes, so the file source streams them in event-time
    order, one file per micro-batch. Each file is read twice (a
    self-union), so every key arrives twice in its batch. Both forms
    must emit each key exactly once. drain skips the trailing no-data
    batch, so the last batch's slice is still in state when the drain
    stops: the bound is two slices, not rate x horizon."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from makerdao_dw_spark.queries.streaming import dedup_events
    from makerdao_dw_spark.streaming import jobs

    k = 10
    tbl = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    tbl = tbl.filter(pc.is_valid(tbl["ts"])).sort_by("ts").replace_schema_metadata(None)
    # an LTZ micros column, the type Spark's stream schema reads as timestamp
    tbl = tbl.set_column(
        tbl.schema.get_field_index("ts"), "ts", tbl["ts"].cast(pa.timestamp("us", tz="UTC"))
    )
    n_keys = len(pc.unique(tbl["event_id"]))
    per_file = -(-tbl.num_rows // k)
    src = str(tmp_path / "slices")
    os.makedirs(src)
    for i in range(k):
        path = os.path.join(src, f"slice_{i:02d}.parquet")
        pq.write_table(tbl.slice(i * per_file, per_file), path)
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
    schema = spark.read.parquet(src).schema

    def leg():
        return spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)

    state = {}
    for form, dedup in (
        ("bounded", dedup_events),
        ("unbounded", lambda sdf: sdf.dropDuplicates(["event_id"])),
    ):
        out = jobs.drain(dedup(leg().unionByName(leg())).select("event_id"), "append", state_parts=2)
        assert out.count() == out.distinct().count() == n_keys, form
        state[form] = jobs.LAST_STATE_ROWS
    assert state["unbounded"] == n_keys, state
    assert 0 < state["bounded"] <= 2 * per_file, state


def test_drain_leaves_no_temp_entries(spark, sf_dir):
    """A finished drain removes its checkpoint dir and its memory-sink
    temp view: the temp dir holds the same entries after a drain as
    before it, no `stream_sink_*` view is left in the catalog, and the
    returned frame still counts."""
    import tempfile

    from makerdao_dw_spark.queries.streaming import streaming_windowed_counts

    tmp = tempfile.gettempdir()
    streaming_windowed_counts(spark, sf_dir).collect()  # lazily created dirs settle
    before = set(os.listdir(tmp))
    assert streaming_windowed_counts(spark, sf_dir).count() > 0
    assert set(os.listdir(tmp)) ^ before == set()
    views = [t.name for t in spark.catalog.listTables() if t.name.startswith("stream_sink_")]
    assert views == [], views
