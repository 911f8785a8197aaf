"""Shared streaming mechanisms: one AvailableNow runner, the memory-sink
drain that every registered streaming query (queries/streaming.py)
returns through and the session its stream opens on, and the
checkpointed log-ingest foreachBatch sink.

Every stream here runs with ``Trigger.AvailableNow`` (drain everything
currently available, then stop), which is how `__spark_entry__`, the
oracle comparison and the refresh workload consume them. In production
the same plans run unbounded with a processing-time trigger.
"""

from __future__ import annotations

import itertools
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import DataStreamWriter

from ..session import clone_with, share_view

_SEQ = itertools.count()


# Final-micro-batch state-store row count of the most recent stateful
# drain (each one replaces it). Observability only (tools/measure.py
# reports it as a query's `state_rows` to check the bounded-state claim
# at growing input sizes); no query logic depends on it.
LAST_STATE_ROWS: int | None = None


# True runs the trailing no-data micro-batch in drain after all — the
# watermark then advances once more and EVICTS expired state before the
# query stops. Sink output is identical either way (see drain); with it
# off, tools/measure.py's `state_rows` are read at the drain's last data
# batch.
FINAL_WATERMARK_BATCH = False
# Longest an AvailableNow drain may run before it is stopped and raises
_DRAIN_TIMEOUT_S = 300


def drain_session(spark: SparkSession, partitions: int | None = None) -> SparkSession:
    """The session a stream to be drained opens on: a kept clone of
    `spark` (session.clone_with) with the trailing no-data micro-batch
    off (see drain) and, given `partitions`, the shuffle-partition count
    a stateful exchange is pinned to at its first micro-batch
    (session.input_partitions sizes it from the input). A stream takes
    these confs from its own DataFrame's session when it starts, so
    drain needs no conf of its own and the caller's session is never
    written."""
    confs = {"spark.sql.streaming.noDataMicroBatches.enabled": str(FINAL_WATERMARK_BATCH).lower()}
    if partitions is not None:
        confs["spark.sql.shuffle.partitions"] = str(partitions)
    return clone_with(spark, confs)


def _await_available_now(writer: DataStreamWriter, what: str) -> dict | None:
    """Start `writer` with Trigger.AvailableNow, wait until it has
    drained what is available, stop it and return its last progress.
    A failed query raises from the wait; one still running after
    _DRAIN_TIMEOUT_S raises TimeoutError. It is stopped either way."""
    q = writer.trigger(availableNow=True).start()
    try:
        if not q.awaitTermination(_DRAIN_TIMEOUT_S):
            raise TimeoutError(f"{what} did not finish in {_DRAIN_TIMEOUT_S}s")
        return q.lastProgress
    finally:
        q.stop()


def drain(sdf: DataFrame, output_mode: str, spark: SparkSession) -> DataFrame:
    """Run a streaming DataFrame to a memory sink with AvailableNow and
    return the sink's rows as a frame on `spark`, the caller's session
    (the sink's views are dropped). Unique query names allow repeated
    invocation in one session (the driver calls each query at least
    twice).

    The stream runs under the confs of the session it was opened on: a
    registered streaming query opens it on drain_session(), whose clone
    pins the state partitions and turns off the trailing no-data
    micro-batch. The rows come back on the caller's session, so no
    later plan over them runs under the clone's confs. Every registered streaming query's sink
    output is emitted eagerly in DATA batches (complete/update modes
    recompute per batch; the append-mode operators used — inner
    stream-stream join, dropDuplicatesWithinWatermark — emit rows on
    arrival), so the no-data batch would advance the watermark only to
    EVICT state, which a finite drain that is about to stop never
    benefits from. It cost a full per-partition state-store commit cycle
    (measured: half of streaming_stream_stream_join's drain). A future
    append-mode AGGREGATION (emission gated on the watermark) must
    re-enable it or its final windows never reach the sink."""
    global LAST_STATE_ROWS
    name = f"stream_sink_{next(_SEQ)}"
    ckpt = tempfile.mkdtemp(prefix="ckpt_")
    stream_spark = sdf.sparkSession
    try:
        writer = (
            sdf.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
        )
        prog = _await_available_now(writer, f"streaming drain {name!r}")
    finally:
        # the memory sink holds the result; a finished drain is never
        # resumed, so its checkpoint is dead weight in the temp dir
        shutil.rmtree(ckpt, ignore_errors=True)
    if prog and prog.get("stateOperators"):
        LAST_STATE_ROWS = sum(op.get("numRowsTotal", 0) for op in prog["stateOperators"])
    out = spark.table(share_view(stream_spark.table(name), name))
    # the frame keeps the sink's rows; the views would pin them in
    # memory for the rest of the session
    spark.catalog.dropGlobalTempView(name)
    stream_spark.catalog.dropTempView(name)
    return out


def stream_ingest_logs(
    spark: SparkSession,
    landing_dir: str,
    specs,
    out_dir: str,
    schema_name: str,
    checkpoint_dir: str,
    partition_blocks: int = 1_000_000,
) -> None:
    """Checkpointed incremental ingest: watch a raw-log landing directory,
    decode + demultiplex each micro-batch into the per-table parquet
    layout. The checkpoint replaces the reference's max(block_number)
    resume probe (classes.py:32-50): a restart continues from the first
    batch without a commit entry.

    foreachBatch is the right tool: one decoded micro-batch fans out to
    N table sinks — multi-sink writes aren't expressible as a single
    streaming sink. Its body is `ingest.pipeline.demux_and_write`, keyed
    on `batch_id`. foreachBatch is at-least-once: a batch whose writes
    finished (or failed part way) without its commit entry runs again on
    restart, with the same rows. demux_and_write first deletes whatever
    that batch published before, so after the rerun every table holds
    the batch exactly once; before the rerun it may hold none, part or
    all of it.
    """
    from ..ingest.pipeline import RAW_LOG_SCHEMA, demux_and_write
    from .sources import stream_dir

    raw = stream_dir(spark, landing_dir, RAW_LOG_SCHEMA)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        demux_and_write(batch_df, specs, out_dir, schema_name, partition_blocks, batch_id=batch_id)

    _await_available_now(
        raw.writeStream.foreachBatch(write_batch).option("checkpointLocation", checkpoint_dir),
        "stream_ingest_logs drain",
    )
