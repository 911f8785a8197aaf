"""Ingestion pipelines: block-header backfill + contract-log backfill.

Spark-first re-expression of the reference's single-threaded polling
loops (/root/reference/eth-blocks.py:59-80, eth-contract.py:77-146):

- the block range is split into fixed windows (the reference's
  `blocksStep`) and PARALLELIZED: each window is fetched by an executor
  task via the pluggable RPC client (A1/A2). The reference's adaptive
  step controller (A15) exists to protect a single serial loop from
  provider caps; in the partitioned design the cap maps to window size,
  and AQE handles downstream size skew.
- decode + demultiplex (A7-A9): one JVM-side topic filter + one
  Arrow-batched decode stage per target table, from a cached raw-log DF,
  the tables written concurrently. `demux_and_write` is the one demux
  body of the batch backfill and of the streaming ingest's foreachBatch.
- sink (A12/A13): parquet tables partitioned by block range
  (block_number div `partition_blocks`). Every table of a call is
  written to a staging dir outside the table dirs, then published by
  rename (A19's per-range transaction):
  - batch (no `batch_id`): each staged partition replaces the table's,
    a dynamic partition overwrite, so re-ingesting a range is
    idempotent (replaces A14's max-probe resume with safe re-runs);
  - streaming (`batch_id=b`): the files join the table as `batch-b-*`
    after every earlier-published file of b is deleted, so a replayed
    micro-batch lands exactly once. The contract: after the rerun of a
    batch that failed or crashed at any point, the warehouse holds all
    of it, once.
- resume (A14): `resume_block` takes max(block_number)+1 across the
  contract's tables from the parquet footers (no Spark job), falling
  back to the creation block; only a table not written yet is skipped.
  `backfill_contract` re-ingests from the partition holding that max.

At 100 TB: raw logs land first as an append-only bronze table
partitioned by block range; per-table decode reads only the new
partitions. Window fetch is network-bound, decode is CPU-bound — both
scale linearly with executors; the only shuffle in the whole pipeline
is the optional proxy-dedup (dropDuplicates on transaction_hash).
"""

from __future__ import annotations

import glob
import os
import shutil
from collections.abc import Iterator
from concurrent.futures import ThreadPoolExecutor

import pandas as pd
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..abi.schema import TableSpec
from ..decode.decoders import decode_logs_for_table
from ..session import configure
from .rpc import RpcClient

RAW_LOG_SCHEMA = StructType(
    [
        StructField("address", StringType()),
        StructField("topics", ArrayType(StringType())),
        StructField("data", StringType()),
        StructField("block_number", LongType()),
        StructField("block_hash", StringType()),
        StructField("log_index", IntegerType()),
        StructField("transaction_index", IntegerType()),
        StructField("transaction_hash", StringType()),
    ]
)

BLOCK_SCHEMA = StructType(
    [
        StructField("block_number", LongType()),
        StructField("block_hash", StringType()),
        StructField("miner", StringType()),
        StructField("nonce", StringType()),
        StructField("gas_limit", LongType()),
        StructField("gas_used", LongType()),
        StructField("difficulty", LongType()),
        StructField("extra_data", StringType()),
        StructField("time", LongType()),  # unix seconds; converted after
        StructField("size", LongType()),
    ]
)

# Tables decoded and written concurrently by one demux_and_write call.
_TABLE_WORKERS = 8


def _windows(from_block: int, to_block: int, step: int) -> list[tuple[int, int]]:
    return [(f, min(f + step - 1, to_block)) for f in range(from_block, to_block + 1, step)]


def backfill_blocks(
    spark: SparkSession, rpc: RpcClient, from_block: int, to_block: int, step: int = 1000
) -> DataFrame:
    """Block-header source (A1): partitioned range -> per-window RPC fetch.

    Returns the `ethereum.transactions`-shaped DataFrame (block headers,
    reference eth-blocks.py:41-46) with `time` as a proper timestamp (A18).
    """
    configure(spark)
    wins = _windows(from_block, to_block, step)
    if not wins:  # empty range: repartition(0) would throw
        return spark.createDataFrame([], BLOCK_SCHEMA)
    win_df = spark.createDataFrame(wins, "f long, t long").repartition(
        min(len(wins), spark.sparkContext.defaultParallelism)
    )

    def fetch(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in BLOCK_SCHEMA.fields]
        for pdf in it:
            rows = []
            for f, t in zip(pdf["f"], pdf["t"]):
                for n in range(int(f), int(t) + 1):
                    b = rpc.get_block(n)
                    rows.append(
                        {
                            "block_number": b["number"],
                            "block_hash": b["hash"][2:],
                            "miner": b["miner"][2:].lower(),
                            "nonce": b["nonce"][2:],
                            "gas_limit": b["gasLimit"],
                            "gas_used": b["gasUsed"],
                            "difficulty": b["difficulty"],
                            "extra_data": b["extraData"][2:],
                            "time": b["timestamp"],
                            "size": b["size"],
                        }
                    )
            yield pd.DataFrame(rows, columns=cols)

    out = win_df.mapInPandas(fetch, BLOCK_SCHEMA)
    return out.withColumn("time", F.timestamp_seconds("time"))


def fetch_raw_logs(
    spark: SparkSession,
    rpc: RpcClient,
    addresses: list[str],
    from_block: int,
    to_block: int,
    step: int = 1000,
    proxy_filter_address: str | None = None,
) -> DataFrame:
    """Log-range source (A2): (window x address) grid -> executor fetch.

    proxy_filter_address reproduces the reference's proxy_actions path
    (A3/A16, eth-contract.py:48-58): dedup by transaction_hash, fetch the
    tx receipt, keep only txs whose first receipt log mentions the target
    address.
    """
    configure(spark)
    grid = [(f, t, a) for (f, t) in _windows(from_block, to_block, step) for a in addresses]
    if not grid:  # empty range or no addresses: repartition(0) would throw
        return spark.createDataFrame([], RAW_LOG_SCHEMA)
    grid_df = spark.createDataFrame(grid, "f long, t long, addr string").repartition(
        min(len(grid), spark.sparkContext.defaultParallelism)
    )

    def fetch(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in RAW_LOG_SCHEMA.fields]
        for pdf in it:
            rows = []
            for f, t, a in zip(pdf["f"], pdf["t"], pdf["addr"]):
                for lg in rpc.get_logs(int(f), int(t), a):
                    rows.append(
                        {
                            "address": lg["address"],
                            "topics": list(lg["topics"]),
                            "data": lg["data"],
                            "block_number": lg["blockNumber"],
                            "block_hash": lg["blockHash"],
                            "log_index": lg["logIndex"],
                            "transaction_index": lg["transactionIndex"],
                            "transaction_hash": lg["transactionHash"],
                        }
                    )
            yield pd.DataFrame(rows, columns=cols)

    raw = grid_df.mapInPandas(fetch, RAW_LOG_SCHEMA)

    if proxy_filter_address is not None:
        tx = raw.dropDuplicates(["transaction_hash"])  # A16

        def receipts(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            needle = proxy_filter_address.lower().removeprefix("0x")

            def hit(h) -> bool:
                # a reverted tx's receipt has NO logs — filter it out
                # instead of IndexError-ing the whole backfill
                logs = rpc.get_transaction_receipt(h)["logs"]
                return bool(logs) and needle in logs[0]["data"]

            for pdf in it:
                keep = [hit(h) for h in pdf["transaction_hash"]]
                yield pdf[pd.Series(keep, index=pdf.index)]

        raw = tx.mapInPandas(receipts, RAW_LOG_SCHEMA)
    return raw


def demux_and_write(
    raw_logs: DataFrame,
    specs: list[TableSpec],
    out_dir: str,
    schema_name: str,
    partition_blocks: int = 1_000_000,
    batch_id: int | None = None,
) -> dict[str, int]:
    """Topic dispatch (A7) + decode (A8/A9) + partitioned parquet sink
    (A12/A13). Unknown topics are dropped (fixes the reference's
    stale-dispatch bug). Returns rows written per table. The one demux
    body of both ingest paths: `backfill_contract` and the foreachBatch
    body of `streaming.jobs.stream_ingest_logs`.

    The raw frame is persisted and counted ONCE, then the per-table
    decode+write jobs are submitted CONCURRENTLY from a thread pool: each
    table's job is independent (distinct topic filter, distinct output
    path), and a contract warehouse has hundreds of mostly-small tables
    (the reference compiles 412), so a sequential loop serializes
    hundreds of fixed per-job overheads while the cluster idles.

    Each table is written to a staging dir next to (never inside) its
    table dir, counted from the staged parquet footers (no extra job)
    and published by rename only once every table of the call has
    staged; the staging is removed on success and on failure. Publish
    runs partition-major (ascending `block_range`, every table's
    partition before the next one), so a crash part way leaves the
    partitions below the one being published complete in every table.
    - `batch_id=None` (backfill): each staged `block_range=` dir
      replaces the table's (dynamic partition overwrite), so
      re-ingesting a range is idempotent.
    - `batch_id=b` (a streaming micro-batch): the staged files join the
      table's `block_range=` dirs as `batch-b-*`, after every published
      file of b is deleted. A replayed batch (foreachBatch is
      at-least-once) therefore ends with all of b exactly once, however
      far its previous attempt got.
    One writer per table: a staging dir is keyed by table only, and a
    batch id is the stream's checkpointed id. Tables with no rows stay
    absent on disk; readers take them as empty (`resume_block`,
    `queries.assets_per_type`)."""
    raw = raw_logs.persist()
    staging = {s.table: os.path.join(out_dir, schema_name, f"_staging_{s.table}") for s in specs}
    try:
        raw.count()  # materialize the cache before fan-out
        if batch_id is not None:  # a replay: drop whatever b published before
            for spec in specs:
                table = os.path.join(out_dir, schema_name, spec.table)
                for f in glob.glob(os.path.join(table, "*", f"batch-{batch_id}-*")):
                    os.remove(f)

        def stage(spec: TableSpec) -> tuple[str, int]:
            # a crashed run may have left this table's staging behind
            shutil.rmtree(staging[spec.table], ignore_errors=True)
            decoded = decode_logs_for_table(raw, spec).withColumn(
                "block_range", F.expr(f"block_number div {partition_blocks}")
            )
            decoded.write.mode("overwrite").partitionBy("block_range").parquet(staging[spec.table])
            files = glob.glob(os.path.join(staging[spec.table], "block_range=*", "*.parquet"))
            return spec.table, sum(pq.ParquetFile(f).metadata.num_rows for f in files)

        with ThreadPoolExecutor(max_workers=min(_TABLE_WORKERS, len(specs) or 1)) as pool:
            counts = dict(pool.map(stage, specs))
        prefix = "" if batch_id is None else f"batch-{batch_id}-"
        # partition-major: a crash leaves every partition below the one
        # being published complete in every table (backfill_contract
        # resumes from there)
        parts = sorted(
            (int(os.path.basename(part).split("=", 1)[1]), spec.table, part)
            for spec in specs
            for part in glob.glob(os.path.join(staging[spec.table], "block_range=*"))
        )
        for _, table, part in parts:
            dst = os.path.join(out_dir, schema_name, table, os.path.basename(part))
            if batch_id is None and os.path.isdir(dst):  # dynamic partition overwrite
                shutil.rmtree(dst)
            os.makedirs(dst, exist_ok=True)
            for f in glob.glob(os.path.join(part, "*.parquet")):
                os.replace(f, os.path.join(dst, prefix + os.path.basename(f)))
        return counts
    finally:
        for d in staging.values():
            shutil.rmtree(d, ignore_errors=True)
        raw.unpersist()


def resume_block(
    spark: SparkSession, out_dir: str, schema_name: str, specs: list[TableSpec], creation_block: int
) -> int:
    """Incremental resume (A14): max(block_number)+1 across the contract's
    tables, else the contract's creation block. The max comes from the
    data files' parquet footer statistics, so no Spark job runs; a table
    not written yet (no dir) or with no data files is skipped, and a
    file that is not parquet or whose row group has no block_number
    statistics raises."""
    start = creation_block
    for spec in specs:
        m = _footer_max_block(os.path.join(out_dir, schema_name, spec.table))
        if m is not None and m + 1 > start:
            start = m + 1
    return start


def _footer_max_block(path: str) -> int | None:
    """max(block_number) over the row-group statistics of the parquet
    footers under `path` (pyarrow's dataset discovery skips the same
    "_"/"." files Spark does); None when there is no row. A row group
    without block_number statistics raises KeyError."""
    if not os.path.isdir(path):
        return None
    return max(
        (
            rg.statistics["block_number"]["max"]
            for frag in ds.dataset(path, format="parquet").get_fragments()
            for rg in frag.row_groups
            if rg.num_rows
        ),
        default=None,
    )


def backfill_contract(
    spark: SparkSession,
    rpc: RpcClient,
    schema_name: str,
    contract_name: str,
    specs: list[TableSpec],
    addresses: list[str],
    out_dir: str,
    creation_block: int,
    to_block: int | None = None,
    step: int = 1000,
    partition_blocks: int = 1_000_000,
    proxy_filter_address: str | None = None,
) -> dict[str, int]:
    """End-to-end contract pipeline (the reference's eth-contract.py main
    loop, §3.2): resume -> partitioned fetch -> decode fan-out -> sink.

    The fetch starts at the block_range partition that holds the
    committed max (`resume_block` - 1), from its first block: the sink
    overwrites whole partitions, so a partition is always re-ingested in
    full (refetching a range is idempotent by design), and the publish
    is partition-major, so after a crash every partition below that one
    is complete in every table while that one may be partly published.
    A caught-up call therefore refetches its last partition. A head
    below the committed max (an earlier, lower `to_block`, or a node
    lagging behind an earlier call) returns {}: refetching that
    partition only up to head would overwrite it without the committed
    rows above head.
    """
    head = to_block if to_block is not None else rpc.block_number()
    resume = resume_block(spark, out_dir, schema_name, specs, creation_block)
    if head < resume - 1:
        return {}
    start = max(creation_block, ((resume - 1) // partition_blocks) * partition_blocks)
    raw = fetch_raw_logs(
        spark, rpc, addresses, start, head, step=step, proxy_filter_address=proxy_filter_address
    )
    return demux_and_write(raw, specs, out_dir, schema_name, partition_blocks=partition_blocks)
