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
  Arrow-batched decode stage per target table, from a cached raw-log DF.
- sink (A12/A13): parquet tables partitioned by block range
  (block_number div `partition_blocks`), written with
  dynamic-partition-overwrite so re-ingesting a range is idempotent
  (replaces A14's max-probe resume with safe re-runs; A19's
  per-range transaction becomes an atomic partition overwrite).
- resume (A14): `resume_block` probes max(block_number)+1 across the
  contract's tables, falling back to the creation block.

At 100 TB: raw logs land first as an append-only bronze table
partitioned by block range; per-table decode reads only the new
partitions. Window fetch is network-bound, decode is CPU-bound — both
scale linearly with executors; the only shuffle in the whole pipeline
is the optional proxy-dedup (dropDuplicates on transaction_hash).
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import pandas as pd
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
    table_parallelism: int = 8,
) -> dict[str, int]:
    """Topic dispatch (A7) + decode (A8/A9) + partitioned parquet sink
    (A12/A13). Unknown topics are dropped (fixes the reference's
    stale-dispatch bug). Returns rows written per table.

    Per-table decode+write jobs are submitted CONCURRENTLY from a thread
    pool: each table's job is independent (distinct topic filter,
    distinct output path), and a contract warehouse has hundreds of
    mostly-small tables (the reference compiles 412), so a sequential
    loop serializes hundreds of fixed per-job overheads while the
    cluster idles. The cached raw frame is materialized ONCE up front so
    concurrent jobs read the cache instead of racing to populate it."""
    raw = raw_logs.persist()
    try:
        raw.count()  # materialize the cache before fan-out

        def one_table(spec: TableSpec) -> tuple[str, int]:
            decoded = decode_logs_for_table(raw, spec).withColumn(
                "block_range", F.expr(f"block_number div {partition_blocks}")
            )
            path = os.path.join(out_dir, schema_name, spec.table)
            decoded.persist()
            try:
                n = decoded.count()
                # empty tables stay absent on disk (a parquet dir with no
                # data files cannot be read back schemalessly); the
                # reference instead pre-creates empty tables via DDL
                if n > 0:
                    decoded.write.mode("overwrite").option(
                        "partitionOverwriteMode", "dynamic"
                    ).partitionBy("block_range").parquet(path)
                return spec.table, n
            finally:
                decoded.unpersist()

        from concurrent.futures import ThreadPoolExecutor

        workers = max(1, min(table_parallelism, len(specs)))
        with ThreadPoolExecutor(max_workers=workers) as pool:
            counts = dict(pool.map(one_table, specs))
        return counts
    finally:
        raw.unpersist()


def resume_block(
    spark: SparkSession, out_dir: str, schema_name: str, specs: list[TableSpec], creation_block: int
) -> int:
    """Incremental resume (A14): max(block_number)+1 across the contract's
    tables, else the contract's creation block."""
    start = creation_block
    for spec in specs:
        path = os.path.join(out_dir, schema_name, spec.table)
        try:
            m = spark.read.parquet(path).agg(F.max("block_number")).collect()[0][0]
        except Exception:
            continue
        if m is not None and m + 1 > start:
            start = m + 1
    return start


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

    The resume point snaps DOWN to a block_range partition boundary: the
    sink overwrites whole partitions, so a partition must always be
    re-ingested in full (refetching a range is idempotent by design).
    """
    head = to_block if to_block is not None else rpc.block_number()
    start = resume_block(spark, out_dir, schema_name, specs, creation_block)
    if start > head:
        return {}
    start = max(creation_block, (start // partition_blocks) * partition_blocks)
    raw = fetch_raw_logs(
        spark, rpc, addresses, start, head, step=step, proxy_filter_address=proxy_filter_address
    )
    return demux_and_write(raw, specs, out_dir, schema_name, partition_blocks=partition_blocks)
