"""Benchmark inputs.

- ``OLAP_DIR``: the ten testdata tables at scale factor 0.01 (TPC-H-ish star
  schema plus ``events``, ``documents`` and ``embeddings``), a byte copy of the
  project's shipped testdata, so the benchmark needs no data outside its
  checkout. The seed only permutes the query order.
- ``maker_logs``: raw contract logs for vat ``frob``/``grab``/``fold`` and jug
  ``file(bytes32,bytes32,uint256)`` from ``ingest.rpc.MockChain``, plus the
  values the chain encoded, which are the oracle for decode and the
  ``assets_per_type`` dashboard. The ABI entries are the hand-written files in
  ``abi/``, so nothing depends on the upstream reference tree.
"""

from __future__ import annotations

import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

from makerdao_dw_spark.abi.loader import load_abi
from makerdao_dw_spark.abi.schema import compile_contract
from makerdao_dw_spark.ingest.fixtures import JUG_ADDRESS, VAT_ADDRESS, maker_value_gen
from makerdao_dw_spark.ingest.rpc import ContractSim, MockChain

HERE = os.path.dirname(os.path.abspath(__file__))
ABI_DIR = os.path.join(HERE, "abi")
OLAP_DIR = os.path.join(HERE, "olap_data")

# --------------------------------------------------------------------------
# Maker contract logs
# --------------------------------------------------------------------------

RAW_LOG_ARROW = pa.schema(
    [
        ("address", pa.string()),
        ("topics", pa.list_(pa.string())),
        ("data", pa.string()),
        ("block_number", pa.int64()),
        ("block_hash", pa.string()),
        ("log_index", pa.int32()),
        ("transaction_index", pa.int32()),
        ("transaction_hash", pa.string()),
    ]
)


def maker_specs() -> list:
    """The 4-table spec set compiled from the hand-written ABI fixture."""
    vat = compile_contract("vat", load_abi(os.path.join(ABI_DIR, "vat.abi")))
    jug = compile_contract("jug", load_abi(os.path.join(ABI_DIR, "jug.abi")))
    return vat + jug


def maker_logs(seed: int, n_blocks: int, specs: list) -> tuple[list[dict], dict[str, list]]:
    """Raw logs of blocks [0, n_blocks) sorted by (block, address, index),
    plus per table the (block_number, param values) rows the chain encoded."""
    by_contract = {
        VAT_ADDRESS: [s for s in specs if s.table.startswith("vat_")],
        JUG_ADDRESS: [s for s in specs if s.table.startswith("jug_")],
    }
    encoded: list[tuple[str, list]] = []

    def recording_gen(spec, rng: random.Random) -> list:
        values = maker_value_gen(spec, rng)
        encoded.append((spec.table, values))
        return values

    rate = {VAT_ADDRESS: 1.6, JUG_ADDRESS: 0.12}
    chain = MockChain(
        head=n_blocks - 1,
        seed=seed,
        contracts=[
            ContractSim(address=a, specs=s, value_gen=recording_gen, logs_per_block=rate[a])
            for a, s in by_contract.items()
        ],
    )
    logs: list[dict] = []
    rows: dict[str, list] = {s.table: [] for s in specs}
    for address in by_contract:
        encoded.clear()
        got = chain.get_logs(0, n_blocks - 1, address)
        assert len(got) == len(encoded)
        for lg, (table, values) in zip(got, encoded):
            rows[table].append((lg["blockNumber"], values))
        logs.extend(got)
    logs.sort(key=lambda lg: (lg["blockNumber"], lg["address"], lg["logIndex"]))
    for r in rows.values():
        r.sort(key=lambda x: x[0])
    return logs, rows


def write_raw_logs(logs: list[dict], path: str) -> None:
    """Land raw logs as one bronze parquet file in RAW_LOG_SCHEMA."""
    cols = {
        "address": [lg["address"] for lg in logs],
        "topics": [list(lg["topics"]) for lg in logs],
        "data": [lg["data"] for lg in logs],
        "block_number": [lg["blockNumber"] for lg in logs],
        "block_hash": [lg["blockHash"] for lg in logs],
        "log_index": [lg["logIndex"] for lg in logs],
        "transaction_index": [lg["transactionIndex"] for lg in logs],
        "transaction_hash": [lg["transactionHash"] for lg in logs],
    }
    pq.write_table(pa.table(cols, schema=RAW_LOG_ARROW), path)


_DEC = pa.decimal128(38, 0)


def reference_tables(rows: dict[str, list], max_block: int | None = None) -> dict[str, pa.Table]:
    """Arrow tables holding the columns assets_per_type reads, built from the
    values the chain encoded (not from any decoder), for blocks < max_block."""
    from decimal import Decimal

    def keep(r) -> bool:
        return max_block is None or r[0] < max_block

    out = {}
    for table in ("vat_call_frob", "vat_call_grab"):
        rs = [r for r in rows[table] if keep(r)]
        out[table] = pa.table(
            {
                "block_number": pa.array([r[0] for r in rs], pa.int64()),
                "i": pa.array([r[1][0] for r in rs], pa.binary()),
                "dart": pa.array([Decimal(r[1][5]) for r in rs], _DEC),
            }
        )
    rs = [r for r in rows["vat_call_fold"] if keep(r)]
    out["vat_call_fold"] = pa.table(
        {
            "block_number": pa.array([r[0] for r in rs], pa.int64()),
            "i": pa.array([r[1][0] for r in rs], pa.binary()),
            "rate": pa.array([Decimal(r[1][2]) for r in rs], _DEC),
        }
    )
    rs = [r for r in rows["jug_call_file"] if keep(r)]
    out["jug_call_file"] = pa.table(
        {
            "block_number": pa.array([r[0] for r in rs], pa.int64()),
            "ilk": pa.array([r[1][0] for r in rs], pa.binary()),
            "data": pa.array([Decimal(r[1][2]) for r in rs], _DEC),
        }
    )
    return out
