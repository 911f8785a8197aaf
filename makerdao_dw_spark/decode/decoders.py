"""Event-log and function-calldata decoders + the Spark decode stage.

Row semantics mirror the reference pipeline (/root/reference/
eth-contract.py:92-123, functions.py:119-149) with one deliberate fix:
logs whose topics[0] is not in the dispatch index are DROPPED — the
reference's `except KeyError: pass` left the previous iteration's table
bound and mis-filed unknown logs into it (SURVEY.md §0 known bugs).

Spark shape: the decoders are plain-python (per ~100-byte payload, cheap)
wrapped in ONE Arrow-batched mapInPandas stage per target table, applied
after a JVM-side topic0 filter — so Catalyst prunes/filters before any
Python boundary is crossed, and the Python work is exactly the rows that
belong to the table.
"""

from __future__ import annotations

from collections.abc import Iterator
from decimal import Decimal

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..abi.schema import TableSpec
from .abi_codec import decode_abi, decode_single

DECIMAL38_MAX = 10**38 - 1


def _hexbytes(h: str) -> bytes:
    return bytes.fromhex(h[2:] if h.startswith("0x") else h)


def decode_event(spec: TableSpec, topics: list[str], data_hex: str) -> list:
    """Ordered param values for an event log: indexed params come from
    topics[1..], the rest decode sequentially from data."""
    topic_iter = iter(topics[1:])
    data_types = [t for t, ix in zip(spec.param_types, spec.indexed) if not ix]
    data_vals = iter(decode_abi(data_types, _hexbytes(data_hex)))
    out = []
    for typ, ix in zip(spec.param_types, spec.indexed):
        if ix:
            out.append(decode_single(typ, _hexbytes(next(topic_iter))))
        else:
            out.append(next(data_vals))
    return out


def decode_calldata(spec: TableSpec, data_hex: str) -> list | None:
    """Progressive-offset calldata decode (reference functions.py:119-149):

    some providers prepend padding/topics to the payload, so retry the
    selector+args parse advancing 4 bytes (8 hex chars) at a time until it
    decodes or the buffer is exhausted (-> None = undecodable).
    Empty calldata ('0x') decodes to all-null params.
    """
    h = data_hex[2:] if data_hex.startswith("0x") else data_hex
    if h == "":
        return [None] * len(spec.param_types)
    sel = spec.signature[2:10]
    x = 0
    while x < len(h):
        if h[x : x + 8] == sel:
            try:
                return decode_abi(spec.param_types, bytes.fromhex(h[x + 8 :]))
            except ValueError:
                pass
        x += 8
    return None


def extract_methodid(data_hex: str) -> str | None:
    """First 4 bytes of calldata padded to dispatch-key width (the
    reference's proxy re-dispatch key, eth-contract.py:107-111)."""
    h = data_hex[2:] if data_hex.startswith("0x") else data_hex
    if len(h) < 8:
        return None
    return "0x" + h[:8] + "0" * 56


def redispatch_proxy_calls(raw_logs: DataFrame, proxy_spec: TableSpec) -> DataFrame:
    """Proxy re-dispatch stage (reference eth-contract.py:107-111): a
    DSProxy-style `execute(address target, bytes data)` call carries the
    REAL call inside its `bytes` arg. This stage decodes the wrapper and
    re-emits rows in raw-log shape with the embedded calldata as `data`
    and its padded selector as topics[0] — so the output feeds straight
    back into `decode_logs_for_table(out, target_spec)` for every target
    table, reusing the whole dispatch/decode machinery one level down.

    Wrappers whose payload does not decode, or whose embedded data has no
    selector, are dropped (not mis-filed — same policy as unknown topics).
    """
    matched = raw_logs.filter(F.element_at("topics", 1) == F.lit(proxy_spec.signature))
    bytes_positions = [i for i, t in enumerate(proxy_spec.param_types) if t == "bytes"]
    if not bytes_positions:
        raise ValueError(f"{proxy_spec.table} has no bytes param to re-dispatch")
    embed_at = bytes_positions[-1]
    out_schema = raw_logs.schema
    out_cols = list(out_schema.fieldNames())

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = out_cols
        for pdf in it:
            rows = []
            for r in pdf.itertuples(index=False):
                vals = decode_calldata(proxy_spec, r.data)
                if vals is None or vals[embed_at] is None:
                    continue
                inner = bytes(vals[embed_at]).hex()
                mid = extract_methodid("0x" + inner)
                if mid is None:
                    continue
                rows.append(
                    {
                        "address": r.address,
                        "topics": [mid],
                        "data": "0x" + inner,
                        "block_number": r.block_number,
                        "block_hash": r.block_hash,
                        "log_index": r.log_index,
                        "transaction_index": r.transaction_index,
                        "transaction_hash": r.transaction_hash,
                    }
                )
            yield pd.DataFrame(rows, columns=cols)

    return matched.mapInPandas(batches, out_schema)


def _to_spark_value(typ: str, v):
    """Codec value -> Spark row value per SURVEY §1.3.

    uint256/int256 beyond decimal(38,0) -> None (overflow-to-null
    policy; callers needing the exact value keep the raw log row).
    """
    if v is None:
        return None
    if typ in ("uint256", "int256"):
        return Decimal(v) if -DECIMAL38_MAX <= v <= DECIMAL38_MAX else None
    if typ == "uint256[]":
        return [Decimal(x) if -DECIMAL38_MAX <= x <= DECIMAL38_MAX else None for x in v]
    if typ in ("uint16", "uint8"):
        return int(v)
    return v


def _strip0x(h: str) -> str:
    return h[2:] if h.startswith("0x") else h


def decode_logs_for_table(raw_logs: DataFrame, spec: TableSpec) -> DataFrame:
    """JVM-side topic0 filter -> Arrow-batched python decode -> typed DF.

    raw_logs schema (FIXTURES.md B9): address string, topics array<string>,
    data string, block_number bigint, block_hash string, log_index int,
    transaction_index int, transaction_hash string.
    """
    # events match on topic0; calls arrive as logs whose topic0 is the
    # padded selector
    matched = raw_logs.filter(F.element_at("topics", 1) == F.lit(spec.signature))

    common = ["block_number", "block_hash", "address", "log_index", "transaction_index", "transaction_hash"]

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in spec.schema.fields]
        for pdf in it:
            rows = []
            for r in pdf.itertuples(index=False):
                try:
                    if spec.kind == "evt":
                        vals = decode_event(spec, list(r.topics), r.data)
                    else:
                        vals = decode_calldata(spec, r.data)
                        if vals is None:
                            continue  # undecodable calldata: skip row
                except (ValueError, StopIteration):
                    continue
                rec = {
                    "block_number": r.block_number,
                    "block_hash": _strip0x(r.block_hash),
                    "address": _strip0x(r.address).lower(),
                    "log_index": r.log_index,
                    "transaction_index": r.transaction_index,
                    "transaction_hash": _strip0x(r.transaction_hash),
                }
                for name, typ, v in zip(spec.param_names, spec.param_types, vals):
                    rec[name] = _to_spark_value(typ, v)
                rows.append(rec)
            yield pd.DataFrame(rows, columns=cols)

    return matched.select(*common, "topics", "data").mapInPandas(batches, spec.schema)
