"""ABI -> (table name, dispatch signature, Spark StructType) compiler.

Reproduces the reference's compile semantics (/root/reference/
functions.py:86-115 table naming + dispatch keys; classes.py:52-87
column naming + type mapping) with a Spark-native type system
(SURVEY.md §1.3):

- tables: one per non-view function (`<contract>_call_<fn>`) and per
  non-anonymous event (`<contract>_evt_<event>`); overloaded names get
  numeric suffixes in ABI order (first bare, then `name0`, `name1`, ...)
- dispatch keys: functions = '0x' + 4-byte keccak selector + 56 zeros
  (padded to topic width, matching how the reference compares against
  topics[0]); events = '0x' + full 32-byte keccak topic
- columns: 6 common columns, then one per input; unnamed inputs become
  v0, v1, ...; names lowercased
- types: address->string (lowercase hex, no 0x), bytes*->binary,
  int256/uint256->decimal(38,0) (overflow->null at decode; uint256 max
  exceeds decimal(38) — see SURVEY §1.3 precision policy),
  uint8/16->int, bool->boolean, string->string, arrays->arrays

Divergence from the reference (deliberate): the overload-suffix
registry is scoped per contract; the reference shares one process-global
dict across contracts (its functions.py:82-84), which leaks
suffixes when one process compiles two contracts.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    BooleanType,
    DataType,
    DecimalType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .keccak import event_topic, selector

SPARK_TYPE_MAPPING: dict[str, DataType] = {
    "address": StringType(),
    "bytes": BinaryType(),
    "bytes4": BinaryType(),
    "bytes32": BinaryType(),
    "int256": DecimalType(38, 0),
    "uint256": DecimalType(38, 0),
    "uint16": IntegerType(),
    "uint8": IntegerType(),
    "bool": BooleanType(),
    "string": StringType(),
    "address[]": ArrayType(StringType()),
    "uint256[]": ArrayType(DecimalType(38, 0)),
}

COMMON_FIELDS = [
    StructField("block_number", LongType()),
    StructField("block_hash", StringType()),
    StructField("address", StringType()),
    StructField("log_index", IntegerType()),
    StructField("transaction_index", IntegerType()),
    StructField("transaction_hash", StringType()),
]

# Dispatch-key width: the reference pads function selectors to topic width
# so one dict serves both event topics and function methodids.
_SELECTOR_PAD = "0" * 56


class UnsupportedAbiType(ValueError):
    pass


@dataclass(frozen=True)
class TableSpec:
    table: str            # e.g. vat_call_frob
    kind: str             # "call" | "evt"
    signature: str        # dispatch key: '0x' + 64 hex chars
    abi_entry: dict
    param_names: list[str]
    param_types: list[str]
    indexed: list[bool]   # events only (all False for calls)

    @property
    def schema(self) -> StructType:
        fields = list(COMMON_FIELDS)
        for name, typ, ix in zip(self.param_names, self.param_types, self.indexed):
            # an INDEXED dynamic param (string/bytes/array) is stored on
            # chain as its keccak digest, and the decoder yields that raw
            # bytes32 — so its column must be BinaryType, not the value
            # type (which would crash the Arrow conversion)
            if ix and (typ in ("bytes", "string") or typ.endswith("]")):
                fields.append(StructField(name, BinaryType()))
            else:
                fields.append(StructField(name, SPARK_TYPE_MAPPING[typ]))
        return StructType(fields)


def abi_signature(entry: dict) -> str:
    return "{}({})".format(entry["name"], ",".join(i["type"] for i in entry["inputs"]))


def _column_names(entry: dict) -> list[str]:
    names = []
    unnamed = 0
    for i in entry["inputs"]:
        n = (i.get("name") or "").lower()
        if n == "":
            n = f"v{unnamed}"
            unnamed += 1
        names.append(n)
    return names


def _is_call(entry: dict) -> bool:
    return entry.get("type") == "function" and entry.get("stateMutability") != "view"


def _is_evt(entry: dict) -> bool:
    return entry.get("type") == "event" and entry.get("anonymous") is not True


def compile_contract(contract_name: str, abi: list[dict]) -> list[TableSpec]:
    """Compile one contract's ABI into TableSpecs, in ABI order."""
    fn_seen: dict[str, int] = {}
    evt_seen: dict[str, int] = {}
    specs: list[TableSpec] = []
    for entry in abi:
        if _is_call(entry):
            seen, kind = fn_seen, "call"
            sig = "0x" + selector(abi_signature(entry)) + _SELECTOR_PAD
        elif _is_evt(entry):
            seen, kind = evt_seen, "evt"
            sig = "0x" + event_topic(abi_signature(entry))
        else:
            continue

        base = entry["name"].lower()
        if base in seen:
            table = f"{contract_name}_{kind}_{base}{seen[base]}"
            seen[base] += 1
        else:
            table = f"{contract_name}_{kind}_{base}"
            seen[base] = 0

        types = [i["type"] for i in entry["inputs"]]
        for t in types:
            if t not in SPARK_TYPE_MAPPING:
                raise UnsupportedAbiType(f"{table}: unsupported ABI input type {t!r}")
        specs.append(
            TableSpec(
                table=table,
                kind=kind,
                signature=sig,
                abi_entry=entry,
                param_names=_column_names(entry),
                param_types=types,
                indexed=[bool(i.get("indexed")) for i in entry["inputs"]],
            )
        )
    return specs
