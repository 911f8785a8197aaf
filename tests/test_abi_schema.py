"""ABI compiler parity tests.

Compiler behaviour (repr-format loading, overload suffixes in ABI order
— first bare, then name0, name1, ... — dispatch keys, column naming and
types) is checked on the hand-written ABIs of the fixture tree
`tests/fixtures/makerdao/conf/`. The exact inventory of the upstream
makerdao-dw tree (SURVEY.md §1.2/§2.A5: 29 ABI files across 5 schemas
compile to 305 call tables + 107 evt tables) is checked only where that
checkout is present, and skipped with the reason otherwise.
"""

from __future__ import annotations

import glob
import json
import os

import pytest

from makerdao_dw_spark.abi.loader import load_abi
from makerdao_dw_spark.abi.schema import compile_contract

REF_CONF = "/root/reference/conf"
FIXTURE_CONF = os.path.join(os.path.dirname(__file__), "fixtures", "makerdao", "conf")

ABI_FILES = sorted(glob.glob(os.path.join(REF_CONF, "*", "*.abi")))

needs_reference_tree = pytest.mark.skipif(
    not os.path.isdir(REF_CONF),
    reason="exact inventory of the upstream makerdao-dw ABI tree "
    "(29 ABIs, 305 call + 107 evt tables); that checkout is not present",
)


@needs_reference_tree
def test_found_all_29_abis():
    assert len(ABI_FILES) == 29


def test_repr_format_abis_load():
    for name in ("makermcd/vat.abi", "ethereum/transactions.abi"):
        path = os.path.join(FIXTURE_CONF, name)
        with open(path) as fh:
            with pytest.raises(json.JSONDecodeError):
                json.load(fh)  # the fixture really is the repr cache format
        abi = load_abi(path)
        assert isinstance(abi, list) and all(isinstance(e, dict) for e in abi)


@needs_reference_tree
def test_total_table_inventory():
    calls = evts = 0
    for path in ABI_FILES:
        contract = os.path.splitext(os.path.basename(path))[0]
        specs = compile_contract(contract, load_abi(path))
        calls += sum(1 for s in specs if s.kind == "call")
        evts += sum(1 for s in specs if s.kind == "evt")
    assert (calls, evts) == (305, 107)


def test_jug_file_overload_suffixes():
    specs = compile_contract("jug", load_abi(os.path.join(FIXTURE_CONF, "makermcd", "jug.abi")))
    file_tables = [s.table for s in specs if s.table.startswith("jug_call_file")]
    assert file_tables == ["jug_call_file", "jug_call_file0", "jug_call_file1"]


def test_dispatch_keys_shape():
    specs = compile_contract("dai", load_abi(os.path.join(FIXTURE_CONF, "makermcd", "dai.abi")))
    transfer_evt = next(s for s in specs if s.table == "dai_evt_transfer")
    # universally-known ERC-20 Transfer topic0
    assert transfer_evt.signature == "0xddf252ad1be2c89b69c2b068fc378daa952ba7f163c4a11628f55a4df523b3ef"
    transfer_call = next(s for s in specs if s.table == "dai_call_transfer")
    assert transfer_call.signature == "0xa9059cbb" + "0" * 56
    # every spec routes by a distinct 32-byte key
    sigs = [s.signature for s in specs]
    assert len(set(sigs)) == len(sigs)
    for sig in sigs:
        assert sig.startswith("0x") and len(sig) == 66


def test_common_columns_and_param_naming():
    specs = compile_contract("vat", load_abi(os.path.join(FIXTURE_CONF, "makermcd", "vat.abi")))
    frob = next(s for s in specs if s.table == "vat_call_frob")
    names = [f.name for f in frob.schema.fields]
    assert names[:6] == [
        "block_number", "block_hash", "address", "log_index", "transaction_index", "transaction_hash",
    ]
    assert names[6:] == ["i", "u", "v", "w", "dink", "dart"]
    assert [str(f.dataType) for f in frob.schema.fields[6:]] == [
        "BinaryType()", "StringType()", "StringType()", "StringType()",
        "DecimalType(38,0)", "DecimalType(38,0)",
    ]


def test_unnamed_params_get_v_columns():
    abi = [
        {
            "type": "function",
            "stateMutability": "nonpayable",
            "name": "poke",
            "inputs": [{"name": "", "type": "uint256"}, {"name": "", "type": "address"}, {"name": "x", "type": "bool"}],
        }
    ]
    (spec,) = compile_contract("c", abi)
    assert spec.param_names == ["v0", "v1", "x"]


def test_view_functions_and_anonymous_events_excluded():
    abi = [
        {"type": "function", "stateMutability": "view", "name": "gem", "inputs": []},
        {"type": "event", "anonymous": True, "name": "LogNote", "inputs": []},
        {"type": "function", "stateMutability": "nonpayable", "name": "kick", "inputs": []},
    ]
    specs = compile_contract("c", abi)
    assert [s.table for s in specs] == ["c_call_kick"]


def test_overload_suffixes_are_scoped_per_contract():
    """The reference's module-global suffix dicts leak across contracts
    (its functions.py:82-84: a second contract's `file` became
    `two_call_file0`); each compile here starts its own registry."""
    abi = [
        {"type": "function", "stateMutability": "nonpayable", "name": "file", "inputs": []},
    ]
    (a,) = compile_contract("one", abi)
    (b,) = compile_contract("two", abi)
    assert a.table == "one_call_file" and b.table == "two_call_file"


def test_unsupported_type_is_hard_error():
    abi = [
        {"type": "function", "stateMutability": "nonpayable", "name": "f",
         "inputs": [{"name": "x", "type": "uint128"}]},
    ]
    with pytest.raises(Exception, match="unsupported ABI input type"):
        compile_contract("c", abi)


def test_indexed_dynamic_params_are_binary_columns():
    """An INDEXED dynamic event param (string/bytes/array) is stored on
    chain as its keccak digest; the decoder yields raw bytes32, so the
    compiled column must be BinaryType — the value-type mapping would
    crash the Arrow conversion on decode."""
    from pyspark.sql.types import ArrayType, BinaryType, StringType

    from makerdao_dw_spark.abi.schema import compile_contract

    abi = [
        {
            "type": "event",
            "name": "Labeled",
            "anonymous": False,
            "inputs": [
                {"name": "tag", "type": "string", "indexed": True},
                {"name": "owners", "type": "address[]", "indexed": True},
                {"name": "note", "type": "string", "indexed": False},
            ],
        }
    ]
    (spec,) = compile_contract("demo", abi)
    types = {f.name: f.dataType for f in spec.schema.fields}
    assert isinstance(types["tag"], BinaryType)
    assert isinstance(types["owners"], BinaryType)
    # non-indexed dynamic params keep their value type
    assert isinstance(types["note"], StringType) or isinstance(types["note"], ArrayType)
