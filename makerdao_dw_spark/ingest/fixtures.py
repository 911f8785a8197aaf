"""Maker-protocol fixture chain (FIXTURES.md §B): a MockChain emitting
vat frob/grab/fold calls and jug file calls with realistic value
distributions, used to golden-test the assets_per_type plan and the
decode pipeline end-to-end.

Distributions follow FIXTURES.md: ~15 ilks overlapping across tables and
covering every CASE arm of the analytics query; dart/dink at wei scale
(±1e15..1e24, ~10% exact zeros); fold rate ±1e21..1e24 (~5% zeros); jug
duty near 1e27 ray.
"""

from __future__ import annotations

import os
import random

from ..abi.loader import load_abi
from ..abi.schema import TableSpec, compile_contract
from .rpc import ContractSim, MockChain

# Hand-written vat frob/grab/fold and jug 3-arg file entries: the four
# tables the chain emits, so the fixture needs no upstream ABI tree.
ABI_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "maker_abi")

ILKS = [
    "PSM-USDC-A", "USDC-A", "USDT-A", "ETH-A", "ETH-B", "WBTC-A",
    "UNIV2DAIETH-A", "RWA001-A", "GUSD-A", "LINK-A", "YFI-A", "MATIC-A",
]

VAT_ADDRESS = "0x" + "35d1b3f3d7966a1dfe207aa4514c12a259a0492b"[0:40]
JUG_ADDRESS = "0x" + "19c0976f590d67707e62397c87829d896dc0f1f1"[0:40]


def _ilk32(name: str) -> bytes:
    return name.encode().ljust(32, b"\x00")


def _addr(rng: random.Random) -> str:
    return "".join(rng.choices("0123456789abcdef", k=40))


def _signed_wei(rng: random.Random, lo_exp: int, hi_exp: int, zero_p: float, neg_p: float) -> int:
    if rng.random() < zero_p:
        return 0
    mag = rng.randrange(10**lo_exp, 10**hi_exp)
    return -mag if rng.random() < neg_p else mag


def maker_value_gen(spec: TableSpec, rng: random.Random) -> list:
    ilk = _ilk32(rng.choice(ILKS))
    t = spec.table
    if t in ("vat_call_frob", "vat_call_grab"):
        neg_p = 0.9 if t == "vat_call_grab" else 0.3
        return [
            ilk, _addr(rng), _addr(rng), _addr(rng),
            _signed_wei(rng, 15, 24, 0.05, 0.3),           # dink
            _signed_wei(rng, 15, 24, 0.10, neg_p),         # dart
        ]
    if t == "vat_call_fold":
        return [ilk, _addr(rng), _signed_wei(rng, 19, 22, 0.05, 0.5)]  # rate
    if t == "jug_call_file":
        # duty: per-second ray rate slightly above 1e27
        duty = 10**27 + rng.randrange(1, 60) * 10**18
        return [ilk, b"duty".ljust(32, b"\x00"), duty]
    raise ValueError(f"no generator for {t}")


def maker_specs() -> tuple[list[TableSpec], list[TableSpec]]:
    vat = compile_contract("vat", load_abi(os.path.join(ABI_DIR, "vat.abi")))
    jug = compile_contract("jug", load_abi(os.path.join(ABI_DIR, "jug.abi")))
    vat_used = [s for s in vat if s.table in ("vat_call_frob", "vat_call_grab", "vat_call_fold")]
    jug_used = [s for s in jug if s.table == "jug_call_file"]  # 3-arg overload = bare name
    assert {s.table for s in vat_used} == {"vat_call_frob", "vat_call_grab", "vat_call_fold"}
    assert jug_used[0].param_types == ["bytes32", "bytes32", "uint256"]
    return vat_used, jug_used


def maker_chain(head: int = 2000) -> MockChain:
    vat_used, jug_used = maker_specs()
    return MockChain(
        head=head,
        seed=42,
        contracts=[
            ContractSim(address=VAT_ADDRESS, specs=vat_used, value_gen=maker_value_gen, logs_per_block=1.6),
            ContractSim(address=JUG_ADDRESS, specs=jug_used, value_gen=maker_value_gen, logs_per_block=0.12),
        ],
    )
