"""Property-based tests (hypothesis) for the ABI codec: encode->decode
is the identity over the full 12-type universe, for arbitrary values and
arbitrary tuple shapes — far beyond the hand-picked fixtures."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from makerdao_dw_spark.decode.abi_codec import decode_abi, encode_abi

UINT256_MAX = (1 << 256) - 1
INT256_MIN = -(1 << 255)

# value strategy per ABI type + the normalizer decode applies
addr = st.binary(min_size=20, max_size=20).map(lambda b: b.hex())
strategies = {
    "address": addr,
    "bytes4": st.binary(min_size=4, max_size=4),
    "bytes32": st.binary(min_size=32, max_size=32),
    "uint256": st.integers(min_value=0, max_value=UINT256_MAX),
    "int256": st.integers(min_value=INT256_MIN, max_value=-INT256_MIN - 1),
    "uint16": st.integers(min_value=0, max_value=(1 << 16) - 1),
    "uint8": st.integers(min_value=0, max_value=255),
    "bool": st.booleans(),
    "bytes": st.binary(max_size=200),
    "string": st.text(max_size=100),
    "address[]": st.lists(addr, max_size=8),
    "uint256[]": st.lists(st.integers(min_value=0, max_value=UINT256_MAX), max_size=8),
}

TYPES = sorted(strategies)


@st.composite
def typed_tuples(draw):
    types = draw(st.lists(st.sampled_from(TYPES), min_size=1, max_size=8))
    values = [draw(strategies[t]) for t in types]
    return types, values


@given(typed_tuples())
@settings(max_examples=300, deadline=None)
def test_encode_decode_roundtrip(tv):
    types, values = tv
    out = decode_abi(types, encode_abi(types, values))
    assert out == values, (types, values, out)


@given(typed_tuples(), st.integers(min_value=1, max_value=31))
@settings(max_examples=100, deadline=None)
def test_truncated_payload_raises(tv, cut):
    """Any truncation below the head size must raise ValueError (the
    signal the progressive-offset calldata scanner relies on), never
    return garbage silently."""
    types, values = tv
    blob = encode_abi(types, values)
    head = 32 * len(types)
    try:
        decode_abi(types, blob[: head - cut])
    except ValueError:
        pass  # expected: malformed payloads must raise
    else:
        raise AssertionError("truncated head decoded without error")


@given(st.integers(min_value=0, max_value=UINT256_MAX))
@settings(max_examples=200, deadline=None)
def test_uint256_full_range(v):
    assert decode_abi(["uint256"], encode_abi(["uint256"], [v])) == [v]


@given(st.integers(min_value=INT256_MIN, max_value=-INT256_MIN - 1))
@settings(max_examples=200, deadline=None)
def test_int256_twos_complement(v):
    assert decode_abi(["int256"], encode_abi(["int256"], [v])) == [v]
