"""Minimal Ethereum ABI codec for the reference's 12-type universe
(SURVEY.md §1.3): address, bytes, bytes4, bytes32, int256, uint256,
uint16, uint8, bool, string, address[], uint256[].

Standard head/tail encoding (public ABI spec): static types inline as one
32-byte word; dynamic types (bytes, string, T[]) put a byte offset in the
head and length-prefixed payload in the tail.

Replaces the reference's eth_abi/web3 dependency for both decode (the
ingestion pipeline) and encode (test fixtures round-trip through this).
"""

from __future__ import annotations

_WORD = 32

DYNAMIC_TYPES = {"bytes", "string", "address[]", "uint256[]"}


def is_dynamic(typ: str) -> bool:
    return typ in DYNAMIC_TYPES


# ----------------------------------------------------------------------
# encode
# ----------------------------------------------------------------------
def _enc_uint(v: int) -> bytes:
    if v < 0:
        v += 1 << 256  # two's complement for int256
    return v.to_bytes(_WORD, "big")


def _enc_static(typ: str, v) -> bytes:
    if typ == "address":
        h = v[2:] if isinstance(v, str) and v.startswith("0x") else v
        return bytes.fromhex(h.rjust(40, "0")).rjust(_WORD, b"\x00")
    if typ in ("bytes4", "bytes32"):
        b = bytes(v)
        return b.ljust(_WORD, b"\x00")  # fixed bytes are right-padded
    if typ in ("uint256", "uint16", "uint8", "int256"):
        return _enc_uint(int(v))
    if typ == "bool":
        return _enc_uint(1 if v else 0)
    raise ValueError(f"not a static type: {typ}")


def _enc_dynamic(typ: str, v) -> bytes:
    if typ in ("bytes", "string"):
        b = v.encode() if isinstance(v, str) else bytes(v)
        padded = b.ljust(-(-len(b) // _WORD) * _WORD or _WORD, b"\x00") if b else b""
        return _enc_uint(len(b)) + padded
    if typ == "address[]":
        return _enc_uint(len(v)) + b"".join(_enc_static("address", x) for x in v)
    if typ == "uint256[]":
        return _enc_uint(len(v)) + b"".join(_enc_uint(int(x)) for x in v)
    raise ValueError(f"not a dynamic type: {typ}")


def encode_abi(types: list[str], values: list) -> bytes:
    head_size = _WORD * len(types)
    heads: list[bytes] = []
    tails: list[bytes] = []
    tail_off = head_size
    for typ, v in zip(types, values):
        if is_dynamic(typ):
            heads.append(_enc_uint(tail_off))
            t = _enc_dynamic(typ, v)
            tails.append(t)
            tail_off += len(t)
        else:
            heads.append(_enc_static(typ, v))
    return b"".join(heads) + b"".join(tails)


# ----------------------------------------------------------------------
# decode
# ----------------------------------------------------------------------
def _dec_uint(w: bytes) -> int:
    return int.from_bytes(w, "big")


def _dec_static(typ: str, w: bytes):
    if typ == "address":
        return w[-20:].hex()  # canonical: 40 lowercase hex chars, no 0x
    if typ == "bytes4":
        return w[:4]
    if typ == "bytes32":
        return w
    if typ == "uint256":
        return _dec_uint(w)
    if typ in ("uint16", "uint8"):
        return _dec_uint(w)
    if typ == "int256":
        v = _dec_uint(w)
        return v - (1 << 256) if v >= (1 << 255) else v
    if typ == "bool":
        return _dec_uint(w) != 0
    raise ValueError(f"not a static type: {typ}")


def decode_abi(types: list[str], data: bytes) -> list:
    """Decode concatenated ABI-encoded arguments. Raises ValueError on
    malformed/truncated payloads (the signal the progressive-offset
    calldata scan relies on)."""
    n = len(types)
    if len(data) < _WORD * n:
        raise ValueError("ABI payload shorter than head")
    out = []
    for i, typ in enumerate(types):
        w = data[_WORD * i : _WORD * (i + 1)]
        if not is_dynamic(typ):
            out.append(_dec_static(typ, w))
            continue
        off = _dec_uint(w)
        if off + _WORD > len(data):
            raise ValueError("dynamic offset out of range")
        ln = _dec_uint(data[off : off + _WORD])
        body = data[off + _WORD :]
        if typ in ("bytes", "string"):
            if ln > len(body):
                raise ValueError("dynamic payload truncated")
            raw = body[:ln]
            out.append(raw.decode("utf-8", errors="replace") if typ == "string" else raw)
        else:
            elem = "address" if typ == "address[]" else "uint256"
            if ln * _WORD > len(body):
                raise ValueError("array payload truncated")
            out.append([_dec_static(elem, body[_WORD * k : _WORD * (k + 1)]) for k in range(ln)])
    return out


def decode_single(typ: str, word: bytes):
    """Decode one 32-byte word (event topics: static types only; dynamic
    indexed params are keccak digests and stay raw bytes32)."""
    if is_dynamic(typ):
        return word  # hash of the value, not the value
    return _dec_static(typ, word)
