"""The md5 hash anchor: both engines' SQL text reads the same integer that
Python computes from the md5 hex digest by hand. The expected values do
not come from either helper, so a bug the two spellings share shows."""

from __future__ import annotations

import hashlib

import duckdb

from makerdao_dw_spark.functions import md5_int_duck, md5_int_spark

KEYS = ["", "ab:7", "strat:123456", "neg:42:3", "ffff"]


def test_md5_anchor_matches_hashlib_on_both_engines(spark):
    want = [int(hashlib.md5(k.encode()).hexdigest()[:8], 16) for k in KEYS]
    # the top bit of the first nibble is set for at least one key, so a
    # signed 32-bit reading would show as a negative value
    assert max(want) >= 1 << 31
    rows = spark.createDataFrame([(i, k) for i, k in enumerate(KEYS)], "i int, k string")
    got_spark = [r[0] for r in rows.orderBy("i").selectExpr(md5_int_spark("k")).collect()]
    con = duckdb.connect()
    got_duck = [
        con.execute(f"SELECT {md5_int_duck('?')}", [k]).fetchone()[0] for k in KEYS
    ]
    assert got_spark == want
    assert got_duck == want
