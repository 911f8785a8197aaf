"""The cross-engine md5 hash anchor.

A query that needs a deterministic per-row draw (a split, an A/B arm, a
sample, a hash bucket) reads it from the first 8 hex digits of an md5
digest as an integer in [0, 2^32). md5 is bit-identical in Spark and
DuckDB, so a query and its DuckDB oracle draw the same rows, and the
draw is a pure function of the data: stable under repartitioning and
task retries. The engines spell the hex-to-integer step differently;
these two functions are the only place either spelling is written.
"""

from __future__ import annotations


def md5_int_spark(x: str) -> str:
    """Spark SQL text: the first 8 hex digits of md5(`x`) as a bigint."""
    return f"cast(conv(substring(md5({x}), 1, 8), 16, 10) as bigint)"


def md5_int_duck(x: str) -> str:
    """DuckDB SQL text of `md5_int_spark`."""
    return f"CAST('0x' || substr(md5({x}), 1, 8) AS BIGINT)"
