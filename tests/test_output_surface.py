"""Output-surface contract: the external driver hash-compares stringified
cells, so every registered query's FINAL schema must contain only
canon-stable scalar types on BOTH sides.

Forbidden on the Spark side: DecimalType (trailing-zero rendering differs
between engines), Array/Map/Struct (the driver's pandas canonicalizer
crashes on them), TimestampNTZType (drifts vs the oracle's naive
timestamps). Forbidden on the DuckDB side: DECIMAL, HUGEINT (renders as
float through pandas -> "64.0" vs Spark's "64"), and any nested type.

This test is the guard the round-2 failures earned: all 8 driver-only
hash failures were exactly these types leaking into final SELECTs.
"""

from __future__ import annotations

import importlib.util
import os

import duckdb
import pytest
from pyspark.sql import types as T

from makerdao_dw_spark.queries import oracles_dict, queries_dict

from .conftest import SF_DIR, duck_con

# DateType is forbidden too: a pandas-based canonicalizer renders DuckDB
# DATE as datetime64 ("... 00:00:00") but Spark's as datetime.date —
# registry.DATE_STRING_CAST serializes dates to ISO strings on both
# sides. TIMESTAMP stays allowed (r2 driver evidence: hash-passes).
_FORBIDDEN_SPARK = (
    T.DecimalType,
    T.ArrayType,
    T.MapType,
    T.StructType,
    T.TimestampNTZType,
    T.DateType,
)
_FORBIDDEN_DUCK = ("DECIMAL", "HUGEINT", "[]", "MAP(", "STRUCT(", "DATE")

QUERIES = queries_dict()
ORACLES = oracles_dict()


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_spark_output_schema_is_canon_stable(spark, name):
    # Mostly lazy (schema only) — a few queries run real work at
    # build time by design: iterative CC/BFS loops, eager lineage-cut
    # checkpoints, and observe()-metric collection cannot be lazy.
    df = QUERIES[name](spark, SF_DIR)
    bad = [
        (f.name, f.dataType.simpleString())
        for f in df.schema.fields
        if isinstance(f.dataType, _FORBIDDEN_SPARK)
    ]
    assert not bad, (
        f"{name}: driver-fragile output columns {bad} — cast decimals to "
        "double (registry.DOUBLE_CAST), serialize arrays/maps with "
        "array_join/to_json, cast NTZ to timestamp"
    )


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_oracle_result_types_are_canon_stable(name):
    con = duck_con(SF_DIR)
    rel = con.sql(ORACLES[name])
    bad = [
        (c, str(t))
        for c, t in zip(rel.columns, rel.types)
        if any(k in str(t).upper() for k in _FORBIDDEN_DUCK)
    ]
    con.close()
    assert not bad, (
        f"{name}: driver-fragile oracle columns {bad} — CAST(... AS "
        "DOUBLE/BIGINT) or array_to_string in the oracle SQL"
    )


def test_bench_headline_suite_is_registered():
    """tools/measure.py's HEADLINE suite (bench.py's) must name only
    registered queries — a renamed/retired query would otherwise fail at
    bench time (in the driver's per-round run, hours from the commit that
    broke it)."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location("measure", os.path.join(repo, "tools", "measure.py"))
    measure = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(measure)

    qd = queries_dict()
    missing = [n for n in measure.HEADLINE if n not in qd]
    assert not missing, missing
