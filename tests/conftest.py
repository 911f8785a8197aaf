"""Shared fixtures: one SparkSession per test session + a DuckDB oracle
comparator that mimics the driver's t2 gate (row-count + schema +
order-insensitive value comparison with columns sorted by name)."""

from __future__ import annotations

import math
import os
from decimal import Decimal

import duckdb
import pytest

import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from makerdao_dw_spark.session import configure, get_spark

# Tables the driver generates (TESTDATA.md).
TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_T2 = os.environ.get("SPARK_GRAFT_T2_SF_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("makerdao-dw-spark-tests", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    # Registered queries configure the session at entry (registry
    # wrapper); tests that call a raw query fn directly bypass it, so the
    # fixture configures up front, whichever test runs first.
    configure(s)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def _norm_cell(v):
    # STRICT on purpose: the external driver's canonicalizer stringifies
    # cells as-is (Decimal keeps its scale -> "4956.660000" != "4956.66";
    # long 64 != double 64.0) and hard-crashes on list/map cells. The
    # local gate must be at least as strict or driver-only failures slip
    # through (the round-2 lesson).
    if isinstance(v, Decimal):
        return ("dec", str(v))
    if isinstance(v, float):
        if math.isnan(v):
            return ("f", "nan")
        # floats must match to high precision; tiny representation jitter
        # (e.g. 17th digit) is tolerated, real mismatches are not
        return ("f", f"{v:.12g}")
    if isinstance(v, bytes):
        return ("b", v.hex())
    if isinstance(v, (list, dict, tuple, set)):
        raise TypeError(
            f"complex cell type {type(v).__name__} in query output — the "
            "driver canonicalizer crashes on these; serialize with "
            "array_join/to_json in the final SELECT"
        )
    return (type(v).__name__, v)


def _normalize(cols: list[str], rows: list[tuple]) -> tuple[list[str], list[tuple]]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    sorted_cols = [cols[i] for i in order]
    norm = sorted(tuple(_norm_cell(r[i]) for i in order) for r in rows)
    return sorted_cols, norm


def compare_with_oracle(spark, name: str, fn, oracle: str, sf_dir: str) -> None:
    """Assert the Spark query matches its DuckDB oracle (driver-t2 style)."""
    sdf = fn(spark, sf_dir)
    s_cols = sdf.columns
    s_rows = [tuple(r) for r in sdf.collect()]

    con = duck_con(sf_dir)
    res = con.execute(oracle)
    d_cols = [d[0] for d in res.description]
    d_rows = res.fetchall()
    con.close()

    assert len(s_rows) == len(d_rows), f"{name}: rowcount spark={len(s_rows)} duckdb={len(d_rows)}"
    sc, sr = _normalize(s_cols, s_rows)
    dc, dr = _normalize(d_cols, d_rows)
    assert sc == dc, f"{name}: columns spark={sc} duckdb={dc}"
    mismatches = [(a, b) for a, b in zip(sr, dr) if a != b]
    assert not mismatches, f"{name}: {len(mismatches)}/{len(sr)} rows differ; first: {mismatches[0]}"
