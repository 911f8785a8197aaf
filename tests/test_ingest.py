"""Ingestion pipeline tests: block backfill, contract backfill end-to-end
on the mock chain, resume/idempotency, proxy receipt filter, plus the
assets_per_type golden test against DuckDB over the ingested warehouse."""

from __future__ import annotations

import glob
import math
import os
from decimal import Decimal

import duckdb
import pytest

from makerdao_dw_spark.ingest.fixtures import JUG_ADDRESS, VAT_ADDRESS, maker_chain, maker_specs
from makerdao_dw_spark.ingest.pipeline import backfill_blocks, backfill_contract, fetch_raw_logs, resume_block
from makerdao_dw_spark.queries.assets_per_type import DUCKDB_SQL, TABLES, assets_per_type

HEAD = 12000


@pytest.fixture(scope="session")
def warehouse(spark, tmp_path_factory):
    """Ingest the maker fixture chain once per test session."""
    out = str(tmp_path_factory.mktemp("warehouse"))
    chain = maker_chain(head=HEAD)
    vat_specs, jug_specs = maker_specs()
    c1 = backfill_contract(
        spark, chain, "makermcd", "vat", vat_specs, [VAT_ADDRESS], out,
        creation_block=0, step=1500, partition_blocks=4000,
    )
    c2 = backfill_contract(
        spark, chain, "makermcd", "jug", jug_specs, [JUG_ADDRESS], out,
        creation_block=0, step=1500, partition_blocks=4000,
    )
    return out, chain, {**c1, **c2}


def test_block_backfill(spark):
    chain = maker_chain(head=500)
    df = backfill_blocks(spark, chain, 0, 499, step=100)
    rows = df.collect()
    assert len(rows) == 500
    assert sorted(r["block_number"] for r in rows) == list(range(500))
    r0 = next(r for r in rows if r["block_number"] == 7)
    ref = chain.get_block(7)
    assert r0["gas_used"] == ref["gasUsed"] and r0["block_hash"] == ref["hash"][2:]
    assert r0["time"].year >= 2015  # A18 unix->timestamp


def test_contract_backfill_counts_and_types(warehouse, spark):
    out, chain, counts = warehouse
    assert set(counts) == {"vat_call_frob", "vat_call_grab", "vat_call_fold", "jug_call_file"}
    assert all(v > 50 for v in counts.values()), counts
    frob = spark.read.parquet(os.path.join(out, "makermcd", "vat_call_frob"))
    row = frob.filter("dart is not null").first()
    assert isinstance(row["dart"], Decimal)
    assert isinstance(row["i"], (bytes, bytearray)) and len(row["i"]) == 32
    # partitioned layout on disk (100 TB design: block_range pruning)
    assert glob.glob(os.path.join(out, "makermcd", "vat_call_frob", "block_range=*"))


def test_resume_and_idempotent_rerun(warehouse, spark):
    out, chain, counts = warehouse
    vat_specs, _ = maker_specs()
    nxt = resume_block(spark, out, "makermcd", vat_specs, 0)
    assert nxt == HEAD + 1  # chain fully ingested
    # re-running the same backfill must not duplicate rows (overwrite by range)
    c = backfill_contract(
        spark, chain, "makermcd", "vat", vat_specs, [VAT_ADDRESS], out,
        creation_block=0, step=1500, partition_blocks=4000, to_block=HEAD,
    )
    frob_n = spark.read.parquet(os.path.join(out, "makermcd", "vat_call_frob")).count()
    assert frob_n == counts["vat_call_frob"]


def test_proxy_receipt_filter(spark):
    """A3/A16: dedup by tx hash + receipt-data filter keeps a strict subset."""
    chain = maker_chain(head=300)
    plain = fetch_raw_logs(spark, chain, [VAT_ADDRESS], 0, 300, step=100)
    n_plain = plain.count()
    filt = fetch_raw_logs(
        spark, chain, [VAT_ADDRESS], 0, 300, step=100,
        proxy_filter_address="0x82ecd135dce65fbc6dbdd0e4237e0af93ffd5038",
    )
    n_filt = filt.count()
    n_tx = plain.dropDuplicates(["transaction_hash"]).count()
    assert n_filt <= n_tx <= n_plain


def test_assets_per_type_golden_vs_duckdb(warehouse, spark):
    """The flagship analytics plan must produce EXACTLY the same result in
    Spark and DuckDB over the ingested warehouse (SURVEY §3.3/§5)."""
    out, _, _ = warehouse
    sdf = assets_per_type(spark, out)
    s_rows = [tuple(r) for r in sdf.collect()]
    assert len(s_rows) > 10

    con = duckdb.connect()
    for t in TABLES:
        pattern = os.path.join(out, "makermcd", t, "**", "*.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{pattern}', hive_partitioning=1)")
    d_rows = con.execute(DUCKDB_SQL).fetchall()
    con.close()

    assert len(s_rows) == len(d_rows)
    for a, b in zip(s_rows, d_rows):
        assert a[0] == b[0] and a[1] == b[1], (a, b)          # dt, collateral
        # value columns flow through decimal128->double conversion and
        # pow(), both of which legitimately differ by ULPs across engines
        # (Java BigDecimal/Math.pow vs DuckDB int128/libm) -> tolerance
        assert math.isclose(a[2], b[2], rel_tol=1e-9, abs_tol=1e-4), (a, b)
        assert (a[3] is None) == (b[3] is None)
        if a[3] is not None:
            assert math.isclose(a[3], b[3], rel_tol=1e-9, abs_tol=1e-4), (a, b)
        if a[4] is not None and b[4] is not None:
            assert math.isclose(a[4], b[4], rel_tol=1e-9, abs_tol=1e-9), (a, b)
    # every CASE arm reachable from the fixture ilks
    cats = {r[1] for r in s_rows}
    assert {"Stablecoins", "ETH", "WBTC", "Liquidity Pools", "RWA", "Others"} <= cats


def test_dashboard_leaves_no_temp_view(warehouse, spark):
    """The dashboard passes its tables as query arguments: the session
    lists no new temp view afterwards, none under a table name."""
    out, _, _ = warehouse
    before = {t.name for t in spark.catalog.listTables()}
    assert assets_per_type(spark, out).count() > 10
    after = {t.name for t in spark.catalog.listTables()}
    assert after == before and not after & set(TABLES), after - before
