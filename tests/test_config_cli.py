"""Config-registry parity: the parser must read a reference-format
config tree (includes, nested schema blocks, arrays, comments, empty
values) and reproduce its per-contract/global blocksStep semantics.

The tree is the synthetic fixture `tests/fixtures/makerdao/`; the exact
inventory of the upstream makerdao-dw `config.conf` (5 schemas, 13
`makermcd` contracts) is checked only where that checkout is present."""

from __future__ import annotations

import json
import os

import pytest

from makerdao_dw_spark.config import Registry, parse_hocon

REF_CONF = "/root/reference/config.conf"
FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "makerdao")


@pytest.fixture(scope="module")
def reg():
    return Registry.load(os.path.join(FIXTURE, "config.conf"))


def test_parses_included_schema_files(reg):
    # both schema files arrive through `include`; the missing dev.conf
    # include is skipped
    assert set(reg.schemas()) == {"makermcd", "ethereum"}
    assert reg.contract_names("makermcd") == [
        "cat", "dai", "gov_actions", "jug", "proxy_actions", "vat",
    ]
    assert reg.db()["host"] == "localhost" and reg.db()["password"] == ""


@pytest.mark.skipif(
    not os.path.exists(REF_CONF),
    reason="exact inventory of the upstream makerdao-dw config.conf "
    "(5 schemas, 13 makermcd contracts); that checkout is not present",
)
def test_parses_reference_tree():
    reg = Registry.load(REF_CONF)
    assert set(reg.schemas()) == {"makermcd", "centrifuge", "aave", "aave_v2", "ethereum"}
    assert "vat" in reg.contract_names("makermcd")
    assert len(reg.contract_names("makermcd")) == 13


def test_contract_fields_match_reference(reg):
    vat = reg.get("makermcd", "vat")
    assert vat.addresses == ["0x35d1b3f3d7966a1dfe207aa4514c12a259a0492b"]
    assert vat.creation_block == 8928152
    assert vat.blocks_step == 10000  # trailing '#100' comment stripped
    cat = reg.get("makermcd", "cat")
    assert len(cat.addresses) == 3  # multi-address array
    eth = reg.get("ethereum", "transactions")
    assert eth.blocks_step == 1


def test_global_blocksstep_fallback(reg):
    # reference semantics (eth-contract.py:20): per-contract override,
    # global default 100 (config.conf:9) otherwise
    assert reg.default_blocks_step == 100


def test_missing_contract_raises(reg):
    with pytest.raises(KeyError, match="nope"):
        reg.get("makermcd", "nope")


def test_receipt_search_resolution(reg, tmp_path):
    """Receipt-search path wiring: proxy_actions targets DSSProxyActions
    (eth-contract.py:48,55); gov_actions searches for its own address —
    the fix conf/makermcd.conf:57 describes but the reference never
    implemented; plain contracts read logs directly."""
    from makerdao_dw_spark.config import DSS_PROXY_ACTIONS

    assert reg.get("makermcd", "proxy_actions").receipt_search_address == DSS_PROXY_ACTIONS
    gov = reg.get("makermcd", "gov_actions")
    assert gov.receipt_search_address == gov.addresses[0]
    assert gov.receipt_search_address == "0x1b93556ab8dccef01cd7823c617a6d340f53fb58"
    assert reg.get("makermcd", "vat").receipt_search_address is None
    # explicit config override wins
    conf = tmp_path / "r.conf"
    conf.write_text(
        'contracts {\n s {\n c {\n addresses = ["0xAB"]\n creationBlock = 5\n'
        ' receiptSearchAddress = "0xCD"\n }\n }\n}\n'
    )
    assert Registry.load(str(conf)).get("s", "c").receipt_search_address == "0xcd"


def test_template_empty_values(tmp_path):
    conf = tmp_path / "t.conf"
    conf.write_text(
        'infura_key = \'\'\ndb {\n  driver:\n  host: myhost\n  port: 5432\n}\n'
    )
    tree = parse_hocon(str(conf))
    assert tree["infura_key"] == ""
    assert tree["db"]["driver"] == ""
    assert tree["db"]["host"] == "myhost"
    assert tree["db"]["port"] == 5432


def test_cli_ingest_end_to_end(spark, tmp_path):
    """`python -m makerdao_dw_spark ingest makermcd.vat` parity: registry
    + ABI + backfill, driven exactly like the reference's eth-contract.py.
    (Reuses the session's JVM by calling main() in-process.)"""
    from makerdao_dw_spark.__main__ import main

    out = tmp_path / "wh"
    rc = main(["ingest", "makermcd.vat", "--out", str(out), "--to-block", "800",
               "--partition-blocks", "400",
               "--conf", os.path.join(FIXTURE, "config.conf"),
               "--abi-dir", os.path.join(FIXTURE, "conf")])
    assert rc == 0
    import glob

    assert glob.glob(str(out / "makermcd" / "vat_call_frob" / "block_range=*"))
    frob = spark.read.parquet(str(out / "makermcd" / "vat_call_frob"))
    assert frob.count() > 0


def test_cli_ingest_requires_registry_and_abi_dir(tmp_path):
    """`ingest` has no default `--conf`/`--abi-dir`: argparse rejects a
    call without them (exit code 2) before any Spark session starts."""
    from makerdao_dw_spark.__main__ import main

    with pytest.raises(SystemExit) as exc:
        main(["ingest", "makermcd.vat", "--out", str(tmp_path / "wh")])
    assert exc.value.code == 2


def test_cli_blocks_fetches_each_header_once(spark, tmp_path, monkeypatch, capsys):
    """`python -m makerdao_dw_spark blocks` parity (eth-blocks.py): every
    block in the range lands once, and each header is fetched over RPC
    exactly once (the row count must not rerun the fetch)."""
    from makerdao_dw_spark.__main__ import main
    from makerdao_dw_spark.ingest import rpc

    log = str(tmp_path / "fetched")

    class CountingChain(rpc.MockChain):
        # executors run in other processes: count through a shared file
        def get_block(self, n):
            fd = os.open(log, os.O_WRONLY | os.O_CREAT | os.O_APPEND)
            try:
                os.write(fd, f"{n}\n".encode())
            finally:
                os.close(fd)
            return super().get_block(n)

    monkeypatch.setattr(rpc, "MockChain", CountingChain)
    out = tmp_path / "wh"
    assert main(["blocks", "--out", str(out), "--from-block", "0",
                 "--to-block", "199", "--step", "50"]) == 0
    report = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert report["rows"] == 200
    with open(log) as fh:
        fetched = sorted(int(line) for line in fh)
    assert fetched == list(range(200))


def test_cli_query_list_and_run(capsys):
    from makerdao_dw_spark.__main__ import main

    assert main(["query", "--list"]) == 0
    out = capsys.readouterr().out.splitlines()
    assert "topk_orders" in out and len(out) >= 150
