"""CLI — command-line parity with the reference's entry points.

Reference:              This engine:
  python eth-blocks.py ethereum.transactions
                          python -m makerdao_dw_spark blocks --to-block N
  python eth-contract.py makermcd.vat
                          python -m makerdao_dw_spark ingest makermcd.vat
                              --conf C --abi-dir D --out X

Both take the `<schema>.<contract>` target (functions.py:7-14) and read
the same HOCON registry (config.py); `ingest` has no default registry
or ABI tree, since both are deployment paths. The RPC client is
pluggable: this container has no network, so `--rpc mock`
(deterministic fixture chain) is the default; a JSON-RPC client
implements the same `RpcClient` protocol for production.
"""

from __future__ import annotations

import argparse
import json
import sys


def _split_target(target: str) -> tuple[str, str]:
    if "." not in target:
        raise SystemExit(f"target must be <schema>.<contract>, got {target!r}")
    schema, contract = target.split(".", 1)
    return schema, contract


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="makerdao_dw_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    ing = sub.add_parser("ingest", help="backfill a contract's call/evt tables")
    ing.add_argument("target", help="<schema>.<contract>")
    ing.add_argument("--conf", required=True, help="HOCON registry (config.conf)")
    ing.add_argument("--abi-dir", required=True, help="directory of <schema>/<contract>.abi files")
    ing.add_argument("--out", required=True, help="warehouse output directory")
    ing.add_argument("--rpc", choices=["mock"], default="mock")
    ing.add_argument("--to-block", type=int, default=2000)
    ing.add_argument("--partition-blocks", type=int, default=1_000_000)

    blk = sub.add_parser("blocks", help="backfill the block-header table")
    blk.add_argument("--out", required=True)
    blk.add_argument("--rpc", choices=["mock"], default="mock")
    blk.add_argument("--from-block", type=int, default=0)
    blk.add_argument("--to-block", type=int, default=2000)
    blk.add_argument("--step", type=int, default=500)

    qry = sub.add_parser(
        "query", help="run a registered analytics query (see `query --list`)"
    )
    qry.add_argument("name", nargs="?", help="query name from the registry")
    qry.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    qry.add_argument("--out", help="write result parquet here instead of printing")
    qry.add_argument("--limit", type=int, default=20, help="rows to print (no --out)")
    qry.add_argument("--list", action="store_true", help="list registered queries")

    args = p.parse_args(argv)

    if args.cmd == "query" and args.list:
        from .queries import REGISTRY

        for name in sorted(REGISTRY):
            print(name)
        return 0
    if args.cmd == "query" and not args.name:
        raise SystemExit("query: provide a name or --list")

    from .session import get_spark

    spark = get_spark("makerdao-dw-spark-cli")
    spark.sparkContext.setLogLevel("ERROR")

    if args.cmd == "query":
        from .queries import queries_dict

        qs = queries_dict()
        if args.name not in qs:
            raise SystemExit(f"unknown query {args.name!r}; see `query --list`")
        df = qs[args.name](spark, args.sf_dir)
        if args.out:
            df.write.mode("overwrite").parquet(args.out)
            print(json.dumps({"query": args.name, "rows": spark.read.parquet(args.out).count(), "out": args.out}))
        else:
            df.show(args.limit, truncate=False)
        return 0

    if args.cmd == "blocks":
        from .ingest.pipeline import backfill_blocks
        from .ingest.rpc import MockChain

        # headers are a pure function of (seed, n): no contracts needed
        chain = MockChain(head=args.to_block, seed=42)
        out = f"{args.out}/ethereum/transactions"
        df = backfill_blocks(spark, chain, args.from_block, args.to_block, step=args.step)
        df.write.mode("overwrite").parquet(out)
        # count what was written: a count of `df` would refetch every block
        rows = spark.read.parquet(out).count()
        print(json.dumps({"table": "ethereum.transactions", "rows": rows}))
        return 0

    schema, contract = _split_target(args.target)

    from .abi.loader import load_abi
    from .abi.schema import compile_contract
    from .config import Registry
    from .ingest.fixtures import maker_chain
    from .ingest.pipeline import backfill_contract

    reg = Registry.load(args.conf)
    cc = reg.get(schema, contract)
    abi = load_abi(f"{args.abi_dir}/{schema}/{contract}.abi")
    specs = compile_contract(contract, abi)

    chain = maker_chain(head=args.to_block)  # --rpc mock
    counts = backfill_contract(
        spark,
        chain,
        schema,
        contract,
        specs,
        cc.addresses,
        args.out,
        creation_block=min(cc.creation_block, 0),  # mock chain starts at 0
        to_block=args.to_block,
        step=cc.blocks_step,
        partition_blocks=args.partition_blocks,
        proxy_filter_address=cc.receipt_search_address,
    )
    print(json.dumps({"schema": schema, "contract": contract, "rows_per_table": counts}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
