#!/usr/bin/env python
"""Capture .explain("formatted") output for named registered queries.

Writes plans/<tag>/<query>_<suffix>.txt for each query name given, using
the sf0.01 testdata (plan shape is scale-invariant; sf0.01 keeps the
capture fast). Streaming queries are skipped (per-micro-batch plans).

Usage:
    python tools/capture_plans.py --suffix before q1_pricing_summary ...
    python tools/capture_plans.py --suffix after --tag r11 ...
"""

from __future__ import annotations

import argparse
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--tag", default="r11")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    ap.add_argument(
        "--conf",
        action="append",
        default=[],
        help="extra session conf key=value (e.g. spark.sql.autoBroadcastJoinThreshold=-1)",
    )
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    from makerdao_dw_spark.queries import queries_dict

    spark = (
        SparkSession.builder.master("local[4]")
        .appName("capture-plans")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    for kv in args.conf:
        k, _, v = kv.partition("=")
        spark.conf.set(k, v)
    qd = queries_dict()
    outdir = os.path.join(REPO, "plans", args.tag)
    os.makedirs(outdir, exist_ok=True)
    for name in args.queries:
        if name.startswith("streaming_"):
            print(f"skip streaming query {name}")
            continue
        df = qd[name](spark, args.sf_dir)
        text = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(outdir, f"{name}_{args.suffix}.txt")
        with open(path, "w") as f:
            f.write(text)
        print(f"wrote {path} ({len(text.splitlines())} lines)")
    spark.stop()


if __name__ == "__main__":
    main()
