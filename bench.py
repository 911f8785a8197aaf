#!/usr/bin/env python
"""Benchmark the headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

The last stdout line is one JSON record: {"metric", "value" (sec, the sum
of the headline queries' medians), "unit", "sf", "queries" {name: sec},
"streaming" {name: sec}, "scratch_gb" {name: GB}}. The timing is
tools/measure.py's protocol, run once over the headline suite: per query
one untimed first run, then the median of 3 timed runs to collect().
streaming_windowed_counts is timed the same way but kept out of `value`:
its cost is fixed micro-batch scheduler overhead, not data. A query that
raises fails the run.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(HERE, "tools"))

import measure  # noqa: E402
from makerdao_dw_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
STREAMING = ["streaming_windowed_counts"]


def main() -> None:
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("makerdao-dw-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        art = measure.measure(
            spark, [("sf", SF_DIR)], dict.fromkeys(measure.HEADLINE + STREAMING, False), 3, None
        )
    finally:
        spark.stop()
    rows = art["results"]["sf"]
    failed = {n: r["error"] for n, r in rows.items() if "error" in r}
    if failed:
        sys.exit(f"headline queries failed: {failed}")
    queries = {n: rows[n]["median_s"] for n in measure.HEADLINE}
    record = {
        "metric": "headline_suite_total",
        "value": round(sum(queries.values()), 3),
        "unit": "sec",
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "queries": queries,
        "streaming": {n: rows[n]["median_s"] for n in STREAMING},
        "scratch_gb": {n: rows[n]["scratch_gb"] for n in measure.HEADLINE},
    }
    print(json.dumps(record))


if __name__ == "__main__":
    main()
