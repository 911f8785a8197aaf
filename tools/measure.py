#!/usr/bin/env python
"""Time registered queries over one or more scale-factor dirs in one session.

  python tools/measure.py --dirs LABEL=PATH [LABEL=PATH ...] [--reps 3] \\
      --out PATH [name | name:engine ...]

Queries default to bench.HEADLINE; a full-registry sweep passes
`$(python -m makerdao_dw_spark query --list)`. `name:engine` consumes the
result JVM-side (xxhash64 over every column) instead of collecting it, so a
query whose output grows with the corpus times its plan, not the driver.

One protocol, bench.time_query's: per dir and query, one first run
(`first_s`: codegen, JIT, cold reads), then `reps` timed runs (`runs`,
`median_s`); then session.gc_hint and `scratch_gb` (Spark scratch after
the query). `compiles_first` and `compiles` count the classes Janino
compiled in the first run and in the timed reps (bench.compiled_classes).
The reps run back to back, so `median_s` hides codegen-cache misses
between queries: one query needs a median of 11 classes and hits the
cache on every rep. The counts are the check, not `median_s`: `compiles`
above 0 means the query alone overflows the cache, and `compiles_first`
summed over a sweep is the cache an interleaved mix of those queries
needs (session.get_spark sizes it). A streaming query also reports
`state_rows`, the state-store rows its drains held at their last data
batch. A query that raises is
recorded as `error` and the sweep goes on. The artifact is rewritten after
every query, so a killed JVM keeps the rows already measured. With two or
more dirs it holds `ratio`: the last dir's median_s over the first's.

The session is session.get_spark (SPARK_GRAFT_CPUS, SPARK_GRAFT_DRIVER_MEM);
a partition-count pass is a second invocation with
SPARK_GRAFT_SHUFFLE_PARTITIONS set.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import bench  # noqa: E402
from makerdao_dw_spark.queries import queries_dict  # noqa: E402
from makerdao_dw_spark.session import gc_hint, get_spark  # noqa: E402
from makerdao_dw_spark.streaming import jobs  # noqa: E402


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--dirs", nargs="+", required=True, metavar="LABEL=PATH")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--out", required=True)
    ap.add_argument("queries", nargs="*", metavar="name[:engine]")
    args = ap.parse_args(argv)
    if any("=" not in d for d in args.dirs):
        ap.error("--dirs takes LABEL=PATH pairs")
    if args.reps < 1:
        ap.error("--reps must be at least 1")
    args.dirs = [tuple(d.split("=", 1)) for d in args.dirs]
    if len(dict(args.dirs)) < len(args.dirs):
        ap.error("--dirs labels must be distinct")
    known = queries_dict()
    specs = {}
    for q in args.queries or bench.HEADLINE:
        name, _, mode = q.partition(":")
        if name not in known or mode not in ("", "engine"):
            ap.error(f"unknown query {q!r}; see `python -m makerdao_dw_spark query --list`")
        if name in specs:
            ap.error(f"query {name!r} given twice")
        specs[name] = mode == "engine"
    args.queries = specs
    return args


def _write(out: str, artifact: dict) -> None:
    tmp = out + ".tmp"
    with open(tmp, "w") as f:
        json.dump(artifact, f, indent=2)
    os.replace(tmp, out)


def measure(spark, dirs: list[tuple[str, str]], queries: dict[str, bool], reps: int, out: str) -> dict:
    """Run every query (name -> engine?) over every (label, path) dir."""
    qd = queries_dict()
    artifact: dict = {
        "reps": reps,
        "paths": dict(dirs),
        "modes": {n: "engine" if e else "collect" for n, e in queries.items()},
        "results": {label: {} for label, _ in dirs},
    }
    for label, path in dirs:
        for name, engine in queries.items():
            jobs.LAST_STATE_ROWS = None
            try:
                first, runs, compiles_first, compiles = bench.time_query(
                    spark, qd[name], path, reps, engine
                )
                row = {
                    "first_s": round(first, 3),
                    "median_s": round(statistics.median(runs), 3),
                    "runs": [round(r, 3) for r in runs],
                    "compiles_first": compiles_first,
                    "compiles": compiles,
                }
                if jobs.LAST_STATE_ROWS is not None:
                    row["state_rows"] = jobs.LAST_STATE_ROWS
            except Exception as e:  # noqa: BLE001 — one failure must not end the sweep
                traceback.print_exc()
                row = {"error": (str(e).strip().splitlines() or [type(e).__name__])[0][:200]}
            gc_hint(spark)
            row["scratch_gb"] = bench._scratch_gb(spark)
            artifact["results"][label][name] = row
            if len(dirs) > 1:
                first_dir = artifact["results"][dirs[0][0]]
                last_dir = artifact["results"][dirs[-1][0]]
                artifact["ratio"] = {
                    n: round(last_dir[n]["median_s"] / first_dir[n]["median_s"], 2)
                    for n in queries
                    if "median_s" in first_dir.get(n, {}) and "median_s" in last_dir.get(n, {})
                }
            _write(out, artifact)
            print(f"{label} {name}: {row.get('median_s', row.get('error'))}", flush=True)
    return artifact


def main(argv: list[str] | None = None) -> None:
    args = parse_args(argv)
    spark = get_spark("makerdao-dw-spark-measure")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        artifact = measure(spark, args.dirs, args.queries, args.reps, args.out)
    finally:
        spark.stop()
    print(json.dumps(artifact.get("ratio", artifact["results"])))


if __name__ == "__main__":
    main()
