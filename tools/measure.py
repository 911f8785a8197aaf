#!/usr/bin/env python
"""Time registered queries over one or more scale-factor dirs in one session.

  python tools/measure.py --dirs LABEL=PATH [LABEL=PATH ...] [--reps 3] \\
      --out PATH [name | name:engine ...]

Queries default to HEADLINE; a full-registry sweep passes
`$(python -m makerdao_dw_spark query --list)`. `name:engine` consumes the
result JVM-side (xxhash64 over every column) instead of collecting it, so a
query whose output grows with the corpus times its plan, not the driver.

This is the repo's one timing protocol (bench.py runs it over HEADLINE):
per dir and query, time_query makes one first run (`first_s`: codegen,
JIT, cold reads), then `reps` timed runs (`runs`, `median_s`); then
session.gc_hint and `scratch_gb` (Spark scratch after the query).
`compiles_first` and `compiles` count the classes Janino compiled in the
first run and in the timed reps (compiled_classes). The reps run back to
back, so `median_s` hides codegen-cache misses between queries: one
query needs a median of 11 classes and hits the cache on every rep. The
counts are the check, not `median_s`: `compiles` above 0 means the query
alone overflows the cache, and `compiles_first` summed over a sweep is
the cache an interleaved mix of those queries needs (session.get_spark
sizes it). A streaming query also reports `state_rows`, the state-store
rows its drains held at their last data batch. A query that raises is
recorded as `error` and the sweep goes on. With an `out` path the
artifact is rewritten after every query, so a killed JVM keeps the rows
already measured. With two or more dirs it holds `ratio`: the last
dir's median_s over the first's.

The session is session.get_spark (SPARK_GRAFT_CPUS, SPARK_GRAFT_DRIVER_MEM);
a partition-count pass is a second invocation with
SPARK_GRAFT_SHUFFLE_PARTITIONS set.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from makerdao_dw_spark.queries import queries_dict  # noqa: E402
from makerdao_dw_spark.session import gc_hint, get_spark  # noqa: E402
from makerdao_dw_spark.streaming import jobs  # noqa: E402

# Headline suite: one representative per operator family.
HEADLINE = [
    "flagship_events_funnel",   # the reference's analytics plan shape
    "q1_pricing_summary",       # scan + hash aggregate
    "multiway_join_revenue",    # 5-way join
    "asof_join_order_events",   # as-of join (union + LOCF window)
    "window_cumulative",        # partitioned running window
    "window_rank_lag",          # rank/lag window family
    "gap_fill_sequence",        # sequence explode
    "dedup_exact",              # hash dedup
    "dedup_minhash_lsh",        # shingle->minhash->band join
    "dedup_connected_components",  # iterative component clustering
    "ann_bruteforce_topk",      # vector similarity
    "text_quality_stats",       # text featurization
    "text_tfidf_topterms",      # two-phase term statistics
    "salted_skew_aggregate",    # skew-salted aggregation
    "dedup_embedding_cosine_banded",  # a staged/banded family (the stage() path)
]


def _scratch_gb(spark) -> float:
    """Current Spark shuffle/scratch usage (blockmgr-*/spark-* under
    spark.local.dir), GB."""
    local = spark.sparkContext.getConf().get("spark.local.dir", "/tmp")
    total = 0
    for d in local.split(","):
        try:
            for entry in os.listdir(d):
                if entry.startswith(("blockmgr-", "spark-")):
                    out = subprocess.run(
                        ["du", "-sb", os.path.join(d, entry)],
                        capture_output=True,
                        text=True,
                    ).stdout
                    total += int(out.split()[0]) if out else 0
        except OSError:
            continue
    return round(total / 1e9, 2)


def _engine_consume(df) -> None:
    """Consume EVERY output column JVM-side: xxhash64 over all columns
    (cast to string for type-uniformity), summed as decimal so ANSI mode
    cannot overflow. No column pruning can drop plan work and no rows
    cross the JVM/Python boundary, so for a query whose output grows
    with the corpus this times the plan, not driver materialization."""
    df.select(
        F.xxhash64(*[F.col(c).cast("string") for c in df.columns]).alias("h")
    ).agg(F.sum(F.col("h").cast("decimal(38,0)"))).collect()


def compiled_classes(spark) -> int:
    """Classes Janino has compiled in this JVM so far. Spark records one
    compile-time sample per codegen-cache miss, so the difference of two
    reads counts the classes compiled in between."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def time_query(
    spark, fn, sf_dir: str, reps: int = 3, engine: bool = False
) -> tuple[float, list[float], int, int]:
    """Time `fn(spark, sf_dir)` to completion: one first run (pays
    codegen/JIT/page-cache population — the state a cross-session
    comparison cannot control), then `reps` timed runs. Returns
    (first_s, runs, compiles_first, compiles): the last two count the
    classes compiled during the first run and during the timed runs
    (compiled_classes). Each run builds the plan and collects it, or with
    `engine` consumes it JVM-side (_engine_consume).

    The estimator is the MEDIAN of the runs, the first run excluded: a
    min is set by one lucky sample, and a cold-inclusive figure measures
    a state no two sessions share; median-after-warm-up is robust to one
    spike in either direction."""

    def once() -> float:
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        if engine:
            _engine_consume(df)
        else:
            df.collect()
        return time.perf_counter() - t0

    c0 = compiled_classes(spark)
    first = once()
    c1 = compiled_classes(spark)
    runs = [once() for _ in range(reps)]
    return first, runs, c1 - c0, compiled_classes(spark) - c1


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
    for q in args.queries or HEADLINE:
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


def measure(
    spark, dirs: list[tuple[str, str]], queries: dict[str, bool], reps: int, out: str | None
) -> dict:
    """Run every query (name -> engine?) over every (label, path) dir;
    the artifact is rewritten to `out` after each query unless it is None."""
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
                first, runs, compiles_first, compiles = time_query(
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
            row["scratch_gb"] = _scratch_gb(spark)
            artifact["results"][label][name] = row
            if len(dirs) > 1:
                first_dir = artifact["results"][dirs[0][0]]
                last_dir = artifact["results"][dirs[-1][0]]
                artifact["ratio"] = {
                    n: round(last_dir[n]["median_s"] / first_dir[n]["median_s"], 2)
                    for n in queries
                    if "median_s" in first_dir.get(n, {}) and "median_s" in last_dir.get(n, {})
                }
            if out:
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
