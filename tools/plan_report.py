"""Generate PLANS.md: one row of physical-plan metrics per registered
query (scan / exchange / broadcast / window / Python-stage counts), so
plan quality is auditable at a glance without re-running explain() by
hand. Streaming queries are skipped (their plans are per-micro-batch).

Usage: python tools/plan_report.py  (writes PLANS.md at the checkout root)
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF = "/root/testdata/sf0.01"

STREAMING_PREFIX = "streaming_"


def _walk_counts(node, counts=None) -> dict:
    """Count physical operators by walking the plan TREE (py4j), not its
    printed text. Stops at InMemoryTableScan (the cached subtree's
    stages executed once, at materialize() time — they are not part of
    this query's runtime plan); descends through AdaptiveSparkPlanExec
    via initialPlan (AQE's root is a leaf node wrapping the real plan)
    and into expression subqueries (scalar-subquery exchanges count)."""
    if counts is None:
        counts = {}
    name = node.getClass().getSimpleName()
    counts[name] = counts.get(name, 0) + 1
    if name.startswith("InMemoryTableScan"):
        return counts
    if name == "AdaptiveSparkPlanExec":
        _walk_counts(node.initialPlan(), counts)
        return counts
    ch = node.children()
    for i in range(ch.size()):
        _walk_counts(ch.apply(i), counts)
    try:
        sq = node.subqueries()
        for i in range(sq.size()):
            _walk_counts(sq.apply(i), counts)
    except Exception:  # noqa: BLE001  (no subqueries accessor on this node)
        pass
    return counts


def main() -> None:
    from pyspark.sql import SparkSession

    from makerdao_dw_spark.queries import REGISTRY

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("plan-report")
        .config("spark.sql.shuffle.partitions", "8")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    rows = []
    for name in sorted(REGISTRY):
        if name.startswith(STREAMING_PREFIX):
            rows.append((name, "—", "—", "—", "—", "—", "streaming (per-micro-batch plan)"))
            continue
        try:
            df = REGISTRY[name].fn(spark, SF)
            # TREE-walked counts everywhere (r8: text counts are unsound
            # under materialize(): InMemoryRelation PRINTS its cached
            # child plan, so nested caches re-count the build stages
            # once per consumer — a 4-step materialized chain whose
            # runtime plan is Sort(Union(4 cached scans)) text-counted
            # as 1452 shuffles. The walk stops at InMemoryTableScan:
            # a cached frame's build stages ran ONCE at materialize()
            # time, not in this query's execution).
            counts = _walk_counts(df._jdf.queryExecution().executedPlan())
            lv = df._jdf.queryExecution().optimizedPlan().collectLeaves()
            leaves = [lv.apply(i).nodeName() for i in range(lv.size())]
            live = leaves.count("LogicalRelation")
            cached = leaves.count("InMemoryRelation")
        except Exception as e:  # noqa: BLE001
            rows.append((name, "?", "?", "?", "?", "?", f"error: {str(e)[:60]}"))
            continue
        scans = f"{live}+{cached}c" if cached else str(live)
        shuffles = counts.get("ShuffleExchangeExec", 0)
        bcast = counts.get("BroadcastExchangeExec", 0)
        windows = counts.get("WindowExec", 0) + counts.get("WindowInPandasExec", 0)
        python = sum(
            v
            for k, v in counts.items()
            if "Pandas" in k or "EvalPython" in k or "ArrowEval" in k
        )
        note = "arrow-batched python stage" if python else ""
        rows.append((name, scans, shuffles, bcast, windows, python, note))

    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write(
            "# PLANS — physical-plan metrics per registered query\n\n"
            "Auto-generated by `tools/plan_report.py` at sf0.01 (pre-execution\n"
            "plans; AQE may further coalesce/reuse at runtime — runtime reuse is\n"
            "asserted separately in tests/test_plan_shape.py). ALL counts are\n"
            "TREE-walked (r8), never text-counted: InMemoryRelation PRINTS its\n"
            "cached child plan, so text counts re-bill a materialize()d frame's\n"
            "build stages to every consumer (a 4-step materialized chain whose\n"
            "runtime plan is Sort(Union(4 cached scans)) text-counted as 1452\n"
            "shuffles). Scans: LIVE parquet scans on the optimized-logical tree;\n"
            "a materialize() intermediate is an InMemoryRelation leaf, shown as\n"
            "`+Nc` — its build ran once, not per consumer. Shuffles: hash+range\n"
            "exchanges (includes the final ORDER BY range partitioning), the\n"
            "walk stopping at cache boundaries. Broadcasts, windows, and\n"
            "Python/Arrow stages likewise (python 0 everywhere except the\n"
            "documented Arrow batched operators).\n\n"
            "| query | scans | shuffles | broadcasts | windows | python | note |\n"
            "|---|---|---|---|---|---|---|\n"
        )
        for r in rows:
            f.write("| " + " | ".join(str(x) for x in r) + " |\n")
    py_total = sum(r[5] for r in rows if isinstance(r[5], int))
    print(f"wrote PLANS.md: {len(rows)} queries, python stages total={py_total}")


if __name__ == "__main__":
    main()
