#!/usr/bin/env python3
"""Warehouse benchmark: one command, three seeded workloads, checked answers.

Usage (from the repository root):

    python3 perfbench/run.py --workload olap|backfill|refresh --seed N \
        --seconds S --trace 0|1

Set-up (Spark session start, seeded input generation, expected answers and an
untimed warm-up) is timed as ``setup_s``. Then whole passes of operations run
back to back, one client thread, until ``--seconds`` have elapsed. Every
answer is checked; a wrong answer or an exception is a failed operation.

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a separate traced run (see README.md). The last line of standard
output is one JSON object: ``correct``, ``attempted``, ``failed``, ``metrics``.

Everything the run writes goes to one run directory under the checkout
(``.perfbench_run/``), which is removed at exit; a traced run also leaves its
spans in ``.perfbench_traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shlex
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEM = "2g"


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _entries(*dirs: str) -> int:
    return sum(len(os.listdir(d)) for d in dirs if os.path.isdir(d))


def _hermetic_env(run_dir: str, traced: bool) -> dict[str, str]:
    """Point every scratch location of Python, the JVM and Spark at run_dir."""
    dirs = {k: os.path.join(run_dir, k) for k in ("tmp", "local", "warehouse")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": dirs["warehouse"],
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData",
    }
    if traced:  # keep every job and stage of the run in the status store
        conf.update({"spark.ui.retainedJobs": "100000", "spark.ui.retainedStages": "100000"})
    os.environ.update(
        {
            "TMPDIR": dirs["tmp"],
            "SPARK_LOCAL_DIRS": dirs["local"],
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "PYSPARK_SUBMIT_ARGS": " ".join(
                f"--conf {shlex.quote(f'{k}={v}')}" for k, v in conf.items()
            ) + " pyspark-shell",
        }
    )
    return dirs


def _stop(spark) -> None:
    """Stop the session and the JVM gateway process, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def _layer_metrics(wl, traced_ops, untraced_ops, tracer, stream) -> dict[str, float]:
    """Per-layer metrics of the traced operations: per-operation means,
    shares of the traced operations' total latency, and counts."""
    n = max(len(traced_ops), 1)

    def mean(key: str) -> float:
        return sum(o.layers.get(key, 0.0) for o in traced_ops) / n

    wall = sum(o.latency for o in traced_ops) or 1.0
    out: dict[str, float] = {
        "queries.build_s": mean("queries.build_s"),
        "queries.build_share": sum(o.layers.get("queries.build_s", 0.0) for o in traced_ops) / wall,
        "planner.plan_s": mean("planner.plan_s"),
        "driver.collect_s": mean("driver.collect_s"),
        "driver.result_rows": mean("driver.result_rows"),
    }
    # engine: status-store statistics of every job an operation started
    wl.engine.drain()
    engine = dict.fromkeys(wl.engine.FIELDS, 0.0)
    build_jobs = 0.0
    for o in traced_ops:
        for first, end, phase in o.jobs:
            stats = wl.engine.collect(first, end)
            for k, v in stats.items():
                engine[k] += v
            if phase == "build":
                build_jobs += stats["jobs"]
    out["queries.build_jobs"] = build_jobs / n
    out.update({f"engine.{k}": v / n for k, v in engine.items()})
    # session and operators: spans recorded by the wrappers
    ids = {o.seq for o in traced_ops}
    totals = tracer.totals(ids)

    def calls(*names: str) -> tuple[float, float]:
        c = sum(totals.get(f"session.{x}", (0, 0.0))[0] for x in names)
        t = sum(totals.get(f"session.{x}", (0, 0.0))[1] for x in names)
        return c / n, t / n

    out["session.configure_calls"], out["session.configure_s"] = calls("configure")
    out["session.load_table_calls"], out["session.load_table_s"] = calls("load_table")
    out["session.materialize_s"] = calls("materialize", "materialize_lazy")[1]
    out["session.stage_s"] = calls("stage", "stage_bucketed")[1]
    out["operators.self_s"] = sum(
        sum(v) for k, v in tracer.self_times(ids).items() if k.startswith("operators.")
    ) / n
    for key in ("decode.rows", "decode.dropped_rows", "decode.rows_per_s",
                "ingest.demux_s", "ingest.tables", "ingest.resume_s",
                "io.write_s", "io.sink_files", "io.sink_bytes", "io.bytes_per_row",
                "io.files_read"):
        out[key] = mean(key)
    # streaming: micro-batches the listener saw during the measured loop
    steps = max(len(traced_ops) + len(untraced_ops), 1)
    batches = stream.batches[stream.loop_start:]
    out["streaming.batches"] = len(batches) / steps
    for name, key in stream.KEYS.items():
        vals = [b.get(key, 0) for b in batches]
        out[f"streaming.{name}"] = statistics.fmean(vals) if vals else 0.0
    # tracing overhead: traced minus untraced latency of the same operations
    if traced_ops and untraced_ops:
        out["trace.overhead_s"] = (statistics.fmean(o.latency for o in traced_ops)
                                   - statistics.fmean(o.latency for o in untraced_ops))
    else:
        out["trace.overhead_s"] = 0.0
    return out


def _layer_units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def _measure(args, wl, spark, tracer):
    """Set the workload up, then run whole passes until --seconds elapsed.
    A traced run times every olap query untraced and traced (order
    alternating), and alternates traced and untraced rounds/steps of the
    stateful workloads."""
    from perfbench.trace import StreamingStats

    stream = StreamingStats(spark) if args.trace else None
    wl.attach(spark)
    wl.setup()
    setup_end = time.perf_counter()
    traced_ops, untraced_ops, ops = [], [], []
    if stream is not None:
        wl.engine.drain()
        stream.loop_start = len(stream.batches)
    t_loop = time.perf_counter()
    for names in wl.passes():
        if time.perf_counter() - t_loop >= args.seconds:
            break
        for name in names:
            if not args.trace:
                ops.append(wl.run_op(name, False))
                continue
            i = len(ops)
            modes = [i % 4 == 0, i % 4 != 0] if args.workload == "olap" else [bool(i % 2)]
            for traced in modes:
                op = _run(wl, tracer, name, len(traced_ops)) if traced else wl.run_op(name, False)
                (traced_ops if traced else untraced_ops).append(op)
                ops.append(op)
    loop_s = time.perf_counter() - t_loop
    layers = _layer_metrics(wl, traced_ops, untraced_ops, tracer, stream) if args.trace else {}
    return ops, layers, setup_end, loop_s


def run(args, run_dir: str, t_start: float) -> tuple[dict, list[str]]:
    dirs = _hermetic_env(run_dir, bool(args.trace))
    # import perfbench as a package from the checkout root, never its
    # modules as top-level names (trace.py would shadow the stdlib module)
    sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p) != HERE]
    tracer = None
    if args.trace:
        from perfbench import trace

        tracer = trace.install()
    import perfbench.workloads  # noqa: F401 - imports makerdao_dw_spark.queries
    import pyspark
    from makerdao_dw_spark.session import configure, get_spark
    from perfbench.workloads import WORKLOADS, percentile

    load_before = os.getloadavg()
    wl = WORKLOADS[args.workload](run_dir, args.seed, bool(args.trace))
    wl.start_prepare()  # inputs and expected answers, while the JVM starts
    spark = None
    try:
        spark = get_spark("perfbench", cpus=_nproc())
        spark.sparkContext.setLogLevel("ERROR")
        configure(spark)  # ships the package to the Python workers
        session_s = time.perf_counter() - t_start
        versions = {"spark": spark.version, "pyspark": pyspark.__version__,
                    "java": spark.sparkContext._jvm.System.getProperty("java.version"),
                    "python": platform.python_version()}
        ops, layers, setup_end, loop_s = _measure(args, wl, spark, tracer)
    finally:
        wl.prep.join()
        if spark is not None:
            _stop(spark)
    setup_s = setup_end - t_start
    failed = [o for o in ops if not o.ok]
    host = {"nproc": _nproc(), "loadavg_before": load_before,
            "loadavg_after": os.getloadavg(), **versions, "seed": args.seed}
    lines = [
        f"workload={args.workload} seed={args.seed} seconds={args.seconds} trace={args.trace} "
        f"setup_s={setup_s:.3f} loop_s={loop_s:.3f} wall_s={time.perf_counter() - t_start:.3f}",
        "setup " + " ".join(f"{k}={v:.3f}" for k, v in {"session_s": session_s, **wl.setup_parts}.items()),
        "host " + json.dumps(host),
    ]
    lines += [f"warm-up failure: {n}" for n in wl.warmup_failures]
    lines += [f"failed {o.name}: {o.error}" for o in failed[:10]]
    lines.append("ops " + " ".join(f"{o.name}={o.latency:.3f}" for o in ops))
    if args.trace:
        layers["session.tmp_entries_leaked"] = _entries(dirs["tmp"], dirs["local"])
        metrics = {k: {"value": layers[k], "unit": u} for k, u in _layer_units().items()}
        os.makedirs(os.path.join(ROOT, ".perfbench_traces"), exist_ok=True)
        trace_path = os.path.join(ROOT, ".perfbench_traces", f"{args.workload}-{args.seed}.json")
        tracer.dump(trace_path, {"host": host, "metrics": layers})
        lines.append(f"spans written to {os.path.relpath(trace_path, ROOT)}")
    else:
        lat = [o.latency for o in ops]
        metrics = {
            "setup_s": {"value": setup_s, "unit": "s"},
            "op_p50_s": {"value": percentile(lat, 50), "unit": "s"},
            "ops_per_min": {"value": 60 * len(lat) / sum(lat), "unit": "1/min"},
        }
        rows = [(k, m["value"], m["unit"], 1 if k == "setup_s" else len(lat)) for k, m in metrics.items()]
        rows.append(("failed_ratio", len(failed) / max(len(ops), 1), "ratio", len(ops)))
        rows += [(k, v, unit, n) for k, (v, unit, n) in wl.summary(ops).items()]
        lines.append(f"{'metric':<22}{'value':>14}  {'unit':<7} samples")
        lines += [f"{k:<22}{v:>14.4f}  {unit:<7} {n}" for k, v, unit, n in rows]
    result = {
        "correct": not failed and not wl.warmup_failures,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": metrics,
    }
    return result, lines


def _run(wl, tracer, name: str, seq: int):
    """One traced operation; its spans carry the operation id `seq`."""
    tracer.op, tracer.enabled = seq, True
    try:
        op = wl.run_op(name, True)
    finally:
        tracer.enabled = False
    op.seq = seq
    return op


def main(argv: list[str] | None = None) -> int:
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("olap", "backfill", "refresh"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=16)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    runs = os.path.join(ROOT, ".perfbench_run")
    run_dir = os.path.join(runs, f"{args.workload}-{args.seed}-{os.getpid()}")
    try:
        result, lines = run(args, run_dir, t_start)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(runs)
        except OSError:
            pass
    print("\n".join(lines))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
