"""Per-layer tracing from outside the program.

``install()`` replaces the public functions of the engine's modules with thin
wrappers that record a span (name, start, end, parent, operation id) while the
tracer is enabled. It must run before ``makerdao_dw_spark.queries`` is
imported: query modules bind ``configure``, ``load_table`` and
``query_table`` (``_t = query_table``) at import time, so they pick up the
wrappers only if these are in place first. Bindings made by modules that were
already imported are rewritten too.

Spans live in memory and are written as JSON when the run ends. A span's self
time is its duration minus the part of it that its child spans cover.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import sys
import threading
import time

# module -> layer name; every public function defined in the module is traced
TRACED_MODULES = {
    "makerdao_dw_spark.session": "session",
    "makerdao_dw_spark.operators.ann_eval": "operators",
    "makerdao_dw_spark.operators.graph": "operators",
    "makerdao_dw_spark.operators.kmeans": "operators",
    "makerdao_dw_spark.operators.multimodal": "operators",
    "makerdao_dw_spark.operators.order_stats": "operators",
    "makerdao_dw_spark.operators.pca": "operators",
    "makerdao_dw_spark.operators.quality": "operators",
    "makerdao_dw_spark.operators.skew": "operators",
    "makerdao_dw_spark.operators.text_features": "operators",
    "makerdao_dw_spark.decode.decoders": "decode",
    "makerdao_dw_spark.ingest.pipeline": "ingest",
    "makerdao_dw_spark.streaming.jobs": "streaming",
}


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.op: int | None = None
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def span(self, name: str, fn, *args, **kwargs):
        """Run fn inside a span named `name` (a no-op wrapper when disabled)."""
        if not self.enabled:
            return fn(*args, **kwargs)
        stack = self._stack()
        rec = {"name": name, "start": time.perf_counter(), "end": None,
               "parent": stack[-1] if stack else None, "op": self.op}
        with self._lock:
            idx = len(self.spans)
            self.spans.append(rec)
        stack.append(idx)
        try:
            return fn(*args, **kwargs)
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()

    def self_times(self, ops: set[int]) -> dict[str, list[float]]:
        """span name -> self time of every span of the given operations."""
        child_cover: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                child_cover[s["parent"]] = child_cover.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, list[float]] = {}
        for i, s in enumerate(self.spans):
            if s["op"] in ops and s["end"] is not None:
                out.setdefault(s["name"], []).append(s["end"] - s["start"] - child_cover.get(i, 0.0))
        return out

    def totals(self, ops: set[int]) -> dict[str, tuple[int, float]]:
        """span name -> (calls, inclusive seconds) over the given operations.
        A span nested in a span of the same name is counted once, through
        its outermost ancestor."""
        out: dict[str, tuple[int, float]] = {}
        for s in self.spans:
            if s["op"] not in ops or s["end"] is None:
                continue
            p, nested = s["parent"], False
            while p is not None:
                if self.spans[p]["name"] == s["name"]:
                    nested = True
                    break
                p = self.spans[p]["parent"]
            n, t = out.get(s["name"], (0, 0.0))
            out[s["name"]] = (n + 1, t + (0.0 if nested else s["end"] - s["start"]))
        return out

    def dump(self, path: str, extra: dict) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [
            {**s, "start": round(s["start"] - t0, 6),
             "end": None if s["end"] is None else round(s["end"] - t0, 6)}
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump({"spans": spans, **extra}, f)


TRACER = Tracer()


def _public_functions(mod) -> dict[str, object]:
    return {
        name: obj
        for name, obj in vars(mod).items()
        if inspect.isfunction(obj) and not name.startswith("_") and obj.__module__ == mod.__name__
    }


def install() -> Tracer:
    """Wrap the traced modules' public functions; returns the tracer."""
    if "makerdao_dw_spark.queries" in sys.modules:
        raise RuntimeError("trace.install() must run before makerdao_dw_spark.queries is imported")
    replaced: dict[int, object] = {}
    for modname, layer in TRACED_MODULES.items():
        mod = importlib.import_module(modname)
        short = modname.rsplit(".", 1)[-1]
        for name, fn in _public_functions(mod).items():
            span_name = f"operators.{short}.{name}" if layer == "operators" else f"{layer}.{name}"

            def make(fn=fn, span_name=span_name):
                @functools.wraps(fn)
                def traced(*args, **kwargs):
                    return TRACER.span(span_name, fn, *args, **kwargs)

                return traced

            replaced[id(fn)] = make()
    # rebind every name that already points at an original function,
    # including `from x import f` copies in modules imported above
    for mod in list(sys.modules.values()):
        if not getattr(mod, "__name__", "").startswith("makerdao_dw_spark"):
            continue
        for name, obj in list(vars(mod).items()):
            if inspect.isfunction(obj) and id(obj) in replaced:
                setattr(mod, name, replaced[id(obj)])
    return TRACER


class EngineStats:
    """Per-operation Spark execution statistics read from the status store,
    by job-id range (jobs get increasing ids; operations run one at a time,
    but an operation may run jobs from several threads)."""

    FIELDS = ("jobs", "stages", "tasks", "exec_s", "executor_run_s", "executor_cpu_s",
              "jvm_gc_s", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext._jsc.sc()

    def next_job_id(self) -> int:
        return int(self._sc.dagScheduler().nextJobId())

    def collect(self, first: int, end: int) -> dict[str, float]:
        """Aggregate jobs [first, end). Call after the listener bus drained."""
        store = self._sc.statusStore()
        out = dict.fromkeys(self.FIELDS, 0.0)
        intervals = []
        for jid in range(first, end):
            try:
                job = store.job(jid)
            except Exception:
                continue
            out["jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime(), done.get().getTime()))
            ids = job.stageIds()
            for k in range(ids.size()):
                try:
                    st = store.lastStageAttempt(ids.apply(k))
                except Exception:
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                out["executor_run_s"] += st.executorRunTime() / 1e3
                out["executor_cpu_s"] += st.executorCpuTime() / 1e9
                out["jvm_gc_s"] += st.jvmGcTime() / 1e3
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
        # wall covered by at least one job (jobs may overlap)
        covered, cur_end = 0, None
        for a, b in sorted(intervals):
            if cur_end is None or a > cur_end:
                covered += b - a
                cur_end = b
            elif b > cur_end:
                covered += b - cur_end
                cur_end = b
        out["exec_s"] = covered / 1e3
        return out

    def drain(self) -> None:
        self._sc.listenerBus().waitUntilEmpty()


class StreamingStats:
    """A StreamingQueryListener that keeps each micro-batch's durations."""

    KEYS = {"trigger_ms": "triggerExecution", "add_batch_ms": "addBatch",
            "wal_commit_ms": "walCommit", "planning_ms": "queryPlanning",
            "latest_offset_ms": "latestOffset"}

    def __init__(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        batches = self.batches = []

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event) -> None:
                pass

            def onQueryProgress(self, event) -> None:
                batches.append(dict(event.progress.durationMs))

            def onQueryIdle(self, event) -> None:
                pass

            def onQueryTerminated(self, event) -> None:
                pass

        self.listener = _Listener()
        spark.streams.addListener(self.listener)
