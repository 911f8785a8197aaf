"""The three workloads. Each is a closed loop with one client thread: the next
operation starts when the previous one has returned.

- ``olap``: the 15 ``bench.HEADLINE`` queries, in a new seeded order each
  pass, one query = ``fn()`` through ``collect()``.
- ``backfill``: one round = ``demux_and_write`` of the bronze raw logs into a
  fresh warehouse, ``resume_block``, then the ``assets_per_type`` dashboard.
- ``refresh``: one step = a raw-log batch lands, ``stream_ingest_logs``
  drains it into the growing warehouse, then the dashboard runs.

Every operation's answer is checked against expected answers computed during
set-up; a mismatch or an exception is a failed operation.
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import math
import os
import random
import shutil
import statistics
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import duckdb
import pyarrow.parquet as pq

from makerdao_dw_spark.ingest import pipeline
from makerdao_dw_spark.queries import assets_per_type as apt
from makerdao_dw_spark.queries import oracles_dict, queries_dict
from makerdao_dw_spark.streaming import jobs as streaming_jobs

from . import inputs
from .trace import TRACER, EngineStats


DRIVE_ENTRY = os.path.join(os.path.dirname(inputs.HERE), "tools", "drive_entry.py")


def _load_canon():
    """tools/drive_entry.py's strict `canon`, the oracle comparison's
    normalisation. The module edits sys.path when imported; that is undone."""
    spec = importlib.util.spec_from_file_location("perfbench_drive_entry", DRIVE_ENTRY)
    mod = importlib.util.module_from_spec(spec)
    saved = list(sys.path)
    try:
        spec.loader.exec_module(mod)
    finally:
        sys.path[:] = saved
    return mod.canon


canon = _load_canon()

# bench.py's headline suite (streaming_windowed_counts is left out: it is
# scheduler-bound, and the refresh workload covers streaming)
HEADLINE = [
    "flagship_events_funnel",
    "q1_pricing_summary",
    "multiway_join_revenue",
    "asof_join_order_events",
    "window_cumulative",
    "window_rank_lag",
    "gap_fill_sequence",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_connected_components",
    "ann_bruteforce_topk",
    "text_quality_stats",
    "text_tfidf_topterms",
    "salted_skew_aggregate",
    "dedup_embedding_cosine_banded",
]

OLAP_WARMUP_PASSES = 2
CACHE_DIR = os.path.join(os.path.dirname(inputs.HERE), ".perfbench_cache")
SCHEMA = "makermcd"
BACKFILL_BLOCKS = 8_000  # ~13.8k raw logs
REFRESH_BACKLOG_BLOCKS = 2_000  # drained during set-up
REFRESH_BATCH_BLOCKS = 250  # ~430 raw logs per landed batch
REFRESH_BATCHES = 16  # a run measures 4 to 7 steps; the rest is headroom for faster code


def _duck(con, sql: str):
    res = con.execute(sql)
    return canon([d[0] for d in res.description], res.fetchall())


def _dir_stats(path: str) -> tuple[int, int]:
    """(parquet data files, bytes) under path."""
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


def percentile(values: list[float], q: int) -> float:
    """q-th percentile, interpolated between closest ranks (q=50 is the median)."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


class Op:
    """One measured operation's outcome. `layers` holds the traced-run
    measurements of the operation (empty when untraced)."""

    def __init__(self, name: str) -> None:
        self.name = name
        self.latency = 0.0
        self.ok = False
        self.error = ""
        self.parts: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.jobs: list[tuple[int, int, str]] = []  # (first, end, phase) job-id ranges


class Workload:
    name = ""

    def __init__(self, run_dir: str, seed: int, traced: bool) -> None:
        self.run_dir = run_dir
        self.seed = seed
        self.traced = traced
        self.spark = None
        self.engine = None
        self.setup_parts: dict[str, float] = {}
        self.prep: threading.Thread | None = None
        self._prep_error: BaseException | None = None

    # -- set-up ----------------------------------------------------------------
    def start_prepare(self) -> None:
        """Run prepare() in a thread, so it overlaps the Spark session start."""

        def target() -> None:
            t0 = time.perf_counter()
            try:
                self.prepare()
            except BaseException as e:  # noqa: BLE001 - re-raised by join_prepare
                self._prep_error = e
            self.setup_parts["prepare_s"] = time.perf_counter() - t0

        self.prep = threading.Thread(target=target, name="perfbench-prepare")
        self.prep.start()

    def join_prepare(self) -> None:
        t0 = time.perf_counter()
        self.prep.join()
        self.setup_parts["prepare_wait_s"] = time.perf_counter() - t0
        if self._prep_error is not None:
            raise self._prep_error

    def attach(self, spark) -> None:
        self.spark = spark
        self.engine = EngineStats(spark) if self.traced else None

    # -- hooks ---------------------------------------------------------------
    def prepare(self) -> None:
        """Inputs and expected answers: work that needs no Spark session."""

    def setup(self) -> None:
        """Warm-up with the session; calls join_prepare()."""
        raise NotImplementedError

    def passes(self):
        """Yield lists of operation names; the loop stops at pass boundaries."""
        raise NotImplementedError

    def run_op(self, name: str, traced: bool) -> Op:
        raise NotImplementedError

    def summary(self, ops: list[Op]) -> dict[str, tuple[float, str, int]]:
        """Workload-specific end-to-end figures: name -> (value, unit, n)."""
        return {}

    # -- shared measurement of a DataFrame-returning call --------------------
    def _query(self, op: Op, build, traced: bool):
        """Time build() -> DataFrame -> collect(). Traced: also split build /
        plan / collect, count jobs per phase and time a noop write."""
        if not traced:
            t0 = time.perf_counter()
            df = build()
            rows = df.collect()
            op.parts["query_s"] = time.perf_counter() - t0
            return df, rows
        j0 = self.engine.next_job_id()
        t0 = time.perf_counter()
        df = TRACER.span("queries.build", build)
        t1 = time.perf_counter()
        j1 = self.engine.next_job_id()
        df._jdf.queryExecution().executedPlan()
        t2 = time.perf_counter()
        rows = df.collect()
        t3 = time.perf_counter()
        j2 = self.engine.next_job_id()
        df.write.format("noop").mode("overwrite").save()
        noop = time.perf_counter() - t3
        op.parts["query_s"] = t3 - t0
        op.layers.update(
            {
                "queries.build_s": t1 - t0,
                "planner.plan_s": t2 - t1,
                "driver.collect_s": max(t3 - t2 - noop, 0.0),
                "driver.result_rows": len(rows),
            }
        )
        op.jobs += [(j0, j1, "build"), (j1, j2, "exec")]
        return df, rows


# ---------------------------------------------------------------------------
class Olap(Workload):
    name = "olap"

    sf_dir = inputs.OLAP_DIR

    def prepare(self) -> None:
        """The DuckDB oracles' answers. They run while the session starts and
        Spark does its warm-up pass, once per checkout: the answers are kept
        in CACHE_DIR under a hash of DuckDB's version, the oracle SQL, the
        normalisation and the input files, so a change to any of them is
        answered afresh."""
        oracles = oracles_dict()
        key = hashlib.sha256(duckdb.__version__.encode())
        for n in HEADLINE:
            key.update(f"{n}\0{oracles[n]}\0".encode())
        for path in [DRIVE_ENTRY] + [os.path.join(self.sf_dir, t) for t in sorted(os.listdir(self.sf_dir))]:
            with open(path, "rb") as f:
                key.update(f.read())
        path = os.path.join(CACHE_DIR, f"olap-expected-{key.hexdigest()[:20]}.json")
        if os.path.exists(path):
            with open(path) as f:
                self.expected = {n: (cols, [tuple(r) for r in rows])
                                 for n, (cols, rows) in json.load(f).items()}
            return
        con = duckdb.connect(config={"threads": 2})
        for t in os.listdir(self.sf_dir):
            con.execute(
                f"CREATE VIEW {t.removesuffix('.parquet')} AS "
                f"SELECT * FROM read_parquet('{os.path.join(self.sf_dir, t)}')"
            )
        self.expected = {n: _duck(con, oracles[n]) for n in HEADLINE}
        con.close()
        os.makedirs(CACHE_DIR, exist_ok=True)
        with open(path + ".tmp", "w") as f:
            json.dump(self.expected, f)
        os.replace(path + ".tmp", path)

    def setup(self) -> None:
        """Untimed warm-up passes, whose answers are checked too. After one
        warm-up pass, the next pass still took 1% to 48% longer than the
        one after it, varying from run to run; two warm-up passes steady it."""
        t0 = time.perf_counter()
        self.fns = queries_dict()
        warm: dict[str, list] = {n: [] for n in HEADLINE}
        for _ in range(OLAP_WARMUP_PASSES):
            for n in HEADLINE:
                try:
                    df, rows = self._query(Op(n), lambda n=n: self.fns[n](self.spark, self.sf_dir), False)
                    warm[n].append(canon(df.columns, rows))
                except Exception:  # noqa: BLE001 - reported as a warm-up failure
                    warm[n].append(None)
        self.setup_parts["warmup_s"] = time.perf_counter() - t0
        self.join_prepare()
        self.warmup_failures = [n for n in HEADLINE
                                if any(got != self.expected.get(n) for got in warm[n])]

    def passes(self):
        rng = random.Random(f"olap:{self.seed}")
        while True:
            order = list(HEADLINE)
            rng.shuffle(order)
            yield order

    def run_op(self, name: str, traced: bool) -> Op:
        op = Op(name)
        try:
            df, rows = self._query(op, lambda: self.fns[name](self.spark, self.sf_dir), traced)
            op.ok = canon(df.columns, rows) == self.expected[name]
            op.error = "" if op.ok else "answer differs from the DuckDB oracle"
        except Exception as e:  # noqa: BLE001 - an exception is a failed operation
            op.error = f"{type(e).__name__}: {e}"[:300]
        op.latency = op.parts.get("query_s", 0.0)
        return op

    def summary(self, ops):
        lat = [o.latency for o in ops]
        out = {
            "queries_per_min": (60 * len(lat) / sum(lat), "1/min", len(lat)),
            "query_p50_s": (percentile(lat, 50), "s", len(lat)),
        }
        if len(lat) >= 40:
            out["query_p75_s"] = (percentile(lat, 75), "s", len(lat))
        return out


# ---------------------------------------------------------------------------
class _Maker(Workload):
    """Shared set-up of the two ingest workloads."""

    def _chain(self, n_blocks: int) -> None:
        self.specs = inputs.maker_specs()
        self.logs, self.encoded = inputs.maker_logs(self.seed, n_blocks, self.specs)

    def _expected_dashboard(self, max_block: int | None) -> dict:
        con = duckdb.connect()
        for t, tbl in inputs.reference_tables(self.encoded, max_block).items():
            con.register(t, tbl)
        res = con.execute(apt.DUCKDB_SQL)
        out = _dashboard_rows([d[0] for d in res.description], res.fetchall())
        con.close()
        return out

    def _expected_counts(self, max_block: int | None) -> dict[str, int]:
        return {
            t: sum(1 for r in rows if max_block is None or r[0] < max_block)
            for t, rows in self.encoded.items()
        }

    def _dashboard(self, op: Op, wh: str, traced: bool, expected) -> bool:
        """Build and collect the dashboard (timed as op.parts["query_s"])."""
        df, rows = self._query(op, lambda: apt.assets_per_type(self.spark, wh), traced)
        if traced:
            op.layers["io.files_read"] = sum(
                len(self.spark.read.parquet(os.path.join(wh, SCHEMA, t)).inputFiles())
                for t in apt.TABLES
            )
        got = _dashboard_rows(df.columns, rows)
        if got.keys() != expected.keys() or not all(
            math.isclose(a, b, rel_tol=1e-12, abs_tol=1.5e-6)
            for k, vals in got.items() for a, b in zip(vals, expected[k])
        ):
            op.error = "dashboard differs from the DuckDB reference"
            return False
        return True

    def _decode_only(self, op: Op, raw_path: str) -> None:
        """Traced runs: decode every spec of raw_path into a noop sink, the
        tables concurrently as demux_and_write runs them, so decode is
        timed without the parquet writer."""
        raw = self.spark.read.schema(pipeline.RAW_LOG_SCHEMA).parquet(raw_path)

        def one(spec) -> None:
            pipeline.decode_logs_for_table(raw, spec).write.format("noop").mode("overwrite").save()

        TRACER.enabled = False  # not part of the operation
        t0 = time.perf_counter()
        with ThreadPoolExecutor(max_workers=len(self.specs)) as pool:
            list(pool.map(one, self.specs))
        op.layers["decode.only_s"] = time.perf_counter() - t0

    def _sink(self, op: Op, wh: str, rows: int) -> None:
        files, size = _dir_stats(wh)
        op.layers.update({"io.sink_files": files, "io.sink_bytes": size,
                          "io.bytes_per_row": size / max(rows, 1)})


class Backfill(_Maker):
    name = "backfill"

    def prepare(self) -> None:
        self._chain(BACKFILL_BLOCKS)
        self.bronze = os.path.join(self.run_dir, "bronze.parquet")
        inputs.write_raw_logs(self.logs, self.bronze)
        self.expected_counts = self._expected_counts(None)
        self.expected_head = max(lg["blockNumber"] for lg in self.logs) + 1
        self.expected = self._expected_dashboard(None)
        self.rounds = 0

    def setup(self) -> None:
        self.join_prepare()
        t0 = time.perf_counter()
        self.warmup_failures = [] if self.run_op("round", False).ok else ["round"]
        self.setup_parts["warmup_s"] = time.perf_counter() - t0

    def passes(self):
        while True:
            yield ["round"]

    def run_op(self, name: str, traced: bool) -> Op:
        op = Op(name)
        wh = os.path.join(self.run_dir, f"warehouse_{self.rounds}")
        self.rounds += 1
        j0 = self.engine.next_job_id() if traced else 0
        t0 = time.perf_counter()
        try:
            raw = self.spark.read.schema(pipeline.RAW_LOG_SCHEMA).parquet(self.bronze)
            pipeline.demux_and_write(raw, self.specs, wh, SCHEMA)
            t1 = time.perf_counter()
            head = pipeline.resume_block(self.spark, wh, SCHEMA, self.specs, 0)
            t2 = time.perf_counter()
            if traced:
                op.jobs.append((j0, self.engine.next_job_id(), "ingest"))
            ok = self._dashboard(op, wh, traced, self.expected)
            op.latency = t2 - t0 + op.parts["query_s"]
            op.parts.update({"demux_s": t1 - t0, "resume_s": t2 - t1})
            on_disk = {t: _table_rows(os.path.join(wh, SCHEMA, t)) for t in self.expected_counts}
            if on_disk != self.expected_counts:
                ok, op.error = False, f"rows on disk {on_disk} != decodable logs {self.expected_counts}"
            if head != self.expected_head:
                ok, op.error = False, f"resume_block {head} != {self.expected_head}"
            op.ok = ok
            if traced:
                written = sum(on_disk.values())
                self._decode_only(op, self.bronze)
                self._sink(op, wh, written)
                op.layers.update({
                    "ingest.demux_s": t1 - t0,
                    "ingest.resume_s": t2 - t1,
                    "ingest.tables": sum(1 for n in on_disk.values() if n),
                    "decode.rows": written,
                    "decode.dropped_rows": len(self.logs) - written,
                    "decode.rows_per_s": written / op.layers["decode.only_s"],
                    "io.write_s": max(t1 - t0 - op.layers["decode.only_s"], 0.0),
                })
        except Exception as e:  # noqa: BLE001 - an exception is a failed operation
            op.error = f"{type(e).__name__}: {e}"[:300]
            op.latency = op.latency or time.perf_counter() - t0
        finally:
            shutil.rmtree(wh, ignore_errors=True)
        return op

    def summary(self, ops):
        demux = [o.parts["demux_s"] for o in ops if "demux_s" in o.parts]
        dash = [o.parts["query_s"] for o in ops if "demux_s" in o.parts]
        out = {}
        if demux:
            out["ingest_logs_per_s"] = (len(self.logs) / statistics.median(demux), "1/s", len(demux))
            out["dashboard_s"] = (statistics.median(dash), "s", len(dash))
        return out


class Refresh(_Maker):
    name = "refresh"

    def prepare(self) -> None:
        n_blocks = REFRESH_BACKLOG_BLOCKS + REFRESH_BATCHES * REFRESH_BATCH_BLOCKS
        self._chain(n_blocks)
        self.landing = os.path.join(self.run_dir, "landing")
        self.pending = os.path.join(self.run_dir, "pending")
        self.wh = os.path.join(self.run_dir, "warehouse")
        self.ckpt = os.path.join(self.run_dir, "checkpoint")
        os.makedirs(self.landing)
        os.makedirs(self.pending)
        # batch 0 is the backlog; batch k >= 1 covers blocks [bounds[k-1], bounds[k])
        self.bounds = [REFRESH_BACKLOG_BLOCKS + k * REFRESH_BATCH_BLOCKS
                       for k in range(REFRESH_BATCHES + 1)]
        lo = 0
        self.batch_logs = []
        for k, hi in enumerate(self.bounds):
            batch = [lg for lg in self.logs if lo <= lg["blockNumber"] < hi]
            inputs.write_raw_logs(batch, os.path.join(self.pending, f"batch_{k:04d}.parquet"))
            self.batch_logs.append(len(batch))
            lo = hi
        self.expected_heads = [
            max(lg["blockNumber"] for lg in self.logs if lg["blockNumber"] < hi) + 1
            for hi in self.bounds
        ]
        self.expected = [self._expected_dashboard(hi) for hi in self.bounds]
        self.expected_counts = [self._expected_counts(hi) for hi in self.bounds]
        self.landed = 0

    def setup(self) -> None:
        self.join_prepare()
        t0 = time.perf_counter()
        # warm-up: drain the backlog and one batch
        self.warmup_failures = [n for n in ("backlog", "warm") if not self.run_op(n, False).ok]
        self.setup_parts["warmup_s"] = time.perf_counter() - t0

    def passes(self):
        while self.landed <= REFRESH_BATCHES:
            yield [f"batch_{self.landed:04d}"]

    def run_op(self, name: str, traced: bool) -> Op:
        op = Op(name)
        k = self.landed
        self.landed += 1
        batch = f"batch_{k:04d}.parquet"
        j0 = self.engine.next_job_id() if traced else 0
        t0 = time.perf_counter()
        try:
            os.rename(os.path.join(self.pending, batch), os.path.join(self.landing, batch))
            streaming_jobs.stream_ingest_logs(self.spark, self.landing, self.specs, self.wh,
                                              SCHEMA, self.ckpt)
            t1 = time.perf_counter()
            if traced:
                op.jobs.append((j0, self.engine.next_job_id(), "ingest"))
            op.ok = self._dashboard(op, self.wh, traced, self.expected[k])
            op.latency = t1 - t0 + op.parts["query_s"]
            op.parts["drain_s"] = t1 - t0
            counts = {t: _table_rows(os.path.join(self.wh, SCHEMA, t)) for t in self.expected_counts[k]}
            if counts != self.expected_counts[k]:
                op.ok, op.error = False, f"warehouse rows {counts} != {self.expected_counts[k]}"
            if traced:
                # the drain is this workload's demultiplexing ingest; the
                # resume probe runs after the operation, outside its latency
                written = sum(counts.values()) - (
                    sum(self.expected_counts[k - 1].values()) if k else 0)
                self._decode_only(op, os.path.join(self.landing, batch))
                self._sink(op, self.wh, sum(counts.values()))
                t2 = time.perf_counter()
                head = pipeline.resume_block(self.spark, self.wh, SCHEMA, self.specs, 0)
                op.layers.update({
                    "ingest.demux_s": t1 - t0,
                    "ingest.tables": sum(1 for n in counts.values() if n),
                    "ingest.resume_s": time.perf_counter() - t2,
                    "decode.rows": written,
                    "decode.dropped_rows": self.batch_logs[k] - written,
                    "decode.rows_per_s": written / op.layers["decode.only_s"],
                    "io.write_s": max(t1 - t0 - op.layers["decode.only_s"], 0.0),
                })
                if head != self.expected_heads[k]:
                    op.ok, op.error = False, f"resume_block {head} != {self.expected_heads[k]}"
        except Exception as e:  # noqa: BLE001 - an exception is a failed operation
            op.error = f"{type(e).__name__}: {e}"[:300]
            op.latency = op.latency or time.perf_counter() - t0
        return op

    def summary(self, ops):
        lat = [o.latency for o in ops]
        out = {"refresh_p50_s": (percentile(lat, 50), "s", len(lat))}
        if len(lat) >= 40:
            out["refresh_p75_s"] = (percentile(lat, 75), "s", len(lat))
        return out


def _dashboard_rows(cols, rows) -> dict[tuple, tuple[float, ...]]:
    """assets_per_type rows keyed by (dt, collateral). The values are compared
    with a tolerance of one unit in the sixth decimal: `asset` is a double
    (dart * rate) cast to DECIMAL(38,6), and the two engines' decimal-to-double
    casts can differ by one ulp, which flips the last decimal on some inputs."""
    i = {c: k for k, c in enumerate(cols)}
    return {
        (r[i["dt"]], r[i["collateral"]]): tuple(
            float(r[i[c]]) for c in ("asset", "annual_revenues", "blended_rate"))
        for r in rows
    }


def _table_rows(path: str) -> int:
    """Rows of the parquet data files under path."""
    n = 0
    for root, _, names in os.walk(path):
        for f in names:
            if f.endswith(".parquet"):
                n += pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
    return n


WORKLOADS = {w.name: w for w in (Olap, Backfill, Refresh)}
