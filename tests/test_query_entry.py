"""The per-query entry: the registry wrapper configures the session once
per top-level query, query bodies call plain load_table, one on-disk
size probe (session.input_bytes) feeds every scale gate, temp views
never leak out of a query, and only configure() and clone_with() write
a session's confs: conf-sensitive sections run on a kept clone."""

from __future__ import annotations

import ast
import os
import threading

import pytest

from makerdao_dw_spark import session as S
from makerdao_dw_spark.queries import oracles_dict, queries_dict
from makerdao_dw_spark.queries import registry as R

from .conftest import SF_DIR, SF_DIR_T2, compare_with_oracle, conf_override

PKG_DIR = os.path.dirname(S.__file__)
QUERIES_DIR = os.path.join(PKG_DIR, "queries")


def test_registered_query_configures_a_misconfigured_session(spark, sf_dir):
    key = "spark.sql.shuffle.partitions"
    with conf_override(spark, {key: "3"}):
        queries_dict()["cube_order_stats"](spark, sf_dir)
        assert spark.conf.get(key) == str(max(spark.sparkContext.defaultParallelism, 8))


def test_nested_registered_query_configures_once(spark, sf_dir, monkeypatch):
    calls = []
    real = S.configure

    def counting(s):
        calls.append(s)
        real(s)

    monkeypatch.setattr(S, "configure", counting)
    inner_name, outer_name = "_test_entry_inner", "_test_entry_outer"
    try:

        @R.query(inner_name)
        def inner(spark, sf_dir):
            return S.load_table(spark, sf_dir, "nation")

        @R.query(outer_name)
        def outer(spark, sf_dir):
            return R.REGISTRY[inner_name].fn(spark, sf_dir).limit(5)

        df = R.REGISTRY[outer_name].fn(spark, sf_dir)
    finally:
        R.REGISTRY.pop(inner_name, None)
        R.REGISTRY.pop(outer_name, None)
    assert calls == [spark]
    assert df.count() == 5


# ---------------------------------------------------------------------------
# input_bytes: the one table-size probe
# ---------------------------------------------------------------------------
def _sparse(path, size: int) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as f:
        f.truncate(size)


def test_input_bytes_single_file(tmp_path):
    _sparse(str(tmp_path / "t.parquet"), 1234)
    assert S.input_bytes(str(tmp_path), "t") == 1234


def test_input_bytes_nested_part_file_dir(tmp_path):
    d = tmp_path / "t.parquet"
    _sparse(str(d / "part-0.parquet"), 100)
    _sparse(str(d / "k=1" / "part-1.parquet"), 20)
    _sparse(str(d / "k=2" / "deeper" / "part-2.parquet"), 3)
    assert S.input_bytes(str(tmp_path), "t") == 123


def test_input_bytes_skips_hidden_and_marker_files(tmp_path):
    d = tmp_path / "t.parquet"
    _sparse(str(d / "part-0.parquet"), 100)
    _sparse(str(d / "_SUCCESS"), 7)
    _sparse(str(d / ".part-0.parquet.crc"), 9)
    _sparse(str(d / "_temporary" / "part-9.parquet"), 500)
    assert S.input_bytes(str(tmp_path), "t") == 100


def test_input_bytes_missing_path_is_none(tmp_path):
    assert S.input_bytes(str(tmp_path), "absent") is None


def test_scale_gates_agree_on_a_directory_table(spark, tmp_path):
    """use_parallel and input_partitions, at the drains' floor (4) and
    the CTE loop's (8), size a nested part-file table from the same
    bytes (sparse files: 300 MiB apparent, one file below the top
    level)."""
    from makerdao_dw_spark.operators.order_stats import use_parallel

    mib = 1 << 20
    d = tmp_path / "t.parquet"
    _sparse(str(d / "part-0.parquet"), 100 * mib)
    _sparse(str(d / "part-1.parquet"), 100 * mib)
    _sparse(str(d / "k=1" / "part-2.parquet"), 100 * mib)
    _sparse(str(d / "_SUCCESS"), 0)
    total = S.input_bytes(str(tmp_path), "t")
    assert total == 300 * mib
    with conf_override(spark, {"spark.sql.shuffle.partitions": "64"}):
        assert use_parallel(str(tmp_path), "t", threshold_bytes=total - 1)
        assert not use_parallel(str(tmp_path), "t", threshold_bytes=total)
        # ceil(300 MiB / 32 MiB) = 10 for both 32 MiB-per-partition gates
        assert S.input_partitions(spark, str(tmp_path), "t", floor=4) == 10
        assert S.input_partitions(spark, str(tmp_path), "t", floor=8) == 10


# ---------------------------------------------------------------------------
# temp views stay inside the query
# ---------------------------------------------------------------------------
def test_temp_view_queries_on_two_threads_match_oracles(spark):
    """The same view-using queries on two threads at once, over two scale
    dirs: a shared fixed view name would hand one thread the other's
    table."""
    qd, od = queries_dict(), oracles_dict()
    names = ["grouping_sets_events", "lateral_topk_customers"]
    start = threading.Barrier(2)
    errors: list[BaseException] = []

    def run(sf_dir: str) -> None:
        try:
            start.wait()
            for _ in range(3):
                for n in names:
                    compare_with_oracle(spark, n, qd[n], od[n], sf_dir)
        except BaseException as e:  # noqa: BLE001 - re-raised below
            errors.append(e)

    threads = [threading.Thread(target=run, args=(d,)) for d in (SF_DIR, SF_DIR_T2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors


# ---------------------------------------------------------------------------
# conf-sensitive sections run on a kept clone; the caller's confs stay
# ---------------------------------------------------------------------------
_WAIT_S = 120


def _confs(spark) -> str:
    return spark._jsparkSession.sessionState().conf().getAllConfs().toString()


def _section(kind: str):
    """(raw query fn, module, name of the function the section calls
    while its confs are in force) for the recursive-CTE loop or a
    streaming drain. Raw fns: no registry entry, so no configure() runs
    between the two threads' sections."""
    from makerdao_dw_spark.queries import modern2, streaming
    from makerdao_dw_spark.streaming import jobs

    if kind == "cte":
        return modern2.recursive_cte_reachability, modern2, "stage"
    return streaming.streaming_windowed_counts, jobs, "_await_available_now"


@pytest.mark.parametrize("first,second", [("cte", "cte"), ("drain", "cte")])
def test_interleaved_sections_leave_caller_confs_alone(spark, sf_dir, monkeypatch, first, second):
    """Two threads each run a conf-sensitive section, forced by events to
    interleave: the first enters, the second enters, the first leaves,
    the second leaves. Sections that set and restored the shared
    session's confs left AQE off (cte, cte) or the drain's partition
    count (drain, cte) behind; on clones the caller's confs are exactly
    as before."""
    before = _confs(spark)
    first_in, second_in, first_done = (threading.Event() for _ in range(3))
    role = threading.local()
    errors: list[BaseException] = []

    def hooked(real):
        def run(*a, **k):
            if role.name == "first":
                first_in.set()
                assert second_in.wait(_WAIT_S)
            else:
                second_in.set()
                assert first_done.wait(_WAIT_S)
            return real(*a, **k)

        return run

    for kind in {first, second}:
        _, mod, attr = _section(kind)
        monkeypatch.setattr(mod, attr, hooked(getattr(mod, attr)))

    def thread(name: str, kind: str, done: threading.Event | None):
        def body():
            role.name = name
            try:
                _section(kind)[0](spark, sf_dir).collect()
            except BaseException as e:  # noqa: BLE001 - re-raised below
                errors.append(e)
            finally:
                first_in.set()
                second_in.set()
                if done is not None:
                    done.set()

        return threading.Thread(target=body)

    threads = [thread("first", first, first_done), thread("second", second, None)]
    threads[0].start()
    # the second section starts once the first is inside its own
    first_in.wait(_WAIT_S)
    threads[1].start()
    for t in threads:
        t.join()
    assert not errors, errors
    assert _confs(spark) == before


def test_cte_loop_keeps_aqe_off_while_another_thread_enters(spark, sf_dir, monkeypatch):
    """While the recursive-CTE loop is about to run, another thread
    enters a registered query (whose configure() turns AQE on for the
    caller's session): the loop still plans without AQE, and the result
    comes back on the caller's session."""
    from makerdao_dw_spark.queries import modern2

    plans: list[str] = []
    real = modern2.stage

    def stage_after_an_entry(df, *a, **k):
        other = threading.Thread(target=lambda: queries_dict()["cube_order_stats"](spark, sf_dir))
        other.start()
        other.join()
        assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return real(df, *a, **k)

    monkeypatch.setattr(modern2, "stage", stage_after_an_entry)
    out = queries_dict()["recursive_cte_reachability"](spark, sf_dir)
    assert len(plans) == 1 and "UnionLoop" in plans[0]
    assert "AdaptiveSparkPlan" not in plans[0], plans[0][:2000]
    assert out.sparkSession is spark
    assert out.count() > 0


CONF_SENSITIVE = [
    "recursive_cte_reachability",
    "streaming_windowed_counts",
    "streaming_hopping_counts",
    "streaming_session_windows",
    "streaming_stateful_user_stats",
    "streaming_dedup",
    "streaming_static_join",
    "streaming_stream_stream_join",
]


def test_conf_sensitive_queries_keep_one_clone_per_conf_set(spark, sf_dir):
    """Three rounds of the conf-sensitive queries make one clone per
    distinct conf set (the drains' state partitions, the drain without
    them, the CTE loop's), all in round 1.

    Listeners: the test counts the `StreamingQueryListenerBus` entries
    on the context's bus, which nothing removes. Spark itself adds one
    per stateful stream start (each streaming query runs on its own
    internal session, whatever session started it), so rounds 2 and 3
    add exactly one per drain; a new clone per drain would add a second.
    It does not count the bus's total size: once a session holds a
    `QueryExecutionListener` (the `ObservationManager` registers one at
    its first `observe`), every `cloneSession()` of it, a stream start's
    internal one too, adds an `ExecutionListenerBus` that the
    `ContextCleaner` removes when the clone is garbage-collected. The
    `observe` below puts the session in that state whatever ran
    before."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    spark.range(1).observe(Observation("clone_test"), F.count(F.lit(1))).count()
    spark.__dict__.pop(S._CLONES_ATTR, None)
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def stream_buses():
        return sum(l.getClass().getSimpleName() == "StreamingQueryListenerBus"
                   for l in bus.listeners())

    qd = queries_dict()
    clones, listeners = [], [stream_buses()]
    for _ in range(3):
        for name in CONF_SENSITIVE:
            assert qd[name](spark, sf_dir).count() > 0, name
        clones.append(len(spark.__dict__[S._CLONES_ATTR]))
        listeners.append(stream_buses())
    assert clones == [3, 3, 3]
    drains = len(CONF_SENSITIVE) - 1
    assert listeners[2] - listeners[1] == listeners[3] - listeners[2] == drains, listeners


def test_partitioned_overwrites_leave_session_mode_alone(spark, tmp_path):
    """demux_and_write overwrites partitions without touching the
    session's partition-overwrite mode, and untouched partitions
    survive."""
    from makerdao_dw_spark.abi.schema import compile_contract
    from makerdao_dw_spark.decode.abi_codec import encode_abi
    from makerdao_dw_spark.ingest.pipeline import RAW_LOG_SCHEMA, demux_and_write

    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    (spec,) = compile_contract("t", [{
        "type": "event", "anonymous": False, "name": "Note",
        "inputs": [{"name": "wad", "type": "uint256", "indexed": False}],
    }])

    def logs(*blocks):
        return spark.createDataFrame([{
            "address": "0x" + "ab" * 20, "topics": [spec.signature],
            "data": "0x" + encode_abi(["uint256"], [b]).hex(),
            "block_number": b, "block_hash": "0x" + "00" * 32, "log_index": 0,
            "transaction_index": 0, "transaction_hash": "0x" + "%064x" % b,
        } for b in blocks], RAW_LOG_SCHEMA)

    out = str(tmp_path / "wh")
    demux_and_write(logs(10, 25), [spec], out, "s", partition_blocks=10)
    demux_and_write(logs(12), [spec], out, "s", partition_blocks=10)
    assert spark.conf.get(key) == before
    blocks = {r[0] for r in spark.read.parquet(os.path.join(out, "s", spec.table))
              .select("block_number").collect()}
    assert blocks == {12, 25}


# ---------------------------------------------------------------------------
# guard: the per-query lifecycle and size probe stay in one place
# ---------------------------------------------------------------------------
_CONFIGURE_OWNERS = {"registry.py", "assets_per_type.py"}


@pytest.mark.parametrize(
    "module", sorted(f for f in os.listdir(QUERIES_DIR) if f.endswith(".py"))
)
def test_query_modules_use_plain_load_table(module):
    tree = ast.parse(open(os.path.join(QUERIES_DIR, module)).read())
    bad = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and module not in _CONFIGURE_OWNERS:
            bad += [f"imports {a.name}" for a in node.names if a.name == "configure"]
        elif isinstance(node, ast.Call) and module not in _CONFIGURE_OWNERS:
            f = node.func
            if getattr(f, "id", getattr(f, "attr", None)) == "configure":
                bad.append(f"calls configure (line {node.lineno})")
        elif isinstance(node, ast.FunctionDef) and node.name == "_t":
            bad.append(f"defines _t (line {node.lineno})")
        elif isinstance(node, ast.Assign):
            if any(getattr(t, "id", None) == "_t" for t in node.targets):
                bad.append(f"aliases _t (line {node.lineno})")
    assert not bad, (
        f"queries/{module}: {bad} — the registry wrapper configures the "
        "session once per query; query bodies call load_table directly"
    )


def _package_modules() -> list[str]:
    return sorted(
        os.path.relpath(os.path.join(d, f), PKG_DIR)
        for d, _, fs in os.walk(PKG_DIR)
        for f in fs
        if f.endswith(".py")
    )


_CONF_WRITERS = {("session.py", "configure"), ("session.py", "clone_with")}


def test_only_configure_and_clone_with_write_confs():
    """No package code but session.configure and session.clone_with
    calls `<session>.conf.set(` or `.conf.unset(`."""
    bad = []
    for rel in _package_modules():
        tree = ast.parse(open(os.path.join(PKG_DIR, rel)).read())
        owner = {}
        for fn in ast.walk(tree):
            if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                for node in ast.walk(fn):
                    owner.setdefault(node, fn.name)
        for node in ast.walk(tree):
            f = node.func if isinstance(node, ast.Call) else None
            if (
                isinstance(f, ast.Attribute)
                and f.attr in ("set", "unset")
                and getattr(f.value, "attr", None) == "conf"
                and (rel, owner.get(node)) not in _CONF_WRITERS
            ):
                bad.append(f"{rel}:{node.lineno} in {owner.get(node)}")
    assert not bad, bad


def test_stream_table_does_not_configure():
    """stream_table opens a drain's stream on a clone; a configure() call
    there would undo the clone's confs."""
    tree = ast.parse(open(os.path.join(PKG_DIR, "streaming", "sources.py")).read())
    (fn,) = [n for n in tree.body if isinstance(n, ast.FunctionDef) and n.name == "stream_table"]
    calls = [
        n.lineno
        for n in ast.walk(fn)
        if isinstance(n, ast.Call) and getattr(n.func, "id", getattr(n.func, "attr", None)) == "configure"
    ]
    assert not calls, f"streaming/sources.py::stream_table calls configure (lines {calls})"


@pytest.mark.parametrize(
    "path",
    ["operators/order_stats.py", "queries/modern2.py", "queries/insights.py", "streaming/jobs.py"],
)
def test_scale_gates_use_input_bytes(path):
    src = open(os.path.join(os.path.dirname(S.__file__), path)).read()
    assert "os.path.getsize" not in src, f"{path}: size a table with session.input_bytes"
