"""The per-query entry: the registry wrapper configures the session once
per top-level query, query bodies call plain load_table, one on-disk
size probe (session.input_bytes) feeds every scale gate, and scoped
confs / temp views never leak out of a query."""

from __future__ import annotations

import ast
import os
import threading

import pytest

from makerdao_dw_spark import session as S
from makerdao_dw_spark.queries import oracles_dict, queries_dict
from makerdao_dw_spark.queries import registry as R

from .conftest import SF_DIR, SF_DIR_T2, compare_with_oracle

QUERIES_DIR = os.path.join(os.path.dirname(S.__file__), "queries")


def test_registered_query_configures_a_misconfigured_session(spark, sf_dir):
    key = "spark.sql.shuffle.partitions"
    prior = spark.conf.get(key)
    spark.conf.set(key, "3")
    try:
        queries_dict()["cube_order_stats"](spark, sf_dir)
        assert spark.conf.get(key) == str(max(spark.sparkContext.defaultParallelism, 8))
    finally:
        spark.conf.set(key, prior)


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
    """use_parallel, state_partitions and _loop_partitions size a nested
    part-file table from the same bytes (sparse files: 300 MiB apparent,
    one file below the top level)."""
    from makerdao_dw_spark.operators.order_stats import use_parallel
    from makerdao_dw_spark.queries.modern2 import _loop_partitions
    from makerdao_dw_spark.streaming.jobs import state_partitions

    mib = 1 << 20
    d = tmp_path / "t.parquet"
    _sparse(str(d / "part-0.parquet"), 100 * mib)
    _sparse(str(d / "part-1.parquet"), 100 * mib)
    _sparse(str(d / "k=1" / "part-2.parquet"), 100 * mib)
    _sparse(str(d / "_SUCCESS"), 0)
    total = S.input_bytes(str(tmp_path), "t")
    assert total == 300 * mib
    key = "spark.sql.shuffle.partitions"
    prior = spark.conf.get(key)
    spark.conf.set(key, "64")
    try:
        assert use_parallel(spark, str(tmp_path), "t", threshold_bytes=total - 1)
        assert not use_parallel(spark, str(tmp_path), "t", threshold_bytes=total)
        # ceil(300 MiB / 32 MiB) = 10 for both 32 MiB-per-partition gates
        assert state_partitions(spark, str(tmp_path), "t") == 10
        assert _loop_partitions(spark, str(tmp_path), "t") == 10
    finally:
        spark.conf.set(key, prior)


# ---------------------------------------------------------------------------
# temp views and scoped confs stay inside the query
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


def test_conf_override_restores_or_unsets(spark):
    set_key, unset_key = "spark.sql.shuffle.partitions", "spark.makerdao.test.override"
    prior = spark.conf.get(set_key)
    with S.conf_override(spark, {set_key: "5", unset_key: "x"}):
        assert spark.conf.get(set_key) == "5"
        assert spark.conf.get(unset_key) == "x"
    assert spark.conf.get(set_key) == prior
    assert spark.conf.get(unset_key, None) is None


def test_transform_with_state_restores_provider_class(spark):
    pytest.importorskip(
        "google.protobuf", reason="protobuf absent: transformWithState cannot execute"
    )
    from makerdao_dw_spark.streaming.transform_state import transform_with_state_type_stats

    key = "spark.sql.streaming.stateStore.providerClass"
    before = spark.conf.get(key, None)
    transform_with_state_type_stats(spark, SF_DIR).collect()
    assert spark.conf.get(key, None) == before


def test_partitioned_overwrites_leave_session_mode_alone(spark, tmp_path):
    """demux_and_write and merge_into_partitioned overwrite partitions
    dynamically through a writer option; the session's mode is untouched
    and untouched partitions survive."""
    from pyspark.sql import functions as F

    from makerdao_dw_spark.abi.schema import compile_contract
    from makerdao_dw_spark.decode.abi_codec import encode_abi
    from makerdao_dw_spark.ingest.pipeline import RAW_LOG_SCHEMA, demux_and_write
    from makerdao_dw_spark.io.merge import merge_into_partitioned

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

    path = str(tmp_path / "tbl")
    base = spark.range(0, 10).select(F.col("id").alias("k"), (F.col("id") % 2).alias("p"))
    merge_into_partitioned(path, base, ["k"], "p")
    merge_into_partitioned(path, spark.createDataFrame([(0, 0)], "k long, p long"), ["k"], "p")
    assert spark.conf.get(key) == before
    assert spark.read.parquet(path).count() == 10


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


@pytest.mark.parametrize(
    "path",
    ["operators/order_stats.py", "queries/modern2.py", "queries/insights.py", "streaming/jobs.py"],
)
def test_scale_gates_use_input_bytes(path):
    src = open(os.path.join(os.path.dirname(S.__file__), path)).read()
    assert "os.path.getsize" not in src, f"{path}: size a table with session.input_bytes"
