"""One owner per query: every top-level registered query runs in a
session.QueryScope that owns what it materializes and stages.

- a result handed to another thread stays readable while fresh threads
  (which CPython may give the ended thread's ident) run queries;
- a nested registered query joins the outer query's scope;
- the iterative queries leave no staged dir, catalog table or cached
  frame behind once two more top-level entries ran;
- two warehouses dashboarded from two threads of one session each match
  their own reference."""

from __future__ import annotations

import math
import os
import re
import threading
from urllib.parse import urlparse

import duckdb

from makerdao_dw_spark import session as S
from makerdao_dw_spark.queries import queries_dict
from makerdao_dw_spark.queries import registry as R

from .conftest import SF_DIR

CHEAP = "cube_order_stats"
THREADS = 16  # more than the cores of a small test host


def _on_threads(*targets) -> None:
    """Run each target on its own new thread, all at once; re-raise."""
    errors: list[BaseException] = []

    def run(target) -> None:
        try:
            target()
        except BaseException as e:  # noqa: BLE001 - re-raised below
            errors.append(e)

    threads = [threading.Thread(target=run, args=(t,)) for t in targets]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
        assert not t.is_alive()
    assert not errors, errors


def _staged_roots(df, prefix: str) -> set[str]:
    """The staged dirs named spark_graft_<prefix>_* that df's plan reads."""
    roots = set()
    for f in df.inputFiles():
        parts = urlparse(f).path.split("/")
        for i, p in enumerate(parts):
            if p.startswith(f"spark_graft_{prefix}_"):
                roots.add("/".join(parts[: i + 1]))
    return roots


def test_result_handed_to_another_thread_stays_readable(spark):
    qd = queries_dict()
    handed: dict = {}

    def thread_a() -> None:
        df = qd["recursive_cte_reachability"](spark, SF_DIR)
        handed["n"], handed["df"] = df.count(), df

    _on_threads(thread_a)
    df = handed["df"]
    staged = _staged_roots(df, "rec_reach")
    assert staged and all(os.path.isdir(d) for d in staged)
    # two fresh threads, each one top-level entry
    for _ in range(2):
        _on_threads(lambda: qd[CHEAP](spark, SF_DIR).collect())
    assert df.count() == handed["n"]
    # an ended thread's scope is released by the exit sweep only
    S.release_all()
    assert not any(os.path.exists(d) for d in staged)


def test_concurrent_entries_keep_their_own_pins(tmp_path, monkeypatch):
    """More threads than cores enter scopes and pin dirs at a tiny switch
    interval: a thread's entries never delete another thread's dirs, its
    own dir lives exactly two entries, and the exit sweep loses no pin.
    Session-less scopes (only the local dir removal runs)."""
    import sys

    monkeypatch.setattr(S, "configure", lambda spark: None)
    made: list = []

    def worker(k: int) -> None:
        mine = []
        for i in range(40):
            with S.query_scope(None):
                d = tmp_path / f"spark_graft_{k}_{i}"
                d.mkdir()
                S.current_scope(None)._pin("dirs", (str(d), None))
                mine.append(d)
            assert all(p.is_dir() for p in mine[-2:]), (k, i)
            assert not any(p.exists() for p in mine[:-2]), (k, i)
        made.extend(mine)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        _on_threads(*[lambda k=k: worker(k) for k in range(THREADS)])
    finally:
        sys.setswitchinterval(interval)
    assert sum(p.exists() for p in made) == 2 * THREADS
    S.release_all()
    assert not any(p.exists() for p in made)


def test_nested_registered_query_keeps_outer_pins(spark, sf_dir):
    inner_name, outer_name = "_test_scope_inner", "_test_scope_outer"
    seen = {}
    try:

        @R.query(inner_name)
        def inner(spark, sf_dir):
            return S.load_table(spark, sf_dir, "region")

        @R.query(outer_name)
        def outer(spark, sf_dir):
            frame = S.materialize(S.load_table(spark, sf_dir, "nation").filter("n_nationkey >= 0"))
            staged = S.stage(frame, "nested_outer")
            scope = S.current_scope(spark)
            (d, _), = scope.dirs
            seen["in"] = R.REGISTRY[inner_name].fn(spark, sf_dir).count()
            seen["scope"] = S.current_scope(spark) is scope
            seen["cached"] = frame.storageLevel.useMemory
            seen["dir"] = os.path.isdir(d)
            return staged

        df = R.REGISTRY[outer_name].fn(spark, sf_dir)
    finally:
        R.REGISTRY.pop(inner_name, None)
        R.REGISTRY.pop(outer_name, None)
    assert seen == {"in": 5, "scope": True, "cached": True, "dir": True}
    assert df.count() == 25


def test_iterative_queries_release_everything(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(S, "_staging_root", lambda spark: str(tmp_path))
    qd = queries_dict()
    frames, dirs = [], []
    for name in (
        "recursive_cte_reachability",
        "label_propagation_communities",
        "dedup_prefix_filter_jaccard",
        "dedup_embedding_cosine_banded",
    ):
        assert qd[name](spark, SF_DIR).collect() is not None
        frames += S.current_scope(spark).frames
        dirs += [d for d, _ in S.current_scope(spark).dirs]
    assert len(dirs) >= 2 and all(d.startswith(str(tmp_path)) for d in dirs)

    def assert_nothing_left() -> None:
        assert not [p for p in os.listdir(tmp_path) if p.startswith("spark_graft_")]
        assert not [t.name for t in spark.catalog.listTables()
                    if t.name.startswith("spark_graft_staged_")]
        assert not any(f.storageLevel.useMemory or f.storageLevel.useDisk for f in frames)

    for _ in range(2):
        qd[CHEAP](spark, SF_DIR).collect()
    assert_nothing_left()
    S.release_all()
    assert_nothing_left()


def _drain(spark, head: int, out: str) -> None:
    from makerdao_dw_spark.ingest.fixtures import JUG_ADDRESS, VAT_ADDRESS, maker_chain, maker_specs
    from makerdao_dw_spark.ingest.pipeline import fetch_raw_logs
    from makerdao_dw_spark.streaming.jobs import stream_ingest_logs

    landing = os.path.join(out, "_landing")
    raw = fetch_raw_logs(spark, maker_chain(head=head), [VAT_ADDRESS, JUG_ADDRESS], 0, head - 1, step=200)
    raw.coalesce(1).write.parquet(landing)
    vat, jug = maker_specs()
    stream_ingest_logs(spark, landing, vat + jug, out, "makermcd", os.path.join(out, "_ckpt"),
                       partition_blocks=200)


def _reference(out: str) -> list[tuple]:
    from makerdao_dw_spark.ingest.fixtures import maker_specs
    from makerdao_dw_spark.queries.assets_per_type import DUCKDB_SQL

    con = duckdb.connect()
    vat, jug = maker_specs()
    for spec in vat + jug:
        path = os.path.join(out, "makermcd", spec.table)
        assert os.path.isdir(path), spec.table
        pattern = os.path.join(path, "**", "*.parquet")
        con.execute(f"CREATE VIEW {spec.table} AS SELECT * FROM read_parquet('{pattern}', hive_partitioning=1)")
    rows = con.execute(DUCKDB_SQL).fetchall()
    con.close()
    return rows


def test_two_warehouses_on_two_threads(spark, tmp_path):
    from makerdao_dw_spark.queries.assets_per_type import assets_per_type

    outs = [str(tmp_path / "wh_a"), str(tmp_path / "wh_b")]
    for head, out in zip((400, 800), outs):
        _drain(spark, head, out)
    got: dict = {}

    def dashboard(out: str):
        return lambda: got.setdefault(out, [tuple(r) for r in assets_per_type(spark, out).collect()])

    _on_threads(*map(dashboard, outs))
    assert got[outs[0]] != got[outs[1]]  # the two warehouses differ
    for out in outs:
        want = _reference(out)
        assert len(got[out]) == len(want) > 0
        for a, b in zip(got[out], want):
            assert a[:2] == b[:2], (a, b)
            for x, y in zip(a[2:], b[2:]):
                assert (x is None) == (y is None), (a, b)
                if x is not None:
                    assert math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-4), (a, b)


def test_no_thread_tagged_lifecycle_left():
    """The scope is the only owner: no thread-ident tags or module-level
    pin lists come back into the package."""
    banned = re.compile(r"get_ident|_DEPTH|_MATERIALIZED|_STAGED_|_any_session|all_threads")
    pkg = os.path.dirname(S.__file__)
    hits = []
    for root, _, files in os.walk(pkg):
        for n in files:
            if n.endswith(".py"):
                with open(os.path.join(root, n)) as f:
                    hits += [f"{n}:{i}" for i, line in enumerate(f, 1) if banned.search(line)]
    assert not hits, hits
