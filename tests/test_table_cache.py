"""session.load_table caches the resolved base relation per session:
a repeated load of an unchanged input starts no Spark job, and any
change to the files on disk is seen on the next load. Only the lazy
relation is cached, never results."""

from __future__ import annotations

import os
import threading

import pyarrow as pa
import pyarrow.parquet as pq

from makerdao_dw_spark import session as S
from makerdao_dw_spark.queries.registry import oracles_dict, queries_dict
from makerdao_dw_spark.session import load_table

from .conftest import SF_DIR, compare_with_oracle


def _write(path: str, ids: range) -> None:
    pq.write_table(pa.table({"id": list(ids)}), path)


def _jobs_started(spark, fn):
    """(result of fn(), Spark jobs submitted while it ran)."""
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    first = dag.nextJobId()
    out = fn()
    return out, dag.nextJobId() - first


def _ids(df) -> list[int]:
    return sorted(r["id"] for r in df.collect())


def test_repeat_load_starts_no_job(spark, tmp_path):
    _write(str(tmp_path / "t.parquet"), range(10))
    df1, jobs1 = _jobs_started(spark, lambda: load_table(spark, str(tmp_path), "t"))
    df2, jobs2 = _jobs_started(spark, lambda: load_table(spark, str(tmp_path), "t"))
    assert jobs1 >= 1  # the miss pays schema inference
    assert jobs2 == 0
    assert df2 is df1
    assert not df2.is_cached  # the relation, never its data


def test_rewritten_file_is_reloaded(spark, tmp_path):
    p = str(tmp_path / "t.parquet")
    _write(p, range(10))
    assert _ids(load_table(spark, str(tmp_path), "t")) == list(range(10))
    _write(p, range(100, 103))  # rewritten in place (same inode)
    assert _ids(load_table(spark, str(tmp_path), "t")) == [100, 101, 102]
    # replaced by rename, with a different schema
    tmp = str(tmp_path / "new.tmp")
    pq.write_table(pa.table({"id": [7], "extra": ["x"]}), tmp)
    os.replace(tmp, p)
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["id", "extra"]
    assert _ids(df) == [7]


def test_added_file_in_table_dir_is_seen(spark, tmp_path):
    d = tmp_path / "t.parquet"
    d.mkdir()
    _write(str(d / "part-0.parquet"), range(5))
    assert load_table(spark, str(tmp_path), "t").count() == 5
    _write(str(d / "part-1.parquet"), range(5, 8))
    assert _ids(load_table(spark, str(tmp_path), "t")) == list(range(8))
    # hidden and underscore files are not data: no rebuild for them
    before = load_table(spark, str(tmp_path), "t")
    (d / "_SUCCESS").write_text("")
    assert load_table(spark, str(tmp_path), "t") is before
    os.remove(d / "part-0.parquet")
    assert _ids(load_table(spark, str(tmp_path), "t")) == [5, 6, 7]


def test_spread_modes_do_not_share_an_entry(spark, tmp_path):
    # one small single-row-group file: only spread=True repartitions it
    _write(str(tmp_path / "t.parquet"), range(50))

    def plan(df):
        return df._jdf.queryExecution().optimizedPlan().toString()

    spread = load_table(spark, str(tmp_path), "t", spread=True)
    plain = load_table(spark, str(tmp_path), "t")
    assert "Repartition" in plan(spread)
    assert "Repartition" not in plan(plain)
    assert load_table(spark, str(tmp_path), "t", spread=True) is spread
    assert load_table(spark, str(tmp_path), "t", spread=False) is plain


def test_cache_is_per_session_and_capped(spark, tmp_path, monkeypatch):
    _write(str(tmp_path / "t.parquet"), range(3))
    df = load_table(spark, str(tmp_path), "t")
    other = spark.newSession()
    assert load_table(other, str(tmp_path), "t") is not df
    assert load_table(other, str(tmp_path), "t").sparkSession is other

    monkeypatch.setattr(S, "_TABLE_CACHE_MAX", 2)
    for n in ("a", "b", "c"):
        _write(str(tmp_path / f"{n}.parquet"), range(3))
        load_table(other, str(tmp_path), n)
    entries = other.__dict__[S._TABLE_CACHE_ATTR]
    assert len(entries) == 2
    assert {os.path.basename(p) for p, _ in entries} == {"b.parquet", "c.parquet"}


def test_missing_path_is_not_cached(spark, tmp_path):
    import pytest

    with pytest.raises(Exception):
        load_table(spark, str(tmp_path), "absent")
    assert not any(
        p.startswith(str(tmp_path)) for p, _ in spark.__dict__.get(S._TABLE_CACHE_ATTR, {})
    )


def test_registered_queries_on_two_threads_match_oracles(spark):
    """Two registered queries sharing base tables (lineitem, orders) run
    concurrently on one session, twice each so the second runs hit the
    cache while the other thread loads."""
    qd, od = queries_dict(), oracles_dict()
    names = ["q1_pricing_summary", "multiway_join_revenue"]
    errors: list[BaseException] = []

    def run(name: str) -> None:
        try:
            for _ in range(2):
                compare_with_oracle(spark, name, qd[name], od[name], SF_DIR)
        except BaseException as e:  # noqa: BLE001 - re-raised below
            errors.append(e)

    threads = [threading.Thread(target=run, args=(n,)) for n in names]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
