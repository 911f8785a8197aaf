"""Lifecycle tests for session.stage() / drop_materialized() / gc_hint()
(round 9): the staged-parquet lineage cut that bounds iterative queries'
shuffle scratch (LPA, prefix-filter Jaccard — see SCALE.md sf100 rows).

The load-bearing contract is the TWO-generation deletion: a staged file
is read lazily by the returned DataFrame (and possibly re-read by a
straggler consumer after the query function returns), and a deleted
stage file is a FileNotFound, not a recompute — so staged dirs must
survive exactly one release cycle longer than caches."""

from __future__ import annotations

import os

from makerdao_dw_spark import session as S


def _staged_dirs() -> list[str]:
    with S._MATERIALIZED_LOCK:
        return [d for _, d in S._STAGED_LIVE] + [d for _, d in S._STAGED_PENDING]


def test_stage_roundtrip_and_two_generation_deletion(spark):
    df = spark.range(100).selectExpr("id", "id * 2 AS v")
    before = set(_staged_dirs())
    staged = S.stage(df, "unit")
    new = [d for d in _staged_dirs() if d not in before]
    assert len(new) == 1, "stage() must register exactly one temp dir"
    d = new[0]
    assert os.path.isdir(d)
    # value identity
    assert sorted(tuple(r) for r in staged.collect()) == sorted(
        tuple(r) for r in df.collect()
    )
    # generation 1: dir survives the first release (live -> pending)
    S.release_materialized()
    assert os.path.isdir(d), "staged dir must survive one release cycle"
    # the staged frame is still readable (the straggler-consumer case)
    assert staged.count() == 100
    # generation 2: second release deletes it
    S.release_materialized()
    assert not os.path.exists(d), "staged dir must be deleted after two cycles"


def test_drop_materialized_releases_early(spark):
    df = S.materialize(spark.range(50).selectExpr("id"))
    assert df.storageLevel.useMemory or df.storageLevel.useDisk
    with S._MATERIALIZED_LOCK:
        assert any(m is df for _, m in S._MATERIALIZED)
    S.drop_materialized(df)
    with S._MATERIALIZED_LOCK:
        assert not any(m is df for _, m in S._MATERIALIZED)
    # unpersisted: storage level is NONE (no memory, no disk)
    assert not (df.storageLevel.useMemory or df.storageLevel.useDisk)
    # recompute still correct (lineage intact — drop only costs recompute)
    assert df.count() == 50


def test_configure_honors_shuffle_partition_override(spark, monkeypatch):
    """Round-10 fix for the ADVICE-high silent no-op: configure() runs at
    EVERY registered query's entry, so its unconditional reset of
    spark.sql.shuffle.partitions undid any scaled partition count a
    bench harness set — the r9 '256-partition' sf100 figures actually
    ran at 32. $SPARK_GRAFT_SHUFFLE_PARTITIONS must survive configure."""
    key = "spark.sql.shuffle.partitions"
    prior = spark.conf.get(key)
    try:
        monkeypatch.setenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", "256")
        S.configure(spark)
        assert spark.conf.get(key) == "256"
        # (the registry wrapper's per-query entry runs this same configure)
        monkeypatch.delenv("SPARK_GRAFT_SHUFFLE_PARTITIONS")
        S.configure(spark)
        assert spark.conf.get(key) == str(
            max(spark.sparkContext.defaultParallelism, 8)
        ), "without the env var configure() restores the parallelism default"
    finally:
        spark.conf.set(key, prior)


def test_gc_hint_is_safe_noop(spark):
    # best-effort: must never raise, with or without an active session
    S.gc_hint(spark)


def test_stage_honors_custom_staging_root(spark, tmp_path, monkeypatch):
    """Round 10: stage() roots under a shared, configurable location —
    on a multi-node cluster executors write parquet partitions to their
    own filesystems, so a driver-local mkdtemp path silently reads back
    partial data. $SPARK_GRAFT_STAGING_DIR (or the session conf /
    checkpoint-dir contract) must win over the local-only fallback."""
    root = str(tmp_path / "shared_staging")
    monkeypatch.setenv("SPARK_GRAFT_STAGING_DIR", root)
    before = set(_staged_dirs())
    staged = S.stage(spark.range(20).selectExpr("id"), "rooted")
    new = [d for d in _staged_dirs() if d not in before]
    assert len(new) == 1 and new[0].startswith(root), new
    assert staged.count() == 20
    # conf override beats the env var (per-session control)
    spark.conf.set("spark.makerdao.staging.dir", str(tmp_path / "conf_root"))
    try:
        S.stage(spark.range(5), "conf_rooted")
        newest = [d for d in _staged_dirs() if d not in before and d not in new]
        assert len(newest) == 1 and newest[0].startswith(str(tmp_path / "conf_root"))
    finally:
        spark.conf.unset("spark.makerdao.staging.dir")
    S.cleanup_staged()


def test_stage_bucketed_layout_and_lifecycle(spark):
    """stage_bucketed: same two-generation lifecycle as stage(), plus
    the staged table's bucket layout elides the staged side's exchange
    for joins/groupBys on the bucket key (the iterative-query idiom:
    pay the edge partitioning once at stage time, not K times/round)."""
    df = spark.range(1000).selectExpr("id % 97 AS k", "id AS payload")
    before = set(_staged_dirs())
    staged = S.stage_bucketed(df, "k", "unitb", n_buckets=8)
    new = [d for d in _staged_dirs() if d not in before]
    assert len(new) == 1
    d = new[0]
    assert d in S._STAGED_TABLES
    tbl = S._STAGED_TABLES[d]
    assert spark.catalog.tableExists(tbl)
    # value identity
    assert sorted(tuple(r) for r in staged.collect()) == sorted(
        tuple(r) for r in df.collect()
    )
    # a groupBy on the bucket key plans with NO exchange on the staged
    # side (the layout is trusted as HashPartitioning(k, 8))
    agg_plan = staged.groupBy("k").count()._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in agg_plan, agg_plan
    # two-generation deletion drops the dir AND the catalog entry
    S.release_materialized()
    assert os.path.isdir(d) and spark.catalog.tableExists(tbl)
    S.release_materialized()
    assert not os.path.exists(d)
    assert not spark.catalog.tableExists(tbl)
    assert d not in S._STAGED_TABLES


def test_cleanup_staged_removes_everything(spark):
    """The atexit/session-stop hook: the two-generation lifecycle only
    deletes a dir after two MORE registered queries on the same thread,
    so the final query's staged dirs leak without this (ADVICE r9)."""
    import threading

    before = set(_staged_dirs())
    S.stage(spark.range(3), "leak_a")
    # a dir staged by a thread that never issues another query
    t = threading.Thread(target=lambda: S.stage(spark.range(3), "leak_b"))
    t.start()
    t.join()
    # and one already aged into pending
    S.stage(spark.range(3), "leak_c")
    S.release_materialized()
    leaked = [d for d in _staged_dirs() if d not in before]
    assert len(leaked) == 3
    S.cleanup_staged()
    assert not _staged_dirs()
    for d in leaked:
        assert not os.path.exists(d), f"cleanup_staged left {d}"
    # registered with atexit so a plain interpreter exit also cleans up
    assert S._STAGED_ATEXIT_REGISTERED


def test_stage_dirs_are_thread_owned(spark):
    """A release on another thread must not delete this thread's staged
    dirs (same owner-tagging rule as materialize)."""
    import threading

    before = set(_staged_dirs())
    S.stage(spark.range(10), "owned")
    mine = [d for d in _staged_dirs() if d not in before]
    assert len(mine) == 1

    t = threading.Thread(target=S.release_materialized)
    t.start()
    t.join()
    assert os.path.isdir(mine[0]), "other-thread release must not touch my dirs"
    # clean up: two releases on THIS thread
    S.release_materialized()
    S.release_materialized()
    assert not os.path.exists(mine[0])


def test_configure_rejects_invalid_shuffle_partition_override(spark, monkeypatch):
    """ADVICE r10: an unvalidated $SPARK_GRAFT_SHUFFLE_PARTITIONS was
    accepted by conf.set and only failed later inside a query, far from
    the cause. configure() must raise a clear error naming the var."""
    import pytest

    for bad in ("abc", "0", "-4", "3.5"):
        monkeypatch.setenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", bad)
        with pytest.raises(ValueError, match="SPARK_GRAFT_SHUFFLE_PARTITIONS"):
            S.configure(spark)
    monkeypatch.delenv("SPARK_GRAFT_SHUFFLE_PARTITIONS")
    S.configure(spark)  # and the default path still works


def test_stage_bucketed_uri_rooted_staging_dir(spark, tmp_path):
    """VERDICT r10 item 4: the object-store branch ("://" in the staged
    dir — no os.makedirs, saveAsTable path option carries the URI,
    cleanup via the JVM's Hadoop FileSystem) was untested. A file://
    root through spark.makerdao.staging.dir is byte-for-byte the s3a://
    code path with a locally verifiable filesystem."""
    root = f"file://{tmp_path}/uri_staging"
    plain_root = f"{tmp_path}/uri_staging"
    spark.conf.set("spark.makerdao.staging.dir", root)
    before = set(_staged_dirs())
    try:
        df = spark.range(200).selectExpr("id % 13 AS k", "id AS payload")
        staged = S.stage_bucketed(df, "k", "urib", n_buckets=4)
        new = [d for d in _staged_dirs() if d not in before]
        assert len(new) == 1 and new[0].startswith(root), new
        d = new[0]
        assert "://" in d  # the URI branch, not the local-path branch
        tbl = S._STAGED_TABLES[d]
        assert spark.catalog.tableExists(tbl)
        # files actually landed under the URI root
        local = plain_root + d[len(root):]
        assert os.path.isdir(local)
        # value identity + exchange elision survive the URI root
        assert sorted(tuple(r) for r in staged.collect()) == sorted(
            tuple(r) for r in df.collect()
        )
        plan = staged.groupBy("k").count()._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        # plain stage() takes the same branch
        staged2 = S.stage(spark.range(30), "uris")
        assert staged2.count() == 30
        # cleanup must delete through the Hadoop FileSystem AND drop the table
        S.cleanup_staged()
        assert not os.path.exists(local)
        assert not spark.catalog.tableExists(tbl)
        assert d not in S._STAGED_TABLES
    finally:
        spark.conf.unset("spark.makerdao.staging.dir")
        S.cleanup_staged()


def test_rm_staged_keeps_catalog_entry_on_transient_drop_failure(spark, tmp_path, monkeypatch):
    """ADVICE r10: _rm_staged popped _STAGED_TABLES before the DROP —
    a transiently-failed drop left a stale external-table entry that
    could never be dropped later. The entry must survive the failure
    and be retried by the next cleanup_staged()."""
    df = spark.range(60).selectExpr("id % 7 AS k")
    staged = S.stage_bucketed(df, "k", "retry", n_buckets=2)
    assert staged.count() == 60
    with S._MATERIALIZED_LOCK:
        d = [dd for _, dd in S._STAGED_LIVE][-1]
    tbl = S._STAGED_TABLES[d]

    calls = {"n": 0, "failing": True}
    real_sql = type(spark).sql

    def flaky_sql(self, q, *a, **kw):
        if q.startswith("DROP TABLE IF EXISTS"):
            calls["n"] += 1
            if calls["failing"]:
                raise RuntimeError("transient catalog hiccup")
        return real_sql(self, q, *a, **kw)

    monkeypatch.setattr(type(spark), "sql", flaky_sql)
    S.cleanup_staged()
    # drops failed but the session is alive -> entry retained for retry
    # (cleanup_staged retried once within the same sweep, also failing)
    assert d in S._STAGED_TABLES, "entry must survive a transient drop failure"
    assert calls["n"] >= 1
    calls["failing"] = False
    S.cleanup_staged()  # the retry sweep picks up the orphan
    assert d not in S._STAGED_TABLES
    assert not spark.catalog.tableExists(tbl)


def test_cleanup_staged_own_thread_only(spark):
    """ADVICE r10: all_threads=True mid-session would delete a
    concurrent driver thread's in-flight stage (its reads become
    FileNotFound). all_threads=False must restrict the sweep to the
    caller's own dirs."""
    import threading

    before = set(_staged_dirs())
    S.stage(spark.range(3), "mine_r11")
    other_dir = []

    def _other():
        other_dir.append(S.stage(spark.range(3), "theirs_r11"))
        with S._MATERIALIZED_LOCK:
            pass

    t = threading.Thread(target=_other)
    t.start()
    t.join()
    new = [d for d in _staged_dirs() if d not in before]
    assert len(new) == 2
    S.cleanup_staged(all_threads=False)
    survivors = [d for d in _staged_dirs() if d not in before]
    assert len(survivors) == 1, "the other thread's dir must survive"
    assert os.path.isdir(survivors[0])
    S.cleanup_staged()  # full sweep for test hygiene
    assert not [d for d in _staged_dirs() if d not in before]
