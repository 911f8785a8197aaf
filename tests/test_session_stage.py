"""Lifecycle tests for session.stage() / QueryScope / gc_hint(): the
staged-parquet lineage cut that bounds iterative queries' shuffle
scratch (LPA, prefix-filter Jaccard — see SCALE.md sf100 rows) and the
per-query scope that owns and releases it.

What materialize() and stage() register goes to the calling thread's
open QueryScope; each top-level entry (session.query_scope, which the
registry wrapper runs) releases that thread's earlier scopes. The
load-bearing contract is the TWO-generation deletion: a staged file is
read lazily by the returned DataFrame (and possibly re-read by a
straggler consumer after the query function returns), and a deleted
stage file is a FileNotFound, not a recompute — so staged dirs must
survive exactly one entry longer than caches. Only the owning thread's
entries release a scope; release_all() is the exit sweep."""

from __future__ import annotations

import os

import pytest

from makerdao_dw_spark import session as S


def _staged_dirs() -> list[str]:
    """Every staged dir some scope still holds, on any thread."""
    with S._LOCK:
        return [d for scope in S._SCOPES for d, _ in scope.dirs]


def _entry(spark) -> None:
    """One top-level registered-query entry on this thread."""
    with S.query_scope(spark):
        pass


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
    # generation 1: dir survives the first entry
    _entry(spark)
    assert os.path.isdir(d), "staged dir must survive one release cycle"
    # the staged frame is still readable (the straggler-consumer case)
    assert staged.count() == 100
    # generation 2: the second entry deletes it
    _entry(spark)
    assert not os.path.exists(d), "staged dir must be deleted after two cycles"


def test_scope_drop_releases_early(spark):
    df = S.materialize(spark.range(50).selectExpr("id"))
    assert df.storageLevel.useMemory or df.storageLevel.useDisk
    scope = S.current_scope(spark)
    assert any(m is df for m in scope.frames)
    scope.drop(df)
    assert not any(m is df for m in scope.frames)
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
    """Round 10: stage() roots under a shared location — on a multi-node
    cluster executors write parquet partitions to their own filesystems,
    so a driver-local mkdtemp path silently reads back partial data. The
    root is the checkpoint-dir contract's: $SPARK_GRAFT_CHECKPOINT_DIR
    (verbatim, URIs included), else the context's checkpoint dir (its
    file:/ rendering normalized to a path), each under `_staging`; it
    wins over the local-only fallback. The shared session's checkpoint
    dir is never set here: it cannot be unset, and it would switch
    _cut_lineage to reliable checkpoints for every later test."""
    monkeypatch.delenv("SPARK_GRAFT_CHECKPOINT_DIR", raising=False)
    monkeypatch.setattr(spark.sparkContext, "getCheckpointDir", lambda: None)
    assert S._staging_root(spark) is None
    monkeypatch.setattr(spark.sparkContext, "getCheckpointDir", lambda: f"file:{tmp_path}/ctx")
    assert S._staging_root(spark) == f"{tmp_path}/ctx/_staging"
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", "s3a://bucket/ckpt/")
    assert S._staging_root(spark) == "s3a://bucket/ckpt/_staging"

    root = str(tmp_path / "shared_staging")
    monkeypatch.setattr(S, "_staging_root", lambda spark: root)
    before = set(_staged_dirs())
    staged = S.stage(spark.range(20).selectExpr("id"), "rooted")
    new = [d for d in _staged_dirs() if d not in before]
    assert len(new) == 1 and new[0].startswith(root), new
    assert staged.count() == 20
    S.current_scope(spark).release()


def test_stage_refuses_driver_local_dir_off_a_local_master(spark, monkeypatch):
    """Without a shared root, the driver-local tempdir is taken only under
    a local[*] master; on a cluster master stage() fails loudly before
    any write."""
    monkeypatch.setattr(S, "_staging_root", lambda spark: None)
    monkeypatch.setattr(spark.sparkContext, "master", "spark://cluster:7077")
    before = set(_staged_dirs())
    with pytest.raises(RuntimeError, match="SHARED staging root"):
        S.stage(spark.range(3), "refused")
    assert set(_staged_dirs()) == before


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
    d, tbl = S.current_scope(spark).dirs[-1]
    assert d == new[0] and tbl is not None
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
    _entry(spark)
    assert os.path.isdir(d) and spark.catalog.tableExists(tbl)
    _entry(spark)
    assert not os.path.exists(d)
    assert not spark.catalog.tableExists(tbl)
    assert d not in _staged_dirs()


def test_release_all_removes_everything(spark):
    """The atexit hook: the two-generation lifecycle only deletes a dir
    after two MORE registered queries on the same thread, so the final
    query's staged dirs, and an ended thread's, leak without it."""
    import threading

    before = set(_staged_dirs())
    S.stage(spark.range(3), "leak_a")
    # a dir staged by a thread that never issues another query
    t = threading.Thread(target=lambda: S.stage(spark.range(3), "leak_b"))
    t.start()
    t.join(timeout=300)
    assert not t.is_alive()
    # and one aged one entry
    S.stage(spark.range(3), "leak_c")
    _entry(spark)
    leaked = [d for d in _staged_dirs() if d not in before]
    assert len(leaked) == 3
    S.release_all()
    assert not _staged_dirs()
    assert not S._SCOPES
    for d in leaked:
        assert not os.path.exists(d), f"release_all left {d}"


def test_interpreter_exit_releases_scopes(tmp_path):
    """release_all is registered with atexit, so a plain interpreter
    exit removes what a scope still holds (a session-less scope: only
    the local dir removal runs)."""
    import subprocess
    import sys

    d = tmp_path / "spark_graft_exit"
    d.mkdir()
    code = (
        "from makerdao_dw_spark import session as S\n"
        "s = S.QueryScope(None)\n"
        f"s._pin('dirs', ({str(d)!r}, None))\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    subprocess.run([sys.executable, "-c", code], cwd=root, check=True, timeout=120)
    assert not d.exists()


def test_stage_dirs_are_thread_owned(spark):
    """An entry on another thread must not delete this thread's staged
    dirs (the same ownership rule as materialize's frames)."""
    import threading

    before = set(_staged_dirs())
    S.stage(spark.range(10), "owned")
    mine = [d for d in _staged_dirs() if d not in before]
    assert len(mine) == 1

    t = threading.Thread(target=lambda: [_entry(spark) for _ in range(2)])
    t.start()
    t.join(timeout=300)
    assert not t.is_alive()
    assert os.path.isdir(mine[0]), "other-thread entries must not touch my dirs"
    # clean up: two entries on THIS thread
    _entry(spark)
    _entry(spark)
    assert not os.path.exists(mine[0])


def test_configure_rejects_invalid_shuffle_partition_override(spark, monkeypatch):
    """ADVICE r10: an unvalidated $SPARK_GRAFT_SHUFFLE_PARTITIONS was
    accepted by conf.set and only failed later inside a query, far from
    the cause. configure() must raise a clear error naming the var."""
    for bad in ("abc", "0", "-4", "3.5"):
        monkeypatch.setenv("SPARK_GRAFT_SHUFFLE_PARTITIONS", bad)
        with pytest.raises(ValueError, match="SPARK_GRAFT_SHUFFLE_PARTITIONS"):
            S.configure(spark)
    monkeypatch.delenv("SPARK_GRAFT_SHUFFLE_PARTITIONS")
    S.configure(spark)  # and the default path still works


def test_stage_bucketed_uri_rooted_staging_dir(spark, tmp_path, monkeypatch):
    """VERDICT r10 item 4: the object-store branch ("://" in the staged
    dir — no os.makedirs, saveAsTable path option carries the URI,
    cleanup via the JVM's Hadoop FileSystem) was untested. A file://
    staging root (as $SPARK_GRAFT_CHECKPOINT_DIR gives it, verbatim) is
    byte-for-byte the s3a:// code path with a locally verifiable
    filesystem."""
    root = f"file://{tmp_path}/uri_staging"
    plain_root = f"{tmp_path}/uri_staging"
    monkeypatch.setattr(S, "_staging_root", lambda spark: root)
    before = set(_staged_dirs())
    try:
        df = spark.range(200).selectExpr("id % 13 AS k", "id AS payload")
        staged = S.stage_bucketed(df, "k", "urib", n_buckets=4)
        new = [d for d in _staged_dirs() if d not in before]
        assert len(new) == 1 and new[0].startswith(root), new
        d, tbl = S.current_scope(spark).dirs[-1]
        assert d == new[0] and tbl is not None
        assert "://" in d  # the URI branch, not the local-path branch
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
        # release must delete through the Hadoop FileSystem AND drop the table
        S.current_scope(spark).release()
        assert not os.path.exists(local)
        assert not spark.catalog.tableExists(tbl)
        assert d not in _staged_dirs()
    finally:
        S.current_scope(spark).release()


def test_rm_staged_keeps_catalog_entry_on_transient_drop_failure(spark, tmp_path, monkeypatch):
    """ADVICE r10: forgetting the catalog table before the DROP succeeded
    left a stale external-table entry that could never be dropped later.
    The entry must stay in its scope after the failure and be retried by
    the next sweep."""
    df = spark.range(60).selectExpr("id % 7 AS k")
    staged = S.stage_bucketed(df, "k", "retry", n_buckets=2)
    assert staged.count() == 60
    scope = S.current_scope(spark)
    d, tbl = scope.dirs[-1]

    calls = {"n": 0, "failing": True}
    real_sql = type(spark).sql

    def flaky_sql(self, q, *a, **kw):
        if q.startswith("DROP TABLE IF EXISTS"):
            calls["n"] += 1
            if calls["failing"]:
                raise RuntimeError("transient catalog hiccup")
        return real_sql(self, q, *a, **kw)

    monkeypatch.setattr(type(spark), "sql", flaky_sql)
    scope.release()
    # the drop failed but the session is alive -> entry retained for retry
    assert (d, tbl) in scope.dirs, "entry must survive a transient drop failure"
    assert scope in S._SCOPES
    assert calls["n"] >= 1
    calls["failing"] = False
    S.release_all()  # the retry sweep picks up the kept entry
    assert (d, tbl) not in scope.dirs
    assert not spark.catalog.tableExists(tbl)


def test_release_leaves_other_threads_scope_alone(spark):
    """Releasing my scope, or entering queries on my thread, must not
    touch a scope another thread opened, even one whose thread ended:
    its result may have been handed on (a reused thread ident must not
    make it mine). Only the exit sweep releases it."""
    import threading

    before = set(_staged_dirs())
    S.stage(spark.range(3), "mine_r11")
    mine = [d for d in _staged_dirs() if d not in before]
    t = threading.Thread(target=lambda: S.stage(spark.range(3), "theirs_r11"))
    t.start()
    t.join(timeout=300)
    assert not t.is_alive()
    theirs = [d for d in _staged_dirs() if d not in before and d not in mine]
    assert len(mine) == len(theirs) == 1
    S.current_scope(spark).release()
    _entry(spark)
    _entry(spark)
    assert not os.path.exists(mine[0])
    assert os.path.isdir(theirs[0]), "the other thread's dir must survive"
    S.release_all()
    assert not os.path.exists(theirs[0])
    assert not [d for d in _staged_dirs() if d not in before]
