"""Fault-injection crash-consistency tests for the staged-swap
writers and the backfill publish (VERDICT r5 item 1 for 1-3):

1. `JsonlSinkDataSource`'s two-phase-commit writer
   (ingest/datasource.py): crash injected at EVERY os.replace in
   commit() — before/inside file publish, at the manifest commit point,
   and during post-commit GC — plus a torn-manifest-write injection.
   The reader contract (`read_committed_jsonl`: only manifest-referenced
   files are visible) must observe exactly pre-state or post-state, and
   a re-run after any crash must converge to post-state (idempotent
   recovery, orphans invisible).

2. `compact_table` / `swap` (io/maintenance.py): crash injected at
   each of the two renames and at the backup removal. The documented
   recovery contract is `recover_swap(path)` (called automatically at
   the start of every `compact_table`): after ANY crash, recovery + a
   re-run restores a complete table with the exact pre-compaction rows.

3. `merge_into_partitioned` (io/merge.py): failure injected (a) during
   update evaluation (a poisoned row, fires at the checkpoint barrier)
   and (b) during the overwrite job itself (a poisoned column grafted
   onto the checkpointed rows, so one write task fails after others
   staged files) — the target must remain byte-for-byte pre-state in
   both; plus the mixed-generation recovery contract: a mid-job-commit
   crash can leave touched partitions in mixed old/new generations
   (cross-partition atomicity is explicitly NOT claimed — dynamic
   partition overwrite's commit unit is one partition) and re-running
   the same merge converges every partition to post-state.

4. `backfill_contract` (ingest/pipeline.py): crash injected at the
   first file published into one table partition, at four points; a
   rerun of the same backfill must end with the clean run's rows in
   every table.

All injections are driver-side monkeypatches of the exact syscall the
writer performs (os.replace / os.rename / shutil.rmtree / os.remove /
json.dump), so each test pins one real crash point, not a simulated
approximation.
"""

from __future__ import annotations

import json
import os
import shutil


import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from makerdao_dw_spark.ingest.datasource import (
    _jsonl_writer_classes,
    read_committed_jsonl,
)
from makerdao_dw_spark.io.maintenance import (
    compact_table,
    recover_swap,
    table_layout_stats,
)
from makerdao_dw_spark.io.merge import merge_into_partitioned


class InjectedCrash(Exception):
    pass


def _fail_on_call(real_fn, fail_call_no: int):
    """Wrap real_fn so its Nth invocation raises InjectedCrash."""
    state = {"n": 0}

    def wrapper(*a, **kw):
        state["n"] += 1
        if state["n"] == fail_call_no:
            raise InjectedCrash(f"injected at call {fail_call_no}")
        return real_fn(*a, **kw)

    return wrapper


# ---------------------------------------------------------------------------
# 1. JsonlSinkDataSource two-phase commit
# ---------------------------------------------------------------------------


def _jsonl_commit(path: str, chunks: list[list[dict]], overwrite: bool = False):
    """Drive the writer protocol exactly as Spark does: one write() per
    task (chunk), then one driver-side commit() over all messages."""
    writer = _jsonl_writer_classes()({"path": path}, overwrite)
    msgs = [writer.write(iter([Row(**r) for r in chunk])) for chunk in chunks]
    writer.commit(msgs)


_A = [[{"k": 1, "v": "a1"}], [{"k": 2, "v": "a2"}]]
_B = [[{"k": 3, "v": "b1"}], [{"k": 4, "v": "b2"}]]


def _keys(rows: list[dict]) -> set[int]:
    return {r["k"] for r in rows}


@pytest.mark.parametrize("fail_call_no", [1, 2, 3])
def test_jsonl_commit_crash_at_each_replace(tmp_path, monkeypatch, fail_call_no):
    """Append commit with 2 staged files performs exactly 3 os.replace
    calls: publish file1, publish file2, atomic manifest replace (THE
    commit point). A crash at ANY of them must leave the reader on
    pre-state; re-running the write converges to post-state with no
    duplicate or phantom rows."""
    out = str(tmp_path / "sink")
    _jsonl_commit(out, _A)  # committed pre-state
    assert _keys(read_committed_jsonl(out)) == {1, 2}

    real_replace = os.replace
    monkeypatch.setattr(os, "replace", _fail_on_call(real_replace, fail_call_no))
    with pytest.raises(InjectedCrash):
        _jsonl_commit(out, _B)
    monkeypatch.setattr(os, "replace", real_replace)

    # reader sees EXACTLY pre-state — published-but-unreferenced files
    # (fail_call_no in {2,3} leaves some) are invisible
    assert _keys(read_committed_jsonl(out)) == {1, 2}

    # idempotent recovery: simply re-run the failed write
    _jsonl_commit(out, _B)
    assert _keys(read_committed_jsonl(out)) == {1, 2, 3, 4}
    # every committed row appears exactly once
    assert len(read_committed_jsonl(out)) == 4


def test_jsonl_commit_crash_during_gc_leaves_post_state(tmp_path, monkeypatch):
    """Overwrite commit: once the manifest is atomically replaced the
    commit IS durable — a crash during phase-3 garbage collection (old
    file removal) must leave the reader on post-state; the next
    overwrite sweeps the orphans."""
    out = str(tmp_path / "sink")
    _jsonl_commit(out, _A)

    real_remove = os.remove
    monkeypatch.setattr(os, "remove", _fail_on_call(real_remove, 1))
    with pytest.raises(InjectedCrash):
        _jsonl_commit(out, _B, overwrite=True)
    monkeypatch.setattr(os, "remove", real_remove)

    # post-state: the manifest flip already happened
    assert _keys(read_committed_jsonl(out)) == {3, 4}
    # orphaned pre-state files still on disk but invisible
    on_disk = {f for f in os.listdir(out) if f.endswith(".jsonl")}
    committed = {e["file"] for e in json.load(open(os.path.join(out, "_MANIFEST.json")))}
    assert committed < on_disk  # strict subset: orphans exist

    # next overwrite commit garbage-collects every orphan
    _jsonl_commit(out, [[{"k": 9, "v": "c"}]], overwrite=True)
    assert _keys(read_committed_jsonl(out)) == {9}
    on_disk = {f for f in os.listdir(out) if f.endswith(".jsonl")}
    committed = {e["file"] for e in json.load(open(os.path.join(out, "_MANIFEST.json")))}
    assert on_disk == committed


def test_jsonl_torn_manifest_write_invisible(tmp_path, monkeypatch):
    """A crash WHILE WRITING the new manifest (json.dump into the .tmp)
    can never tear the live manifest — the live file is only ever
    touched by os.replace."""
    out = str(tmp_path / "sink")
    _jsonl_commit(out, _A)
    manifest_bytes = open(os.path.join(out, "_MANIFEST.json"), "rb").read()

    real_dump = json.dump
    monkeypatch.setattr(json, "dump", _fail_on_call(real_dump, 1))
    with pytest.raises(InjectedCrash):
        _jsonl_commit(out, _B)
    monkeypatch.setattr(json, "dump", real_dump)

    assert open(os.path.join(out, "_MANIFEST.json"), "rb").read() == manifest_bytes
    assert _keys(read_committed_jsonl(out)) == {1, 2}
    _jsonl_commit(out, _B)
    assert _keys(read_committed_jsonl(out)) == {1, 2, 3, 4}


# ---------------------------------------------------------------------------
# 2. compact_table / swap
# ---------------------------------------------------------------------------


def _write_numbers(spark, path: str, n: int = 200, files: int = 8):
    spark.range(n).select(
        F.col("id"), (F.col("id") * 2).alias("v")
    ).repartition(files).write.mode("overwrite").parquet(path)


def _rows(spark, path: str) -> set[tuple]:
    return {tuple(r) for r in spark.read.parquet(path).collect()}


def test_swap_crash_before_first_rename(spark, tmp_path, monkeypatch):
    """Crash at rename 1 (path -> backup): the live table was never
    touched; a plain re-run compacts successfully."""
    path = str(tmp_path / "t")
    _write_numbers(spark, path)
    pre = _rows(spark, path)

    real_rename = os.rename
    monkeypatch.setattr(os, "rename", _fail_on_call(real_rename, 1))
    with pytest.raises(InjectedCrash):
        compact_table(spark, path, target_file_bytes=1 << 30)
    monkeypatch.setattr(os, "rename", real_rename)

    assert _rows(spark, path) == pre
    stats = compact_table(spark, path, target_file_bytes=1 << 30)
    assert stats["after"]["n_files"] == 1
    assert _rows(spark, path) == pre


def test_swap_crash_between_renames_recovers(spark, tmp_path, monkeypatch):
    """THE unsafe window: after path -> backup, before staged -> path.
    The table dir is momentarily absent; `recover_swap` (run explicitly
    or via the next compact_table) restores the known-good backup, and a
    re-run completes the compaction. No rows are ever lost."""
    path = str(tmp_path / "t")
    _write_numbers(spark, path)
    pre = _rows(spark, path)

    real_rename = os.rename
    monkeypatch.setattr(os, "rename", _fail_on_call(real_rename, 2))
    with pytest.raises(InjectedCrash):
        compact_table(spark, path, target_file_bytes=1 << 30)
    monkeypatch.setattr(os, "rename", real_rename)

    # mid-swap state: live path gone, backup holds pre-state
    assert not os.path.isdir(path)
    assert any(d.startswith("t_old-") for d in os.listdir(tmp_path))

    assert recover_swap(path) == "restored"
    assert _rows(spark, path) == pre
    assert not any(d.startswith("t_old-") for d in os.listdir(tmp_path))
    assert not os.path.isdir(path + "_compacted")

    # recovery is idempotent and the re-run completes the job
    assert recover_swap(path) is None
    stats = compact_table(spark, path, target_file_bytes=1 << 30)
    assert stats["after"]["n_files"] == 1
    assert _rows(spark, path) == pre


def test_swap_crash_between_renames_rerun_alone_recovers(spark, tmp_path, monkeypatch):
    """Same crash window, but recovery = just re-running compact_table
    (it calls recover_swap first) — the operational contract in
    SCALE.md: 'after any crash, re-run the compaction'."""
    path = str(tmp_path / "t")
    _write_numbers(spark, path)
    pre = _rows(spark, path)

    real_rename = os.rename
    monkeypatch.setattr(os, "rename", _fail_on_call(real_rename, 2))
    with pytest.raises(InjectedCrash):
        compact_table(spark, path, target_file_bytes=1 << 30)
    monkeypatch.setattr(os, "rename", real_rename)

    stats = compact_table(spark, path, target_file_bytes=1 << 30)
    assert stats["before"]["n_files"] == 8  # recovered BEFORE stats
    assert stats["after"]["n_files"] == 1
    assert _rows(spark, path) == pre


def test_swap_crash_during_backup_removal(spark, tmp_path, monkeypatch):
    """Crash AFTER both renames (during backup rmtree): the swap is
    already durable — the live path has the compacted table; the stale
    uniquely-named backup is swept by the next run."""
    path = str(tmp_path / "t")
    _write_numbers(spark, path)
    pre = _rows(spark, path)

    real_rmtree = shutil.rmtree
    # call 1 is recover_swap's staging sweep at compact_table entry
    # (round-6 addition); call 2 is swap's backup removal — the
    # post-commit crash point this test pins
    monkeypatch.setattr(shutil, "rmtree", _fail_on_call(real_rmtree, 2))
    with pytest.raises(InjectedCrash):
        compact_table(spark, path, target_file_bytes=1 << 30)
    monkeypatch.setattr(shutil, "rmtree", real_rmtree)

    assert _rows(spark, path) == pre  # post-swap content == pre rows
    assert table_layout_stats(spark, path)["n_files"] == 1  # compacted
    assert any(d.startswith("t_old-") for d in os.listdir(tmp_path))

    compact_table(spark, path, target_file_bytes=1 << 30)
    assert not any(d.startswith("t_old-") for d in os.listdir(tmp_path))
    assert _rows(spark, path) == pre


def test_recover_swap_restores_newest_backup_by_mtime(tmp_path):
    """With MULTIPLE leftover backups (a prior sweep failed silently —
    all sweeps are ignore_errors), recovery must restore the NEWEST by
    mtime: the uuid suffix is meaningless, and a lexicographic pick
    would restore a stale snapshot ~50% of the time (review r6). The
    stale backup here sorts LAST lexicographically but is older."""
    import time as _time

    path = str(tmp_path / "t")
    stale = path + "_old-zzzzzzzz"  # lexicographically last
    good = path + "_old-aaaaaaaa"
    os.makedirs(stale)
    open(os.path.join(stale, "stale.parquet"), "w").write("old-generation")
    _time.sleep(0.05)
    os.makedirs(good)
    open(os.path.join(good, "good.parquet"), "w").write("committed")

    assert recover_swap(path) == "restored"
    assert os.path.exists(os.path.join(path, "good.parquet"))
    assert not os.path.isdir(stale)


def test_recover_swap_sweeps_stale_staging_with_live_table(spark, tmp_path):
    """A crashed compaction's <path>_compacted staging dir must be
    swept even when the live table is intact: the partitioned rewrite
    dynamic-overwrites INTO the staging dir, so a stale staged
    partition (e.g. one externally deleted from the live table since)
    would survive the rewrite and be sworn in by the swap —
    resurrecting deleted rows (review r6)."""
    path = str(tmp_path / "t")
    _write_numbers(spark, path, n=50, files=2)
    staged = path + "_compacted"
    os.makedirs(os.path.join(staged, "p=9"))
    open(os.path.join(staged, "p=9", "stale.parquet"), "w").write("x")

    assert recover_swap(path) is None
    assert not os.path.isdir(staged)
    # and a full compaction from this state is clean
    compact_table(spark, path, target_file_bytes=1 << 30)
    assert not os.path.isdir(staged)
    assert len(_rows(spark, path)) == 50


# ---------------------------------------------------------------------------
# 3. merge_into_partitioned
# ---------------------------------------------------------------------------


def _write_partitioned(spark, path: str, parts=(1, 2, 3)):
    rows = [(p, i, "old") for p in parts for i in range(10)]
    spark.createDataFrame(rows, "p int, k int, flag string").write.partitionBy(
        "p"
    ).mode("overwrite").parquet(path)


def test_merge_poisoned_update_leaves_pre_state(spark, tmp_path):
    """A row-level failure while evaluating the updates (fires at the
    localCheckpoint barrier, BEFORE any file is touched) must leave the
    target byte-for-byte identical — same rows AND same file listing."""
    path = str(tmp_path / "t")
    _write_partitioned(spark, path)
    pre_rows = _rows(spark, path)
    pre_files = sorted(
        os.path.join(r, f)
        for r, _d, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    )

    @F.udf("string")
    def poison(k):
        if k == 5:
            raise ValueError("poisoned row")
        return "new"

    updates = spark.createDataFrame(
        [(2, i) for i in range(10)], "p int, k int"
    ).withColumn("flag", poison("k"))
    with pytest.raises(Exception):
        merge_into_partitioned(path, updates, keys=["p", "k"], partition_col="p")

    post_files = sorted(
        os.path.join(r, f)
        for r, _d, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    )
    assert post_files == pre_files
    assert _rows(spark, path) == pre_rows


def test_merge_write_phase_failure_leaves_pre_state(spark, tmp_path, monkeypatch):
    """Failure DURING the overwrite job itself (after the checkpoint
    barrier): a poisoned column is grafted onto the checkpointed rows so
    that one write TASK fails mid-job while others have already staged
    their files — the job aborts before job-commit, so the committed
    table must read back exactly pre-state and staged files stay
    invisible. (chmod-based injection is unusable here: the suite runs
    as root, which bypasses permission bits.)"""
    # patch the CONCRETE class: pyspark.sql.DataFrame is the Spark-4
    # abstract base; the classic subclass overrides localCheckpoint
    from pyspark.sql.classic.dataframe import DataFrame

    path = str(tmp_path / "t")
    _write_partitioned(spark, path)
    pre_rows = _rows(spark, path)

    real_ckpt = DataFrame.localCheckpoint

    @F.udf("string")
    def poison(k, flag):
        if k == 5:
            raise ValueError("poisoned during write")
        return flag

    def ckpt_then_poison(self, eager=True):
        out = real_ckpt(self, eager=eager)
        # same schema, but evaluating row k==5 now throws INSIDE the
        # write job's tasks (the checkpoint itself already succeeded)
        return out.withColumn("flag", poison(F.col("k"), F.col("flag")))

    monkeypatch.setattr(DataFrame, "localCheckpoint", ckpt_then_poison)
    updates = spark.createDataFrame(
        [(2, i, "new") for i in range(10)], "p int, k int, flag string"
    )
    try:
        with pytest.raises(Exception):
            merge_into_partitioned(path, updates, keys=["p", "k"], partition_col="p")
    finally:
        monkeypatch.setattr(DataFrame, "localCheckpoint", real_ckpt)

    assert _rows(spark, path) == pre_rows
    # and the merge is still runnable after the fault clears
    merge_into_partitioned(path, updates, keys=["p", "k"], partition_col="p")
    got = {
        (r["p"], r["k"], r["flag"]) for r in spark.read.parquet(path).collect()
    }
    assert {(2, i, "new") for i in range(10)} <= got
    assert len(got) == 30


def test_merge_mixed_partition_state_recovers_by_rerun(spark, tmp_path):
    """Dynamic partition overwrite's commit unit is ONE partition, so a
    crash mid-job-commit can leave touched partitions in MIXED
    generations (some new, some old) — never a torn single partition.
    That JVM-internal crash point cannot be reached from Python (and
    root bypasses permission-based injection), so this test constructs
    the worst documented post-crash state explicitly — p=2 new, p=3
    still old — and pins the SCALE.md recovery contract: re-running the
    SAME merge converges every partition to post-state (idempotent by
    key)."""
    path = str(tmp_path / "t")
    _write_partitioned(spark, path)
    updates = spark.createDataFrame(
        [(p, i, "new") for p in (2, 3) for i in range(10)],
        "p int, k int, flag string",
    )

    # construct the mid-commit crash state: p=2's new generation
    # committed, p=3's not — exactly what a kill between two partition
    # commits leaves on disk
    done = str(tmp_path / "done")
    shutil.copytree(path, done)
    merge_into_partitioned(done, updates, keys=["p", "k"], partition_col="p")
    shutil.rmtree(os.path.join(path, "p=2"))
    shutil.copytree(os.path.join(done, "p=2"), os.path.join(path, "p=2"))

    # each partition is internally consistent (the per-partition claim)
    for p, want in ((1, "old"), (2, "new"), (3, "old")):
        rows = spark.read.parquet(os.path.join(path, f"p={p}")).collect()
        assert len(rows) == 10
        assert {r["flag"] for r in rows} == {want}

    # recovery contract: re-run the SAME merge — converges everywhere,
    # no duplicates (update wins over the already-new p=2 generation)
    merge_into_partitioned(path, updates, keys=["p", "k"], partition_col="p")
    for p, want in ((1, "old"), (2, "new"), (3, "new")):
        rows = spark.read.parquet(os.path.join(path, f"p={p}")).collect()
        assert len(rows) == 10, (p, len(rows))
        assert {r["flag"] for r in rows} == {want}


# ---------------------------------------------------------------------------
# 4. backfill_contract: demux_and_write's publish + resume
# ---------------------------------------------------------------------------

_BACKFILL_HEAD = 1999
_BACKFILL_PARTITION_BLOCKS = 1000


def _backfill_vat(spark, out: str, to_block: int | None = None) -> dict[str, int]:
    from makerdao_dw_spark.ingest.fixtures import VAT_ADDRESS, maker_chain, maker_specs
    from makerdao_dw_spark.ingest.pipeline import backfill_contract

    return backfill_contract(
        spark, maker_chain(head=_BACKFILL_HEAD), "makermcd", "vat", maker_specs()[0],
        [VAT_ADDRESS], out, creation_block=0, to_block=to_block,
        partition_blocks=_BACKFILL_PARTITION_BLOCKS,
    )


def _warehouse_keys(out: str) -> dict[str, list[tuple]]:
    """table -> sorted (block_number, log_index) of every row on disk
    (read file by file: a table may have no data file yet)."""
    import glob

    import pyarrow.parquet as pq

    root = os.path.join(out, "makermcd")
    keys = {}
    for t in sorted(os.listdir(root)):
        rows = []
        for f in glob.glob(os.path.join(root, t, "block_range=*", "*.parquet")):
            cols = pq.read_table(f, columns=["block_number", "log_index"]).to_pydict()
            rows += zip(cols["block_number"], cols["log_index"])
        keys[t] = sorted(rows)
    return keys


@pytest.fixture(scope="module")
def clean_backfill(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("clean_backfill"))
    _backfill_vat(spark, out)
    return _warehouse_keys(out)


@pytest.mark.parametrize(
    "table, block_range",
    [("vat_call_grab", 0), ("vat_call_grab", 1), ("vat_call_fold", 0), ("vat_call_fold", 1)],
)
def test_backfill_crash_while_publishing_reruns_to_clean_state(
    spark, tmp_path, monkeypatch, clean_backfill, table, block_range
):
    """A crash at the first file published into one table partition,
    then a rerun of the same backfill: every table must end with exactly
    the clean run's rows. With a table-by-table publish, the max over
    all tables can sit past a crashed table's missing partitions, and a
    rerun resuming from there leaves that table short without an
    error."""
    out = str(tmp_path / "wh")
    target = os.sep + os.path.join(table, f"block_range={block_range}") + os.sep
    real_replace = os.replace

    def crash_once(src, dst):
        if target in dst:
            monkeypatch.setattr(os, "replace", real_replace)
            raise InjectedCrash(f"injected before publishing {dst}")
        return real_replace(src, dst)

    monkeypatch.setattr(os, "replace", crash_once)
    with pytest.raises(InjectedCrash):
        _backfill_vat(spark, out)
    assert _warehouse_keys(out) != clean_backfill  # the crash left it short

    _backfill_vat(spark, out)
    assert _warehouse_keys(out) == clean_backfill


def test_backfill_below_committed_max_keeps_rows(spark, tmp_path, clean_backfill):
    """A backfill whose head is below the committed max (an earlier,
    higher --to-block; a node lagging behind an earlier call) must
    write nothing: refetching the partition that holds the max only up
    to head would overwrite it without the committed rows above head."""
    out = str(tmp_path / "wh")
    _backfill_vat(spark, out)
    assert _backfill_vat(spark, out, to_block=1500) == {}
    assert _warehouse_keys(out) == clean_backfill
