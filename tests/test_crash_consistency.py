"""Fault-injection crash-consistency tests for the staged-swap
writers and the backfill publish:

1. `compact_table` / `swap` (io/maintenance.py): crash injected at
   each of the two renames and at the backup removal. The documented
   recovery contract is `recover_swap(path)` (called automatically at
   the start of every `compact_table`): after ANY crash, recovery + a
   re-run restores a complete table with the exact pre-compaction rows.

2. `backfill_contract` (ingest/pipeline.py): crash injected at the
   first file published into one table partition, at four points; a
   rerun of the same backfill must end with the clean run's rows in
   every table.

All injections are driver-side monkeypatches of the exact syscall the
writer performs (os.replace / os.rename / shutil.rmtree), so each test
pins one real crash point, not a simulated approximation.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from makerdao_dw_spark.io.maintenance import (
    compact_table,
    recover_swap,
    table_layout_stats,
)


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
# 1. compact_table / swap
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
# 2. backfill_contract: demux_and_write's publish + resume
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
