"""Table maintenance: small-file compaction + layout stats.

Streaming ingest (one file per micro-batch per partition) and frequent
MERGEs accrete small files; at 100 TB the file-count tax is real (driver
memory for file listings, per-file open cost, tiny row groups defeating
column pruning). Compaction rewrites each partition to target-sized
files — an offline, per-partition-atomic operation (dynamic partition
overwrite), safe to run while readers use the previous snapshot on
object stores with atomic rename semantics.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def table_layout_stats(spark: SparkSession, path: str) -> dict:
    """File-count/size stats for a parquet table directory (driver-side
    listing — the same listing the scan planner performs)."""
    sizes: list[int] = []
    for root, _dirs, files in os.walk(path):
        sizes.extend(
            os.path.getsize(os.path.join(root, f))
            for f in files
            if f.endswith(".parquet")
        )
    if not sizes:
        return {"n_files": 0, "total_bytes": 0, "avg_bytes": 0, "small_files": 0}
    return {
        "n_files": len(sizes),
        "total_bytes": sum(sizes),
        "avg_bytes": sum(sizes) // len(sizes),
        "small_files": sum(1 for s in sizes if s < 8 << 20),  # < 8 MB
    }


def recover_swap(path: str) -> str | None:
    """Complete crash recovery for an interrupted `_swap` (the recovery
    contract documented in SCALE.md and pinned by
    tests/test_crash_consistency.py).

    The swap's only unsafe window is between its two renames: `path` has
    been moved aside to the uniquely-named `<path>_old-<uuid>` backup but
    the staged dir has not yet been renamed in. Recovery restores the
    backup — the known-good committed snapshot — and discards staged
    work (compaction is idempotent; re-running it reproduces the staged
    result). If `path` exists the swap either completed or never
    started, and any backups/staged dirs are crash leftovers to sweep.

    Returns "restored" if a backup was renamed back into place, None if
    there was nothing to recover.
    """
    import glob
    import shutil

    # newest-first by mtime: the uuid suffix is deliberately meaningless
    # (it exists to avoid rename-onto-nonempty), so a lexicographic pick
    # could restore a STALE partially-deleted backup over the real
    # pre-state if an earlier sweep failed silently (review r6)
    backups = sorted(glob.glob(path + "_old-*"), key=os.path.getmtime)
    if os.path.isdir(path):
        for b in backups:
            shutil.rmtree(b, ignore_errors=True)
        # a leftover staging dir is uncommitted work from a crashed
        # compaction; sweeping it here (not just in the restore branch)
        # matters for PARTITIONED tables — the rewrite uses dynamic
        # partition overwrite INTO the staging dir, which would leave a
        # stale partition's staged files to be swapped into the live
        # table (resurrecting externally-deleted rows)
        shutil.rmtree(path + "_compacted", ignore_errors=True)
        return None
    if backups:
        os.rename(backups[-1], path)
        for b in backups[:-1]:
            shutil.rmtree(b, ignore_errors=True)
        shutil.rmtree(path + "_compacted", ignore_errors=True)
        return "restored"
    return None


def compact_table(
    spark: SparkSession,
    path: str,
    partition_col: str | None = None,
    target_file_bytes: int = 256 << 20,
) -> dict:
    """Rewrite a parquet table into ~target-sized files.

    Partitioned tables are rewritten with one coalesce factor per
    partition (sized from on-disk bytes); unpartitioned tables in one
    pass. Returns before/after layout stats. Calls `recover_swap` first,
    so re-running after ANY crash (including mid-swap) is the documented
    recovery procedure.
    """
    recover_swap(path)
    before = table_layout_stats(spark, path)
    df = spark.read.parquet(path)
    n_out = max(1, before["total_bytes"] // target_file_bytes)
    if partition_col is None:
        df.coalesce(int(n_out)).write.mode("overwrite").parquet(path + "_compacted")
        _swap(path, path + "_compacted")
    else:
        # Per-partition-value split counts from on-disk bytes: hashing by
        # partition_col ALONE routes each value to one task, so an
        # oversized partition could never split below target size. The
        # salt (row-hash mod splits) fans a big partition across exactly
        # ceil(bytes/target) tasks while small partitions stay 1 file.
        splits = {
            os.path.basename(root).split("=", 1)[1]: max(
                1, _dir_bytes(root) // target_file_bytes
            )
            for root, _d, _f in os.walk(path)
            if "=" in os.path.basename(root)
        }
        split_expr = F.create_map(
            *[x for k, v in splits.items() for x in (F.lit(k), F.lit(int(v)))]
        )
        salted = df.withColumn(
            "__salt",
            F.pmod(
                F.xxhash64(*[c for c in df.columns if c != partition_col]),
                F.coalesce(
                    split_expr[F.col(partition_col).cast("string")], F.lit(1)
                ),
            ),
        )
        salted.repartition(
            max(int(n_out), 1), F.col(partition_col), F.col("__salt")
        ).drop("__salt").write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy(partition_col).parquet(path + "_compacted")
        _swap(path, path + "_compacted")
    after = table_layout_stats(spark, path)
    return {"before": before, "after": after}


def _dir_bytes(root: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for f in os.listdir(root)
        if f.endswith(".parquet")
    )


def _swap(path: str, staged: str) -> None:
    """Rename-aside swap (object stores: pointer flip). The backup name
    is unique so a crash can never wedge the NEXT compaction on a stale
    `<path>_old` (os.rename onto a non-empty dir raises ENOTEMPTY); a
    crash between the renames leaves the table one rename away at the
    uniquely-named backup, and stale backups are swept on the next run."""
    import glob
    import shutil
    import uuid

    for stale in glob.glob(path + "_old-*"):
        shutil.rmtree(stale, ignore_errors=True)
    backup = f"{path}_old-{uuid.uuid4().hex[:8]}"
    os.rename(path, backup)
    os.rename(staged, path)
    shutil.rmtree(backup)
