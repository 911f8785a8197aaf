"""MERGE / upsert over parquet tables (CDC-style maintenance).

Plain parquet has no transaction log, so MERGE is: anti-join the target
against the update keys (drop stale versions), union the updates, and
rewrite — scoped to the partitions the updates actually touch, never the
whole table. With the block_range layout (ingest/pipeline.py) an update
batch touches a handful of recent partitions; the rewrite cost is
O(touched partitions), the same unit the reference re-ingests on restart
(README.md:91-93) but without re-fetching from the chain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def merge_dataframes(target: DataFrame, updates: DataFrame, keys: list[str]) -> DataFrame:
    """Upsert semantics on DataFrames: rows of `target` whose key is not
    in `updates`, plus all of `updates` (update wins; inserts are keys
    absent from target). Update rows must be unique per key."""
    return target.join(updates.select(*keys).distinct(), keys, "left_anti").unionByName(updates)


def merge_into_partitioned(
    target_path: str,
    updates: DataFrame,
    keys: list[str],
    partition_col: str,
) -> None:
    """MERGE into a partitioned parquet table, rewriting only touched
    partitions (dynamic partition overwrite = the atomic commit unit)."""
    import os

    spark = updates.sparkSession
    touched = [r[0] for r in updates.select(partition_col).distinct().collect()]
    # explicit existence check, NOT try/except: a transient read failure
    # must fail the merge loudly — swallowing it would take the
    # first-write branch and dynamic-overwrite every touched partition
    # with ONLY the update rows, silently deleting pre-existing data
    if not os.path.isdir(target_path):
        updates.write.partitionBy(partition_col).mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).parquet(target_path)
        return
    target = spark.read.parquet(target_path).filter(F.col(partition_col).isin(touched))
    merged = merge_dataframes(target, updates, keys)
    # Persist via localCheckpoint before overwriting: the merged plan
    # reads the same files the overwrite is about to replace.
    merged.localCheckpoint(eager=True).write.partitionBy(partition_col).mode(
        "overwrite"
    ).option("partitionOverwriteMode", "dynamic").parquet(target_path)
