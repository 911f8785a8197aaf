"""MERGE / upsert over parquet tables (CDC-style maintenance).

Plain parquet has no transaction log, so MERGE is: anti-join the target
against the update keys (drop stale versions), union the updates, and
rewrite. The serving-table upsert (streaming/jobs.py::
stream_serving_aggregates) applies it per micro-batch and publishes the
rewrite with io/maintenance's rename-aside swap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def merge_dataframes(target: DataFrame, updates: DataFrame, keys: list[str]) -> DataFrame:
    """Upsert semantics on DataFrames: rows of `target` whose key is not
    in `updates`, plus all of `updates` (update wins; inserts are keys
    absent from target). Update rows must be unique per key."""
    return target.join(updates.select(*keys).distinct(), keys, "left_anti").unionByName(updates)
