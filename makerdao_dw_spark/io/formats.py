"""Parquet reads across schema generations.

Parquet is the warehouse format (column pruning + predicate pushdown +
dictionary/RLE encoding — the reference's address→bytea space hack,
classes.py:142-143, is subsumed by parquet dictionary encoding).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def read_evolved(spark: SparkSession, path: str) -> DataFrame:
    """Read a parquet table whose schema EVOLVED across writes
    (mergeSchema): the union of all file schemas, with NULLs where an
    older file lacks a newer column.

    This is the ingestion-plane answer to contract upgrades: when an
    ABI gains an event parameter, new batches carry the extra column
    while historical partitions keep the old layout — the reference
    would hard-fail on the changed DDL (classes.py:75-79 hard-errors on
    unknown types; its CREATE TABLE is fixed at first sight of the
    ABI), whereas a merged-schema read serves both generations of the
    table with no rewrite. Cost note: mergeSchema lists and reads every
    file footer — at 100 TB keep it OFF for stable tables (default) and
    use this entry point only for tables flagged as evolved, or
    materialize the union schema into the table metadata once.
    """
    return spark.read.option("mergeSchema", "true").parquet(path)
