"""Catalog layer: schema namespaces -> Spark databases, managed tables.

The reference's DDL plane (classes.py:52-87: CREATE SCHEMA + CREATE
TABLE IF NOT EXISTS per ABI entry, with the table-exists check bug at
classes.py:64 and the early-break bug at :85-87 — both fixed here by
construction: catalog operations are idempotent one-liners).

A `schema` in the reference (makermcd / aave / aave_v2 / centrifuge /
ethereum, README.md:73) maps to a Spark database; each compiled
TableSpec becomes a managed (or external, if `path` given) table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def ensure_database(spark: SparkSession, name: str) -> None:
    """Idempotent CREATE DATABASE (namespace = protocol schema)."""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS `{name}`")


def save_table(
    df: DataFrame,
    database: str,
    table: str,
    mode: str = "append",
    partition_by: list[str] | None = None,
    path: str | None = None,
) -> None:
    """Save a DataFrame as a catalog table `database`.`table`.

    mode='append' is the ingestion default (per-range batches, A12);
    use mode='overwrite' with dynamic partition overwrite for idempotent
    range re-ingestion (A19/A14 replacement).
    """
    spark = df.sparkSession
    ensure_database(spark, database)
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    if path is not None:
        w = w.option("path", path)  # external table
    w.saveAsTable(f"`{database}`.`{table}`")


def table_exists(spark: SparkSession, database: str, table: str) -> bool:
    """The check classes.py:64 got wrong (operator-precedence bug made it
    match any table in the lowercased schema): exact (db, table) match."""
    return spark.catalog.tableExists(f"`{database}`.`{table}`")
