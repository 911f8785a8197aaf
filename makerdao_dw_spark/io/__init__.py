"""IO plane: the batched JDBC sink, schema-evolved reads, table maintenance.

The reference's only sinks are row-at-a-time INSERTs into PostgreSQL or
Snowflake (/root/reference/classes.py:119-127,166-171 — flagged as the
known perf problem in its own README:104). Here the primary sink is
columnar parquet partitioned for pruning (ingest/pipeline.py); JDBC
exists as a batched parity adapter for warehouse interop.

There is no catalog DDL layer. The reference's CREATE SCHEMA/TABLE plane
(classes.py:52-87) is the directory layout `demux_and_write` writes,
`<out>/<schema>/<table>`, and readers open a table by path with its
compiled `TableSpec` schema. Spark's catalog is not the reference's
PostgreSQL DDL: sessions run `catalogImplementation=in-memory`, so a
registered table would vanish when the process exits.
"""
