"""IO plane: catalog DDL, the batched JDBC sink, table maintenance.

The reference's only sinks are row-at-a-time INSERTs into PostgreSQL or
Snowflake (/root/reference/classes.py:119-127,166-171 — flagged as the
known perf problem in its own README:104). Here the primary sink is
columnar parquet partitioned for pruning (ingest/pipeline.py); JDBC
exists as a batched parity adapter for warehouse interop.
"""
