"""Structured Streaming plane.

The reference's "streaming" is a single-threaded polling loop with a
max(block_number) resume probe (/root/reference/eth-contract.py:77-146,
classes.py:32-50). Here that becomes real Structured Streaming:
checkpointed file-source micro-batches, event-time watermarks, session
windows, and custom stateful operators — the architecture that holds at
100 TB where a polling loop cannot. The registered streaming queries
live in queries/streaming.py; this package holds what they share.
"""

from .jobs import stream_ingest_logs
from .sources import stream_table

__all__ = [
    "stream_table",
    "stream_ingest_logs",
]
