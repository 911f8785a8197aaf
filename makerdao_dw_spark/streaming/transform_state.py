"""transformWithStateInPandas: the Spark 4 arbitrary-state streaming API.

Successor to ``applyInPandasWithState`` (streaming/jobs.py uses that API
for the same shape of per-key running stats): an object-oriented
``StatefulProcessor`` with named, independently-typed state variables,
timers, and TTL, running against the RocksDB state store.

ENVIRONMENT GATE: the TWS Python worker talks to the JVM state server
over protobuf, and this container ships no ``google.protobuf`` (and no
installs are allowed), so the operator CANNOT EXECUTE here — the
processor below is real, import-gated code, exercised by a test that
skips unless protobuf is importable (tests/test_streaming.py). The
legacy-API twin `run_stateful_user_stats` provides the executable
coverage for the same semantics.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.stateful_processor import StatefulProcessor

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql.streaming.stateful_processor import StatefulProcessorHandle

TWS_OUTPUT_SCHEMA = "event_type STRING, n BIGINT, max_value DOUBLE, min_value DOUBLE"
_STATE_SCHEMA = "n BIGINT, mx DOUBLE, mn DOUBLE"


def protobuf_available() -> bool:
    """TWS hard-requires the protobuf wire format for state access."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


class TypeStatsProcessor(StatefulProcessor):
    """Per-event_type running stats across micro-batches. Only
    order-independent aggregates (count/max/min), so any batch split
    yields the same final state — same determinism rule as
    jobs._update_user_stats."""

    def init(self, handle: "StatefulProcessorHandle") -> None:
        self._agg = handle.getValueState("agg", _STATE_SCHEMA)

    def handleInputRows(self, key, rows, timerValues):  # noqa: ANN001 - TWS protocol
        st = self._agg.get()
        n, mx, mn = (st[0], st[1], st[2]) if st else (0, None, None)
        for pdf in rows:
            if len(pdf) == 0:
                continue
            n += len(pdf)
            bmx = float(pdf["value"].max())
            bmn = float(pdf["value"].min())
            mx = bmx if mx is None else max(mx, bmx)
            mn = bmn if mn is None else min(mn, bmn)
        self._agg.update((n, mx, mn))
        yield pd.DataFrame(
            {"event_type": [key[0]], "n": [n], "max_value": [mx], "min_value": [mn]}
        )

    def close(self) -> None:
        pass


def transform_with_state_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wire the processor into a drained AvailableNow stream (same
    harness as streaming/jobs.py). Raises RuntimeError with the gate
    reason when protobuf is unavailable."""
    if not protobuf_available():
        raise RuntimeError(
            "transformWithStateInPandas needs the protobuf package, "
            "not present in this environment"
        )
    from ..session import conf_override
    from .jobs import _drain
    from .sources import stream_table

    ev = stream_table(spark, sf_dir, "events")
    out = ev.groupBy("event_type").transformWithStateInPandas(
        statefulProcessor=TypeStatsProcessor(),
        outputStructType=TWS_OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )
    rocksdb = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    with conf_override(spark, {"spark.sql.streaming.stateStore.providerClass": rocksdb}):
        return _drain(out, "update")
