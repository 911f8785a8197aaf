"""r12 gate parity: every query whose global rank/ntile/sweep is gated
between the single-task window (small inputs) and the parallel
range-partitioned form (big inputs) must produce IDENTICAL rows in both
modes — the driver's oracle only ever exercises the small-gate side at
sf0.01, so the parallel side's equivalence is pinned here."""

from __future__ import annotations

import pytest

from makerdao_dw_spark.operators import order_stats
from makerdao_dw_spark.queries import queries_dict

GATED = [
    "dsir_importance_resample",
    "curriculum_quality_phases",
    "quality_dup_correlation",
    "ab_uplift_by_segment",
    "session_rfm_features",
    "conformal_interval_calibration",
    "skyline_orders",
]


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("name", GATED)
def test_gate_parity(spark, sf_dir, name, monkeypatch):
    """use_parallel decides from input size alone: a size of 0 forces
    the serial path, an unsizable input (None) the parallel one."""
    qd = queries_dict()
    monkeypatch.setattr(order_stats, "input_bytes", lambda sf_dir, table: 0)
    small = _rows(qd[name](spark, sf_dir))
    monkeypatch.setattr(order_stats, "input_bytes", lambda sf_dir, table: None)
    big = _rows(qd[name](spark, sf_dir))
    assert small == big
    assert len(small) > 0
