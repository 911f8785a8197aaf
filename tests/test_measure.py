"""tools/measure.py: the one registered-query timing harness. The tests call
its measure() / parse_args() directly, because main() stops the session."""

from __future__ import annotations

import importlib.util
import json
import os

import pytest

from .conftest import SF_DIR, SF_DIR_T2

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_spec = importlib.util.spec_from_file_location("measure", os.path.join(REPO, "tools", "measure.py"))
measure = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(measure)

DIRS = [("small", SF_DIR), ("large", SF_DIR_T2)]


def test_two_dirs_collect_engine_and_streaming(spark, tmp_path):
    out = str(tmp_path / "m.json")
    args = measure.parse_args(
        ["--dirs", *(f"{l}={p}" for l, p in DIRS), "--reps", "1", "--out", out,
         "q1_pricing_summary", "window_cumulative:engine", "streaming_dedup"]
    )
    assert args.queries == {
        "q1_pricing_summary": False, "window_cumulative": True, "streaming_dedup": False
    }
    art = measure.measure(spark, args.dirs, args.queries, args.reps, args.out)
    assert art == json.load(open(out))
    assert art["modes"]["window_cumulative"] == "engine"
    for label, _ in DIRS:
        rows = art["results"][label]
        assert set(rows) == set(args.queries)
        for row in rows.values():
            assert "error" not in row
            assert row["first_s"] > 0 and row["median_s"] > 0 and row["scratch_gb"] >= 0
            assert row["compiles_first"] >= 0 and row["compiles"] >= 0
            assert len(row["runs"]) == 1
        assert rows["streaming_dedup"]["state_rows"] > 0
        assert "state_rows" not in rows["q1_pricing_summary"]
    assert set(art["ratio"]) == set(args.queries)


def test_failing_query_is_recorded_and_sweep_goes_on(spark, tmp_path, monkeypatch):
    qd = measure.queries_dict()

    def boom(spark, sf_dir):
        raise RuntimeError("planted failure\nsecond line")

    monkeypatch.setattr(
        measure, "queries_dict", lambda: {"boom": boom, "q1_pricing_summary": qd["q1_pricing_summary"]}
    )
    out = str(tmp_path / "m.json")
    art = measure.measure(
        spark, DIRS[:1], {"boom": False, "q1_pricing_summary": False}, 1, out
    )
    rows = art["results"]["small"]
    assert rows["boom"]["error"] == "planted failure"
    assert "scratch_gb" in rows["boom"]
    assert rows["q1_pricing_summary"]["median_s"] > 0
    assert "ratio" not in art  # one dir: nothing to compare


def test_unknown_query_rejected_by_argparse(tmp_path):
    out = str(tmp_path / "m.json")
    base = ["--dirs", f"a={SF_DIR}", "--out", out]
    for bad in (["no_such_query"], ["q1_pricing_summary:fast"], ["dedup_exact", "dedup_exact:engine"]):
        with pytest.raises(SystemExit):
            measure.parse_args(base + bad)
    with pytest.raises(SystemExit):
        measure.parse_args(base + ["--dirs", f"a={SF_DIR}", f"a={SF_DIR_T2}"])
    assert not os.path.exists(out)
    assert measure.parse_args(base).queries == {n: False for n in measure.HEADLINE}
