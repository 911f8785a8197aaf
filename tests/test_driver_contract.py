"""The driver-contract regression gate: run the driver-sim
(tools/drive_entry.py — vanilla SparkSession, DuckDB oracles, the
external harness's strict canonicalization and the pandas one) on a
pinned query subset as part of the default test run.

Why a subprocess: the sim must build its own VANILLA session; inside
this pytest process getOrCreate() would return the conftest fixture's
configured session and mask exactly the class of breakage this gate
exists to catch (r2's TIMESTAMP_NTZ drift was invisible to pytest).

The subset pins one query per canon-risk class — decimal scale, dates,
NTZ timestamps, double formatting, serialized arrays, md5 arithmetic,
pivot column naming — so any canonicalizer/type drift fails HERE before
the external driver sees it. Set SPARK_GRAFT_FULL_DRIVE=1 to run all
queries (the pre-push gate, ~150 s).
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# one per canon-risk class; names are exact registry keys
GATE_QUERIES = [
    "q1_pricing_summary",  # Decimal(38,x) aggregation -> DOUBLE_CAST surface
    "date_functions",  # DATE -> string casts both engines
    "sessionize_events",  # NTZ-risk timestamps + window frames
    "pivot_event_counts",  # pivot column naming contract
    "inverted_index_postings",  # serialized array cells (canon crashes on lists)
    "dedup_minhash_lsh",  # cross-engine md5 integer arithmetic
    "variant_json_extract",  # VARIANT/JSON scalar extraction
    "text_tfidf_topterms",  # double formatting determinism (%.12g)
    "weighted_sample_orders",  # hash-based deterministic sampling
    "union_typed_nulls",  # typed NULL literals + BIGINT vs HUGEINT sums
]


def test_strict_driver_sim_gate():
    args = [sys.executable, os.path.join(REPO, "tools", "drive_entry.py")]
    if not os.environ.get("SPARK_GRAFT_FULL_DRIVE"):
        args += ["--no-entry", *GATE_QUERIES]
    proc = subprocess.run(
        args,
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=600,
        check=False,
    )
    tail = "\n".join(proc.stdout.splitlines()[-25:])
    assert proc.returncode == 0, (
        f"driver-sim failed (rc={proc.returncode}):\n{tail}\n"
        f"stderr tail:\n{chr(10).join(proc.stderr.splitlines()[-10:])}"
    )
    assert "QUERIES MATCH" in proc.stdout, tail


def test_sim_imports_the_entry_of_its_own_checkout(tmp_path):
    """The sim gates the checkout it sits in: a copy next to a stub
    __spark_entry__ imports the stub, not some other checkout's entry."""
    (tmp_path / "tools").mkdir()
    shutil.copy(os.path.join(REPO, "tools", "drive_entry.py"), tmp_path / "tools")
    (tmp_path / "__spark_entry__.py").write_text('raise SystemExit("stub entry imported")\n')
    proc = subprocess.run(
        [sys.executable, str(tmp_path / "tools" / "drive_entry.py"), "--no-entry", "no_such_query"],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=300,
        check=False,
    )
    assert "stub entry imported" in proc.stderr, proc.stdout + proc.stderr
