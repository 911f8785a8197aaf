#!/usr/bin/env python
"""Benchmark the headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "sf": ...}. Each query is timed to full
materialization (count via noop write semantics: collect).

Self-calibration (round 6): this box's wall-clock noise is ±30% with
occasional 5x spikes, which has twice forced a manual same-session A/B
to separate code regressions from host drift. The suite now times a
FIXED pure-Spark workload (constant-seed range -> hash -> shuffle ->
agg; no disk, no data dependence) at suite start and end, and emits
both the raw total and `value_normalized` = raw * (reference
calibration / measured calibration). Compare `value_normalized` across
rounds: identical code on a 20%-slower host reads ~identical
normalized. `calibration` carries start/end/ref so drift WITHIN a run
(start vs end divergence) is visible too.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F  # noqa: E402

from makerdao_dw_spark.queries import REGISTRY  # noqa: E402
from makerdao_dw_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Reference calibration time on the build box under the MEDIAN
# estimator (steady-state _calibration_run at 400M rows, local[32]:
# samples 0.75-0.90, median 0.84 over a 15-sample round-8 session).
# value_normalized is the raw total rescaled as if the suite had run on
# a host exactly this fast. UNIT BREAK at round 8: rounds <= 7 used
# ref 0.80 with a min-of-N estimator — min picks turbo flukes (the r7
# artifact divided by a 0.721 s sample and moved normalized OPPOSITE to
# raw), so r8+ normalized values are not unit-identical to r7's; the
# artifact carries `estimator` so cross-round readers can tell. The
# constant never needs re-tuning unless the calibration WORKLOAD or the
# estimator changes again.
CALIBRATION_REF_SEC = 0.84
CALIBRATION_ESTIMATOR = "median-of-2x5"


def _calibration_run(spark) -> float:
    """One timed run of the fixed calibration workload: 400M-row range,
    per-row hashing (codegen CPU), a 1000-key shuffle, and a global
    agg — the same JVM resources the headline queries stress, with zero
    dependence on testdata or scale factor."""
    t0 = time.perf_counter()
    (
        spark.range(0, 400_000_000, 1, 32)
        .select(
            F.pmod(F.xxhash64("id"), F.lit(1000)).alias("k"),
            # pmod keeps the SUMs inside long range (ANSI mode throws
            # on overflow; raw xxhash64 sums overflow at this row count)
            F.pmod(F.xxhash64("id", F.lit(1)), F.lit(1_000_000)).alias("v"),
        )
        .groupBy("k")
        .agg(F.sum("v").alias("s"))
        .select(F.sum("s"))
        .collect()
    )
    return time.perf_counter() - t0


def calibrate(spark, n: int = 5) -> list[float]:
    """n calibration samples. The session estimate is the MEDIAN over
    both ends' samples (see main) — NOT the min: queries are timed
    min-of-3 under TYPICAL host conditions, so dividing by a lucky-fast
    calibration floor scales them inconsistently (the r7 artifact's
    end min hit 0.721 s on a 13% faster-than-raw run and pushed
    value_normalized the OPPOSITE direction from raw). The median
    tracks the same typical speed the query mins were taken under and
    is robust to both cold spikes and turbo-boost flukes."""
    return [round(_calibration_run(spark), 3) for _ in range(n)]

# Headline suite: one representative per operator family.
HEADLINE = [
    "flagship_events_funnel",   # the reference's analytics plan shape
    "q1_pricing_summary",       # scan + hash aggregate
    "multiway_join_revenue",    # 5-way join
    "asof_join_order_events",   # as-of join (union + LOCF window)
    "window_cumulative",        # partitioned running window
    "window_rank_lag",          # rank/lag window family
    "gap_fill_sequence",        # sequence explode
    "dedup_exact",              # hash dedup
    "dedup_minhash_lsh",        # shingle->minhash->band join
    "dedup_connected_components",  # iterative component clustering
    "ann_bruteforce_topk",      # vector similarity
    "text_quality_stats",       # text featurization
    "text_tfidf_topterms",      # two-phase term statistics
    "salted_skew_aggregate",    # skew-salted aggregation
    # added round 10 (r9 VERDICT item 8): a staged/banded family
    # representative so the driver bench exercises the stage() path
    "dedup_embedding_cosine_banded",
]

# Timed and reported SEPARATELY, excluded from the headline total
# (round 11, VERDICT r10 item 1): streaming_windowed_counts whipsawed
# 1.5-9.9 s across CLEAN sessions — its cost is fixed micro-batch
# scheduler overhead, not data, and it alone accounted for most of the
# ~25% cross-session spread of the r10 totals. It stays in the artifact
# (regression-visible) under its own key with its own noise label.
STREAMING = ["streaming_windowed_counts"]

# Suite-composition changes, so cross-round totals self-explain.
SUITE_CHANGES = (
    "r11: UNIT BREAK x2 — (1) per-query estimator is now median-of-3 "
    "AFTER one untimed warm-up run (r1-r10: min-of-3 cold-inclusive); "
    "(2) streaming_windowed_counts is excluded from value/"
    "value_normalized and reported under `streaming` (scheduler-"
    "overhead-dominated; whipsawed 1.5-9.9s across clean sessions). "
    "value now covers 15 queries; r10's covered those 15 + streaming. "
    "r10: +dedup_embedding_cosine_banded (16 queries; r1-r9 totals "
    "cover 15)"
)


def _scratch_gb(spark) -> float:
    """Current Spark shuffle/scratch usage (blockmgr-*/spark-* under
    spark.local.dir), GB — per-query telemetry so future 'disk ceiling'
    conversations are data, not guesses (round-9 VERDICT item 6)."""
    import subprocess

    local = spark.sparkContext.getConf().get("spark.local.dir", "/tmp")
    total = 0
    for d in local.split(","):
        try:
            for entry in os.listdir(d):
                if entry.startswith(("blockmgr-", "spark-")):
                    out = subprocess.run(
                        ["du", "-sb", os.path.join(d, entry)],
                        capture_output=True,
                        text=True,
                    ).stdout
                    total += int(out.split()[0]) if out else 0
        except OSError:
            continue
    return round(total / 1e9, 2)


# Within-run drift above this is host contention: per-run normalization
# by ONE session median cannot repair a box that got busier MID-run
# (the committed r9 artifact drifted start 1.326s -> end 2.025s, +53%,
# and read as a fake 1.79x regression until a manual idle-host rerun).
CONTENTION_DRIFT = 0.20


def _engine_consume(df) -> None:
    """Consume EVERY output column JVM-side: xxhash64 over all columns
    (cast to string for type-uniformity), summed as decimal so ANSI mode
    cannot overflow. No column pruning can drop plan work and no rows
    cross the JVM/Python boundary, so for a query whose output grows
    with the corpus this times the plan, not driver materialization."""
    df.select(
        F.xxhash64(*[F.col(c).cast("string") for c in df.columns]).alias("h")
    ).agg(F.sum(F.col("h").cast("decimal(38,0)"))).collect()


def compiled_classes(spark) -> int:
    """Classes Janino has compiled in this JVM so far. Spark records one
    compile-time sample per codegen-cache miss, so the difference of two
    reads counts the classes compiled in between."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def time_query(
    spark, fn, sf_dir: str, reps: int = 3, engine: bool = False
) -> tuple[float, list[float], int, int]:
    """Time `fn(spark, sf_dir)` to completion: one first run (pays
    codegen/JIT/page-cache population — the state a cross-session
    comparison cannot control), then `reps` timed runs. Returns
    (first_s, runs, compiles_first, compiles): the last two count the
    classes compiled during the first run and during the timed runs
    (compiled_classes). Each run builds the plan and collects it, or with
    `engine` consumes it JVM-side (_engine_consume).

    The suite's per-query estimator (round 11, VERDICT r10 item 1) is
    the MEDIAN of the runs, the first run excluded. The old min-of-3 was
    cold-inclusive and min-estimated: a single lucky sample set the
    number, so two clean sessions of identical code spread ~25%.
    Median-after-warmup is robust to one spike in either direction and
    measures the same steady state in every session.

    Back-to-back reps of one query hide codegen-cache misses between
    queries: one query needs a median of 11 classes, so its reps hit
    Spark's cache even where an interleaved mix evicts and recompiles
    them on every pass. The compile counts are the check for that, not
    median_s (session.get_spark sizes the cache)."""

    def once() -> float:
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        if engine:
            _engine_consume(df)
        else:
            df.collect()
        return time.perf_counter() - t0

    c0 = compiled_classes(spark)
    first = once()
    c1 = compiled_classes(spark)
    runs = [once() for _ in range(reps)]
    return first, runs, c1 - c0, compiled_classes(spark) - c1


def _median_s(spark, name: str) -> float:
    _first, runs, *_compiles = time_query(spark, REGISTRY[name].fn, SF_DIR)
    return round(statistics.median(runs), 3)


def _run_suite(spark) -> dict:
    """One full timed pass: start calibration, every headline query
    (median-of-3 after warm-up, scratch telemetry), end calibration;
    streaming queries timed the same way but totaled separately."""
    calib_start = calibrate(spark)
    timings: dict[str, float] = {}
    scratch: dict[str, float] = {}
    streaming: dict[str, float] = {}
    from makerdao_dw_spark.session import gc_hint

    for name in HEADLINE:
        # GC between queries: a 16-query suite accumulates dead plan/
        # cache objects in the driver JVM's old gen, and the resulting
        # full-GC pauses land on whichever LATER query is running —
        # measured as a 1.7s-vs-9.0s cross-session whipsaw on the
        # suite's last query while the same query ran a steady
        # 3.4-4.6s standalone. ~100ms per query buys state-independent
        # timings (the same reason tools/measure.py gc's between
        # queries).
        gc_hint(spark)
        timings[name] = _median_s(spark, name)
        scratch[name] = _scratch_gb(spark)
    for name in STREAMING:
        gc_hint(spark)
        streaming[name] = _median_s(spark, name)
    calib_end = calibrate(spark)
    start_med = statistics.median(calib_start)
    end_med = statistics.median(calib_end)
    return {
        "timings": timings,
        "scratch_gb": scratch,
        "streaming": streaming,
        "total": round(sum(timings.values()), 3),
        "calib_start": calib_start,
        "calib_end": calib_end,
        "start_median": round(start_med, 3),
        "end_median": round(end_med, 3),
        "session_median": round(statistics.median(calib_start + calib_end), 3),
        "within_run_drift": round(abs(end_med / start_med - 1.0), 3),
    }


def main() -> None:
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("makerdao-dw-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Untimed warmup: JVM/codegen/parquet-footer paths, not query work.
    from makerdao_dw_spark.session import TESTDATA_TABLES, load_table

    for t in TESTDATA_TABLES:
        load_table(spark, SF_DIR, t).count()

    # Contention gate (round 10): if the calibration drifted >20% WITHIN
    # the run, the box got busier/quieter mid-suite and the per-query
    # mins are not one host speed — rerun once; if the drift persists,
    # stamp contended=true and carry BOTH runs so the artifact
    # self-labels instead of reading as a code regression.
    runs = [_run_suite(spark)]
    if runs[0]["within_run_drift"] > CONTENTION_DRIFT:
        runs.append(_run_suite(spark))
    primary = min(runs, key=lambda r: r["within_run_drift"])
    contended = primary["within_run_drift"] > CONTENTION_DRIFT

    calib = primary["session_median"]
    total = primary["total"]
    # Host-speed sanity flag (round-9 ADVICE): when the session runs
    # >20% off the reference host speed, the RAW total moves with the
    # host and only value_normalized is comparable across rounds — say
    # so in the artifact, so a raw-vs-normalized divergence self-explains
    # without a forensic A/B (the round-8 adjudication).
    drift = calib / CALIBRATION_REF_SEC
    host_note = (
        f"host ran {drift:.2f}x the reference calibration speed; compare "
        "value_normalized across rounds, not value"
        if abs(drift - 1.0) > 0.20
        else "host speed within 20% of reference"
    )
    artifact = {
        "metric": "headline_suite_total",
        "value": total,
        "unit": "sec",
        "queries": primary["timings"],
        "scratch_gb": primary["scratch_gb"],
        "streaming": {
            **primary["streaming"],
            "note": (
                "timed separately, EXCLUDED from value/value_normalized "
                "(r11): cost is fixed micro-batch scheduler overhead, "
                "not data — whipsawed 1.5-9.9s across clean sessions "
                "and dominated cross-round total noise"
            ),
        },
        "estimator_per_query": "median-of-3 after 1 untimed warm-up (r11; r1-r10 min-of-3)",
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "calibration": {
            "start_median_sec": primary["start_median"],
            "end_median_sec": primary["end_median"],
            "session_median_sec": calib,
            "within_run_drift": primary["within_run_drift"],
            "ref_sec": CALIBRATION_REF_SEC,
            "estimator": CALIBRATION_ESTIMATOR,
            "host_speed_note": host_note,
        },
        "value_normalized": round(total * CALIBRATION_REF_SEC / calib, 3),
        "suite_changes": SUITE_CHANGES,
    }
    if len(runs) > 1:
        artifact["contended"] = contended
        artifact["contention_note"] = (
            f"within-run calibration drift {runs[0]['within_run_drift']:.0%} "
            f"exceeded {CONTENTION_DRIFT:.0%}; suite rerun once "
            f"(rerun drift {runs[1]['within_run_drift']:.0%}); primary = "
            f"run {runs.index(primary) + 1}"
            + ("; BOTH runs contended — treat value with suspicion" if contended else "")
        )
        artifact["runs"] = [
            {
                "total": r["total"],
                "queries": r["timings"],
                "start_median_sec": r["start_median"],
                "end_median_sec": r["end_median"],
                "within_run_drift": r["within_run_drift"],
            }
            for r in runs
        ]
    print(json.dumps(artifact))
    spark.stop()


if __name__ == "__main__":
    main()
