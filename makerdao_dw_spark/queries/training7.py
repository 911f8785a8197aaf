"""Training-data pipeline, wave 7 (round 6): batching efficiency,
per-source quality calibration, and tokenizer evaluation.

- `padding_waste_by_bucket`: length-bucketed batch assembly — assign
  every document to the smallest power-of-two token-length bucket and
  report, per bucket and in TOTAL, how much of the padded token grid
  is real data vs padding. The table that decides whether a trainer
  uses bucketed batching (vs pack_sequences' contiguous fill —
  training.py — which this complements: packing eliminates padding,
  bucketing preserves document boundaries; pipelines pick per stage).
- `quality_calibrated_rank`: per-source quality calibration — decile
  thresholds of the quality score WITHIN each source, so a "keep the
  top 20%" gate can be applied source-relative (a uniform global
  threshold would empty low-quality sources entirely and keep all of
  high-quality ones; per-source calibration preserves the mixture).
  Complements curriculum_quality_phases (training5.py), which bins
  GLOBALLY.
- `tokenizer_fertility_by_lang`: tokenizer evaluation — fertility
  (subword tokens per whitespace word) and characters per token, per
  language. The standard go/no-go metric when validating a tokenizer
  across languages; high fertility = the language is over-segmented
  and trains at an effective context discount.

Determinism: pure integer/length arithmetic, one ROUND per emitted
double, NTILE over (score, doc_id) total orders.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import load_table
from .registry import query
from .text_common import tokens_arr, tokens_arr_duck, ws_words_arr, ws_words_duck


# --------------------------------------------------------------------------
# Padding waste by power-of-two length bucket
# --------------------------------------------------------------------------
_BUCKETS = (16, 32, 64, 128, 256, 512)


def _bucket_case_duck(col: str) -> str:
    arms = " ".join(f"WHEN {col} <= {b} THEN {b}" for b in _BUCKETS[:-1])
    return f"CASE {arms} ELSE {_BUCKETS[-1]} END"


def _bucket_case_spark(col: F.Column) -> F.Column:
    out = F.lit(_BUCKETS[-1])
    for b in reversed(_BUCKETS[:-1]):
        out = F.when(col <= b, F.lit(b)).otherwise(out)
    return out


@query(
    "padding_waste_by_bucket",
    oracle=f"""
WITH sized AS (
    SELECT len({tokens_arr_duck('text')}) AS n_tokens FROM documents
), bucketed AS (
    SELECT CAST({_bucket_case_duck('n_tokens')} AS BIGINT) AS bucket_len,
           LEAST(n_tokens, {_BUCKETS[-1]}) AS kept_tokens
    FROM sized
), rolled AS (
    SELECT COALESCE(CAST(bucket_len AS VARCHAR), 'TOTAL') AS scope, bucket_len,
           COUNT(*) AS n_docs,
           CAST(SUM(kept_tokens) AS BIGINT) AS data_tokens,
           CAST(SUM(bucket_len) AS BIGINT) AS padded_tokens
    FROM bucketed GROUP BY ROLLUP(bucket_len)
)
SELECT scope, n_docs, data_tokens, padded_tokens,
       ROUND(1.0 - CAST(data_tokens AS DOUBLE) / CAST(padded_tokens AS DOUBLE), 6)
           AS waste_frac
FROM rolled
ORDER BY bucket_len NULLS LAST
""",
    tags=("training", "batching", "padding", "packing"),
)
def padding_waste_by_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batching efficiency: each document lands in the
    smallest power-of-two bucket >= its token length (over-long docs
    truncate into the largest — kept_tokens caps there, matching what
    the batcher would feed the model); per bucket and in TOTAL, the
    fraction of the padded (n_docs x bucket_len) token grid that is
    padding. The report that justifies (or kills) bucketed batching
    for a corpus.

    Shapes at 100 TB: sizing is map-only; ONE rollup pass produces the
    per-bucket rows AND the grand total (per-doc padded contribution is
    just bucket_len, so the TOTAL is a plain SUM — no union, no second
    scan, one tiny 6-key exchange). The CASE ladder is exact integer
    compare — no log2 float edge to drift cross-engine. Spark emits no
    rollup rows over an EMPTY corpus where DuckDB emits the ()-group
    total — the known engine-semantic divergence pinned in
    tests/test_degenerate_inputs.py SKIP_EMPTY_COMPARE."""
    d = load_table(spark, sf_dir, "documents", spread=True)
    sized = d.select(F.size(tokens_arr("text")).alias("n_tokens"))
    bucketed = sized.select(
        _bucket_case_spark(F.col("n_tokens")).cast("long").alias("bucket_len"),
        F.least(F.col("n_tokens"), F.lit(_BUCKETS[-1])).alias("kept_tokens"),
    )
    return (
        bucketed.rollup("bucket_len")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("kept_tokens").alias("data_tokens"),
            F.sum("bucket_len").alias("padded_tokens"),
        )
        .select(
            F.coalesce(F.col("bucket_len").cast("string"), F.lit("TOTAL")).alias("scope"),
            "bucket_len",
            "n_docs",
            "data_tokens",
            "padded_tokens",
            F.round(
                1.0 - F.col("data_tokens").cast("double") / F.col("padded_tokens").cast("double"),
                6,
            ).alias("waste_frac"),
        )
        .orderBy(F.col("bucket_len").asc_nulls_last())
        .drop("bucket_len")
    )


# --------------------------------------------------------------------------
# Per-source quality calibration deciles
# --------------------------------------------------------------------------
@query(
    "quality_calibrated_rank",
    oracle=f"""
WITH scored AS (
    SELECT doc_id, source,
           ROUND(len({ws_words_duck('text')})
                 / CAST(GREATEST(n_chars, 1) AS DOUBLE), 6) AS score
    FROM documents
), ranked AS (
    SELECT source, score,
           CAST(NTILE(10) OVER (PARTITION BY source ORDER BY score DESC, doc_id)
                AS BIGINT) AS decile
    FROM scored
)
SELECT source, decile, COUNT(*) AS n_docs,
       MIN(score) AS lo_score, MAX(score) AS hi_score
FROM ranked
GROUP BY source, decile
ORDER BY source, decile
""",
    tags=("training", "quality", "calibration", "ntile"),
)
def quality_calibrated_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality calibration table: decile boundaries of the
    quality score WITHIN each source (same token-density proxy as
    curriculum_quality_phases, which bins globally). A source-relative
    'keep top-k deciles' gate reads its thresholds from this table —
    the calibration that keeps the corpus mixture intact when sources
    have very different quality distributions.

    Shapes at 100 TB: one shuffle on source (the natural partition
    key), per-source NTILE window, then a same-key rollup that AQE
    plans without a second exchange. At extreme per-source cardinality
    swap NTILE for approx-quantile boundaries — output contract
    unchanged."""
    d = load_table(spark, sf_dir, "documents", spread=True)
    scored = d.select(
        "doc_id",
        "source",
        F.round(
            F.size(ws_words_arr("text"))
            / F.greatest(F.col("n_chars"), F.lit(1)).cast("double"),
            6,
        ).alias("score"),
    )
    ranked = scored.select(
        "source",
        "score",
        F.ntile(10)
        .over(Window.partitionBy("source").orderBy(F.col("score").desc(), "doc_id"))
        .cast("long")
        .alias("decile"),
    )
    return (
        ranked.groupBy("source", "decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("score").alias("lo_score"),
            F.max("score").alias("hi_score"),
        )
        .orderBy("source", "decile")
    )


# --------------------------------------------------------------------------
# Tokenizer fertility by language
# --------------------------------------------------------------------------
@query(
    "tokenizer_fertility_by_lang",
    oracle=f"""
WITH sized AS (
    SELECT lang,
           len({ws_words_duck('text')}) AS n_words,
           len({tokens_arr_duck('text')}) AS n_subwords,
           n_chars
    FROM documents
)
SELECT lang, COUNT(*) AS n_docs,
       CAST(SUM(n_words) AS BIGINT) AS words,
       CAST(SUM(n_subwords) AS BIGINT) AS subword_tokens,
       ROUND(CAST(SUM(n_subwords) AS DOUBLE) / CAST(GREATEST(SUM(n_words), 1) AS DOUBLE), 6)
           AS fertility,
       ROUND(CAST(SUM(n_chars) AS DOUBLE) / CAST(GREATEST(SUM(n_subwords), 1) AS DOUBLE), 6)
           AS chars_per_token
FROM sized
GROUP BY lang
ORDER BY lang
""",
    tags=("training", "tokenizer", "fertility", "evaluation"),
)
def tokenizer_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer evaluation: fertility (subword tokens per whitespace
    word, here the shared letter-token fragment standing in for the
    subword segmenter) and characters per token, per language. The
    per-language go/no-go table for a tokenizer: fertility far above
    the corpus norm means that language is over-segmented and pays an
    effective context-length penalty.

    Shapes at 100 TB: both tokenizations are map-only over the same
    scan (one pass, two size() counters — no explode, no token
    materialization); the rollup groups on |langs| keys. This is the
    cheap screen run per tokenizer candidate BEFORE committing a full
    re-encode of the corpus."""
    d = load_table(spark, sf_dir, "documents", spread=True)
    sized = d.select(
        "lang",
        F.size(ws_words_arr("text")).alias("n_words"),
        F.size(tokens_arr("text")).alias("n_subwords"),
        "n_chars",
    )
    return (
        sized.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").alias("words"),
            F.sum("n_subwords").alias("subword_tokens"),
            F.round(
                F.sum("n_subwords").cast("double")
                / F.greatest(F.sum("n_words"), F.lit(1)).cast("double"),
                6,
            ).alias("fertility"),
            F.round(
                F.sum("n_chars").cast("double")
                / F.greatest(F.sum("n_subwords"), F.lit(1)).cast("double"),
                6,
            ).alias("chars_per_token"),
        )
        .orderBy("lang")
    )
