"""Training-data pipeline, wave 23 (round 6): curation tuning and
embedding-training example generation.

- `curation_threshold_grid`: the quality-gate TUNING table — a 3x3
  grid of (min chars x min words) thresholds evaluated in ONE scan
  (docs cross-joined with the 9-row literal grid), reporting per
  config the kept-document fraction and kept-token mass. This is how
  a pipeline picks its gates: sweep the grid, read the
  coverage-vs-strictness frontier, THEN commit a config — as a query,
  not nine pipeline reruns.
- `skipgram_negative_samples`: word2vec-style training examples —
  positive (center, context) pairs from adjacent windows over the
  top-200 vocabulary, plus k = 2 deterministic negative draws per
  top center (md5-anchored rank draw into the SAME vocabulary) —
  the (pair, label) table an embedding trainer consumes. Negative
  sampling is ordinarily RNG; the md5 anchor makes the draw
  content-stable so the whole example table is value-oracled (swap
  the anchor for a real RNG without changing the plan).

Determinism: integer counts; every rank is a ROW_NUMBER over a unique
(count DESC, word) order; md5 arithmetic-hash draws; explode hazards
avoided (explode_outer + isNotNull, the round-6 rule).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import load_table, materialize
from .registry import query
from .text_common import bigram_zip_expr, tokens_arr, tokens_arr_duck, ws_words_arr, ws_words_duck


# ---------------------------------------------------------------------------
# Curation threshold grid
# ---------------------------------------------------------------------------
_GRID_CHARS = (100, 200, 300)
_GRID_WORDS = (20, 40, 60)


def _grid_rows_sql() -> str:
    vals = ", ".join(
        f"({c}, {w})" for c in _GRID_CHARS for w in _GRID_WORDS
    )
    return vals


@query(
    "curation_threshold_grid",
    oracle=f"""
WITH grid(min_chars, min_words) AS (VALUES {_grid_rows_sql()}),
docs AS (
    SELECT COALESCE(n_chars, 0) AS nc,
           len({ws_words_duck("COALESCE(text, '')")}) AS nw
    FROM documents
)
SELECT g.min_chars, g.min_words,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CASE WHEN d.nc >= g.min_chars AND d.nw >= g.min_words
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       ROUND(CAST(SUM(CASE WHEN d.nc >= g.min_chars AND d.nw >= g.min_words
                           THEN 1 ELSE 0 END) AS DOUBLE)
             / NULLIF(COUNT(*), 0), 6) AS frac_docs_kept,
       ROUND(CAST(SUM(CASE WHEN d.nc >= g.min_chars AND d.nw >= g.min_words
                           THEN d.nw ELSE 0 END) AS DOUBLE)
             / NULLIF(SUM(d.nw), 0), 6) AS frac_tokens_kept
FROM docs d CROSS JOIN grid g
GROUP BY g.min_chars, g.min_words
ORDER BY g.min_chars, g.min_words
""",
    tags=("training-data", "curation", "tuning", "grid"),
)
def curation_threshold_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-gate tuning grid: 9 (min chars x min words) configs
    evaluated in ONE documents scan — per config, the kept-document
    and kept-token fractions (the coverage-vs-strictness frontier a
    pipeline reads before committing its gates; sweeping as a query
    replaces nine pipeline reruns). The doc side computes (nc, nw)
    once map-side; the 9-row literal grid cross-joins onto it and one
    grouped aggregation emits the table — corpus scanned once at any
    scale. NULL text/chars count as empty (kept by no config)."""
    d = load_table(spark, sf_dir, "documents")
    docs = d.select(
        F.coalesce("n_chars", F.lit(0)).alias("nc"),
        F.size(ws_words_arr(F.coalesce("text", F.lit("")))).alias("nw"),
    )
    grid = F.broadcast(
        spark.createDataFrame(
            [(c, w) for c in _GRID_CHARS for w in _GRID_WORDS],
            "min_chars int, min_words int",
        )
    )
    kept = F.when(
        (F.col("nc") >= F.col("min_chars")) & (F.col("nw") >= F.col("min_words")),
        1,
    ).otherwise(0)
    return (
        docs.crossJoin(grid)
        .groupBy("min_chars", "min_words")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(kept).alias("n_kept"),
            F.round(
                F.sum(kept).cast("double") / F.expr("nullif(count(1), 0)"), 6
            ).alias("frac_docs_kept"),
            F.round(
                F.sum(kept * F.col("nw")).cast("double")
                / F.expr("nullif(sum(nw), 0)"),
                6,
            ).alias("frac_tokens_kept"),
        )
        .orderBy("min_chars", "min_words")
    )


# ---------------------------------------------------------------------------
# Skip-gram positives + deterministic negative samples
# ---------------------------------------------------------------------------
_SG_VOCAB = 200
_SG_TOP_PAIRS = 100
_SG_TOP_CENTERS = 50
_SG_NEG_K = 2
# modulus = the ACTUAL vocabulary size (column `nv`), not the _SG_VOCAB
# cap: a corpus whose vocabulary is smaller than the cap would otherwise
# draw ranks that match nothing and silently shrink the negative set
_NEG_DRAW_DUCK = (
    "1 + CAST('0x' || substr(md5('neg:' || center || ':' || k), 1, 8) AS BIGINT)"
    " % nv"
)
_NEG_DRAW_SPARK = (
    "1 + cast(conv(substr(md5(concat('neg:', center, ':', cast(k as string))),"
    " 1, 8), 16, 10) as bigint) % nv"
)


@query(
    "skipgram_negative_samples",
    oracle=f"""
WITH toks AS (
    SELECT {tokens_arr_duck('text', 2)} AS ts FROM documents
),
uni AS (
    SELECT t AS w, COUNT(*) AS n_w
    FROM (SELECT UNNEST(ts) AS t FROM toks) GROUP BY t
),
vocab AS (
    SELECT w, n_w, ROW_NUMBER() OVER (ORDER BY n_w DESC, w) AS rk
    FROM uni QUALIFY rk <= {_SG_VOCAB}
),
pairs AS (
    SELECT w1 AS center, w2 AS context FROM (
        SELECT UNNEST(list_transform(generate_series(1, len(ts) - 1),
                      i -> struct_pack(w1 := ts[i], w2 := ts[i+1]))) AS p
        FROM toks
    ) t0 CROSS JOIN LATERAL (SELECT p.w1 AS w1, p.w2 AS w2)
    UNION ALL
    SELECT w2, w1 FROM (
        SELECT UNNEST(list_transform(generate_series(1, len(ts) - 1),
                      i -> struct_pack(w1 := ts[i], w2 := ts[i+1]))) AS p
        FROM toks
    ) t1 CROSS JOIN LATERAL (SELECT p.w1 AS w1, p.w2 AS w2)
),
pos AS (
    SELECT center, context, COUNT(*) AS n_pair
    FROM pairs
    WHERE center IN (SELECT w FROM vocab) AND context IN (SELECT w FROM vocab)
    GROUP BY center, context
    ORDER BY COUNT(*) DESC, center, context
    LIMIT {_SG_TOP_PAIRS}
),
centers AS (
    SELECT w AS center FROM vocab
    ORDER BY n_w DESC, w LIMIT {_SG_TOP_CENTERS}
),
vn AS (SELECT COUNT(*) AS nv FROM vocab),
negs AS (
    SELECT c.center, v.w AS context
    FROM centers c
    CROSS JOIN (SELECT UNNEST(generate_series(1, {_SG_NEG_K})) AS k)
    CROSS JOIN vn
    JOIN vocab v ON v.rk = {_NEG_DRAW_DUCK}
)
SELECT center, context, CAST(n_pair AS BIGINT) AS n_pair, 1 AS label FROM pos
UNION ALL
SELECT center, context, 0, 0 FROM negs
ORDER BY label DESC, center, context
""",
    tags=("training-data", "embeddings", "skipgram", "negative-sampling"),
)
def skipgram_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """word2vec-style training examples: the top-100 positive
    (center, context) adjacent pairs over the top-200 vocabulary,
    plus 2 deterministic negative draws per top-50 center (md5-anchored
    rank draw into the SAME vocabulary — content-stable, so the whole
    example table is value-oracled; a production trainer swaps the
    anchor for its RNG, the plan is unchanged). One tokenize pass
    feeds the vocabulary; positives group on the pair key; negatives
    are a 100-row driver-free join of the center panel against the
    vocabulary by drawn rank. Note: a draw may collide with a true
    context (standard negative-sampling noise — trainers tolerate it;
    the label column records the source)."""
    d = load_table(spark, sf_dir, "documents", spread=True)
    toks = d.select(tokens_arr("text", 2).alias("ts"))
    uni = (
        toks.select(F.explode_outer("ts").alias("w"))
        .filter(F.col("w").isNotNull())
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("n_w"))
    )
    # r12: top-K via TakeOrdered (orderBy+limit) instead of ranking the
    # WHOLE unigram vocabulary through a single-task window (guide
    # §2.5); identical rows/ranks (total order, unique w tie-break),
    # remaining rank window bounded at _SG_VOCAB rows.
    vocab = (
        uni.orderBy(F.col("n_w").desc(), "w")
        .limit(_SG_VOCAB)
        .withColumn(
            "rk", F.row_number().over(Window.orderBy(F.col("n_w").desc(), "w"))
        )
        .transform(materialize)
    )
    fwd = (
        toks.select(
            F.explode_outer(
                F.expr(bigram_zip_expr("ts", "named_struct('w1', a, 'w2', b)"))
            ).alias("p")
        )
        .filter(F.col("p").isNotNull())
        .select(F.col("p.w1").alias("center"), F.col("p.w2").alias("context"))
    )
    pairs = fwd.unionByName(
        fwd.select(F.col("context").alias("center"), F.col("center").alias("context"))
    )
    vwords = vocab.select("w")
    pos = (
        pairs.join(vwords.withColumnRenamed("w", "center"), "center", "left_semi")
        .join(vwords.withColumnRenamed("w", "context"), "context", "left_semi")
        .groupBy("center", "context")
        .agg(F.count(F.lit(1)).alias("n_pair"))
        .orderBy(F.col("n_pair").desc(), "center", "context")
        .limit(_SG_TOP_PAIRS)
    )
    centers = (
        vocab.orderBy(F.col("n_w").desc(), "w")
        .limit(_SG_TOP_CENTERS)
        .select(F.col("w").alias("center"))
    )
    vn = F.broadcast(vocab.agg(F.count(F.lit(1)).alias("nv")))
    negs = (
        centers.crossJoin(
            F.broadcast(
                spark.range(1, _SG_NEG_K + 1).select(F.col("id").alias("k"))
            )
        )
        .crossJoin(vn)
        .withColumn("draw", F.expr(_NEG_DRAW_SPARK))
        .join(F.broadcast(vocab), F.col("draw") == F.col("rk"))
        .select("center", F.col("w").alias("context"))
    )
    return (
        pos.select("center", "context", "n_pair", F.lit(1).alias("label"))
        .unionByName(
            negs.select(
                "center",
                "context",
                F.lit(0).cast("long").alias("n_pair"),
                F.lit(0).alias("label"),
            )
        )
        .orderBy(F.col("label").desc(), "center", "context")
    )
