"""Training-data pipeline, wave 9 (round 6): corpus governance over
the dedup infrastructure — incremental batch novelty, duplicate-cluster
demographics, and the quality-vs-duplication audit.

- `novelty_incremental_batch`: the incremental twin of
  ngram_novelty_curve (training8.py) — an arriving batch (a
  content-stable md5 draw of ~1/16 of docs) is probed against the
  EXISTING corpus's 3-gram index: per source, how many of the batch's
  gram positions are content the corpus has never seen. The daily
  "was this crawl worth ingesting" number.
- `dedup_cluster_size_histogram`: power-of-two histogram of near-dup
  cluster sizes from the LSH -> connected-components pipeline. Web
  dup clusters are power-law distributed; this is the table that
  shows whether dup mass sits in many pairs (benign) or a few mega
  clusters (template/boilerplate problem, and the whale-risk signal
  for any per-cluster processing).
- `quality_dup_correlation`: per global quality decile, the fraction
  of docs that are near-dup cluster members and the fraction that
  cluster-canonical dedup would DROP. The audit that answers "is
  dedup doing my quality filtering (dups concentrate in low-quality
  deciles) or fighting it (dups uniform — dedup and quality gates are
  independent filters)".

Determinism: md5 gram/cluster keys, integer counts, one ROUND per
emitted double, NTILE over a (score, doc_id) total order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.order_stats import global_ntile, use_parallel
from ..session import load_table
from .dedup import _CC_CORE, _lsh_candidate_pairs
from .registry import query
from .text_common import (
    gram_md5_arr_duck,
    gram_md5_arr_spark,
    ws_words_arr,
    ws_words_duck,
)


_G3_SPARK = gram_md5_arr_spark(3)
_G3_DUCK = gram_md5_arr_duck(3)

# Arriving-batch stand-in: a content-stable md5 draw (~1/16 of docs).
# Deliberately NOT dedup_incremental_batch's `doc_id % 10 = 9`: the
# synthetic corpus assigns source as a function of doc_id, so a modular
# id split ALIASES with the source layout and collapses the per-source
# breakdown to 2 rows — the hash draw decorrelates from any id scheme
# (and is what a real pipeline keys on anyway: content-stable splits).
_IS_BATCH_DUCK = "substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '9'"
_IS_BATCH_SPARK = "substring(md5(cast(doc_id as string)), 1, 1) = '9'"


@query(
    "novelty_incremental_batch",
    oracle=f"""
WITH toks AS (
    SELECT doc_id, source, {ws_words_duck('text')} AS w FROM documents
), grams AS (
    SELECT doc_id, source, UNNEST({_G3_DUCK}) AS ghash FROM toks
), corpus_index AS (
    SELECT DISTINCT ghash FROM grams WHERE NOT ({_IS_BATCH_DUCK})
), probe AS (
    SELECT g.source, CASE WHEN c.ghash IS NULL THEN 1 ELSE 0 END AS novel
    FROM grams g LEFT JOIN corpus_index c ON g.ghash = c.ghash
    WHERE {_IS_BATCH_DUCK}
), bd AS (
    SELECT source, COUNT(*) AS n_batch_docs FROM documents
    WHERE {_IS_BATCH_DUCK} GROUP BY source
)
SELECT bd.source, bd.n_batch_docs,
       CAST(COALESCE(COUNT(p.novel), 0) AS BIGINT) AS gram_positions,
       CAST(COALESCE(SUM(p.novel), 0) AS BIGINT) AS novel_positions,
       ROUND(CAST(COALESCE(SUM(p.novel), 0) AS DOUBLE)
             / CAST(GREATEST(COUNT(p.novel), 1) AS DOUBLE), 6) AS novelty_frac
FROM bd LEFT JOIN probe p ON bd.source = p.source
GROUP BY bd.source, bd.n_batch_docs
ORDER BY bd.source
""",
    tags=("training", "novelty", "incremental", "curation"),
)
def novelty_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch-vs-corpus novelty: per source of the arriving batch
    (content-stable md5 draw, ~1/16 of docs — see _IS_BATCH_* for why
    not the %10 id split), the fraction of its 3-gram positions whose
    gram does not occur anywhere in the existing corpus. Complements
    dedup_incremental_batch (doc-level dup status) with a CONTENT-level
    number — a batch can be 0% doc-duplicate yet 95% known n-grams.

    Shapes at 100 TB: the corpus index is a distinct md5-key set built
    once (at production scale: a bucketed table maintained
    incrementally, so the daily probe joins with zero corpus
    re-shuffle); the batch probe is a hash join on the uniform gram
    key; the rollup is |sources|-sized. Docs-per-source comes from the
    slim documents projection so gram-free sources still appear."""
    d = load_table(spark, sf_dir, "documents", spread=True)
    is_batch = F.expr(_IS_BATCH_SPARK)
    toks = d.select(
        "doc_id", "source", ws_words_arr("text").alias("w")
    )
    grams = toks.select(
        "doc_id", "source", F.explode_outer(F.expr(_G3_SPARK)).alias("ghash")
    ).filter(F.col("ghash").isNotNull())
    corpus_index = (
        grams.filter(~is_batch).select("ghash").distinct().withColumn("hit", F.lit(1))
    )
    probe = (
        grams.filter(is_batch)
        .join(corpus_index, "ghash", "left")
        .select("source", F.when(F.col("hit").isNull(), 1).otherwise(0).alias("novel"))
    )
    bd = d.filter(is_batch).groupBy("source").agg(F.count(F.lit(1)).alias("n_batch_docs"))
    return (
        bd.join(probe, "source", "left")
        .groupBy("source", "n_batch_docs")
        .agg(
            F.coalesce(F.count("novel"), F.lit(0)).alias("gram_positions"),
            F.coalesce(F.sum("novel"), F.lit(0)).alias("novel_positions"),
            F.round(
                F.coalesce(F.sum("novel"), F.lit(0)).cast("double")
                / F.greatest(F.count("novel"), F.lit(1)).cast("double"),
                6,
            ).alias("novelty_frac"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Near-dup cluster size histogram (power-law audit)
# --------------------------------------------------------------------------
_SIZE_BUCKETS = (2, 4, 8, 16, 32, 64, 128)  # bucket = [b, next_b)


def _size_bucket_duck(col: str) -> str:
    arms = " ".join(
        f"WHEN {col} < {b} THEN {_SIZE_BUCKETS[i]}"
        for i, b in enumerate(_SIZE_BUCKETS[1:])
    )
    return f"CASE {arms} ELSE {_SIZE_BUCKETS[-1]} END"


def _size_bucket_spark(col: F.Column) -> F.Column:
    out = F.lit(_SIZE_BUCKETS[-1])
    for i in reversed(range(len(_SIZE_BUCKETS) - 1)):
        out = F.when(col < F.lit(_SIZE_BUCKETS[i + 1]), F.lit(_SIZE_BUCKETS[i])).otherwise(out)
    return out


@query(
    "dedup_cluster_size_histogram",
    oracle=f"""{_CC_CORE},
cc AS (
    SELECT node, MIN(reached) AS component FROM reach GROUP BY node
), sizes AS (
    SELECT component, COUNT(*) AS csize FROM cc GROUP BY component
)
SELECT CAST({_size_bucket_duck('csize')} AS BIGINT) AS bucket_lo,
       COUNT(*) AS n_clusters,
       CAST(SUM(csize) AS BIGINT) AS n_docs,
       CAST(MAX(csize) AS BIGINT) AS largest_cluster
FROM sizes
GROUP BY 1
ORDER BY bucket_lo
""",
    tags=("dedup", "graph", "histogram", "governance"),
)
def dedup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster demographics: near-dup components (LSH
    candidates -> connected components, identical pipeline and
    LSH_BUCKET_CAP gate as dedup_connected_components) bucketed by
    power-of-two size — clusters, docs, and the largest cluster per
    bucket. The power-law audit: dup mass in the 2-3 bucket is organic
    near-duplication; mass in the top bucket is template/boilerplate
    and a whale warning for any per-cluster downstream step.

    Shapes at 100 TB: sizes are a count over the CC output keyed by
    component (uniform doc-id-valued key); the histogram groups ~7
    integer keys. The CASE ladder is exact integer compare (no float
    log2 edge). Cluster membership is size >= 2 by construction
    (isolated docs never enter the edge list), so every CC row counts."""
    from ..operators.graph import connected_components

    pairs = _lsh_candidate_pairs(spark, sf_dir).select("doc_a", "doc_b")
    cc = connected_components(pairs, "doc_a", "doc_b")
    sizes = cc.groupBy("component").agg(F.count(F.lit(1)).alias("csize"))
    return (
        sizes.groupBy(
            _size_bucket_spark(F.col("csize")).cast("long").alias("bucket_lo")
        )
        .agg(
            F.count(F.lit(1)).alias("n_clusters"),
            F.sum("csize").alias("n_docs"),
            F.max("csize").alias("largest_cluster"),
        )
        .orderBy("bucket_lo")
    )


# --------------------------------------------------------------------------
# Quality-vs-duplication audit
# --------------------------------------------------------------------------
@query(
    "quality_dup_correlation",
    oracle=f"""{_CC_CORE},
cc AS (
    SELECT node AS doc_id, MIN(reached) AS component FROM reach GROUP BY node
), scored AS (
    SELECT doc_id,
           ROUND(len({ws_words_duck('text')})
                 / CAST(GREATEST(n_chars, 1) AS DOUBLE), 6) AS score
    FROM documents
), ranked AS (
    SELECT s.doc_id,
           CAST(NTILE(10) OVER (ORDER BY s.score DESC, s.doc_id) AS BIGINT) AS decile,
           CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END AS in_cluster,
           CASE WHEN c.doc_id IS NOT NULL AND c.component <> s.doc_id
                THEN 1 ELSE 0 END AS dropped
    FROM scored s LEFT JOIN cc c ON s.doc_id = c.doc_id
)
SELECT decile, COUNT(*) AS n_docs,
       CAST(SUM(in_cluster) AS BIGINT) AS n_in_cluster,
       CAST(SUM(dropped) AS BIGINT) AS n_dropped,
       ROUND(CAST(SUM(in_cluster) AS DOUBLE) / COUNT(*), 6) AS dup_frac,
       ROUND(CAST(SUM(dropped) AS DOUBLE) / COUNT(*), 6) AS dropped_frac
FROM ranked
GROUP BY decile
ORDER BY decile
""",
    tags=("dedup", "quality", "audit", "governance"),
)
def quality_dup_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-vs-duplication audit: per GLOBAL quality decile (same
    token-density proxy and NTILE total order as the curriculum/
    calibration queries), the fraction of docs that belong to a
    near-dup cluster and the fraction canonical-keep dedup would drop
    (component != doc_id). Decile 10 = lowest quality; dup_frac rising
    toward decile 10 means dedup and the quality gate agree — flat
    means they filter independent populations and BOTH are needed.

    Shapes at 100 TB: the CC labels are doc-keyed (one hash join onto
    the slim scored projection); the NTILE is the documented
    global-sort calibration step (swap for approx-quantile thresholds
    at extreme scale — quality_calibrated_rank documents the same
    contract); the rollup groups 10 keys."""
    from ..operators.graph import connected_components

    d = load_table(spark, sf_dir, "documents", spread=True)
    pairs = _lsh_candidate_pairs(spark, sf_dir).select("doc_a", "doc_b")
    cc = connected_components(pairs, "doc_a", "doc_b").select(
        F.col("node").alias("doc_id"), "component"
    )
    scored = d.select(
        "doc_id",
        F.round(
            F.size(ws_words_arr("text"))
            / F.greatest(F.col("n_chars"), F.lit(1)).cast("double"),
            6,
        ).alias("score"),
    )
    # r12: past the source-size gate the NTILE runs as the parallel
    # global rank instead of the single-task empty-PARTITION BY window
    # (guide §2.5) — the docstring's documented "swap at extreme
    # scale", made exact. Below the gate the plain window is kept
    # (measured r12: unconditionally parallel regressed sf1 2.0 ->
    # 3.6 s; both forms value-identical).
    joined = scored.join(cc, "doc_id", "left").select("doc_id", "score", "component")
    ranked = global_ntile(
        joined,
        [F.col("score").desc(), F.col("doc_id")],
        10,
        "decile",
        parallel=use_parallel(sf_dir, "documents"),
    ).select(
        F.col("decile").cast("long").alias("decile"),
        F.when(F.col("component").isNotNull(), 1).otherwise(0).alias("in_cluster"),
        F.when(
            F.col("component").isNotNull() & (F.col("component") != F.col("doc_id")),
            1,
        )
        .otherwise(0)
        .alias("dropped"),
    )
    return (
        ranked.groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("in_cluster").alias("n_in_cluster"),
            F.sum("dropped").alias("n_dropped"),
            F.round(F.sum("in_cluster").cast("double") / F.count(F.lit(1)), 6).alias(
                "dup_frac"
            ),
            F.round(F.sum("dropped").cast("double") / F.count(F.lit(1)), 6).alias(
                "dropped_frac"
            ),
        )
        .orderBy("decile")
    )
