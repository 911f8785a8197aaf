"""Model-evaluation analytics, wave 16 (round 6): the measurement jobs
that close the loop on the classifier / retrieval operators — per-class
quality of the KNN label classifier, agreement between weak labelers,
and rank fusion of two retrieval signals.

- `classifier_eval_f1`: per-class precision / recall / F1 + support of
  `knn_label_classifier`, built on the SAME prediction pipeline (the
  shared `KNN_PRED_CTES` prefix / `knn_predictions` builder in
  training6.py), so classifier and scorer provably see identical
  predictions. The confusion marginals come from two rollups of the
  probe-sized prediction table joined full-outer on class — a class
  that is only ever predicted (or only ever true) still appears.
- `cohens_kappa_labelers`: inter-annotator agreement (Cohen's kappa)
  between two deterministic weak labelers — a char-length labeler and
  a whitespace-word-count labeler — the standard sanity check before
  trusting any weak-supervision label source. kappa = (po - pe) /
  (1 - pe) with chance agreement pe from the marginal products.
- `rrf_fusion_ranking`: reciprocal-rank fusion (RRF, k=60) of two
  retrieval signals over one probe panel — exact cosine and raw
  inner-product — the standard way to merge heterogeneous rankings
  (BM25 x embedding, multi-encoder) without score calibration. Both
  ranks are windows over ONE broadcast-probe pair table: fusion costs
  no second scan.

Determinism: integer counts and ranks everywhere; doubles derived by
+,-,*,/ over integers (bit-identical cross-engine); the <=|classes|
chance-agreement terms are DECIMAL(38,12)-quantized before their sum;
NULLIF on every vanishing denominator; every ranking orders on
(value, id).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import load_table, materialize
from .registry import query
from .similarity import _dot_expr, _dot_sql_duckdb, _NORM_POS_DUCK
from .text_common import ws_words_arr, ws_words_duck
from .training6 import (
    KNN_ANN_PRED_CTES,
    KNN_PRED_CTES,
    knn_predictions,
    knn_predictions_ann,
)


# ---------------------------------------------------------------------------
# Per-class precision/recall/F1 of the KNN label classifier
# ---------------------------------------------------------------------------


def _f1_eval_sql(pred_cte: str) -> str:
    """The per-class P/R/F1 rollup over a prediction CTE with columns
    (query_id, true_label, pred_label, n_votes, correct) — shared by
    the exact and ANN-shortlist evaluators so the metric definition
    cannot drift between them."""
    return f""",
t AS (
    SELECT true_label AS label, COUNT(*) AS support,
           SUM(CASE WHEN correct THEN 1 ELSE 0 END) AS tp_t
    FROM {pred_cte} GROUP BY true_label
),
p AS (
    SELECT pred_label AS label, COUNT(*) AS n_pred,
           SUM(CASE WHEN correct THEN 1 ELSE 0 END) AS tp_p
    FROM {pred_cte} GROUP BY pred_label
)
SELECT COALESCE(t.label, p.label) AS label,
       CAST(COALESCE(t.support, 0) AS BIGINT) AS support,
       CAST(COALESCE(p.n_pred, 0) AS BIGINT) AS n_pred,
       CAST(COALESCE(t.tp_t, p.tp_p, 0) AS BIGINT) AS tp,
       CAST(COALESCE(p.n_pred, 0) - COALESCE(t.tp_t, p.tp_p, 0) AS BIGINT) AS fp,
       CAST(COALESCE(t.support, 0) - COALESCE(t.tp_t, p.tp_p, 0) AS BIGINT) AS fn,
       ROUND(CAST(COALESCE(t.tp_t, p.tp_p, 0) AS DOUBLE)
             / NULLIF(COALESCE(p.n_pred, 0), 0), 6) AS precision,
       ROUND(CAST(COALESCE(t.tp_t, p.tp_p, 0) AS DOUBLE)
             / NULLIF(COALESCE(t.support, 0), 0), 6) AS recall,
       ROUND(2.0 * COALESCE(t.tp_t, p.tp_p, 0)
             / NULLIF(COALESCE(p.n_pred, 0) + COALESCE(t.support, 0), 0), 6)
           AS f1
FROM t FULL JOIN p ON t.label = p.label
ORDER BY label
"""


def _f1_eval_spark(pred: DataFrame) -> DataFrame:
    """Spark twin of _f1_eval_sql over a materialized prediction frame."""
    corr = F.sum(F.when(F.col("correct"), 1).otherwise(0))
    t = pred.groupBy(F.col("true_label").alias("label")).agg(
        F.count(F.lit(1)).alias("support"), corr.alias("tp_t")
    )
    p = pred.groupBy(F.col("pred_label").alias("label")).agg(
        F.count(F.lit(1)).alias("n_pred"), corr.alias("tp_p")
    )
    j = t.join(p, "label", "full_outer")
    tp = F.coalesce("tp_t", "tp_p", F.lit(0))
    support = F.coalesce("support", F.lit(0))
    n_pred = F.coalesce("n_pred", F.lit(0))
    return (
        j.select(
            "label",
            support.alias("support"),
            n_pred.alias("n_pred"),
            tp.alias("tp"),
            (n_pred - tp).alias("fp"),
            (support - tp).alias("fn"),
            F.round(
                tp.cast("double") / F.expr("nullif(coalesce(n_pred, 0), 0)"), 6
            ).alias("precision"),
            F.round(
                tp.cast("double") / F.expr("nullif(coalesce(support, 0), 0)"), 6
            ).alias("recall"),
            F.round(
                F.lit(2.0)
                * tp
                / F.expr("nullif(coalesce(n_pred, 0) + coalesce(support, 0), 0)"),
                6,
            ).alias("f1"),
        )
        .orderBy("label")
    )


@query(
    "classifier_eval_f1",
    oracle=KNN_PRED_CTES + _f1_eval_sql("knn_pred"),
    tags=("evaluation", "classifier", "f1", "knn"),
)
def classifier_eval_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-class precision/recall/F1 + support for the KNN label
    classifier, over the SAME predictions `knn_label_classifier`
    emits (shared pipeline — training6.knn_predictions). tp comes
    equivalently from either rollup (a correct row has true = pred);
    fp = predicted-not-true, fn = true-not-predicted; F1 folded to
    2*tp / (n_pred + support), the algebraic form that never divides
    by a NULL precision. The prediction table is probe-sized, so both
    rollups and the full-outer class join are tiny at any corpus
    scale; it is checkpointed once for its two consumers."""
    pred = knn_predictions(spark, sf_dir).transform(materialize)
    return _f1_eval_spark(pred)


@query(
    "classifier_eval_f1_ann",
    oracle=KNN_ANN_PRED_CTES + _f1_eval_sql("knn_ann_pred"),
    tags=("evaluation", "classifier", "f1", "knn", "ann", "ivf"),
)
def classifier_eval_f1_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """classifier_eval_f1's 100 TB scale path: the identical per-class
    P/R/F1 rollup (shared _f1_eval_spark / _f1_eval_sql — the metric
    cannot drift) over the IVF-shortlisted predictions of
    knn_label_classifier_ann instead of the exact panel x full-corpus
    scoring. The eval is probe-sized either way; what changes at scale
    is the prediction pass underneath (nprobe/k of the corpus instead
    of all of it — 40.3 s of exact scoring at sf10 was the measured
    bottleneck of this query, BENCH_sf10_r7.json)."""
    pred = knn_predictions_ann(spark, sf_dir).transform(materialize)
    return _f1_eval_spark(pred)


# ---------------------------------------------------------------------------
# Cohen's kappa between two deterministic weak labelers
# ---------------------------------------------------------------------------
_CHAR_SHORT, _CHAR_MID = 200, 400  # labeler A: n_chars thresholds
_WORD_SHORT, _WORD_MID = 36, 72  # labeler B: whitespace-word thresholds

_LAB_A_DUCK = (
    f"CASE WHEN n_chars < {_CHAR_SHORT} THEN 'short' "
    f"WHEN n_chars < {_CHAR_MID} THEN 'mid' ELSE 'long' END"
)
_LAB_B_DUCK = (
    f"CASE WHEN len({ws_words_duck('text')}) < {_WORD_SHORT} THEN 'short' "
    f"WHEN len({ws_words_duck('text')}) < {_WORD_MID} THEN 'mid' "
    f"ELSE 'long' END"
)


@query(
    "cohens_kappa_labelers",
    oracle=f"""
WITH lab AS (
    SELECT {_LAB_A_DUCK} AS a, {_LAB_B_DUCK} AS b FROM documents
),
cells AS (SELECT a, b, COUNT(*) AS n FROM lab GROUP BY a, b),
tot AS (SELECT SUM(n) AS n_docs FROM cells),
agree AS (SELECT SUM(CASE WHEN a = b THEN n ELSE 0 END) AS n_agree FROM cells),
ma AS (SELECT a AS k, SUM(n) AS na FROM cells GROUP BY a),
mb AS (SELECT b AS k, SUM(n) AS nb FROM cells GROUP BY b),
pe AS (
    SELECT SUM(CAST(
        (CAST(na AS DOUBLE) / tot.n_docs) * (CAST(nb AS DOUBLE) / tot.n_docs)
        AS DECIMAL(38,12))) AS pe_d
    FROM ma JOIN mb ON ma.k = mb.k CROSS JOIN tot
)
SELECT CAST(tot.n_docs AS BIGINT) AS n_docs,
       CAST(agree.n_agree AS BIGINT) AS n_agree,
       ROUND(CAST(agree.n_agree AS DOUBLE) / NULLIF(tot.n_docs, 0), 6) AS po,
       ROUND(CAST(pe.pe_d AS DOUBLE), 6) AS pe,
       ROUND((CAST(agree.n_agree AS DOUBLE) / NULLIF(tot.n_docs, 0)
              - CAST(pe.pe_d AS DOUBLE))
             / NULLIF(1.0 - CAST(pe.pe_d AS DOUBLE), 0.0), 6) AS kappa
FROM tot, agree, pe
""",
    tags=("evaluation", "agreement", "kappa", "weak-supervision"),
)
def cohens_kappa_labelers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two deterministic weak labelers (a
    char-length 3-class labeler and a whitespace-word-count one) —
    the agreement gate run before trusting weak-supervision labels.
    One map-side labeling pass feeds a (a, b) cell rollup (<= 9 rows,
    checkpointed for its four consumers: total, agreement, both
    marginals); kappa = (po - pe) / (1 - pe) with the <= |classes|
    chance-agreement terms DECIMAL(38,12)-quantized before their sum
    so the tiny double addition is order-free. Perfect-agreement
    corpora (pe = 1) surface NULL kappa via NULLIF, not a division
    error."""
    d = load_table(spark, sf_dir, "documents")
    lab = d.select(
        F.when(F.col("n_chars") < _CHAR_SHORT, "short")
        .when(F.col("n_chars") < _CHAR_MID, "mid")
        .otherwise("long")
        .alias("a"),
        F.when(F.size(ws_words_arr("text")) < _WORD_SHORT, "short")
        .when(F.size(ws_words_arr("text")) < _WORD_MID, "mid")
        .otherwise("long")
        .alias("b"),
    )
    cells = (
        lab.groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n"))
        .transform(materialize)
    )
    tot = F.broadcast(cells.agg(F.sum("n").alias("n_docs")))
    agree = F.broadcast(
        cells.agg(
            F.sum(F.when(F.col("a") == F.col("b"), F.col("n")).otherwise(0)).alias(
                "n_agree"
            )
        )
    )
    ma = cells.groupBy(F.col("a").alias("k")).agg(F.sum("n").alias("na"))
    mb = cells.groupBy(F.col("b").alias("k")).agg(F.sum("n").alias("nb"))
    pe = F.broadcast(
        ma.join(mb, "k")
        .crossJoin(tot)
        .agg(
            F.sum(
                (
                    (F.col("na").cast("double") / F.col("n_docs"))
                    * (F.col("nb").cast("double") / F.col("n_docs"))
                ).cast("decimal(38,12)")
            ).alias("pe_d")
        )
    )
    po = F.col("n_agree").cast("double") / F.expr("nullif(n_docs, 0)")
    pe_dbl = F.col("pe_d").cast("double")
    return (
        tot.crossJoin(agree)
        .crossJoin(pe)
        .select(
            "n_docs",
            "n_agree",
            F.round(po, 6).alias("po"),
            F.round(pe_dbl, 6).alias("pe"),
            F.round(
                (po - pe_dbl) / F.expr("nullif(1.0d - cast(pe_d as double), 0.0d)"),
                6,
            ).alias("kappa"),
        )
    )


# ---------------------------------------------------------------------------
# Reciprocal-rank fusion of two retrieval signals
# ---------------------------------------------------------------------------
_RRF_K = 60  # the standard RRF damping constant
_RRF_TOP = 5
_RRF_PROBE_MOD = 50
_RRF_PROBE_CAP = 100


@query(
    "rrf_fusion_ranking",
    oracle=f"""
WITH nz AS (
    SELECT vec_id, embedding FROM embeddings WHERE {_NORM_POS_DUCK}
),
q AS (SELECT vec_id AS query_id, embedding AS qe FROM nz
      WHERE vec_id % {_RRF_PROBE_MOD} = 0 ORDER BY vec_id LIMIT {_RRF_PROBE_CAP}),
pairs AS (
    SELECT q.query_id, c.vec_id AS cand_id,
           ROUND({_dot_sql_duckdb('q.qe', 'c.embedding')}
                 / (SQRT({_dot_sql_duckdb('q.qe', 'q.qe')})
                    * SQRT({_dot_sql_duckdb('c.embedding', 'c.embedding')})), 6)
               AS cosine,
           ROUND({_dot_sql_duckdb('q.qe', 'c.embedding')}, 6) AS dot
    FROM q JOIN nz c ON q.query_id <> c.vec_id
),
ranked AS (
    SELECT query_id, cand_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY cosine DESC, cand_id) AS r_cos,
           ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY dot DESC, cand_id) AS r_dot
    FROM pairs
),
fused AS (
    SELECT query_id, cand_id, r_cos, r_dot,
           1.0 / ({_RRF_K} + r_cos) + 1.0 / ({_RRF_K} + r_dot) AS rrf_raw
    FROM ranked
)
SELECT query_id, cand_id,
       CAST(r_cos AS BIGINT) AS r_cos,
       CAST(r_dot AS BIGINT) AS r_dot,
       ROUND(rrf_raw, 6) AS rrf_score,
       CAST(rank_fused AS BIGINT) AS rank_fused
FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        ORDER BY rrf_raw DESC, cand_id) AS rank_fused
    FROM fused
) WHERE rank_fused <= {_RRF_TOP}
ORDER BY query_id, rank_fused
""",
    tags=("evaluation", "retrieval", "rrf", "fusion"),
)
def rrf_fusion_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (k=60) of two retrieval signals — exact
    cosine and raw inner product — over a fixed probe panel: the
    calibration-free way to merge heterogeneous rankings (BM25 x
    embedding, multiple encoders). BOTH ranks are row_number windows
    over ONE broadcast-probe pair table, so the second signal costs no
    extra scan or shuffle; rrf = 1/(60+r1) + 1/(60+r2) is a sum of two
    exact integer-denominator rationals — bit-identical cross-engine.
    The fixed panel bounds the O(panel x N) pair table; per-probe
    windows partition by query_id, so corpus growth widens partitions,
    never skews them."""
    e = load_table(spark, sf_dir, "embeddings", spread=True)
    nz = e.filter(F.expr(f"{_dot_expr('embedding', 'embedding')} > 0"))
    # materialize the tiny panel so the probe subtree doesn't re-scan
    # the embeddings parquet next to the candidate scan
    q = F.broadcast(
        nz.filter(F.col("vec_id") % _RRF_PROBE_MOD == 0)
        .orderBy("vec_id")
        .limit(_RRF_PROBE_CAP)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe"))
        .transform(materialize)
    )
    pairs = q.join(nz, F.col("query_id") != F.col("vec_id")).select(
        "query_id",
        F.col("vec_id").alias("cand_id"),
        F.round(
            F.expr(_dot_expr("qe", "embedding"))
            / (
                F.expr(f"sqrt({_dot_expr('qe', 'qe')})")
                * F.expr(f"sqrt({_dot_expr('embedding', 'embedding')})")
            ),
            6,
        ).alias("cosine"),
        F.round(F.expr(_dot_expr("qe", "embedding")), 6).alias("dot"),
    )
    wq = Window.partitionBy("query_id")
    ranked = pairs.select(
        "query_id",
        "cand_id",
        F.row_number()
        .over(wq.orderBy(F.col("cosine").desc(), "cand_id"))
        .alias("r_cos"),
        F.row_number()
        .over(wq.orderBy(F.col("dot").desc(), "cand_id"))
        .alias("r_dot"),
    )
    fused = ranked.withColumn(
        "rrf_raw",
        F.lit(1.0) / (F.lit(_RRF_K) + F.col("r_cos"))
        + F.lit(1.0) / (F.lit(_RRF_K) + F.col("r_dot")),
    )
    return (
        fused.withColumn(
            "rank_fused",
            F.row_number().over(wq.orderBy(F.col("rrf_raw").desc(), "cand_id")),
        )
        .filter(F.col("rank_fused") <= _RRF_TOP)
        .select(
            "query_id",
            "cand_id",
            F.col("r_cos").cast("bigint").alias("r_cos"),
            F.col("r_dot").cast("bigint").alias("r_dot"),
            F.round("rrf_raw", 6).alias("rrf_score"),
            F.col("rank_fused").cast("bigint").alias("rank_fused"),
        )
        .orderBy("query_id", "rank_fused")
    )
