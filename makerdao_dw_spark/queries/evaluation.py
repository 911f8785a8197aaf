"""Retrieval-quality evaluation, wave 14 (round 6): ranking metrics as
distributed queries — the dashboard a search/RAG platform computes over
its own indexes. Ground truth here is the exact cosine ranking (the
same brute-force formulation as `ann_bruteforce_topk`); the evaluated
"system" is the label-bucketed IVF stand-in (`ann_ivf_bucketed`'s
candidate rule), so the metric quantifies exactly what that index
trades away. Evaluation is inherently a probe-sample job: the exact
ranking costs O(probes x N) by definition, which is why production
evals run on a sample — the probe set is the same deterministic
vec_id % 25 draw the index queries use.

Determinism: relevance labels and ranks are integers from unique total
orders; DCG terms are per-term DECIMAL(38,12)-cast before the sum; the
ideal DCG is a shared literal expression string evaluated by both
engines; MRR's reciprocal comes from an integer MIN.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import load_table, materialize
from .registry import query
from .similarity import PROBE_ID_CAP, _cos_duck, _cos_spark, _NORM_POS_DUCK, _dot_expr

_EVAL_K = 5
_PROBE_MOD = 25
# fixed probe-panel size: the eval cost is O(panel x N) BY DESIGN (the
# exact ground truth), so the panel must NOT grow with the corpus — an
# uncapped % draw made the pair table O(N^2/25) (9.4x wall at 10x data,
# BENCH_r6_wave14). Smallest-id cap = deterministic TakeOrdered, and a
# no-op at sf0.01 (20 probes < 200).
_PROBE_CAP = 200

# ideal DCG@5 when all top-5 slots hold a relevant item — ONE literal
# expression string, evaluated by Spark SQL and DuckDB alike so the
# normalizer is bit-identical (left-assoc adds, like every house fold).
_IDCG_SQL = (
    "((((1.0 / LOG2(2.0) + 1.0 / LOG2(3.0)) + 1.0 / LOG2(4.0))"
    " + 1.0 / LOG2(5.0)) + 1.0 / LOG2(6.0))"
)


@query(
    "retrieval_eval_ndcg",
    oracle=f"""
WITH nz AS (
    SELECT vec_id, label, embedding FROM embeddings WHERE {_NORM_POS_DUCK}
),
q AS (SELECT * FROM nz WHERE vec_id % {_PROBE_MOD} = 0 AND vec_id < {PROBE_ID_CAP}
      ORDER BY vec_id LIMIT {_PROBE_CAP}),
pairs AS (
    SELECT q.vec_id AS query_id, q.label AS q_label,
           c.vec_id AS cand_id, c.label AS c_label,
           {_cos_duck('q.embedding', 'c.embedding')} AS cosine
    FROM q q JOIN nz c ON q.vec_id <> c.vec_id
),
judged AS (
    SELECT *,
           CASE WHEN ROW_NUMBER() OVER (PARTITION BY query_id
                    ORDER BY cosine DESC, cand_id) <= {_EVAL_K}
                THEN 1 ELSE 0 END AS rel
    FROM pairs
),
sys AS (
    SELECT query_id, q_label, cand_id, rel,
           ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY cosine DESC, cand_id) AS sys_rk
    FROM judged WHERE q_label = c_label
),
scored AS (
    SELECT query_id,
           CAST(SUM(CASE WHEN sys_rk <= {_EVAL_K} THEN rel ELSE 0 END)
               AS BIGINT) AS n_rel_in_top5,
           ROUND(CAST(SUM(CAST(CASE WHEN sys_rk <= {_EVAL_K}
                     THEN rel / LOG2(CAST(sys_rk + 1 AS DOUBLE))
                     ELSE 0.0 END AS DECIMAL(38,12))) AS DOUBLE)
                 / {_IDCG_SQL}, 6) AS ndcg5,
           ROUND(COALESCE(1.0 / MIN(CASE WHEN rel = 1 THEN sys_rk END), 0.0), 6)
               AS mrr
    FROM sys GROUP BY query_id
)
SELECT p.vec_id AS query_id,
       p.label AS label,
       COALESCE(s.n_rel_in_top5, 0) AS n_rel_in_top5,
       COALESCE(s.ndcg5, 0.0) AS ndcg5,
       COALESCE(s.mrr, 0.0) AS mrr
FROM q p LEFT JOIN scored s ON p.vec_id = s.query_id
ORDER BY p.vec_id
""",
    tags=("evaluation", "retrieval", "ndcg", "similarity"),
)
def retrieval_eval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@5 and MRR of the label-bucketed IVF stand-in against the
    exact cosine ranking, per probe: relevance = membership in the
    exact top-5 (the ann_bruteforce_topk formulation), system ranking
    = cosine order restricted to the probe's bucket. MRR is the TRUE
    reciprocal rank (MIN over the whole bucket ranking, not truncated
    at 5); a probe whose bucket retrieves nothing still appears with
    ndcg5 = mrr = 0 — the eval must not hide its worst cases. One
    broadcast probe join builds the pair table; both rankings are
    windows over it; the fixed probe panel bounds the O(panel x N)
    exact side — the inherent cost of ground truth, which is why this
    is a sampled eval job at any scale."""
    e = load_table(spark, sf_dir, "embeddings", spread=True)
    nz = e.filter(F.expr(f"{_dot_expr('embedding', 'embedding')} > 0"))
    # the 200-row probe panel has two consumers (pair build + the
    # keep-every-probe left join) — checkpoint once
    panel = (
        nz.filter(
            (F.col("vec_id") % _PROBE_MOD == 0) & (F.col("vec_id") < PROBE_ID_CAP)
        )
        .orderBy("vec_id")
        .limit(_PROBE_CAP)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("label").alias("q_label"),
            F.col("embedding").alias("qe"),
        )
        .transform(materialize)
    )
    q = F.broadcast(panel)
    c = nz.select(
        F.col("vec_id").alias("cand_id"),
        F.col("label").alias("c_label"),
        F.col("embedding").alias("ce"),
    )
    pairs = q.join(c, F.col("query_id") != F.col("cand_id")).select(
        "query_id",
        "q_label",
        "cand_id",
        "c_label",
        F.expr(_cos_spark("qe", "ce")).alias("cosine"),
    )
    w_exact = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), "cand_id"
    )
    judged = pairs.withColumn(
        "rel",
        F.when(F.row_number().over(w_exact) <= _EVAL_K, 1).otherwise(0),
    )
    sys = judged.filter(F.col("q_label") == F.col("c_label")).withColumn(
        "sys_rk",
        F.row_number().over(
            Window.partitionBy("query_id").orderBy(
                F.col("cosine").desc(), "cand_id"
            )
        ),
    )
    scored = sys.groupBy("query_id").agg(
        F.sum(
            F.when(F.col("sys_rk") <= _EVAL_K, F.col("rel")).otherwise(0)
        ).alias("n_rel_in_top5"),
        F.round(
            F.sum(
                F.expr(
                    f"cast(case when sys_rk <= {_EVAL_K}"
                    " then rel / log2(cast(sys_rk + 1 as double))"
                    " else 0.0 end as decimal(38,12))"
                )
            ).cast("double")
            / F.expr(_IDCG_SQL),
            6,
        ).alias("ndcg5"),
        F.round(
            F.coalesce(
                F.lit(1.0) / F.min(F.when(F.col("rel") == 1, F.col("sys_rk"))),
                F.lit(0.0),
            ),
            6,
        ).alias("mrr"),
    )
    return (
        panel.select("query_id", F.col("q_label").alias("label"))
        .join(F.broadcast(scored), "query_id", "left")
        .select(
            "query_id",
            "label",
            F.coalesce("n_rel_in_top5", F.lit(0)).alias("n_rel_in_top5"),
            F.coalesce("ndcg5", F.lit(0.0)).alias("ndcg5"),
            F.coalesce("mrr", F.lit(0.0)).alias("mrr"),
        )
        .orderBy("query_id")
    )
