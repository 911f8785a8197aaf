"""Training-data pipeline, wave 10 (round 6): corpus-distribution
diagnostics — the spectral and information-theoretic audits that sit
next to the covariance/centroid/entropy family.

- `embedding_pca_power_iteration`: top principal component of the
  embedding corpus via 2 distributed power iterations
  (operators/pca.py), reported as per-label projection stats (count,
  mean, RMS along PC1). The "is my embedding space collapsing onto one
  axis / does a label dominate the dominant direction" check. Full
  value oracle: the deterministic training loop (all-ones init, exact
  decimal per-dim sums, left-fold dot products, zero-growth guard)
  unrolls into DuckDB CTEs — mu -> s1 -> w1 -> v1 -> s2 -> w2 -> v2 ->
  projection — the same unrolled-iteration technique as
  ann_ivf_kmeans and pagerank_copurchase.
- `source_token_kl`: per-source unigram-distribution divergence from
  the corpus distribution — KL(source || corpus) in nats plus total
  variation distance. The mixture-drift monitor: a source whose token
  distribution diverges is over/under-represented or off-domain. TV
  needs NO full-vocab outer join: for words absent from the source,
  |0 - q_w| = q_w, so TV = 0.5 * (sum_{w in source} (|p-q| - q) + 1) —
  the per-source aggregation stays on the source's own support.
- `zipf_tail_fit`: per-source OLS fit of ln(freq) on ln(rank) over the
  top-50 tokens — the Zipf slope (natural text ~ -1; templated or
  synthetic text flattens or steepens) with intercept and R^2. Closed
  -form OLS over exact decimal sums of per-point doubles; degenerate
  denominators (a source with one distinct token) yield NULL via
  NULLIF on both engines rather than an engine-specific inf.

Determinism: every floating sum is a DECIMAL(38,12) cast per term
(order-free), every dot product a fixed-order left fold, every window
a unique total order, one ROUND per emitted double.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.pca import centered_projection, power_iteration_pc1
from ..session import load_table, materialize
from .registry import query
from .text_common import ws_words_arr, ws_words_duck


_PI_DIM = 64
_PI_ITER = 2


# --------------------------------------------------------------------------
# PCA power iteration (unrolled-iteration DuckDB twin of operators/pca.py)
# --------------------------------------------------------------------------
def _fold_duck(terms: str) -> str:
    """Left fold ((0 + t1) + t2) + ... — bit-identical to Spark's
    F.aggregate over the same index-ordered terms."""
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), {terms}), "
        f"(acc, t) -> acc + t)"
    )


def _proj_duck(e: str, mu: str, vec: str) -> str:
    """(e - mu) . vec with the same shape as centered_projection."""
    return _fold_duck(
        f"list_transform(generate_series(1, {_PI_DIM}), "
        f"i -> ({e}[i] - {mu}[i]) * {vec}[i])"
    )


def _w_duck(scores: str) -> str:
    """One power step's growth vector: exact decimal per-dim sums of
    (e[i] - mu[i]) * t. COALESCE keeps the CTE single-row on empty
    input so downstream cross joins stay well-formed."""
    return f"""SELECT COALESCE(list(w ORDER BY pos), []) AS wv FROM (
    SELECT i - 1 AS pos,
           CAST(SUM(CAST((v.e[i] - mu.mu[i]) * {scores}.t AS DECIMAL(38,12)))
                AS DOUBLE) AS w
    FROM v, {scores}, mu,
         LATERAL (SELECT UNNEST(generate_series(1, {_PI_DIM})) AS i) u
    WHERE v.vec_id = {scores}.vec_id
    GROUP BY i)"""


_PCA_ORACLE = f"""
WITH v AS (
    SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
    FROM embeddings WHERE embedding IS NOT NULL
),
mu AS (
    SELECT COALESCE(list(m ORDER BY pos), []) AS mu FROM (
        SELECT i - 1 AS pos,
               CAST(SUM(CAST(e[i] AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*) AS m
        FROM v, LATERAL (SELECT UNNEST(generate_series(1, {_PI_DIM})) AS i) u
        GROUP BY i)
),
v0 AS (
    SELECT list_transform(generate_series(1, {_PI_DIM}),
                          i -> 1.0 / SQRT(CAST({_PI_DIM} AS DOUBLE))) AS vec
),
s1 AS (SELECT vec_id, {_proj_duck('v.e', 'mu.mu', 'v0.vec')} AS t
       FROM v, mu, v0),
w1 AS ({_w_duck('s1')}),
n1 AS (SELECT SQRT({_fold_duck('list_transform(wv, y -> y * y)')}) AS nrm FROM w1),
v1 AS (SELECT CASE WHEN n1.nrm = 0 THEN v0.vec
              ELSE list_transform(w1.wv, x -> x / n1.nrm) END AS vec
       FROM w1, n1, v0),
s2 AS (SELECT vec_id, {_proj_duck('v.e', 'mu.mu', 'v1.vec')} AS t
       FROM v, mu, v1),
w2 AS ({_w_duck('s2')}),
n2 AS (SELECT SQRT({_fold_duck('list_transform(wv, y -> y * y)')}) AS nrm FROM w2),
v2 AS (SELECT CASE WHEN n2.nrm = 0 THEN v1.vec
              ELSE list_transform(w2.wv, x -> x / n2.nrm) END AS vec
       FROM w2, n2, v1),
proj AS (SELECT v.label, {_proj_duck('v.e', 'mu.mu', 'v2.vec')} AS t
         FROM v, mu, v2)
SELECT label,
       COUNT(*) AS n_vecs,
       ROUND(CAST(SUM(CAST(t AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*), 6)
           AS mean_proj,
       ROUND(SQRT(CAST(SUM(CAST(t * t AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*)), 6)
           AS rms_proj
FROM proj GROUP BY label ORDER BY label
"""


@query(
    "embedding_pca_power_iteration",
    oracle=_PCA_ORACLE,
    tags=("similarity", "pca", "iterative", "training-data"),
)
def embedding_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component by 2 power iterations (operators/pca.py),
    then per-label projection stats along it. Each iteration is one
    distributed pass; the driver holds only O(dim) doubles; the final
    projection is a pure map-side fold over broadcast-literal (mu, v) —
    at 100 TB this is 4 scans total (mean, 2 growth steps, final agg)
    and one narrow dim-group shuffle per pass, nothing resident."""
    e = (
        load_table(spark, sf_dir, "embeddings", spread=True)
        .select("vec_id", "label", "embedding")
        .filter(F.col("embedding").isNotNull())
    )
    fitted = power_iteration_pc1(e, "embedding", _PI_DIM, _PI_ITER)
    if fitted is None:
        return spark.createDataFrame(
            [], "label int, n_vecs bigint, mean_proj double, rms_proj double"
        )
    mu, v = fitted
    proj = e.select(
        "label", centered_projection("embedding", mu, v).alias("t")
    )
    return (
        proj.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(
                F.sum(F.col("t").cast("decimal(38,12)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_proj"),
            F.round(
                F.sqrt(
                    F.sum((F.col("t") * F.col("t")).cast("decimal(38,12)")).cast(
                        "double"
                    )
                    / F.count(F.lit(1))
                ),
                6,
            ).alias("rms_proj"),
        )
        .orderBy("label")
    )


# --------------------------------------------------------------------------
# Shared word-count fragment (whitespace words over documents)
# --------------------------------------------------------------------------
def _word_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(source, word, n) — one tokenize pass; the column name `n` is
    part of the contract with _COUNTS_DUCK below (single-definition
    rule). explode_outer + isNotNull (not bare explode) so the
    optimizer can't infer a size()>0 filter carrying the tokenizer
    lambda below the spread repartition (the round-6 pushed-Filter
    hazard, NOTES)."""
    d = load_table(spark, sf_dir, "documents", spread=True)
    toks = d.select(
        "source", F.explode_outer(ws_words_arr("text")).alias("word")
    ).filter(F.col("word").isNotNull())
    return toks.groupBy("source", "word").agg(F.count(F.lit(1)).alias("n"))


_COUNTS_DUCK = f"""toks AS (
    SELECT source, UNNEST({ws_words_duck('text')}) AS word FROM documents
),
counts AS (SELECT source, word, COUNT(*) AS n FROM toks GROUP BY 1, 2)"""


# --------------------------------------------------------------------------
# Per-source unigram KL / total-variation vs the corpus distribution
# --------------------------------------------------------------------------
@query(
    "source_token_kl",
    oracle=f"""
WITH {_COUNTS_DUCK},
tot AS (SELECT CAST(SUM(n) AS DOUBLE) AS nn FROM counts),
enr AS (
    SELECT source, word, n,
           SUM(n) OVER (PARTITION BY word) AS n_w,
           SUM(n) OVER (PARTITION BY source) AS n_s
    FROM counts
),
terms AS (
    SELECT source, n_s,
           CAST(n AS DOUBLE) / n_s AS p,
           CAST(n_w AS DOUBLE) / tot.nn AS q
    FROM enr, tot
)
SELECT source,
       CAST(MAX(n_s) AS BIGINT) AS n_tokens,
       COUNT(*) AS vocab_words,
       ROUND(CAST(SUM(CAST(p * LN(p / q) AS DECIMAL(38,12))) AS DOUBLE), 6)
           AS kl_nats,
       ROUND(0.5 * (CAST(SUM(CAST(ABS(p - q) - q AS DECIMAL(38,12))) AS DOUBLE)
                    + 1.0), 6) AS tv_dist
FROM terms GROUP BY source ORDER BY source
""",
    tags=("training-data", "mixture", "kl", "entropy"),
)
def source_token_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source unigram KL(source || corpus) in nats + total
    variation — the mixture-drift monitor for a multi-source corpus.
    TV over the FULL vocabulary without a per-source full-vocab outer
    join: absent words contribute exactly q_w, so
    TV = 0.5 * (sum_{w in source}(|p - q| - q) + 1) and the aggregation
    never leaves the source's own support — at 100 TB the widest
    intermediate stays vocab x sources, not vocab x sources^2.
    Per-term contributions are DECIMAL(38,12)-cast pre-sum (house
    determinism rule); q > 0 on every surviving row by construction.

    The count table is materialized once (session.materialize — the
    cms_heavy_hitters pattern): it feeds BOTH the broadcast corpus
    total and the enriched window pass, and Spark cannot dedupe a
    subtree consumed through a broadcast exchange — without the cut
    the whole tokenize pipeline runs twice. Measured rule from NOTES:
    checkpoint pays when the aggregate is much smaller than its input
    stream — vocab x sources vs the full token stream here."""
    counts = _word_counts(spark, sf_dir).transform(materialize)
    tot = F.broadcast(counts.agg(F.sum("n").cast("double").alias("nn")))
    enr = counts.select(
        "source",
        "n",
        F.sum("n").over(Window.partitionBy("word")).alias("n_w"),
        F.sum("n").over(Window.partitionBy("source")).alias("n_s"),
    )
    terms = enr.crossJoin(tot).select(
        "source",
        "n_s",
        (F.col("n").cast("double") / F.col("n_s")).alias("p"),
        (F.col("n_w").cast("double") / F.col("nn")).alias("q"),
    )
    return (
        terms.groupBy("source")
        .agg(
            F.max("n_s").alias("n_tokens"),
            F.count(F.lit(1)).alias("vocab_words"),
            F.round(
                F.sum(
                    (F.col("p") * F.log(F.col("p") / F.col("q"))).cast(
                        "decimal(38,12)"
                    )
                ).cast("double"),
                6,
            ).alias("kl_nats"),
            F.round(
                0.5
                * (
                    F.sum(
                        (F.abs(F.col("p") - F.col("q")) - F.col("q")).cast(
                            "decimal(38,12)"
                        )
                    ).cast("double")
                    + 1.0
                ),
                6,
            ).alias("tv_dist"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Zipf tail fit: per-source OLS of ln(freq) on ln(rank), top-50 tokens
# --------------------------------------------------------------------------
_ZIPF_TOP = 50

# Closed-form OLS over the decimal-exact sums — ONE definition of each
# expression tree, consumed verbatim by Spark selectExpr AND the DuckDB
# oracle, so the scalar double arithmetic is structurally identical on
# both engines (the determinism requirement for the hash compare).
_SLOPE = "(k * sxy - sx * sy) / NULLIF(k * sxx - sx * sx, CAST(0 AS DOUBLE))"
_OLS_EXPRS = (
    "source",
    "CAST(k AS BIGINT) AS n_top",
    f"ROUND({_SLOPE}, 6) AS zipf_slope",
    f"ROUND((sy - {_SLOPE} * sx) / k, 6) AS intercept",
    "ROUND((k * sxy - sx * sy) * (k * sxy - sx * sy)"
    " / NULLIF((k * sxx - sx * sx) * (k * syy - sy * sy),"
    " CAST(0 AS DOUBLE)), 6) AS r2",
)
_OLS_FINAL = ",\n       ".join(_OLS_EXPRS)


@query(
    "zipf_tail_fit",
    oracle=f"""
WITH {_COUNTS_DUCK},
ranked AS (
    SELECT source, n,
           ROW_NUMBER() OVER (PARTITION BY source
                              ORDER BY n DESC, word ASC) AS rk
    FROM counts
),
pts AS (
    SELECT source,
           LN(CAST(rk AS DOUBLE)) AS x,
           LN(CAST(n AS DOUBLE)) AS y
    FROM ranked WHERE rk <= {_ZIPF_TOP}
),
sums AS (
    SELECT source,
           CAST(COUNT(*) AS DOUBLE) AS k,
           CAST(SUM(CAST(x AS DECIMAL(38,12))) AS DOUBLE) AS sx,
           CAST(SUM(CAST(y AS DECIMAL(38,12))) AS DOUBLE) AS sy,
           CAST(SUM(CAST(x * y AS DECIMAL(38,12))) AS DOUBLE) AS sxy,
           CAST(SUM(CAST(x * x AS DECIMAL(38,12))) AS DOUBLE) AS sxx,
           CAST(SUM(CAST(y * y AS DECIMAL(38,12))) AS DOUBLE) AS syy
    FROM pts GROUP BY source
)
SELECT {_OLS_FINAL}
FROM sums ORDER BY source
""",
    tags=("training-data", "zipf", "regression", "text"),
)
def zipf_tail_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source Zipf fit: OLS of ln(freq) on ln(rank) over the top-50
    tokens (rank = unique (n DESC, word ASC) total order). Natural text
    runs a slope near -1; templated/synthetic sources flatten or
    steepen — a cheap authenticity screen next to source_token_kl's
    divergence. Closed-form OLS over exact decimal sums; a source with
    a single distinct token (or a constant-frequency top list for R^2)
    yields NULL via NULLIF instead of an engine-specific inf. Top-50 is
    a row_number cap per source, so the fit input is O(sources) rows no
    matter the corpus size."""
    counts = _word_counts(spark, sf_dir)
    rk = F.row_number().over(
        Window.partitionBy("source").orderBy(F.col("n").desc(), F.col("word").asc())
    )
    pts = (
        counts.withColumn("rk", rk)
        .filter(F.col("rk") <= _ZIPF_TOP)
        .select(
            "source",
            F.log(F.col("rk").cast("double")).alias("x"),
            F.log(F.col("n").cast("double")).alias("y"),
        )
    )
    sums = pts.groupBy("source").agg(
        F.count(F.lit(1)).cast("double").alias("k"),
        F.sum(F.col("x").cast("decimal(38,12)")).cast("double").alias("sx"),
        F.sum(F.col("y").cast("decimal(38,12)")).cast("double").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,12)")).cast("double").alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,12)")).cast("double").alias("sxx"),
        F.sum((F.col("y") * F.col("y")).cast("decimal(38,12)")).cast("double").alias("syy"),
    )
    return sums.selectExpr(*_OLS_EXPRS).orderBy("source")
