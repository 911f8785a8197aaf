"""Training-data pipeline, wave 11 (round 6): ML feature engineering
and distribution-drift monitoring — the tabular-feature ops a training
pipeline runs next to the text/dedup/embedding families.

- `target_encoding_loo`: leave-one-out target encoding of a
  categorical column (order priority -> mean total price excluding the
  row itself) plus the m-estimate smoothed variant pulled toward the
  global prior. LOO is THE leakage-safe categorical encoder: the naive
  per-group mean leaks each row's own target into its feature. Exact
  decimal group sums make the subtract-self arithmetic deterministic;
  singleton groups yield NULL via NULLIF instead of a 0/0.
- `feature_hash_vectorize`: the hashing trick — words hashed into 32
  signed buckets (md5 arithmetic anchor for the bucket, a second md5
  nibble for the sign, the signed construction that makes collisions
  cancel in expectation). Output is the per-bucket collision profile
  (distinct words, token mass, signed mass): the table that says
  whether the chosen width is too small for the vocabulary. All
  integers — exact on both engines.
- `ks_feature_drift`: two-sample Kolmogorov-Smirnov statistic between
  a content-stable md5-draw batch and the rest of the corpus on the
  doc-length feature: D = max_x |F_batch(x) - F_rest(x)| plus the
  location of the maximum gap. The drift gate for "does this incoming
  batch look like the corpus". The ECDF diff is computed on the
  DISTINCT-value table (bounded by value cardinality, not corpus
  size), so the single-partition ordered window is over a small
  domain no matter how large the corpus.

Determinism: exact decimal/integer aggregation everywhere; every
double is derived by an identical scalar expression tree on both
engines; NULLIF guards every degenerate denominator identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import md5_int_duck, md5_int_spark
from ..operators.order_stats import global_ntile, use_parallel
from ..session import load_table, materialize
from .registry import query
from .text_common import ws_words_arr, ws_words_duck
from .training9 import _IS_BATCH_DUCK, _IS_BATCH_SPARK


_SMOOTH_M = 10.0  # m-estimate pseudo-count toward the global prior


# --------------------------------------------------------------------------
# Leave-one-out target encoding (orders: priority -> totalprice)
# --------------------------------------------------------------------------
@query(
    "target_encoding_loo",
    oracle=f"""
WITH g AS (
    SELECT o_orderpriority AS pri,
           SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS s,
           COUNT(*) AS n
    FROM orders GROUP BY 1
),
tot AS (
    SELECT CAST(SUM(s) AS DOUBLE) / SUM(n) AS prior FROM g
)
SELECT o.o_orderkey,
       o.o_orderpriority AS pri,
       o.o_totalprice AS target,
       ROUND(CAST(g.s - CAST(o.o_totalprice AS DECIMAL(38,6)) AS DOUBLE)
             / NULLIF(g.n - 1, 0), 6) AS loo_enc,
       ROUND((CAST(g.s - CAST(o.o_totalprice AS DECIMAL(38,6)) AS DOUBLE)
              + {_SMOOTH_M} * tot.prior)
             / (CAST(g.n - 1 AS DOUBLE) + {_SMOOTH_M}), 6) AS smooth_enc
FROM orders o JOIN g ON o.o_orderpriority = g.pri, tot
WHERE o.o_orderkey % 20 = 0
ORDER BY o.o_orderkey
""",
    tags=("training-data", "features", "encoding"),
)
def target_encoding_loo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out + m-estimate-smoothed target encoding of order
    priority against total price, emitted for a deterministic 1/20 key
    sample. Group stats are a tiny broadcast (one row per category)
    joined back map-side; the global prior is derived from the group
    sums — at 100 TB this is one stats scan plus one shuffle-free
    encode pass over the fact table. Exact DECIMAL(38,6) sums make
    (group_sum - own_target) deterministic; NULLIF turns singleton
    groups into NULL instead of a divide-by-zero."""
    o = load_table(spark, sf_dir, "orders")
    xd = F.col("o_totalprice").cast("decimal(38,6)")
    # one stats scan: the per-category table is O(categories) rows,
    # eager-checkpointed because BOTH the broadcast join and the
    # global-prior rollup consume it (a broadcast subtree defeats
    # exchange reuse — the source_token_kl lesson). The prior is
    # derived FROM the group sums (exact decimal, so identical to
    # summing the base table) — the oracle does the same.
    g_ck = (
        o.groupBy(F.col("o_orderpriority").alias("pri"))
        .agg(F.sum(xd).alias("s"), F.count(F.lit(1)).alias("n"))
        .transform(materialize)
    )
    g = F.broadcast(g_ck)
    tot = F.broadcast(
        g_ck.agg((F.sum("s").cast("double") / F.sum("n")).alias("prior"))
    )
    num = (F.col("s") - xd).cast("double")
    return (
        o.filter(F.col("o_orderkey") % 20 == 0)
        .join(g, o["o_orderpriority"] == g["pri"])
        .crossJoin(tot)
        .select(
            "o_orderkey",
            "pri",
            F.col("o_totalprice").alias("target"),
            F.round(num / F.expr("nullif(n - 1, 0)"), 6).alias("loo_enc"),
            F.round(
                (num + F.lit(_SMOOTH_M) * F.col("prior"))
                / ((F.col("n") - 1).cast("double") + F.lit(_SMOOTH_M)),
                6,
            ).alias("smooth_enc"),
        )
        .orderBy("o_orderkey")
    )


# --------------------------------------------------------------------------
# Hashing-trick vectorizer: per-bucket collision profile
# --------------------------------------------------------------------------
_FH_WIDTH = 32
# the md5 anchor (functions/) for the bucket,
# the 9th hex nibble (outside the 8 chars the bucket consumed) for the
# sign — '0'..'7' -> +1, '8'..'f' -> -1 (ASCII compare on both engines)
_FH_BUCKET_SPARK = f"{md5_int_spark('word')} % {_FH_WIDTH}"
_FH_BUCKET_DUCK = f"{md5_int_duck('word')} % {_FH_WIDTH}"
_FH_SIGN = "CASE WHEN substr(md5(word), 9, 1) < '8' THEN 1 ELSE -1 END"


@query(
    "feature_hash_vectorize",
    oracle=f"""
WITH toks AS (
    SELECT UNNEST({ws_words_duck('text')}) AS word FROM documents
),
hashed AS (
    SELECT word, {_FH_BUCKET_DUCK} AS bucket, {_FH_SIGN} AS sgn FROM toks
)
SELECT bucket,
       COUNT(DISTINCT word) AS n_distinct_words,
       COUNT(*) AS n_tokens,
       CAST(SUM(sgn) AS BIGINT) AS signed_mass
FROM hashed GROUP BY bucket ORDER BY bucket
""",
    tags=("training-data", "features", "hashing"),
)
def feature_hash_vectorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick feature profile: every word hashed into one of 32
    signed buckets; output is the per-bucket collision table (distinct
    words sharing the bucket, total token mass, signed mass — the
    signed construction is what makes collisions cancel in
    expectation). All-integer aggregation, md5 anchors identical on
    both engines. One tokenize pass, one 32-group shuffle — the doc
    x bucket feature matrix itself would be emitted by the same plan
    with doc_id kept in the grouping key."""
    d = load_table(spark, sf_dir, "documents", spread=True)
    toks = d.select(F.explode_outer(ws_words_arr("text")).alias("word")).filter(
        F.col("word").isNotNull()
    )
    hashed = toks.select(
        "word",
        F.expr(_FH_BUCKET_SPARK).alias("bucket"),
        F.expr(_FH_SIGN).alias("sgn"),
    )
    return (
        hashed.groupBy("bucket")
        .agg(
            F.countDistinct("word").alias("n_distinct_words"),
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("sgn").alias("signed_mass"),
        )
        .orderBy("bucket")
    )


# --------------------------------------------------------------------------
# Two-sample Kolmogorov-Smirnov drift gate (batch vs corpus, doc length)
# --------------------------------------------------------------------------
@query(
    "ks_feature_drift",
    oracle=f"""
WITH base AS (
    SELECT n_chars AS x, ({_IS_BATCH_DUCK}) AS b FROM documents
    WHERE n_chars IS NOT NULL
),
per AS (
    SELECT x,
           SUM(CASE WHEN b THEN 1 ELSE 0 END) AS cb,
           SUM(CASE WHEN b THEN 0 ELSE 1 END) AS cr
    FROM base GROUP BY x
),
tot AS (SELECT SUM(cb) AS nb, SUM(cr) AS nr FROM per),
dd AS (
    SELECT x,
           CAST(SUM(cb) OVER (ORDER BY x) AS DOUBLE) / NULLIF(tot.nb, 0) AS fb,
           CAST(SUM(cr) OVER (ORDER BY x) AS DOUBLE) / NULLIF(tot.nr, 0) AS fr
    FROM per, tot
),
d2 AS (SELECT x, ABS(fb - fr) AS d FROM dd)
SELECT CAST((SELECT nb FROM tot) AS BIGINT) AS n_batch,
       CAST((SELECT nr FROM tot) AS BIGINT) AS n_rest,
       ROUND(MAX(d), 6) AS ks_d,
       MIN(CASE WHEN d = (SELECT MAX(d) FROM d2) THEN x END) AS x_at_max
FROM d2
""",
    tags=("training-data", "drift", "ks", "statistics"),
)
def ks_feature_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample KS statistic on doc length between the content-stable
    md5-draw batch (training9's split anchor, so the batch definition
    is shared with novelty_incremental_batch) and the rest of the
    corpus: D = max |ECDF gap|, with the length at which the gap peaks
    (ties -> smallest length). The ECDF diff table is the DISTINCT
    length domain — bounded by value cardinality, not corpus size — so
    the ordered global window is over a small domain at any scale; the
    heavy work is one groupBy(x) count shuffle. Empty samples yield
    NULL ECDFs via NULLIF (never 0/0) on both engines."""
    d = load_table(spark, sf_dir, "documents", spread=True)
    # NULL lengths are not ECDF sample points — and they MUST be
    # filtered for cross-engine parity: Spark's Window.orderBy sorts
    # NULLS FIRST, DuckDB's OVER (ORDER BY x) NULLS LAST, so a single
    # NULL row would shift every cumulative count on one engine only
    # (the relational.py:785 divergence class; found by review, wave 11).
    base = d.filter(F.col("n_chars").isNotNull()).select(
        F.col("n_chars").alias("x"), F.expr(_IS_BATCH_SPARK).alias("b")
    )
    # distinct-length table: tiny, and consumed by both the broadcast
    # totals and the ECDF pass — checkpoint once (source_token_kl
    # pattern) so the corpus is scanned exactly once.
    per = (
        base.groupBy("x")
        .agg(
            F.sum(F.when(F.col("b"), 1).otherwise(0)).alias("cb"),
            F.sum(F.when(F.col("b"), 0).otherwise(1)).alias("cr"),
        )
        .transform(materialize)
    )
    tot = F.broadcast(per.agg(F.sum("cb").alias("nb"), F.sum("cr").alias("nr")))
    w_cum = Window.orderBy("x")
    dd = per.crossJoin(tot).select(
        "x",
        "nb",
        "nr",
        (
            F.sum("cb").over(w_cum).cast("double") / F.expr("nullif(nb, 0)")
        ).alias("fb"),
        (
            F.sum("cr").over(w_cum).cast("double") / F.expr("nullif(nr, 0)")
        ).alias("fr"),
    )
    d2 = dd.select(
        "x", "nb", "nr", F.abs(F.col("fb") - F.col("fr")).alias("d")
    ).withColumn("maxd", F.max("d").over(Window.partitionBy()))
    return d2.agg(
        F.max("nb").alias("n_batch"),
        F.max("nr").alias("n_rest"),
        F.round(F.max("d"), 6).alias("ks_d"),
        F.min(F.when(F.col("d") == F.col("maxd"), F.col("x"))).alias("x_at_max"),
    )


# --------------------------------------------------------------------------
# RFM (recency / frequency / monetary) user feature table
# --------------------------------------------------------------------------
@query(
    "session_rfm_features",
    oracle="""
WITH peruser AS (
    SELECT user_id,
           MAX(ts) AS last_ts,
           COUNT(*) AS frequency,
           SUM(CAST(value AS DECIMAL(38,6))) AS monetary_d
    FROM events GROUP BY user_id
),
anchor AS (SELECT MAX(last_ts) AS gmax FROM peruser),
base AS (
    SELECT user_id,
           CAST(anchor.gmax AS DATE) - CAST(last_ts AS DATE) AS recency_days,
           frequency,
           CAST(monetary_d AS DOUBLE) AS monetary
    FROM peruser, anchor
)
SELECT user_id, recency_days,
       CAST(frequency AS BIGINT) AS frequency,
       ROUND(monetary, 6) AS monetary,
       r_score, f_score, m_score,
       r_score * 100 + f_score * 10 + m_score AS rfm_code
FROM (
    SELECT *,
           NTILE(5) OVER (ORDER BY recency_days ASC NULLS LAST,
                          user_id NULLS LAST) AS r_score,
           NTILE(5) OVER (ORDER BY frequency DESC NULLS LAST,
                          user_id NULLS LAST) AS f_score,
           NTILE(5) OVER (ORDER BY monetary DESC NULLS LAST,
                          user_id NULLS LAST) AS m_score
    FROM base
) ORDER BY user_id
""",
    tags=("training-data", "features", "rfm"),
)
def session_rfm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The classic RFM feature table: per user, days since last event
    (anchored to the corpus max so the feature is reproducible, not
    wall-clock), event count, and exact-decimal value sum — each
    NTILE(5)-scored over a unique (metric, user_id) total order and
    packed into the 3-digit RFM code. One shuffle builds the per-user
    rollup; the quantile windows run over the user-cardinality table;
    the recency anchor is a broadcast 1-row aggregate derived from the
    SAME rollup (checkpointed once — two consumers)."""
    ev = load_table(spark, sf_dir, "events")
    peruser = (
        ev.groupBy("user_id")
        .agg(
            F.max("ts").alias("last_ts"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(F.col("value").cast("decimal(38,6)")).alias("monetary_d"),
        )
        .transform(materialize)
    )
    anchor = F.broadcast(peruser.agg(F.max("last_ts").alias("gmax")))
    base = peruser.crossJoin(anchor).select(
        "user_id",
        F.datediff(F.to_date("gmax"), F.to_date("last_ts")).alias("recency_days"),
        "frequency",
        F.col("monetary_d").cast("double").alias("monetary"),
    )
    # NULLS LAST pinned on BOTH engines AND BOTH columns: Spark
    # ASC defaults NULLS FIRST, DuckDB NULLS LAST — an
    # all-NULL-ts user (metric NULL) or a NULL user_id row
    # (tie-break NULL) would otherwise shift every tile on one
    # engine only (the ks_feature_drift divergence class;
    # review waves 14 + 17)
    #
    # r12: past the source-size gate each NTILE(5) runs as the parallel
    # global rank instead of a single-task empty-PARTITION BY window —
    # THREE chained one-task corpus sorts over user cardinality (guide
    # §2.5). Below the gate the plain windows are kept (measured r12:
    # unconditionally parallel regressed sf1 0.75 -> 2.8 s — the
    # machinery's fixed cost x3; both forms value-identical).
    par = use_parallel(sf_dir, "events")
    scored = global_ntile(
        base,
        [F.col("recency_days").asc_nulls_last(), F.col("user_id").asc_nulls_last()],
        5,
        "r_score",
        parallel=par,
    )
    scored = global_ntile(
        scored,
        [F.col("frequency").desc_nulls_last(), F.col("user_id").asc_nulls_last()],
        5,
        "f_score",
        parallel=par,
    )
    scored = global_ntile(
        scored,
        [F.col("monetary").desc_nulls_last(), F.col("user_id").asc_nulls_last()],
        5,
        "m_score",
        parallel=par,
    )
    return scored.select(
        "user_id",
        "recency_days",
        "frequency",
        F.round("monetary", 6).alias("monetary"),
        "r_score",
        "f_score",
        "m_score",
        (
            F.col("r_score") * 100 + F.col("f_score") * 10 + F.col("m_score")
        ).alias("rfm_code"),
    ).orderBy("user_id")
