"""Training-data pipeline, wave 4 (round 6): importance-based data
selection, asymmetric-containment dedup, and supervised-example
generation — three operators a pretraining pipeline runs that the
earlier waves did not cover:

- `dsir_importance_resample`: DSIR-style data selection (Xie et al.,
  "Data Selection for Language Models via Importance Resampling",
  2023): score every document by the log-likelihood ratio of a
  target-domain unigram LM vs the corpus LM, keep the top tranche.
  Here the target domain is the English slice and both LMs are
  add-one-smoothed unigram models trained in-pipeline — no external
  artifacts, fully deterministic, so the oracle replays training AND
  selection exactly.
- `dedup_containment_join`: asymmetric near-dup — containment
  C(A,B) = |shingles(A) ∩ shingles(B)| / |shingles(A)| catches a short
  document embedded in a longer one (quotes, boilerplate wrappers),
  which symmetric Jaccard under-scores (the union is dominated by the
  long side). Candidates come from the shingle inverted index with a
  document-frequency stop-shingle cap, the same skew discipline as
  the LSH bucket cap.
- `next_event_training_examples`: sequence-model example generation —
  per user, each event becomes (context = previous 3 event types,
  label = this event type); emitted as the (context, label) frequency
  table a trainer consumes. The window-lag formulation is one
  user-keyed exchange, no per-key buffering.

Determinism contract (repo standard): ln() inputs are exact integer
ratios identical in both engines, every log is ROUND(…, 6) before
being weighted by exact integer counts and summed as DECIMAL(38,6);
selection ranks round-6 scores with doc_id tie-breaks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.order_stats import global_row_number, use_parallel
from ..operators.text_features import shingles_sql_duckdb
from ..session import load_table, materialize
from .registry import query
from .text_common import tokens_arr, tokens_arr_duck


# --------------------------------------------------------------------------
# DSIR-style importance resampling (target = English slice)
# --------------------------------------------------------------------------
_KEEP_PCT = 30  # keep the top 30% by importance score


@query(
    "dsir_importance_resample",
    oracle=f"""
WITH dw AS (
    SELECT doc_id, source, w, COUNT(*) AS occ
    FROM (
        SELECT doc_id, source, UNNEST({tokens_arr_duck('text', 2)}) AS w
        FROM documents
    ) GROUP BY doc_id, source, w
), tgt_docs AS (SELECT doc_id FROM documents WHERE lang = 'en'),
ct AS (
    SELECT w, CAST(SUM(occ) AS BIGINT) AS c
    FROM dw JOIN tgt_docs USING (doc_id) GROUP BY w
), cc AS (
    SELECT w, CAST(SUM(occ) AS BIGINT) AS c FROM dw GROUP BY w
), consts AS (
    SELECT (SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) FROM ct) AS t_total,
           (SELECT CAST(COALESCE(SUM(c), 0) AS BIGINT) FROM cc) AS c_total,
           (SELECT COUNT(*) FROM cc) AS vocab
), scored AS (
    SELECT dw.doc_id, dw.source, dw.occ,
           CAST(CAST(ROUND(
               ln((COALESCE(ct.c, 0) + 1) / CAST(consts.t_total + consts.vocab AS DOUBLE))
             - ln((cc.c + 1) / CAST(consts.c_total + consts.vocab AS DOUBLE)), 6)
           AS DECIMAL(38,6)) * dw.occ AS DECIMAL(38,6)) AS lr_tot
    FROM dw JOIN cc ON dw.w = cc.w
    LEFT JOIN ct ON dw.w = ct.w
    CROSS JOIN consts
), per_doc AS (
    SELECT doc_id, source,
           CAST(SUM(occ) AS BIGINT) AS n_tokens,
           ROUND(CAST(SUM(lr_tot) AS DOUBLE) / SUM(occ), 6) AS score
    FROM scored GROUP BY doc_id, source
), ranked AS (
    SELECT *, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS rk,
           (SELECT COUNT(*) FROM per_doc) AS n_all
    FROM per_doc
)
SELECT doc_id, source, n_tokens, score, CAST(rk AS BIGINT) AS rk
FROM ranked
WHERE rk <= CAST(floor(n_all * {_KEEP_PCT} / 100.0) AS BIGINT)
ORDER BY rk
""",
    tags=("training", "dsir", "importance-sampling", "lm"),
)
def dsir_importance_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR data selection: per-doc mean log importance ratio between a
    target-domain (lang='en') unigram LM and the corpus LM, both
    add-one smoothed over the corpus vocabulary, then keep the top
    _KEEP_PCT% (round-6 score, doc_id tie-break).

    Shapes at 100 TB: everything derives from ONE per-(doc, token)
    count aggregate dw, materialized once (session.materialize —
    same rationale, measured, as lm_bigram_doc_score: the probe and
    both LM rollups would otherwise each re-run tokenize+explode). The
    LMs are vocab-sized (≪ corpus) and broadcast onto the probe; the
    smoothing constants are a 1-row cross join. Selection is a global
    top-K — rank only the per-doc score table (|docs| rows, not
    tokens), single window. The keep set is a pure function of the
    data: re-ingesting or repartitioning the corpus never changes
    which documents survive — the same split-hygiene argument as
    split_train_val_test."""
    d = load_table(spark, sf_dir, "documents", spread=True)
    dw = (
        d.select(
            "doc_id", "source", "lang", F.explode(tokens_arr("text", 2)).alias("w")
        )
        .groupBy("doc_id", "source", "lang", "w")
        .agg(F.count(F.lit(1)).alias("occ"))
        .transform(materialize)
    )
    ct = (
        dw.filter(F.col("lang") == "en")
        .groupBy("w")
        .agg(F.sum("occ").alias("tc"))
    )
    cc = dw.groupBy("w").agg(F.sum("occ").alias("corc"))
    consts = F.broadcast(
        cc.join(ct, "w", "left").agg(
            F.coalesce(F.sum("tc"), F.lit(0)).alias("t_total"),
            F.sum("corc").alias("c_total"),
            F.count(F.lit(1)).alias("vocab"),
        )
    )
    model = F.broadcast(cc.join(ct, "w", "left")).crossJoin(consts)
    lr = F.round(
        F.log(
            (F.coalesce(F.col("tc"), F.lit(0)) + 1)
            / (F.col("t_total") + F.col("vocab")).cast("double")
        )
        - F.log((F.col("corc") + 1) / (F.col("c_total") + F.col("vocab")).cast("double")),
        6,
    ).cast("decimal(38,6)")
    per_doc = (
        dw.join(model, "w")
        .select(
            "doc_id",
            "source",
            "occ",
            (lr * F.col("occ")).cast("decimal(38,6)").alias("lr_tot"),
        )
        .groupBy("doc_id", "source")
        .agg(
            F.sum("occ").alias("n_tokens"),
            F.round(F.sum("lr_tot").cast("double") / F.sum("occ"), 6).alias("score"),
        )
    )
    # r12 (VERDICT r11 item 1): the global rank ran through a
    # single-task empty-PARTITION BY window — a one-task corpus sort
    # whose skew grows with the data (guide §2.5, the plan class killed
    # in global_window_share). Past the source-size gate,
    # global_row_number computes the identical rank (and n_all, off the
    # same per-partition count aggregate) with a range-partitioned
    # parallel sort; below it the plain window is kept — the whole
    # per-doc frame fits one task and the parallel machinery is pure
    # fixed cost (measured r12: sf1 3.6 -> 4.4 s unconditionally
    # parallel; both forms value-identical).
    ranked = global_row_number(
        per_doc,
        [F.col("score").desc(), F.col("doc_id")],
        rank_col="rk",
        total_col="n_all",
        parallel=use_parallel(sf_dir, "documents"),
    )
    return (
        ranked.filter(
            F.col("rk") <= F.floor(F.col("n_all") * _KEEP_PCT / F.lit(100.0))
        )
        .select("doc_id", "source", "n_tokens", "score", F.col("rk").cast("long").alias("rk"))
        .orderBy("rk")
    )


# --------------------------------------------------------------------------
# Asymmetric containment dedup (short-doc-inside-long-doc)
# --------------------------------------------------------------------------
_CONTAIN_T = 0.8  # containment threshold
_DF_CAP = 50  # stop-shingle cap: shingles in more docs than this are blocked


@query(
    "dedup_containment_join",
    oracle=f"""
WITH sh AS (
    SELECT DISTINCT doc_id, s
    FROM (
        SELECT doc_id, UNNEST({shingles_sql_duckdb('text')}) AS s
        FROM documents
    )
), df AS (
    SELECT s, COUNT(*) AS df FROM sh GROUP BY s
), rare AS (
    SELECT sh.doc_id, sh.s FROM sh JOIN df USING (s) WHERE df.df <= {_DF_CAP}
), sizes AS (
    SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
), pair_hits AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
    FROM rare a JOIN rare b ON a.s = b.s AND a.doc_id <> b.doc_id
    GROUP BY a.doc_id, b.doc_id
)
SELECT p.doc_a, p.doc_b,
       CAST(p.shared AS BIGINT) AS shared,
       CAST(sa.n_sh AS BIGINT) AS n_sh_a,
       ROUND(p.shared / CAST(sa.n_sh AS DOUBLE), 6) AS containment
FROM pair_hits p JOIN sizes sa ON p.doc_a = sa.doc_id
-- threshold on the ROUNDED value, mirroring the Spark filter: a raw
-- ratio in [0.7999995, 0.8) rounds up and must pass on BOTH engines
WHERE ROUND(p.shared / CAST(sa.n_sh AS DOUBLE), 6) >= {_CONTAIN_T}
ORDER BY doc_a, doc_b
""",
    tags=("dedup", "containment", "asymmetric"),
)
def dedup_containment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment C(A,B) = |sh(A) ∩ sh(B)| / |sh(A)| over word-3-gram
    shingle sets: flags documents ≥80% contained in another — the
    quote/boilerplate-wrapper near-dups whose symmetric Jaccard stays
    low because the longer side inflates the union.

    Shapes at 100 TB: the pair generation is the shingle inverted
    index joined to itself PER SHINGLE KEY — never a doc-pair theta
    join — and the df stop-shingle cap (df <= 50, mirrored in the
    oracle) bounds each shingle's contribution to df² pairs, the same
    whale discipline as the LSH bucket cap (a boilerplate shingle
    shared by half the corpus would otherwise be the quadratic
    blowup). One exchange per aggregation; the per-doc size table is
    |documents|-sized, so it joins back as a plain keyed join (a
    forced broadcast of a corpus-proportional table is exactly the
    anti-pattern the r4 review banned). Note the denominator uses the FULL
    shingle set size while hits come from capped shingles, so reported
    containment is a LOWER bound — a pair can only be missed if its
    overlap lives entirely in stop-shingles, which is the documented
    trade (recall on boilerplate-only overlap is not a dedup goal)."""
    from ..operators.text_features import shingles_expr

    d = load_table(spark, sf_dir, "documents", spread=True)
    # NOT checkpointed, measured: unlike lm_bigram's db2 (50x smaller
    # than its token stream), the shingle index is corpus-sized — at
    # sf1 materializing it costs MORE than the consumers' recomputes
    # (7.9 s vs 7.1 s); the explode is cheap next to the pair join
    sh = d.select(
        "doc_id", F.explode(F.array_distinct(shingles_expr("text"))).alias("s")
    )
    df = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df"))
    rare = sh.join(df.filter(F.col("df") <= _DF_CAP), "s")
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = rare.select(F.col("doc_id").alias("doc_a"), "s")
    b = rare.select(F.col("doc_id").alias("doc_b"), "s")
    pair_hits = (
        a.join(b, "s")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    return (
        pair_hits.join(sizes.select(F.col("doc_id").alias("doc_a"), "n_sh"), "doc_a")
        .withColumn("containment", F.round(F.col("shared") / F.col("n_sh").cast("double"), 6))
        .filter(F.col("containment") >= _CONTAIN_T)
        .select(
            "doc_a",
            "doc_b",
            "shared",
            F.col("n_sh").alias("n_sh_a"),
            "containment",
        )
        .orderBy("doc_a", "doc_b")
    )


# --------------------------------------------------------------------------
# Sequence-model training-example generation (next-event prediction)
# --------------------------------------------------------------------------
@query(
    "next_event_training_examples",
    oracle="""
WITH ctx AS (
    SELECT user_id, event_id, event_type AS label,
           LAG(event_type, 3) OVER w AS c3,
           LAG(event_type, 2) OVER w AS c2,
           LAG(event_type, 1) OVER w AS c1
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT c3 || '>' || c2 || '>' || c1 AS context, label,
       COUNT(*) AS n_examples,
       MIN(event_id) AS first_event_id
FROM ctx
WHERE c3 IS NOT NULL
GROUP BY context, label
ORDER BY context, label
""",
    tags=("training", "sequence", "examples"),
)
def next_event_training_examples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supervised-example generation for a next-event sequence model:
    each event becomes (context = previous 3 event types joined '>',
    label = this event's type), aggregated to the (context, label)
    frequency table a trainer samples from. Only complete 3-contexts
    are emitted (the first 3 events of a user have none).

    Shapes at 100 TB: one user-keyed exchange shared by the three LAG
    windows (same frame), O(1) window state per row — a whale user is
    linear streaming work (the sessionize argument, sessionize_events
    docstring); the rollup output is bounded by |event types|^4, not
    by corpus size."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ctx = e.select(
        "event_id",
        F.col("event_type").alias("label"),
        F.lag("event_type", 3).over(w).alias("c3"),
        F.lag("event_type", 2).over(w).alias("c2"),
        F.lag("event_type", 1).over(w).alias("c1"),
    )
    return (
        ctx.filter(F.col("c3").isNotNull())
        .select(
            # F.concat, NOT concat_ws: '||' in the oracle propagates a
            # NULL lag (possible for NULL event_type mid-stream) into a
            # NULL context; concat_ws would silently drop the part and
            # collide with genuinely shorter contexts (review r6)
            F.concat(F.col("c3"), F.lit(">"), F.col("c2"), F.lit(">"), F.col("c1")).alias(
                "context"
            ),
            "label",
            "event_id",
        )
        .groupBy("context", "label")
        .agg(
            F.count(F.lit(1)).alias("n_examples"),
            F.min("event_id").alias("first_event_id"),
        )
        .orderBy("context", "label")
    )
