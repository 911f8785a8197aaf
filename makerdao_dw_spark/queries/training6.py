"""Training-data pipeline, wave 6 (round 6): boilerplate detection,
count-min heavy hitters, and embedding KNN classification.

- `boilerplate_chunk_stats`: RefinedWeb/C4-style boilerplate removal
  statistics — token chunks that repeat verbatim across >= 3 documents
  of the SAME source (site templates, navigation, legal footers) are
  flagged, and each source reports how much of its token mass is
  boilerplate. Production runs this at line/paragraph granularity; the
  synthetic corpus has no line structure, so the chunk is a fixed
  2-token window (the constant is the only difference — the data
  motion and the df-threshold semantics are identical at any chunk
  size).
- `cms_heavy_hitters`: frequent-token discovery via an explicit
  count-min sketch built AS A TABLE — d=4 hash rows x w=64 buckets,
  each cell the sum of counts hashing into it, estimate = MIN over the
  d rows. Complements the HLL/theta/KLL sketch family (sketches.py)
  with the frequency sketch; unlike those, every number here is
  deterministic on both engines (md5 arithmetic-hash anchor), so the
  estimates themselves are value-oracled, not tolerance-gated.
- `knn_label_classifier`: k-nearest-neighbor label prediction over the
  embedding corpus — majority vote of the 5 cosine-nearest TRAIN
  vectors for each held-out probe, with per-probe correctness. The
  embedding-KNN quality classifier is how web-scale pipelines score
  documents against a small labeled seed set (fastText/embedding
  filtering a la LLaMA/phi data curation).

Determinism: tokenization is the shared text_common fragment pair;
hashes are the md5 arithmetic anchor; cosine is the similarity-module
left-fold double contract; every ranking orders on (value, id).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import load_table, materialize
from .registry import query
from .similarity import (
    _KM_ITER,
    _KM_K,
    _KM_PREFIX,
    _NORM_POS_DUCK,
    _dot_expr,
    _dot_sql_duckdb,
    _km_dist2_duck,
)
from .text_common import tokens_arr, tokens_arr_duck


# --------------------------------------------------------------------------
# Boilerplate chunk detection
# --------------------------------------------------------------------------
_CHUNK = 2  # tokens per chunk (production: one line/paragraph)
_BOILER_DF = 3  # chunk is boilerplate if it appears in >= this many docs


@query(
    "boilerplate_chunk_stats",
    oracle=f"""
WITH toks AS (
    SELECT doc_id, source, {tokens_arr_duck('text')} AS w FROM documents
), inst AS (
    SELECT doc_id, source, UNNEST(
        CASE WHEN len(w) >= 1 THEN
            list_transform(generate_series(0, CAST((len(w) - 1) // {_CHUNK} AS INT)),
                i -> struct_pack(
                    chunk := array_to_string(w[i * {_CHUNK} + 1 : i * {_CHUNK} + {_CHUNK}], ' '),
                    ctoks := least({_CHUNK}, len(w) - i * {_CHUNK})))
        ELSE [] END) AS c
    FROM toks
), per_chunk AS (
    SELECT source, c.chunk AS chunk,
           COUNT(DISTINCT doc_id) AS df_docs,
           COUNT(*) AS inst_n,
           CAST(SUM(c.ctoks) AS BIGINT) AS inst_toks
    FROM inst GROUP BY source, c.chunk
)
SELECT source,
       CAST(SUM(inst_n) AS BIGINT) AS n_chunk_instances,
       COUNT(*) AS n_distinct_chunks,
       CAST(SUM(CASE WHEN df_docs >= {_BOILER_DF} THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler_chunks,
       ROUND(CAST(SUM(CASE WHEN df_docs >= {_BOILER_DF} THEN inst_toks ELSE 0 END) AS DOUBLE)
             / CAST(SUM(inst_toks) AS DOUBLE), 6) AS boiler_token_frac
FROM per_chunk
GROUP BY source
ORDER BY source
""",
    tags=("training", "boilerplate", "dedup", "quality"),
)
def boilerplate_chunk_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source boilerplate profile: fraction of token mass sitting in
    chunks that repeat verbatim in >= 3 documents of the same source.
    The cleaner that strips site templates consumes exactly this
    (source, chunk) df table; this query reports its impact summary.

    Shapes at 100 TB: chunking is map-only; the (source, chunk) rollup
    is one shuffle keyed by content hash (uniform by construction); the
    per-source rollup is a second, tiny exchange over distinct chunks.
    df counting never materializes per-chunk doc lists. The `if` guard
    (not a filter) keeps the heavy tokenize lambda out of
    optimizer-inferred pushed predicates (NOTES.md hazard class)."""
    d = load_table(spark, sf_dir, "documents", spread=True)
    inst = (
        d.select("doc_id", "source", tokens_arr("text").alias("w"))
        .select(
            "doc_id",
            "source",
            F.explode_outer(
                F.expr(
                    f"if(size(w) >= 1,"
                    f" transform(sequence(0, (size(w) - 1) div {_CHUNK}),"
                    f"  i -> named_struct("
                    f"   'chunk', array_join(slice(w, i * {_CHUNK} + 1, {_CHUNK}), ' '),"
                    f"   'ctoks', least({_CHUNK}, size(w) - i * {_CHUNK}))),"
                    f" cast(array() as array<struct<chunk:string,ctoks:int>>))"
                )
            ).alias("c"),
        )
        .filter(F.col("c").isNotNull())
    )
    per_chunk = inst.groupBy("source", F.col("c.chunk").alias("chunk")).agg(
        F.countDistinct("doc_id").alias("df_docs"),
        F.count(F.lit(1)).alias("inst_n"),
        F.sum("c.ctoks").alias("inst_toks"),
    )
    boiler = F.col("df_docs") >= _BOILER_DF
    return (
        per_chunk.groupBy("source")
        .agg(
            F.sum("inst_n").alias("n_chunk_instances"),
            F.count(F.lit(1)).alias("n_distinct_chunks"),
            F.sum(F.when(boiler, 1).otherwise(0)).alias("n_boiler_chunks"),
            F.round(
                F.sum(F.when(boiler, F.col("inst_toks")).otherwise(0)).cast("double")
                / F.sum("inst_toks").cast("double"),
                6,
            ).alias("boiler_token_frac"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Count-min sketch heavy hitters
# --------------------------------------------------------------------------
_CMS_D = 4  # hash rows
_CMS_W = 64  # buckets per row
_CMS_TOPK = 20


@query(
    "cms_heavy_hitters",
    oracle=f"""
WITH toks AS (
    SELECT UNNEST({tokens_arr_duck('text')}) AS token FROM documents
), vocab AS (
    SELECT token, COUNT(*) AS n FROM toks GROUP BY token
), hashed AS (
    SELECT token, n, UNNEST(generate_series(0, {_CMS_D - 1})) AS j FROM vocab
), cells_in AS (
    SELECT token, n, j,
           CAST('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || token), 1, 8) AS BIGINT)
               % {_CMS_W} AS bucket
    FROM hashed
), cells AS (
    SELECT j, bucket, CAST(SUM(n) AS BIGINT) AS cell_n FROM cells_in GROUP BY j, bucket
), top AS (
    SELECT token, n, CAST(ROW_NUMBER() OVER (ORDER BY n DESC, token) AS BIGINT) AS rk
    FROM vocab QUALIFY rk <= {_CMS_TOPK}
)
SELECT t.token AS token, CAST(t.n AS BIGINT) AS exact_n,
       MIN(c.cell_n) AS est_n,
       MIN(c.cell_n) - CAST(t.n AS BIGINT) AS overcount,
       t.rk AS rk
FROM top t
JOIN cells_in h ON t.token = h.token
JOIN cells c ON h.j = c.j AND h.bucket = c.bucket
GROUP BY t.token, t.n, t.rk
ORDER BY rk
""",
    tags=("training", "sketch", "cms", "heavy-hitters"),
)
def cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via an explicit count-min sketch: the sketch is a
    (d=4 x w=64) cell TABLE — cell = sum of token counts hashing there;
    estimate(token) = MIN over the 4 rows; claim surface = exact count,
    estimate, and the (always >= 0) overcount for the exact top-20.
    This is the frequency sketch the HLL/theta/KLL family is missing —
    the stopword/boilerplate-token discovery pass of a corpus pipeline.

    Shapes at 100 TB: token counts are Zipf-aggregated FIRST (vocab
    rows, not corpus tokens) before the d-way explode, and the vocab
    aggregate is materialized (session.materialize) before fanning
    out to its three consumers, so sketch construction costs ONE
    corpus tokenize + one (token) exchange + one tiny (j, bucket)
    rollup; the cell table is d*w = 256 rows and broadcast-joined back.
    Partial sketches merge by cell-wise SUM — exactly the groupBy — so
    a per-partition/day rollup of these tables IS the mergeable sketch
    store. Deterministic: md5 arithmetic-hash anchor (NOTES.md), no
    RNG, so estimates are value-oracled, not tolerance-gated."""
    d = load_table(spark, sf_dir, "documents", spread=True)
    toks = (
        d.select(F.explode_outer(tokens_arr("text")).alias("token"))
        .filter(F.col("token").isNotNull())
    )
    # vocab feeds THREE consumers (hashed probe rows, cells, top-20);
    # materialize it so the corpus is tokenized once, not three times —
    # the NOTES.md measured rule: eager-checkpoint an aggregate that is
    # tiny vs its input stream when AQE can't dedupe the subtrees
    # (same pattern as lm_bigram_doc_score's db2, text2.py)
    vocab = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .transform(materialize)
    )
    hashed = vocab.select(
        "token", "n", F.explode(F.sequence(F.lit(0), F.lit(_CMS_D - 1))).alias("j")
    ).withColumn(
        "bucket",
        F.pmod(
            F.conv(
                F.substring(
                    F.md5(F.concat(F.col("j").cast("string"), F.lit(":"), F.col("token"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long"),
            F.lit(_CMS_W),
        ),
    )
    cells = hashed.groupBy("j", "bucket").agg(F.sum("n").alias("cell_n"))
    # r12: top-K via TakeOrdered (orderBy+limit) instead of ranking the
    # WHOLE vocabulary through a single-task empty-PARTITION BY window
    # (guide §2.5 — the one-task corpus sort class). The top-K set and
    # its ranks are identical (total order, unique token tie-break);
    # the remaining rank window runs over _CMS_TOPK rows, a bounded
    # input at any corpus size.
    top = (
        vocab.orderBy(F.col("n").desc(), "token")
        .limit(_CMS_TOPK)
        .withColumn(
            "rk",
            F.row_number().over(Window.orderBy(F.col("n").desc(), "token")).cast("long"),
        )
    )
    return (
        hashed.select("token", "j", "bucket")
        .join(F.broadcast(top), "token")
        .join(F.broadcast(cells), ["j", "bucket"])
        .groupBy("token", "n", "rk")
        .agg(F.min("cell_n").alias("est_n"))
        .select(
            "token",
            F.col("n").alias("exact_n"),
            "est_n",
            (F.col("est_n") - F.col("n")).alias("overcount"),
            "rk",
        )
        .orderBy("rk")
    )


# --------------------------------------------------------------------------
# KNN label classification over embeddings
# --------------------------------------------------------------------------
_KNN_K = 5
# Probe panel bound: probes are vec_id % 25 == 0 AND vec_id < this cap,
# i.e. a FIXED-SIZE labeled seed panel (<= 400 probes) no matter how big
# the corpus grows. Without the cap the probe count scaled WITH the
# corpus, making brute-force KNN O(n^2) — the round-7 second-decade
# measurement caught it at 75x wall for 10x data (sf1 -> sf10). A real
# curation pipeline's seed set is fixed while the corpus grows; this
# pins that semantics and makes the scan linear (fixed panel broadcast
# x one corpus pass).
_KNN_PROBE_CAP = 10_000

# The full KNN prediction pipeline as a reusable CTE prefix: downstream
# evaluation queries (classifier_eval_f1, queries/evaluation2.py) chain
# onto `knn_pred` so classifier and evaluator provably score the SAME
# predictions (the shared-_KM_PREFIX pattern from similarity.py).
KNN_PRED_CTES = f"""
WITH nz AS (
    SELECT vec_id, label, embedding FROM embeddings WHERE {_NORM_POS_DUCK}
), q AS (
    SELECT vec_id AS query_id, label AS true_label, embedding AS qv
    FROM nz WHERE vec_id % 25 = 0 AND vec_id < {_KNN_PROBE_CAP}
), c AS (
    SELECT vec_id AS neighbor_id, label AS nlabel, embedding AS cv
    FROM nz WHERE vec_id % 25 <> 0
), scored AS (
    SELECT q.query_id, q.true_label, c.neighbor_id, c.nlabel,
           ROUND({_dot_sql_duckdb('q.qv', 'c.cv')}
                 / (SQRT({_dot_sql_duckdb('q.qv', 'q.qv')})
                    * SQRT({_dot_sql_duckdb('c.cv', 'c.cv')})), 6) AS cosine
    FROM q JOIN c ON q.query_id <> c.neighbor_id
), top AS (
    SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS rk
        FROM scored
    ) WHERE rk <= {_KNN_K}
), votes AS (
    SELECT query_id, true_label, nlabel, COUNT(*) AS n_votes
    FROM top GROUP BY query_id, true_label, nlabel
), knn_pred AS (
    SELECT query_id, true_label, nlabel AS pred_label, n_votes,
           nlabel = true_label AS correct
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY n_votes DESC, nlabel) AS vrk
        FROM votes
    ) WHERE vrk = 1
)"""


def _knn_topk(scored: DataFrame) -> DataFrame:
    """Per-probe top-_KNN_K rows of a scored frame (query_id,
    true_label, neighbor_id, nlabel, cosine) — the ranking stage shared
    by the exact and ANN pipelines (NULL pins per NOTES: metric DESC
    NULLS LAST; ids are non-null keys)."""
    wtop = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc_nulls_last(), F.col("neighbor_id").asc()
    )
    return scored.withColumn("rk", F.row_number().over(wtop)).filter(
        F.col("rk") <= _KNN_K
    )


def _knn_vote(topk: DataFrame) -> DataFrame:
    """Majority vote over a top-k frame: ties to the smaller label,
    NULLS LAST pinned on the tie-break (Spark ASC defaults NULLS FIRST,
    DuckDB NULLS LAST — never exercised on the shipped corpora, pinned
    anyway per the NOTES window rule)."""
    votes = topk.groupBy("query_id", "true_label", "nlabel").agg(
        F.count(F.lit(1)).alias("n_votes")
    )
    wvote = Window.partitionBy("query_id").orderBy(
        F.col("n_votes").desc(), F.col("nlabel").asc_nulls_last()
    )
    return (
        votes.withColumn("vrk", F.row_number().over(wvote))
        .filter(F.col("vrk") == 1)
        .select(
            "query_id",
            "true_label",
            F.col("nlabel").alias("pred_label"),
            "n_votes",
            (F.col("nlabel") == F.col("true_label")).alias("correct"),
        )
    )


def _knn_scored_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact panel x full-corpus cosine scoring (the correctness
    anchor): broadcast fixed probe panel, one corpus pass."""
    e = load_table(spark, sf_dir, "embeddings", spread=True)
    nz = e.withColumn(
        "nrm", F.expr(f"sqrt({_dot_expr('embedding', 'embedding')})")
    ).filter(F.col("nrm") > 0)
    q = F.broadcast(
        nz.filter(
            (F.col("vec_id") % 25 == 0) & (F.col("vec_id") < _KNN_PROBE_CAP)
        ).select(
            F.col("vec_id").alias("query_id"),
            F.col("label").alias("true_label"),
            F.col("embedding").alias("qv"),
            F.col("nrm").alias("qn"),
        )
    )
    c = nz.filter(F.col("vec_id") % 25 != 0).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("nlabel"),
        F.col("embedding").alias("cv"),
        F.col("nrm").alias("cn"),
    )
    return q.join(c, F.col("query_id") != F.col("neighbor_id")).select(
        "query_id",
        "true_label",
        "neighbor_id",
        "nlabel",
        F.round(F.expr(_dot_expr("qv", "cv")) / (F.col("qn") * F.col("cn")), 6).alias(
            "cosine"
        ),
    )


def knn_predictions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unordered per-probe KNN predictions (query_id, true_label,
    pred_label, n_votes, correct) — the Spark twin of the `knn_pred`
    CTE above; shared by the classifier query and its evaluator."""
    return _knn_vote(_knn_topk(_knn_scored_exact(spark, sf_dir)))


@query(
    "knn_label_classifier",
    oracle=KNN_PRED_CTES + "\nSELECT * FROM knn_pred ORDER BY query_id",
    tags=("training", "similarity", "knn", "classifier"),
)
def knn_label_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KNN label prediction: for each probe in a FIXED labeled seed
    panel (vec_id % 25 = 0, capped at vec_id < 10k — <= 400 probes at
    any corpus size), majority vote of its 5 cosine-nearest TRAIN
    vectors (the disjoint rest of the corpus); ties break to the
    smaller label. Emits the per-probe prediction and correctness —
    the embedding-seed-set quality classifier of a curation pipeline,
    evaluated in-engine.

    Shapes at 100 TB: the panel is fixed-size and broadcast (never
    shuffle the corpus by probe); scoring is ONE map-only corpus pass,
    top-k is a per-probe aggregation of k rows, and the vote rollup is
    O(probes * k) — total work linear in the corpus. The cap is
    load-bearing: an uncapped % 25 panel grows with the corpus and
    makes brute-force KNN O(n^2) (measured 75x wall at 10x data before
    the round-7 fix). Swap the scored CTE for any registered ANN
    shortlist (IVF/SRP) to trade exactness for a bucketed probe —
    output contract unchanged (knn_label_classifier_ann below IS that
    swap, registered as the scale path)."""
    return knn_predictions(spark, sf_dir).orderBy("query_id")


# --------------------------------------------------------------------------
# ANN-shortlist KNN: IVF(kmeans) shortlist + exact rescore — the 100 TB
# scale path for KNN scoring (VERDICT r7 item 3)
# --------------------------------------------------------------------------
_KNN_NPROBE = 2  # search the probe's 2 nearest of the k=8 trained cells

# Same output contract as KNN_PRED_CTES, but scoring only the ~nprobe/k
# fraction of the corpus in the probe's nearest inverted lists. Chains
# on similarity._KM_PREFIX (the deterministic unrolled k-means the
# ann_ivf_kmeans oracle already proves bit-identical to the Spark
# trainer): `scored` = (vec_id, e DOUBLE[], cluster, nrm), `c2` = the
# final centroids. NULL pins: cosine DESC NULLS LAST + nlabel ASC NULLS
# LAST on every ranking window (Spark/DuckDB defaults differ).
KNN_ANN_PRED_CTES = (
    _KM_PREFIX
    + f""",
lab AS (
    SELECT vec_id, label FROM embeddings
),
qc AS (
    SELECT query_id, qv, qn, probe_cluster FROM (
        SELECT s.vec_id AS query_id, s.e AS qv, s.nrm AS qn,
               c.cluster AS probe_cluster,
               ROW_NUMBER() OVER (PARTITION BY s.vec_id
                   ORDER BY {_km_dist2_duck('s.e', 'c.c')} ASC, c.cluster ASC)
                   AS crk
        FROM scored s CROSS JOIN c2 c
        WHERE s.vec_id % 25 = 0 AND s.vec_id < {_KNN_PROBE_CAP}
    ) WHERE crk <= {_KNN_NPROBE}
),
shortlist AS (
    SELECT q.query_id, q.qv, q.qn, t.vec_id AS neighbor_id, t.e AS cv,
           t.nrm AS cn
    FROM qc q JOIN scored t ON q.probe_cluster = t.cluster
    WHERE t.vec_id % 25 <> 0
),
ann_scored AS (
    SELECT s.query_id, ql.label AS true_label, s.neighbor_id,
           nl.label AS nlabel,
           ROUND({_dot_sql_duckdb('s.qv', 's.cv')} / (s.qn * s.cn), 6) AS cosine
    FROM shortlist s
    JOIN lab ql ON s.query_id = ql.vec_id
    JOIN lab nl ON s.neighbor_id = nl.vec_id
),
ann_top AS (
    SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY cosine DESC NULLS LAST, neighbor_id ASC) AS rk
        FROM ann_scored
    ) WHERE rk <= {_KNN_K}
),
ann_votes AS (
    SELECT query_id, true_label, nlabel, COUNT(*) AS n_votes
    FROM ann_top GROUP BY query_id, true_label, nlabel
),
knn_ann_pred AS (
    SELECT query_id, true_label, nlabel AS pred_label, n_votes,
           nlabel = true_label AS correct
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY n_votes DESC, nlabel ASC NULLS LAST) AS vrk
        FROM ann_votes
    ) WHERE vrk = 1
)"""
)


def _knn_scored_ann(
    spark: SparkSession, sf_dir: str, nprobe: int = _KNN_NPROBE
) -> DataFrame:
    """IVF-shortlisted scoring: train k=8 coarse centroids
    (operators/kmeans.py — the same deterministic trainer ann_ivf_kmeans
    value-oracles), rank each probe's clusters by centroid distance,
    exact-rescore ONLY the nprobe nearest inverted lists. With
    nprobe = k the shortlist is the whole train set and the pipeline
    equals the exact one (pinned in tests/test_knn_ann.py — the same
    'full probe = brute force' anchor as tests/test_ann_recall.py)."""
    from ..operators.kmeans import _sq_l2, assign_clusters, codebook_lit, kmeans_fit

    e = (
        load_table(spark, sf_dir, "embeddings", spread=True)
        .select("vec_id", "label", "embedding")
        .filter(F.expr(f"{_dot_expr('embedding', 'embedding')} > 0"))
    )
    centroids = kmeans_fit(e, "embedding", "vec_id", k=_KM_K, max_iter=_KM_ITER)
    en = assign_clusters(e, "embedding", centroids).withColumn(
        "nrm", F.expr(f"sqrt({_dot_expr('embedding', 'embedding')})")
    )
    # per-probe top-nprobe clusters: array_sort over (dist2, cluster)
    # structs == ROW_NUMBER ORDER BY dist2 ASC, cluster ASC. One
    # indexed transform over the codebook literal (element index ==
    # cluster id, same int type as the old F.lit(j)) instead of k
    # unrolled fold subtrees — same doubles, O(k*dim) fewer plan nodes
    cells = F.transform(
        codebook_lit(centroids),
        lambda c, j: F.struct(
            _sq_l2(F.col("embedding"), c).alias("d"), j.alias("cluster")
        ),
    )
    probes = F.broadcast(
        en.filter((F.col("vec_id") % 25 == 0) & (F.col("vec_id") < _KNN_PROBE_CAP))
        .withColumn(
            "probe_cluster",
            F.explode(F.slice(F.array_sort(cells), 1, nprobe)["cluster"]),
        )
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("label").alias("true_label"),
            F.col("embedding").alias("qv"),
            F.col("nrm").alias("qn"),
            "probe_cluster",
        )
    )
    train = en.filter(F.col("vec_id") % 25 != 0).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("nlabel"),
        F.col("embedding").alias("cv"),
        F.col("nrm").alias("cn"),
        "cluster",
    )
    return probes.join(train, F.col("probe_cluster") == F.col("cluster")).select(
        "query_id",
        "true_label",
        "neighbor_id",
        "nlabel",
        F.round(
            F.expr(_dot_expr("qv", "cv")) / (F.col("qn") * F.col("cn")), 6
        ).alias("cosine"),
    )


def knn_predictions_ann(
    spark: SparkSession, sf_dir: str, nprobe: int = _KNN_NPROBE
) -> DataFrame:
    """IVF-shortlist + exact-rescore KNN predictions — Spark twin of
    the `knn_ann_pred` CTE above; shared by knn_label_classifier_ann
    and classifier_eval_f1_ann. Same vote semantics as the exact
    pipeline (shared _knn_topk/_knn_vote stages)."""
    return _knn_vote(_knn_topk(_knn_scored_ann(spark, sf_dir, nprobe)))


@query(
    "knn_label_classifier_ann",
    oracle=KNN_ANN_PRED_CTES + "\nSELECT * FROM knn_ann_pred ORDER BY query_id",
    tags=("training", "similarity", "knn", "classifier", "ann", "ivf"),
)
def knn_label_classifier_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """knn_label_classifier's 100 TB scale path: identical output
    contract and vote semantics, but each probe scores only its
    nprobe=2 nearest of k=8 trained inverted lists (~25% of the corpus
    here; at production scale k grows to thousands of cells and the
    scored fraction shrinks to nprobe/k) instead of the full corpus —
    the IVF-shortlist + exact-rescore swap the exact query's docstring
    documents. Probes whose shortlist is empty emit no row (the ANN
    contract; the exact sibling answers them all).

    Recall vs the exact pipeline is measured and floor-pinned in
    tests/test_knn_ann.py (same harness as tests/test_ann_recall.py).
    At sf10 this replaces the 400-probe x 180k-vector exact scoring
    (40.3 s measured in BENCH_sf10_r7.json) with a ~2/8 fraction of it
    plus an O(n*k) training pass."""
    return knn_predictions_ann(spark, sf_dir).orderBy("query_id")
