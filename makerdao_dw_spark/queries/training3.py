"""Training-data pipeline, wave 3: the corpus-assembly operations that
sit between raw documents and a training mix — deterministic split
assignment, source-mixture rebalancing, vocabulary-based rarity
scoring, grouped top-k via SQL LATERAL, and a composed curation gate.

These extend the BASELINE.json north-star surface (dedup / similarity
/ text analysis families in `training.py`/`training2.py`): everything
here is the *assembly* layer a 100 TB pretraining pipeline runs after
filtering — split hygiene, mixture weights, rarity-aware scoring.

Determinism contract: every stochastic-looking choice (split bucket,
per-source keep set) is a pure function of the data via the md5
anchor (`functions.md5_int_spark`/`md5_int_duck`), so both engines pick
the same rows; ratios are one double division + ROUND(…, 6) at the end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import md5_int_duck, md5_int_spark
from ..session import load_table
from .registry import query
from .text_common import NORM_HASH_DUCK, norm_hash

# Cross-engine uniform in [0, 100): the md5 anchor (functions/).
_BUCKET_SPARK = md5_int_spark("cast(doc_id as string)") + " % 100"
_BUCKET_DUCK = md5_int_duck("CAST(doc_id AS VARCHAR)") + " % 100"


# --------------------------------------------------------------------------
# Deterministic train/val/test split assignment
# --------------------------------------------------------------------------
@query(
    "split_train_val_test",
    oracle=f"""
SELECT source, split, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars, MIN(doc_id) AS first_doc
FROM (
  SELECT source, n_chars, doc_id,
         CASE WHEN {_BUCKET_DUCK} < 80 THEN 'train'
              WHEN {_BUCKET_DUCK} < 90 THEN 'val'
              ELSE 'test' END AS split
  FROM documents
)
GROUP BY source, split
ORDER BY source, split
""",
    tags=("training", "split", "hash"),
)
def split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/10/10 train/val/test assignment as a pure function of doc_id
    — the split-hygiene primitive of every training pipeline: a doc's
    split never changes when the corpus is re-ingested, re-partitioned,
    or incrementally extended (unlike randomSplit, which depends on
    partitioning and seed plumbing).

    Scale shape: the bucket is a map-side expression (no Python, no
    shuffle); the only exchange is the (source, split) rollup — at
    most |sources|·3 groups. Audited here by per-split doc counts,
    char mass, and the first doc id per cell.
    """
    d = load_table(spark, sf_dir, "documents")
    bucket = F.expr(_BUCKET_SPARK)
    return (
        d.withColumn(
            "split",
            F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"),
        )
        .groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.min("doc_id").alias("first_doc"),
        )
        .orderBy("source", "split")
    )


# --------------------------------------------------------------------------
# Source-mixture rebalancing: deterministic per-source downsampling
# --------------------------------------------------------------------------
@query(
    "mixture_resample_sources",
    oracle="""
SELECT source,
       CAST(SUM(CASE WHEN rn <= 15 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN rn <= 15 THEN n_chars ELSE 0 END) AS BIGINT) AS kept_chars,
       CAST(SUM(CASE WHEN rn > 15 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
FROM (
  SELECT source, n_chars,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn
  FROM documents
)
GROUP BY source
ORDER BY source
""",
    tags=("training", "mixture", "sampling"),
)
def mixture_resample_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cap every source at 15 documents, chosen by smallest md5 — the
    mixture-weighting primitive: over-represented sources are
    downsampled to a target allocation by a content-stable draw, so
    the kept set is reproducible across runs and engines (and an
    incremental re-run keeps the same docs unless new ones hash lower).

    Scale shape: ONE hash exchange on source; the per-source ranking
    and the kept/dropped rollup share it (window then map-side-able
    agg on the same key). The hash order makes the draw uniform
    without any RNG state; doc_id breaks md5 ties exactly.
    """
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
    kept = F.col("rn") <= 15
    return (
        d.select("source", "n_chars", "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .drop("doc_id")
        .groupBy("source")
        .agg(
            F.sum(F.when(kept, 1).otherwise(0)).alias("n_kept"),
            F.sum(F.when(kept, F.col("n_chars")).otherwise(0)).alias("kept_chars"),
            F.sum(F.when(~kept, 1).otherwise(0)).alias("n_dropped"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Vocabulary-based rarity scoring (corpus statistic joined back per doc)
# --------------------------------------------------------------------------
@query(
    "rare_token_ratio",
    oracle="""
WITH t AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
f AS (
  SELECT tok, COUNT(*) AS c FROM t GROUP BY tok
)
SELECT doc_id,
       COUNT(*) AS n_tokens,
       CAST(SUM(CASE WHEN c < 500 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare,
       ROUND(CAST(SUM(CASE WHEN c < 500 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6) AS rare_ratio
FROM t JOIN f USING (tok)
GROUP BY doc_id
ORDER BY doc_id
""",
    tags=("training", "text", "vocabulary"),
)
def rare_token_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document rare-token fraction against corpus-level token
    frequencies — the vocabulary-statistics-joined-back-to-documents
    shape behind rarity-aware quality filters and inverse-frequency
    weighting. All integer arithmetic until one final ROUND division,
    so no float sum can reorder.

    Scale shape: the corpus is tokenized and scanned ONCE — both the
    vocabulary aggregate and the per-doc probe consume the same
    per-(doc, token) count subtree, whose shuffle AQE reuses
    (ReusedExchange, plan-asserted; the explicit isnotnull keeps the
    two consumers' scan subtrees canonically identical — the join
    would otherwise push an isnotnull(tok) into only the probe side).
    The vocabulary rollup is tiny and broadcasts back; the per-doc
    rollup re-keys |doc x token| pre-aggregated rows, never raw
    tokens.
    """
    d = load_table(spark, sf_dir, "documents")
    counts = (
        d.select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok"))
        .filter(F.col("tok").isNotNull())
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    freq = counts.groupBy("tok").agg(F.sum("n").alias("c"))
    rare_n = F.when(F.col("c") < 500, F.col("n")).otherwise(0)
    return (
        counts.join(F.broadcast(freq), "tok")
        .groupBy("doc_id")
        .agg(
            F.sum("n").alias("n_tokens"),
            F.sum(rare_n).alias("n_rare"),
            F.round(F.sum(rare_n).cast("double") / F.sum("n"), 6).alias("rare_ratio"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Grouped top-k via SQL LATERAL (correlated subquery with LIMIT)
# --------------------------------------------------------------------------
@query(
    "lateral_topk_customers",
    oracle="""
SELECT n_name, c.c_custkey, c.c_name, c.c_acctbal
FROM nation, LATERAL (
  SELECT c_custkey, c_name, c_acctbal
  FROM customer
  WHERE c_nationkey = n_nationkey
  ORDER BY c_acctbal DESC, c_custkey
  LIMIT 2
) c
ORDER BY n_name, c_acctbal DESC, c_custkey
""",
    tags=("lateral", "topk", "correlated-subquery"),
)
def lateral_topk_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 customers by account balance per nation, written as a SQL
    LATERAL correlated subquery with ORDER BY + LIMIT on BOTH engines
    — the operator form (vs `topk_orders`' window formulation).

    Spark decorrelates the lateral into WindowGroupLimit — a grouped
    top-k that keeps only k rows per group BEFORE the rank window
    materializes (map-side per-group limit, then one hash exchange on
    the correlation key) — never the naive per-outer-row rescan a
    nested-loop reading would imply. c_custkey breaks balance ties so
    the kept pair is unique.
    """
    return spark.sql(
        """
        SELECT n_name, c.c_custkey, c.c_name, c.c_acctbal
        FROM {nation}, LATERAL (
          SELECT c_custkey, c_name, c_acctbal
          FROM {customer}
          WHERE c_nationkey = n_nationkey
          ORDER BY c_acctbal DESC, c_custkey
          LIMIT 2
        ) c
        ORDER BY n_name, c_acctbal DESC, c_custkey
        """,
        nation=load_table(spark, sf_dir, "nation"),
        customer=load_table(spark, sf_dir, "customer"),
    )


# --------------------------------------------------------------------------
# Composed curation gate: language -> length -> near-exact dedup -> rollup
# --------------------------------------------------------------------------
@query(
    "curation_gate_pipeline",
    oracle="""
SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS total_chars, MIN(doc_id) AS first_doc
FROM (
  SELECT source, n_chars, doc_id
  FROM documents
  WHERE lang = 'en' AND n_chars BETWEEN 100 AND 450
  QUALIFY ROW_NUMBER() OVER (PARTITION BY substr(text, 1, 20) ORDER BY doc_id) = 1
)
GROUP BY source
ORDER BY source
""",
    tags=("training", "curation", "dedup", "pipeline"),
)
def curation_gate_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed corpus-curation gate in one plan: language filter →
    length band → prefix-key dedup (keep the lowest doc_id per 20-char
    prefix — the cheap first stage before MinHash) → per-source
    survivor rollup. Mirrors how production pipelines chain gates so
    one scan feeds all of them, instead of materializing between
    stages.

    Scale shape: both filters push to the parquet scan (lang and
    n_chars are scan-level predicates); the dedup is one hash exchange
    on the 20-byte prefix; the per-source rollup re-aggregates only
    survivors. Nothing Python, nothing fact-sized after the dedup key.
    """
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy(F.substring("text", 1, 20)).orderBy("doc_id")
    return (
        d.filter((F.col("lang") == "en") & F.col("n_chars").between(100, 450))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.min("doc_id").alias("first_doc"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Contrastive negative sampling (deterministic, hash-based)
# --------------------------------------------------------------------------
@query(
    "contrastive_negative_pairs",
    oracle=f"""
WITH n AS (SELECT COUNT(*) AS n_docs FROM documents),
anchors AS (
    SELECT doc_id, source FROM documents WHERE doc_id % 20 = 0
), negs AS (
    SELECT a.doc_id,
           a.source,
           j AS neg_rank,
           {md5_int_duck("'neg:' || CAST(a.doc_id AS VARCHAR) || ':' || CAST(j AS VARCHAR)")}
             % n.n_docs AS neg_doc_id
    FROM anchors a CROSS JOIN n, UNNEST(generate_series(1, 3)) AS t(j)
)
SELECT g.doc_id, g.neg_rank, g.neg_doc_id,
       d.source AS neg_source,
       (d.source = g.source) AS same_source
FROM negs g JOIN documents d ON g.neg_doc_id = d.doc_id
WHERE g.neg_doc_id <> g.doc_id
ORDER BY g.doc_id, g.neg_rank
""",
    tags=("training-prep", "contrastive", "sampling"),
)
def contrastive_negative_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for contrastive training: each
    anchor doc draws k=3 negatives by hashing (anchor, rank) onto the
    contiguous doc-id ring — a pure function of the data (stable under
    repartitioning/retries, reproducible in any engine), unlike rand()-
    based samplers. Accidental self-draws are dropped, and the negative's
    source is joined back so a same-source rate (the "hard negative"
    fraction) is visible per pair.

    100 TB shape: anchors and the k-expansion are narrow map work; the
    only shuffle is the join of (anchors x k) against the doc metadata
    on the uniform hashed id — and in a real corpus the metadata side is
    the slim (id, source) projection, not documents."""
    d = load_table(spark, sf_dir, "documents", spread=True)
    # ring modulus as a 1-row broadcast, NOT d.count(): the query stays
    # one lazy plan with no driver-side job at DataFrame-build time
    nd = F.broadcast(d.agg(F.count(F.lit(1)).alias("n_docs")))
    anchors = d.filter(F.col("doc_id") % 20 == 0).select("doc_id", "source")
    negs = (
        anchors.select(
            "doc_id",
            "source",
            F.explode(F.sequence(F.lit(1), F.lit(3))).alias("neg_rank"),
        )
        .crossJoin(nd)
        .withColumn(
            "neg_doc_id",
            F.expr(
                md5_int_spark("concat('neg:', cast(doc_id as string), ':', cast(neg_rank as string))")
            )
            % F.col("n_docs"),
        )
        .filter(F.col("neg_doc_id") != F.col("doc_id"))
    )
    meta = d.select(F.col("doc_id").alias("neg_doc_id"), F.col("source").alias("neg_source"))
    return (
        negs.join(meta, "neg_doc_id")
        .select(
            "doc_id",
            F.col("neg_rank").cast("long").alias("neg_rank"),
            "neg_doc_id",
            "neg_source",
            (F.col("neg_source") == F.col("source")).alias("same_source"),
        )
        .orderBy("doc_id", "neg_rank")
    )


# --------------------------------------------------------------------------
# Temperature-scaled mixture weights (p_s ∝ n_s^alpha)
# --------------------------------------------------------------------------
@query(
    "mixture_temperature_weights",
    oracle="""
WITH s AS (
    SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS n_chars_total
    FROM documents GROUP BY source
), p AS (
    SELECT *, POW(CAST(n_docs AS DOUBLE), 0.5) AS raw_w FROM s
)
SELECT source, n_docs, n_chars_total,
       ROUND(raw_w / CAST(SUM(CAST(raw_w AS DECIMAL(38,12))) OVER () AS DOUBLE), 9) AS mix_weight,
       ROUND((raw_w / CAST(SUM(CAST(raw_w AS DECIMAL(38,12))) OVER () AS DOUBLE))
             / (CAST(n_docs AS DOUBLE) / SUM(n_docs) OVER ()), 6) AS upsample_factor
FROM p
ORDER BY source
""",
    tags=("training-prep", "mixture", "temperature"),
)
def mixture_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixture (the multilingual/multi-domain
    balancing rule p_s ∝ n_s^alpha, alpha=0.5): per-source corpus stats,
    the normalized sampling weight, and the implied up/down-sampling
    factor vs natural frequency. The window normalization runs over
    |sources| pre-aggregated rows (a handful), so the global SUM() OVER ()
    is driver-trivial at any corpus size — the data-sized work is the one
    per-source aggregation shuffle.

    The normalizing sum casts each raw_w term to DECIMAL(38,12) before
    SUM (the repo's determinism rule): raw_w = n^0.5 terms are irrational
    doubles, and a bare double SUM() OVER () accumulates in arrival
    order — a low bit in the denominator could flip a ROUND boundary
    between runs/engines."""
    d = load_table(spark, sf_dir, "documents", spread=True)
    s = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("n_chars_total"),
    )
    w = Window.partitionBy()
    raw_w = F.pow(F.col("n_docs").cast("double"), 0.5)
    nat = F.col("n_docs").cast("double") / F.sum("n_docs").over(w)
    mix = raw_w / F.sum(raw_w.cast("decimal(38,12)")).over(w).cast("double")
    return s.select(
        "source",
        "n_docs",
        "n_chars_total",
        F.round(mix, 9).alias("mix_weight"),
        F.round(mix / nat, 6).alias("upsample_factor"),
    ).orderBy("source")


# --------------------------------------------------------------------------
# End-to-end corpus prep: normalize -> dedup -> quality gate -> split ->
# rollup, composed as ONE declarative plan
# --------------------------------------------------------------------------
@query(
    "corpus_end_to_end_pipeline",
    oracle=f"""
WITH normed AS (
    SELECT doc_id, source, n_chars, text,
           {NORM_HASH_DUCK} AS norm_hash
    FROM documents
), kept AS (  -- dedup: keep the min doc_id per normalized hash
    SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY norm_hash ORDER BY doc_id) AS rn
        FROM normed
    ) WHERE rn = 1
), gated AS (  -- quality gate: length thresholds
    SELECT * FROM kept
    WHERE len(string_split(text, ' ')) >= 20 AND n_chars >= 100
), split AS (  -- deterministic hash split 80/10/10
    SELECT *,
           CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val' ELSE 'test' END AS split
    FROM (
        SELECT *,
               {md5_int_duck("'split:' || CAST(doc_id AS VARCHAR)")} % 100 AS h
        FROM gated
    )
)
SELECT split, source,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       MIN(doc_id) AS first_doc
FROM split
GROUP BY split, source
ORDER BY split, source
""",
    tags=("training-prep", "pipeline", "composition"),
)
def corpus_end_to_end_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole corpus-prep flow as ONE Catalyst plan: text
    normalization (codegen string ops) → normalized-hash dedup (keep
    min doc_id per hash — a row_number window on the uniform 128-bit
    key) → quality gate (token/char thresholds, map-side) → 80/10/10
    hash split (pure function of doc_id) → per-(split, source) rollup.

    The point of composing it declaratively instead of materializing
    each stage: Catalyst pipelines the narrow stages (normalize, gate,
    split are all map-side over the scan), so the whole pipeline costs
    exactly TWO shuffles at any corpus size — the dedup window's hash
    exchange and the final rollup — where a stage-materialized version
    pays a write+read round-trip per stage."""
    d = load_table(spark, sf_dir, "documents", spread=True)
    normed = d.select(
        "doc_id", "source", "n_chars", "text", norm_hash("text").alias("norm_hash")
    )
    w = Window.partitionBy("norm_hash").orderBy("doc_id")
    kept = normed.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    gated = kept.filter(
        (F.size(F.split("text", " ")) >= 20) & (F.col("n_chars") >= 100)
    )
    h = F.expr(md5_int_spark("concat('split:', cast(doc_id as string))")) % 100
    split = gated.withColumn(
        "split",
        F.when(h < 80, "train").when(h < 90, "val").otherwise("test"),
    )
    return (
        split.groupBy("split", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.min("doc_id").alias("first_doc"),
        )
        .orderBy("split", "source")
    )


# --------------------------------------------------------------------------
# Group-aware split (leakage-free: whole provenance groups share a split)
# --------------------------------------------------------------------------
@query(
    "split_group_aware",
    oracle=f"""
WITH g AS (
    SELECT doc_id, source, n_chars,
           {md5_int_duck("'gsplit:' || source")} % 100 AS h
    FROM documents
)
SELECT CASE WHEN h < 80 THEN 'train' WHEN h < 90 THEN 'val' ELSE 'test' END AS split,
       source,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM g
GROUP BY 1, 2
ORDER BY split, source
""",
    tags=("training-prep", "split", "leakage"),
)
def split_group_aware(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-aware 80/10/10 split: the hash key is the provenance GROUP
    (source), not the document, so every doc sharing a source lands in
    the same split — the leakage guard per-doc splits lack (near-dups
    inside one crawl domain can otherwise straddle train and test). The
    split stays a pure map-side function of the data; the only shuffle
    is the reporting rollup. Compare `split_train_val_test`, the per-doc
    variant: same mechanism, different key, complementary guarantees
    (per-doc = exact proportions, per-group = no cross-split leakage)."""
    d = load_table(spark, sf_dir, "documents", spread=True)
    h = F.expr(md5_int_spark("concat('gsplit:', source)")) % 100
    return (
        d.withColumn(
            "split",
            F.when(h < 80, "train").when(h < 90, "val").otherwise("test"),
        )
        .groupBy("split", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
        .orderBy("split", "source")
    )
