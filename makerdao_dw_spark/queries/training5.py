"""Training-data pipeline, wave 5 (round 6): tokenizer induction,
curriculum assembly, and split-leakage auditing.

- `bpe_first_merge`: the first iteration of byte-pair-encoding
  vocabulary induction — count adjacent symbol pairs across the
  corpus (word-internal, character symbols), pick the winning merge.
  One BPE step is the SQL-expressible core of tokenizer training: the
  full trainer is this exact count-and-merge loop iterated, and the
  count step is where all the data motion is (the merge apply is a
  map). Emits the top pair table a trainer's first iteration produces.
- `curriculum_quality_phases`: curriculum assembly — rank documents
  by a composite quality score and bin them into 4 curriculum phases
  (quantiles), reporting per-(source, phase) token budgets. The
  sampler that feeds a curriculum schedule consumes exactly this
  table.
- `split_leakage_audit`: cross-split contamination — the fraction of
  each TEST document's distinct word bigrams that also occur in any
  TRAIN document, using the SAME deterministic hash split as
  split_train_val_test (training3.py), so the audit binds to the real
  split assignment rather than a column. The number every eval
  pipeline must report before quoting held-out loss.

Determinism: quality scores are exact integer/length arithmetic
rounded once; phase binning uses NTILE over a (score, doc_id) total
order; the split is the md5 arithmetic-hash anchor.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.order_stats import global_ntile, use_parallel
from ..session import load_table
from .registry import query
from .text_common import bigram_zip_expr, tokens_arr, tokens_arr_duck, ws_words_arr, ws_words_duck
from .training3 import _BUCKET_DUCK, _BUCKET_SPARK


# --------------------------------------------------------------------------
# BPE: the first merge iteration
# --------------------------------------------------------------------------
@query(
    "bpe_first_merge",
    oracle=f"""
WITH words AS (
    SELECT UNNEST({tokens_arr_duck('text')}) AS w
    FROM documents
), wc AS (
    SELECT w, COUNT(*) AS wn FROM words GROUP BY w
), pairs AS (
    SELECT UNNEST(list_transform(generate_series(1, len(w) - 1),
                                 i -> struct_pack(a := w[i], b := w[i+1]))) AS p, wn
    FROM wc
), pc AS (
    SELECT p.a AS a, p.b AS b, CAST(SUM(wn) AS BIGINT) AS n
    FROM pairs GROUP BY p.a, p.b
)
SELECT a, b, n,
       CAST(ROW_NUMBER() OVER (ORDER BY n DESC, a, b) AS BIGINT) AS rk
FROM pc
QUALIFY rk <= 20
ORDER BY rk
""",
    tags=("training", "tokenizer", "bpe"),
)
def bpe_first_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE vocabulary induction, iteration 1: adjacent character-pair
    frequencies across the corpus (word-internal, weighted by word
    frequency), top-20 merge candidates. The winning row IS the first
    merge a BPE trainer performs; iterating = re-running this count
    over re-symbolized words, so this query is the data-motion shape
    of tokenizer training.

    Shapes at 100 TB: words are pre-aggregated to (word, count) BEFORE
    character explosion — natural text's word frequencies are Zipfian,
    so the per-word pair explode runs over |vocab| rows, not |corpus
    tokens| (the naive per-token explode is ~1000x more rows at web
    scale). Pair space is bounded (alphabet²), the rollup is one tiny
    exchange, top-20 via TakeOrdered — no global sort."""
    d = load_table(spark, sf_dir, "documents", spread=True)
    wc = (
        d.select(F.explode(tokens_arr("text")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wn"))
    )
    pairs = wc.select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(w) - 1),"
                " i -> struct(substr(w, i, 1) AS a, substr(w, i + 1, 1) AS b))"
            )
        ).alias("p"),
        "wn",
    ).select("p.a", "p.b", "wn")
    pc = pairs.groupBy("a", "b").agg(F.sum("wn").alias("n"))
    # r12: top-20 via TakeOrdered (orderBy+limit) — the docstring's "no
    # global sort" promise made real; the rank window now runs over 20
    # rows instead of the full (bounded, but alphabet²-sized) pair set.
    w = Window.orderBy(F.col("n").desc(), "a", "b")
    return (
        pc.orderBy(F.col("n").desc(), "a", "b")
        .limit(20)
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .select("a", "b", "n", "rk")
        .orderBy("rk")
    )


# --------------------------------------------------------------------------
# Curriculum assembly: quality-quantile phases
# --------------------------------------------------------------------------
@query(
    "curriculum_quality_phases",
    oracle=f"""
WITH scored AS (
    SELECT doc_id, source, n_chars,
           len({ws_words_duck('text')}) AS n_tokens,
           ROUND(
             len({ws_words_duck('text')})
             / CAST(GREATEST(n_chars, 1) AS DOUBLE), 6
           ) AS tok_density
    FROM documents
), phased AS (
    SELECT *, CAST(NTILE(4) OVER (ORDER BY tok_density DESC, doc_id) AS BIGINT) AS phase
    FROM scored
)
SELECT source, phase,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS phase_tokens,
       MIN(doc_id) AS first_doc
FROM phased
GROUP BY source, phase
ORDER BY source, phase
""",
    tags=("training", "curriculum", "ntile"),
)
def curriculum_quality_phases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum assembly: rank every document by a quality proxy
    (token density — tokens per character; boilerplate and markup
    score low) and NTILE into 4 curriculum phases; report each
    (source, phase) cell's document count and token budget — the
    schedule table a curriculum sampler consumes.

    Shapes at 100 TB: scoring is map-only; the NTILE total order is
    the one global sort (|docs| rows of (score, id) — at extreme scale
    swap for approx-quantile phase boundaries broadcast back, same
    output contract); the rollup is one exchange."""
    d = load_table(spark, sf_dir, "documents", spread=True)
    scored = d.select(
        "doc_id",
        "source",
        F.size(ws_words_arr("text")).alias("n_tokens"),
        F.round(
            F.size(ws_words_arr("text"))
            / F.greatest(F.col("n_chars"), F.lit(1)).cast("double"),
            6,
        ).alias("tok_density"),
    )
    # r12: past the source-size gate the NTILE runs as the parallel
    # global rank (range-partitioned sort + per-partition offsets)
    # instead of the single-task empty-PARTITION BY window — the
    # docstring's "swap at extreme scale" promise, made exact instead
    # of approximate (guide §2.5). Below the gate the plain window is
    # kept (the per-doc frame fits one task; measured r12, the parallel
    # machinery is pure fixed cost there). Both forms value-identical.
    phased = global_ntile(
        scored,
        [F.col("tok_density").desc(), F.col("doc_id")],
        4,
        "phase",
        parallel=use_parallel(sf_dir, "documents"),
    ).withColumn("phase", F.col("phase").cast("long"))
    return (
        phased.groupBy("source", "phase")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("phase_tokens"),
            F.min("doc_id").alias("first_doc"),
        )
        .orderBy("source", "phase")
    )


# --------------------------------------------------------------------------
# Split-leakage audit (train -> test bigram contamination)
# --------------------------------------------------------------------------
@query(
    "split_leakage_audit",
    oracle=f"""
WITH split AS (
    SELECT doc_id, text,
           CASE WHEN {_BUCKET_DUCK} < 80 THEN 'train'
                WHEN {_BUCKET_DUCK} < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM documents
), grams AS (
    SELECT doc_id, split,
           list_distinct(list_transform(
               generate_series(1, len(w) - 1), i -> w[i] || ' ' || w[i + 1]
           )) AS g2
    FROM (SELECT doc_id, split,
                 {ws_words_duck('text')} AS w
          FROM split)
), train_grams AS (
    SELECT DISTINCT UNNEST(g2) AS gram FROM grams WHERE split = 'train'
), test_grams AS (
    SELECT doc_id, UNNEST(g2) AS gram FROM grams WHERE split = 'test'
)
SELECT t.doc_id,
       COUNT(*) AS n_grams,
       COUNT(tr.gram) AS n_leaked,
       ROUND(CAST(COUNT(tr.gram) AS DOUBLE) / COUNT(*), 6) AS leakage_frac
FROM test_grams t LEFT JOIN train_grams tr USING (gram)
GROUP BY t.doc_id
ORDER BY t.doc_id
""",
    tags=("training", "leakage", "split", "contamination"),
)
def split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split leakage: for every TEST document (under the SAME
    deterministic md5 split as split_train_val_test), the fraction of
    its distinct word bigrams that occur anywhere in TRAIN — the
    pre-eval audit that distinguishes held-out loss from memorization.
    Composes two registered operators (hash split + n-gram
    contamination) against each other, binding the audit to the real
    split function instead of a label column.

    Shapes at 100 TB: test is the 10% slice, so the probe side is
    small by construction; the TRAIN gram set is corpus-scale —
    deduped FIRST (distinct gram strings ≪ gram instances), then the
    join is gram-keyed equi (never doc-pair); per-doc rollup is one
    exchange. Same discipline as contamination_ngram_overlap, but the
    'benchmark' side is derived, not a given source."""
    d = load_table(spark, sf_dir, "documents", spread=True)
    split = d.select(
        "doc_id",
        "text",
        F.when(F.expr(_BUCKET_SPARK) < 80, "train")
        .when(F.expr(_BUCKET_SPARK) < 90, "val")
        .otherwise("test")
        .alias("split"),
    )
    grams = split.select(
        "doc_id",
        "split",
        ws_words_arr("text").alias("w"),
    ).select(
        "doc_id",
        "split",
        # clamped-slice zip (text_common): <2-token docs yield an EMPTY
        # bigram list with no index guard needed
        F.array_distinct(F.expr(bigram_zip_expr("w"))).alias("g2"),
    )
    # explode_OUTER + explicit NULL filter, not plain explode: explode's
    # inferred size(g2)>0 predicate collapses through the projections
    # and is pushed below the spread repartition into the single-file
    # scan, re-evaluating the ENTIRE bigram transform single-threaded
    # (measured 4.7 s -> 0.8 s for the train side at sf0.1); the outer
    # form infers nothing, so only the cheap md5 split CASE reaches the
    # scan and the heavy lambda work runs on the 32 spread partitions
    train_grams = (
        grams.filter(F.col("split") == "train")
        .select(F.explode_outer("g2").alias("gram"))
        .filter(F.col("gram").isNotNull())
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    test_grams = (
        grams.filter(F.col("split") == "test")
        .select("doc_id", F.explode_outer("g2").alias("gram"))
        .filter(F.col("gram").isNotNull())
    )
    return (
        test_grams.join(train_grams, "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count("hit").alias("n_leaked"),
            F.round(F.count("hit").cast("double") / F.count(F.lit(1)), 6).alias(
                "leakage_frac"
            ),
        )
        .orderBy("doc_id")
    )
