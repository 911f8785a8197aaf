"""Training-data pipeline operators, wave 2: PII redaction, repetition
quality rules, benchmark-contamination screening, and snapshot diff.

These extend the corpus-curation surface (dedup/quality/chunking in
`training.py`/`text.py`) with the remaining screens a 100 TB pretraining
pipeline runs before data ships:

- **PII redaction** — regex detect + rewrite, entirely JVM-side
  (whole-stage codegen, zero shuffle): the canonical "runs on every
  byte of the corpus" operator, so it must never leave the scan stage.
- **Repetition rules** — the Gopher-style duplicate-n-gram filters
  (Rae et al. 2021, arXiv:2112.11446 §A1.1): per-document, pure
  higher-order array functions, no shuffle, O(words²) per doc which is
  bounded by the chunker upstream.
- **Contamination** — eval-benchmark n-gram overlap: the benchmark
  side is always tiny (eval sets are KBs against a 100 TB corpus), so
  the join MUST broadcast; the only shuffle is the per-doc rollup.
- **Snapshot diff** — full-outer key compare between two table
  versions (the warehouse-maintenance twin of `io/merge.py`): at scale
  this is one co-partitioned sort-merge join, narrow classification.

The synthetic `documents.text` is PII-free word salad, so the PII query
derives a seeded column first (deterministic from doc_id, identically
in both engines) — the operator under test is the detect/redact
machinery, and the oracle proves Java-regex and RE2 semantics agree on
the patterns we restrict ourselves to (no lookaround, no backrefs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import load_table
from .registry import query


# --------------------------------------------------------------------------
# PII detection + redaction (seeded; Java-regex/RE2 common subset)
# --------------------------------------------------------------------------
_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PHONE_RE = r"\+1-555-\d{3}-\d{4}"
_IP_RE = r"\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}"


@query(
    "pii_redact_docs",
    oracle=f"""
WITH seeded AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 7 = 0
                 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com now'
                 ELSE '' END
         || CASE WHEN doc_id % 11 = 0
                 THEN ' call +1-555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-0199'
                 ELSE '' END
         || CASE WHEN doc_id % 13 = 0
                 THEN ' host 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.1'
                 ELSE '' END AS text2
  FROM documents
)
SELECT doc_id,
       len(regexp_extract_all(text2, '{_EMAIL_RE}', 0)) AS n_emails,
       len(regexp_extract_all(text2, '{_PHONE_RE}', 0)) AS n_phones,
       len(regexp_extract_all(text2, '{_IP_RE}', 0)) AS n_ips,
       regexp_replace(
         regexp_replace(
           regexp_replace(text2, '{_EMAIL_RE}', '<EMAIL>', 'g'),
           '{_PHONE_RE}', '<PHONE>', 'g'),
         '{_IP_RE}', '<IP>', 'g') AS redacted
FROM seeded
ORDER BY doc_id
""",
    tags=("training-data", "pii", "regex"),
)
def pii_redact_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detect and redact emails / NANP test-range phones / IPv4s.

    Patterns stay inside the Java-regex ∩ RE2 common subset so the
    DuckDB oracle proves engine-portable semantics. Spark
    `regexp_replace` is global by default; DuckDB needs the explicit
    'g' flag — a cross-engine trap this oracle pins. Scale shape: pure
    string expressions over the scan — no Python; redaction of a
    100 TB corpus is a map-only pass. spread (r11): the testdata's
    single-row-group documents file pinned all SIX regex passes (3
    extract_all + 3 replace) to one core — the round-robin exchange
    carries (doc_id, text) once and the per-row work is trivially
    partitioning-invariant; measured 7.1–7.4 → ~2.9 s at sf1."""
    d = load_table(spark, sf_dir, "documents", spread=True)
    seeded = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com now"),
                ),
            ).otherwise(""),
            F.when(
                F.col("doc_id") % 11 == 0,
                F.concat(
                    F.lit(" call +1-555-"),
                    F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
                    F.lit("-0199"),
                ),
            ).otherwise(""),
            F.when(
                F.col("doc_id") % 13 == 0,
                F.concat(
                    F.lit(" host 10.0."),
                    (F.col("doc_id") % 256).cast("string"),
                    F.lit(".1"),
                ),
            ).otherwise(""),
        ).alias("text2"),
    )
    t2 = F.col("text2")
    return seeded.select(
        "doc_id",
        F.size(F.regexp_extract_all(t2, F.lit(_EMAIL_RE), F.lit(0))).alias("n_emails"),
        F.size(F.regexp_extract_all(t2, F.lit(_PHONE_RE), F.lit(0))).alias("n_phones"),
        F.size(F.regexp_extract_all(t2, F.lit(_IP_RE), F.lit(0))).alias("n_ips"),
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(t2, _EMAIL_RE, "<EMAIL>"),
                _PHONE_RE,
                "<PHONE>",
            ),
            _IP_RE,
            "<IP>",
        ).alias("redacted"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# Gopher-style repetition quality rules (pure array ops, no shuffle)
# --------------------------------------------------------------------------
_W = "filter(split(text, ' '), x -> x != '')"


@query(
    "gopher_repetition_stats",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x != '') AS w
  FROM documents
), grams AS (
  SELECT doc_id, w,
         list_transform(generate_series(1, len(w) - 1),
                        i -> w[i] || ' ' || w[i + 1]) AS g2,
         list_transform(generate_series(1, len(w) - 2),
                        i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2]) AS g3
  FROM toks
)
SELECT doc_id,
       len(w) AS n_words,
       ROUND(CAST(len(list_distinct(w)) AS DOUBLE) / NULLIF(len(w), 0), 6) AS uniq_word_frac,
       ROUND(CAST(list_aggregate(list_transform(list_distinct(w),
                    d -> len(list_filter(w, x -> x = d))), 'max') AS DOUBLE)
             / NULLIF(len(w), 0), 6) AS top_word_frac,
       ROUND(CAST(list_aggregate(list_transform(list_distinct(g2),
                    d -> len(list_filter(g2, x -> x = d))), 'max') AS DOUBLE)
             / NULLIF(len(g2), 0), 6) AS top_2gram_frac,
       ROUND(CAST(len(list_filter(g3, g -> len(list_filter(g3, x -> x = g)) >= 2))
                  AS DOUBLE) / NULLIF(len(g3), 0), 6) AS dup_3gram_frac
FROM grams
ORDER BY doc_id
""",
    tags=("training-data", "quality", "repetition"),
)
def gopher_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition screens in the style of Gopher's quality
    rules: unique-word fraction, top-word share, top-2-gram share, and
    the fraction of 3-gram positions whose gram occurs more than once.

    Everything is higher-order array functions over the tokenized text
    — array_distinct / filter / zip_with — so the physical plan is a
    single narrow codegen stage: per-doc CPU, embarrassingly parallel,
    zero shuffle (asserted in test_plan_shape.py). The O(words²)
    distinct-count loop is bounded because chunking upstream caps doc
    length. n-grams via zip_with over offset slices (length clamped at
    0) so 1-word docs yield empty gram lists, not a bad sequence()."""
    # r11: spread — the per-doc O(words^2) array CPU otherwise runs on
    # ONE core against the single-row-group testdata file (7.9 s at
    # sf0.1); per-row computation, so partitioning cannot change the
    # result, and the round-robin exchange is not a hash shuffle (the
    # no-hash-exchange plan assertion still holds)
    d = load_table(spark, sf_dir, "documents", spread=True)
    toks = d.select("doc_id", F.expr(_W).alias("w"))
    grams = toks.select(
        "doc_id",
        "w",
        F.expr(
            "zip_with(slice(w, 1, greatest(size(w) - 1, 0)),"
            "         slice(w, 2, greatest(size(w) - 1, 0)),"
            "         (a, b) -> concat(a, ' ', b))"
        ).alias("g2"),
    ).withColumn(
        "g3",
        F.expr(
            "zip_with(slice(g2, 1, greatest(size(w) - 2, 0)),"
            "         slice(w, 3, greatest(size(w) - 2, 0)),"
            "         (a, b) -> concat(a, ' ', b))"
        ),
    )
    def _frac(num: str, den: str) -> F.Column:
        # NULLIF: a 0-token doc has no defined ratios (NULL, not an
        # ANSI DIVIDE_BY_ZERO throw) — mirrored in the oracle
        return F.round(F.expr(f"CAST({num} AS DOUBLE) / nullif({den}, 0)"), 6)

    return grams.select(
        "doc_id",
        F.size("w").alias("n_words"),
        _frac("size(array_distinct(w))", "size(w)").alias("uniq_word_frac"),
        _frac(
            "array_max(transform(array_distinct(w), d -> size(filter(w, x -> x = d))))",
            "size(w)",
        ).alias("top_word_frac"),
        _frac(
            "array_max(transform(array_distinct(g2), d -> size(filter(g2, x -> x = d))))",
            "size(g2)",
        ).alias("top_2gram_frac"),
        _frac(
            "size(filter(g3, g -> size(filter(g3, x -> x = g)) >= 2))",
            "size(g3)",
        ).alias("dup_3gram_frac"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# Benchmark-contamination screen (broadcast n-gram overlap)
# --------------------------------------------------------------------------
@query(
    "contamination_ngram_overlap",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, source, list_filter(string_split(text, ' '), x -> x != '') AS w
  FROM documents
), grams AS (
  SELECT doc_id, source,
         list_transform(generate_series(1, len(w) - 1),
                        i -> w[i] || ' ' || w[i + 1]) AS g2
  FROM toks
), bench AS (
  SELECT DISTINCT UNNEST(g2) AS gram FROM grams WHERE source = 'src0'
), cand AS (
  SELECT doc_id, UNNEST(list_distinct(g2)) AS gram
  FROM grams WHERE source <> 'src0'
)
SELECT c.doc_id,
       COUNT(*) AS n_grams,
       COUNT(b.gram) AS n_contaminated,
       ROUND(CAST(COUNT(b.gram) AS DOUBLE) / COUNT(*), 6) AS contamination_frac,
       COUNT(b.gram) >= 0.5 * COUNT(*) AS flagged
FROM cand c LEFT JOIN bench b USING (gram)
GROUP BY c.doc_id
ORDER BY c.doc_id
""",
    tags=("training-data", "contamination", "broadcast-join"),
)
def contamination_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set contamination screen: treating source `src0` as the
    held-out benchmark, score every other document by the fraction of
    its distinct word bigrams that appear anywhere in the benchmark.

    (Real pipelines use 8-13-gram overlap; the synthetic corpus's ~30
    word vocabulary makes bigrams the order that yields a non-degenerate
    score distribution — the dataflow is identical, the n is a knob.)

    Scale shape: the benchmark side of the join is distinct n-grams of
    an EVAL SET — kilobytes against a 100 TB corpus — so it must
    broadcast (asserted: BroadcastHashJoin, no SortMergeJoin); the only
    hash exchange is the per-doc rollup of hit counts."""
    # spread=True: this is a CPU-heavy text load (per-doc bigram zip),
    # exactly the class the auto-spread note reserves explicit spread
    # for; and explode_OUTER + NULL filter instead of explode, so the
    # inferred size(g2)>0 predicate cannot be pushed below the spread
    # repartition and re-evaluate the whole zip single-threaded in the
    # one-file scan (the split_leakage_audit hazard; 1.23 s -> 0.6 s)
    d = load_table(spark, sf_dir, "documents", spread=True)
    grams = d.select(
        "doc_id",
        "source",
        F.expr(
            f"zip_with(slice({_W}, 1, greatest(size({_W}) - 1, 0)),"
            f"         slice({_W}, 2, greatest(size({_W}) - 1, 0)),"
            "          (a, b) -> concat(a, ' ', b))"
        ).alias("g2"),
    )
    bench = (
        grams.filter(F.col("source") == "src0")
        .select(F.explode_outer("g2").alias("gram"))
        .filter(F.col("gram").isNotNull())
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    cand = (
        grams.filter(F.col("source") != "src0")
        .select("doc_id", F.explode_outer(F.array_distinct("g2")).alias("gram"))
        .filter(F.col("gram").isNotNull())
    )
    return (
        cand.join(F.broadcast(bench), "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count("hit").alias("n_contaminated"),
        )
        .select(
            "doc_id",
            "n_grams",
            "n_contaminated",
            F.round(
                F.col("n_contaminated").cast("double") / F.col("n_grams"), 6
            ).alias("contamination_frac"),
            (F.col("n_contaminated") >= 0.5 * F.col("n_grams")).alias("flagged"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Snapshot diff (full-outer key compare between table versions)
# --------------------------------------------------------------------------
@query(
    "table_diff_snapshot",
    oracle="""
WITH v1 AS (
  SELECT o_orderkey AS k, CAST(o_totalprice AS DECIMAL(38,6)) AS price,
         o_orderstatus AS status
  FROM orders
), v2 AS (
  SELECT o_orderkey AS k,
         CAST(o_totalprice AS DECIMAL(38,6))
           + CASE WHEN o_orderkey % 31 = 0 THEN CAST(100 AS DECIMAL(38,6))
                  ELSE CAST(0 AS DECIMAL(38,6)) END AS price,
         o_orderstatus AS status
  FROM orders WHERE o_orderkey % 97 <> 0
  UNION ALL
  SELECT o_orderkey + 10000000, CAST(o_totalprice AS DECIMAL(38,6)), o_orderstatus
  FROM orders WHERE o_orderkey % 89 = 0
), classified AS (
  SELECT CASE WHEN v1.k IS NULL THEN 'added'
              WHEN v2.k IS NULL THEN 'removed'
              WHEN v1.price <> v2.price OR v1.status <> v2.status THEN 'changed'
              ELSE 'unchanged' END AS change_type,
         v1.price AS p1, v2.price AS p2
  FROM v1 FULL OUTER JOIN v2 ON v1.k = v2.k
)
SELECT change_type, COUNT(*) AS n,
       CAST(SUM(COALESCE(p1, CAST(0 AS DECIMAL(38,6)))) AS DECIMAL(38,6)) AS sum_price_v1,
       CAST(SUM(COALESCE(p2, CAST(0 AS DECIMAL(38,6)))) AS DECIMAL(38,6)) AS sum_price_v2
FROM classified
GROUP BY change_type
ORDER BY change_type
""",
    tags=("warehouse", "diff", "full-outer-join"),
)
def table_diff_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff between two versions of `orders` (v2 derived
    deterministically: every 97th key removed, every 31st repriced,
    every 89th re-keyed as an insert): full-outer join on the key,
    classify added/removed/changed/unchanged, roll up counts and exact
    decimal sums per class.

    The audit twin of `io/merge.py`'s upsert: MERGE applies a delta,
    this measures one. Scale shape: a full outer join cannot broadcast,
    so the plan is a single co-partitioned shuffle join on the key
    (bucketed-by-key snapshots via io/bucketing.py would eliminate even
    that); classification and rollup are narrow."""
    o = load_table(spark, sf_dir, "orders")
    price = F.col("o_totalprice").cast("decimal(38,6)")
    v1 = o.select(
        F.col("o_orderkey").alias("k"),
        price.alias("price"),
        F.col("o_orderstatus").alias("status"),
    )
    zero = F.lit(0).cast("decimal(38,6)")
    v2 = (
        o.filter(F.col("o_orderkey") % 97 != 0)
        .select(
            F.col("o_orderkey").alias("k"),
            (
                price
                + F.when(F.col("o_orderkey") % 31 == 0, F.lit(100)).otherwise(0).cast(
                    "decimal(38,6)"
                )
            ).alias("price"),
            F.col("o_orderstatus").alias("status"),
        )
        .unionByName(
            o.filter(F.col("o_orderkey") % 89 == 0).select(
                (F.col("o_orderkey") + 10000000).alias("k"),
                price.alias("price"),
                F.col("o_orderstatus").alias("status"),
            )
        )
    )
    j = v1.alias("a").join(v2.alias("b"), F.col("a.k") == F.col("b.k"), "full_outer")
    change = (
        F.when(F.col("a.k").isNull(), "added")
        .when(F.col("b.k").isNull(), "removed")
        .when(
            (F.col("a.price") != F.col("b.price"))
            | (F.col("a.status") != F.col("b.status")),
            "changed",
        )
        .otherwise("unchanged")
    )
    return (
        j.select(
            change.alias("change_type"),
            F.col("a.price").alias("p1"),
            F.col("b.price").alias("p2"),
        )
        .groupBy("change_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.coalesce(F.col("p1"), zero)).cast("decimal(38,6)").alias(
                "sum_price_v1"
            ),
            F.sum(F.coalesce(F.col("p2"), zero)).cast("decimal(38,6)").alias(
                "sum_price_v2"
            ),
        )
        .orderBy("change_type")
    )
