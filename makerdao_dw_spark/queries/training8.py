"""Training-data pipeline, wave 8 (round 6): cross-document span
dedup screening, corpus novelty decay, and LSH index tuning.

- `dup_span_coverage`: the exact-substring-dedup SCREEN — for every
  document, the fraction of its words covered by the union of 4-gram
  spans that also occur in at least one OTHER document, rolled up per
  source. This is the measurement stage of suffix-array-style substring
  dedup (find duplicated spans, then cut them): before committing the
  expensive cut pass over a crawl, this table says how much duplicated
  span mass each source carries. Interval-union via a per-doc LAG
  window (contribution = min(K, gap)), not per-position marking — the
  covered-token count is exact while touching only span STARTS.
- `ngram_novelty_curve`: diminishing-returns curve for data collection
  — split the corpus into 10 id-range buckets ("collection deciles")
  and report, per decile, the fraction of 3-gram positions whose gram
  was never seen in any lower-id document. The curve that answers
  "does the next 10% of this crawl still add new content, or are we
  re-collecting what we have?" (novelty decaying toward 0 = stop).
- `lsh_parameter_sweep`: index-tuning table for the MinHash-LSH
  dedup family — from ONE 16-hash signature pass, evaluate three
  (bands x rows) operating points (2x8 precise, 4x4 balanced, 8x2
  aggressive) and report candidate volume plus the estimated-Jaccard
  profile of the pairs each config would surface. The S-curve
  trade-off (recall vs pair volume) measured on the corpus itself,
  without re-reading the corpus per config.

Determinism: md5 gram/band keys, integer counts, one ROUND per
emitted double; estimated-Jaccard aggregates are computed from exact
integer match-counts (SUM of ints, one final divide) so no
double-summation order can leak in.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.text_features import (
    band_hashes,
    band_hashes_sql_duckdb,
    minhash_signature,
    minhash_signature_sql_duckdb,
    shingles_expr,
    shingles_sql_duckdb,
    sorted_pairs_expr,
)
from ..session import load_table, materialize
from .dedup import LSH_BUCKET_CAP, NUM_HASHES
from .registry import query
from .text_common import (
    gram_md5_arr_duck,
    gram_md5_arr_spark,
    gram_md5_pos_duck,
    ws_words_arr,
    ws_words_duck,
)


# --------------------------------------------------------------------------
# Cross-document duplicated-span coverage (substring-dedup screen)
# --------------------------------------------------------------------------
_SPAN_K = 4  # span unit: word 4-grams (cross-doc repeats are meaningful;
# bigrams over a small vocab are all shared, 8-grams almost never)

_G4_SPARK = gram_md5_arr_spark(_SPAN_K)
_G4_DUCK = gram_md5_pos_duck(_SPAN_K)


@query(
    "dup_span_coverage",
    oracle=f"""
WITH toks AS (
    SELECT doc_id, source, {ws_words_duck('text')} AS w FROM documents
), docs AS (
    SELECT doc_id, source, len(w) AS n_words FROM toks
), grams AS (
    SELECT doc_id, UNNEST({_G4_DUCK}, recursive := true) FROM toks
), freq AS (
    SELECT ghash FROM grams GROUP BY ghash HAVING COUNT(DISTINCT doc_id) >= 2
), starts AS (
    SELECT g.doc_id, g.p0,
           LAG(g.p0) OVER (PARTITION BY g.doc_id ORDER BY g.p0) AS prev
    FROM grams g JOIN freq f ON g.ghash = f.ghash
), per_doc AS (
    SELECT doc_id,
           CAST(SUM(CASE WHEN prev IS NULL THEN {_SPAN_K}
                         ELSE LEAST({_SPAN_K}, p0 - prev) END) AS BIGINT) AS covered
    FROM starts GROUP BY doc_id
)
SELECT d.source,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN p.covered > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_dup_span,
       CAST(SUM(d.n_words) AS BIGINT) AS total_words,
       CAST(SUM(COALESCE(p.covered, 0)) AS BIGINT) AS covered_words,
       ROUND(CAST(SUM(COALESCE(p.covered, 0)) AS DOUBLE)
             / CAST(GREATEST(SUM(d.n_words), 1) AS DOUBLE), 6) AS dup_word_frac
FROM docs d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
GROUP BY d.source
ORDER BY d.source
""",
    tags=("training", "dedup", "substring", "coverage"),
)
def dup_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source duplicated-span mass: the fraction of each source's
    words covered by the union of word-4-gram spans that occur in >=2
    distinct documents — the screening pass of substring dedup (Lee et
    al.-style span cutting measures exactly this before cutting).

    Shapes at 100 TB: gram keys are md5 (uniform, skew-free). "Occurs
    in >= 2 distinct docs" is evaluated as MIN(doc_id) != MAX(doc_id)
    over ONE whole-partition window on the gram key — no countDistinct
    (whose two-phase expand keys on (ghash, doc_id) and kills exchange
    reuse), no join back, one evaluation of the gram pipeline, and
    whale-gram-safe (min/max carry O(1) state where a collect_set
    window would buffer every doc holding a boilerplate gram).
    Coverage is then computed from span STARTS only via a per-doc LAG
    window (union length = sum of min(K, gap)) — exact interval-union
    without expanding K rows per span. The final rollup is
    |sources|-sized. posexplode_outer + isNotNull keeps the optimizer
    from pushing the 4-gram lambda chain below the spread repartition
    (the inferred size()>0 hazard, NOTES round-6)."""
    d = load_table(spark, sf_dir, "documents", spread=True)
    toks = d.select(
        "doc_id", "source", ws_words_arr("text").alias("w")
    )
    docs = toks.select("doc_id", "source", F.size("w").alias("n_words"))
    grams = toks.select(
        "doc_id", F.posexplode_outer(F.expr(_G4_SPARK)).alias("p0", "ghash")
    ).filter(F.col("ghash").isNotNull())
    w_gram = Window.partitionBy("ghash")
    starts = (
        grams.withColumn("mn", F.min("doc_id").over(w_gram))
        .withColumn("mx", F.max("doc_id").over(w_gram))
        .filter(F.col("mn") != F.col("mx"))
        .select("doc_id", "p0")
    )
    w_doc = Window.partitionBy("doc_id").orderBy("p0")
    per_doc = (
        starts.withColumn("prev", F.lag("p0").over(w_doc))
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.when(F.col("prev").isNull(), F.lit(_SPAN_K)).otherwise(
                    F.least(F.lit(_SPAN_K), F.col("p0") - F.col("prev"))
                )
            ).alias("covered")
        )
    )
    return (
        docs.join(per_doc, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("covered") > 0, 1).otherwise(0)).alias(
                "docs_with_dup_span"
            ),
            F.sum("n_words").alias("total_words"),
            F.sum(F.coalesce(F.col("covered"), F.lit(0))).alias("covered_words"),
            F.round(
                F.sum(F.coalesce(F.col("covered"), F.lit(0))).cast("double")
                / F.greatest(F.sum("n_words"), F.lit(1)).cast("double"),
                6,
            ).alias("dup_word_frac"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Corpus novelty decay by collection decile
# --------------------------------------------------------------------------
_G3_SPARK = gram_md5_arr_spark(3)
_G3_DUCK = gram_md5_arr_duck(3)

# id-range decile: least(id * 10 / (max_id + 1), 9) + 1 — a STATIC
# assignment (no global NTILE sort; at 100 TB the bucket predicate
# partition-prunes), identical on both engines in pure integer math.
_DECILE = "least(doc_id * 10 div (max_id + 1), 9) + 1"
_DECILE_DUCK = "LEAST(doc_id * 10 // (max_id + 1), 9) + 1"


@query(
    "ngram_novelty_curve",
    oracle=f"""
WITH toks AS (
    SELECT doc_id, {ws_words_duck('text')} AS w FROM documents
), mx AS (
    SELECT MAX(doc_id) AS max_id FROM documents
), grams AS (
    SELECT doc_id, UNNEST({_G3_DUCK}) AS ghash FROM toks
), firsts AS (
    SELECT ghash, MIN(doc_id) AS first_doc FROM grams GROUP BY ghash
), pos AS (
    SELECT CAST({_DECILE_DUCK} AS BIGINT) AS decile,
           CASE WHEN g.doc_id = f.first_doc THEN 1 ELSE 0 END AS novel
    FROM grams g JOIN firsts f ON g.ghash = f.ghash CROSS JOIN mx
), dd AS (
    SELECT CAST({_DECILE_DUCK} AS BIGINT) AS decile, COUNT(*) AS n_docs
    FROM documents CROSS JOIN mx GROUP BY 1
)
SELECT dd.decile, dd.n_docs,
       CAST(COALESCE(COUNT(pos.novel), 0) AS BIGINT) AS gram_positions,
       CAST(COALESCE(SUM(pos.novel), 0) AS BIGINT) AS novel_positions,
       ROUND(CAST(COALESCE(SUM(pos.novel), 0) AS DOUBLE)
             / CAST(GREATEST(COUNT(pos.novel), 1) AS DOUBLE), 6) AS novelty_frac
FROM dd LEFT JOIN pos ON dd.decile = pos.decile
GROUP BY dd.decile, dd.n_docs
ORDER BY dd.decile
""",
    tags=("training", "novelty", "diversity", "curation"),
)
def ngram_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diminishing-returns curve: per id-range decile of the corpus,
    the fraction of word-3-gram positions whose gram first occurs in
    that document (min doc_id over the whole corpus) — i.e. content
    the collection had not seen in any earlier document. Within-doc
    repeats of a first-seen gram count as novel at every position (the
    curve measures cross-document novelty, not within-doc repetition —
    gopher_repetition_stats covers that axis).

    Shapes at 100 TB: one shuffle to min-aggregate first-occurrence
    per md5 gram key, one join back on the same uniform key (AQE
    reuses the partitioning), then a 10-key rollup. The decile is a
    STATIC id-range bucket from a broadcast 1-row MAX aggregate — no
    global NTILE sort over the corpus. Docs-per-decile comes from the
    slim documents projection so gram-free deciles still appear."""
    d = load_table(spark, sf_dir, "documents", spread=True)
    mx = F.broadcast(d.agg(F.max("doc_id").alias("max_id")))
    toks = d.select("doc_id", ws_words_arr("text").alias("w"))
    grams = toks.select(
        "doc_id", F.explode_outer(F.expr(_G3_SPARK)).alias("ghash")
    ).filter(F.col("ghash").isNotNull())
    firsts = grams.groupBy("ghash").agg(F.min("doc_id").alias("first_doc"))
    pos = (
        grams.join(firsts, "ghash")
        .crossJoin(mx)
        .select(
            F.expr(_DECILE).cast("long").alias("decile"),
            F.when(F.col("doc_id") == F.col("first_doc"), 1).otherwise(0).alias("novel"),
        )
    )
    dd = (
        d.select("doc_id")
        .crossJoin(mx)
        .groupBy(F.expr(_DECILE).cast("long").alias("decile"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
    return (
        dd.join(pos, "decile", "left")
        .groupBy("decile", "n_docs")
        .agg(
            F.coalesce(F.count("novel"), F.lit(0)).alias("gram_positions"),
            F.coalesce(F.sum("novel"), F.lit(0)).alias("novel_positions"),
            F.round(
                F.coalesce(F.sum("novel"), F.lit(0)).cast("double")
                / F.greatest(F.count("novel"), F.lit(1)).cast("double"),
                6,
            ).alias("novelty_frac"),
        )
        .orderBy("decile")
    )


# --------------------------------------------------------------------------
# LSH (bands x rows) parameter sweep from one signature pass
# --------------------------------------------------------------------------
_SWEEP_CONFIGS = ((2, 8), (4, 4), (8, 2))  # (bands, rows): precise -> aggressive


def _sweep_oracle() -> str:
    shingles = shingles_sql_duckdb("text")
    sig = minhash_signature_sql_duckdb("shingles", NUM_HASHES)
    per_cfg = []
    for b, r in _SWEEP_CONFIGS:
        bands = band_hashes_sql_duckdb("sig", b, r)
        per_cfg.append(f"""
bands_{b}x{r} AS (
    SELECT doc_id, UNNEST({bands}, recursive := true)
    FROM sigs
), small_{b}x{r} AS (
    SELECT band, h, COUNT(*) AS bn FROM bands_{b}x{r} GROUP BY band, h
    HAVING COUNT(*) > 1 AND COUNT(*) <= {LSH_BUCKET_CAP}
), pairs_{b}x{r} AS (
    SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
    FROM bands_{b}x{r} x
    JOIN bands_{b}x{r} y ON x.band = y.band AND x.h = y.h AND x.doc_id < y.doc_id
    JOIN small_{b}x{r} s ON x.band = s.band AND x.h = s.h
), est_{b}x{r} AS (
    SELECT p.doc_a, p.doc_b,
           list_sum(list_transform(generate_series(1, {NUM_HASHES}),
                    i -> CASE WHEN sa.sig[i] = sb.sig[i] THEN 1 ELSE 0 END)) AS matches
    FROM pairs_{b}x{r} p
    JOIN sigs sa ON p.doc_a = sa.doc_id
    JOIN sigs sb ON p.doc_b = sb.doc_id
), stat_{b}x{r} AS (
    SELECT 'b{b}r{r}' AS config,
           (SELECT COUNT(*) FROM small_{b}x{r}) AS n_buckets,
           COUNT(*) AS n_candidate_pairs,
           (SELECT COUNT(DISTINCT d) FROM (
                SELECT doc_a AS d FROM pairs_{b}x{r}
                UNION ALL SELECT doc_b FROM pairs_{b}x{r})) AS n_docs_in_pairs,
           ROUND(CAST(SUM(matches) AS DOUBLE)
                 / ({NUM_HASHES}.0 * GREATEST(COUNT(*), 1)), 6) AS est_jaccard_mean,
           ROUND(CAST(MAX(matches) AS DOUBLE) / {NUM_HASHES}.0, 6) AS est_jaccard_max
    FROM est_{b}x{r} GROUP BY 1
)""")
    unions = " UNION ALL ".join(f"SELECT * FROM stat_{b}x{r}" for b, r in _SWEEP_CONFIGS)
    return f"""
WITH sigs AS (
    SELECT doc_id, {sig} AS sig
    FROM (SELECT doc_id, {shingles} AS shingles FROM documents)
),{",".join(per_cfg)}
SELECT * FROM ({unions}) ORDER BY config
"""


@query(
    "lsh_parameter_sweep",
    oracle=_sweep_oracle(),
    tags=("dedup", "lsh", "tuning", "minhash"),
)
def lsh_parameter_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH operating-point sweep: from ONE MinHash signature pass over
    the corpus, evaluate (bands x rows) = 2x8 / 4x4 / 8x2 and report,
    per config: pairable buckets, distinct candidate pairs, distinct
    docs surfaced, and the mean/max estimated Jaccard of the surfaced
    pairs (signature position agreement / 16). The index-tuning table:
    moving 2x8 -> 8x2 walks the S-curve from high-precision/low-recall
    to aggressive; the est-Jaccard profile shows what similarity mass
    each step actually adds, measured on the corpus itself.

    Shapes at 100 TB: the corpus is scanned ONCE — signatures (16 ints
    per doc, ~1000x smaller than the text) are materialized via eager
    materialize (the measured db2 pattern, NOTES round-6: five
    consumers — three band subtrees + both sides of the est join —
    would each re-shingle the corpus otherwise). Per config the band
    explode is map-side; buckets gate 1 < n <= LSH_BUCKET_CAP with a
    pre-collect window (same guard as dedup_minhash_lsh) so no bucket
    expands past ~500k pairs. Estimated-Jaccard aggregates use exact
    integer match-counts (one divide at the end) — no double-sum
    ordering. All per-config stats group on 3 keys; output is 3 rows."""
    d = load_table(spark, sf_dir, "documents", spread=True)
    sigs = d.select("doc_id", shingles_expr("text").alias("sh")).select(
        "doc_id", minhash_signature("sh", NUM_HASHES).alias("sig")
    )
    sigs = sigs.transform(materialize)

    per_cfg = []
    for b, r in _SWEEP_CONFIGS:
        cfg = F.lit(f"b{b}r{r}")
        bands = sigs.select(
            "doc_id", F.explode(band_hashes("sig", b, r)).alias("bh")
        ).select("doc_id", F.col("bh.band").alias("band"), F.col("bh.h").alias("h"))
        w = Window.partitionBy("band", "h")
        sized = bands.withColumn("bn", F.count(F.lit(1)).over(w))
        buckets = (
            sized.filter((F.col("bn") > 1) & (F.col("bn") <= LSH_BUCKET_CAP))
            .groupBy("band", "h")
            .agg(F.array_sort(F.collect_list("doc_id")).alias("ds"))
        )
        pairs = (
            buckets.select(F.explode(F.expr(sorted_pairs_expr("ds"))).alias("p"))
            .select(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
            .distinct()
        )
        sa = sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
        sb = sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
        est = (
            pairs.join(sa, "doc_a")
            .join(sb, "doc_b")
            .select(
                "doc_a",
                "doc_b",
                F.expr(
                    "aggregate(zip_with(sig_a, sig_b, (x, y) -> if(x = y, 1, 0)), 0, (acc, v) -> acc + v)"
                ).alias("matches"),
            )
        )
        n_buckets = buckets.select(cfg.alias("config")).groupBy("config").agg(
            F.count(F.lit(1)).alias("n_buckets")
        )
        n_docs = (
            pairs.select(F.explode(F.array("doc_a", "doc_b")).alias("d"))
            .distinct()
            .select(cfg.alias("config"))
            .groupBy("config")
            .agg(F.count(F.lit(1)).alias("n_docs_in_pairs"))
        )
        stats = (
            est.select(cfg.alias("config"), "matches")
            .groupBy("config")
            .agg(
                F.count(F.lit(1)).alias("n_candidate_pairs"),
                F.round(
                    F.sum("matches").cast("double")
                    / (float(NUM_HASHES) * F.greatest(F.count(F.lit(1)), F.lit(1)).cast("double")),
                    6,
                ).alias("est_jaccard_mean"),
                F.round(F.max("matches").cast("double") / float(NUM_HASHES), 6).alias(
                    "est_jaccard_max"
                ),
            )
        )
        per_cfg.append(
            n_buckets.join(stats, "config").join(n_docs, "config").select(
                "config",
                "n_buckets",
                "n_candidate_pairs",
                "n_docs_in_pairs",
                "est_jaccard_mean",
                "est_jaccard_max",
            )
        )
    out = per_cfg[0]
    for more in per_cfg[1:]:
        out = out.unionByName(more)
    return out.orderBy("config")
