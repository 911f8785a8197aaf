"""Deduplication operators over `documents` (training-data-pipeline plane).

Four families, all Catalyst-expression-only (no Python UDFs in the hot
path), all with full DuckDB oracles (simhash's oracle rebuilds the same
md5-based bit fold in DuckDB SQL — md5 is bit-identical across engines —
and is additionally pinned by a unit test against a pure-python
reference):

- exact dedup: md5(text) hash-groupBy, keep min(doc_id)  [100 TB: single
  shuffle on a uniform 128-bit key; no skew]
- MinHash + LSH: word-3-gram shingles -> 16 md5 minhashes -> 4 bands of 4
  -> band-hash bucket self-join -> candidate pairs  [100 TB: the classic
  near-dup pipeline; band join is the only shuffle, keys are uniform]
- n-gram Jaccard verification on the LSH candidates (exact similarity on
  the small candidate set, never all-pairs)
- SimHash: 32-bit signature from per-token md5 bits, hamming-style
  bucketing by 16-bit halves (full md5-rebuilt DuckDB oracle)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import md5_int_spark
from ..operators.text_features import (
    band_hashes,
    band_hashes_sql_duckdb,
    let_bound,
    minhash_signature,
    minhash_signature_sql_duckdb,
    shingles_expr,
    shingles_sql_duckdb,
    sorted_pairs_expr,
)
from ..session import load_table
from .registry import query
from .similarity import (
    _NORM_POS_DUCK,
    _cos_duck,
    _srp_band_duck,
    _srp_band_spark,
    _srp_bucket_duck,
    _srp_bucket_spark,
)
from .text_common import NORM_HASH_DUCK, norm_hash

NUM_HASHES, BANDS, ROWS_PER_BAND = 16, 4, 4

_D_SHINGLES = shingles_sql_duckdb("text")
_D_SIG = minhash_signature_sql_duckdb("shingles", NUM_HASHES)
_D_BANDS = band_hashes_sql_duckdb("sig", BANDS, ROWS_PER_BAND)


@query(
    "dedup_exact",
    oracle="""
SELECT md5(text) AS content_hash,
       MIN(doc_id) AS keeper_doc_id,
       COUNT(*) AS n_copies
FROM documents
GROUP BY md5(text)
ORDER BY content_hash
""",
    tags=("dedup", "B7"),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents", spread=True)
    return (
        d.groupBy(F.md5(F.col("text").cast("binary")).alias("content_hash"))
        .agg(F.min("doc_id").alias("keeper_doc_id"), F.count(F.lit(1)).alias("n_copies"))
        .orderBy("content_hash")
    )


@query(
    "dedup_exact_normalized",
    oracle=f"""
WITH n AS (
    SELECT doc_id,
           {NORM_HASH_DUCK} AS norm_hash,
           md5(text) AS raw_hash
    FROM documents
)
SELECT norm_hash,
       MIN(doc_id) AS keeper_doc_id,
       COUNT(*) AS n_copies,
       COUNT(DISTINCT raw_hash) AS n_raw_variants
FROM n
GROUP BY norm_hash
ORDER BY norm_hash
""",
    tags=("dedup", "normalization"),
)
def dedup_exact_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup AFTER text normalization (lowercase, punctuation →
    space, whitespace collapse, trim): the pipeline stage between
    byte-exact dedup and MinHash — it merges trivially-reformatted
    copies that raw hashing misses, which n_raw_variants makes visible
    (groups with n_raw_variants > 1 are exactly the wins over
    dedup_exact; all groups are returned because the synthetic corpus
    has no byte-exact dups — the check then covers every doc's
    normalization). Same 100 TB shape as dedup_exact: normalization is
    map-side codegen, then ONE shuffle on a uniform 128-bit key."""
    d = load_table(spark, sf_dir, "documents", spread=True)
    return (
        d.select(
            "doc_id",
            norm_hash("text").alias("norm_hash"),
            F.md5(F.col("text").cast("binary")).alias("raw_hash"),
        )
        .groupBy("norm_hash")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
            F.countDistinct("raw_hash").alias("n_raw_variants"),
        )
        .orderBy("norm_hash")
    )


# Quadratic-blowup guard: a bucket of n docs expands to n(n-1)/2 pairs,
# so one pathological bucket (thousands of near-identical docs landing in
# the same band hash) would dominate the whole job and can OOM the
# collect_list buffer. Buckets above the cap are excluded from pair
# expansion and surfaced in `dedup_minhash_lsh_overflow` — counted, never
# silently dropped. 1000 caps the expansion at ~500k pairs/bucket.
LSH_BUCKET_CAP = 1000

_LSH_BANDS_CTE = f"""
WITH sigs AS (
    SELECT doc_id, {_D_SIG} AS sig
    FROM (SELECT doc_id, {_D_SHINGLES} AS shingles FROM documents)
), bands AS (
    SELECT doc_id, UNNEST({_D_BANDS}, recursive := true)
    FROM (SELECT doc_id, sig FROM sigs)
)"""

_LSH_ORACLE = f"""{_LSH_BANDS_CTE},
small AS (
    SELECT band, h FROM bands GROUP BY band, h
    HAVING COUNT(*) > 1 AND COUNT(*) <= {LSH_BUCKET_CAP}
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_shared_bands
FROM bands a
JOIN bands b ON a.band = b.band AND a.h = b.h AND a.doc_id < b.doc_id
JOIN small s ON a.band = s.band AND a.h = s.h
GROUP BY a.doc_id, b.doc_id
ORDER BY doc_a, doc_b
"""


def _lsh_band_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared shingle→minhash→band pipeline: one scan, signatures
    computed exactly once, one (doc_id, band, h) row per band."""
    d = load_table(spark, sf_dir, "documents", spread=True)
    sigs = d.select("doc_id", shingles_expr("text").alias("shingles")).select(
        "doc_id", minhash_signature("shingles", NUM_HASHES).alias("sig")
    )
    return sigs.select(
        "doc_id", F.explode(band_hashes("sig", BANDS, ROWS_PER_BAND)).alias("bh")
    ).select("doc_id", F.col("bh.band").alias("band"), F.col("bh.h").alias("h"))


def _lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pair-expandable buckets (1 < size <= LSH_BUCKET_CAP) as sorted
    doc arrays. The size gate runs BEFORE collect_list — a window count
    over the same (band, h) keys — so an over-cap bucket (millions of
    boilerplate docs on one band hash) never materializes a giant
    aggregation buffer; its rows are dropped row-wise. The window and
    the groupBy share one hash exchange (same keys, plan reuses the
    partitioning)."""
    bands = _lsh_band_rows(spark, sf_dir)
    w = Window.partitionBy("band", "h")
    sized = bands.withColumn("bn", F.count(F.lit(1)).over(w))
    return (
        sized.filter((F.col("bn") > 1) & (F.col("bn") <= LSH_BUCKET_CAP))
        .groupBy("band", "h")
        .agg(F.array_sort(F.collect_list("doc_id")).alias("ds"))
    )


@query(
    "dedup_minhash_lsh",
    oracle=_LSH_ORACLE,
    tags=("dedup", "minhash", "lsh"),
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate near-dup pairs: docs sharing >=1 LSH band bucket.

    Formulated as bucket-grouping + in-bucket pair generation, NOT a
    band self-join: a self-join evaluates the shingle->minhash->band
    pipeline twice (exchange reuse only covers the scan, each join
    side re-projects the signatures) and shuffles twice. Here the
    signatures are computed once, one hash exchange groups the bucket
    members, and the a<b pairs come from array combinatorics on the
    sorted bucket. The in-bucket expansion is quadratic in bucket
    size, so it is guarded by LSH_BUCKET_CAP: over-cap buckets are
    excluded here and surfaced (band, h, bucket_size) by
    `dedup_minhash_lsh_overflow` — counted, never silently dropped.
    Bucket keys are 128-bit md5 band hashes — uniform, skew-free;
    the cap also bounds each collect_list buffer.

    Measured cost of the pre-collect guard (BENCH_AB_r5.md): ~11% at
    sf0.1 vs the unguarded r3 plan — the window count forces a sort of
    band rows. Kept deliberately: at 100 TB one pathological bucket
    would OOM the aggregation buffer without it."""
    return _lsh_candidate_pairs(spark, sf_dir).orderBy("doc_a", "doc_b")


def _lsh_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unsorted candidate pairs (doc_a < doc_b, n_shared_bands) from the
    capped bucket expansion — shared by dedup_minhash_lsh (which adds the
    presentation sort) and dedup_ngram_jaccard (which joins on the pairs
    and must not inherit a useless pre-join sort). The bucket-size
    gate (1 < n <= LSH_BUCKET_CAP) lives in _lsh_buckets, pre-collect."""
    buckets = _lsh_buckets(spark, sf_dir)
    pairs = buckets.select(
        F.explode(F.expr(sorted_pairs_expr("ds"))).alias("p")
    ).select("p.doc_a", "p.doc_b")
    return pairs.groupBy("doc_a", "doc_b").agg(
        F.count(F.lit(1)).alias("n_shared_bands")
    )


# Demo reporting threshold for the skew monitor: buckets above this size
# are REPORTED (with an over_production_cap flag saying whether they were
# actually excluded from pair expansion by LSH_BUCKET_CAP). 2 keeps the
# monitor non-vacuous on testdata, where the largest bucket is ~4; the
# same constant drives BOTH the Spark query and its DuckDB oracle so the
# two can never drift.
DEMO_OVERFLOW_CAP = 2


@query(
    "dedup_minhash_lsh_overflow",
    oracle=f"""{_LSH_BANDS_CTE}
SELECT band, h, COUNT(*) AS bucket_size,
       CASE WHEN COUNT(*) > {LSH_BUCKET_CAP} THEN TRUE ELSE FALSE END
           AS over_production_cap
FROM bands GROUP BY band, h HAVING COUNT(*) > {DEMO_OVERFLOW_CAP}
ORDER BY band, h
""",
    tags=("dedup", "minhash", "lsh", "skew-guard"),
)
def dedup_minhash_lsh_overflow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The counted side-output of the LSH bucket-size guard: every band
    bucket larger than DEMO_OVERFLOW_CAP, with `over_production_cap`
    recording whether the bucket exceeded LSH_BUCKET_CAP and was
    therefore actually EXCLUDED from `dedup_minhash_lsh`'s pair
    expansion. At 100 TB this is the skew monitor — a spike here means
    a boilerplate/near-identical cluster that should be routed to
    exact-hash dedup instead of quadratic pair expansion; rows with
    over_production_cap = TRUE are a faithful audit of what the pair
    expansion dropped (never silently).

    Formulated as a pure COUNT aggregation over the band rows — no
    collect_list anywhere, so the monitor itself can never OOM on the
    pathological bucket it exists to detect."""
    return (
        _lsh_band_rows(spark, sf_dir)
        .groupBy("band", "h")
        .agg(F.count(F.lit(1)).alias("bucket_size"))
        .filter(F.col("bucket_size") > DEMO_OVERFLOW_CAP)
        .select(
            "band",
            "h",
            "bucket_size",
            (F.col("bucket_size") > LSH_BUCKET_CAP).alias("over_production_cap"),
        )
        .orderBy("band", "h")
    )


# Exact-verify stage keyed on LSH candidate pairs (equi-joins only): the
# candidate CTE is the SAME formulation as dedup_minhash_lsh's oracle, so
# the two registered queries form one coherent pipeline.
_JACCARD_ORACLE = f"""{_LSH_BANDS_CTE},
small AS (
    SELECT band, h FROM bands GROUP BY band, h
    HAVING COUNT(*) > 1 AND COUNT(*) <= {LSH_BUCKET_CAP}
), cand AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a
    JOIN bands b ON a.band = b.band AND a.h = b.h AND a.doc_id < b.doc_id
    JOIN small s ON a.band = s.band AND a.h = s.h
    GROUP BY a.doc_id, b.doc_id
), sh AS (
    SELECT doc_id, list_distinct({_D_SHINGLES}) AS sset FROM documents
)
SELECT c.doc_a, c.doc_b,
       ROUND(CAST(len(list_intersect(a.sset, b.sset)) AS DOUBLE)
             / (len(a.sset) + len(b.sset) - len(list_intersect(a.sset, b.sset))),
             6) AS jaccard
FROM cand c
JOIN sh a ON c.doc_a = a.doc_id
JOIN sh b ON c.doc_b = b.doc_id
WHERE len(list_intersect(a.sset, b.sset)) > 0
ORDER BY doc_a, doc_b
"""


@query(
    "dedup_ngram_jaccard",
    oracle=_JACCARD_ORACLE,
    tags=("dedup", "jaccard"),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact shingle-set Jaccard VERIFY over the MinHash-LSH candidate
    pairs — the second stage of the near-dup pipeline: LSH proposes
    (`dedup_minhash_lsh`), this confirms with the exact set measure.

    Every join is an equi-join: candidate pairs (doc_a, doc_b) come from
    the bucketed LSH stage (one hash exchange, capped expansion), then
    two hash joins attach the shingle sets by doc_id. No inequality-only
    (theta) join anywhere — at 100 TB the cost is |candidates| * set
    intersection, never O(N^2). (A brute-force probe variant lives in
    tests/ as the oracle-of-the-oracle.)"""
    d = load_table(spark, sf_dir, "documents", spread=True)
    sh = d.select("doc_id", F.array_distinct(shingles_expr("text")).alias("sset"))
    cand = _lsh_candidate_pairs(spark, sf_dir).select("doc_a", "doc_b")
    inter = F.size(F.array_intersect(F.col("a.sset"), F.col("b.sset")))
    return (
        cand.join(sh.alias("a"), cand.doc_a == F.col("a.doc_id"))
        .join(sh.alias("b"), cand.doc_b == F.col("b.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            F.round(
                inter.cast("double") / (F.size("a.sset") + F.size("b.sset") - inter),
                6,
            ).alias("jaccard"),
            inter.alias("_inter"),
        )
        .filter(F.col("_inter") > 0)
        .drop("_inter")
        .orderBy("doc_a", "doc_b")
    )


@query(
    "dedup_embedding_cosine",
    oracle=f"""
WITH nz AS (
    SELECT vec_id, label, embedding,
           {_srp_bucket_duck('embedding')} AS srp
    FROM embeddings
    WHERE list_reduce(list_prepend(CAST(0 AS DOUBLE),
              list_transform(generate_series(1, 64),
                  i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE))),
              (x, y) -> x + y) > 0
), pairs AS (
    SELECT a.vec_id AS va, b.vec_id AS vb,
           list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list_transform(generate_series(1, 64),
                   i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))),
               (x, y) -> x + y)
           / (SQRT(list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list_transform(generate_series(1, 64),
                   i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))),
               (x, y) -> x + y))
              * SQRT(list_reduce(list_prepend(CAST(0 AS DOUBLE),
               list_transform(generate_series(1, 64),
                   i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))),
               (x, y) -> x + y)))
           AS cos
    FROM nz a JOIN nz b
      ON a.label = b.label AND a.srp = b.srp AND a.vec_id <> b.vec_id
), nn AS (
    SELECT va AS vec_id, vb AS nn_id, ROUND(cos, 6) AS nn_cosine,
           ROW_NUMBER() OVER (PARTITION BY va ORDER BY ROUND(cos, 6) DESC, vb) AS rk
    FROM pairs
)
SELECT vec_id, nn_id, nn_cosine,
       CASE WHEN nn_cosine >= 0.3 THEN TRUE ELSE FALSE END AS is_near_dup,
       CASE WHEN nn_cosine >= 0.3 AND nn_id < vec_id THEN nn_id ELSE vec_id END AS canonical_id
FROM nn WHERE rk = 1
ORDER BY vec_id
""",
    tags=("dedup", "embedding", "cosine"),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup: blocked nearest neighbor + threshold.

    Blocking key = (label, SRP bucket): the coarse label bucket
    (stand-in centroid assignment) COMPOSED with the 8-plane
    signed-random-projection hash the SRP-LSH index uses — ~2560 cells
    instead of 10. The round-8 full-registry sweep caught label-only
    blocking at 24x wall for 10x data (0.77s -> 18.3s, sf0.1 -> sf1):
    a FIXED bucket count makes the self-join pairs O(n^2 / k), still
    quadratic — near-dup candidates need a bucket count that GROWS
    with the corpus.

    Recall is the explicit tradeoff, stated precisely: a pair at angle
    theta shares all 8 sign bits with probability (1 - theta/pi)^8 —
    ~29% at cosine 0.9, ~2% at the 0.3 flag threshold — so the
    operator's contract is "nearest SAME-CELL neighbor", a
    precision-oriented candidate generator, not exact NN (the label-only
    block it replaced was equally far from exact NN on this
    near-isotropic corpus: measured label-cell recall@5 = 0.08).
    Production near-dup detection recovers recall with BANDED OR-ed
    tables — b independent bands of r planes each match a true pair in
    ANY band, 1-(1-p^r)^b (the MinHash BANDS=4 pattern in this file);
    each extra band multiplies candidates, so b trades compute for
    recall while total bits r*b bound the cell population. The banded
    variant is the same dataflow run b times + a union. Plan: one
    uniform-key shuffle for the cell self-join, per-vector top-1
    window, threshold flag with canonical-id election (keep the
    smaller id of a dup pair). Vectors whose cell holds no other
    vector emit no row — the blocking contract, mirrored in the
    oracle.
    """
    from .similarity import _dot_expr

    e = load_table(spark, sf_dir, "embeddings", spread=True)
    # zero-norm vectors excluded: cosine undefined, and the division
    # throws under Spark's default ANSI mode (oracle filters identically)
    from ..session import materialize

    # materialize: the frame feeds BOTH self-join sides — without it the
    # scan + the 512-literal SRP expression run twice (house 2+-consumer
    # rule, session.materialize docstring)
    en = materialize(
        e.withColumn("nrm", F.expr(f"sqrt({_dot_expr('embedding', 'embedding')})"))
        .filter(F.col("nrm") > 0)
        .withColumn("srp", F.expr(_srp_bucket_spark("embedding")))
    )
    a = en.select(
        F.col("vec_id"),
        F.col("label"),
        F.col("srp"),
        F.col("embedding").alias("av"),
        F.col("nrm").alias("an"),
    ).alias("a")
    b = en.select(
        F.col("vec_id").alias("nn_id"),
        F.col("label").alias("lb"),
        F.col("srp").alias("sb"),
        F.col("embedding").alias("bv"),
        F.col("nrm").alias("bn"),
    ).alias("b")
    cos = F.round(F.expr(_dot_expr("av", "bv")) / (F.col("an") * F.col("bn")), 6)
    pairs = a.join(
        b,
        (F.col("label") == F.col("lb"))
        & (F.col("srp") == F.col("sb"))
        & (F.col("vec_id") != F.col("nn_id")),
    ).select("vec_id", "nn_id", cos.alias("nn_cosine"))
    from pyspark.sql import Window

    w = Window.partitionBy("vec_id").orderBy(F.col("nn_cosine").desc(), "nn_id")
    return (
        pairs.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "vec_id",
            "nn_id",
            "nn_cosine",
            (F.col("nn_cosine") >= 0.3).alias("is_near_dup"),
            F.when((F.col("nn_cosine") >= 0.3) & (F.col("nn_id") < F.col("vec_id")), F.col("nn_id"))
            .otherwise(F.col("vec_id"))
            .alias("canonical_id"),
        )
        .orderBy("vec_id")
    )


# Banded SRP near-dup: b OR-ed bands of r planes each. Band 0 reuses the
# single-cell variant's planes 0-7, bands 1-3 use disjoint plane ranges
# 8-15 / 16-23 / 24-31 — so the banded candidate set is a SUPERSET of
# dedup_embedding_cosine's by construction (recall >= single-cell is
# structural, and additionally measured in tests/test_ann_recall.py).
_EC_BANDS = 4
_EC_PLANES_PER_BAND = 8


def _ec_band_hashes_duck() -> str:
    return ", ".join(
        _srp_band_duck("embedding", k * _EC_PLANES_PER_BAND, _EC_PLANES_PER_BAND)
        for k in range(_EC_BANDS)
    )


@query(
    "dedup_embedding_cosine_banded",
    oracle=f"""
WITH nz AS (
    SELECT vec_id, label, embedding FROM embeddings
    WHERE {_NORM_POS_DUCK}
), bands AS (
    SELECT vec_id, label,
           UNNEST([{_ec_band_hashes_duck()}]) AS h,
           UNNEST([{", ".join(str(k) for k in range(_EC_BANDS))}]) AS b
    FROM nz
), cand AS (
    SELECT DISTINCT a.vec_id AS vec_id, c.vec_id AS nn_id
    FROM bands a
    JOIN bands c ON a.label = c.label AND a.b = c.b AND a.h = c.h
               AND a.vec_id <> c.vec_id
), scored AS (
    SELECT p.vec_id, p.nn_id, {_cos_duck('x.embedding', 'y.embedding')} AS nn_cosine
    FROM cand p
    JOIN nz x ON p.vec_id = x.vec_id
    JOIN nz y ON p.nn_id = y.vec_id
), nn AS (
    SELECT vec_id, nn_id, nn_cosine,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY nn_cosine DESC, nn_id) AS rk
    FROM scored
)
SELECT vec_id, nn_id, nn_cosine,
       CASE WHEN nn_cosine >= 0.3 THEN TRUE ELSE FALSE END AS is_near_dup,
       CASE WHEN nn_cosine >= 0.3 AND nn_id < vec_id THEN nn_id ELSE vec_id END AS canonical_id
FROM nn WHERE rk = 1
ORDER BY vec_id
""",
    tags=("dedup", "embedding", "cosine", "lsh"),
)
def dedup_embedding_cosine_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded-SRP embedding near-dup: the recall-recovery path the
    single-cell variant's docstring promises — b = 4 OR-ed bands of
    r = 8 planes each (32 bits total), candidates = pairs sharing
    (label, band index, band hash) in ANY band.

    Band match probability for a pair at angle theta is
    1 - (1 - p^r)^b with p = 1 - theta/pi: at cosine 0.9 that is
    ~75% vs the single cell's ~29% — and because band 0 IS the
    single-cell variant's hash (same plane literals), the banded
    candidate set is a superset, so recall >= single-cell holds
    structurally, not just statistically (also measured:
    tests/test_ann_recall.py pins the floor against exact top-1).

    100 TB shape: the same dataflow as the single-cell variant run
    b times via ONE posexplode + self-join — candidates are generated
    keys-only ((vec_id, nn_id) through the band join; embeddings are
    re-attached AFTER the distinct, so the wide vector payload never
    rides the candidate shuffle), each band's cell population is
    bounded by its r bits (r stays the knob that grows cells with the
    corpus), and b multiplies candidate volume — compute traded for
    recall, the standard production tuning. Exact cosine rescore +
    per-vector top-1, threshold flag, canonical-id election — identical
    output contract to dedup_embedding_cosine."""
    from ..session import materialize
    from .similarity import _dot_expr

    e = load_table(spark, sf_dir, "embeddings", spread=True)
    band_arr = "array(" + ", ".join(
        _srp_band_spark("embedding", k * _EC_PLANES_PER_BAND, _EC_PLANES_PER_BAND)
        for k in range(_EC_BANDS)
    ) + ")"
    # materialized: feeds the band melt (both self-join sides) AND the
    # two rescore attachments — the 2048-literal band expression must
    # evaluate once per vector, not once per consumer
    en = materialize(
        e.withColumn("nrm", F.expr(f"sqrt({_dot_expr('embedding', 'embedding')})"))
        .filter(F.col("nrm") > 0)
        .withColumn("bands", F.expr(band_arr))
    )
    m = en.select("vec_id", "label", F.posexplode("bands").alias("b", "h"))
    cand = (
        m.alias("x")
        .join(
            m.alias("y"),
            (F.col("x.label") == F.col("y.label"))
            & (F.col("x.b") == F.col("y.b"))
            & (F.col("x.h") == F.col("y.h"))
            & (F.col("x.vec_id") != F.col("y.vec_id")),
        )
        .select(F.col("x.vec_id").alias("vec_id"), F.col("y.vec_id").alias("nn_id"))
        .distinct()
    )
    av = en.select("vec_id", F.col("embedding").alias("av"), F.col("nrm").alias("an"))
    bv = en.select(
        F.col("vec_id").alias("nn_id"),
        F.col("embedding").alias("bv"),
        F.col("nrm").alias("bn"),
    )
    cos = F.round(F.expr(_dot_expr("av", "bv")) / (F.col("an") * F.col("bn")), 6)
    scored = (
        cand.join(av, "vec_id").join(bv, "nn_id").select("vec_id", "nn_id", cos.alias("nn_cosine"))
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("nn_cosine").desc(), "nn_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "vec_id",
            "nn_id",
            "nn_cosine",
            (F.col("nn_cosine") >= 0.3).alias("is_near_dup"),
            F.when(
                (F.col("nn_cosine") >= 0.3) & (F.col("nn_id") < F.col("vec_id")),
                F.col("nn_id"),
            )
            .otherwise(F.col("vec_id"))
            .alias("canonical_id"),
        )
        .orderBy("vec_id")
    )


# ONE definition of the 32-bit SimHash signature per engine, shared by
# the propose (dedup_simhash) and verify (dedup_simhash_hamming) stages —
# per-file copies could drift while each query's own oracle still passes
# (the same single-definition rule as text_common.py / tpch_common.py).
_SIMHASH_SIM_CTE = """
WITH hs AS (
    SELECT doc_id,
           list_transform(string_split(text, ' '), t ->
               list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                       list_transform(generate_series(1, 8), i ->
                           CAST(strpos('0123456789abcdef', substr(md5(t), i, 1)) - 1 AS BIGINT))),
                   (a, x) -> a * 16 + x)) AS hl
    FROM documents
), sim AS (
    SELECT doc_id,
           CAST(list_sum(list_transform(generate_series(0, 31), b ->
               CASE WHEN list_sum(list_transform(hl, h ->
                   CASE WHEN (h >> b) % 2 = 1 THEN 1 ELSE -1 END)) > 0
               THEN CAST(1 AS BIGINT) << (31 - b) ELSE 0 END)) AS BIGINT) AS simhash
    FROM hs
)"""

_SIMHASH_HS_SPARK = f"transform(split(text, ' '), t -> {md5_int_spark('t')})"
# let-bind hs: the token md5s are computed once, then folded over the 32
# bit positions (bit 0 = most significant, matching the python reference)
_SIMHASH_SPARK = let_bound(
    _SIMHASH_HS_SPARK,
    "aggregate(sequence(0, 31), 0L, (acc, b) -> acc * 2 + "
    "CASE WHEN aggregate({x}, 0L, (a2, h) -> a2 + "
    "CASE WHEN shiftright(h, b) % 2 = 1 THEN 1 ELSE -1 END) > 0 THEN 1 ELSE 0 END)",
)


@query(
    "dedup_simhash",
    oracle=f"""{_SIMHASH_SIM_CTE}
SELECT doc_id, simhash,
       CAST(simhash % 65536 AS BIGINT) AS bucket_lo,
       CAST(simhash // 65536 AS BIGINT) AS bucket_hi
FROM sim ORDER BY doc_id
""",
    tags=("dedup", "simhash"),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash per document + bucket keys (two 16-bit halves).

    Signature: bit b is the sign of sum over tokens of (+1 if bit b of
    md5-32(token) else -1). Near-dup candidates share a half (hamming<=k
    search via bucketing). md5 is bit-identical across engines, so the
    whole signature is exactly oracle-checked (the DuckDB twin rebuilds
    the same fold from hex digits); semantics additionally pinned in
    tests/test_extensions.py against a pure-python reference.
    """
    d = load_table(spark, sf_dir, "documents", spread=True)
    sim = d.select("doc_id", F.expr(_SIMHASH_SPARK).alias("simhash"))
    return sim.select(
        "doc_id",
        "simhash",
        (F.col("simhash") % 65536).alias("bucket_lo"),
        F.expr("simhash div 65536").alias("bucket_hi"),
    ).orderBy("doc_id")


_CC_CORE = f"""
WITH RECURSIVE bands AS (
    SELECT doc_id, UNNEST({_D_BANDS}, recursive := true)
    FROM (SELECT doc_id, {_D_SIG} AS sig
          FROM (SELECT doc_id, {_D_SHINGLES} AS shingles FROM documents))
), small AS (
    -- the SAME bucket-size cap the Spark side applies in _lsh_buckets:
    -- without it, a corpus with one over-cap bucket would give the
    -- oracle edges the engine (correctly) refused to expand
    SELECT band, h FROM bands GROUP BY band, h
    HAVING COUNT(*) > 1 AND COUNT(*) <= {LSH_BUCKET_CAP}
), edges AS (
    SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
    FROM bands a
    JOIN bands b ON a.band = b.band AND a.h = b.h AND a.doc_id < b.doc_id
    JOIN small s ON a.band = s.band AND a.h = s.h
), sym AS (
    SELECT src AS a, dst AS b FROM edges
    UNION SELECT dst, src FROM edges
), reach AS (
    SELECT a AS node, a AS reached FROM sym
    UNION
    SELECT r.node, s.b FROM reach r JOIN sym s ON r.reached = s.a
)"""

_CC_ORACLE = f"""{_CC_CORE}
SELECT node AS doc_id, MIN(reached) AS component
FROM reach GROUP BY node
ORDER BY doc_id
"""


@query(
    "dedup_connected_components",
    oracle=_CC_ORACLE,
    tags=("dedup", "graph", "iterative"),
)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup clusters: LSH candidate pairs -> connected
    components by iterative min-label propagation (operators/graph.py).
    The canonical doc of a cluster = the component id (min doc_id
    reachable). Oracle: DuckDB recursive-CTE transitive closure (capped
    by LSH_BUCKET_CAP exactly like the engine's candidate stage)."""
    from ..operators.graph import connected_components

    # unsorted candidate pairs: the iterative propagation hashes on the
    # node key anyway, a presentation sort here would be pure waste
    pairs = _lsh_candidate_pairs(spark, sf_dir).select("doc_a", "doc_b")
    return (
        connected_components(pairs, "doc_a", "doc_b")
        .select(F.col("node").alias("doc_id"), "component")
        .orderBy("doc_id")
    )


@query(
    "near_dup_rate_by_source",
    oracle=f"""{_LSH_BANDS_CTE},
small AS (
    SELECT band, h FROM bands GROUP BY band, h
    HAVING COUNT(*) > 1 AND COUNT(*) <= {LSH_BUCKET_CAP}
), pairs AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a
    JOIN bands b ON a.band = b.band AND a.h = b.h AND a.doc_id < b.doc_id
    JOIN small s ON a.band = s.band AND a.h = s.h
)
SELECT LEAST(da.source, db.source) AS source_x,
       GREATEST(da.source, db.source) AS source_y,
       COUNT(*) AS n_candidate_pairs
FROM pairs p
JOIN documents da ON p.doc_a = da.doc_id
JOIN documents db ON p.doc_b = db.doc_id
GROUP BY 1, 2
ORDER BY source_x, source_y
""",
    tags=("dedup", "lsh", "curation", "provenance"),
)
def near_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Where the near-duplicates COME FROM: LSH candidate pairs joined
    back to both documents' provenance, rolled up per unordered source
    pair — the curation signal that finds mirror domains (heavy
    cross-source cells) vs boilerplate-within-crawl (diagonal cells).

    Scale shape: pairs are the (already capped) LSH output; the two
    metadata joins hit the slim (doc_id, source) projection — broadcast
    at dimension size, hash join on the uniform doc key otherwise; the
    rollup is |source-pairs|-sized."""
    # unsorted pairs: the joins and rollup destroy any ordering, so the
    # registered dedup_minhash_lsh's presentation sort must not leak in
    pairs = _lsh_candidate_pairs(spark, sf_dir).select("doc_a", "doc_b")
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    da = d.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("src_a"))
    db = d.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("src_b"))
    return (
        pairs.join(da, "doc_a")
        .join(db, "doc_b")
        .groupBy(
            F.least("src_a", "src_b").alias("source_x"),
            F.greatest("src_a", "src_b").alias("source_y"),
        )
        .agg(F.count(F.lit(1)).alias("n_candidate_pairs"))
        .orderBy("source_x", "source_y")
    )


@query(
    "dedup_apply_clusters",
    oracle=f"""{_CC_CORE},
cc AS (SELECT node AS doc_id, MIN(reached) AS component FROM reach GROUP BY node)
SELECT d.source,
       COUNT(*) AS n_docs,
       CAST(SUM(CASE WHEN c.component IS NULL OR c.component = d.doc_id
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN c.component IS NOT NULL AND c.component <> d.doc_id
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       CAST(SUM(CASE WHEN c.component IS NOT NULL AND c.component <> d.doc_id
                     THEN d.n_chars ELSE 0 END) AS BIGINT) AS chars_saved
FROM documents d LEFT JOIN cc c ON d.doc_id = c.doc_id
GROUP BY d.source
ORDER BY d.source
""",
    tags=("dedup", "pipeline", "apply"),
)
def dedup_apply_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPLY step that closes the near-dup pipeline: LSH candidates
    (capped) -> connected components -> keep exactly one canonical doc
    per cluster (the component id = min doc_id reachable) and drop the
    rest, rolled up per source (docs kept/dropped, chars saved).

    100 TB shape: components are |clustered docs|-sized (sparse — most
    docs are in no cluster and survive via the left join's NULL arm);
    the join hits the slim (doc_id, source, n_chars) projection on the
    uniform doc key; the rollup is |sources|-sized."""
    from ..operators.graph import connected_components

    d = load_table(spark, sf_dir, "documents", spread=True)
    pairs = _lsh_candidate_pairs(spark, sf_dir).select("doc_a", "doc_b")
    cc = connected_components(pairs, "doc_a", "doc_b").select(
        F.col("node").alias("doc_id"), "component"
    )
    keep = F.col("component").isNull() | (F.col("component") == F.col("doc_id"))
    return (
        d.select("doc_id", "source", "n_chars")
        .join(cc, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(keep, 1).otherwise(0)).alias("n_kept"),
            F.sum(F.when(~keep, 1).otherwise(0)).alias("n_dropped"),
            F.sum(F.when(~keep, F.col("n_chars")).otherwise(0)).alias("chars_saved"),
        )
        .orderBy("source")
    )


# SimHash verify stage: same-halfword buckets -> exact hamming distance.
# Mirrors the minhash pipeline's propose(LSH)->verify(jaccard) split.
# The signature definition is the SHARED _SIMHASH_SIM_CTE/_SIMHASH_SPARK
# pair — propose and verify can never drift apart.
@query(
    "dedup_simhash_hamming",
    oracle=f"""{_SIMHASH_SIM_CTE},
keyed AS (
    SELECT doc_id, simhash,
           CAST(simhash % 65536 AS BIGINT) AS b_lo,
           CAST(simhash // 65536 AS BIGINT) AS b_hi
    FROM sim
), cand AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           a.simhash AS sig_a, b.simhash AS sig_b
    FROM keyed a JOIN keyed b ON a.b_lo = b.b_lo AND a.doc_id < b.doc_id
    UNION
    SELECT a.doc_id, b.doc_id, a.simhash, b.simhash
    FROM keyed a JOIN keyed b ON a.b_hi = b.b_hi AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       CAST(bit_count(xor(sig_a, sig_b)) AS INT) AS hamming
FROM cand
WHERE bit_count(xor(sig_a, sig_b)) <= 6
ORDER BY doc_a, doc_b
""",
    tags=("dedup", "simhash", "hamming"),
)
def dedup_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The VERIFY stage of the SimHash pipeline (mirror of minhash-LSH →
    Jaccard): candidate pairs share a 16-bit signature half (pigeonhole:
    any pair within hamming distance 1 per half shares one), then the
    exact hamming distance over the full 32-bit signature confirms
    near-duplicates (<= 6 differing bits here, tuned to the demo
    corpus).

    Every join is an equi-join on a bucket key; the distance is
    bit_count(xor) — exact integer, no float anywhere. 100 TB shape:
    ONE self-join over the exploded (half, k) bucket rows (both sides
    the same exchange — ReusedExchange, plan-pinned), bounded by bucket
    occupancy (16-bit uniform keys); DISTINCT dedups pairs that share
    both halves; production would add the same bucket-size cap as
    LSH_BUCKET_CAP."""
    d = load_table(spark, sf_dir, "documents", spread=True)
    # ONE evaluation of the signature pipeline: both 16-bit halves
    # explode into (half, k) bucket rows, so the two half-joins become
    # ONE self-join on the SAME (half, k) exchange — AQE dedupes the
    # two identical sides into a ReusedExchange (the tfidf trick); the
    # naive a_lo/b_lo/a_hi/b_hi formulation evaluated md5-per-token 4x.
    # coalesce fixes NULLABILITY METADATA, not values (the signature
    # fold yields 0, never NULL, even on an empty token array): a
    # nullable join key makes InferFiltersFromConstraints add
    # isnotnull(<entire md5-per-token fold>), which is pushed below the
    # spread repartition and re-evaluates the signature single-threaded
    # in the one-file scan task (the split_leakage_audit hazard class;
    # measured 2.45 s -> see plan test for the pin)
    keyed = d.select(
        "doc_id", F.coalesce(F.expr(_SIMHASH_SPARK), F.lit(0)).alias("simhash")
    ).select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                F.struct(
                    F.lit("lo").alias("half"),
                    (F.col("simhash") % 65536).alias("k"),
                ),
                F.struct(
                    F.lit("hi").alias("half"),
                    F.expr("simhash div 65536").alias("k"),
                ),
            )
        ).alias("b"),
    ).select("doc_id", "simhash", "b.half", "b.k")
    a = keyed.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sig_a"), "half", "k"
    )
    b = keyed.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sig_b"), "half", "k"
    )
    cand = (
        a.join(b, ["half", "k"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sig_a", "sig_b")
        .distinct()
    )
    ham = F.expr("bit_count(sig_a ^ sig_b)").cast("int")
    return (
        cand.select("doc_a", "doc_b", ham.alias("hamming"))
        .filter(F.col("hamming") <= 6)
        .orderBy("doc_a", "doc_b")
    )


@query(
    "dedup_incremental_batch",
    oracle=f"""{_LSH_BANDS_CTE},
corpus AS (SELECT * FROM documents WHERE doc_id % 10 <> 9),
batch  AS (SELECT * FROM documents WHERE doc_id % 10 = 9),
exact_hit AS (
    SELECT DISTINCT b.doc_id
    FROM batch b JOIN corpus c ON md5(b.text) = md5(c.text)
),
corpus_index AS (
    -- the corpus band INDEX applies the same occupancy cap as
    -- _lsh_buckets: an over-cap boilerplate bucket is excluded from
    -- near-dup classification exactly as it is from pair expansion
    SELECT band, h FROM bands WHERE doc_id % 10 <> 9
    GROUP BY band, h HAVING COUNT(*) <= {LSH_BUCKET_CAP}
),
near_hit AS (
    SELECT DISTINCT bb.doc_id
    FROM bands bb
    JOIN corpus_index ci ON bb.band = ci.band AND bb.h = ci.h
    WHERE bb.doc_id % 10 = 9
)
SELECT b.doc_id,
       CASE WHEN e.doc_id IS NOT NULL THEN 'exact_dup'
            WHEN n.doc_id IS NOT NULL THEN 'near_dup'
            ELSE 'new' END AS status
FROM batch b
LEFT JOIN exact_hit e ON b.doc_id = e.doc_id
LEFT JOIN near_hit n ON b.doc_id = n.doc_id
ORDER BY b.doc_id
""",
    tags=("dedup", "incremental", "pipeline"),
)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest dedup: an arriving batch (doc_id % 10 = 9
    stands in for today's crawl) is screened against the EXISTING
    corpus — exact content-hash match first, then LSH band collision
    (near-dup) — without ever re-deduping the corpus against itself.
    This is the shape production pipelines actually run daily: the
    corpus side of both joins is an INDEX (hash set / band index built
    once and reused), only the batch is new work.

    All equi-joins: md5 key for the exact screen, (band, h) for the
    near screen; the shared band pipeline is computed once and split by
    the batch predicate. At 100 TB the corpus band index would be a
    bucketed table (write-once shuffle) and each daily batch joins
    against it with zero corpus re-shuffling; the LSH_BUCKET_CAP guard
    applies to the index build exactly as in _lsh_buckets."""
    d = load_table(spark, sf_dir, "documents", spread=True)
    is_batch = F.col("doc_id") % 10 == 9
    batch = d.filter(is_batch)
    corpus = d.filter(~is_batch)
    exact_hit = (
        batch.select("doc_id", F.md5(F.col("text").cast("binary")).alias("h"))
        .join(
            corpus.select(F.md5(F.col("text").cast("binary")).alias("h")).distinct(),
            "h",
            "left_semi",
        )
        .select("doc_id")
        .distinct()
        .withColumn("is_exact", F.lit(True))
    )
    bands = _lsh_band_rows(spark, sf_dir)
    # corpus band index with the SAME occupancy cap as _lsh_buckets: an
    # over-cap boilerplate bucket never classifies batch docs as near-dup
    corpus_index = (
        bands.filter(F.col("doc_id") % 10 != 9)
        .groupBy("band", "h")
        .agg(F.count(F.lit(1)).alias("bn"))
        .filter(F.col("bn") <= LSH_BUCKET_CAP)
        .select("band", "h")
    )
    near_hit = (
        bands.filter(F.col("doc_id") % 10 == 9)
        .join(corpus_index, ["band", "h"], "left_semi")
        .select("doc_id")
        .distinct()
        .withColumn("is_near", F.lit(True))
    )
    return (
        batch.select("doc_id")
        .join(exact_hit, "doc_id", "left")
        .join(near_hit, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("is_exact"), "exact_dup")
            .when(F.col("is_near"), "near_dup")
            .otherwise("new")
            .alias("status"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Prefix-filtering set-similarity join (PPJoin-style, the LSH alternative)
# --------------------------------------------------------------------------
# Jaccard threshold as an exact rational (prefix length needs exact
# integer ceil(t*n)). The set elements are word-3-gram SHINGLES, not
# tokens: the synthetic corpus draws every doc from one small
# vocabulary, so token SETS are all near-identical (Jaccard >= 0.6 for
# ~half of all pairs — 619k pairs at sf0.1, which made both the verify
# join and the output pair-quadratic); shingle sets separate the 25
# true near-dup pairs (>= 0.8) from everything else (< 0.3) — the same
# reason the MinHash pipeline shingles before hashing.
_PF_NUM, _PF_DEN = 4, 5
_PF_T = _PF_NUM / _PF_DEN


@query(
    "dedup_prefix_filter_jaccard",
    oracle=f"""
WITH toks AS (
    SELECT DISTINCT doc_id, UNNEST({_D_SHINGLES}) AS token
    FROM documents
), tdf AS (
    SELECT token, COUNT(*) AS df FROM toks GROUP BY token
), ranked AS (
    -- per-doc ordering under the global (df, token) total order: no
    -- materialized global rank (a single-partition window at scale) —
    -- each doc just sorts its own tokens by rarity
    SELECT t.doc_id, t.token,
           ROW_NUMBER() OVER (PARTITION BY t.doc_id ORDER BY d.df, t.token) AS pos,
           COUNT(*) OVER (PARTITION BY t.doc_id) AS n_toks
    FROM toks t JOIN tdf d ON t.token = d.token
), prefix AS (
    -- p = n - ceil(t*n) + 1 in EXACT integer math (t = _PF_NUM/_PF_DEN):
    -- the float form floor((1-t)*n)+1 under-counts by 1 whenever t*n
    -- is an integer (e.g. t=0.8, n=5: (1-0.8)*5 = 0.999... -> floor 0),
    -- losing recall
    SELECT doc_id, token FROM ranked
    WHERE pos <= n_toks - (({_PF_NUM} * n_toks + {_PF_DEN} - 1) // {_PF_DEN}) + 1
), cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM prefix a JOIN prefix b ON a.token = b.token AND a.doc_id < b.doc_id
), ov AS (
    -- array-free verify: |intersection| counted over the token table
    -- for candidate pairs only (toks is distinct per (doc, token))
    SELECT c.doc_a, c.doc_b, COUNT(*) AS ov
    FROM cand c
    JOIN toks ta ON ta.doc_id = c.doc_a
    JOIN toks tb ON tb.doc_id = c.doc_b AND tb.token = ta.token
    GROUP BY c.doc_a, c.doc_b
), nn AS (
    SELECT doc_id, COUNT(*) AS n FROM toks GROUP BY doc_id
)
SELECT o.doc_a, o.doc_b,
       ROUND(CAST(o.ov AS DOUBLE) / (a.n + b.n - o.ov), 6) AS jaccard
FROM ov o
JOIN nn a ON o.doc_a = a.doc_id
JOIN nn b ON o.doc_b = b.doc_id
WHERE CAST(o.ov AS DOUBLE) / (a.n + b.n - o.ov) >= {_PF_T}
ORDER BY doc_a, doc_b
""",
    tags=("dedup", "jaccard", "prefix-filter"),
)
def dedup_prefix_filter_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity self-join via prefix filtering (the
    PPJoin/AllPairs principle) — the deterministic alternative to
    MinHash-LSH: two shingle sets with Jaccard >= t MUST share an
    element among each one's n - ceil(t*n) + 1 globally-rarest, so the
    candidate join only touches those prefix elements. No probabilistic
    recall loss, no signatures. Same word-3-gram shingle sets as the
    MinHash pipeline (and for the same reason: token sets over a small
    shared vocabulary are all near-identical — not a dup signal).

    100 TB shape: the rarity order is the (df, token) total order,
    applied per-doc — no materialized global rank (which would funnel
    the vocabulary through one partition), and no forced broadcast of
    the df table (shingle-keyed = corpus-proportional; AQE broadcasts
    only when it fits); prefix elements are by construction the LOW-df
    shingles, so the candidate equi-join's key distribution is
    anti-skewed (rare keys -> tiny buckets — the frequency-ordering
    trick is exactly what makes this scale).

    Verification is ARRAY-FREE (round-8 fix): |intersection| is COUNTED
    over the token table via a token-keyed self-join semi-joined to the
    candidate pairs, then combined with per-doc set sizes — every
    shuffled row is a pair of ids. The previous verify joined each
    candidate pair to both docs' full sorted token ARRAYS
    (collect_set + array_intersect): ~3 KB per pair x 12M candidates
    at sf10 = a ~36 GB shuffle that spilled and turned a linear
    candidate count (measured: prefix rows, candidates, and results
    all scale exactly 10x per decade) into a 28x wall. Measured
    (BENCH_sf10_tier3_fixed_r8.json): sf10 304 s -> 76 s min / ~110 s
    typical; second decade 28.1x -> 4.6x; the cost is +5 s at sf1
    (10.8 -> 16.4 s, the materialize + extra aggregate jobs) — the
    right trade for a scale path. Same theorem, same results: every
    Jaccard >= t pair shares a prefix token, so counting intersections
    only for candidate pairs loses nothing (verified: overlap rows ==
    candidate rows at sf1).

    Cost regimes of the two exact verify shapes (the choice is
    cost-based, not semantic):
    - token-keyed (this code): the pair leg enumerates every
      co-occurring doc pair per token = sum_t df(t)^2 / 2 rows. NOT
      "bounded by df" — a single hot shingle with df = 1M yields
      5e11 pairs. Linear HERE because shingle df is corpus-bounded by
      construction (word-3-gram shingles over docs whose replicas get
      disjoint `_r{r}` vocabularies: df per shingle stays flat as the
      corpus grows; measured sum df^2 ~ 10x per decade).
    - doc-keyed (the DuckDB twin's shape: cand -> toks on doc_a ->
      toks on (doc_b, token)): |cand| x avg-set-size rows, independent
      of df skew — the Vernica et al. (SIGMOD'10) record-fetch verify.
      On a heavy-tailed real corpus, pick this (or cap df with the
      LSH-style over-cap side-output) whenever max(df)^2 >> |cand| x n̄.
      Measured at sf1 (idle box): token-keyed 7.2 s (sum df^2 = 27.9M,
      max df 25) vs doc-keyed 13.8 s (1.19M candidates x ~52
      shingles/doc) — token-keyed wins here by ~2x; the ratio flips
      when any shingle's df approaches sqrt(|cand| x n̄)."""
    from ..session import gc_hint, rows_per_task_budget, stage, stage_bucketed

    d = load_table(spark, sf_dir, "documents", spread=True)
    # staged (round 9), not persisted: the token table has FIVE
    # consumers (df counts, ranked prefix, both legs of the overlap
    # self-join, set sizes) — a single build is mandatory either way,
    # but a persist pins the explode+distinct shuffle on disk for the
    # whole query while five downstream fact-sized shuffles pile on
    # top (the measured ~50 GB sf100 ceiling). The parquet cut lets
    # the ContextCleaner reclaim each phase's shuffle temp mid-query:
    # peak scratch becomes max-over-stages. BUCKETED by token
    # (round 10): four of the five consumers key on token — the df
    # aggregate, the ranked df-join (whose tdf side inherits the same
    # partitioning from its now-exchange-free aggregate, making the
    # join zero-exchange end to end), and BOTH legs of the verify
    # self-join (the query's heaviest phase, whose two token-sorted
    # SMJ sorts are also elided by the one-sorted-file-per-bucket
    # layout) — so the token table's partitioning shuffle is paid once
    # at stage time instead of four times downstream.
    # Bucket-count self-scaling (round 11, VERDICT item 2): the token
    # table's bucket count was pinned to spark.sql.shuffle.partitions —
    # right at the measured sf100 (260M token rows / 32 buckets ≈ 8M
    # rows/task, the safe fused-stage regime) but a silent per-task
    # blow-up one decade later: a bucketed scan is one task per bucket,
    # so the BUCKET count must grow with the data exactly like LPA's.
    # Estimated token rows = docs x shingles/doc (measured ~52 distinct
    # word-3-gram shingles/doc on this corpus; 64 adds headroom — an
    # overestimate only adds cheap extra buckets); the rows-per-task
    # divisor is the memory-derived fused-stage budget, the same
    # empirically-anchored unit LPA sizes with (~9.5M rows/task on the
    # 48g sf100 harness ≈ the measured-good layout). The doc count is a
    # metadata count-star on an UNSPREAD scan (the spread repartition
    # would turn it into a full exchange).
    n_docs = load_table(spark, sf_dir, "documents").count()
    est_tok_rows = n_docs * 64
    rows_per_task = rows_per_task_budget(spark, row_bytes=24)
    tok_rel = d.select(
        "doc_id", F.explode(shingles_expr("text")).alias("token")
    ).distinct()
    # r11 scale gate (guide §2, the LPA small-corpus idiom): the
    # bucketed layout pays a catalog-table write so that four token-
    # keyed consumers scan pre-partitioned buckets instead of
    # re-shuffling a FACT-sized table; when the whole token table fits
    # ONE task's budget there is no fact-sized exchange to elide and
    # the bucketed write is pure fixed cost — a plain staged cut keeps
    # the single-build + scratch-release properties and lets AQE size
    # the (sub-budget) downstream exchanges.
    if est_tok_rows <= rows_per_task:
        toks = stage(tok_rel, "pf_toks")
    else:
        n_tok_buckets = max(
            int(spark.conf.get("spark.sql.shuffle.partitions")),
            -(-est_tok_rows // rows_per_task),
        )
        toks = stage_bucketed(tok_rel, "token", "pf_toks", n_tok_buckets)
    gc_hint(spark)
    tdf = toks.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    # no global rank: the rarity TOTAL ORDER (df, token) is applied
    # inside each doc's window — the global row_number formulation
    # funnels the whole vocabulary through one partition at scale.
    # No broadcast hint on tdf: it is SHINGLE-keyed (corpus-
    # proportional, unlike a word vocabulary) — AQE picks broadcast
    # only when it actually fits
    w_doc = Window.partitionBy("doc_id").orderBy("df", "token")
    w_n = Window.partitionBy("doc_id")
    ranked = (
        toks.join(tdf, "token")
        .withColumn("pos", F.row_number().over(w_doc))
        .withColumn("n_toks", F.count(F.lit(1)).over(w_n))
    )
    # p = n - ceil(t*n) + 1 via exact integer math (t = _PF_NUM/_PF_DEN)
    # — the float floor((1-t)*n)+1 form loses a pair when t*n is an integer
    prefix = ranked.filter(
        F.col("pos")
        <= F.col("n_toks") - F.expr(f"({_PF_NUM} * n_toks + {_PF_DEN} - 1) div {_PF_DEN}") + 1
    ).select("doc_id", "token")
    # the candidate pair table is staged too: it ends the prefix phase
    # (df join + two doc windows + prefix self-join + distinct), so the
    # cut lets that phase's shuffle temp be reclaimed before the verify
    # phase's token-keyed self-join runs — the two heaviest phases never
    # hold disk simultaneously. The staged frame is (doc_a, doc_b) ids
    # only — KBs per million candidates.
    cand = stage(
        prefix.alias("a")
        .join(prefix.alias("b"), "token")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct(),
        "pf_cand",
    )
    tdf = ranked = prefix = None  # release the prefix phase's plans
    gc_hint(spark)
    # array-free verify: the token-keyed self-join emits one tiny
    # (doc_a, doc_b) row per SHARED token — sum_t df(t)^2 rows total,
    # linear on this corpus because shingle df is corpus-bounded (see
    # docstring for the heavy-tail decision rule vs the doc-keyed
    # shape); the inner join with the distinct candidate pairs keeps
    # only prefix-filtered pairs, and the overlap count IS
    # |intersection| (toks is distinct per (doc, token))
    tp = (
        toks.alias("x")
        .join(toks.alias("y"), "token")
        .filter(F.col("x.doc_id") < F.col("y.doc_id"))
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
    )
    ov = (
        tp.join(cand, ["doc_a", "doc_b"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("ov"))
    )
    nn = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    jac = F.col("ov").cast("double") / (F.col("n_a") + F.col("n_b") - F.col("ov"))
    return (
        ov.join(nn.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("n_a")), "doc_a")
        .join(nn.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("n_b")), "doc_b")
        .select("doc_a", "doc_b", F.round(jac, 6).alias("jaccard"), jac.alias("_j"))
        .filter(F.col("_j") >= _PF_T)
        .drop("_j")
        .orderBy("doc_a", "doc_b")
    )
