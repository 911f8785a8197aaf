"""Similarity search over the `embeddings` table (array<float>, 64-dim).

Determinism across engines: products are computed as double(x)*double(y)
(exact, since float32 mantissas fit doubles) and folded LEFT-TO-RIGHT in
index order on both sides, so dot products are bit-identical; similarity
is then rounded to 6 decimals and every ranking uses (rounded sim, id) —
fully deterministic.

Scale design:
- brute-force top-k: queries broadcast against the corpus; O(Q*N) but
  embarrassingly parallel and shuffle-free until the final per-query top-k
  (a tiny aggregation). This is the exactness baseline.
- IVF-style bucketed search: restrict candidate pairs to the same coarse
  bucket (here: the `label` column standing in for a centroid assignment;
  in production, assign via a broadcast centroid table). Turns O(N^2) into
  O(N^2 / n_buckets) with a uniform-key shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import load_table
from .registry import query

DIM = 64


def _dot_expr(a: str, b: str) -> str:
    """Left-fold sum of elementwise double products (Spark SQL)."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> cast(x as double) * cast(y as double)), "
        f"cast(0.0 as double), (acc, v) -> acc + v)"
    )


def _dot_sql_duckdb(a: str, b: str) -> str:
    """Same left-fold in DuckDB (list_reduce folds left)."""
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(generate_series(1, {DIM}), i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))), "
        f"(acc, v) -> acc + v)"
    )


def _cos_spark(a: str, b: str) -> str:
    return f"round({_dot_expr(a, b)} / (sqrt({_dot_expr(a, a)}) * sqrt({_dot_expr(b, b)})), 6)"


def _cos_duck(a: str, b: str) -> str:
    return f"ROUND({_dot_sql_duckdb(a, b)} / (SQRT({_dot_sql_duckdb(a, a)}) * SQRT({_dot_sql_duckdb(b, b)})), 6)"


_SIM_SPARK = _cos_spark("a.embedding", "b.embedding")
_SIM_DUCK = _cos_duck("a.embedding", "b.embedding")

# Zero-norm guard: cosine of an all-zero vector is undefined — dividing
# by norm 0.0 THROWS under Spark 4's default ANSI mode (while DuckDB
# returns inf/NaN rows), so every cosine query excludes degenerate
# vectors explicitly ON BOTH ENGINES. A no-op on non-degenerate corpora.
_NORM_POS_DUCK = f"{_dot_sql_duckdb('embedding', 'embedding')} > 0"

# Probe-panel bound shared by every ANN *search* query (brute-force,
# IVF, SRP-LSH, quantized rescore, PQ-ADC, retrieval eval): probes are
# vec_id % MOD == 0 AND vec_id < PROBE_ID_CAP — a FIXED-SIZE query
# panel no matter how big the indexed corpus grows. Without the cap the
# panel was a fixed FRACTION of the corpus, so "probe x corpus" work
# was O(n^2) by construction: the round-7 sf10 run measured
# ann_bruteforce_topk at 98x wall for 10x data (194.8s). Search
# workloads are queries-vs-index, not corpus-vs-corpus — the near-dup
# DEDUP queries (all-pairs within buckets) are the deliberate
# exception and keep their corpus-wide pair generation.
PROBE_ID_CAP = 10_000


@query(
    "ann_bruteforce_topk",
    oracle=f"""
WITH nz AS (SELECT vec_id, embedding FROM embeddings WHERE {_NORM_POS_DUCK}),
q AS (SELECT vec_id, embedding FROM nz WHERE vec_id % 100 = 0 AND vec_id < {PROBE_ID_CAP}),
scored AS (
    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           {_cos_duck('q.embedding', 'c.embedding')} AS cosine
    FROM q q JOIN nz c ON q.vec_id <> c.vec_id
)
SELECT query_id, neighbor_id, cosine, rk FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rk
    FROM scored
) WHERE rk <= 5
ORDER BY query_id, rk
""",
    tags=("similarity", "ann", "topk"),
)
def ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 neighbors for probe vectors (vec_id % 100 = 0).

    Norms are computed ONCE per vector before the join (identical
    doubles to a per-pair recompute — sqrt of the same left-fold — but
    O(N) instead of O(Q*N) norm evaluations; only the dot product is
    per-pair work)."""
    e = load_table(spark, sf_dir, "embeddings", spread=True)
    nz = e.withColumn(
        "nrm", F.expr(f"sqrt({_dot_expr('embedding', 'embedding')})")
    ).filter(F.col("nrm") > 0)
    q = F.broadcast(
        nz.filter(
            (F.col("vec_id") % 100 == 0) & (F.col("vec_id") < PROBE_ID_CAP)
        ).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qv"),
            F.col("nrm").alias("qn"),
        )
    )
    c = nz.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("cv"),
        F.col("nrm").alias("cn"),
    )
    scored = q.join(c, F.col("query_id") != F.col("neighbor_id")).select(
        "query_id",
        "neighbor_id",
        F.round(F.expr(_dot_expr("qv", "cv")) / (F.col("qn") * F.col("cn")), 6).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), "neighbor_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .orderBy("query_id", "rk")
    )


@query(
    "ann_ivf_bucketed",
    oracle=f"""
WITH nz AS (SELECT vec_id, label, embedding FROM embeddings WHERE {_NORM_POS_DUCK})
SELECT a.label AS bucket, a.vec_id AS vec_a, b.vec_id AS vec_b,
       {_SIM_DUCK} AS cosine
FROM nz a
JOIN nz b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE a.vec_id % 25 = 0 AND a.vec_id < {PROBE_ID_CAP}
  AND {_SIM_DUCK} >= 0.2
ORDER BY bucket, vec_a, vec_b
""",
    tags=("similarity", "ann", "ivf"),
)
def ann_ivf_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style search: candidates restricted to the same coarse bucket
    (label = stand-in centroid assignment), probe subset vec_id % 25 = 0."""
    e = load_table(spark, sf_dir, "embeddings", spread=True)
    en = e.withColumn(
        "nrm", F.expr(f"sqrt({_dot_expr('embedding', 'embedding')})")
    ).filter(F.col("nrm") > 0)
    a = en.filter(
        (F.col("vec_id") % 25 == 0) & (F.col("vec_id") < PROBE_ID_CAP)
    ).alias("a")
    b = en.alias("b")
    sim = F.round(
        F.expr(_dot_expr("a.embedding", "b.embedding")) / (F.col("a.nrm") * F.col("b.nrm")), 6
    )
    return (
        a.join(b, (F.col("a.label") == F.col("b.label")) & (F.col("a.vec_id") < F.col("b.vec_id")))
        .select(
            F.col("a.label").alias("bucket"),
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            sim.alias("cosine"),
        )
        .filter(F.col("cosine") >= 0.2)
        .orderBy("bucket", "vec_a", "vec_b")
    )


# --------------------------------------------------------------------------
# SRP-LSH (signed random projection / hyperplane LSH) for cosine ANN.
# Hyperplanes are derived deterministically from md5 in PYTHON and embedded
# as identical double literals in both engines' SQL, so bucket assignment
# is bit-identical — the portable way to share "randomness" across engines.
# --------------------------------------------------------------------------
_SRP_PLANES = 8


def _srp_plane(j: int, dim: int = DIM) -> list[float]:
    import hashlib

    out = []
    for i in range(dim):
        h = int(hashlib.md5(f"srp:{j}:{i}".encode()).hexdigest()[:8], 16)
        out.append((h % 2001 - 1000) / 1000.0)
    return out


def _srp_band_spark(col: str, first_plane: int = 0, n_planes: int = _SRP_PLANES) -> str:
    """SRP cell hash over planes [first_plane, first_plane + n_planes):
    the banded near-dup variant OR-es several such bands (each with its
    own disjoint plane range), and the single-cell form is band 0.

    ONE nested literal + lambda fold instead of n separate 64-literal
    expressions: ~8x smaller expression tree, which cuts the first-call
    analysis/codegen cost from ~8s to ~1s (execution cost identical)."""
    planes = ", ".join(
        "array(" + ", ".join(f"{v}D" for v in _srp_plane(first_plane + j)) + ")"
        for j in range(n_planes)
    )
    return (
        f"aggregate(sequence(0, {n_planes - 1}), cast(0 as bigint), (acc, j) -> "
        f"acc + CASE WHEN aggregate(zip_with({col}, element_at(array({planes}), j + 1), "
        f"(x, y) -> cast(x as double) * y), cast(0.0 as double), (a, v) -> a + v) >= 0 "
        f"THEN shiftleft(1L, j) ELSE 0L END)"
    )


def _srp_bucket_spark(col: str) -> str:
    return _srp_band_spark(col, 0, _SRP_PLANES)


def _dot_plane_duck(col: str, j: int) -> str:
    """Left-fold dot of `col` against the md5-seeded plane j literal —
    ONE definition of the plane-dot fold (shared by the SRP bucket and
    the SemDeDup neighborhood projection, so the bit-identical double
    contract can't drift between them)."""
    lit = ", ".join(f"CAST({v} AS DOUBLE)" for v in _srp_plane(j))
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(generate_series(1, {DIM}), i -> CAST({col}[i] AS DOUBLE) * ([{lit}])[i])), "
        f"(acc, v) -> acc + v)"
    )


def _srp_band_duck(col: str, first_plane: int = 0, n_planes: int = _SRP_PLANES) -> str:
    """DuckDB twin of _srp_band_spark (same plane literals per index)."""
    return " + ".join(
        f"(CASE WHEN {_dot_plane_duck(col, first_plane + j)} >= 0 THEN {1 << j} ELSE 0 END)"
        for j in range(n_planes)
    )


def _srp_bucket_duck(col: str) -> str:
    return _srp_band_duck(col, 0, _SRP_PLANES)


@query(
    "ann_srp_lsh",
    oracle=f"""
WITH bucketed AS (
    SELECT vec_id, embedding, {_srp_bucket_duck('embedding')} AS bucket
    FROM embeddings WHERE {_NORM_POS_DUCK}
), scored AS (
    SELECT a.bucket, a.vec_id AS query_id, b.vec_id AS neighbor_id,
           {_SIM_DUCK} AS cosine
    FROM bucketed a
    JOIN bucketed b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
    WHERE a.vec_id % 25 = 0 AND a.vec_id < {PROBE_ID_CAP}
)
SELECT bucket, query_id, neighbor_id, cosine, rk FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rk
    FROM scored
) WHERE rk <= 5
ORDER BY query_id, rk
""",
    tags=("similarity", "ann", "lsh", "srp"),
)
def ann_srp_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH cosine ANN: 8 signed random projections hash each
    vector to a 256-way bucket; candidates are same-bucket pairs only,
    then exact cosine + per-probe top-5. The third ANN strategy next to
    brute-force (exact) and IVF (centroid-bucketed): SRP needs NO
    training pass and its bucket count grows exponentially with planes —
    at 100 TB, 20-24 planes give millions of uniform buckets, the
    same-bucket self-join shuffles on the bucket key, and candidate
    count per probe collapses by ~2^planes. Hyperplanes are md5-seeded
    literals identical in both engines, so the bucketing (and therefore
    the result) is fully deterministic and oracle-checkable.

    Note: the 512 plane literals make the FIRST call pay ~7s of
    analyzer/janino codegen (steady-state execution is ~1s at sf0.1);
    at production scale that one-time driver cost is noise, and the
    map-side literal design beats the alternative (a broadcast plane
    table) which would add two N-row shuffles to every run."""
    e = load_table(spark, sf_dir, "embeddings", spread=True)
    en = e.select(
        "vec_id",
        "embedding",
        F.expr(_srp_bucket_spark("embedding")).alias("bucket"),
        F.expr(f"sqrt({_dot_expr('embedding', 'embedding')})").alias("nrm"),
    ).filter(F.col("nrm") > 0)
    a = en.filter(
        (F.col("vec_id") % 25 == 0) & (F.col("vec_id") < PROBE_ID_CAP)
    ).alias("a")
    b = en.alias("b")
    sim = F.round(
        F.expr(_dot_expr("a.embedding", "b.embedding")) / (F.col("a.nrm") * F.col("b.nrm")), 6
    )
    scored = (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") != F.col("b.vec_id")),
        )
        .select(
            F.col("a.bucket").alias("bucket"),
            F.col("a.vec_id").alias("query_id"),
            F.col("b.vec_id").alias("neighbor_id"),
            sim.alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), "neighbor_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .orderBy("query_id", "rk")
    )


@query(
    "embedding_norms_stats",
    oracle=f"""
SELECT label,
       COUNT(*) AS n,
       CAST(SUM(CAST(ROUND(SQRT({_dot_sql_duckdb('embedding', 'embedding')}), 6) AS DECIMAL(38,6))) AS DOUBLE) / COUNT(*) AS avg_norm
FROM embeddings
GROUP BY label
ORDER BY label
""",
    tags=("similarity", "B7"),
)
def embedding_norms_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-bucket vector-norm stats (sanity/monitoring operator)."""
    e = load_table(spark, sf_dir, "embeddings", spread=True)
    norm = F.expr(f"round(sqrt({_dot_expr('embedding', 'embedding')}), 6)")
    return (
        e.select("label", norm.cast("decimal(38,6)").alias("nrm"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum("nrm").cast("double") / F.count(F.lit(1))).alias("avg_norm"),
        )
        .orderBy("label")
    )


@query(
    "quantize_embeddings_int8",
    oracle="""
WITH scaled AS (
    SELECT vec_id,
           127.0 / list_max(list_transform(embedding, x -> ABS(CAST(x AS DOUBLE)))) AS scale
    FROM embeddings
    WHERE list_max(list_transform(embedding, x -> ABS(CAST(x AS DOUBLE)))) > 0
)
SELECT e.vec_id,
       ROUND(s.scale, 6) AS scale,
       array_to_string(list_transform(e.embedding, x -> CAST(ROUND(CAST(x AS DOUBLE) * s.scale) AS INT)), ',') AS q
FROM embeddings e JOIN scaled s ON e.vec_id = s.vec_id
WHERE e.vec_id % 10 = 0
ORDER BY e.vec_id
""",
    tags=("quantization", "int8", "embedding"),
)
def quantize_embeddings_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization with a per-vector scale (127/max|x|) —
    the storage-prep step for embedding corpora (4x smaller, ANN-ready).
    Pure map-side array math, zero shuffle before the final sort.

    All-zero vectors are excluded on both engines: 127/max|x| with
    max|x| = 0 throws under Spark's default ANSI mode (and yields a
    meaningless inf scale in DuckDB) — a zero vector has no symmetric
    quantization."""
    e = load_table(spark, sf_dir, "embeddings", spread=True)
    e = e.filter(F.col("vec_id") % 10 == 0)
    max_abs = F.array_max(F.transform("embedding", lambda x: F.abs(x.cast("double"))))
    scaled = e.filter(max_abs > 0).withColumn("scale_raw", F.lit(127.0) / max_abs)
    return scaled.select(
        "vec_id",
        F.round("scale_raw", 6).alias("scale"),
        F.array_join(
            F.transform(
                "embedding", lambda x: F.round(x.cast("double") * F.col("scale_raw")).cast("int")
            ).cast("array<string>"),
            ",",
        ).alias("q"),
    ).orderBy("vec_id")


# ---- unrolled-iteration DuckDB twin of operators/kmeans.py (the same
# trick as pagerank_copurchase's oracle): the training loop is fully
# deterministic — lowest-id init, left-fold double distances, lowest-id
# argmin tie-break, exact decimal per-dimension sums with one double
# division — so 2 Lloyd iterations unroll into plain CTEs.
_KM_K = 8
_KM_ITER = 2


def _km_dist2_duck(e: str, c: str) -> str:
    """Squared L2 as the same left fold Spark's F.aggregate performs:
    ((0 + t1) + t2) + ... in index order (bit-identical doubles)."""
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(generate_series(1, {DIM}), "
        f"i -> ({e}[i] - {c}[i]) * ({e}[i] - {c}[i]))), (acc, t) -> acc + t)"
    )


def _km_assign_duck(src: str, cents: str) -> str:
    """Nearest-centroid assignment, ties -> lowest cluster id (mirrors
    array_position(dists, array_min(dists)))."""
    return f"""SELECT vec_id, e, cluster FROM (
    SELECT s.vec_id, s.e, c.cluster,
           ROW_NUMBER() OVER (PARTITION BY s.vec_id
               ORDER BY {_km_dist2_duck('s.e', 'c.c')} ASC, c.cluster ASC) AS rk
    FROM {src} s CROSS JOIN {cents} c
) WHERE rk = 1"""


def _km_update_duck(assigned: str, prev: str) -> str:
    """Mean update: exact DECIMAL(38,12) per-dimension sums, ONE double
    division; empty clusters keep the previous centroid."""
    return f"""SELECT p.cluster, COALESCE(n.c, p.c) AS c
FROM {prev} p LEFT JOIN (
    SELECT cluster, list(m ORDER BY pos) AS c FROM (
        SELECT cluster, i - 1 AS pos,
               CAST(SUM(CAST(e[i] AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*) AS m
        FROM {assigned}, LATERAL (SELECT UNNEST(generate_series(1, {DIM})) AS i) u
        GROUP BY cluster, i
    ) GROUP BY cluster
) n USING (cluster)"""


# WITH-prefix through `scored` (training + final assignment + norms),
# shared by ann_ivf_kmeans and semdedup_kmeans_prune — ONE definition
# of the unrolled training loop, so the two oracles can never drift.
_KM_PREFIX = f"""
WITH v AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
    FROM embeddings WHERE {_NORM_POS_DUCK}
),
c0 AS (
    SELECT cluster, c FROM (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cluster,
               e AS c
        FROM v
    ) WHERE cluster < {_KM_K}
),
a1 AS ({_km_assign_duck('v', 'c0')}),
c1 AS ({_km_update_duck('a1', 'c0')}),
a2 AS ({_km_assign_duck('v', 'c1')}),
c2 AS ({_km_update_duck('a2', 'c1')}),
fin AS ({_km_assign_duck('v', 'c2')}),
scored AS (
    SELECT vec_id, e, cluster,
           SQRT({_dot_sql_duckdb('e', 'e')}) AS nrm
    FROM fin
)"""

_KM_ORACLE = f"""{_KM_PREFIX}
SELECT a.cluster AS list_id, a.vec_id AS vec_a, b.vec_id AS vec_b,
       ROUND({_dot_sql_duckdb('a.e', 'b.e')} / (a.nrm * b.nrm), 6) AS cosine
FROM scored a JOIN scored b
  ON a.cluster = b.cluster AND a.vec_id < b.vec_id
WHERE a.vec_id % 25 = 0 AND a.vec_id < {PROBE_ID_CAP}
  AND ROUND({_dot_sql_duckdb('a.e', 'b.e')} / (a.nrm * b.nrm), 6) >= 0.2
ORDER BY list_id, vec_a, vec_b
"""


@query(
    "ann_ivf_kmeans",
    oracle=_KM_ORACLE,
    tags=("similarity", "ann", "ivf", "kmeans", "iterative"),
)
def ann_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with TRAINED coarse centroids (operators/kmeans.py): fit k=8
    on the corpus, assign every vector map-side (broadcast-literal
    centroids, no shuffle), then search same-list candidate pairs only —
    the real inverted-file layout, vs ann_ivf_bucketed's label stand-in.

    Full value oracle: the deterministic training loop (lowest-id init,
    left-fold distances, lowest-id argmin ties, exact decimal mean sums)
    is unrolled into DuckDB CTEs — c0 -> a1 -> c1 -> a2 -> c2 -> final
    assignment — the same unrolled-iteration technique as
    pagerank_copurchase's oracle. Zero-norm vectors are excluded on both
    engines (cosine undefined), which also makes training input
    identical."""
    from ..operators.kmeans import assign_clusters, kmeans_fit

    e = load_table(spark, sf_dir, "embeddings", spread=True)
    e = e.select("vec_id", "embedding").filter(
        F.expr(f"{_dot_expr('embedding', 'embedding')} > 0")
    )
    centroids = kmeans_fit(e, "embedding", "vec_id", k=_KM_K, max_iter=_KM_ITER)
    en = assign_clusters(e, "embedding", centroids).withColumn(
        "nrm", F.expr(f"sqrt({_dot_expr('embedding', 'embedding')})")
    )
    a = en.filter(
        (F.col("vec_id") % 25 == 0) & (F.col("vec_id") < PROBE_ID_CAP)
    ).alias("a")
    b = en.alias("b")
    sim = F.round(
        F.expr(_dot_expr("a.embedding", "b.embedding")) / (F.col("a.nrm") * F.col("b.nrm")), 6
    )
    return (
        a.join(
            b,
            (F.col("a.cluster") == F.col("b.cluster")) & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.cluster").alias("list_id"),
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            sim.alias("cosine"),
        )
        .filter(F.col("cosine") >= 0.2)
        .orderBy("list_id", "vec_a", "vec_b")
    )


# --------------------------------------------------------------------------
# SemDeDup: semantic dedup over trained k-means clusters
# --------------------------------------------------------------------------
_SEM_T = 0.35  # demo threshold: the synthetic corpus is near-isotropic
# (max in-cluster cosine ~0.5), so a production 0.95 would be vacuous;
# the dataflow is identical, T is the knob (drops ~19% at sf0.01)
_SEM_W = 64  # sorted-neighborhood window: each vector is verified
# against its W nearest cluster-mates in projection order — pairs are
# O(N x W) at any cluster size (see semdedup_kmeans_prune docstring)

# 1-D ordering projection for the neighborhood sort: the shared
# md5-seeded SRP plane 0 (deterministic, identical literals on both
# engines; the left-fold dot is the house bit-identical double
# contract). Duck side reuses _dot_plane_duck — one fold definition;
# the Spark twin _srp_bucket_spark folds over an ARRAY of planes (a
# structurally different expression), so the single-plane Spark form
# lives here.
_SEM_PROJ_SPARK = (
    "aggregate(zip_with(embedding, array("
    + ", ".join(f"{v}D" for v in _srp_plane(0))
    + "), (x, y) -> cast(x as double) * y), cast(0.0 as double), (acc, v) -> acc + v)"
)
_SEM_PROJ_DUCK = _dot_plane_duck("e", 0)


@query(
    "semdedup_kmeans_prune",
    oracle=f"""{_KM_PREFIX},
ranked AS (
    SELECT vec_id, e, cluster, nrm,
           ROW_NUMBER() OVER (PARTITION BY cluster
               ORDER BY {_SEM_PROJ_DUCK} ASC, vec_id ASC) AS rnk
    FROM scored
),
pairs AS (
    SELECT a.cluster, GREATEST(a.vec_id, b.vec_id) AS vb
    FROM ranked a JOIN ranked b
      ON a.cluster = b.cluster
     AND b.rnk > a.rnk AND b.rnk <= a.rnk + {_SEM_W}
    WHERE ROUND({_dot_sql_duckdb('a.e', 'b.e')} / (a.nrm * b.nrm), 6) >= {_SEM_T}
), dropped AS (
    SELECT DISTINCT cluster, vb FROM pairs
)
SELECT s.cluster,
       COUNT(*) AS n_vectors,
       COUNT(d.vb) AS n_dropped,
       COUNT(*) - COUNT(d.vb) AS n_kept,
       ROUND((COUNT(*) - COUNT(d.vb)) / CAST(COUNT(*) AS DOUBLE), 6) AS keep_frac,
       MIN(s.vec_id) AS canonical_example
FROM scored s LEFT JOIN dropped d
  ON s.cluster = d.cluster AND s.vec_id = d.vb
GROUP BY s.cluster
ORDER BY s.cluster
""",
    tags=("dedup", "semdedup", "embedding", "kmeans"),
)
def semdedup_kmeans_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023) with a SORTED-NEIGHBORHOOD verify:
    inside each trained k-means cluster, vectors are ordered by a fixed
    1-D projection (the shared md5-seeded SRP plane 0) and each vector
    is cosine-verified against its W=64 nearest cluster-mates in that
    order; a vector is dropped when a verified neighbor has cosine >= T
    (keep-smallest-id is the deterministic canonical election). Reports
    per-cluster corpus shrinkage — the table a pretraining run consults
    to pick its dedup threshold.

    Shares `operators/kmeans.py` training AND the `_KM_PREFIX`
    unrolled-Lloyd oracle CTEs with ann_ivf_kmeans — one definition of
    the training loop on each engine, so the two queries cannot drift.

    Why the window: the paper's recipe keeps per-cluster pair counts
    near-linear by growing k with N (k ~ sqrt(N), clusters of bounded
    size); this demo's k=8 is frozen into the unrolled oracle, so
    cluster sizes grow WITH the corpus and all-pairs verify was
    O(N^2/k) — the round-8 registry sweep measured 18.5 s at sf1 and
    >15 min at sf10. The neighborhood window makes verified pairs
    exactly N x W at any cluster size (sf10: 21 s,
    BENCH_sf10_sweep_fixes_r8.json).

    The window's recall contract, stated precisely: when cluster_size
    <= W the window covers the whole cluster and the result EQUALS
    all-pairs SemDeDup (true at sf0.01, clusters ~62 — the regime
    every oracle compare runs in). When clusters outgrow W, a
    same-cluster pair is verified only if within W ranks in the 1-D
    projection order; high-cosine pairs have close projections, but
    rank distance grows with cluster DENSITY, so the window
    under-drops on corpora whose clusters far exceed W (this one at
    sf1+). That is the deliberate deployment rule, not a surprise:
    choose k so clusters stay ~<= W (k ~ N/W) and the window IS exact
    SemDeDup with N x W cost; W is the safety bound that keeps the
    engine's work linear when the corpus outgrows a frozen k — as the
    demo corpus does here, by construction of the unrolled oracle.

    Plan shape: rank window partitioned by cluster; the band join is
    an EQUI-join on (cluster, rank-bucket) with the a-side exploded to
    its 2 covering buckets (rnk div W, +1) — never a range
    nested-loop; the ranked frame is materialized once for its three
    consumers; rollup output is k rows. No corpus-sized collect:
    training holds k x dim floats on the driver."""
    from ..operators.kmeans import assign_clusters, kmeans_fit
    from ..session import materialize

    e = load_table(spark, sf_dir, "embeddings", spread=True)
    e = e.select("vec_id", "embedding").filter(
        F.expr(f"{_dot_expr('embedding', 'embedding')} > 0")
    )
    centroids = kmeans_fit(e, "embedding", "vec_id", k=_KM_K, max_iter=_KM_ITER)
    en = assign_clusters(e, "embedding", centroids).withColumn(
        "nrm", F.expr(f"sqrt({_dot_expr('embedding', 'embedding')})")
    )
    wr = Window.partitionBy("cluster").orderBy(
        F.expr(_SEM_PROJ_SPARK).asc(), F.col("vec_id").asc()
    )
    ranked = materialize(en.withColumn("rnk", F.row_number().over(wr)))
    a = ranked.select(
        F.col("cluster").alias("ca"),
        F.col("vec_id").alias("va"),
        F.col("embedding").alias("av"),
        F.col("nrm").alias("an"),
        F.col("rnk").alias("ra"),
        F.explode(
            F.array(F.expr(f"rnk div {_SEM_W}"), F.expr(f"rnk div {_SEM_W} + 1"))
        ).alias("bk"),
    )
    b = ranked.select(
        F.col("cluster").alias("cb"),
        F.col("vec_id").alias("vb_id"),
        F.col("embedding").alias("bv"),
        F.col("nrm").alias("bn"),
        F.col("rnk").alias("rb"),
        F.expr(f"rnk div {_SEM_W}").alias("bkb"),
    )
    cos = F.round(F.expr(_dot_expr("av", "bv")) / (F.col("an") * F.col("bn")), 6)
    # merge hint: un-hinted self-joins of a materialized (stats-less)
    # frame broadcast the fact side — the basket_common lesson (NOTES)
    dropped = (
        a.join(
            b.hint("merge"),
            (F.col("ca") == F.col("cb"))
            & (F.col("bk") == F.col("bkb"))
            & (F.col("rb") > F.col("ra"))
            & (F.col("rb") <= F.col("ra") + _SEM_W),
        )
        .filter(cos >= _SEM_T)
        .select(F.col("ca").alias("cluster"), F.greatest("va", "vb_id").alias("vb"))
        .distinct()
    )
    return (
        ranked.join(
            dropped,
            (ranked["cluster"] == dropped["cluster"])
            & (ranked["vec_id"] == dropped["vb"]),
            "left",
        )
        .groupBy(ranked["cluster"])
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.count("vb").alias("n_dropped"),
            (F.count(F.lit(1)) - F.count("vb")).alias("n_kept"),
            F.round(
                (F.count(F.lit(1)) - F.count("vb")) / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("keep_frac"),
            F.min(ranked["vec_id"]).alias("canonical_example"),
        )
        .orderBy("cluster")
    )


# --------------------------------------------------------------------------
# Per-label embedding centroids (element-wise vector mean, exact)
# --------------------------------------------------------------------------
@query(
    "embedding_centroids_long",
    oracle="""
WITH comp AS (
    -- NULL embeddings contribute no components (Spark's posexplode of
    -- a NULL array emits no rows; the LATERAL series would emit 8
    -- NULL components) — excluded on both engines
    SELECT label, u.i - 1 AS pos,
           CAST(CAST(embedding[u.i] AS DOUBLE) AS DECIMAL(38,12)) AS x
    FROM embeddings, LATERAL (SELECT UNNEST(generate_series(1, 8)) AS i) u
    WHERE embedding IS NOT NULL
)
SELECT label, CAST(pos AS BIGINT) AS pos,
       COUNT(*) AS n,
       ROUND(CAST(SUM(x) AS DOUBLE) / COUNT(*), 9) AS centroid
FROM comp
GROUP BY label, pos
ORDER BY label, pos
""",
    tags=("similarity", "centroid", "vector-agg"),
)
def embedding_centroids_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label class centroids (element-wise vector mean over the
    first 8 dimensions, long form): the aggregation behind IVF coarse
    quantizers, class prototypes, and dataset-cartography drift checks.
    Components are cast to DECIMAL(38,12) before summing, so the mean is
    exact and order-independent (float vector sums are not); the mean is
    derived as one deterministic double division at the end.

    Scale shape: posexplode is a narrow generate emitting (label, pos,
    component); ONE hash exchange on (label, pos) with map-side partial
    decimal sums — the shuffle carries scalars, never vectors. The full
    64-dim centroid is the same plan with pos unrestricted."""
    e = load_table(spark, sf_dir, "embeddings", spread=True)
    comp = e.filter(F.col("embedding").isNotNull()).select(
        "label", F.posexplode(F.slice("embedding", 1, 8)).alias("pos", "c")
    ).select(
        "label",
        F.col("pos").cast("bigint").alias("pos"),
        F.col("c").cast("double").cast("decimal(38,12)").alias("x"),
    )
    return (
        comp.groupBy("label", "pos")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("x").cast("double") / F.count(F.lit(1)), 9).alias("centroid"),
        )
        .orderBy("label", "pos")
    )


# --------------------------------------------------------------------------
# Quantized candidate generation + exact rescore (the production ANN shape)
# --------------------------------------------------------------------------
def _int_dot_duck(a: str, b: str) -> str:
    """Exact BIGINT dot product of two int lists (left fold)."""
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(generate_series(1, {DIM}), i -> CAST({a}[i] AS BIGINT) * CAST({b}[i] AS BIGINT))), "
        f"(acc, v) -> acc + v)"
    )


_QUANT_DUCK = """
    SELECT vec_id, label, embedding,
           list_transform(embedding,
               x -> CAST(ROUND(CAST(x AS DOUBLE)
                    * (127.0 / list_max(list_transform(embedding, y -> ABS(CAST(y AS DOUBLE)))))) AS BIGINT)) AS q,
           127.0 / list_max(list_transform(embedding, y -> ABS(CAST(y AS DOUBLE)))) AS scale
    FROM embeddings
    WHERE list_max(list_transform(embedding, y -> ABS(CAST(y AS DOUBLE)))) > 0
"""


@query(
    "ann_quantized_rescore",
    oracle=f"""
WITH qv AS ({_QUANT_DUCK}),
cand AS (
    SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
           a.embedding AS av, b.embedding AS bv,
           ROUND({_int_dot_duck('a.q', 'b.q')} / (a.scale * b.scale), 6) AS approx_dot
    FROM qv a JOIN qv b
      ON a.label = b.label AND a.vec_id <> b.vec_id
    WHERE a.vec_id % 50 = 0 AND a.vec_id < {PROBE_ID_CAP}
), shortlist AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY approx_dot DESC, neighbor_id) AS crk
    FROM cand
)
SELECT query_id, neighbor_id, approx_dot,
       {_cos_duck('av', 'bv')} AS cosine, rk
FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY {_cos_duck('av', 'bv')} DESC, neighbor_id) AS rk
    FROM shortlist WHERE crk <= 8
) WHERE rk <= 3
ORDER BY query_id, rk
""",
    tags=("similarity", "ann", "quantization", "rescore"),
)
def ann_quantized_rescore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production two-stage ANN shape: int8-quantized dot products
    generate a cheap shortlist (8 candidates per query from the same
    coarse bucket), then EXACT float cosine rescores the shortlist and
    keeps the top 3 — candidate generation pays integer math on 4x
    smaller vectors, exactness is restored where it matters.

    Cross-engine exactness: the quantized dot is pure BIGINT (no float
    drift possible); the descale (dot / (scale_a*scale_b)) and the
    rescore cosine are identical IEEE doubles rounded to 6. Zero-norm
    vectors are excluded on both engines (no symmetric quantization, no
    cosine). 100 TB shape: quantization is map-side; same-bucket pairs
    bound the candidate join (O(N^2/buckets)); the rescore touches only
    8 rows per query."""
    e = load_table(spark, sf_dir, "embeddings", spread=True)
    max_abs = F.array_max(F.transform("embedding", lambda x: F.abs(x.cast("double"))))
    qv = (
        e.filter(max_abs > 0)
        .withColumn("scale", F.lit(127.0) / max_abs)
        .withColumn(
            "q",
            F.transform(
                "embedding",
                lambda x: F.round(x.cast("double") * F.col("scale")).cast("long"),
            ),
        )
    )
    a = qv.select(
        F.col("vec_id").alias("query_id"),
        "label",
        F.col("embedding").alias("av"),
        F.col("q").alias("qa"),
        F.col("scale").alias("sa"),
    ).filter(
        (F.col("query_id") % 50 == 0) & (F.col("query_id") < PROBE_ID_CAP)
    )
    b = qv.select(
        F.col("vec_id").alias("neighbor_id"),
        "label",
        F.col("embedding").alias("bv"),
        F.col("q").alias("qb"),
        F.col("scale").alias("sb"),
    )
    int_dot = (
        "aggregate(zip_with(qa, qb, (x, y) -> x * y), cast(0 as bigint), (acc, v) -> acc + v)"
    )
    cand = (
        a.join(b, "label")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            "av",
            "bv",
            F.round(F.expr(int_dot) / (F.col("sa") * F.col("sb")), 6).alias(
                "approx_dot"
            ),
        )
    )
    w_approx = Window.partitionBy("query_id").orderBy(
        F.col("approx_dot").desc(), "neighbor_id"
    )
    shortlist = cand.withColumn("crk", F.row_number().over(w_approx)).filter(
        F.col("crk") <= 8
    )
    cos = F.expr(_cos_spark("av", "bv"))
    w_exact = Window.partitionBy("query_id").orderBy(cos.desc(), "neighbor_id")
    return (
        shortlist.withColumn("cosine", cos)
        .withColumn("rk", F.row_number().over(w_exact))
        .filter(F.col("rk") <= 3)
        .select("query_id", "neighbor_id", "approx_dot", "cosine", "rk")
        .orderBy("query_id", "rk")
    )


# --------------------------------------------------------------------------
# Covariance structure of the embedding space (PCA prep)
# --------------------------------------------------------------------------
@query(
    "embedding_covariance_pairs",
    oracle=f"""
WITH el AS (
    -- NULL embeddings excluded on both engines (posexplode emits no
    -- rows for them; the series would emit {DIM} NULL components that
    -- COUNT(*) counts but SUM skips)
    SELECT vec_id, i, CAST(embedding[i] AS DOUBLE) AS x
    FROM embeddings, UNNEST(generate_series(1, {DIM})) AS t(i)
    WHERE embedding IS NOT NULL
), pairs AS (
    SELECT a.i AS di, b.i AS dj,
           COUNT(*) AS n,
           SUM(CAST(ROUND(a.x * b.x, 9) AS DECIMAL(38,9))) AS sxy,
           SUM(CAST(ROUND(a.x, 9) AS DECIMAL(38,9))) AS sx,
           SUM(CAST(ROUND(b.x, 9) AS DECIMAL(38,9))) AS sy
    FROM el a JOIN el b ON a.vec_id = b.vec_id AND a.i < b.i
    GROUP BY a.i, b.i
)
SELECT di, dj, n,
       ROUND(CAST(sxy AS DOUBLE) / n
             - (CAST(sx AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n), 6) AS cov
FROM pairs
ORDER BY ABS(ROUND(CAST(sxy AS DOUBLE) / n
             - (CAST(sx AS DOUBLE) / n) * (CAST(sy AS DOUBLE) / n), 6)) DESC, di, dj
LIMIT 50
""",
    tags=("similarity", "embedding", "covariance", "pca-prep"),
)
def embedding_covariance_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 most-correlated embedding dimension pairs by |covariance| —
    the outer-product aggregation that feeds PCA/whitening decisions
    (strongly covarying dims are redundancy a projection removes before
    ANN indexing).

    Built-in covar_samp/corr are NOT used: their double accumulators are
    summation-order-sensitive. Here every product/term is rounded to 9
    decimals and summed as DECIMAL(38,9) (exact, order-free), cov
    derived at the end by scalar double ops. Shape at 100 TB: the
    per-vector pair expansion is dim²/2 = 2016 rows/vector but the
    aggregation keyspace is exactly those 2016 (i, j) keys — map-side
    partial aggregation collapses each partition to 2016 rows before
    the one tiny exchange; nothing is ever vector-count-sized past the
    scan. Final top-k is TakeOrderedAndProject."""
    e = load_table(spark, sf_dir, "embeddings", spread=True)
    # Per-vector (i < j) pair expansion straight off the embedding ARRAY
    # (r11, guide §2.4): the old element-long-form self-join shuffled
    # the exploded table TWICE by vec_id and joined it back to itself —
    # at sf1 that is 2 x 1.3M-row exchanges before the dim² expansion.
    # A nested transform generates the same 2016 (di, dj, products)
    # structs map-side, so the ONLY exchange left is the 2016-key
    # partial-aggregate merge. Arithmetic per pair is unchanged
    # (cast-to-double element products, round to 9, exact decimal sums
    # — order-free), so results are bit-identical.
    # The marginal sums sx/sy depend only on ONE dimension, so summing
    # them inside the dim²-key aggregate recomputed each 63x per vector;
    # they come from a separate 64-key marginal aggregate instead and
    # join back onto the 2016-row pair table (broadcast). n is uniform
    # across pairs by construction here (the sequence emits every (i,j)
    # struct for every non-null vector, exactly like the oracle's
    # generate_series), so the pair aggregate's own COUNT(*) is kept and
    # the values are identical — verified sig-equal at sf1, 2016 rows.
    dec9 = "decimal(38,9)"
    env = e.filter(F.col("embedding").isNotNull())
    # try_element_at (ADVICE r11): identical to element_at on the fixed
    # 64-dim embeddings, but an out-of-range index yields NULL instead
    # of throwing under Spark 4's default ANSI mode — matching DuckDB's
    # graceful out-of-range indexing if a short vector ever appears.
    pair_structs = (
        f"flatten(transform(sequence(1, {DIM - 1}), i -> "
        f"transform(sequence(i + 1, {DIM}), j -> struct("
        "i AS di, j AS dj, "
        "cast(round(cast(try_element_at(embedding, i) as double) "
        "* cast(try_element_at(embedding, j) as double), 9) "
        f"as {dec9}) AS pxy))))"
    )
    marg_structs = (
        f"transform(sequence(1, {DIM}), i -> struct(i AS i, "
        f"cast(round(cast(try_element_at(embedding, i) as double), 9) as {dec9}) AS px))"
    )
    pxy = (
        env.select(F.explode(F.expr(pair_structs)).alias("p"))
        .groupBy(F.col("p.di").alias("di"), F.col("p.dj").alias("dj"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("p.pxy").alias("sxy"))
    )
    marg = (
        env.select(F.explode(F.expr(marg_structs)).alias("m"))
        .groupBy(F.col("m.i").alias("i"))
        .agg(F.sum("m.px").alias("s"))
    )
    pairs = pxy.join(
        F.broadcast(marg.select(F.col("i").alias("di"), F.col("s").alias("sx"))), "di"
    ).join(
        F.broadcast(marg.select(F.col("i").alias("dj"), F.col("s").alias("sy"))), "dj"
    )
    cov = F.round(
        F.col("sxy").cast("double") / F.col("n")
        - (F.col("sx").cast("double") / F.col("n"))
        * (F.col("sy").cast("double") / F.col("n")),
        6,
    )
    return (
        pairs.select("di", "dj", "n", cov.alias("cov"))
        .orderBy(F.abs(F.col("cov")).desc(), "di", "dj")
        .limit(50)
    )
