"""Similarity search, wave 12 (round 6): product quantization (PQ)
with asymmetric distance computation (ADC) — the memory-compressed
half of the FAISS-style ANN architecture (IVF narrows WHERE to look,
`ann_ivf_kmeans`; PQ shrinks WHAT is stored: each vector becomes m
small codes, and candidate distances are approximated from
per-subspace lookup tables without touching the raw candidate vector).

Layout: m = 4 subspaces x 16 dims, k = 16 centroids per subspace
trained by 2 deterministic Lloyd iterations (operators/kmeans.py on
the sliced subvectors — lowest-id init, left-fold distances, exact
decimal mean updates). Every vector is encoded as 4 codes (4 bytes of
real storage at scale — a 64x compression of the 64-float vector). A
probe keeps its RAW subvectors and precomputes a k-entry distance
table per subspace (the "asymmetric" part); each candidate's ADC
distance is then 4 table lookups + 3 adds instead of a 64-dim fold.

The query runs the full production pipeline: ADC SHORTLIST (top-50
per probe by approximate distance) -> exact L2 rescore of the
shortlist only -> top-3. Pure ADC ranking is deliberately not the
final answer: on a high-dimensional corpus the quantization error
rivals inter-point distances (measured on this corpus: recall@3 of
raw ADC top-3 is 0.03-0.37 across (m, k) settings, vs ~0.73 for the
50-wide shortlist — the number a retrieval user actually gets; see
SCALE.md and tests/test_ann_recall.py). This is the same
shortlist+rescore contract as `ann_quantized_rescore`, with trained
codebooks instead of scalar int8 quantization.

At 100 TB: codes are what sits in memory (m bytes per vector), the
codebooks are driver/broadcast-sized (m x k x subdim floats), probes
broadcast, ADC scoring is map-side arithmetic, and the exact rescore
touches only probes x 50 raw vectors. The same determinism contract
as the k-means oracle lets train -> encode -> ADC -> rescore unroll
into DuckDB CTEs for a full value oracle (4 subspace trainings, each
c0 -> a1 -> c1 -> a2 -> c2 -> codes).

Reference parity note: the reference system has no vector search;
this family is part of the training-data-pipeline extension surface
(BASELINE.json north star), built Spark-first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.kmeans import assign_clusters, dists_arr, kmeans_fit_multi
from ..session import load_table, materialize
from .registry import query
from .similarity import PROBE_ID_CAP

_PQ_M = 4  # subspaces
_PQ_SUBDIM = 16  # dims per subspace (4 x 16 = the 64-dim embedding)
_PQ_K = 16  # centroids per subspace
_PQ_ITER = 2  # Lloyd iterations per subspace
_PQ_SHORTLIST = 50  # ADC shortlist width per probe
_PQ_TOPK = 3  # exact-rescored final neighbors
_PROBE_MOD = 50  # probe set: vec_id % 50 == 0
_DIM = 64


def _fold_dist_duck(a: str, b: str, dim: int) -> str:
    """Squared L2 as the same left fold Spark's F.aggregate performs
    (bit-identical doubles)."""
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(generate_series(1, {dim}), "
        f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i]))), (acc, t) -> acc + t)"
    )


def _assign_cte(s: int, src_cents: str, out: str, keep_sv: bool) -> str:
    """Nearest-centroid assignment over subspace s (ties -> lowest
    cluster id, mirroring array_position(dists, array_min(dists)))."""
    d_t = _fold_dist_duck("t.sv", "c.c", _PQ_SUBDIM)
    cols = "t.vec_id, t.sv, c.cluster" if keep_sv else "t.vec_id, c.cluster AS code"
    inner_cols = "vec_id, sv, cluster" if keep_sv else "vec_id, code"
    return f"""{out} AS (
    SELECT {inner_cols} FROM (
        SELECT {cols},
               ROW_NUMBER() OVER (PARTITION BY t.vec_id
                   ORDER BY {d_t} ASC, c.cluster ASC) AS rk
        FROM vs{s} t CROSS JOIN {src_cents} c
    ) WHERE rk = 1
)"""


def _update_cte(s: int, assigned: str, prev: str, out: str) -> str:
    """Mean update: exact DECIMAL(38,12) per-dimension sums, ONE double
    division; empty clusters keep the previous centroid."""
    return f"""{out} AS (
    SELECT p.cluster, COALESCE(n.c, p.c) AS c
    FROM {prev} p LEFT JOIN (
        SELECT cluster, list(m ORDER BY pos) AS c FROM (
            SELECT cluster, i - 1 AS pos,
                   CAST(SUM(CAST(sv[i] AS DECIMAL(38,12))) AS DOUBLE)
                       / COUNT(*) AS m
            FROM {assigned},
                 LATERAL (SELECT UNNEST(generate_series(1, {_PQ_SUBDIM})) AS i) u
            GROUP BY cluster, i
        ) GROUP BY cluster
    ) n USING (cluster)
)"""


def _pq_subspace_ctes(s: int) -> str:
    """One subspace: slice -> c0 -> (a, c) per Lloyd iteration ->
    final codes -> probe ADC table. The DuckDB twin of
    kmeans_fit(max_iter=_PQ_ITER) + assign_clusters on the slice."""
    lo = s * _PQ_SUBDIM + 1
    hi = lo + _PQ_SUBDIM - 1
    parts = [
        f"""vs{s} AS (
    SELECT vec_id, list_slice(e, {lo}, {hi}) AS sv FROM v
)""",
        f"""c0_{s} AS (
    SELECT cluster, c FROM (
        SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cluster,
               sv AS c
        FROM vs{s}
    ) WHERE cluster < {_PQ_K}
)""",
    ]
    prev = f"c0_{s}"
    for it in range(1, _PQ_ITER + 1):
        a, c = f"a{it}_{s}", f"c{it}_{s}"
        parts.append(_assign_cte(s, prev, a, keep_sv=True))
        parts.append(_update_cte(s, a, prev, c))
        prev = c
    d_t = _fold_dist_duck("t.sv", "c.c", _PQ_SUBDIM)
    parts.append(_assign_cte(s, prev, f"code_{s}", keep_sv=False))
    parts.append(
        f"""pd_{s} AS (
    SELECT t.vec_id AS query_id, c.cluster, {d_t} AS d
    FROM vs{s} t CROSS JOIN {prev} c
    WHERE t.vec_id % {_PROBE_MOD} = 0 AND t.vec_id < {PROBE_ID_CAP}
)"""
    )
    return ",\n".join(parts)


_PQ_ORACLE = f"""
WITH v AS (
    SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
    FROM embeddings WHERE embedding IS NOT NULL
),
{",".join(_pq_subspace_ctes(s) for s in range(_PQ_M))},
pairs AS (
    SELECT pd_0.query_id, x0.vec_id AS neighbor_id,
           ((pd_0.d + pd_1.d) + pd_2.d) + pd_3.d AS approx
    FROM code_0 x0
    JOIN code_1 x1 USING (vec_id)
    JOIN code_2 x2 USING (vec_id)
    JOIN code_3 x3 USING (vec_id)
    JOIN pd_0 ON pd_0.cluster = x0.code
    JOIN pd_1 ON pd_1.cluster = x1.code AND pd_1.query_id = pd_0.query_id
    JOIN pd_2 ON pd_2.cluster = x2.code AND pd_2.query_id = pd_0.query_id
    JOIN pd_3 ON pd_3.cluster = x3.code AND pd_3.query_id = pd_0.query_id
    WHERE pd_0.query_id <> x0.vec_id
),
short AS (
    SELECT query_id, neighbor_id, approx FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY approx ASC, neighbor_id ASC) AS rk_a
        FROM pairs
    ) WHERE rk_a <= {_PQ_SHORTLIST}
),
ex AS (
    SELECT s.query_id, s.neighbor_id, s.approx,
           {_fold_dist_duck('q.e', 'c.e', _DIM)} AS exact
    FROM short s
    JOIN v q ON q.vec_id = s.query_id
    JOIN v c ON c.vec_id = s.neighbor_id
)
SELECT query_id, neighbor_id,
       ROUND(approx, 6) AS adc_dist,
       ROUND(exact, 6) AS exact_dist,
       rk
FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        ORDER BY exact ASC, neighbor_id ASC) AS rk
    FROM ex
) WHERE rk <= {_PQ_TOPK}
ORDER BY query_id, rk
"""


@query(
    "ann_pq_adc",
    oracle=_PQ_ORACLE,
    tags=("similarity", "ann", "pq", "quantization", "iterative"),
)
def ann_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC nearest neighbors, full production shape: train 4
    subspace codebooks (k=16, 2 deterministic Lloyd iterations each),
    encode every vector as 4 codes, ADC-shortlist the top-50 per probe
    (4 table lookups + 3 adds per candidate), then exact-L2 rescore
    ONLY the shortlist and emit the top-3. The driver holds just the
    m x k x subdim codebooks; probes broadcast; ADC scoring is
    map-side; the exact fold touches probes x 50 vectors. Full value
    oracle: all four trainings + encodings + ADC + rescore unroll into
    DuckDB CTEs (the ann_ivf_kmeans technique, once per subspace).
    Measured shortlist recall@3 vs brute force: see SCALE.md."""
    e = (
        (load_table(spark, sf_dir, "embeddings", spread=True))
        .select("vec_id", "embedding")
        .filter(F.col("embedding").isNotNull())
    )
    for s in range(_PQ_M):
        e = e.withColumn(
            f"sv{s}", F.slice("embedding", s * _PQ_SUBDIM + 1, _PQ_SUBDIM)
        )
    # materialize the sliced corpus ONCE (review finding, wave 12),
    # then train ALL 4 subspace codebooks in SHARED passes: one init
    # collect + one mean collect per Lloyd iteration total, instead of
    # per subspace — per-codebook math identical to independent
    # trainings, so the unrolled per-subspace oracle is unchanged
    e = e.transform(materialize)
    cents = kmeans_fit_multi(
        e, [f"sv{s}" for s in range(_PQ_M)], "vec_id", k=_PQ_K,
        max_iter=_PQ_ITER,
    )
    codes = e
    for s in range(_PQ_M):
        codes = assign_clusters(codes, f"sv{s}", cents[s]).withColumnRenamed(
            "cluster", f"code{s}"
        )
    # keys-only candidate flow (r11, guide §2.2 — the banded-dedup rule:
    # the payload never rides the candidate shuffle): the ADC pair table
    # and its shortlist window carry (query_id, neighbor_id, approx)
    # ONLY; the two 64-dim double arrays the exact rescore needs are
    # joined back AFTER the top-50 cut, touching probes x 50 rows
    # instead of probes x N. Before, qv+cv (~1 KB/row) rode every
    # candidate through the window's shuffle+sort.
    cand = codes.select(
        F.col("vec_id").alias("neighbor_id"),
        *[F.col(f"code{s}") for s in range(_PQ_M)],
    )
    probes = F.broadcast(
        codes.filter(
            (F.col("vec_id") % _PROBE_MOD == 0) & (F.col("vec_id") < PROBE_ID_CAP)
        ).select(
            F.col("vec_id").alias("query_id"),
            *[
                # per-subspace ADC table: ONE transform over the codebook
                # literal (element order = cluster id), not k unrolled
                # fold subtrees — same doubles, ~k*dim fewer plan nodes
                dists_arr(f"sv{s}", cents[s]).alias(f"adt{s}")
                for s in range(_PQ_M)
            ],
        )
    )
    approx = (
        (
            F.element_at("adt0", F.col("code0") + 1)
            + F.element_at("adt1", F.col("code1") + 1)
        )
        + F.element_at("adt2", F.col("code2") + 1)
    ) + F.element_at("adt3", F.col("code3") + 1)
    pairs = probes.join(
        cand, F.col("query_id") != F.col("neighbor_id")
    ).select("query_id", "neighbor_id", approx.alias("approx"))
    w_a = Window.partitionBy("query_id").orderBy(F.col("approx").asc(), "neighbor_id")
    short = pairs.withColumn("rk_a", F.row_number().over(w_a)).filter(
        F.col("rk_a") <= _PQ_SHORTLIST
    )
    # join-back: shortlist rows are probes x 50 — AQE broadcasts them
    # against the materialized corpus; exact arithmetic is unchanged
    # (same fold over the same arrays), so results are bit-identical
    short = short.join(
        e.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")),
        "query_id",
    ).join(
        e.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv")),
        "neighbor_id",
    )
    exact = F.aggregate(
        F.zip_with(
            "qv",
            "cv",
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    w_e = Window.partitionBy("query_id").orderBy(F.col("exact").asc(), "neighbor_id")
    return (
        short.withColumn("exact", exact)
        .withColumn("rk", F.row_number().over(w_e))
        .filter(F.col("rk") <= _PQ_TOPK)
        .select(
            "query_id",
            "neighbor_id",
            F.round("approx", 6).alias("adc_dist"),
            F.round("exact", 6).alias("exact_dist"),
            "rk",
        )
        .orderBy("query_id", "rk")
    )
