"""Unit tests pinning the rows-only (non-oracle) operators against
pure-python references, plus behavioral tests for the dedup pipeline on
constructed near-duplicates."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from makerdao_dw_spark.operators.multimodal import attach_fake_payload, decode_media
from makerdao_dw_spark.queries.dedup import dedup_minhash_lsh, dedup_simhash

from .conftest import SF_DIR


def _py_simhash32(text: str) -> int:
    toks = text.split(" ")
    hs = [int(hashlib.md5(t.encode()).hexdigest()[:8], 16) for t in toks]
    acc = 0
    for b in range(32):
        s = sum(1 if (h >> b) % 2 == 1 else -1 for h in hs)
        acc = acc * 2 + (1 if s > 0 else 0)
    return acc


def test_simhash_matches_python_reference(spark):
    df = dedup_simhash(spark, SF_DIR).limit(0)  # schema only; full check below
    assert [f.name for f in df.schema.fields] == ["doc_id", "simhash", "bucket_lo", "bucket_hi"]

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select("doc_id", "text").limit(25)
    expected = {r["doc_id"]: _py_simhash32(r["text"]) for r in docs.collect()}
    got = {
        r["doc_id"]: r["simhash"]
        for r in dedup_simhash(spark, SF_DIR).filter(F.col("doc_id") < 25).collect()
    }
    assert got == {k: v for k, v in expected.items() if k < 25}


def test_minhash_lsh_finds_constructed_dupes(spark):
    """Two near-identical docs must collide in >=1 LSH band; an unrelated
    doc must not pair with them."""
    # 120 distinct words so one edit leaves Jaccard ~0.97: the miss-all-
    # bands probability is then <0.01% for ANY reasonable hash family
    # (the old 12-distinct-word fixture sat at J~0.8, where band
    # collisions are a coin flip that happened to land for the previous
    # hash family and not for others)
    base = " ".join(f"w{i}" for i in range(120))
    near = base.replace("w60", "sixty", 1)
    other = " ".join(f"z{i}" for i in range(120))
    docs = spark.createDataFrame(
        [(1, base), (2, near), (3, other)], "doc_id long, text string"
    )
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        docs.write.parquet(os.path.join(td, "documents.parquet"))
        pairs = {(r["doc_a"], r["doc_b"]) for r in dedup_minhash_lsh(spark, td).collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_ngram_jaccard_matches_bruteforce_on_candidates(spark):
    """Brute-force probe oracle for the registered LSH-keyed exact
    verify: on sf0.001 every candidate pair's jaccard must equal the
    O(N^2) python set computation over the same shingle sets."""
    from makerdao_dw_spark.operators.text_features import shingles_expr
    from makerdao_dw_spark.queries.dedup import dedup_ngram_jaccard

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    ssets = {
        r["doc_id"]: set(r["s"])
        for r in docs.select(
            "doc_id", F.array_distinct(shingles_expr("text")).alias("s")
        ).collect()
    }
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in dedup_ngram_jaccard(spark, SF_DIR).collect()
    }
    assert got, "sf0.001 corpus must contain LSH candidate pairs"
    for (a, b), j in got.items():
        sa, sb = ssets[a], ssets[b]
        inter = len(sa & sb)
        assert inter > 0
        expect = round(inter / (len(sa) + len(sb) - inter), 6)
        assert abs(j - expect) < 1e-9, (a, b, j, expect)


def test_multimodal_decode_shapes(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(30)
    decoded = decode_media(attach_fake_payload(docs))
    rows = decoded.collect()
    assert len(rows) == 30
    for r in rows:
        assert r["content_digest"] is not None and len(r["content_digest"]) == 32
        assert isinstance(r["thumbnail"], (bytes, bytearray)) and len(r["thumbnail"]) == 16
        if r["media_type"] == "image/png":
            assert 64 <= r["width"] < 640 and r["n_frames"] == 1
        else:
            assert r["width"] == 0


def test_stratified_sample_fractions(spark):
    """The oracle computes the same md5 draw, so only this checks that the
    draw keeps about the stated fraction of each stratum."""
    from makerdao_dw_spark.queries.olap import sample_stratified_exact
    from makerdao_dw_spark.session import load_table

    from pyspark.sql import functions as F

    totals = {
        r["event_type"]: r["n"]
        for r in load_table(spark, SF_DIR, "events")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    sampled = {
        r["event_type"]: r["n_sampled"] for r in sample_stratified_exact(spark, SF_DIR).collect()
    }
    for et, frac in [("click", 0.2), ("view", 0.2), ("purchase", 1.0)]:
        got = sampled.get(et, 0) / totals[et]
        assert abs(got - frac) < 0.12, (et, got, frac)


def test_kmeans_matches_numpy_reference(spark):
    """operators/kmeans.py pinned against a NumPy implementation of the
    identical algorithm (lowest-id init, squared-L2, lowest-id
    tie-break, mean update, fixed iterations)."""
    import numpy as np

    from makerdao_dw_spark.operators.kmeans import assign_clusters, kmeans_fit
    from makerdao_dw_spark.session import load_table

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings").select("vec_id", "embedding")
    rows = sorted((r["vec_id"], list(map(float, r["embedding"]))) for r in e.collect())
    X = np.array([v for _, v in rows], dtype=np.float64)
    ids = np.array([i for i, _ in rows])
    k, iters = 4, 3

    C = X[:k].copy()
    for _ in range(iters):
        d = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        lab = d.argmin(axis=1)  # argmin takes first index on ties
        for j in range(k):
            if (lab == j).any():
                C[j] = X[lab == j].mean(axis=0)
    # labels against the FINAL centroids (assign_clusters below does too)
    lab = ((X[:, None, :] - C[None, :, :]) ** 2).sum(axis=2).argmin(axis=1)

    centroids = kmeans_fit(e, "embedding", "vec_id", k=k, max_iter=iters)
    S = np.array(centroids)
    assert S.shape == C.shape
    assert float(np.abs(S - C).max()) < 1e-6

    got = {
        r["vec_id"]: r["cluster"]
        for r in assign_clusters(e, "embedding", centroids).select("vec_id", "cluster").collect()
    }
    want = dict(zip(ids.tolist(), lab.tolist()))
    agree = sum(got[i] == want[i] for i in ids.tolist()) / len(ids)
    assert agree >= 0.99  # near-tie argmin flips only

    # determinism: a second fit is bit-identical
    assert kmeans_fit(e, "embedding", "vec_id", k=k, max_iter=iters) == centroids


def test_kmeans_fit_rejects_empty_and_undersized_input(spark):
    """kmeans_fit must fail with a clear ValueError (not an opaque
    IndexError at centroids[0]) when the input is empty — e.g. a corpus
    whose vectors were all filtered out as zero-norm — or has fewer rows
    than k (ADVICE r5, similarity.py zero-norm filter path)."""
    import pytest as _pytest

    from makerdao_dw_spark.operators.kmeans import kmeans_fit
    from makerdao_dw_spark.session import load_table

    e = load_table(spark, "/root/testdata/sf0.001", "embeddings").select("vec_id", "embedding")
    empty = e.filter(F.lit(False))
    with _pytest.raises(ValueError, match="empty"):
        kmeans_fit(empty, "embedding", "vec_id", k=4)
    two = e.orderBy("vec_id").limit(2)
    with _pytest.raises(ValueError, match="only 2 rows"):
        kmeans_fit(two, "embedding", "vec_id", k=4)


def test_cusum_counts_empty_prefix(spark, tmp_path):
    """CUSUM identity must include the EMPTY prefix S_0 = 0: with daily
    totals of 150 against drift k=50, the statistic is 100, 200, 300 —
    a formulation that only mins over observed prefixes reports
    0, 100, 200 (day one always zero, every changepoint late)."""
    import datetime
    import os

    from makerdao_dw_spark.queries.timeseries import cusum_changepoints

    rows = [
        (i, datetime.datetime(2024, 1, 1 + d, 12, 0), 7, "view", 150.0, "{}")
        for i, d in enumerate(range(3))
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    df.write.parquet(os.path.join(str(tmp_path), "events.parquet"))
    got = {str(r.d): float(r.cusum) for r in cusum_changepoints(spark, str(tmp_path)).collect()}
    assert got == {"2024-01-01": 100.0, "2024-01-02": 200.0, "2024-01-03": 300.0}, got


def test_srp_bucket_matches_numpy_reference(spark):
    """ann_srp_lsh's bucket expression == numpy sign-of-projection onto
    the same md5-seeded hyperplanes."""
    import numpy as np
    import pyspark.sql.functions as F

    from makerdao_dw_spark.queries.similarity import _SRP_PLANES, _srp_bucket_spark, _srp_plane
    from makerdao_dw_spark.session import load_table

    planes = np.array([_srp_plane(j) for j in range(_SRP_PLANES)])  # 8 x 64
    e = load_table(spark, SF_DIR, "embeddings").limit(50)
    got = {
        r.vec_id: r.bucket
        for r in e.select(
            "vec_id", F.expr(_srp_bucket_spark("embedding")).alias("bucket")
        ).collect()
    }
    for r in e.collect():
        v = np.array(r.embedding, dtype=np.float64)
        dots = planes @ v
        want = sum((1 << j) for j, d in enumerate(dots) if d >= 0)
        assert got[r.vec_id] == want, (r.vec_id, got[r.vec_id], want)
