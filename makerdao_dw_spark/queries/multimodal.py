"""Multimodal-column queries: binary payload plumbing over `documents`.

All queries here are fully oracle-checked: metadata (binary lengths +
md5 digests agree across engines), the Arrow-batched mapInPandas decode
stage and frame sampler (the stub codecs' dimension math is
SQL-expressible, so the oracle value-checks the mapInPandas output, not
just its shape), and chunk-level CAS dedup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.multimodal import attach_fake_payload, decode_media
from ..session import load_table
from .registry import query


@query(
    "multimodal_metadata",
    oracle="""
SELECT doc_id,
       CASE WHEN doc_id % 3 = 0 THEN 'image/png'
            WHEN doc_id % 3 = 1 THEN 'audio/wav'
            ELSE 'video/mp4' END AS media_type,
       octet_length(encode(text)) AS payload_bytes,
       md5(text) AS content_digest,
       substr(text, 1, 16) AS head
FROM documents
ORDER BY doc_id
""",
    tags=("multimodal",),
)
def multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents", spread=True)
    m = attach_fake_payload(d)
    return m.select(
        "doc_id",
        F.col("meta.media_type").alias("media_type"),
        F.length("payload").alias("payload_bytes"),
        F.md5("payload").alias("content_digest"),
        F.decode(F.expr("substring(payload, 1, 16)"), "UTF-8").alias("head"),
    ).orderBy("doc_id")


@query(
    "multimodal_decode_stub",
    oracle="""
WITH m AS (
  -- NULL text = missing blob: the decode stage skips it on both sides
  SELECT doc_id, octet_length(encode(text)) AS n,
         CASE doc_id % 3 WHEN 0 THEN 'image/png'
                         WHEN 1 THEN 'audio/wav'
                         ELSE 'video/mp4' END AS media_type
  FROM documents WHERE text IS NOT NULL
)
SELECT media_type,
       COUNT(*) AS n_items,
       CAST(SUM(n) AS BIGINT) AS total_bytes,
       CAST(MAX(CASE WHEN media_type = 'image/png' THEN 64 + n % 576 ELSE 0 END) AS INT) AS max_width,
       CAST(MAX(CASE WHEN media_type = 'image/png' THEN 1 ELSE n % 300 END) AS INT) AS max_frames
FROM m GROUP BY media_type ORDER BY media_type
""",
    tags=("multimodal", "mapInPandas"),
)
def multimodal_decode_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full decode pipeline: attach payload -> Arrow-batched stub decode ->
    per-media-type rollup of decoded dimensions. The stub's dimension
    math is SQL-expressible, so (like the frame sampler) this carries a
    FULL DuckDB oracle: the driver value-checks the mapInPandas decode
    stage, not just its row count."""
    d = load_table(spark, sf_dir, "documents", spread=True)
    decoded = decode_media(attach_fake_payload(d))
    return (
        decoded.groupBy("media_type")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("payload_bytes").alias("total_bytes"),
            F.max("width").alias("max_width"),
            F.max("n_frames").alias("max_frames"),
        )
        .orderBy("media_type")
    )


@query(
    "multimodal_frame_sample",
    oracle="""
WITH vids AS (
  SELECT doc_id, text, octet_length(encode(text)) % 300 AS n_frames
  FROM documents
  WHERE doc_id % 3 = 2 AND text IS NOT NULL
    AND octet_length(encode(text)) % 300 > 0
), idxs AS (
  SELECT doc_id, text, n_frames,
         UNNEST(list_sort(list_distinct(
           list_transform(generate_series(0, 7), k -> CAST(k * n_frames // 8 AS INT))
         ))) AS frame_idx
  FROM vids
)
SELECT doc_id, n_frames, frame_idx,
       md5(text || ':' || CAST(frame_idx AS VARCHAR)) AS frame_digest
FROM idxs
ORDER BY doc_id, frame_idx
""",
    tags=("multimodal", "mapInPandas", "frame-sampling"),
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Evenly-spaced frame sampling over the video subset: the Arrow
    fan-out stage (operators/multimodal.sample_frames) checked against
    a full DuckDB oracle — the stub's digest math is SQL-expressible,
    so the driver verifies the mapInPandas plumbing value-for-value
    (frame_bytes excluded: derived from the digest, binary)."""
    from ..operators.multimodal import sample_frames

    d = load_table(spark, sf_dir, "documents", spread=True)
    frames = sample_frames(attach_fake_payload(d), k=8)
    return frames.select("doc_id", "n_frames", "frame_idx", "frame_digest").orderBy(
        "doc_id", "frame_idx"
    )


# --------------------------------------------------------------------------
# Content-addressable chunking (block-level dedup prep for binary payloads)
# --------------------------------------------------------------------------
@query(
    "multimodal_chunk_cas",
    oracle="""
WITH payload AS (
    SELECT doc_id,
           CASE WHEN doc_id % 3 = 0 THEN 'image/png'
                WHEN doc_id % 3 = 1 THEN 'audio/wav'
                ELSE 'video/mp4' END AS media_type,
           text AS p
    FROM documents
), chunks AS (
    SELECT doc_id, media_type,
           i AS chunk_idx,
           md5(substr(p, CAST(i * 256 + 1 AS BIGINT), 256)) AS digest,
           octet_length(encode(substr(p, CAST(i * 256 + 1 AS BIGINT), 256))) AS chunk_bytes
    FROM payload, UNNEST(generate_series(0, GREATEST(CAST(CEIL(length(p) / 256.0) AS BIGINT), 1) - 1)) AS t(i)
)
SELECT media_type,
       COUNT(*) AS total_chunks,
       COUNT(DISTINCT digest) AS distinct_chunks,
       CAST(SUM(chunk_bytes) AS BIGINT) AS total_bytes,
       ROUND(1.0 - CAST(COUNT(DISTINCT digest) AS DOUBLE) / COUNT(*), 6) AS dedup_ratio
FROM chunks
GROUP BY media_type
ORDER BY media_type
""",
    tags=("multimodal", "cas", "chunking", "dedup"),
)
def multimodal_chunk_cas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-addressable chunking of binary payloads: split each
    payload into fixed 256-byte blocks, digest each block, and report
    the block-level dedup ratio per media type — the prep step for CAS
    storage of a multimodal corpus, where near-identical media (shared
    headers, repeated segments) dedups at block granularity even when
    whole-file hashes differ.

    Scale shape: chunking is a narrow explode over the scan (sequence +
    binary substring, codegen); the only shuffle carries (media_type,
    16-byte digest) pairs — never payload bytes — into the distinct
    count. At 100 TB the digest table IS the CAS index."""
    # char-based chunking on both sides (DuckDB cannot slice BLOBs);
    # the fake payload is the utf-8 encoding of text, so char chunks
    # cast to binary digest identically in both engines
    d = load_table(spark, sf_dir, "documents", spread=True)
    media = (
        F.when(F.col("doc_id") % 3 == 0, "image/png")
        .when(F.col("doc_id") % 3 == 1, "audio/wav")
        .otherwise("video/mp4")
    )
    m = d.select("doc_id", media.alias("media_type"), F.col("text").alias("p"))
    chunks = m.select(
        "doc_id",
        "media_type",
        F.explode(
            # greatest(...,1) guards the zero-length payload: sequence(0,-1)
            # would DESCEND ([0,-1]) in Spark while DuckDB generate_series
            # yields no rows — clamp so both engines emit exactly one chunk
            F.sequence(
                F.lit(0),
                F.greatest((F.ceil(F.length("p") / 256.0)).cast("long"), F.lit(1)) - 1,
            )
        ).alias("chunk_idx"),
        F.col("p"),
    ).select(
        "doc_id",
        "media_type",
        "chunk_idx",
        F.md5(F.expr("substring(p, chunk_idx * 256 + 1, 256)").cast("binary")).alias("digest"),
        F.length(
            F.expr("substring(p, chunk_idx * 256 + 1, 256)").cast("binary")
        ).alias("chunk_bytes"),
    )
    return (
        chunks.groupBy("media_type")
        .agg(
            F.count(F.lit(1)).alias("total_chunks"),
            F.countDistinct("digest").alias("distinct_chunks"),
            F.sum("chunk_bytes").cast("bigint").alias("total_bytes"),
            F.round(
                1.0 - F.countDistinct("digest").cast("double") / F.count(F.lit(1)), 6
            ).alias("dedup_ratio"),
        )
        .orderBy("media_type")
    )


@query(
    "multimodal_audio_windows",
    oracle="""
WITH audio AS (
    SELECT doc_id, text, len(text) AS n
    FROM documents
    WHERE doc_id % 3 = 1 AND len(text) >= 256
), wins AS (
    SELECT doc_id, n,
           UNNEST(generate_series(0, (n - 256) // 128)) AS win_idx
    FROM audio
)
SELECT w.doc_id,
       CAST(w.n AS BIGINT) AS n_samples,
       CAST(w.win_idx AS INT) AS win_idx,
       CAST(list_sum(list_transform(generate_series(1, 256),
            o -> CAST(ascii(substr(a.text, w.win_idx * 128 + o, 1))
                 * ascii(substr(a.text, w.win_idx * 128 + o, 1)) AS BIGINT)))
            AS BIGINT) AS energy,
       CAST(list_max(list_transform(generate_series(1, 256),
            o -> ascii(substr(a.text, w.win_idx * 128 + o, 1)))) AS INT) AS peak
FROM wins w JOIN audio a ON w.doc_id = a.doc_id
ORDER BY w.doc_id, win_idx
""",
    tags=("multimodal", "audio", "mapInPandas"),
)
def multimodal_audio_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window audio feature extraction (256-sample windows, hop
    128): exact integer energy + peak per window, produced by the
    Arrow-batched, NumPy-vectorized mapInPandas stage
    (operators/multimodal.py::audio_window_features).

    The stub PCM is the payload's bytes — deterministic, so the DuckDB
    oracle recomputes the identical integer window math from the text
    (the corpus is pure ASCII: byte == ascii(char)) and value-checks
    the WHOLE Arrow path: batch iteration, stride windows, fan-out row
    production. 100 TB shape: fan-out happens executor-side inside
    Arrow batches (one window-matrix reduction per batch, no per-sample
    Python), output is window-count-sized, input never collected."""
    d = load_table(spark, sf_dir, "documents", spread=True)
    m = attach_fake_payload(d)
    from ..operators.multimodal import audio_window_features

    return audio_window_features(m).orderBy("doc_id", "win_idx")
