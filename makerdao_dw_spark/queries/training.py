"""LLM-training data-prep operators: sliding-window document chunking
and token-budget sequence packing. Both are pure JVM-side array/window
expressions — no Python in the hot path — and fully oracle-checked.

Together with the dedup / similarity / text-analysis families these
complete the training-pipeline story: documents -> clean -> dedup ->
chunk -> pack -> shard.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import load_table
from .registry import query

CHUNK_SIZE = 50
CHUNK_STRIDE = 40
PACK_BUDGET = 2000


# --------------------------------------------------------------------------
# Sliding-window chunking: doc -> overlapping fixed-size token windows
# --------------------------------------------------------------------------
@query(
    "chunk_documents",
    oracle=f"""
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS ts, len(string_split(text, ' ')) AS n
    FROM documents
), chunks AS (
    SELECT doc_id, n,
           UNNEST(generate_series(0, CAST(FLOOR((n - 1) / {CHUNK_STRIDE}.0) AS BIGINT))) AS chunk_id,
           ts
    FROM toks
)
SELECT doc_id, chunk_id,
       CAST(LEAST(n - chunk_id * {CHUNK_STRIDE}, {CHUNK_SIZE}) AS BIGINT) AS chunk_len,
       array_to_string(ts[chunk_id * {CHUNK_STRIDE} + 1 : chunk_id * {CHUNK_STRIDE} + {CHUNK_SIZE}], ' ') AS chunk_text
FROM chunks
WHERE chunk_id * {CHUNK_STRIDE} < n
ORDER BY doc_id, chunk_id
""",
    tags=("chunking", "sliding-window", "training-prep"),
)
def chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split every document into overlapping token windows (size 50,
    stride 40 — the RAG/pretraining chunking shape). One row per
    (doc, window); the window enumeration is `sequence` + `posexplode`
    and the chunk itself is an array `slice`, so chunking is a pure
    narrow map: no shuffle, no Python, output partitioning inherits the
    scan. At 100 TB this runs at parquet-read speed and the downstream
    writer controls file sizing.
    """
    d = load_table(spark, sf_dir, "documents", spread=True)
    toks = d.select(
        "doc_id",
        F.split(F.col("text"), " ").alias("ts"),
        F.size(F.split(F.col("text"), " ")).alias("n"),
    )
    chunks = toks.select(
        "doc_id",
        "n",
        "ts",
        F.explode(
            F.sequence(F.lit(0), F.floor((F.col("n") - 1) / CHUNK_STRIDE).cast("long"))
        ).alias("chunk_id"),
    ).filter(F.col("chunk_id") * CHUNK_STRIDE < F.col("n"))
    return chunks.select(
        "doc_id",
        "chunk_id",
        F.least(F.col("n") - F.col("chunk_id") * CHUNK_STRIDE, F.lit(CHUNK_SIZE))
        .cast("long")
        .alias("chunk_len"),
        F.array_join(
            F.slice(F.col("ts"), (F.col("chunk_id") * CHUNK_STRIDE + 1).cast("int"), CHUNK_SIZE),
            " ",
        ).alias("chunk_text"),
    ).orderBy("doc_id", "chunk_id")


# --------------------------------------------------------------------------
# Sequence packing: contiguous token-budget binning per source
# --------------------------------------------------------------------------
@query(
    "pack_sequences",
    oracle=f"""
WITH sized AS (
    SELECT source, doc_id, len(string_split(text, ' ')) AS n_tok
    FROM documents
), binned AS (
    SELECT source, doc_id, n_tok,
           CAST(FLOOR(COALESCE(SUM(n_tok) OVER (
               PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / {PACK_BUDGET}.0) AS BIGINT) AS bin
    FROM sized
)
SELECT source, bin,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS sum_tokens,
       MIN(doc_id) AS first_doc,
       MAX(doc_id) AS last_doc
FROM binned
GROUP BY source, bin
ORDER BY source, bin
""",
    tags=("packing", "training-prep", "window"),
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack each source's documents (in doc_id order) into contiguous
    ~2000-token bins: a document's bin is the exclusive running token
    total divided by the budget — the deterministic, shuffle-minimal
    form of training-batch packing (contiguous fill; a doc straddling a
    boundary starts the overflow into the next bin rather than being
    split). Emits per-bin composition for the packer/writer.

    Scale notes: one window shuffle on `source` (the natural write
    partitioning), then map-side binning and a same-key aggregation —
    the bin id derives from the running sum already computed under that
    partitioning, so packing adds zero extra exchanges.
    """
    d = load_table(spark, sf_dir, "documents", spread=True)
    sized = d.select(
        "source",
        "doc_id",
        F.size(F.split(F.col("text"), " ")).alias("n_tok"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    binned = sized.withColumn(
        "bin",
        F.floor(F.coalesce(F.sum("n_tok").over(w), F.lit(0)) / float(PACK_BUDGET)).cast("long"),
    )
    return (
        binned.groupBy("source", "bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").cast("long").alias("sum_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("source", "bin")
    )
