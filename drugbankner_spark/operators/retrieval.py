"""Text retrieval-index composition (E2/E3 engine extension, round 5).

The RAG-shape pipeline every training/eval stack needs, composed
entirely from existing engine operators — no new kernels, no model
dependencies:

    documents → chunk_documents (overlapping token windows)
              → hashed_tf_vectors (model-free L2-normalized embedding)
              → build_lsh_index (bucket-partitioned ANN layout on disk)

    query text → same hash vectorizer → probe_lsh_index
              → (chunk_id, cosine, rank) → join back to chunk text

Because BOTH sides go through the identical deterministic vectorizer,
"embed" here is the hashing trick; swap ``vectorize`` for a real model
(a mapInPandas batch encoder, same (id, vector) contract) and nothing
else changes — the index layout, probe pruning, and top-k semantics
are model-agnostic.

Scale: chunking/vectorizing is scan-shaped (one agg pair per chunk),
the index is written once per corpus version (cell-local appends via
``append_to_lsh_index`` for new docs), and each query probe reads ONLY
its bucket partitions (PartitionFilters-proven in
tests/test_partitioning.py for the underlying index ops).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from drugbankner_spark.operators.corpus import chunk_documents
from drugbankner_spark.operators.scale import read_index, write_partitioned
from drugbankner_spark.operators.similarity import (
    append_to_lsh_index,
    build_lsh_index,
    probe_lsh_index,
)
from drugbankner_spark.operators.textanalysis import hashed_tf_vectors

#: One global chunk id = doc_id * CHUNK_STRIDE + chunk_index; recover
#: either side with div/mod. Caps chunks-per-doc at CHUNK_STRIDE.
CHUNK_STRIDE = 1_000_000


def _chunk_vectors(
    docs: DataFrame, path: str, mode: str, id_col: str, text_col: str,
    chunk_tokens: int, overlap: int, dim: int,
) -> DataFrame:
    """Chunk ``docs``, write (``mode``) the chunk texts to the
    ``<path>_chunks`` side table, and return the chunks' hashed vectors
    as (chunk_id, embedding) — the step build and append share."""
    chunks = chunk_documents(
        docs, id_col, text_col, chunk_tokens, overlap
    ).select(
        (F.col(id_col) * CHUNK_STRIDE + F.col("chunk_index")).alias(
            "chunk_id"
        ),
        "chunk_text",
    )
    write_partitioned(chunks, path + "_chunks", [], mode=mode)
    return hashed_tf_vectors(
        chunks, "chunk_text", "chunk_id", dim
    ).withColumnRenamed("vector", "embedding")


def build_text_index(
    docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 128,
    overlap: int = 32,
    dim: int = 64,
    num_planes: int = 8,
) -> None:
    """Chunk → vectorize → persist the bucket-partitioned ANN index at
    ``path`` plus a ``<path>_chunks`` parquet side table carrying the
    chunk text for hydration after retrieval."""
    build_lsh_index(
        _chunk_vectors(docs, path, "overwrite", id_col, text_col,
                       chunk_tokens, overlap, dim),
        path, id_col="chunk_id", vec_col="embedding",
        num_planes=num_planes, dim=dim,
    )


def append_to_text_index(
    new_docs: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 128,
    overlap: int = 32,
    dim: int = 64,
    num_planes: int = 8,
) -> None:
    """Incremental index maintenance for newly ingested documents: chunk
    + vectorize ONLY the new batch, append chunk texts to the side table
    and vectors under the bucket-partitioned layout
    (``append_to_lsh_index`` — files land solely in the new chunks'
    buckets). A post-append ``retrieve`` equals a fresh full build
    (parity-tested), so the 100 TB index is maintained at O(new docs),
    never rebuilt."""
    append_to_lsh_index(
        _chunk_vectors(new_docs, path, "append", id_col, text_col,
                       chunk_tokens, overlap, dim),
        path, id_col="chunk_id", vec_col="embedding",
        num_planes=num_planes, dim=dim,
    )


def retrieve(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    query_id_col: str = "query_id",
    query_text_col: str = "query_text",
    k: int = 5,
    dim: int = 64,
    num_planes: int = 8,
) -> DataFrame:
    """Top-k chunks per query text. Output: (query_id, doc_id,
    chunk_index, chunk_text, cos_sim, rank). The query side is
    vectorized with the SAME deterministic hasher the index was built
    with, so a query equal to an indexed chunk retrieves it at
    cos_sim 1.0 (tested)."""
    qvecs = hashed_tf_vectors(
        queries.select(
            F.col(query_id_col).alias("chunk_id"),
            F.col(query_text_col).alias("chunk_text"),
        ),
        "chunk_text", "chunk_id", dim,
    ).withColumnRenamed("vector", "embedding")
    hits = probe_lsh_index(
        spark, path, qvecs, id_col="chunk_id", vec_col="embedding",
        k=k, num_planes=num_planes, dim=dim,
    )
    chunks = read_index(spark, path + "_chunks")
    return (
        hits.join(
            chunks.withColumnRenamed("chunk_id", "neighbor_id"),
            "neighbor_id",
        )
        .select(
            F.col("query_id").alias(query_id_col),
            (F.col("neighbor_id") / CHUNK_STRIDE).cast("long").alias(
                "doc_id"
            ),
            F.pmod(F.col("neighbor_id"), F.lit(CHUNK_STRIDE)).cast(
                "int"
            ).alias("chunk_index"),
            "chunk_text", "cos_sim", "rank",
        )
    )
