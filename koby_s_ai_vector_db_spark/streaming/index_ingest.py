"""Streaming index ingest: micro-batches append into persisted indexes.

The reference re-embeds and rewrites its whole FAISS file on every ingest
(embed_pdfs.py; core/apps.py re-checks staleness per boot). The streaming
form is the production shape: new vectors/documents arrive continuously,
and each micro-batch is absorbed into the SAME persisted index artifacts
the batch queries search — `foreachBatch` + the incremental appenders
(`sources/pq_index.py::append_to_ivfpq_index`,
`sources/text_index.py::append_to_text_index`). `availableNow` triggers
give the catch-up/batch-backfill mode for free. Appends are the only
streamed write: the indexes have no delete path, and removals or
small-file growth after many appends are handled by a rebuild.

Exactness: both appenders are proven segment-exact in batch tests —
BM25 globals are additive across text-index segments, and IVF+PQ append
freezes centroids/codebook (FAISS `add` semantics) — so the stream's
final index state equals the same data appended in one batch, regardless
of micro-batch boundaries (asserted in tests/test_streaming_ingest.py).
Failure semantics are parquet-append per micro-batch with the stream's
checkpoint tracking which source files are committed: a replayed batch
would double-append, so production would route through a
manifest/transactional table; locally availableNow + fresh checkpoints
keep the tests deterministic.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, SparkSession

from koby_s_ai_vector_db_spark.sources.pq_index import append_to_ivfpq_index
from koby_s_ai_vector_db_spark.sources.text_index import append_to_text_index

# Declared schemas for file-source streams (a stream cannot infer).
EMB_SCHEMA = "vec_id bigint, embedding array<float>, label int"
DOCS_SCHEMA = "doc_id bigint, text string, lang string, source string, n_chars bigint"


def _stream_into(
    spark: SparkSession,
    schema: str,
    append: Callable[[DataFrame, str], object],
    source_glob: str,
    index_path: str,
    checkpoint: str,
) -> "object":
    """Start an availableNow stream over ``source_glob`` (one file per
    micro-batch) that calls ``append(batch, index_path)`` for every
    non-empty micro-batch. Returns the StreamingQuery; callers
    `awaitTermination()` (availableNow) or manage the lifecycle."""

    def absorb(batch: DataFrame, _batch_id: int) -> None:
        if not batch.isEmpty():
            append(batch, index_path)

    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(source_glob)
        .writeStream.foreachBatch(absorb)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def stream_vectors_into_ivfpq(
    spark: SparkSession, source_glob: str, index_path: str, checkpoint: str
) -> "object":
    """Append arriving vectors into an existing IVF+PQ index, one
    `append_to_ivfpq_index` call per micro-batch."""
    return _stream_into(
        spark, EMB_SCHEMA, append_to_ivfpq_index, source_glob, index_path, checkpoint
    )


def stream_docs_into_text_index(
    spark: SparkSession, source_glob: str, index_path: str, checkpoint: str
) -> "object":
    """Append arriving documents into an existing inverted text index as
    one segment per micro-batch (additive BM25 globals make segment
    boundaries invisible to search)."""
    return _stream_into(
        spark, DOCS_SCHEMA, append_to_text_index, source_glob, index_path, checkpoint
    )
