"""Streaming index ingest: a stream of micro-batches appended into the
persisted IVF+PQ / text indexes must leave the index in the SAME state as
one batch append of the same data — micro-batch boundaries are invisible
to search (additive BM25 globals; frozen centroids/codebook)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from koby_s_ai_vector_db_spark.operators.corpus import bm25_rank
from koby_s_ai_vector_db_spark.queries.corpus_q import BM25_QUERIES
from koby_s_ai_vector_db_spark.sources.pq_index import (
    build_ivfpq_index,
    ivfpq_index_search,
)
from koby_s_ai_vector_db_spark.sources.tables import load_table
from koby_s_ai_vector_db_spark.sources.text_index import (
    build_text_index,
    search_text_index,
)
from koby_s_ai_vector_db_spark.streaming.index_ingest import (
    stream_docs_into_text_index,
    stream_vectors_into_ivfpq,
)
from tests.conftest import SF_DIRS

SF_DIR = SF_DIRS["t1"]


def _stage_files(df, out_dir: str, n_files: int) -> None:
    """Write df as n_files separate parquet files (one per micro-batch:
    the stream reads with maxFilesPerTrigger=1)."""
    df.repartition(n_files).write.parquet(out_dir)


def test_stream_vectors_into_ivfpq(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("stream_ivfpq")
    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding", "label")
    first = emb.filter(F.col("vec_id") % 2 == 0)
    second = emb.filter(F.col("vec_id") % 2 == 1)

    path = str(root / "index")
    build_ivfpq_index(first.select("vec_id", "embedding"), path, n_lists=10)

    src = str(root / "incoming")
    _stage_files(second, src, n_files=3)
    q = stream_vectors_into_ivfpq(
        spark, src, path, checkpoint=str(root / "ckpt")
    )
    q.awaitTermination(120)

    data = spark.read.parquet(path + "/data")
    assert data.count() == emb.count()
    assert data.select("vec_id").distinct().count() == emb.count()

    # Streamed-in vectors are searchable: self-query hits rank 1, sim 1.0.
    qs = emb.filter(F.col("vec_id").isin([1, 3, 5])).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    res = ivfpq_index_search(spark, path, qs, k=5, n_probe=3, shortlist=32)
    top1 = {r.query_id: (r.vec_id, r.sim) for r in res.collect() if r.rank == 1}
    assert set(top1) == {1, 3, 5}
    for qid, (vid, sim) in top1.items():
        assert vid == qid and sim == pytest.approx(1.0, abs=1e-6)


def test_stream_docs_into_text_index(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("stream_text")
    docs = load_table(spark, SF_DIR, "documents")
    first = docs.filter(F.col("doc_id") % 2 == 0)
    second = docs.filter(F.col("doc_id") % 2 == 1)

    path = str(root / "index")
    build_text_index(first, path, n_buckets=8)

    src = str(root / "incoming")
    _stage_files(second, src, n_files=3)
    q = stream_docs_into_text_index(
        spark, src, path, checkpoint=str(root / "ckpt")
    )
    q.awaitTermination(120)

    queries = spark.createDataFrame(BM25_QUERIES, "query_id bigint, query_text string")
    idx = search_text_index(spark, path, queries, k=10)
    inline = bm25_rank(docs, queries, k=10)
    assert sorted(map(tuple, idx.collect())) == sorted(map(tuple, inline.collect()))


def test_stream_restart_resumes_from_checkpoint(spark, tmp_path_factory):
    """Exactly-once across RESTARTS: a second stream started on the SAME
    checkpoint after more files arrive absorbs only the new files — the
    first wave is not replayed into the index (the committed-offsets
    contract a 100 TB continuous ingest rests on)."""
    root = tmp_path_factory.mktemp("stream_restart")
    emb = load_table(spark, SF_DIR, "embeddings").select(
        "vec_id", "embedding", "label"
    )
    base = emb.filter(F.col("vec_id") % 4 == 0)
    wave1 = emb.filter(F.col("vec_id") % 4 == 1)
    wave2 = emb.filter(F.col("vec_id") % 4 == 2)

    path = str(root / "index")
    build_ivfpq_index(base.select("vec_id", "embedding"), path, n_lists=10)

    src = str(root / "incoming")
    ckpt = str(root / "ckpt")
    _stage_files(wave1, src, n_files=2)
    q1 = stream_vectors_into_ivfpq(spark, src, path, checkpoint=ckpt)
    q1.awaitTermination(120)
    n_after_first = spark.read.parquet(path + "/data").count()
    assert n_after_first == base.count() + wave1.count()

    # More files land; a NEW query resumes from the same checkpoint.
    wave2.repartition(2).write.mode("append").parquet(src)
    q2 = stream_vectors_into_ivfpq(spark, src, path, checkpoint=ckpt)
    q2.awaitTermination(120)

    data = spark.read.parquet(path + "/data")
    expected = base.count() + wave1.count() + wave2.count()
    assert data.count() == expected, "wave1 replayed or wave2 dropped"
    assert data.select("vec_id").distinct().count() == expected
