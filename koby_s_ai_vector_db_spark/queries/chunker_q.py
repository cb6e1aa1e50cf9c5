"""T1/T4 chunker queries over `documents` (fixture docs are a few hundred
chars, so windows are size=100/overlap=20 — same code path as the
reference's 1000/200 defaults, pdf_qa/settings.py:58-59)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from koby_s_ai_vector_db_spark.operators.chunker import chunk_documents
from koby_s_ai_vector_db_spark.registry import register
from koby_s_ai_vector_db_spark.sources.tables import load_table

SIZE, OVERLAP = 100, 20


def chunks_cte(size: int = SIZE, overlap: int = OVERLAP) -> str:
    """DuckDB CTE text yielding `chunk_rows(doc_id, chunk_index, text,
    char_count)` — the oracle twin of operators.chunker.chunk_documents.
    Reused by every oracle that consumes the derived chunks table.
    Strip mirrors the engine's [ \\t\\n\\r\\f] class (chunker.STRIP_PATTERN);
    DuckDB regexp_replace needs the 'g' flag to hit both ends."""
    step = size - overlap
    strip = "^[ \\t\\n\\r\\f]+|[ \\t\\n\\r\\f]+$"
    return f"""
WITH d AS (
    SELECT doc_id, text, length(text) AS len
    FROM documents WHERE length(regexp_replace(text, '{strip}', '', 'g')) > 0
),
starts AS (
    SELECT doc_id, text,
           unnest(generate_series(0,
               CASE WHEN len <= {size} THEN 0
                    ELSE CAST(floor((len - {size} - 1) / {step}) AS BIGINT) + 1 END)) AS i
    FROM d
),
raw_chunks AS (
    SELECT doc_id, i,
           regexp_replace(substr(text, i * {step} + 1, {size}), '{strip}', '', 'g') AS chunk
    FROM starts
),
chunk_rows AS (
    SELECT doc_id,
           row_number() OVER (PARTITION BY doc_id ORDER BY i) - 1 AS chunk_index,
           chunk AS text,
           length(chunk) AS char_count
    FROM raw_chunks WHERE length(chunk) > 0
)"""


_T1_ORACLE = chunks_cte() + "\nSELECT doc_id, chunk_index, text, char_count FROM chunk_rows"


@register("t1_chunker", _T1_ORACLE)
def t1_chunker(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1 (utils.py:71-103) + T4 metadata projection (embed_pdfs.py:151-158)."""
    return chunk_documents(
        load_table(spark, sf_dir, "documents"), chunk_size=SIZE, overlap=OVERLAP
    )


_A13_ORACLE = (
    chunks_cte()
    + "\nSELECT count(DISTINCT doc_id) AS unique_files, count(*) AS total_chunks FROM chunk_rows"
)


@register("a13_corpus_summary", _A13_ORACLE)
def a13_corpus_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13 (core/apps.py:144-151): distinct-file + chunk-count summary."""
    chunks = chunk_documents(
        load_table(spark, sf_dir, "documents"), chunk_size=SIZE, overlap=OVERLAP
    )
    return chunks.agg(
        F.countDistinct("doc_id").alias("unique_files"),
        F.count("*").alias("total_chunks"),
    )
