"""T1: the overlapping character chunker, as a pure Catalyst expression.

Reference loop (core/utils.py:71-103 `chunk_text`):
    if overlap >= chunk_size: overlap = chunk_size // 2
    start = 0
    while start < len(text):
        end = min(start + chunk_size, len)
        chunk = text[start:end].strip()
        if chunk: chunks.append(chunk)
        if end >= len: break
        start = max(start + 1, end - overlap)

Because overlap < size after the coercion, the step is a constant
`size - overlap` (>= 1), so chunk starts form the arithmetic sequence
0, s, 2s, ... and the loop stops with the first window whose end reaches
len(text). Closed form for the last index:

    i_max = 0                               if len <= size
          = floor((len - size - 1) / s) + 1 otherwise

(the i_max window is the first with i*s + size >= len; earlier windows are
all full-size). Whitespace-only chunks are dropped AFTER windowing, and
chunk_index numbers the *surviving* chunks (embed_pdfs.py:151-158 indexes
the returned list) — so index with row_number over kept rows, not i.

This is a generator expression + substring per row: map-only, no shuffle,
no UDF — it scales linearly and stays inside whole-stage codegen.

Whitespace note: the reference's Python .strip() strips all Unicode
whitespace; SQL trim() strips only ASCII spaces. We strip the explicit
class [ \\t\\n\\r\\f] with the same regex on both engines — covering every
whitespace char PDF text extraction actually emits (pages are joined with
'\\n', core/utils.py:60) — and document the residual divergence (vertical
tab, exotic Unicode spaces) rather than hide it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# Same 5-char class in Java regex (Spark) and RE2 (DuckDB oracle).
STRIP_CLASS = r"[ \t\n\r\f]"
STRIP_PATTERN = rf"^{STRIP_CLASS}+|{STRIP_CLASS}+$"

# Reference defaults: pdf_qa/settings.py:58-59. Fixture documents are a few
# hundred chars, so tests parameterize smaller windows.
CHUNK_SIZE = 1000
CHUNK_OVERLAP = 200


def chunk_documents(
    documents: DataFrame,
    chunk_size: int = CHUNK_SIZE,
    overlap: int = CHUNK_OVERLAP,
) -> DataFrame:
    """Explode documents into overlapping chunks with exact reference parity.

    Returns (doc_id, chunk_index, text, char_count) — the metadata.json
    projection (embed_pdfs.py:153-158), with doc_id standing in for filename.
    """
    if overlap >= chunk_size:  # utils.py:82-84 coercion
        overlap = chunk_size // 2
    step = chunk_size - overlap

    d = documents.withColumn("_len", F.length("text")).filter(
        # utils.py:78-80 empty-input guard (strip semantics, see module doc)
        F.length(F.regexp_replace(F.col("text"), STRIP_PATTERN, "")) > 0
    )
    i_max = F.when(F.col("_len") <= chunk_size, F.lit(0)).otherwise(
        F.floor((F.col("_len") - chunk_size - 1) / step) + 1
    )
    win = Window.partitionBy("doc_id").orderBy("_i")
    return (
        d.select(
            "doc_id",
            F.explode(F.sequence(F.lit(0), i_max)).alias("_i"),
            F.col("text").alias("_text"),
        )
        # substring is 1-based; window [i*step, i*step+size)
        .withColumn(
            "chunk",
            F.regexp_replace(
                F.expr(f"substring(_text, _i * {step} + 1, {chunk_size})"),
                STRIP_PATTERN,
                "",
            ),
        )
        .filter(F.length("chunk") > 0)  # drop whitespace-only (utils.py:94)
        .withColumn("chunk_index", F.row_number().over(win) - 1)
        .select(
            "doc_id",
            "chunk_index",
            F.col("chunk").alias("text"),
            F.length("chunk").alias("char_count"),
        )
    )
