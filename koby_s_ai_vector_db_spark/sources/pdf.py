"""S1–S3: PDF scan + text extraction.

Reference: `extract_text_from_pdf` joins page texts with '\\n', skipping
pages that fail to extract (core/utils.py:38-69); the Supabase path keeps
per-page rows and drops empty pages (core/supabase_utils.py:193-200).

Spark-native: binaryFile scan (S1, sources/multimodal.scan_binary_dir) →
Arrow-batched extraction UDF over the content bytes. pypdf is not in this
container, so the real extractor is import-gated; the fixture stand-in is
`documents.text` (FIXTURES.md), and extract_pages() below reproduces the
per-page SHAPE (page_number, text, empty pages dropped) from that
stand-in so downstream operators (chunk → embed → search) exercise the
same schema they would see from real PDFs.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

PAGE_CHARS = 120  # fixture stand-in page size


def _pypdf_available() -> bool:
    try:  # pragma: no cover - container has no pypdf
        import pypdf  # noqa: F401

        return True
    except ImportError:
        return False


def extract_pdf_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """The real S2/S3 extraction body that runs inside mapInPandas:
    (path, content) batches → (path, page_number, text) rows, skipping
    whole-file failures (utils.py:63-66) and per-page failures
    (utils.py:52-58), dropping empty pages (supabase_utils.py:193-200).
    Module-level so tests can execute it in-process against a stubbed
    `pypdf` (tests/test_real_extractors.py) — the exact function Spark
    ships to workers, not a copy."""
    import io

    import pypdf

    for pdf in batches:
        rows = []
        for path, content in zip(pdf["path"], pdf["content"]):
            try:
                reader = pypdf.PdfReader(io.BytesIO(content))
            except Exception:
                continue  # whole-file failure skipped (utils.py:63-66)
            for i, page in enumerate(reader.pages, start=1):
                try:
                    text = page.extract_text() or ""
                except Exception:
                    continue  # per-page failure skipped (utils.py:52-58)
                if text.strip():
                    rows.append({"path": path, "page_number": i, "text": text})
        yield pd.DataFrame(rows, columns=["path", "page_number", "text"])


def extract_pdf_pages(binary_files: DataFrame) -> DataFrame:
    """S2/S3 real path: (path, content) → (path, page_number, text).
    Import-gated DRIVER-SIDE: raises immediately until pypdf is
    installed (clearer than a worker-side task failure); the fixture
    stand-in is extract_pages() below."""
    if not _pypdf_available():
        raise NotImplementedError(
            "pypdf is not installed in this environment; use "
            "extract_pages(documents) for the fixture stand-in "
            "(core/utils.py:38-69 is the reference behavior)"
        )
    return binary_files.select("path", "content").mapInPandas(
        extract_pdf_batches, schema="path string, page_number int, text string"
    )


def extract_pages(documents: DataFrame) -> DataFrame:
    """S3 fixture stand-in: slice each document's text into fixed-width
    'pages', 1-based page numbers, EMPTY PAGES DROPPED — the per-page
    extraction shape of supabase_utils.py:193-200. Pure Catalyst."""
    return (
        documents.select(
            "doc_id",
            F.posexplode(
                F.expr(
                    f"transform(sequence(1, greatest(CAST(ceil(length(text) / {PAGE_CHARS}.0) AS INT), 1)),"
                    f" p -> substring(text, (p - 1) * {PAGE_CHARS} + 1, {PAGE_CHARS}))"
                )
            ).alias("_p", "page_text"),
        )
        .select(
            "doc_id",
            (F.col("_p") + 1).alias("page_number"),
            F.col("page_text").alias("text"),
        )
        .filter(F.length(F.regexp_replace("text", r"^[ \t\n\r\f]+|[ \t\n\r\f]+$", "")) > 0)
    )


def join_pages(pages: DataFrame) -> DataFrame:
    """S2 whole-doc view: pages joined with '\\n' in page order
    (utils.py:60: '\\n'.join)."""
    return pages.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("page_number", "text"))),
                lambda s: s["text"],
            ),
            "\n",
        ).alias("full_text")
    )
