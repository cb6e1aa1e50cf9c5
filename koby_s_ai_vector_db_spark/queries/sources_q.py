"""Source-path queries: S2/S3 extraction shape, S6 catalog insert, and the
Q15 image→text search pipeline (deterministic stand-in vision step)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from koby_s_ai_vector_db_spark.functions.embedding import embed_texts, sql_embed
from koby_s_ai_vector_db_spark.functions.vectors import l2_normalize, sql_normalize
from koby_s_ai_vector_db_spark.operators.mutations import catalog_insert
from koby_s_ai_vector_db_spark.operators.similarity import topk_cosine
from koby_s_ai_vector_db_spark.registry import register
from koby_s_ai_vector_db_spark.sources.multimodal import media_table, scan_binary_dir
from koby_s_ai_vector_db_spark.sources.pdf import PAGE_CHARS, extract_pages, join_pages
from koby_s_ai_vector_db_spark.sources.tables import load_table

_STRIP = "^[ \\t\\n\\r\\f]+|[ \\t\\n\\r\\f]+$"

_S1_ORACLE = """
SELECT 'doc_' || doc_id || (CASE WHEN doc_id % 40 = 0 THEN '.PDF' ELSE '.pdf' END)
           AS filename,
       octet_length(encode(text)) AS n_bytes
FROM documents WHERE doc_id % 20 = 0
"""


@register("s1_scan", _S1_ORACLE)
def s1_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 (embed_pdfs.py:67): case-insensitive `*.pdf` directory listing via
    the binaryFile source. Fixture setup (not the operator under test)
    materializes a deterministic file tree from `documents` — every 20th doc
    as a .pdf (every 40th uppercased .PDF, which the reference's
    case-insensitive listing must keep) plus .txt decoys the glob must
    exclude — then the scan itself is pure Spark: binaryFile with a
    character-class pathGlobFilter, returning (filename, n_bytes) that the
    oracle recomputes from the table. At scale binaryFile parallelizes over
    files and reads only metadata here (content column pruned away)."""
    import os
    import shutil
    import tempfile

    from koby_s_ai_vector_db_spark.functions.caching import memo

    import hashlib

    docs = load_table(spark, sf_dir, "documents")
    fixture = docs.filter(F.col("doc_id") % 20 == 0).select("doc_id", "text")
    # Root derives from the FULL absolute sf_dir, not its basename: two
    # sf_dirs sharing a basename in one session would otherwise overwrite
    # one root while the first dir's memo entry kept serving it — a
    # silent oracle-parity break (ADVICE r09). The basename stays in the
    # path for human debuggability; the hash disambiguates.
    norm = os.path.abspath(os.path.normpath(sf_dir))
    root = os.path.join(
        tempfile.gettempdir(),
        "spark_graft_s1",
        f"{os.path.basename(norm)}-{hashlib.md5(norm.encode()).hexdigest()[:12]}",
    )

    def _materialize() -> str:
        # Recreate from scratch: stale files from a previous run against a
        # different fixture revision would enter the binaryFile scan and
        # break oracle parity in a machine-state-dependent way. Once per
        # session suffices (memo) — the fixture tables are
        # write-once, so per-build re-materialization was pure overhead
        # (one toLocalIterator job per build).
        shutil.rmtree(root, ignore_errors=True)
        os.makedirs(root)
        for row in fixture.toLocalIterator():  # driver-side materialization
            ext = ".PDF" if row.doc_id % 40 == 0 else ".pdf"
            with open(os.path.join(root, f"doc_{row.doc_id}{ext}"), "wb") as f:
                f.write(row.text.encode("utf-8"))
            if row.doc_id % 60 == 0:  # decoy the glob must exclude
                with open(os.path.join(root, f"doc_{row.doc_id}.txt"), "wb") as f:
                    f.write(b"not a pdf")
        return root

    memo(spark, ("s1_fixture", sf_dir), _materialize)
    scan = scan_binary_dir(spark, root, glob="*.[pP][dD][fF]")
    return scan.select(
        F.element_at(F.split("path", "/"), -1).alias("filename"),
        F.col("length").alias("n_bytes"),
    )

_PAGES_CTE = f"""
WITH pages AS (
    SELECT doc_id,
           unnest(generate_series(1,
               greatest(CAST(ceil(length(text) / {PAGE_CHARS}.0) AS INT), 1))) AS page_number,
           text
    FROM documents
),
page_rows AS (
    SELECT doc_id, page_number,
           substr(text, (page_number - 1) * {PAGE_CHARS} + 1, {PAGE_CHARS}) AS text
    FROM pages
),
kept AS (
    SELECT * FROM page_rows
    WHERE length(regexp_replace(text, '{_STRIP}', '', 'g')) > 0
)"""


_S3_ORACLE = _PAGES_CTE + "\nSELECT doc_id, page_number, text FROM kept"


@register("s3_extract_pages", _S3_ORACLE)
def s3_extract_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 (supabase_utils.py:193-200): per-page extraction shape — 1-based
    page numbers, empty pages dropped. Real-PDF path is import-gated in
    sources/pdf.py (pypdf absent); the fixture stand-in slices
    documents.text into fixed-width pages."""
    return extract_pages(load_table(spark, sf_dir, "documents"))


_S2_ORACLE = _PAGES_CTE + """
SELECT doc_id, string_agg(text, chr(10) ORDER BY page_number) AS full_text
FROM kept GROUP BY doc_id
"""


@register("s2_extract_join", _S2_ORACLE)
def s2_extract_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 (core/utils.py:38-69): whole-document view — page texts joined
    with '\\n' in page order (ordered aggregation, not bare collect_list)."""
    return join_pages(extract_pages(load_table(spark, sf_dir, "documents")))


_S6_ORACLE = """
WITH new_docs AS (
    SELECT doc_id + 3000000 AS doc_id, 'upload_' || doc_id AS source
    FROM documents WHERE doc_id % 25 = 0
),
cat AS (
    SELECT doc_id, source, 'indexed' AS status FROM documents
    UNION ALL
    SELECT doc_id, source, 'uploaded' AS status FROM new_docs
)
SELECT status, count(*) AS n, min(doc_id) AS min_id, max(doc_id) AS max_id
FROM cat GROUP BY status
"""


@register("s6_upload_catalog", _S6_ORACLE)
def s6_upload_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 (supabase_utils.py:150-176): catalog INSERT for uploaded blobs —
    new rows enter as 'uploaded' awaiting the S8 ingest flip (M6)."""
    docs = load_table(spark, sf_dir, "documents")
    existing = docs.select("doc_id", "source").withColumn("status", F.lit("indexed"))
    new_rows = docs.filter(F.col("doc_id") % 25 == 0).select(
        (F.col("doc_id") + 3000000).alias("doc_id"),
        F.concat(F.lit("upload_"), F.col("doc_id").cast("string")).alias("source"),
    )
    cat = catalog_insert(existing, new_rows)
    return cat.groupBy("status").agg(
        F.count("*").alias("n"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


N_IMG = 4
_DESC_DUCK = "'IMG: ' || substr(text, 1, 80)"

_Q15_ORACLE = f"""
WITH e AS (SELECT doc_id, {sql_embed('text')} AS e FROM documents),
c AS (SELECT doc_id, {sql_normalize('e')} AS v FROM e),
d AS (SELECT doc_id AS media_id, {sql_embed(_DESC_DUCK)} AS de
      FROM documents WHERE doc_id < {N_IMG}),
q AS (SELECT media_id, {sql_normalize('de')} AS qv FROM d),
scored AS (
    SELECT q.media_id, c.doc_id,
           list_sum(list_transform(c.v, (x, i) -> x * q.qv[i])) AS sim_raw
    FROM c CROSS JOIN q
),
ranked AS (
    SELECT *, row_number() OVER (PARTITION BY media_id
                                 ORDER BY sim_raw DESC, doc_id ASC) AS rank
    FROM scored
)
SELECT media_id, doc_id, round(sim_raw, 6) AS sim, rank
FROM ranked WHERE rank <= 5 AND sim_raw >= 0.0
"""


@register("q15_image_search", _Q15_ORACLE)
def q15_image_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15 (views.py:496-731): image → description → Q1 search. The vision
    model (U3, external Gemini) is replaced by a deterministic stand-in
    caption over the decoded payload; downstream — embed the description,
    top-k cosine over the embedded corpus, threshold after rank — is the
    reference pipeline exactly."""
    docs = load_table(spark, sf_dir, "documents")
    corpus = (
        docs.withColumn("_e", embed_texts("text"))
        .select("doc_id", l2_normalize("_e").alias("embedding"))
    )
    media = media_table(docs).filter(F.col("media_id") < N_IMG)
    described = media.select(
        "media_id",
        F.concat(F.lit("IMG: "), F.substring(F.decode("content", "UTF-8"), 1, 80)).alias(
            "description"
        ),
    )
    queries = described.withColumn("_d", embed_texts("description")).select(
        "media_id", F.col("_d").alias("query_vec")
    )
    return topk_cosine(
        corpus,
        queries,
        k=5,
        threshold=0.0,
        corpus_id="doc_id",
        query_id="media_id",
        pre_normalized=True,
    )


_U4_ORACLE = f"""
WITH hits AS (
{_Q15_ORACLE}
),
lines AS (
    SELECT h.media_id, h.rank,
           'DOCUMENT #' || h.rank || ' (from ' || d.source || E'):\\n' || d.text
           || E'\\n(Similarity: ' || printf('%.2f', h.sim) || ')' AS txt
    FROM hits h JOIN documents d ON h.doc_id = d.doc_id
),
ctx AS (
    SELECT media_id, string_agg(txt, E'\\n\\n' ORDER BY rank) AS context
    FROM lines GROUP BY media_id
),
descr AS (
    SELECT doc_id AS media_id, {_DESC_DUCK} AS description
    FROM documents WHERE doc_id < {N_IMG}
)
SELECT d.media_id,
       'AI model is not configured yet, so this is a direct context-based response.'
       || E'\\n\\nQuestion: ' || d.description
       || E'\\n\\nRelevant context:\\n'
       || substr(CASE WHEN regexp_replace(coalesce(c.context, ''),
                                          '^[ \\t\\n\\r\\f]+|[ \\t\\n\\r\\f]+$', '', 'g') = ''
                      THEN 'No relevant context was found.'
                      ELSE regexp_replace(coalesce(c.context, ''),
                                          '^[ \\t\\n\\r\\f]+|[ \\t\\n\\r\\f]+$', '', 'g') END,
                 1, 1500) AS answer
FROM descr d LEFT JOIN ctx c ON d.media_id = c.media_id
"""


@register("u4_image_answer", _U4_ORACLE)
def u4_image_answer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U4 (views.py:733-774): image-grounded answer — Q15 hits formatted
    as a document context, answered by the deterministic U2 no-key
    formatter with the image caption standing in for the question."""
    from koby_s_ai_vector_db_spark.operators.text_ops import nokey_answer

    docs = load_table(spark, sf_dir, "documents")
    hits = q15_image_search(spark, sf_dir)
    lines = hits.join(docs.select("doc_id", "source", "text"), "doc_id").select(
        "media_id",
        "rank",
        F.concat(
            F.lit("DOCUMENT #"),
            F.col("rank").cast("string"),
            F.lit(" (from "),
            F.col("source"),
            F.lit("):\n"),
            F.col("text"),
            F.lit("\n(Similarity: "),
            F.format_string("%.2f", F.col("sim")),
            F.lit(")"),
        ).alias("txt"),
    )
    ctx = lines.groupBy("media_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("rank").alias("o"), "txt"))),
                lambda s: s["txt"],
            ),
            "\n\n",
        ).alias("context")
    )
    described = media_table(docs).filter(F.col("media_id") < N_IMG).select(
        "media_id",
        F.concat(F.lit("IMG: "), F.substring(F.decode("content", "UTF-8"), 1, 80)).alias(
            "description"
        ),
    )
    return described.join(ctx, "media_id", "left").select(
        "media_id",
        nokey_answer("description", F.coalesce("context", F.lit(""))).alias("answer"),
    )
