"""Persisted inverted text index — tokenize once, BM25-scan postings
forever.

`operators/corpus.py::bm25_rank` re-tokenizes the corpus and recounts
df/dl on every call — correct, and the right shape for ad-hoc scoring, but
at 100 TB the tokenize+explode pass dwarfs the scoring join. Every search
engine persists the inverted index instead (the reference's production
analogue is Postgres' GIN index behind ILIKE/keyword search,
supabase_schema.sql; pgvector's `CREATE INDEX` is the same bargain for
vectors). Spark-first, the index IS a storage layout, like the vector
index (sources/pq_index.py):

  build (once)    ``{path}/postings``: (term, id, tf, dl, seg) — document
                  length DENORMALIZED into each posting so search never
                  joins a doc-length table — PARTITIONED BY
                  ``bucket = hash(term) % n_buckets`` and written
                  id-major, sorted by (id, term) within each bucket: a
                  doc's postings sit together, so parquet run-length
                  encodes the repeated ``id`` and ``dl`` columns. On the
                  lifebench corpus (seed 101, 16 buckets, zstd) postings
                  take 230 KB id-major, 347 KB term-major (term, id) and
                  373 KB in unsorted shuffle order;
                  ``{path}/stats``: one row per segment (n_docs, sum_dl,
                  n_buckets).
  append          one more segment: the delta's postings (``seg`` = the
                  number of segments before it) and one stats row. It
                  reads the delta and the stats sidecar, never the
                  postings.
  search (often)  hash the query's terms with the same function, collect
                  their bucket ids and filter the postings scan on them →
                  the probe touches only those buckets' partitions (files
                  of unprobed buckets are never opened); query terms are
                  broadcast into it, and a term's df is a window count of
                  its postings there (no df table is stored).

Builds and appends are the only writes. There is no delete: the
reference rebuilds its whole FAISS file per ingest (embed_pdfs.py), and
removing documents or merging the small files of many appends is a
rebuild here too.

The bucket hash is Spark's own `hash()` — it never crosses engines (both
build and probe run in Spark), so no portable-md5 detour is needed here.
Scoring semantics (k1/b, idf, rounded-score ranking) are shared with
`bm25_rank` via operators/corpus.py constants; search results are
row-identical to the in-memory operator (tests/test_text_index.py), so the
registered `bm25_rank_idx` query shares `bm25_rank`'s DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from koby_s_ai_vector_db_spark.functions.caching import memo
from koby_s_ai_vector_db_spark.operators.corpus import (
    BM25_B,
    BM25_K1,
    doc_lengths,
    term_postings,
)
from koby_s_ai_vector_db_spark.operators.dedup import words_expr

POSTINGS_SUBDIR = "postings"
STATS_SUBDIR = "stats"
DEFAULT_BUCKETS = 64
# Declared read schemas: a schema-less spark.read.parquet runs one
# schema-inference job per call. ``bucket`` is the partition column.
POSTINGS_SCHEMA = "term string, id bigint, tf bigint, dl double, seg int, bucket int"
STATS_SCHEMA = "n_docs double, sum_dl double, n_buckets int"


def _read_postings(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.schema(POSTINGS_SCHEMA).parquet(f"{path}/{POSTINGS_SUBDIR}")


def _read_stats(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.schema(STATS_SCHEMA).parquet(f"{path}/{STATS_SUBDIR}")


def _n_buckets(stats_row, path: str) -> int:
    """The bucket count the index was built with, from one row of the
    stats sidecar. A sidecar written without it reads as NULL under
    STATS_SCHEMA."""
    n = stats_row["n_buckets"]
    if n is None:
        raise ValueError(
            f"{path}/{STATS_SUBDIR} has no n_buckets column — index built "
            "by an older build_text_index; rebuild it"
        )
    return int(n)


def _bucket(term_col: str, n_buckets: int) -> F.Column:
    return F.pmod(F.hash(F.col(term_col)), F.lit(n_buckets)).cast("int")


def _write_postings(postings: DataFrame, dest: str, mode: str) -> None:
    """The one postings writer (build and appends): one writer task per
    bucket, so a probed partition is O(1) files, and rows sorted id-major
    within it (module docstring).
    ``bucket`` must lead the sort key: the partitioned write requires
    bucket order and would otherwise re-sort on bucket alone, discarding
    the (id, term) order."""
    (
        postings.repartition("bucket")
        .sortWithinPartitions("bucket", "id", "term")
        .write.mode(mode)
        .partitionBy("bucket")
        .parquet(dest)
    )


def build_text_index(
    docs: DataFrame,
    path: str,
    n_buckets: int = DEFAULT_BUCKETS,
) -> dict:
    """Tokenize + invert once; persist bucket-partitioned postings and the
    corpus-scalar sidecar. Returns {"n_docs", "path", "n_buckets"}."""
    _write_segment(docs, path, n_buckets, mode="overwrite", seg=0)
    n_docs = int(_read_stats(docs.sparkSession, path).head()["n_docs"])
    return {"n_docs": n_docs, "path": path, "n_buckets": n_buckets}


def _write_segment(
    docs: DataFrame, path: str, n_buckets: int, mode: str, seg: int
) -> None:
    """Write one index segment (postings + one stats row). Every
    aggregate the search needs is ADDITIVE across
    segments (df as a count of postings rows, n_docs, sum_dl), so
    append-mode segments compose exactly — the Lucene-segment idea
    without the merge daemon. ``seg`` stamps the postings rows with the
    segment's number (0 for the build, then one per append)."""
    dl = doc_lengths(docs).persist()
    try:
        postings = (
            term_postings(docs)
            .join(dl, "_id")
            .select(
                _bucket("term", n_buckets).alias("bucket"),
                "term",
                F.col("_id").alias("id"),
                "tf",
                "dl",
                F.lit(seg).cast("int").alias("seg"),
            )
        )
        _write_postings(postings, f"{path}/{POSTINGS_SUBDIR}", mode)

        # n_buckets is part of the ON-DISK layout (it defines which
        # partition a term lives in), so it is persisted with the stats and
        # read back at search time — a caller-supplied mismatch would
        # silently hash query terms into the wrong partitions.
        stats = dl.agg(
            F.count("*").cast("double").alias("n_docs"),
            F.sum("dl").alias("sum_dl"),
        ).withColumn("n_buckets", F.lit(n_buckets))
        stats.coalesce(1).write.mode(mode).parquet(f"{path}/{STATS_SUBDIR}")
    finally:
        dl.unpersist()


def append_to_text_index(docs: DataFrame, path: str) -> dict:
    """Incrementally add documents to an existing index as a new SEGMENT:
    postings/stats rows are parquet-appended, which is exact because
    every BM25 global (df, N, total length) is additive. The append reads
    only the delta and the stats sidecar (one row per segment), never the
    postings — the upgrade over the reference's wholesale re-embed per
    ingest. The bucket count is read from the index (layout-frozen at
    build); the new segment's number is the count of segments so far."""
    spark = docs.sparkSession
    stats = _read_stats(spark, path).select("n_buckets").collect()
    n_buckets = _n_buckets(stats[0], path)
    _write_segment(docs, path, n_buckets, mode="append", seg=len(stats))
    return {"path": path, "n_buckets": n_buckets}


def search_text_index(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 10,
) -> DataFrame:
    """BM25 top-k per query over the persisted index. The bucket count is
    read from the index's stats sidecar (it defines the partition layout —
    never caller-supplied at search time).

    The query terms' bucket ids are collected (bounded by the number of
    distinct query terms — not a data collect) and pushed into the
    postings scan as ``bucket IN (...)``: partitions of unprobed buckets
    are never opened. Callers with a fixed query set memoize the returned
    plan (functions/caching.py)."""
    seg_stats = _read_stats(spark, path)
    # The 1-row n_buckets read is memoized on the stats sidecar's file
    # list — a per-build head() was a Spark job per query construction
    # (the construction-is-action-free invariant). spark.read.parquet has
    # already listed those files, and any rewrite of the index (a rebuild
    # with another n_buckets, an append) changes the list, so a memo can
    # never serve the bucket count of an older layout.
    n_buckets = memo(
        spark,
        ("textidx_n_buckets", tuple(sorted(seg_stats.inputFiles()))),
        lambda: _n_buckets(seg_stats.head(), path),
    )
    # Segments are additive: N = Σ n_docs, avgdl = Σ sum_dl / N.
    stats = seg_stats.agg(
        F.sum("n_docs").alias("n_docs"),
        (F.sum("sum_dl") / F.sum("n_docs")).alias("avgdl"),
    )

    qterms = queries.select(
        F.col("query_id"),
        F.explode(F.array_distinct(words_expr("query_text"))).alias("term"),
    )

    buckets = sorted(
        r[0]
        for r in qterms.select(_bucket("term", n_buckets)).distinct().collect()
    )
    postings = _read_postings(spark, path).filter(F.col("bucket").isin(buckets))
    # df = the term's postings: a query's terms are distinct, so the join
    # holds each posting of a term once per query asking it.
    scored = (
        postings.join(F.broadcast(qterms), ["term"])
        .withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("query_id", "term")))
        .join(F.broadcast(stats.select("n_docs", "avgdl")))
        .withColumn(
            "_idf",
            F.log(F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)),
        )
        .withColumn(
            "_w",
            F.col("_idf")
            * (F.col("tf") * (BM25_K1 + 1))
            / (F.col("tf")
               + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))),
        )
        .groupBy("query_id", "id")
        .agg(F.sum("_w").alias("_score"))
    )
    # Rounded-score ranking: same cross-engine determinism contract as
    # operators/corpus.py::bm25_rank.
    w = Window.partitionBy("query_id").orderBy(
        F.desc(F.round("_score", 6)), F.asc("id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            F.col("id").alias("doc_id"),
            F.round("_score", 6).alias("score"),
            "rank",
        )
    )
