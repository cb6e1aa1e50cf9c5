"""Persisted inverted text index: search must be row-identical to the
in-memory bm25_rank operator, and the probe must prune the parquet scans to
the query terms' hash buckets (counted as partitions read)."""

from __future__ import annotations

import os
import shutil

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from koby_s_ai_vector_db_spark.operators.corpus import bm25_rank
from koby_s_ai_vector_db_spark.operators.dedup import words_expr
from koby_s_ai_vector_db_spark.queries.corpus_q import BM25_QUERIES
from koby_s_ai_vector_db_spark.sources.text_index import (
    _bucket,
    build_text_index,
    search_text_index,
)
from koby_s_ai_vector_db_spark.sources.tables import load_table
from tests.conftest import (
    SF_DIRS,
    assert_all_zstd,
    construction_jobs,
    partitions_read,
)

SF_DIR = SF_DIRS["t2"]


def _queries(spark):
    return spark.createDataFrame(BM25_QUERIES, "query_id bigint, query_text string")


@pytest.fixture(scope="module")
def idx_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("textidx") / "index")
    docs = load_table(spark, SF_DIR, "documents")
    info = build_text_index(docs, path)
    assert info["n_docs"] == docs.count()
    return path


@pytest.mark.parametrize("k", [10, 50])
def test_index_search_matches_inline_bm25(spark, idx_path, k):
    # k=50 is hybrid_rrf's POOL depth: its BM25 arm reads the persisted
    # index while its oracle inlines bm25_rank, so a depth-11..50
    # divergence would surface only as an opaque hybrid_rrf parity
    # failure (ADVICE r10) — pin the equivalence at the depth relied on.
    idx = search_text_index(spark, idx_path, _queries(spark), k=k)
    inline = bm25_rank(
        load_table(spark, SF_DIR, "documents"), _queries(spark), k=k
    )
    assert sorted(map(tuple, idx.collect())) == sorted(map(tuple, inline.collect()))


def test_static_prune_reaches_partition_filters(spark, idx_path):
    """The probe must prune the postings scan (the only index scan: df is
    counted from it): it reads at most one partition per distinct
    query-term bucket — unprobed buckets' files are never opened."""
    q = _queries(spark)
    n_buckets = spark.read.parquet(f"{idx_path}/stats").head()["n_buckets"]
    buckets = (
        q.select(F.explode(F.array_distinct(words_expr("query_text"))).alias("t"))
        .select(_bucket("t", n_buckets))
        .distinct()
        .count()
    )
    assert buckets < n_buckets
    parts = partitions_read(search_text_index(spark, idx_path, q, k=10))
    read = [n for (root, _), n in parts.items() if root.endswith("/postings")]
    assert read and max(read) <= buckets, parts


def test_bucket_count_read_from_sidecar(spark, tmp_path_factory):
    """n_buckets is part of the on-disk layout: search must use whatever
    the build wrote (here 16, not the default 64) — a mismatch would hash
    query terms into the wrong partitions and silently return nothing."""
    path = str(tmp_path_factory.mktemp("textidx16") / "index")
    docs = load_table(spark, SF_DIR, "documents")
    info = build_text_index(docs, path, n_buckets=16)
    assert info["n_buckets"] == 16
    idx = search_text_index(spark, path, _queries(spark), k=10)
    inline = bm25_rank(docs, _queries(spark), k=10)
    assert sorted(map(tuple, idx.collect())) == sorted(map(tuple, inline.collect()))


def test_incremental_append_equals_full_build(spark, tmp_path_factory):
    """Segment append must be EXACTLY equivalent to a one-shot build:
    every BM25 global (df, N, total length) is additive across segments,
    so build(half) + append(half) and build(full) return identical
    rankings and scores."""
    from pyspark.sql import functions as F

    from koby_s_ai_vector_db_spark.sources.text_index import append_to_text_index

    docs = load_table(spark, SF_DIR, "documents")
    incr = str(tmp_path_factory.mktemp("textidx") / "incr")
    full = str(tmp_path_factory.mktemp("textidx") / "full")
    build_text_index(docs.filter(F.col("doc_id") % 2 == 0), incr)
    append_to_text_index(docs.filter(F.col("doc_id") % 2 == 1), incr)
    postings = spark.read.parquet(f"{incr}/postings")
    assert postings.filter("seg = 1").select("id").distinct().count() == (
        docs.filter("doc_id % 2 = 1").count()
    )
    build_text_index(docs, full)
    a = search_text_index(spark, incr, _queries(spark), k=10)
    b = search_text_index(spark, full, _queries(spark), k=10)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_rebuild_with_other_bucket_count_not_served_stale(spark, tmp_path_factory):
    """Rebuilding a path with another n_buckets in the same session must
    not leave search hashing query terms with the old count — that opens
    the wrong partitions and silently drops rows. The search after the
    rebuild must equal one with every memo evicted (a fresh session)."""
    from koby_s_ai_vector_db_spark.functions.caching import evict_application

    path = str(tmp_path_factory.mktemp("textidx_rebuild") / "index")
    docs = load_table(spark, SF_DIRS["t1"], "documents")

    def search():
        df = search_text_index(spark, path, _queries(spark), k=5)
        return sorted(map(tuple, df.collect()))

    build_text_index(docs, path, n_buckets=16)
    search()
    build_text_index(docs, path, n_buckets=4)
    rebuilt = search()
    evict_application(spark)
    assert rebuilt == search()
    inline = bm25_rank(docs, _queries(spark), k=5)
    assert rebuilt == sorted(map(tuple, inline.collect()))


def test_unindexed_terms_return_nothing(spark, idx_path):
    oov = spark.createDataFrame(
        [(9, "qqqz zzzq xyzzy")], "query_id bigint, query_text string"
    )
    assert search_text_index(spark, idx_path, oov, k=10).count() == 0


def _assert_postings_id_major(path):
    """Every postings file holds its rows in (id, term) order — the
    layout that lets parquet run-length encode id and dl."""
    import glob as _glob

    import pyarrow.parquet as pq

    files = _glob.glob(f"{path}/postings/bucket=*/*.parquet")
    assert files
    for f in files:
        t = pq.read_table(f, columns=["id", "term"])
        keys = list(zip(t.column("id").to_pylist(), t.column("term").to_pylist()))
        assert keys == sorted(keys), f


def test_postings_id_major_and_zstd_through_segment_lifecycle(spark, tmp_path_factory):
    """The on-disk layout survives every postings writer: the build and a
    second appended segment both leave id-major postings files, and every
    parquet file the index holds is zstd-compressed."""
    from koby_s_ai_vector_db_spark.sources.text_index import append_to_text_index

    path = str(tmp_path_factory.mktemp("textidx_layout") / "index")
    docs = load_table(spark, SF_DIR, "documents")
    build_text_index(docs.filter(F.col("doc_id") % 2 == 0), path, n_buckets=8)
    _assert_postings_id_major(path)
    assert_all_zstd(path)

    append_to_text_index(docs.filter(F.col("doc_id") % 2 == 1), path)
    assert spark.read.parquet(f"{path}/stats").count() == 2
    _assert_postings_id_major(path)
    assert_all_zstd(path)


def test_search_construction_reads_with_declared_schemas(spark, tmp_path):
    """Building a search runs the bounded bucket-id collect (two jobs
    under AQE: distinct shuffle, result) plus, on the first call over an
    index, the memoized one-row n_buckets read. `stats` and `postings`
    have fixed schemas and are read with them (STATS_SCHEMA,
    POSTINGS_SCHEMA), so no read adds a schema-inference job."""
    path = str(tmp_path / "index")
    build_text_index(load_table(spark, SF_DIRS["t1"], "documents"), path, n_buckets=8)
    q = spark.createDataFrame(BM25_QUERIES[:1], "query_id bigint, query_text string")

    def build():
        search_text_index(spark, path, q, k=10)

    assert construction_jobs(spark, build, "text_search_first") == (3, 0)
    assert construction_jobs(spark, build, "text_search_steady") == (2, 0)


def test_stats_without_bucket_count_is_rejected(spark, tmp_path):
    """An index whose stats sidecar predates the persisted n_buckets reads
    that column as NULL under the declared schema: search and append
    refuse it by name rather than hashing terms into a guessed layout."""
    from koby_s_ai_vector_db_spark.sources.text_index import append_to_text_index

    path = str(tmp_path / "index")
    docs = load_table(spark, SF_DIRS["t1"], "documents")
    build_text_index(docs, path, n_buckets=8)
    spark.read.parquet(f"{path}/stats").drop("n_buckets").write.parquet(
        f"{path}/stats_old"
    )
    shutil.rmtree(f"{path}/stats")
    os.rename(f"{path}/stats_old", f"{path}/stats")
    match = "no n_buckets column"
    with pytest.raises(ValueError, match=match):
        search_text_index(spark, path, _queries(spark), k=10)
    with pytest.raises(ValueError, match=match):
        append_to_text_index(docs.limit(2), path)


def test_lifecycle_writes_no_df_table_and_matches_inline_bm25(spark, tmp_path):
    """build → append: neither step writes a `terms` dir (df is counted
    from the postings), and after each step search equals inline
    bm25_rank over the documents indexed so far, at k=10 and at
    hybrid_rrf's pool depth k=50."""
    from koby_s_ai_vector_db_spark.sources.text_index import append_to_text_index

    path = str(tmp_path / "index")
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    q = _queries(spark)

    def check(indexed):
        assert not os.path.exists(f"{path}/terms")
        for k in (10, 50):
            got = search_text_index(spark, path, q, k=k)
            want = bm25_rank(indexed, q, k=k)
            assert sorted(map(tuple, got.collect())) == sorted(
                map(tuple, want.collect())
            ), k

    half = docs.filter(F.col("doc_id") % 2 == 0)
    build_text_index(half, path, n_buckets=8)
    check(half)

    append_to_text_index(docs.filter(F.col("doc_id") % 2 == 1), path)
    check(docs)


def _input_records(spark, group: str, fn) -> int:
    """Stage input records of every job ``fn()`` runs, read from the
    status store under job group ``group`` (use a fresh name per call)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setJobGroup(None, None)
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    total, seen = 0, set()
    it = store.jobsList(None).iterator()
    while it.hasNext():
        j = it.next()
        grp = j.jobGroup()
        if not (grp.isDefined() and grp.get() == group):
            continue
        sit = j.stageIds().iterator()
        missing = 0
        while sit.hasNext():
            sid = sit.next()
            if sid not in seen:
                seen.add(sid)
                try:
                    total += store.lastStageAttempt(sid).inputRecords()
                except Py4JJavaError as e:
                    if "NoSuchElementException" not in str(e.java_exception):
                        raise
                    missing += 1
        # Trimming to spark.ui.retainedStages drops skipped stages first
        # (they never ran, so read no records); a long session trims the
        # job's own skipped stages. Any other missing stage is an error.
        assert missing <= j.numSkippedStages(), (missing, j.numSkippedStages())
    return total


def test_append_reads_the_delta_not_the_index(spark, tmp_path):
    """An append's input records do not grow with the index: the same
    delta appended to a 1x index and to a 10x index (the corpus replicated
    under new ids) reads the same number of records. Appended postings
    carry the next segment number."""
    from koby_s_ai_vector_db_spark.sources.text_index import append_to_text_index

    docs = load_table(spark, SF_DIRS["t1"], "documents").select("doc_id", "text")
    big = docs
    for i in range(1, 10):
        big = big.unionByName(
            docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * 1_000_000))
        )
    delta_dir = str(tmp_path / "delta")
    docs.limit(8).withColumn(
        "doc_id", F.col("doc_id") + F.lit(100_000_000)
    ).write.parquet(delta_dir)

    records = {}
    for name, corpus in (("x1", docs), ("x10", big)):
        path = str(tmp_path / name)
        build_text_index(corpus, path, n_buckets=8)
        delta = spark.read.parquet(delta_dir)
        records[name] = _input_records(
            spark, f"text_append_{name}", lambda: append_to_text_index(delta, path)
        )
        segs = {
            r.seg for r in spark.read.parquet(f"{path}/postings")
            .filter(F.col("id") >= 100_000_000).select("seg").distinct().collect()
        }
        assert segs == {1}, segs
    assert records["x1"] > 0
    assert records["x1"] == records["x10"], records
