"""Index delete support (text + PQ): tombstone semantics, exact BM25
global corrections, idempotency, and physical reclaim at compaction.

The strong text-index check is rebuild-equivalence: after deleting a
third of the corpus, search over the tombstoned index is ROW-IDENTICAL
to search over a fresh index built only on the survivors — which holds
only if df (counted over the live, tombstone-filtered postings) and
N/avgdl (corrected by the negative stats row) are exact (dl is an
integer-valued double, so the additive corrections are exact
arithmetic, not approximations).

The PQ check is compaction-equivalence under frozen sidecars: tombstone
filtering at search time equals physically removing the rows, given the
same centroids/codebook (rebuild-equivalence would retrain the coarse
means, which FAISS remove_ids deliberately does not do).
"""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from koby_s_ai_vector_db_spark.sources.tables import load_table
from tests.conftest import SF_DIRS, construction_jobs

SF_DIR = SF_DIRS["t1"]

QUERIES = [
    (0, "spark table scan"),
    (1, "hash merge batch"),
    (2, "sort window agg key"),
]


def _rows(df):
    return sorted(map(tuple, df.collect()))


class TestTextIndexDelete:
    def _queries(self, spark):
        return spark.createDataFrame(
            QUERIES, "query_id bigint, query_text string"
        )

    def test_delete_equals_rebuild_on_survivors(self, spark, tmp_path):
        from koby_s_ai_vector_db_spark.sources.text_index import (
            build_text_index,
            delete_from_text_index,
            search_text_index,
        )

        docs = load_table(spark, SF_DIR, "documents")
        full = str(tmp_path / "full")
        build_text_index(docs, full)
        doomed = docs.filter(F.col("doc_id") % 3 == 0).select("doc_id")
        out = delete_from_text_index(spark, full, doomed)
        assert out["n_deleted"] == doomed.count()

        survivors = str(tmp_path / "survivors")
        build_text_index(docs.filter(F.col("doc_id") % 3 != 0), survivors)

        got = _rows(search_text_index(spark, full, self._queries(spark)))
        want = _rows(
            search_text_index(spark, survivors, self._queries(spark))
        )
        assert got == want
        assert got  # non-degenerate

    def test_delete_is_idempotent_and_ignores_unknown_ids(
        self, spark, tmp_path
    ):
        from koby_s_ai_vector_db_spark.sources.text_index import (
            build_text_index,
            delete_from_text_index,
            search_text_index,
        )

        docs = load_table(spark, SF_DIR, "documents")
        path = str(tmp_path / "idx")
        build_text_index(docs, path)
        doomed = spark.createDataFrame(
            [(3,), (6,), (999_999,)], "doc_id bigint"
        )
        first = delete_from_text_index(spark, path, doomed)
        assert first["n_deleted"] == 2  # 999999 is not in the index
        baseline = _rows(search_text_index(spark, path, self._queries(spark)))
        again = delete_from_text_index(spark, path, doomed)
        assert again["n_deleted"] == 0  # no double-subtraction
        assert _rows(
            search_text_index(spark, path, self._queries(spark))
        ) == baseline

    def test_compaction_applies_tombstones(self, spark, tmp_path):
        import os

        from koby_s_ai_vector_db_spark.sources.text_index import (
            TOMBSTONES_SUBDIR,
            build_text_index,
            compact_text_index,
            delete_from_text_index,
            search_text_index,
        )

        docs = load_table(spark, SF_DIR, "documents")
        path = str(tmp_path / "idx")
        build_text_index(docs, path)
        delete_from_text_index(
            spark, path, docs.filter(F.col("doc_id") % 4 == 0).select("doc_id")
        )
        before = _rows(search_text_index(spark, path, self._queries(spark)))
        compact_text_index(spark, path)
        after = _rows(search_text_index(spark, path, self._queries(spark)))
        assert before == after
        assert not os.path.exists(f"{path}/{TOMBSTONES_SUBDIR}")
        # physically gone: the postings table no longer holds deleted ids
        ids = {
            r["id"]
            for r in spark.read.parquet(f"{path}/postings")
            .select("id").distinct().collect()
        }
        assert not any(i % 4 == 0 for i in ids)

    def test_unreadable_tombstones_fail_search(self, spark, tmp_path):
        """Only a missing tombstones dir means "nothing deleted". A dir
        Spark cannot read (a failed write's leftover ``_temporary/``, a
        corrupt file) must fail the search, not bring every deleted id
        back into the results."""
        import os

        from py4j.protocol import Py4JJavaError
        from pyspark.errors import AnalysisException

        from koby_s_ai_vector_db_spark.sources.text_index import (
            TOMBSTONES_SUBDIR,
            build_text_index,
            search_text_index,
        )

        path = str(tmp_path / "idx")
        build_text_index(load_table(spark, SF_DIR, "documents"), path)
        tomb = f"{path}/{TOMBSTONES_SUBDIR}"
        os.makedirs(f"{tomb}/_temporary")
        with pytest.raises(AnalysisException, match="UNABLE_TO_INFER_SCHEMA"):
            search_text_index(spark, path, self._queries(spark)).collect()
        with open(f"{tomb}/part-00000.parquet", "wb") as fh:
            fh.write(b"not a parquet file")
        with pytest.raises(Py4JJavaError):
            search_text_index(spark, path, self._queries(spark)).collect()

    def test_delete_then_append_matches_fresh_build(self, spark, tmp_path):
        from koby_s_ai_vector_db_spark.sources.text_index import (
            append_to_text_index,
            build_text_index,
            delete_from_text_index,
            search_text_index,
        )

        docs = load_table(spark, SF_DIR, "documents")
        old = docs.filter(F.col("doc_id") < 400)
        new = docs.filter(F.col("doc_id") >= 400)
        path = str(tmp_path / "idx")
        build_text_index(old, path)
        delete_from_text_index(
            spark, path, old.filter(F.col("doc_id") % 5 == 0).select("doc_id")
        )
        append_to_text_index(new, path)

        fresh = str(tmp_path / "fresh")
        build_text_index(
            docs.filter(
                (F.col("doc_id") >= 400)
                | ((F.col("doc_id") < 400) & (F.col("doc_id") % 5 != 0))
            ),
            fresh,
        )
        assert _rows(
            search_text_index(spark, path, self._queries(spark))
        ) == _rows(search_text_index(spark, fresh, self._queries(spark)))


class TestPqIndexDelete:
    def _setup(self, spark, tmp_path):
        from koby_s_ai_vector_db_spark.sources.pq_index import (
            build_ivfpq_index,
        )

        emb = load_table(spark, SF_DIR, "embeddings")
        path = str(tmp_path / "ivfpq")
        build_ivfpq_index(emb, path, list_col="label")
        queries = emb.filter(F.col("vec_id") < 4).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
        return emb, path, queries

    def test_deleted_ids_leave_results_and_admit_next_best(
        self, spark, tmp_path
    ):
        from koby_s_ai_vector_db_spark.sources.pq_index import (
            delete_from_index,
            ivfpq_index_search,
        )

        emb, path, queries = self._setup(spark, tmp_path)
        full = ivfpq_index_search(spark, path, queries)
        # Delete every query's own vector (its rank-1 self-hit).
        doomed = spark.createDataFrame(
            [(i,) for i in range(4)], "vec_id bigint"
        )
        out = delete_from_index(spark, path, doomed)
        assert out["n_deleted"] == 4
        got = ivfpq_index_search(spark, path, queries)
        hit_ids = {r["vec_id"] for r in got.collect()}
        assert hit_ids.isdisjoint({0, 1, 2, 3})
        # each query still gets a full top-k: the next-best candidates
        # moved up (delete-before-shortlist, not post-filtering)
        assert got.count() == full.count()
        # idempotent
        assert delete_from_index(spark, path, doomed)["n_deleted"] == 0

    def test_tombstone_search_equals_compacted_search(self, spark, tmp_path):
        import os

        from koby_s_ai_vector_db_spark.sources.pq_index import (
            TOMBSTONES_SUBDIR,
            compact_index,
            delete_from_index,
            ivfpq_index_search,
        )

        emb, path, queries = self._setup(spark, tmp_path)
        doomed = emb.filter(F.col("vec_id") % 7 == 0).select("vec_id")
        delete_from_index(spark, path, doomed)
        before = _rows(ivfpq_index_search(spark, path, queries))

        copy = str(tmp_path / "ivfpq_copy")
        shutil.copytree(path, copy)
        compact_index(spark, copy)
        assert not os.path.exists(f"{copy}/{TOMBSTONES_SUBDIR}")
        after = _rows(ivfpq_index_search(spark, copy, queries))
        assert before == after
        # compaction preserved the list partitioning
        assert any(
            d.startswith("list=") for d in os.listdir(f"{copy}/data")
        )


@pytest.mark.parametrize("index", ["text", "vector"])
def test_delete_adds_no_search_construction_job(spark, tmp_path, index):
    """Tombstones are read with a declared schema, so after a delete a
    search build runs the jobs it ran before: a schema-less tombstones
    read would add one schema-inference job to every search build."""
    from koby_s_ai_vector_db_spark.sources import pq_index, text_index

    path = str(tmp_path / index)
    if index == "text":
        docs = load_table(spark, SF_DIR, "documents")
        text_index.build_text_index(docs, path)
        queries = spark.createDataFrame(
            QUERIES, "query_id bigint, query_text string"
        )

        def search():
            text_index.search_text_index(spark, path, queries)

        def delete():
            text_index.delete_from_text_index(
                spark, path, docs.filter(F.col("doc_id") % 3 == 0).select("doc_id")
            )
    else:
        emb = load_table(spark, SF_DIR, "embeddings")
        pq_index.build_ivfpq_index(emb, path, list_col="label")
        queries = emb.filter(F.col("vec_id") < 4).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )

        def search():
            pq_index.ivfpq_index_search(spark, path, queries)

        def delete():
            pq_index.delete_from_index(
                spark, path, emb.filter(F.col("vec_id") % 7 == 0).select("vec_id")
            )

    before = construction_jobs(spark, search, f"{index}_search_before_delete")
    delete()
    after = construction_jobs(spark, search, f"{index}_search_after_delete")
    assert after == before, (before, after)


class TestTextIndexUpsert:
    def test_upsert_matches_fresh_build_with_new_contents(
        self, spark, tmp_path
    ):
        from koby_s_ai_vector_db_spark.sources.text_index import (
            build_text_index,
            search_text_index,
            upsert_to_text_index,
        )

        docs = load_table(spark, SF_DIR, "documents")
        path = str(tmp_path / "idx")
        build_text_index(docs, path)
        # Replace 1/6 of the docs with rewritten text and add two new ids.
        changed = docs.filter(F.col("doc_id") % 6 == 0).select(
            "doc_id", F.concat(F.lit("spark spark table "), "text").alias("text")
        )
        added = spark.createDataFrame(
            [(900_001, "hash batch merge window"), (900_002, "scan table key")],
            "doc_id bigint, text string",
        )
        out = upsert_to_text_index(changed.unionByName(added), path)
        assert out["n_replaced"] == changed.count()
        assert out["n_upserted"] == changed.count() + 2

        fresh = str(tmp_path / "fresh")
        build_text_index(
            docs.filter(F.col("doc_id") % 6 != 0)
            .select("doc_id", "text")
            .unionByName(changed)
            .unionByName(added),
            fresh,
        )
        queries = spark.createDataFrame(
            QUERIES, "query_id bigint, query_text string"
        )
        assert _rows(search_text_index(spark, path, queries)) == _rows(
            search_text_index(spark, fresh, queries)
        )
