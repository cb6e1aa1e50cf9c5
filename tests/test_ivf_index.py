"""IVF-flat over the persisted vector index (sources/pq_index.py, k-means
lists, ``shortlist=None``): build → list-partitioned parquet layout,
search → partition-pruned probe, every probed row scored exactly. The
Spark analogue of the reference's faiss_index.bin save/load
(embed_pdfs.py:222-244) + pgvector ivfflat (supabase_schema.sql:137-139)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from koby_s_ai_vector_db_spark.operators.similarity import ivf_topk, topk_cosine
from koby_s_ai_vector_db_spark.sources.pq_index import (
    build_ivfpq_index,
    ivfpq_index_search,
)
from koby_s_ai_vector_db_spark.sources.tables import load_table
from tests.conftest import SF_DIRS, construction_jobs, partitions_read

N_LISTS, K = 8, 10


@pytest.fixture(scope="module")
def index_path(spark, tmp_path_factory):
    emb = load_table(spark, SF_DIRS["t1"], "embeddings")
    path = str(tmp_path_factory.mktemp("ivf"))
    stats = build_ivfpq_index(
        emb.select("vec_id", "embedding"), path, n_lists=N_LISTS
    )
    assert stats["n_vectors"] == emb.count()
    return path


def _ivf_flat_search(spark, path, queries, n_probe):
    return ivfpq_index_search(
        spark, path, queries, k=K, n_probe=n_probe, shortlist=None
    )


def _queries(spark, nq):
    emb = load_table(spark, SF_DIRS["t1"], "embeddings")
    return emb.filter(F.col("vec_id") < nq).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


def _exact_set(spark, nq):
    emb = load_table(spark, SF_DIRS["t1"], "embeddings")
    exact = topk_cosine(
        emb.select("vec_id", "embedding"), _queries(spark, nq), k=K, threshold=-1.0
    )
    return {(r.query_id, r.vec_id) for r in exact.select("query_id", "vec_id").collect()}


def test_layout_on_disk(index_path):
    lists = {d for d in os.listdir(f"{index_path}/data") if d.startswith("list=")}
    assert lists == {f"list={i}" for i in range(N_LISTS)}
    assert os.path.isdir(f"{index_path}/centroids")


def test_recall(spark, index_path):
    """Learned lists at 3-of-8 probes recover most of the exact top-10."""
    exact = _exact_set(spark, 8)
    res = _ivf_flat_search(spark, index_path, _queries(spark, 8), n_probe=3)
    hits = {(r.query_id, r.vec_id) for r in res.collect()}
    recall = len(exact & hits) / len(exact)
    print(f"ivf-index recall@{K} (3/{N_LISTS} probes): {recall:.3f}")
    assert recall >= 0.4, recall  # measured 0.70; floored well below for stability


def test_full_probe_equals_exact(spark, index_path):
    """Probing every list must reproduce the exact search bit-for-bit —
    the index only prunes, never rescores."""
    exact = _exact_set(spark, 8)
    full = _ivf_flat_search(spark, index_path, _queries(spark, 8), n_probe=N_LISTS)
    got = {(r.query_id, r.vec_id) for r in full.select("query_id", "vec_id").collect()}
    assert got == exact


def test_partition_pruning_in_plan(spark, index_path):
    """The probe must prune the lists scan: 2 queries x 2 probes open at
    most 4 of the 8 list partitions — unprobed lists are never read."""
    q2 = _queries(spark, 2)
    parts = partitions_read(_ivf_flat_search(spark, index_path, q2, n_probe=2))
    lists = [n for (root, _), n in parts.items() if root.endswith("/data")]
    assert lists and 0 < max(lists) <= 4, parts


def test_search_construction_reads_centroids_with_schema(spark, index_path):
    """Building a search runs only the bounded probe-id collect (four jobs
    under AQE: centroid broadcast, rank-window shuffle, distinct shuffle,
    result). The `centroids` sidecar has a fixed schema and is read with
    it (CENTROIDS_SCHEMA); `data` is read under the schema its
    `elem_type`/`id_type` record (memoized by the build); IVF-flat never
    reads the codebook. So no schema-inference job."""
    q2 = _queries(spark, 2)
    jobs = construction_jobs(
        spark,
        lambda: _ivf_flat_search(spark, index_path, q2, n_probe=2),
        "ivf_search_construction",
    )
    assert jobs == (4, 0), jobs


def test_kmeans_ivf_beats_random_labels(spark, tmp_path_factory):
    """Learned k-means lists (pgvector's actual ivfflat build) must beat
    random-label partitioning at an equal probe budget: 2 of 10 lists
    each. Fixture embeddings are uniform random, so the gain is modest
    (geometrically coherent Voronoi cells vs arbitrary ones); on real
    clustered embeddings the gap widens sharply."""
    emb = load_table(spark, SF_DIRS["t2"], "embeddings")
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )

    def pairs(df):
        return {(r.query_id, r.vec_id) for r in df.select("query_id", "vec_id").collect()}

    exact = pairs(
        topk_cosine(emb.select("vec_id", "embedding"), queries, k=K, threshold=-1.0)
    )
    rand = pairs(
        ivf_topk(emb.select("vec_id", "label", "embedding"), queries, k=K, n_probe_labels=2)
    )
    path = str(tmp_path_factory.mktemp("ivf_t2"))
    build_ivfpq_index(emb.select("vec_id", "embedding"), path, n_lists=10)
    learned = pairs(_ivf_flat_search(spark, path, queries, n_probe=2))

    rand_recall = len(exact & rand) / len(exact)
    learned_recall = len(exact & learned) / len(exact)
    print(f"recall@{K}: random-label {rand_recall:.3f}, k-means {learned_recall:.3f}")
    assert learned_recall >= rand_recall
    assert learned_recall >= 0.3, learned_recall
