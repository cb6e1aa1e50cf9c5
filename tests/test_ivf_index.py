"""Persisted IVF index (sources/ivf.py): build → partitioned parquet layout,
search → partition-pruned probe. The Spark analogue of the reference's
faiss_index.bin save/load (embed_pdfs.py:222-244) + pgvector ivfflat
(supabase_schema.sql:137-139)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from koby_s_ai_vector_db_spark.operators.similarity import topk_cosine
from koby_s_ai_vector_db_spark.sources.ivf import build_ivf_index, ivf_index_search
from koby_s_ai_vector_db_spark.sources.tables import load_table
from tests.conftest import SF_DIRS

N_LISTS, K = 8, 10


@pytest.fixture(scope="module")
def index_path(spark, tmp_path_factory):
    emb = load_table(spark, SF_DIRS["t1"], "embeddings")
    path = str(tmp_path_factory.mktemp("ivf"))
    stats = build_ivf_index(
        emb.select("vec_id", "embedding"), path, n_lists=N_LISTS, max_iter=3
    )
    assert stats["n_vectors"] == emb.count()
    return path


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
    lists = {d for d in os.listdir(f"{index_path}/lists") if d.startswith("list=")}
    assert lists == {f"list={i}" for i in range(N_LISTS)}
    assert os.path.isdir(f"{index_path}/centroids")


def test_recall_and_mode_equivalence(spark, index_path):
    """Learned lists at 3-of-8 probes recover most of the exact top-10, and
    the two pruning modes return identical results (same semantics, different
    physical scan)."""
    exact = _exact_set(spark, 8)
    got = {}
    for mode in ("static", "dynamic"):
        res = ivf_index_search(spark, index_path, _queries(spark, 8), k=K, n_probe=3, prune=mode)
        got[mode] = {(r.query_id, r.vec_id, r.sim, r.rank) for r in res.collect()}
    assert got["static"] == got["dynamic"]
    hits = {(q, v) for q, v, _, _ in got["static"]}
    recall = len(exact & hits) / len(exact)
    print(f"ivf-index recall@{K} (3/{N_LISTS} probes): {recall:.3f}")
    assert recall >= 0.4, recall  # measured 0.70; floored well below for stability


def test_full_probe_equals_exact(spark, index_path):
    """Probing every list must reproduce the exact search bit-for-bit —
    the index only prunes, never rescores."""
    exact = _exact_set(spark, 8)
    full = ivf_index_search(
        spark, index_path, _queries(spark, 8), k=K, n_probe=N_LISTS, prune="dynamic"
    )
    got = {(r.query_id, r.vec_id) for r in full.select("query_id", "vec_id").collect()}
    assert got == exact


def test_partition_pruning_in_plan(spark, index_path):
    """The probe must reach the scan as a partition filter: a static IN
    over the probed subset, and a dynamicpruningexpression in dynamic mode —
    unprobed lists are never read off disk."""
    q2 = _queries(spark, 2)  # 2 queries x 2 probes -> at most 4 of 8 lists
    stat = ivf_index_search(spark, index_path, q2, k=K, n_probe=2, prune="static")
    splan = stat._jdf.queryExecution().executedPlan().toString()
    pf = [l for l in splan.splitlines() if "PartitionFilters" in l and "lists" in l]
    assert pf, "no partitioned scan of the lists dir in the static plan"
    in_clause = pf[0].split("PartitionFilters: [")[1].split(" IN (")[1].split(")")[0]
    probed = {int(x) for x in in_clause.split(",")}
    assert 0 < len(probed) <= 4, probed

    dyn = ivf_index_search(spark, index_path, q2, k=K, n_probe=2, prune="dynamic")
    dplan = dyn._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in dplan.lower()


def test_probe_memo_keyed_on_n_probe(spark, index_path):
    """A memoized static probe list must not be served to a search with
    another n_probe: the second, all-lists search equals the unmemoized
    one (a stale two-probe list set would drop most lists)."""
    key = ("memo_n_probe_test", index_path)
    ivf_index_search(
        spark, index_path, _queries(spark, 8), k=K, n_probe=2, probe_memo_key=key
    ).collect()
    memoized = ivf_index_search(
        spark, index_path, _queries(spark, 8), k=K, n_probe=N_LISTS,
        probe_memo_key=key,
    )
    plain = ivf_index_search(spark, index_path, _queries(spark, 8), k=K, n_probe=N_LISTS)
    assert sorted(map(tuple, memoized.collect())) == sorted(map(tuple, plain.collect()))


def test_probe_memo_not_served_across_rebuild(spark, tmp_path):
    """A same-path rebuild with other lists must re-probe: the memo key
    carries the centroid files, so the four-list build's probe set (all
    of 0..3) is not reused by the eight-list build at the same n_probe."""
    emb = load_table(spark, SF_DIRS["t1"], "embeddings").select("vec_id", "embedding")
    path, key = str(tmp_path / "ivf"), ("memo_rebuild_test", str(tmp_path))
    build_ivf_index(emb, path, n_lists=4, max_iter=3)
    ivf_index_search(
        spark, path, _queries(spark, 8), k=K, n_probe=4, probe_memo_key=key
    ).collect()
    build_ivf_index(emb, path, n_lists=N_LISTS, max_iter=3)
    memoized = ivf_index_search(
        spark, path, _queries(spark, 8), k=K, n_probe=4, probe_memo_key=key
    )
    plain = ivf_index_search(spark, path, _queries(spark, 8), k=K, n_probe=4)
    assert sorted(map(tuple, memoized.collect())) == sorted(map(tuple, plain.collect()))
