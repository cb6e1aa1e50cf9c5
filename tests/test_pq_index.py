"""Persisted vector index, flat PQ (one list) and IVF+PQ: recall against
the exact search (the shortlist is the recall dial), exact returned
scores, vectors stored as given (element type and values), non-64-d
vectors rejected, and the two prunings the layout exists for — column
pruning on the ADC scan (codes read, vectors not) and partition pruning on
probed lists (counted as partitions read). Values are checked against
DuckDB by the oracle parity of q2_ann_pq_idx / q2_ann_ivfpq_idx
(tests/test_oracle_parity.py); IVF-flat is tests/test_ivf_index.py."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from koby_s_ai_vector_db_spark.operators.similarity import ivf_topk, topk_cosine
from koby_s_ai_vector_db_spark.sources.pq_index import (
    append_to_ivfpq_index,
    build_ivfpq_index,
    ivfpq_index_search,
)
from koby_s_ai_vector_db_spark.sources.tables import load_table
from tests.conftest import (
    SF_DIRS,
    assert_all_zstd,
    construction_jobs,
    partitions_read,
)

SF_DIR = SF_DIRS["t2"]
K = 10
SHORTLIST = 64
N_PROBE = 2
N_LISTS = 10  # the fixture's label lists


def _emb(spark):
    return load_table(spark, SF_DIR, "embeddings")


def _queries(spark):
    return _emb(spark).filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


def _build_flat(corpus, path):
    """Flat PQ: the index over one constant list."""
    return build_ivfpq_index(
        corpus.withColumn("list", F.lit(0)), path, list_col="list"
    )


def _flat_search(spark, path, queries, **kwargs):
    return ivfpq_index_search(spark, path, queries, n_probe=1, **kwargs)


@pytest.fixture(scope="module")
def pq_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("pqidx") / "flat")
    info = _build_flat(_emb(spark).select("vec_id", "embedding"), path)
    assert info["n_vectors"] == _emb(spark).count()
    return path


@pytest.fixture(scope="module")
def ivfpq_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("pqidx") / "ivfpq")
    build_ivfpq_index(
        _emb(spark).select("vec_id", "label", "embedding"), path, list_col="label"
    )
    data = spark.read.parquet(f"{path}/data")
    assert data.select("list").distinct().count() == N_LISTS
    return path


@pytest.fixture(scope="module")
def kmeans_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("pqidx") / "kmeans")
    build_ivfpq_index(_emb(spark).select("vec_id", "embedding"), path, n_lists=10)
    return path


def _pairs(df):
    return {(r.query_id, r.vec_id) for r in df.select("query_id", "vec_id").collect()}


def _assert_scores_exact(spark, approx, nq):
    """Every returned (query, id, sim) carries the exact cosine: the index
    may lose rows (recall < 1), never alter a returned score."""
    emb = _emb(spark).select("vec_id", "embedding")
    exact = topk_cosine(
        emb, _queries(spark).filter(F.col("query_id") < nq),
        k=emb.count(), threshold=-1.0,
    ).select("query_id", "vec_id", "sim")
    joined = approx.alias("a").join(exact.alias("e"), ["query_id", "vec_id"], "left")
    assert joined.filter(F.col("e.sim").isNull()).count() == 0
    assert joined.filter(F.abs(F.col("a.sim") - F.col("e.sim")) > 1e-9).count() == 0


def test_pq_recall_vs_exact(spark, pq_path):
    """PQ ADC shortlist + exact re-rank. Uniform random fixture vectors
    are the WORST case for quantization (no cluster structure for the
    codebook to exploit); measured recall@10 = 0.59 at shortlist=64, 0.85
    at 128. Floors asserted well below measured."""
    exact = _pairs(
        topk_cosine(
            _emb(spark).select("vec_id", "embedding"), _queries(spark),
            k=K, threshold=-1.0,
        )
    )
    recalls = {}
    for sl in (64, 128):
        hits = _pairs(_flat_search(spark, pq_path, _queries(spark), k=K, shortlist=sl))
        recalls[sl] = len(exact & hits) / len(exact)
    print(f"pq recall@{K}: {recalls}")
    assert recalls[64] >= 0.4, recalls
    assert recalls[128] >= recalls[64]  # shortlist is a recall dial
    assert recalls[128] >= 0.6, recalls


def test_pq_scores_are_exact(spark, pq_path):
    approx = _flat_search(
        spark, pq_path, _queries(spark).filter(F.col("query_id") < 4),
        k=5, shortlist=32,
    )
    _assert_scores_exact(spark, approx, 4)


def test_ivfpq_composed_tier(spark, ivfpq_path):
    """IVF+PQ: recall is bounded by the IVF probe (rows outside probed
    lists are invisible); within the probed lists the PQ shortlist + exact
    re-rank must (a) return only exact scores and (b) recover most of what
    the exact search inside the same lists (q2's `ivf_topk` over the same
    labels) returns at the same probe budget."""
    ivf = _pairs(
        ivf_topk(
            _emb(spark).select("vec_id", "label", "embedding"), _queries(spark),
            k=K, n_probe_labels=N_PROBE,
        )
    )
    composed = ivfpq_index_search(
        spark, ivfpq_path, _queries(spark), k=K, n_probe=N_PROBE, shortlist=SHORTLIST
    )
    recall_vs_ivf = len(ivf & _pairs(composed)) / len(ivf)
    print(f"ivfpq recall vs exact-in-probed-lists: {recall_vs_ivf:.3f}")
    assert recall_vs_ivf >= 0.5, recall_vs_ivf
    _assert_scores_exact(spark, composed, 8)


def test_index_files_are_zstd(pq_path, ivfpq_path):
    assert_all_zstd(pq_path)
    assert_all_zstd(ivfpq_path)


def _scan_lines(df):
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan, [ln.strip() for ln in plan.splitlines() if "FileScan parquet" in ln]


def test_adc_scan_prunes_vector_column(spark, pq_path):
    """The hot scan must read (vec_id, codes) only — if the vec column
    (256 bytes per row at 64-d float32) appears in the ADC scan's
    ReadSchema, the code-only read is gone."""
    df = _flat_search(spark, pq_path, _queries(spark), k=K, shortlist=SHORTLIST)
    plan, scans = _scan_lines(df)
    code_scans = [ln for ln in scans if "codes" in ln]
    assert code_scans, plan
    for ln in code_scans:
        assert "vec" not in ln.replace("vec_id", "id"), ln


def test_ivfpq_static_prune_reaches_partition_filters(spark, ivfpq_path):
    """The probe must prune the ADC codes scan: unprobed list partitions
    are never opened, not filtered post-read. The re-rank fetch of the
    shortlist's vectors reads only the probed lists too: every shortlisted
    id comes from them."""
    df = ivfpq_index_search(
        spark, ivfpq_path, _queries(spark), k=K, n_probe=N_PROBE, shortlist=SHORTLIST
    )
    parts = partitions_read(df)

    def scans(col):
        return [
            n for (root, cols), n in parts.items()
            if root.endswith("/data") and col in cols
        ]

    adc, fetch = scans("codes"), scans("vec")
    assert adc and max(adc) < N_LISTS, parts
    assert fetch and max(fetch) <= max(adc), parts


def _stored_vectors(spark, path):
    data = spark.read.parquet(path + "/data")
    return (
        data.schema["vec"].dataType.elementType.typeName(),
        {r.vec_id: list(r.vec) for r in data.select("vec_id", "vec").collect()},
    )


def _input_vectors(df):
    return {r.vec_id: list(r.embedding) for r in df.collect()}


def test_index_stores_input_vector_as_given(
    spark, pq_path, ivfpq_path, kmeans_path, tmp_path
):
    """``vec`` is the input vector as given — element type and values, not
    a normalized double copy — for every build path; a double input stays
    double."""
    emb = _emb(spark).select("vec_id", "embedding")
    floats = _input_vectors(emb)
    for path in (pq_path, ivfpq_path, kmeans_path):
        assert _stored_vectors(spark, path) == ("float", floats), path

    dbl = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    flat_dbl = str(tmp_path / "flat_double")
    _build_flat(dbl, flat_dbl)
    assert _stored_vectors(spark, flat_dbl) == ("double", _input_vectors(dbl))


def test_incremental_append_equals_full_build(spark, tmp_path_factory):
    """Appending the second half of the corpus into an index built on the
    first half must yield the same search results as one label-built index
    over everything: with the fixture's label lists, nearest-per-label-mean
    assignment of the appended rows equals their labels only if centroids
    are honored — instead we assert the STRUCTURAL contract: all rows
    present, appended rows encoded with the frozen codebook (self-search
    finds them at rank 1 with exact sim 1.0).

    The appended half arrives as ``array<double>`` while the index stores
    ``array<float>``: the appender casts it, so every data file keeps the
    one vector schema the build wrote."""
    import glob

    import pyarrow.parquet as pq

    emb = _emb(spark).select("vec_id", "embedding")
    path = str(tmp_path_factory.mktemp("pqidx") / "incr")
    first = emb.filter(F.col("vec_id") % 2 == 0)
    second = emb.filter(F.col("vec_id") % 2 == 1).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )
    info = build_ivfpq_index(first, path, n_lists=10)
    assert info["n_vectors"] == first.count()
    append_to_ivfpq_index(second, path)
    data = spark.read.parquet(path + "/data")
    assert data.count() - info["n_vectors"] == second.count()
    assert data.count() == emb.count()
    assert data.select("vec_id").distinct().count() == emb.count()
    assert data.schema["vec"].dataType.simpleString() == "array<float>"
    files = glob.glob(path + "/data/**/*.parquet", recursive=True)
    assert files and {
        str(pq.read_schema(f).field("vec").type.value_type) for f in files
    } == {"float"}

    # Appended vectors are searchable: querying an appended (odd-id) vector
    # finds itself at rank 1 with exact re-ranked sim 1.0 — its own cell is
    # by construction its nearest centroid, so the probe always covers it.
    qs = emb.filter(F.col("vec_id").isin([1, 3, 5, 7])).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    res = ivfpq_index_search(spark, path, qs, k=K, n_probe=N_PROBE, shortlist=SHORTLIST)
    top1 = {r.query_id: (r.vec_id, r.sim) for r in res.collect() if r.rank == 1}
    assert set(top1) == {1, 3, 5, 7}
    for qid, (vid, sim) in top1.items():
        assert vid == qid and sim == pytest.approx(1.0, abs=1e-6)


def test_append_reads_element_type_from_the_sidecar(spark, tmp_path):
    """The append casts to the element type the build recorded in the
    centroids sidecar. In a copy of the index (a file list no memo has
    seen) it reads the type from there; a sidecar without it, as an older
    build wrote, is refused by name."""
    import glob
    import shutil

    import pyarrow.parquet as pq

    corpus = _vectors(spark, 64)
    built, copy = str(tmp_path / "built"), str(tmp_path / "copy")
    build_ivfpq_index(
        corpus.withColumn("embedding", F.col("embedding").cast("array<double>")),
        built, list_col="label",
    )
    shutil.copytree(built, copy)
    append_to_ivfpq_index(corpus.withColumn("vec_id", F.col("vec_id") + 100), copy)
    files = glob.glob(copy + "/data/**/*.parquet", recursive=True)
    assert {str(pq.read_schema(f).field("vec").type.value_type) for f in files} == {
        "double"
    }

    old = str(tmp_path / "old")
    shutil.copytree(built, old)
    spark.read.parquet(old + "/centroids").select("list", "centroid").write.parquet(
        old + "/centroids_old"
    )
    shutil.rmtree(old + "/centroids")
    shutil.move(old + "/centroids_old", old + "/centroids")
    with pytest.raises(ValueError, match="centroids has no elem_type"):
        append_to_ivfpq_index(corpus, old)


def test_search_construction_runs_only_the_probe_collect(spark, ivfpq_path, tmp_path):
    """Building an IVF+PQ search runs the probe-id collect (four jobs
    under AQE) and no schema-inference job: `data` is read under the
    schema the centroids sidecar records, the codebook under
    CODEBOOK_SCHEMA. In a copy of the index (a file list no memo has
    seen) one more job reads the sidecar's one row, still no inference.
    The declared schema reads the values the build wrote."""
    import shutil

    copy = str(tmp_path / "copy")
    shutil.copytree(ivfpq_path, copy)
    qs = _queries(spark)
    found = {}
    for name, path, want in (("built", ivfpq_path, (4, 0)), ("copy", copy, (5, 0))):
        jobs = construction_jobs(
            spark,
            lambda: found.__setitem__(name, ivfpq_index_search(
                spark, path, qs, k=K, n_probe=N_PROBE, shortlist=SHORTLIST
            )),
            f"ivfpq_search_construction_{name}",
        )
        assert jobs == want, (name, jobs)
    rows = {
        name: sorted(tuple(r) for r in df.collect()) for name, df in found.items()
    }
    assert rows["built"] and rows["built"] == rows["copy"]


def test_learned_kmeans_build_recall(spark, kmeans_path):
    """The k-means build path (no list_col) is engine-specific float
    iteration — recall-tested like IVF-flat: searching the index must
    find the query vector itself at rank 1 (sim 1.0) for every query."""
    res = ivfpq_index_search(
        spark, kmeans_path, _queries(spark), k=K, n_probe=N_PROBE,
        shortlist=SHORTLIST,
    ).collect()
    top1 = {r.query_id: (r.vec_id, r.sim) for r in res if r.rank == 1}
    assert set(top1) == set(range(8))
    # PQ is approximate at the SHORTLIST stage: a self-vector can miss the
    # 64-row ADC cut (on this seeded build exactly one of 8 does — query 5).
    # Every self that survives the shortlist must re-rank to 1 with an
    # exact sim of 1.0; at least 6/8 must.
    self_at_1 = [
        qid for qid, (vid, sim) in top1.items()
        if vid == qid and sim == pytest.approx(1.0, abs=1e-6)
    ]
    assert len(self_at_1) >= 6, top1
    for r in res:
        if r.vec_id == r.query_id:
            assert r.rank == 1 and r.sim == pytest.approx(1.0, abs=1e-6)


def _vectors(spark, dim, n=40):
    import random

    rnd = random.Random(dim)
    return spark.createDataFrame(
        [(i, i % 4, [rnd.uniform(-1, 1) for _ in range(dim)]) for i in range(n)],
        "vec_id long, label int, embedding array<float>",
    )


@pytest.mark.parametrize("dim", [32, 128])
def test_wrong_vector_size_is_rejected(spark, pq_path, ivfpq_path, tmp_path, dim):
    """Codes read dims 1..64, so unchecked, a 32-d vector fails deep in
    the plan and a 128-d one is silently truncated (its list_col centroids
    come out 64-d and every probe dot is NULL). Every build, append and
    search raises an error naming both sizes instead."""
    import shutil

    bad = _vectors(spark, dim)
    want = f"needs 64-d vectors; embedding has {dim} dims"
    with pytest.raises(Exception, match=want):
        _build_flat(bad, str(tmp_path / "flat"))
    with pytest.raises(Exception, match=want):
        build_ivfpq_index(bad, str(tmp_path / "lists"), list_col="label")
    with pytest.raises(Exception, match=want):
        build_ivfpq_index(bad, str(tmp_path / "kmeans"), n_lists=2)
    appended = str(tmp_path / "appended")
    shutil.copytree(ivfpq_path, appended)
    with pytest.raises(Exception, match=want):
        append_to_ivfpq_index(bad, appended)

    qs = bad.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    ).limit(2)
    want = f"needs 64-d vectors; query_vec has {dim} dims"
    with pytest.raises(Exception, match=want):
        _flat_search(spark, pq_path, qs).collect()
    with pytest.raises(Exception, match=want):
        ivfpq_index_search(spark, ivfpq_path, qs).collect()
    with pytest.raises(Exception, match=want):
        ivfpq_index_search(spark, ivfpq_path, qs, shortlist=None).collect()
