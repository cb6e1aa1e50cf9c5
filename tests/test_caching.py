"""Memo store contract: one object per (application, key), one eviction
path that makes every memoized build re-run."""

from __future__ import annotations

from types import SimpleNamespace

import pyspark.sql.functions as F

from koby_s_ai_vector_db_spark.functions import caching
from koby_s_ai_vector_db_spark.functions.partitioning import spread
from tests.conftest import SF_DIRS


def test_memo_persist_builds_once_and_reuses(spark):
    calls = []

    def build():
        calls.append(1)
        return spark.range(10).withColumn("x", F.col("id") * 2)

    a = caching.memo_persist(spark, ("t", "k1"), build)
    b = caching.memo_persist(spark, ("t", "k1"), build)
    assert a is b and len(calls) == 1
    assert a.storageLevel.useMemory  # persisted
    c = caching.memo_persist(spark, ("t", "k2"), build)
    assert c is not a and len(calls) == 2
    assert a.count() == 10

    caching.evict_application(spark)
    assert not a.storageLevel.useMemory  # eviction unpersists
    d = caching.memo_persist(spark, ("t", "k1"), build)
    assert d is not a and len(calls) == 3  # rebuilt after eviction
    caching.evict_application(spark)


def test_repeated_query_calls_do_not_accumulate_cache_entries(spark):
    """Round-12 leak-class guard: a registered query called repeatedly
    (bench passes, fused pipelines) must not register NEW cache entries
    per call. dedup_incremental used persist_uncached on the new batch's
    grams — every call created a fresh .persist() nothing released, and
    abandoned copies accumulated until memory pressure (standalone sf1
    passes read [55.8, 44.7, 11.2] s). Both of its sides memoize now;
    this pins the invariant for the query AND the memo store itself."""
    from koby_s_ai_vector_db_spark import registry

    sf_dir = SF_DIRS["t1"]
    fn = registry.queries()["dedup_incremental"]
    jsc = spark.sparkContext._jsc.sc()

    fn(spark, sf_dir).count()  # builds + registers the memos
    n_memo_before = len(caching.memo_keys(spark))
    n_rdds_before = jsc.getPersistentRDDs().size()
    for _ in range(3):
        fn(spark, sf_dir).count()
    assert len(caching.memo_keys(spark)) == n_memo_before
    # One-sided: GROWTH is the leak signal. In a full-suite run the JVM's
    # ContextCleaner asynchronously unpersists RDDs abandoned by EARLIER
    # tests, so the absolute count can legitimately SHRINK mid-test — an
    # equality assert flakes on that (round-13 full-suite run).
    assert jsc.getPersistentRDDs().size() <= n_rdds_before


def _count_calls(monkeypatch, module, name, result=None, call_through=False):
    """Replace ``module.name`` with a wrapper that records each call and
    returns ``result`` (or the real function's result)."""
    real = getattr(module, name)
    calls = []

    def wrapper(*args, **kwargs):
        calls.append(1)
        return real(*args, **kwargs) if call_through else result

    monkeypatch.setattr(module, name, wrapper)
    return calls


def test_evict_application_reruns_every_builder(spark, monkeypatch):
    """After evict_application each memoized build must run again: the
    scratch text and PQ indexes, the learned BPE state and PCA model, and
    the fixture-table plan. A memo that survives eviction serves state
    built under the old session settings (e.g. a determinism test's
    second pass reusing an index built at another parallelism)."""
    from koby_s_ai_vector_db_spark.operators import bpe, pca
    from koby_s_ai_vector_db_spark.queries import corpus_q, training_q, vector_q
    from koby_s_ai_vector_db_spark.sources import pq_index, tables, text_index

    sf_dir = SF_DIRS["t1"]
    # Stubbed builders keep this cheap; the store is evicted at the end,
    # so no stub result outlives the test.
    builds = {
        "text_index": _count_calls(monkeypatch, text_index, "build_text_index"),
        "pq_index": _count_calls(monkeypatch, pq_index, "build_ivfpq_index"),
        "bpe_state": _count_calls(monkeypatch, bpe, "learn_bpe", ([], {})),
        "pca_model": _count_calls(monkeypatch, pca, "fit_pca", object()),
        "load_table": _count_calls(
            monkeypatch, tables, "_read_table", call_through=True
        ),
    }
    _count_calls(monkeypatch, pq_index, "ivfpq_index_search")

    def build_all():
        return {
            "text_index": corpus_q.text_index_path(spark, sf_dir),
            "pq_index": vector_q.q2_ann_pq_idx(spark, sf_dir),
            "bpe_state": training_q._bpe_state(spark, sf_dir),
            "pca_model": vector_q._pca_model(spark, sf_dir),
            "load_table": tables.load_table(spark, sf_dir, "part"),
        }

    def counts():
        return {k: len(v) for k, v in builds.items()}

    caching.evict_application(spark)
    try:
        build_all()
        first = counts()
        assert all(first.values()), first
        build_all()
        assert counts() == first, "second build must hit every memo"
        caching.evict_application(spark)
        build_all()
        assert counts() == {k: 2 * n for k, n in first.items()}
    finally:
        caching.evict_application(spark)


def test_new_application_drops_old_entries():
    """The store holds one application: the first use under a new
    applicationId drops what the previous one stored."""

    def session(app_id):
        return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))

    app_a, app_b = session("stub-app-a"), session("stub-app-b")
    calls = []

    def build():
        calls.append(1)
        return len(calls)

    assert caching.memo(app_a, "k", build) == 1
    assert caching.memo(app_a, "k", build) == 1  # memo hit
    assert caching.memo_keys(app_a) == ["k"]
    assert caching.memo(app_b, "k", build) == 2  # new app: rebuilt
    assert caching.memo_keys(app_b) == ["k"]
    assert caching.memo_keys(app_a) == []
    assert caching.memo(app_a, "k", build) == 3  # app_b's entry is not app_a's


def test_memo_returns_same_plan_object(spark):
    built = []

    def builder():
        built.append(1)
        return spark.createDataFrame([(1, "a")], "id bigint, s string")

    a = caching.memo(spark, ("t_plan_memo", "memo"), builder)
    b = caching.memo(spark, ("t_plan_memo", "memo"), builder)
    assert a is b, "memo must return the identical DataFrame object"
    assert built == [1], "builder must run exactly once per key"
    # distinct key -> fresh build
    c = caching.memo(spark, ("t_plan_memo", "memo", 2), builder)
    assert c is not a and built == [1, 1]


def test_evict_application_clears_width_memo(spark):
    """evict_application must drop the width entries along with every
    other memo (ADVICE r13)."""
    spread(spark.range(0, 2000))  # ensure at least one width entry
    assert any(k[0] == "spread_width" for k in caching.memo_keys(spark))
    caching.evict_application(spark)
    assert caching.memo_keys(spark) == []
