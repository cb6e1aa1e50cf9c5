"""Results must not depend on the session's parallelism.

The driver runs the registry under ITS OWN SparkSession (unknown
shuffle-partition count, AQE coalescing); the oracle comparison is
value-hash exact. Any operator whose output shifts with partitioning —
order-dependent double accumulation, partition-local tie-breaks, first()
without an ordering — would pass the local suite (fixed 8 partitions)
and fail the driver nondeterministically. This test runs a float-heavy /
rank-heavy sample of the registry at 8 and again at 3 shuffle
partitions and requires bit-identical collected rows.

Every memo is evicted between passes (functions/caching.py
::evict_application) — persists, learned state and scratch indexes alike
— so the second pass genuinely rebuilds under the new parallelism instead
of reading state the first pass built.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_DIRS

SF_DIR = SF_DIRS["t2"]

# Queries chosen for float aggregation chains, rank windows with ties,
# sampling, and the new prebuilds; integer-only queries are implicitly
# covered by the oracle suite.
SAMPLE = [
    "q1_topk_cosine",
    "hybrid_rrf",
    "m9_snapshot_drift",
    "vocab_zipf",
    "dsir_score",
    "a14_value_quantiles",
    "rel_pricing_summary",
    "emb_quality_report",
]


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("name", SAMPLE)
def test_result_invariant_to_shuffle_partitions(spark, name):
    from koby_s_ai_vector_db_spark import registry
    from koby_s_ai_vector_db_spark.functions.caching import evict_application

    fn = registry.queries()[name]
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    evict_application(spark)
    try:
        a = _rows(fn(spark, SF_DIR))
        evict_application(spark)
        spark.conf.set(key, "3")
        b = _rows(fn(spark, SF_DIR))
    finally:
        spark.conf.set(key, before)
        evict_application(spark)
    assert a == b, f"{name} output depends on parallelism"


def test_prebuilt_invariant_to_shuffle_partitions(spark):
    from koby_s_ai_vector_db_spark.functions.caching import evict_application
    from koby_s_ai_vector_db_spark.queries.analytics_q import a27_value_mad
    from koby_s_ai_vector_db_spark.queries.graph_q import graph_pagerank
    from koby_s_ai_vector_db_spark.queries.vector_q import emb_label_centroids

    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    for fn in (a27_value_mad, emb_label_centroids, graph_pagerank):
        evict_application(spark)
        try:
            a = _rows(fn(spark, SF_DIR))
            evict_application(spark)
            spark.conf.set(key, "3")
            b = _rows(fn(spark, SF_DIR))
        finally:
            spark.conf.set(key, before)
            evict_application(spark)
        assert a == b, f"{fn.__name__} output depends on parallelism"
