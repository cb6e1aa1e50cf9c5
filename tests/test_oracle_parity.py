"""Driver-mirror test: every registered query with an oracle must match
DuckDB at sf0.01 (the driver's correctness gate) — auto-covers new queries
as they are registered."""

from __future__ import annotations

import pytest

from koby_s_ai_vector_db_spark import registry
from tests.conftest import SF_DIRS, assert_matches_oracle, register_views

SF_DIR = SF_DIRS["t2"]


def _names():
    return sorted(registry.oracle_sql().keys())


@pytest.mark.parametrize("name", _names())
def test_query_matches_oracle(spark, duck, name):
    fn = registry.queries()[name]
    sql = registry.oracle_sql()[name]
    register_views(duck, SF_DIR)
    assert_matches_oracle(fn(spark, SF_DIR), duck, sql)


# Round-8 consolidation folds (SURVEY §9 → §8): unregistered from the
# driver window, but the capability keeps its oracle parity here so a
# regression in the shared library paths stays loud.
def _folded():
    from koby_s_ai_vector_db_spark.queries import (
        analytics_q,
        corpus_q,
        fusion_q,
    )

    return [
        ("a7_activity_breakdown", analytics_q.a7_activity_breakdown,
         analytics_q._A7_ORACLE),
        # Round-9 folds: the two contamination widths →
        # ngram_contamination_both; a5 → a6's live_users column
        ("ngram_contamination", corpus_q.ngram_contamination_q,
         corpus_q._CONTAM_ORACLE),
        ("ngram_contamination_13", corpus_q.ngram_contamination_13_q,
         corpus_q._CONTAM13_ORACLE),
        ("a5_live_users", analytics_q.a5_live_users, analytics_q._A5_ORACLE),
        # Round-10 fold: a7_user_activity → a6's u7_* columns
        ("a7_user_activity", analytics_q.a7_user_activity,
         analytics_q._A7U_ORACLE),
        ("q8_faiss_quality", fusion_q.q8_faiss_quality, fusion_q._Q8_ORACLE),
        ("q9_contribution_quality", fusion_q.q9_contribution_quality,
         fusion_q._Q9_ORACLE),
        # Round-10 late fold (ladder step 4): q13 → q7_fusion's
        # query_length / search_effectiveness / recommendation columns
        ("q13_effectiveness", fusion_q.q13_effectiveness,
         fusion_q._Q13_ORACLE),
    ]


@pytest.mark.parametrize("name,fn,sql", _folded(), ids=lambda p: p if isinstance(p, str) else "")
def test_folded_query_matches_oracle(spark, duck, name, fn, sql):
    register_views(duck, SF_DIR)
    assert_matches_oracle(fn(spark, SF_DIR), duck, sql)


def test_all_queries_return_rows(spark):
    """Queries without an oracle still must run and be non-degenerate."""
    for name, fn in registry.queries().items():
        df = fn(spark, SF_DIRS["t1"])
        assert df.columns, name
        df.limit(1).collect()  # must at least execute
