"""Driver-mirror test: every registered query with an oracle must match
DuckDB at sf0.01 (the driver's correctness gate) — auto-covers new queries
as they are registered."""

from __future__ import annotations

import pytest

from koby_s_ai_vector_db_spark import registry
from koby_s_ai_vector_db_spark.sources.tables import NOW_TS, load_table
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


# The A7 per-type panel (lifebench's dashboard calls `activity_breakdown`)
# has no registered query; its values are checked against DuckDB here.
_ACTIVITY_BREAKDOWN_ORACLE = f"""
SELECT event_type,
       count(*) AS n_events,
       count(DISTINCT user_id) AS n_users,
       round(avg(value), 6) AS avg_value
FROM events
WHERE ts >= TIMESTAMP '{NOW_TS}' - INTERVAL 7 DAY AND ts <= TIMESTAMP '{NOW_TS}'
GROUP BY event_type
"""


def test_activity_breakdown_matches_oracle(spark, duck):
    from koby_s_ai_vector_db_spark.operators.analytics import activity_breakdown

    register_views(duck, SF_DIR)
    df = activity_breakdown(load_table(spark, SF_DIR, "events"))
    assert df.count() > 0
    assert_matches_oracle(df, duck, _ACTIVITY_BREAKDOWN_ORACLE)


def test_all_queries_return_rows(spark):
    """Queries without an oracle still must run and be non-degenerate."""
    for name, fn in registry.queries().items():
        df = fn(spark, SF_DIRS["t1"])
        assert df.columns, name
        df.limit(1).collect()  # must at least execute
