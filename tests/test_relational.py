"""Relational queries: the TPC-H Q3 shuffle-path twin.

The Q3 shape must survive the scale regime where its customer side stops
being broadcastable. The twin
(queries/relational_q.py::rel_shipping_priority_shuffle) forces the
shuffle join with merge hints; these tests pin (1) that it actually
plans as a sort-merge join — a silently-ignored hint would make the sf1
probe measure the broadcast plan twice — and (2) that it returns
byte-identical results to the registered broadcast-path query.
"""

from __future__ import annotations

from tests.conftest import SF_DIRS

SF_DIR = SF_DIRS["t2"]


def _rows(df):
    return sorted(map(tuple, ((r[c] for c in sorted(df.columns)) for r in df.collect())))


def test_q3_shuffle_twin_matches_broadcast_plan(spark):
    from koby_s_ai_vector_db_spark.queries.relational_q import (
        rel_shipping_priority,
        rel_shipping_priority_shuffle,
    )

    a = _rows(rel_shipping_priority(spark, SF_DIR))
    b = _rows(rel_shipping_priority_shuffle(spark, SF_DIR))
    assert a == b
    assert a, "fixture must produce a non-empty top-10"


def test_q3_shuffle_twin_plans_sort_merge(spark):
    from koby_s_ai_vector_db_spark.queries.relational_q import (
        rel_shipping_priority_shuffle,
    )

    p = (
        rel_shipping_priority_shuffle(spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SortMergeJoin" in p, p.splitlines()[:10]
    assert "BroadcastHashJoin" not in p, "hint ignored — probe would lie"
