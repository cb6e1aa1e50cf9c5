"""asof_join semantics on hand-built frames (cross-engine parity of the
registered query is covered by tests/test_oracle_parity.py against DuckDB's
native ASOF JOIN)."""

from __future__ import annotations

import pytest

from koby_s_ai_vector_db_spark.operators.asof import asof_join


def _frames(spark):
    left = spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00", 100),
            (1, "2024-01-01 12:00:00", 101),
            (1, "2024-01-01 09:00:00", 102),  # before any update
            (2, "2024-01-01 11:30:00", 200),
        ],
        "k bigint, ts string, ev bigint",
    ).selectExpr("k", "CAST(ts AS TIMESTAMP_NTZ) AS ts", "ev")
    right = spark.createDataFrame(
        [
            (1, "2024-01-01 10:00:00", 1.0),  # equal ts: visible (inclusive)
            (1, "2024-01-01 11:00:00", 2.0),
            (2, "2024-01-01 01:00:00", 9.0),
        ],
        "k bigint, uts string, px double",
    ).selectExpr("k", "CAST(uts AS TIMESTAMP_NTZ) AS uts", "px")
    return left, right


def test_inner_picks_latest_at_or_before(spark):
    left, right = _frames(spark)
    out = {
        r.ev: r.px
        for r in asof_join(left, right, ["k"], "ts", "uts").collect()
    }
    assert out == {100: 1.0, 101: 2.0, 200: 9.0}  # ev 102 dropped (no prior)


def test_left_keeps_unmatched_with_nulls(spark):
    left, right = _frames(spark)
    out = {
        r.ev: r.px
        for r in asof_join(left, right, ["k"], "ts", "uts", how="left").collect()
    }
    assert out[102] is None and len(out) == 4


def test_duplicate_right_rows_raise(spark):
    """The guard is lazy (in-plan raise_error): building the DataFrame is
    free, executing it surfaces the violation."""
    left, right = _frames(spark)
    dup = right.union(right.limit(1))
    df = asof_join(left, dup, ["k"], "ts", "uts")  # no job yet
    with pytest.raises(Exception, match="nondeterministic"):
        df.collect()


def test_single_shuffle_plan(spark):
    """One Exchange on the key for the union-window core — no range join,
    no cartesian, no per-key explosion."""
    left, right = _frames(spark)
    plan = (
        asof_join(left, right, ["k"], "ts", "uts")
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning(k") <= 2  # one per union leg
