"""range_join semantics: the bucketed equi-join rewrite must be
indistinguishable from the naive residual range join (cross-engine parity
of the registered query is covered by tests/test_oracle_parity.py)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from koby_s_ai_vector_db_spark.operators.rangejoin import range_join
from koby_s_ai_vector_db_spark.sources.tables import load_table
from koby_s_ai_vector_db_spark.streaming.live import user_session_windows
from tests.conftest import SF_DIRS


def _inputs(spark):
    ev = load_table(spark, SF_DIRS["t1"], "events")
    events = ev.select(
        "event_id", "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_us"),
    )
    sessions = user_session_windows(ev).drop("n_events")
    return events, sessions


@pytest.mark.parametrize("bucket_us", [3600_000_000, 6 * 3600 * 1_000_000])
def test_bucketed_equals_naive_range_join(spark, bucket_us):
    events, sessions = _inputs(spark)
    bucketed = range_join(
        events, sessions, ["user_id"], "ts_us",
        "session_start_us", "session_end_us", bucket_us,
    )
    naive = events.join(sessions, "user_id").filter(
        (F.col("ts_us") >= F.col("session_start_us"))
        & (F.col("ts_us") < F.col("session_end_us"))
    ).select(bucketed.columns)
    assert sorted(map(tuple, bucketed.collect())) == sorted(map(tuple, naive.collect()))


def test_every_event_assigned_exactly_once(spark):
    """Session windows partition each user's timeline — the join must be a
    bijection from events to (event, containing-session) rows."""
    events, sessions = _inputs(spark)
    out = range_join(
        events, sessions, ["user_id"], "ts_us",
        "session_start_us", "session_end_us", 6 * 3600 * 1_000_000,
    )
    assert out.count() == events.count()
    assert out.select("event_id").distinct().count() == events.count()


def test_overlapping_intervals_yield_multiple_rows(spark):
    left = spark.createDataFrame([(1, 50)], "k bigint, p bigint")
    iv = spark.createDataFrame(
        [(1, 0, 100, "a"), (1, 40, 60, "b"), (1, 60, 70, "c")],
        "k bigint, s bigint, e bigint, tag string",
    )
    out = range_join(left, iv, ["k"], "p", "s", "e", bucket_width=10)
    assert sorted(r.tag for r in out.collect()) == ["a", "b"]


def test_guards(spark):
    left = spark.createDataFrame([(1, 5)], "k bigint, p bigint")
    iv = spark.createDataFrame([(1, 0, 10, 7)], "k bigint, s bigint, e bigint, p bigint")
    with pytest.raises(ValueError, match="overlapping"):
        range_join(left, iv, ["k"], "p", "s", "e", 10)
    iv2 = spark.createDataFrame([(1, 0, 10)], "k bigint, s bigint, e bigint")
    with pytest.raises(ValueError, match="positive"):
        range_join(left, iv2, ["k"], "p", "s", "e", 0)
