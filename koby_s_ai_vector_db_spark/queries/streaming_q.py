"""Batch twins of the streaming analytics, oracle-checked.

The driver's correctness gate runs batch; the SAME transformation
functions (streaming/live.py) run in true streaming mode in
tests/test_streaming.py, where stream output is asserted bit-identical
to these batch results (batch-equivalence contract, SURVEY §7.6).

Every streaming operator in the engine has a registered batch body here
(or in dedup_q) that its stream run must equal; an operator that could
only run as a stream would have no oracle, so the engine has none.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from koby_s_ai_vector_db_spark.registry import register
from koby_s_ai_vector_db_spark.sources.tables import load_table
from koby_s_ai_vector_db_spark.streaming.live import (
    sliding_live_users,
    user_session_windows,
)

# Each event with epoch e (µs-exact double; < 2^53 so exact) belongs to
# sliding-window starts s = 300k with e-1800 < s <= e, start-inclusive /
# end-exclusive — exactly Spark's window(ts, '30 minutes', '5 minutes')
# aligned to the epoch.
_A5S_ORACLE = """
WITH w AS (
    SELECT user_id, ts,
           unnest(generate_series(CAST(floor((epoch(ts) - 1800) / 300) AS BIGINT) + 1,
                                  CAST(floor(epoch(ts) / 300) AS BIGINT))) AS k
    FROM events
)
SELECT k * 300 AS window_start_epoch,
       count(DISTINCT user_id) AS live_users,
       count(*) AS n_events
FROM w GROUP BY k
"""


@register("a5_sliding_live_users", _A5S_ORACLE)
def a5_sliding_live_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5 as a sliding event-time window (session_utils.py:193-211
    recomputed per request → emitted per 5-min slide)."""
    return sliding_live_users(load_table(spark, sf_dir, "events"))


# Sessionize by 30-min inactivity: a new session starts when the gap from
# the previous event is >= 1800 s (Spark session_window end-exclusive
# semantics); session end = last event + gap. The CTE chain is shared with
# the range-join query (queries/range_q.py), which re-joins events back
# into these windows.
SESSION_WINDOWS_CTE = """
WITH o AS (
    SELECT user_id, ts,
           lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
    FROM events
),
m AS (
    SELECT user_id, ts,
           CASE WHEN prev IS NULL OR epoch(ts) - epoch(prev) >= 1800 THEN 1 ELSE 0 END AS is_new
    FROM o
),
s AS (
    SELECT user_id, ts,
           sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sid
    FROM m
),
sess AS (
    SELECT user_id,
           epoch_us(min(ts)) AS session_start_us,
           epoch_us(max(ts)) + 1800000000 AS session_end_us,
           count(*) AS n_events
    FROM s GROUP BY user_id, sid
)"""

_A6S_ORACLE = SESSION_WINDOWS_CTE + """
SELECT user_id, session_start_us, session_end_us, n_events FROM sess
"""


@register("a6_session_windows", _A6S_ORACLE)
def a6_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M7/A6 as session_window(ts, '30 minutes') per user — the 30-min
    inactivity rule (session_utils.py:200) as a stateful operator."""
    return user_session_windows(load_table(spark, sf_dir, "events"))


# --- stream-stream interval join (batch twin, oracle-checked) ---------------

_A19_ORACLE = """
SELECT a.event_id AS purchase_id, b.event_id AS click_id, a.user_id,
       epoch_us(a.ts) - epoch_us(b.ts) AS gap_us
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND a.event_type = 'purchase' AND b.event_type = 'click'
 AND b.ts BETWEEN a.ts - INTERVAL 30 MINUTE AND a.ts
"""


@register("a19_click_attribution", _A19_ORACLE)
def a19_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purchase→click attribution within 30 minutes: the batch twin of the
    stream-stream interval join (streaming/live.py::click_attribution);
    tests/test_streaming.py asserts the true two-stream join emits the
    identical row multiset. The batch plan is the BUCKETED form — same
    rows, per-user candidates bounded to same-and-adjacent 30-minute
    windows instead of the full per-user cross product (the 100×-skew
    shape; see click_attribution_bucketed)."""
    from koby_s_ai_vector_db_spark.streaming.live import (
        click_attribution_bucketed,
    )

    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql import functions as F

    return click_attribution_bucketed(
        ev.filter(F.col("event_type") == "purchase"),
        ev.filter(F.col("event_type") == "click"),
    )
