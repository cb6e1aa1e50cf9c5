"""Time-series rollup over the events stream (hypertable-style continuous
aggregate).

The reference keeps per-event rows and recomputes dashboard aggregates on
demand (core/views.py analytics endpoints); at 100 TB of events the
production shape is a TimescaleDB/Druid-style ROLLUP: one pass that
materializes every reporting grain, stored partitioned by day so
dashboards and retention jobs prune to the partitions they touch.

Spark-first design:

  - ONE `groupingSets` aggregate emits all three grains (hour x type,
    day x type, day) in a single shuffle. Partial aggregation is map-side
    for count/sum/min/max, so the exchange carries one row per
    (grain-key, map task), not per event. GROUPING SETS expands each input
    row once per set JVM-side — far cheaper than three separate
    aggregations re-reading the scan, and Catalyst shares the expand.
  - count(DISTINCT user_id) makes Spark plan the standard two-phase
    distinct expansion; at extreme cardinality swap in approx_count_distinct
    (HLL) — kept exact here for oracle parity.
  - sum(value) runs over DECIMAL(18,2): decimal addition is exact and
    ORDER-INDEPENDENT, so partial-agg order can't perturb the result
    (double sums diverge between engines at 10k+ rows — see
    queries/relational_q.py, the proven pattern).
  - At scale the OUTPUT is written `partitionBy(day)`; a dashboard
    query for one day is then a single-partition scan.

Rolled-up key columns use sentinels (hour = -1, event_type = 'ALL') on
BOTH engines instead of GROUPING SETS' native NULLs — the repo's
null-free output contract (tests/conftest.py) keeps the driver's multiset
compare deterministic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from koby_s_ai_vector_db_spark.operators.gapfill import (
    gapfill,
    gapfill_oracle_sql,
)
from koby_s_ai_vector_db_spark.registry import register
from koby_s_ai_vector_db_spark.sources.tables import load_table

_ROLLUP_ORACLE = """
WITH ev AS (
    SELECT strftime(ts, '%Y-%m-%d') AS day,  -- string: DATE maps to date vs Timestamp asymmetrically in pandas
           CAST(extract(hour FROM ts) AS INT) AS hour,
           event_type, user_id,
           CAST(value AS DECIMAL(18,2)) AS val,
           value
    FROM events
)
SELECT
    CASE WHEN GROUPING(hour) = 1 AND GROUPING(event_type) = 1 THEN 'day'
         WHEN GROUPING(hour) = 1 THEN 'day_type'
         ELSE 'hour' END AS grain,
    day,
    coalesce(hour, -1) AS hour,
    coalesce(event_type, 'ALL') AS event_type,
    count(*) AS n_events,
    count(DISTINCT user_id) AS n_users,
    round(CAST(sum(val) AS DOUBLE), 2) AS sum_value,
    round(min(value), 6) AS min_value,
    round(max(value), 6) AS max_value
FROM ev
GROUP BY GROUPING SETS ((day, hour, event_type), (day, event_type), (day))
"""


@register("rollup_events", _ROLLUP_ORACLE)
def rollup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-grain event rollup: (day x hour x type) + (day x type) +
    (day) in one groupingSets pass — the materialization a 100 TB events
    hypertable serves dashboards from (reference: core/views.py analytics
    recompute these per request)."""
    ev = load_table(spark, sf_dir, "events").select(
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        F.hour("ts").alias("hour"),
        "event_type",
        "user_id",
        F.col("value").cast("decimal(18,2)").alias("val"),
        "value",
    )
    g = ev.groupingSets(
        [["day", "hour", "event_type"], ["day", "event_type"], ["day"]],
        "day",
        "hour",
        "event_type",
    )
    return g.agg(
        # grouping() is only legal inside the aggregate projection
        F.when(
            (F.grouping("hour") == 1) & (F.grouping("event_type") == 1),
            "day",
        )
        .when(F.grouping("hour") == 1, "day_type")
        .otherwise("hour")
        .alias("grain"),
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.round(F.sum("val").cast("double"), 2).alias("sum_value"),
        F.round(F.min("value"), 6).alias("min_value"),
        F.round(F.max("value"), 6).alias("max_value"),
    ).select(
        "grain",
        "day",
        F.coalesce("hour", F.lit(-1)).alias("hour"),
        F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
        "n_events",
        "n_users",
        "sum_value",
        "min_value",
        "max_value",
    )


_GAPFILL_ORACLE = f"""
WITH gf_in AS (
    SELECT event_type AS series, ts, value FROM events
),
{gapfill_oracle_sql().lstrip()}
SELECT series AS event_type, bucket, n_events, is_gap,
       locf_value, interp_value
FROM gf_out
"""


@register("ts_gapfill", _GAPFILL_ORACLE)
def ts_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly gap-filled per-type value series: dense spine + LOCF +
    linear interpolation (TimescaleDB time_bucket_gapfill/locf/
    interpolate — the dashboard shape the reference approximates by
    GROUP BY over whatever buckets exist, core/views.py)."""
    ev = load_table(spark, sf_dir, "events")
    return gapfill(ev, "event_type", "ts", "value").withColumnRenamed(
        "series", "event_type"
    )
