"""Time-series gap-fill: dense per-series time spine + LOCF + linear
interpolation (TimescaleDB ``time_bucket_gapfill`` + ``locf()`` +
``interpolate()``).

The reference stores raw event rows and its dashboards silently skip
empty hours (core/views.py analytics endpoints GROUP BY whatever buckets
exist); real monitoring/training pipelines need the MISSING buckets
materialized — a model trained on "one row per hour" must see the quiet
hours, and rate-of-change features divide by wall-clock deltas that only
a dense spine provides.

Spark-first shape (all built-ins, no UDF):

  1. bucket actuals: one groupBy (series, time_bucket) — decimal sum for
     an order-independent mean, rounded BEFORE the fill so both engines
     interpolate from identical inputs;
  2. spine: distinct series x ``sequence(min_bucket, max_bucket, step)``
     exploded — the bounds row is a 1-row broadcast, the explode is
     map-side;
  3. left join actuals onto the spine on (series, bucket) — co-keyed
     with the windows below, so AQE coalesces into the same exchange;
  4. two windows per series ordered by bucket: running
     ``last(ignorenulls)`` carries the previous observation (value and
     its epoch x) forward, mirrored ``first(ignorenulls)`` carries the
     next observation backward;
  5. fills: LOCF = previous value (head rows backfill from the first
     observation, so output is null-free — repo contract);
     interpolation = pv + (nv - pv) * (x - px) / (nx - px) on epoch
     seconds, degrading to LOCF after the last observation.

One shuffle on the series key serves the join and both windows; memory
per task is O(1) running state, not a buffered frame. At 100 TB the
spine is tiny relative to actuals (|series| x |buckets|) and the fill
is a linear pass per series — the same single-key-shuffle scale story
as operators/asof.py, with the same salting toolbox if one series is
hot.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def gapfill(df: DataFrame, series_col: str, ts_col: str, value_col: str) -> DataFrame:
    """Dense (series, bucket) grid over [min, max] of ``ts_col`` with
    n_events / is_gap / locf_value / interp_value columns (null-free;
    every series must have >= 1 observation)."""
    actual = (
        df.groupBy(
            F.col(series_col).alias("series"),
            F.date_trunc("hour", ts_col).alias("bucket"),
        ).agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.col(value_col).cast("decimal(18,2)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("avg_v"),
        )
    )
    bounds = df.agg(
        F.date_trunc("hour", F.min(ts_col)).alias("mn"),
        F.date_trunc("hour", F.max(ts_col)).alias("mx"),
    )
    spine = (
        df.select(F.col(series_col).alias("series"))
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "series",
            F.explode(F.sequence("mn", "mx", F.expr("interval 1 hour"))).alias("bucket"),
        )
    )
    j = spine.join(actual, ["series", "bucket"], "left").withColumn(
        "x", F.unix_timestamp("bucket").cast("double")
    )
    w_prev = (
        Window.partitionBy("series")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_next = (
        Window.partitionBy("series")
        .orderBy("bucket")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    obs_x = F.when(F.col("avg_v").isNotNull(), F.col("x"))
    filled = (
        j.withColumn("pv", F.last("avg_v", ignorenulls=True).over(w_prev))
        .withColumn("px", F.last(obs_x, ignorenulls=True).over(w_prev))
        .withColumn("nv", F.first("avg_v", ignorenulls=True).over(w_next))
        .withColumn("nx", F.first(obs_x, ignorenulls=True).over(w_next))
    )
    interp = (
        F.when(F.col("avg_v").isNotNull(), F.col("avg_v"))
        .when(
            F.col("pv").isNotNull() & F.col("nv").isNotNull(),
            F.col("pv")
            + (F.col("nv") - F.col("pv"))
            * (F.col("x") - F.col("px"))
            / (F.col("nx") - F.col("px")),
        )
        .when(F.col("pv").isNotNull(), F.col("pv"))
        .otherwise(F.col("nv"))
    )
    return filled.select(
        "series",
        F.date_format("bucket", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
        F.coalesce("n", F.lit(0)).alias("n_events"),
        F.when(F.col("n").isNull(), 1).otherwise(0).alias("is_gap"),
        F.round(F.coalesce("pv", "nv"), 6).alias("locf_value"),
        F.round(interp, 6).alias("interp_value"),
    )


def gapfill_oracle_sql() -> str:
    """DuckDB mirror over a relation ``gf_in(series, ts, value)``;
    produces ``gf_out`` with the same six columns."""
    return f"""
gf_actual AS (
    SELECT series, date_trunc('hour', ts) AS bucket,
           count(*) AS n,
           round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                 / count(*), 6) AS avg_v
    FROM gf_in GROUP BY 1, 2
),
gf_bounds AS (
    SELECT date_trunc('hour', min(ts)) AS mn,
           date_trunc('hour', max(ts)) AS mx
    FROM gf_in
),
gf_spine AS (
    SELECT t.series, unnest(generate_series(b.mn, b.mx, INTERVAL 1 HOUR)) AS bucket
    FROM (SELECT DISTINCT series FROM gf_in) t, gf_bounds b
),
gf_j AS (
    SELECT s.series, s.bucket, a.n, a.avg_v,
           CAST(epoch(s.bucket) AS DOUBLE) AS x
    FROM gf_spine s LEFT JOIN gf_actual a USING (series, bucket)
),
gf_w AS (
    SELECT *,
      last_value(avg_v IGNORE NULLS) OVER
        (PARTITION BY series ORDER BY bucket
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
      last_value(CASE WHEN avg_v IS NOT NULL THEN x END IGNORE NULLS) OVER
        (PARTITION BY series ORDER BY bucket
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS px,
      first_value(avg_v IGNORE NULLS) OVER
        (PARTITION BY series ORDER BY bucket
         ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
      first_value(CASE WHEN avg_v IS NOT NULL THEN x END IGNORE NULLS) OVER
        (PARTITION BY series ORDER BY bucket
         ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nx
    FROM gf_j
),
gf_out AS (
    SELECT series,
           strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket,
           coalesce(n, 0) AS n_events,
           CASE WHEN n IS NULL THEN 1 ELSE 0 END AS is_gap,
           round(coalesce(pv, nv), 6) AS locf_value,
           round(CASE WHEN avg_v IS NOT NULL THEN avg_v
                      WHEN pv IS NOT NULL AND nv IS NOT NULL
                        THEN pv + (nv - pv) * (x - px) / (nx - px)
                      WHEN pv IS NOT NULL THEN pv
                      ELSE nv END, 6) AS interp_value
    FROM gf_w
)"""
