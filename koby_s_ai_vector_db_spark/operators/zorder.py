"""Z-order (Morton-curve) clustering for multi-dimensional data skipping
— the storage-layout lever behind Delta/Iceberg OPTIMIZE ZORDER, as pure
DataFrame algebra.

Sorting a 100 TB event table by time alone makes user-filtered scans
read everything; by user alone, time-filtered scans read everything.
Interleaving the bits of both keys (the Morton curve) gives every
storage bucket a small bounding BOX in (user, time) space, so min/max
stats prune files for predicates on EITHER dimension.

Everything here is deterministic and engine-portable:

  * each dimension is min-max normalized to Z_BITS bits via a broadcast
    1-row bounds aggregate (integer arithmetic after the scale);
  * the z-value is the classic bit interleave, written as a 2*Z_BITS-term
    integer sum inside one map-side expression (no UDF);
  * buckets are fixed high-bit prefixes (z >> shift) — NOT
    repartitionByRange, whose sampled boundaries are nondeterministic —
    so the DuckDB oracle reproduces the exact bucket assignment and the
    per-bucket bounding-box stats hash-match.

Scale shape: one map-side z/bucket projection + ONE groupBy(bucket) for
the stats (a partitionBy(z_bucket) write would persist the layout); the
locality property tests assert the point — per-bucket spans are small in
BOTH dimensions simultaneously, which no single-column sort achieves.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

Z_BITS = 10           # bits per dimension -> 2^20 z-values
Z_BUCKET_BITS = 8     # keep top 8 z bits -> 256 buckets


def _norm_sql(col: str, lo: str, hi: str) -> str:
    """Min-max scale `col` into [0, 2^Z_BITS): floor((x-lo)*m/(hi-lo+1)).
    Integer-safe: the +1 keeps hi itself inside the top cell."""
    m = 1 << Z_BITS
    return (
        f"CAST(floor(({col} - {lo}) * {m}.0 / ({hi} - {lo} + 1)) AS BIGINT)"
    )


def z_value_sql(u: str, v: str) -> str:
    """Morton interleave of two Z_BITS-bit integers: u takes even bits,
    v odd bits. A flat integer sum — one codegen expression per row."""
    terms = []
    for i in range(Z_BITS):
        terms.append(f"((({u} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({v} >> {i}) & 1) << {2 * i + 1})")
    return "(" + " + ".join(terms) + ")"


def _with_z_bucket(events: DataFrame) -> DataFrame:
    """The bucket derivation: (u, t) projection, broadcast 1-row bounds,
    map-side Morton interleave, fixed-prefix z_bucket."""
    e = events.select("user_id", "ts").withColumns(
        {
            "u": F.col("user_id"),
            "t": F.expr(
                "CAST(unix_micros(CAST(ts AS TIMESTAMP)) DIV 60000000 AS BIGINT)"
            ),
        }
    )
    bounds = e.agg(
        F.min("u").alias("u_lo"),
        F.max("u").alias("u_hi"),
        F.min("t").alias("t_lo"),
        F.max("t").alias("t_hi"),
    )
    un = _norm_sql("u", "u_lo", "u_hi")
    tn = _norm_sql("t", "t_lo", "t_hi")
    shift = 2 * Z_BITS - Z_BUCKET_BITS
    return (
        e.join(F.broadcast(bounds))
        .withColumn("z_bucket", F.expr(f"({z_value_sql(un, tn)}) >> {shift}"))
        .drop("u_lo", "u_hi", "t_lo", "t_hi")
    )


def zorder_bucket_stats(events: DataFrame) -> DataFrame:
    """Per-bucket bounding boxes of the z-ordered layout: (z_bucket,
    n_rows, u_min, u_max, t_min, t_max) with ts in epoch minutes.
    The stats table IS what a lakehouse stores per file; its box sizes
    are the data-skipping guarantee."""
    return (
        _with_z_bucket(events)
        .groupBy("z_bucket")
        .agg(
            F.count("*").alias("n_rows"),
            F.min("u").alias("u_min"),
            F.max("u").alias("u_max"),
            F.min("t").alias("t_min"),
            F.max("t").alias("t_max"),
        )
        .orderBy("z_bucket")
    )


def zorder_oracle_sql() -> str:
    """DuckDB twin of zorder_bucket_stats over the events view."""
    un = _norm_sql("u", "u_lo", "u_hi")
    tn = _norm_sql("t", "t_lo", "t_hi")
    z = z_value_sql(un, tn)
    shift = 2 * Z_BITS - Z_BUCKET_BITS
    return f"""
WITH e AS (
    SELECT user_id AS u,
           CAST(floor(epoch_us(ts) / 60000000) AS BIGINT) AS t
    FROM events
),
b AS (
    SELECT min(u) AS u_lo, max(u) AS u_hi, min(t) AS t_lo, max(t) AS t_hi
    FROM e
)
SELECT ({z}) >> {shift} AS z_bucket,
       count(*) AS n_rows,
       min(u) AS u_min, max(u) AS u_max,
       min(t) AS t_min, max(t) AS t_max
FROM e, b
GROUP BY 1 ORDER BY 1
"""
