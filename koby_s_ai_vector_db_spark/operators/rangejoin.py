"""Bucketed range (interval) join — point-in-interval matching at scale.

Assign each left row (a point: event time, a price, a position) to the
right intervals containing it: ``start <= point < end`` per key. Spark has
no interval-join optimization — a naive
``left JOIN right ON key AND point BETWEEN start AND end`` hash-joins on
the equi-key and evaluates the range as a RESIDUAL filter, so every
(point, interval) pair of a hot key is materialized first: 10⁴ events ×
10³ intervals for one user is 10⁷ residual evaluations at 100 TB.

The standard fix (interval bucketing — the same trick behind interval
trees flattened onto equi-joins): pick a bucket width W, explode each
interval to the buckets it covers, tag each point with its bucket, and
equi-join on (key, bucket) with the exact range check as a residual on the
ALREADY co-bucketed pairs. Work per key drops from |points|·|intervals| to
Σ per-bucket products — bounded by bucket occupancy, not key volume.

Choosing W: intervals explode to ceil(span/W) rows (build-side
amplification), points stay 1 row. W ≈ the median interval span keeps
amplification ~2× while making most candidate pairs genuine matches.

All bounds are int64 (epoch micros in the registered query); ``div`` is
integer division, exact where float floor(x/W) would lose precision past
2⁵³. Overlapping intervals produce one output row per containing interval
(the semantics of the operation); non-overlapping inputs (session windows)
produce exactly one.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def range_join(
    left: DataFrame,
    intervals: DataFrame,
    on: list[str],
    point_col: str,
    start_col: str,
    end_col: str,
    bucket_width: int,
) -> DataFrame:
    """Inner point-in-interval join: all left columns + the interval's
    non-key columns for every interval with ``start <= point < end``.

    Bounds must be non-negative int64 on a shared scale (``div`` truncates
    toward zero, which equals floor only for non-negative operands).
    Column names must be disjoint apart from the keys."""
    if bucket_width <= 0:
        raise ValueError(f"bucket_width must be positive, got {bucket_width}")
    clash = (set(left.columns) & set(intervals.columns)) - set(on)
    if clash:
        raise ValueError(f"overlapping non-key columns: {sorted(clash)}")

    l2 = left.withColumn("_rb", F.expr(f"{point_col} div {bucket_width}"))
    i2 = (
        # Empty/inverted intervals (end <= start) match nothing by the
        # containment predicate, but without this filter F.sequence would
        # run BACKWARDS for them (implicit step -1), exploding one corrupt
        # row into start/W bucket rows before the residual removes them.
        intervals.filter(F.col(end_col) > F.col(start_col))
        .withColumn(
            "_rb",
            F.explode(
                # end-exclusive: the last covered bucket is (end-1) div W
                F.sequence(
                    F.expr(f"{start_col} div {bucket_width}"),
                    F.expr(f"({end_col} - 1) div {bucket_width}"),
                )
            ),
        )
    )
    return (
        l2.join(i2, [*on, "_rb"])
        .filter(
            (F.col(point_col) >= F.col(start_col))
            & (F.col(point_col) < F.col(end_col))
        )
        .drop("_rb")
    )
