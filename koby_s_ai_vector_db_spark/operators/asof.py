"""As-of (point-in-time) join — the timeseries enrichment operator Spark
has no built-in for.

For each left row, attach the single right row with the greatest
``right_ts <= left_ts`` for the same key — "the latest price update / risk
snapshot / feature value known at event time". kdb+ calls it ``aj``,
Pandas ``merge_asof``, DuckDB ``ASOF JOIN`` (which the cross-engine oracle
uses verbatim, queries/asof_q.py).

Spark-first implementation — a union + running ``last(ignorenulls)``
window, NOT a range-condition join:

  1. tag and union both inputs on (key, ts): right rows sort BEFORE left
     rows at equal ts, so an update at exactly event time is visible
     (inclusive as-of, matching DuckDB's ``>=``);
  2. one window per key ordered by (ts, side): running
     ``last(payload, ignorenulls=True)`` carries the most recent right
     payload forward into each left row;
  3. keep left rows; ``how="inner"`` drops rows with no prior right match,
     ``how="left"`` keeps them with NULL payload (library keeps NULL
     semantics; registered queries sentinel at the oracle edge, repo
     convention).

Why not a join? ``left JOIN right ON key AND r.ts <= l.ts`` + max-filter
explodes to every (event, earlier-update) pair before pruning —
quadratic per key. The union-window shape is ONE shuffle on the key
(the sort-merge the window needs), linear rows, and AQE-friendly. At
100 TB: same key-skew toolbox as any single-key shuffle (salt hot keys
upstream); memory per task is O(1) — `last` is a running value, not a
buffered frame.

Constraints: right rows must be unique per (key, right_ts) — at equal
(key, ts) the window's pick is order-dependent and therefore
engine-dependent; `asof_join` raises on duplicates unless the caller
passes ``assume_deduped=True`` (dedupe with max_by upstream, as the
registered query does). Right-payload NULLs are treated as "no value"
(ignorenulls skips to the previous update).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: list[str],
    left_ts: str,
    right_ts: str,
    how: str = "inner",
    assume_deduped: bool = False,
) -> DataFrame:
    """Attach to each left row the latest right row with
    ``right_ts <= left_ts`` per ``on`` key.

    Returns all left columns plus right's payload columns (everything but
    the key and ``right_ts``). Column names must be disjoint."""
    if how not in ("inner", "left"):
        raise ValueError(f"how must be 'inner' or 'left', got {how!r}")

    key = list(on)
    ltypes = dict(left.dtypes)
    rtypes = dict(right.dtypes)
    lpay = [c for c in left.columns if c not in key]
    rpay = [c for c in right.columns if c not in key and c != right_ts]
    clash = set(lpay) & set(rpay)
    if clash:
        raise ValueError(f"overlapping non-key columns: {sorted(clash)}")

    # Duplicate-right guard: a second right row at the same (key, ts)
    # makes the as-of pick order-dependent and therefore engine-dependent.
    # The check is LAZY — a window count folded into the plan with
    # raise_error on violation — so it costs one extra exchange of the
    # (small) right side within the same action, never a separate eager
    # job at DataFrame-construction time.
    rt_col = F.col(right_ts)
    if not assume_deduped:
        wdup = Window.partitionBy(*key, right_ts)
        rt_col = (
            F.when(
                F.count("*").over(wdup) > 1,
                F.raise_error(
                    F.lit(
                        f"asof_join: duplicate ({key}, {right_ts}) rows on the "
                        "right side — the as-of pick would be nondeterministic; "
                        "dedupe upstream (e.g. max_by) or pass assume_deduped=True"
                    )
                ).cast(rtypes[right_ts]),
            )
            .otherwise(F.col(right_ts))
        )

    l2 = left.select(
        *key,
        F.col(left_ts).alias("_t"),
        F.lit(1).alias("_is_left"),
        *[F.col(c) for c in lpay],
        *[F.lit(None).cast(rtypes[c]).alias(c) for c in rpay],
        F.lit(None).cast(rtypes[right_ts]).alias("_rt"),
    )
    r2 = right.select(
        *key,
        F.col(right_ts).alias("_t"),
        F.lit(0).alias("_is_left"),
        *[F.lit(None).cast(ltypes[c]).alias(c) for c in lpay],
        *[F.col(c) for c in rpay],
        rt_col.alias("_rt"),
    )

    w = (
        Window.partitionBy(*key)
        .orderBy(F.col("_t").asc(), F.col("_is_left").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = l2.unionByName(r2).select(
        *key,
        "_t",
        "_is_left",
        *lpay,
        *[F.last(F.col(c), ignorenulls=True).over(w).alias(c) for c in rpay],
        F.last("_rt", ignorenulls=True).over(w).alias("_mt"),
    )

    out = carried.filter(F.col("_is_left") == 1)
    matched = F.col("_mt").isNotNull()
    if how == "inner":
        out = out.filter(matched)
    else:
        out = out.select(
            *key, "_t", *lpay,
            *[F.when(matched, F.col(c)).otherwise(F.lit(None)).alias(c) for c in rpay],
        )
    return out.select(*key, *lpay, *rpay)
