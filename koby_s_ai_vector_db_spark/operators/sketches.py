"""Mergeable cardinality sketches — portable HyperLogLog.

The reference counts distincts exactly (core/views.py analytics endpoints
run COUNT(DISTINCT ...) per request); at 100 TB the production shape is a
SKETCH: a fixed-size register array that partial-aggregates map-side,
merges associatively across partitions/days/grains, and answers
"how many distinct" without ever shuffling the raw keys. Spark ships
``approx_count_distinct`` (HLL++), but its register layout is
engine-internal — useless for a cross-engine oracle and unreadable as a
stored artifact. This module builds HLL from scratch as DataFrame
algebra on the repo's portable md5 hash (functions/hashing.py), so DuckDB
computes the IDENTICAL registers and estimate, and the register table
itself is a persistable, mergeable artifact (max() is the merge).

Determinism across engines (the whole point):

  - hash: md5 hex slice -> 40-bit integer, bit-identical everywhere;
  - register index = top P bits, sub-hash w = low (40-P) bits;
  - rho = leading-zero count of w + 1, computed as
    ``(W_BITS + 1) - length(bin(w))`` — both engines' ``bin()`` renders
    minimal binary, no float log anywhere;
  - indicator sum  sum(2^-rho)  uses ``1.0 / (1 << rho)``: every term is
    a dyadic rational with granularity 2^-(W_BITS+1) and the total is
    < 2^P, so with P=10, W=30 every partial sum fits EXACTLY in a double
    (range 2^41 < 2^53) — the sum is order-independent, no decimal crutch
    needed;
  - the only libm call is ln() in the small-range linear-counting branch;
    estimates are rounded (caller-visible) so a last-ulp ln difference
    cannot surface.

Accuracy: standard HLL, sigma ~= 1.04/sqrt(m) ~ 3.3% at m=1024 in the
raw-estimate regime; the linear-counting branch (raw <= 2.5m and empty
registers remain) is near-exact at low cardinality.

Scale shape: groupBy(group, register) max(rho) — map-side partial max,
then a shuffle of at most |groups| * m tiny rows (m=1024), then a
|groups|-row final aggregate. The raw keys never cross the wire.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

H_HEX = 10                 # md5 hex chars consumed -> 40-bit hash
H_BITS = 4 * H_HEX
P = 10                     # register-index bits
M = 1 << P                 # 1024 registers
W_BITS = H_BITS - P        # 30-bit sub-hash scanned for leading zeros
# Standard bias constant alpha_m for m >= 128. Embedded as a Python float
# and rendered with repr() into the oracle SQL so both engines parse the
# same 17-significant-digit literal.
ALPHA_M = 0.7213 / (1 + 1.079 / M)


def hll_registers(df: DataFrame, key: Column, group_cols: list[str]) -> DataFrame:
    """Per-group HLL register table: (group_cols..., bucket, r).

    The mergeable artifact: union two register tables and re-aggregate
    max(r) to sketch the union of the underlying key sets.
    """
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("hll:"), key)), 1, H_HEX), 16, 10
    ).cast("long")
    bucket = F.shiftright(h, W_BITS)
    w = h.bitwiseAND(F.lit((1 << W_BITS) - 1))
    rho = (
        F.when(w == 0, F.lit(W_BITS + 1))
        .otherwise(F.lit(W_BITS + 1) - F.length(F.bin(w)))
        .cast("int")
    )
    return (
        df.select(*group_cols, bucket.alias("bucket"), rho.alias("rho"))
        .groupBy(*group_cols, "bucket")
        .agg(F.max("rho").alias("r"))
    )


def hll_estimate(registers: DataFrame, group_cols: list[str]) -> DataFrame:
    """Collapse a register table to (group_cols..., n_registers_hit,
    est_distinct). est_distinct is rounded to 2 decimals — the sketch's
    resolution dwarfs that."""
    agg = registers.groupBy(*group_cols).agg(
        # 2^-r via integer shift: exact dyadic terms, order-independent
        # sum. F.expr because the Python shiftleft wrapper only takes a
        # literal shift amount; the SQL function takes expressions.
        F.sum(F.expr("1.0d / cast(shiftleft(1L, r) as double)"))
        .alias("sum_pow"),
        F.count(F.lit(1)).alias("n_registers_hit"),
    )
    zeros = (F.lit(M) - F.col("n_registers_hit")).cast("double")
    # Empty registers contribute 2^-0 = 1 each to the indicator sum.
    raw = F.lit(ALPHA_M * M * M) / (F.col("sum_pow") + zeros)
    est = F.when(
        (raw <= F.lit(2.5 * M)) & (zeros > 0),
        F.lit(float(M)) * F.log(F.lit(float(M)) / zeros),
    ).otherwise(raw)
    return agg.select(
        *group_cols,
        "n_registers_hit",
        F.round(est, 2).alias("est_distinct"),
    )


def hll_oracle_cte(key_sql: str, group_sql: str) -> str:
    """DuckDB rendering of hll_registers + hll_estimate as chained CTEs.

    ``key_sql`` / ``group_sql`` are SQL fragments over a relation named
    ``hll_in`` that the caller defines upstream. Produces a relation
    ``hll_out`` with (group..., n_registers_hit, est_distinct).
    """
    mask = (1 << W_BITS) - 1

    def _d(x: float) -> str:
        # DuckDB parses bare decimal literals as DECIMAL and overflows
        # multiplying them by integers; force DOUBLE arithmetic.
        return f"CAST({x!r} AS DOUBLE)"

    return f"""
hll_h AS (
    SELECT {group_sql} AS grp,
           ('0x' || substr(md5('hll:' || {key_sql}), 1, {H_HEX}))::BIGINT AS h
    FROM hll_in
),
hll_r AS (
    SELECT grp, h >> {W_BITS} AS bucket,
           max(CASE WHEN (h & {mask}) = 0 THEN {W_BITS + 1}
                    ELSE {W_BITS + 1} - length(bin(h & {mask})) END) AS r
    FROM hll_h GROUP BY grp, bucket
),
hll_agg AS (
    SELECT grp,
           sum(CAST(1.0 AS DOUBLE) / CAST(1::BIGINT << r AS DOUBLE))
             AS sum_pow,
           count(*) AS n_registers_hit
    FROM hll_r GROUP BY grp
),
hll_out AS ({hll_est_sql("hll_agg")}
)"""


def hll_est_sql(agg_rel: str) -> str:
    """The estimator SELECT — (grp, n_registers_hit, est_distinct) over a
    relation carrying (grp, sum_pow, n_registers_hit). The single SQL
    rendering of `hll_estimate`'s math: hll_oracle_cte's hll_out stage
    and the merged-register arm of a22_hll_daily_merge both use it, so
    the bias constant / small-range correction can never diverge between
    them."""

    def _d(x: float) -> str:
        return f"CAST({x!r} AS DOUBLE)"

    return f"""
    SELECT grp, n_registers_hit,
           round(CASE WHEN {_d(ALPHA_M * M * M)}
                           / (sum_pow + ({M} - n_registers_hit))
                        <= {_d(2.5 * M)}
                      AND n_registers_hit < {M}
                      THEN {_d(float(M))}
                           * ln({_d(float(M))} / ({M} - n_registers_hit))
                      ELSE {_d(ALPHA_M * M * M)}
                           / (sum_pow + ({M} - n_registers_hit)) END,
                 2) AS est_distinct
    FROM {agg_rel}"""


# --- count-min sketch -------------------------------------------------------
# The frequency twin of the HLL above: a fixed D x W counter table that
# partial-aggregates map-side, merges by cell-wise SUM, and answers
# "about how often does key k occur" with one-sided error (estimate >=
# truth, overshoot <= N*e/W with prob 1-(1/2)^D). Same portability
# rules: md5 row hashes, integer counters, no floats anywhere — both
# engines compute identical cells and identical estimates.
#
# Scale shape: the build is explode -> groupBy(d, bucket) — map-side
# combinable into at most D*W rows regardless of corpus size; estimation
# joins a CANDIDATE key set against the broadcast cell table. Candidates
# at 100 TB come from a sample or a prior coarse pass, never "all keys"
# (if you could enumerate all keys exactly you would not need the
# sketch); the fixture query uses the full small vocabulary so the
# one-sided-error property is checkable row by row.

CM_SEEDS = (101, 102, 103, 104)   # D = 4 independent rows
CM_W = 512                        # buckets per row


def cm_cells(df: DataFrame, key: Column) -> DataFrame:
    """Count-min cell table (d, bucket, c) over key OCCURRENCES (one
    increment per input row). Merge two sketches by unioning and
    summing c per (d, bucket)."""
    from koby_s_ai_vector_db_spark.functions.hashing import portable_hash32

    arr = F.array(
        *[
            F.struct(
                F.lit(i).alias("d"),
                (portable_hash32(key, seed=s) % CM_W).alias("bucket"),
            )
            for i, s in enumerate(CM_SEEDS)
        ]
    )
    return (
        df.select(F.explode(arr).alias("p"))
        .select("p.d", "p.bucket")
        .groupBy("d", "bucket")
        .agg(F.count("*").alias("c"))
    )


def cm_estimate(cells: DataFrame, candidates: DataFrame, key_col: str) -> DataFrame:
    """Estimated occurrence count per candidate key: min over the D row
    counters. The cell table (<= D*W rows) is broadcast; a candidate
    hitting an absent cell has true count 0."""
    from koby_s_ai_vector_db_spark.functions.hashing import portable_hash32

    k = F.col(key_col)
    arr = F.array(
        *[
            F.struct(
                F.lit(i).alias("d"),
                (portable_hash32(k, seed=s) % CM_W).alias("bucket"),
            )
            for i, s in enumerate(CM_SEEDS)
        ]
    )
    probes = candidates.select(key_col, F.explode(arr).alias("p")).select(
        key_col, "p.d", "p.bucket"
    )
    return (
        probes.join(F.broadcast(cells), ["d", "bucket"], "left")
        .groupBy(key_col)
        .agg(F.min(F.coalesce("c", F.lit(0))).alias("est_n"))
    )


def cm_oracle_cte(key_sql: str) -> str:
    """DuckDB rendering: given an upstream relation ``cm_in`` with one
    row per key occurrence (column rendered by ``key_sql``), produces
    ``cm_cells`` (d, bucket, c) and ``cm_est`` (key, est_n) over the
    DISTINCT keys of cm_in."""
    from koby_s_ai_vector_db_spark.functions.hashing import sql_hash32

    probe_rows = " UNION ALL ".join(
        f"SELECT {i} AS d, {sql_hash32(key_sql, seed=s)} % {CM_W} AS bucket,"
        f" {key_sql} AS k FROM cm_in"
        for i, s in enumerate(CM_SEEDS)
    )
    return f"""
cm_probes AS ({probe_rows}),
cm_cells AS (
    SELECT d, bucket, count(*) AS c FROM cm_probes GROUP BY d, bucket
),
cm_est AS (
    SELECT k, min(coalesce(c, 0)) AS est_n
    FROM (SELECT DISTINCT d, bucket, k FROM cm_probes) p
    LEFT JOIN cm_cells USING (d, bucket)
    GROUP BY k
)"""


# --- quantile histogram sketch ----------------------------------------------
# The quantile member of the sketch family (HLL = distinct, CMS =
# frequency): an HdrHistogram-style log-linear bucket table. Values are
# scaled to integers (u = round(v * QH_SCALE)), then bucketed on
# (power-of-two, top QH_SUB_BITS mantissa bits) — all via length(bin(u))
# and integer shifts, the same no-libm trick as the HLL rho, so both
# engines compute IDENTICAL buckets. Cells merge by SUM (associative,
# partial-aggregates map-side); a quantile is read off the cumulative
# bucket counts as the bucket LOWER BOUND containing rank ceil(q*n) —
# a one-sided (under-)estimate with relative error <= 2^-QH_SUB_BITS
# (~3.1% at 5 sub-bits).
#
# Scale shape: build = ONE map-side-combinable groupBy over <= a few
# hundred cells per group; read = a window over those cells. Raw values
# never cross the shuffle.

QH_SCALE = 100          # fixed-point: 2 decimal digits preserved
QH_SUB_BITS = 5         # mantissa sub-buckets -> rel. error <= 1/32
_QH_BASE = 1 << (QH_SUB_BITS + 1)   # 64: below this, buckets are exact


def _qh_u_sql(value_sql: str) -> str:
    return f"CAST(round(({value_sql}) * {QH_SCALE}) AS BIGINT)"


def _qh_id_sql(u: str) -> str:
    """Bucket id: exact below _QH_BASE, else (power, top-mantissa) key.
    Monotone in u, so cumulative counts in id order are rank-correct."""
    bits = f"length(bin({u}))"
    top = f"({u} >> ({bits} - {QH_SUB_BITS + 1}))"
    return (
        f"CASE WHEN {u} < {_QH_BASE} THEN {u} "
        f"ELSE {_QH_BASE} + ({bits} - {QH_SUB_BITS + 2}) * {1 << QH_SUB_BITS} "
        f"+ ({top} - {1 << QH_SUB_BITS}) END"
    )


def _qh_lo_sql(u: str) -> str:
    """Bucket lower bound (integer units) — the reported estimate."""
    bits = f"length(bin({u}))"
    shift = f"({bits} - {QH_SUB_BITS + 1})"
    return (
        f"CASE WHEN {u} < {_QH_BASE} THEN {u} "
        f"ELSE (({u} >> {shift}) << {shift}) END"
    )


def qh_cells(
    df: DataFrame, value_sql: str, group_cols: list[str]
) -> DataFrame:
    """(group..., bucket_id, lo, cnt) — mergeable by summing cnt.
    Domain: value >= 0. Negative scaled values land in the exact branch
    (u < 64 matches before bin() is reached), so they are bucketed
    EXACTLY and rank order is preserved — but the log-linear error bound
    and the lower-bound-estimate convention are only stated for the
    non-negative domain."""
    u = _qh_u_sql(value_sql)
    return (
        df.select(
            *group_cols,
            F.expr(_qh_id_sql(u)).alias("bucket_id"),
            F.expr(_qh_lo_sql(u)).alias("lo"),
        )
        .groupBy(*group_cols, "bucket_id", "lo")
        .agg(F.count("*").alias("cnt"))
    )


def qh_quantiles(
    cells: DataFrame, group_cols: list[str], qs: list[float]
) -> DataFrame:
    """Read quantile estimates off the cell table: the unique bucket with
    cum - cnt < ceil(q*n) <= cum; estimate = its lower bound / scale."""
    from pyspark.sql import Window

    spark = cells.sparkSession
    w_cum = (
        Window.partitionBy(*group_cols)
        .orderBy("bucket_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy(*group_cols)
    c = cells.withColumn("cum", F.sum("cnt").over(w_cum)).withColumn(
        "n", F.sum("cnt").over(w_all)
    )
    from koby_s_ai_vector_db_spark.functions.caching import memo
    from koby_s_ai_vector_db_spark.sources.tables import local_frame

    qdf = memo(
        spark,
        ("qh_quantiles_qdf", tuple(qs)),
        lambda: local_frame(spark, [(float(q),) for q in qs], "q double"),
    )
    rank = F.expr("CAST(ceil(q * n) AS BIGINT)")
    return (
        c.join(F.broadcast(qdf))
        .where((F.col("cum") - F.col("cnt") < rank) & (rank <= F.col("cum")))
        .select(
            *group_cols,
            "q",
            F.round(F.col("lo") / F.lit(float(QH_SCALE)), 2).alias("est_value"),
        )
    )


def qh_oracle_cte(value_sql: str, group_sql: str, qs: list[float]) -> str:
    """DuckDB twin over a relation ``qh_in``; emits ``qh_out`` with
    (grp, q, est_value). Identical integer bucket math."""
    u = _qh_u_sql(value_sql)
    qs_values = ", ".join(f"({float(q)!r})" for q in qs)
    return f"""
qh_cells AS (
    SELECT {group_sql} AS grp,
           {_qh_id_sql(u)} AS bucket_id,
           {_qh_lo_sql(u)} AS lo,
           count(*) AS cnt
    FROM qh_in GROUP BY 1, 2, 3
),
qh_cum AS (
    SELECT grp, bucket_id, lo, cnt,
           sum(cnt) OVER (PARTITION BY grp ORDER BY bucket_id
                          ROWS UNBOUNDED PRECEDING) AS cum,
           sum(cnt) OVER (PARTITION BY grp) AS n
    FROM qh_cells
),
qh_out AS (
    SELECT grp, q, round(lo / CAST({float(QH_SCALE)!r} AS DOUBLE), 2)
             AS est_value
    FROM qh_cum, (VALUES {qs_values}) AS qv(q)
    WHERE cum - cnt < CAST(ceil(q * n) AS BIGINT)
      AND CAST(ceil(q * n) AS BIGINT) <= cum
)"""


# --- KMV (theta) distinct-value sketch ---------------------------------------
# The set-operation member of the sketch family: HLL above answers
# "how many distinct" and merges by max, but it cannot INTERSECT two
# sketches. A KMV synopsis (Beyer et al., "On Synopses for Distinct
# Value Estimation Under Multiset Operations", SIGMOD 2007 — the theta
# sketch) keeps the k smallest distinct hash values per set; then
#   union      : k smallest of the two samples' union,
#   distinct   : (k-1) / U_(k)  with U_(k) the k-th smallest hash
#                normalised to [0,1),
#   intersect  : |{v in KMV(A u B): v in S_A and v in S_B}| / k
#                x (k-1)/U_(k)   (the theta framework),
# all computable from the two fixed-size samples alone — the raw keys
# never meet. Membership tests against S_A are sound because the union
# synopsis' threshold U_(k) is <= either input's own k-th smallest, so
# every union-sample value that belongs to A is guaranteed to appear in
# S_A. Same portability rules as the HLL: md5-derived 60-bit hashes,
# identical literals on both engines, estimates rounded to 2 decimals.
#
# Scale shape: the build is distinct(group, h) — map-side combinable —
# then one rank-then-filter window whose row_number(<= k) plans as
# WindowGroupLimit (Spark >= 3.5): each task pre-truncates its input to
# k rows per group BEFORE the exchange, so the final per-group sort sees
# at most k x (upstream partitions) rows, never a group's full distinct
# set. (A hand-rolled spark_partition_id prefilter costs one EXTRA
# exchange for the same truncation — measured and removed.)

KMV_K = 64
KMV_DOMAIN = 1 << 60   # portable_hash64 draws 15 hex digits -> [0, 2^60)


def kmv_sample(
    df: DataFrame, key: Column, group_cols: list[str],
    seed: int = 7,
) -> DataFrame:
    """Per-group KMV synopsis: the k smallest DISTINCT portable 60-bit
    hashes, as (group_cols..., h). Mergeable: union two synopses,
    distinct h, keep the k smallest."""
    from pyspark.sql import Window

    from koby_s_ai_vector_db_spark.functions.hashing import portable_hash64

    hashed = df.select(
        *group_cols, portable_hash64(key, seed=seed).alias("h")
    ).distinct()
    fin = Window.partitionBy(*group_cols).orderBy("h")
    return (
        hashed.withColumn("_rk", F.row_number().over(fin))
        .where(F.col("_rk") <= KMV_K)
        .select(*group_cols, "h")
    )


def kmv_estimate(n_sample: Column, kth_hash: Column) -> Column:
    """Distinct-count estimate from a synopsis' (row count, max hash):
    exact when the sample is the complete distinct set (n < k), else the
    unbiased (k-1)/U_(k) estimator."""
    u = kth_hash.cast("double") / F.lit(KMV_DOMAIN).cast("double")
    return F.when(n_sample < KMV_K, n_sample.cast("double")).otherwise(
        F.lit(float(KMV_K - 1)) / u
    )


def kmv_est_sql(n_expr: str, kth_expr: str) -> str:
    """DuckDB rendering of kmv_estimate (CASTs keep everything DOUBLE —
    bare decimal literals would be DECIMAL, a driver-hash hazard)."""
    u = f"(CAST({kth_expr} AS DOUBLE) / CAST({KMV_DOMAIN} AS DOUBLE))"
    return (
        f"CASE WHEN {n_expr} < {KMV_K} THEN CAST({n_expr} AS DOUBLE) "
        f"ELSE CAST({float(KMV_K - 1)!r} AS DOUBLE) / {u} END"
    )


def kmv_intersect_sql(x_expr: str, n_expr: str, kth_expr: str) -> str:
    """DuckDB rendering of the theta intersection estimator: exact when
    the union sample is complete, else x * (k-1) / (k * U_(k)) with the
    division order fixed so both engines evaluate identically."""
    u = f"(CAST({kth_expr} AS DOUBLE) / CAST({KMV_DOMAIN} AS DOUBLE))"
    return (
        f"CASE WHEN {n_expr} < {KMV_K} THEN CAST({x_expr} AS DOUBLE) "
        f"ELSE CAST({x_expr} AS DOUBLE) * CAST({float(KMV_K - 1)!r} AS DOUBLE) "
        f"/ CAST({float(KMV_K)!r} AS DOUBLE) / {u} END"
    )


def kmv_intersect_estimate(x: Column, n_sample: Column, kth_hash: Column) -> Column:
    """Spark twin of kmv_intersect_sql — same literals, same division
    order."""
    u = kth_hash.cast("double") / F.lit(KMV_DOMAIN).cast("double")
    return F.when(n_sample < KMV_K, x.cast("double")).otherwise(
        x.cast("double") * F.lit(float(KMV_K - 1)) / F.lit(float(KMV_K)) / u
    )
