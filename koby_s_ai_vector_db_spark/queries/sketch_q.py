"""Sketch-based analytics: portable HyperLogLog distinct counting.

The reference's dashboards COUNT(DISTINCT ...) per request
(core/views.py user/session analytics); at 100 TB, distinct user-days
per event type is answered from a 1024-register mergeable sketch
(operators/sketches.py) whose registers partial-aggregate map-side and
whose raw keys never cross the shuffle. The registered query keeps an
exact arm alongside for self-describing accuracy — production drops it
(that is the entire point of the sketch), so the plan to copy is the
est arm: scan -> map-side max per (type, register) -> 1024-row-per-type
exchange -> scalar estimate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from koby_s_ai_vector_db_spark.operators.sketches import (
    cm_oracle_cte,
    hll_estimate,
    hll_oracle_cte,
    hll_registers,
    qh_oracle_cte,
)
from koby_s_ai_vector_db_spark.registry import register
from koby_s_ai_vector_db_spark.sources.tables import load_table, local_frame

_HLL_ORACLE = f"""
WITH hll_in AS (
    SELECT event_type,
           user_id::VARCHAR || ':' || strftime(ts, '%Y-%m-%d') AS k
    FROM events
),
{hll_oracle_cte(key_sql="k", group_sql="event_type").lstrip()},
exact AS (
    SELECT event_type,
           count(DISTINCT user_id::VARCHAR || ':' || strftime(ts, '%Y-%m-%d'))
             AS exact_distinct
    FROM events GROUP BY event_type
)
SELECT h.grp AS event_type,
       e.exact_distinct,
       h.n_registers_hit,
       h.est_distinct,
       round(abs(h.est_distinct - e.exact_distinct)
             / e.exact_distinct * 100, 2) AS rel_err_pct
FROM hll_out h JOIN exact e ON h.grp = e.event_type
"""


@register("a17_hll_distinct", _HLL_ORACLE)
def a17_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct active user-days per event type via a cross-engine
    deterministic HyperLogLog (m=1024) — the sketch answer the reference
    computes exactly per dashboard request (core/views.py analytics).
    The exact arm rides along to exhibit the error; the est arm alone is
    the 100 TB plan (no distinct shuffle of raw keys)."""
    ev = load_table(spark, sf_dir, "events")
    key = F.concat_ws(
        ":", F.col("user_id").cast("string"), F.date_format("ts", "yyyy-MM-dd")
    )
    est = hll_estimate(
        hll_registers(ev.select("event_type", key.alias("k")), F.col("k"),
                      ["event_type"]),
        ["event_type"],
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct(key).alias("exact_distinct")
    )
    return est.join(F.broadcast(exact), "event_type").select(
        "event_type",
        "exact_distinct",
        "n_registers_hit",
        "est_distinct",
        F.round(
            F.abs(F.col("est_distinct") - F.col("exact_distinct"))
            / F.col("exact_distinct")
            * 100,
            2,
        ).alias("rel_err_pct"),
    )


# --- a18: count-min heavy hitters -------------------------------------------
HEAVY_TOP = 15

_CM_ORACLE = f"""
WITH cm_in AS (
    SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                              t -> t <> '')) AS term
    FROM documents
),
{cm_oracle_cte(key_sql="term").lstrip()},
exact AS (SELECT term, count(*) AS exact_n FROM cm_in GROUP BY term)
SELECT e.term, e.exact_n, c.est_n, c.est_n - e.exact_n AS overcount
FROM cm_est c JOIN exact e ON c.k = e.term
ORDER BY c.est_n DESC, e.term ASC
LIMIT {HEAVY_TOP}
"""


@register("a18_heavy_hitters", _CM_ORACLE)
def a18_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-15 most frequent corpus terms via a cross-engine
    deterministic count-min sketch (D=4 x W=512 integer cells, merge =
    cell-wise sum): estimate >= truth always; the exact arm rides along
    to exhibit the one-sided overcount. The 100 TB plan is the sketch
    arm alone — the cell build is map-side combinable into <= D*W rows
    no matter the corpus, and candidates come from a sample, not an
    exact global count (which would defeat the sketch)."""
    from koby_s_ai_vector_db_spark.operators.sketches import (
        cm_cells,
        cm_estimate,
    )

    docs = load_table(spark, sf_dir, "documents")
    from koby_s_ai_vector_db_spark.functions.partitioning import spread
    from koby_s_ai_vector_db_spark.operators.dedup import words_expr

    # spread() per the §9 convention: the token explode + 4x md5 cell
    # hashing is a CPU-bound pre-shuffle map, and the single-file corpus
    # arrives as a handful of partitions (round-11 spread-audit find).
    post = spread(docs).select(F.explode(words_expr("text")).alias("term"))
    cells = cm_cells(post, F.col("term"))
    exact = post.groupBy("term").agg(F.count("*").alias("exact_n"))
    est = cm_estimate(cells, exact.select("term"), "term")
    return (
        exact.join(est, "term")
        .select(
            "term",
            "exact_n",
            "est_n",
            (F.col("est_n") - F.col("exact_n")).alias("overcount"),
        )
        .orderBy(F.desc("est_n"), F.asc("term"))
        .limit(HEAVY_TOP)
    )


# --- quantile histogram sketch ----------------------------------------------

QH_QS = [0.5, 0.9, 0.99]

_QH_ORACLE = f"""
WITH qh_in AS (SELECT event_type, value FROM events),
{qh_oracle_cte(value_sql="value", group_sql="event_type", qs=QH_QS).lstrip()},
ranked AS (
    SELECT event_type, value,
           row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
           count(*) OVER (PARTITION BY event_type) AS n
    FROM events
),
exact AS (
    SELECT r.event_type, qv.q, round(r.value, 6) AS exact_value
    FROM ranked r, (VALUES {", ".join(f"({float(q)!r})" for q in QH_QS)}) AS qv(q)
    WHERE r.rn = CAST(ceil(qv.q * r.n) AS BIGINT)
)
SELECT o.grp AS event_type, CAST(o.q AS DOUBLE) AS q, o.est_value, e.exact_value,
       round(abs(o.est_value - e.exact_value)
             / CASE WHEN e.exact_value = 0 THEN 1 ELSE e.exact_value END
             * 100, 2) AS rel_err_pct
FROM qh_out o JOIN exact e ON o.grp = e.event_type AND o.q = e.q
ORDER BY event_type, o.q
"""


@register("a20_quantile_sketch", _QH_ORACLE)
def a20_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p50/p90/p99 of event value per type via the HdrHistogram-style
    log-linear bucket sketch (operators/sketches.py::qh_cells) — integer
    bucket math identical on both engines, cells merge by SUM, raw
    values never cross the shuffle; one-sided (lower-bound) estimates
    with rel. error <= 2^-5. The exact rank arm rides along to exhibit
    the error; production drops it."""
    from pyspark.sql import Window

    from koby_s_ai_vector_db_spark.operators.sketches import (
        qh_cells,
        qh_quantiles,
    )

    ev = load_table(spark, sf_dir, "events")
    est = qh_quantiles(
        qh_cells(ev.select("event_type", "value"), "value", ["event_type"]),
        ["event_type"],
        QH_QS,
    )
    ranked = ev.select(
        "event_type",
        "value",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("value"))
        .alias("rn"),
        F.count("*").over(Window.partitionBy("event_type")).alias("n"),
    )
    from koby_s_ai_vector_db_spark.functions.caching import memo

    qdf = memo(
        spark,
        ("qh_qdf", tuple(QH_QS)),
        lambda: local_frame(spark, [(float(q),) for q in QH_QS], "q double"),
    )
    exact = (
        ranked.join(F.broadcast(qdf))
        .where(F.col("rn") == F.expr("CAST(ceil(q * n) AS BIGINT)"))
        .select("event_type", "q", F.round("value", 6).alias("exact_value"))
    )
    return (
        est.join(exact, ["event_type", "q"])
        .select(
            "event_type",
            "q",
            "est_value",
            "exact_value",
            F.round(
                F.abs(F.col("est_value") - F.col("exact_value"))
                / F.when(F.col("exact_value") == 0, F.lit(1.0)).otherwise(
                    F.col("exact_value")
                )
                * 100,
                2,
            ).alias("rel_err_pct"),
        )
        .orderBy("event_type", "q")
    )


# --- a22: windowed HLL with sketch merge -------------------------------------
# The property that makes sketches the 100 TB answer: per-day register
# tables are the STORED rollup artifact, and distinct-over-any-period is
# a max-merge of the periods' registers — never a re-scan of raw events.
# Three arms, two independent Spark paths: per-day sketches, MERGED
# (max(r) per bucket across the day registers), and GLOBAL (a fresh
# sketch built from raw rows). MERGED == GLOBAL is the mergeability
# proof, and the oracle renders both from one computation, so a broken
# merge OR a broken register build each fails the driver hash.
from koby_s_ai_vector_db_spark.operators.sketches import hll_est_sql as _hll_est_sql  # noqa: E402

_HLL_MERGE_ORACLE = f"""
WITH hll_in AS (
    SELECT strftime(ts, '%Y-%m-%d') AS day, user_id::VARCHAR AS k FROM events
),
{hll_oracle_cte(key_sql="k", group_sql="day").lstrip()},
merged_agg AS (
    SELECT 'MERGED' AS grp,
           sum(CAST(1.0 AS DOUBLE) / CAST(1::BIGINT << r AS DOUBLE)) AS sum_pow,
           count(*) AS n_registers_hit
    FROM (SELECT bucket, max(r) AS r FROM hll_r GROUP BY bucket)
),
merged_out AS ({_hll_est_sql("merged_agg")}),
ests AS (
    SELECT grp, n_registers_hit, est_distinct FROM hll_out
    UNION ALL SELECT grp, n_registers_hit, est_distinct FROM merged_out
    UNION ALL SELECT 'GLOBAL', n_registers_hit, est_distinct FROM merged_out
),
exact_day AS (
    SELECT strftime(ts, '%Y-%m-%d') AS grp,
           count(DISTINCT user_id) AS exact_distinct
    FROM events GROUP BY 1
),
exact AS (
    SELECT grp, CAST(exact_distinct AS BIGINT) AS exact_distinct FROM exact_day
    UNION ALL
    SELECT g, CAST(count(DISTINCT user_id) AS BIGINT)
    FROM events, (VALUES ('MERGED'), ('GLOBAL')) AS l(g) GROUP BY g
)
SELECT e.grp, x.exact_distinct,
       CAST(e.n_registers_hit AS BIGINT) AS n_registers_hit,
       CAST(e.est_distinct AS DOUBLE) AS est_distinct
FROM ests e JOIN exact x USING (grp)
ORDER BY grp
"""


@register("a22_hll_daily_merge", _HLL_MERGE_ORACLE)
def a22_hll_daily_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per day via per-day HLL register tables, plus a
    MERGED row (max-merge of the stored day registers) and a GLOBAL row
    (fresh sketch over raw events) that must agree — the rollup pattern
    where period-over-period distincts come from merging stored
    sketches, not rescanning events. Register tables are the only
    shuffled artifact (<= m rows per day)."""
    # Round-13 (guide §1, measured keep-or-revert): two rewrites were
    # A/B'd and REVERTED — (a) feeding all four arms from one memoized
    # distinct-(day,user) table: 1.72 → 2.82 s at sf0.1 (the fixture has
    # ~1 event per user-day, so the distinct pass bought no reduction and
    # cost a wide exchange + row-cache rescans); (b) sharing the distinct
    # table for just the two exact arms (countDistinct expands removed):
    # 1.71 → 1.84 s min. hll_registers is already map-side max-combined
    # into ≤ m×|groups| rows — four cheap columnar scans with strong
    # partial aggregation beat any shared materialized intermediate at
    # this duplication factor. Recorded in OPTIMIZATION_r13.md.
    ev = load_table(spark, sf_dir, "events")
    day = F.date_format("ts", "yyyy-MM-dd")
    regs = hll_registers(
        ev.select(day.alias("day"), F.col("user_id").cast("string").alias("k")),
        F.col("k"),
        ["day"],
    )
    est_day = hll_estimate(regs, ["day"]).select(
        F.col("day").alias("grp"), "n_registers_hit", "est_distinct"
    )
    merged = (
        regs.groupBy("bucket")
        .agg(F.max("r").alias("r"))
        .select(F.lit("MERGED").alias("grp"), "bucket", "r")
    )
    est_merged = hll_estimate(merged, ["grp"])
    gl = hll_registers(
        ev.select(
            F.lit("GLOBAL").alias("grp"), F.col("user_id").cast("string").alias("k")
        ),
        F.col("k"),
        ["grp"],
    )
    est_global = hll_estimate(gl, ["grp"])
    ests = est_day.unionByName(est_merged).unionByName(est_global)
    exact_day = ev.groupBy(day.alias("grp")).agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    from koby_s_ai_vector_db_spark.functions.caching import memo

    labels = memo(
        spark,
        "a22_labels",
        lambda: local_frame(spark, [("MERGED",), ("GLOBAL",)], "grp string"),
    )
    exact_all = labels.crossJoin(
        F.broadcast(ev.agg(F.countDistinct("user_id").alias("exact_distinct")))
    )
    exact = exact_day.unionByName(exact_all)
    return (
        ests.join(exact, "grp")
        .select("grp", "exact_distinct", "n_registers_hit", "est_distinct")
        .orderBy("grp")
    )


# --- a23: KMV theta-sketch set algebra ---------------------------------------
# HLL merges by max but cannot intersect; audience-overlap questions
# ("how many users both clicked AND purchased") need the theta framework:
# fixed-size KMV samples per event type, then union/intersection
# estimates computed from the samples alone (operators/sketches.py, KMV
# section). The exact-intersection arm rides along to exhibit the error;
# the 100 TB plan is the sketch arms only — per-type synopses are <= k
# rows each, so every pairwise overlap is k-row sample algebra, never a
# distinct self-join of raw (type, user) rows.
from koby_s_ai_vector_db_spark.functions.hashing import sql_hash64 as _sql_hash64  # noqa: E402
from koby_s_ai_vector_db_spark.operators.sketches import (  # noqa: E402
    KMV_K,
    kmv_est_sql,
    kmv_estimate,
    kmv_intersect_estimate,
    kmv_intersect_sql,
)

_KMV_SEED = 7

_THETA_ORACLE = f"""
WITH du AS (
    SELECT DISTINCT event_type,
           {_sql_hash64("user_id::VARCHAR", seed=_KMV_SEED)} AS h
    FROM events
),
s AS (
    SELECT event_type, h FROM du
    QUALIFY row_number() OVER (PARTITION BY event_type ORDER BY h) <= {KMV_K}
),
st AS (
    SELECT event_type, count(*) AS n_s, max(h) AS u_s FROM s GROUP BY 1
),
pairs AS (
    SELECT a.event_type AS type_a, b.event_type AS type_b
    FROM (SELECT DISTINCT event_type FROM events) a
    JOIN (SELECT DISTINCT event_type FROM events) b
      ON a.event_type < b.event_type
),
m AS (
    SELECT p.type_a, p.type_b, s.h,
           max(CASE WHEN s.event_type = p.type_a THEN 1 ELSE 0 END) AS in_a,
           max(CASE WHEN s.event_type = p.type_b THEN 1 ELSE 0 END) AS in_b
    FROM pairs p JOIN s ON s.event_type IN (p.type_a, p.type_b)
    GROUP BY 1, 2, 3
),
topu AS (
    SELECT * FROM m
    QUALIFY row_number() OVER (PARTITION BY type_a, type_b ORDER BY h)
            <= {KMV_K}
),
agg AS (
    SELECT type_a, type_b,
           count(*) AS n_u, max(h) AS u_k,
           CAST(sum(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS x
    FROM topu GROUP BY 1, 2
),
exact AS (
    SELECT a.event_type AS type_a, b.event_type AS type_b,
           CAST(count(*) AS BIGINT) AS exact_intersect
    FROM (SELECT DISTINCT event_type, user_id FROM events) a
    JOIN (SELECT DISTINCT event_type, user_id FROM events) b
      ON a.user_id = b.user_id AND a.event_type < b.event_type
    GROUP BY 1, 2
)
SELECT g.type_a, g.type_b,
       round({kmv_est_sql("sa.n_s", "sa.u_s")}, 2) AS est_a,
       round({kmv_est_sql("sb.n_s", "sb.u_s")}, 2) AS est_b,
       round({kmv_est_sql("g.n_u", "g.u_k")}, 2) AS est_union,
       round({kmv_intersect_sql("g.x", "g.n_u", "g.u_k")}, 2)
         AS est_intersect,
       COALESCE(e.exact_intersect, 0) AS exact_intersect
FROM agg g
JOIN st sa ON sa.event_type = g.type_a
JOIN st sb ON sb.event_type = g.type_b
LEFT JOIN exact e ON e.type_a = g.type_a AND e.type_b = g.type_b
ORDER BY g.type_a, g.type_b
"""


@register("a23_theta_overlap", _THETA_ORACLE)
def a23_theta_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-user overlap between every event-type pair via KMV theta
    sketches (k=64): per-type distinct, union, and intersection
    estimates from the fixed-size samples alone. The exact arm rides
    along for accuracy exhibition; production keeps only the sketch arms
    (pairwise algebra over <= k-row samples). The synopsis is
    memo-persisted (the repo's bounded caching pattern — a bare cache()
    would accumulate anonymous entries across applications): three
    consumers (stats, pair membership, type list) read it without
    re-running the distinct + rank build."""
    from koby_s_ai_vector_db_spark.functions.caching import memo_persist
    from koby_s_ai_vector_db_spark.operators.sketches import kmv_sample

    ev = load_table(spark, sf_dir, "events")
    s = memo_persist(
        spark,
        ("kmv_events", sf_dir),
        lambda: kmv_sample(
            ev, F.col("user_id").cast("string"), ["event_type"],
            seed=_KMV_SEED,
        ),
    )
    st = s.groupBy("event_type").agg(
        F.count("*").alias("n_s"), F.max("h").alias("u_s")
    )
    types = s.select("event_type").distinct()
    pairs = (
        types.alias("a")
        .join(
            types.alias("b"),
            F.col("a.event_type") < F.col("b.event_type"),
        )
        .select(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
    )
    m = (
        F.broadcast(pairs)
        .join(
            s,
            (F.col("event_type") == F.col("type_a"))
            | (F.col("event_type") == F.col("type_b")),
        )
        .groupBy("type_a", "type_b", "h")
        .agg(
            F.max((F.col("event_type") == F.col("type_a")).cast("int"))
            .alias("in_a"),
            F.max((F.col("event_type") == F.col("type_b")).cast("int"))
            .alias("in_b"),
        )
    )
    from pyspark.sql import Window

    topu = (
        m.withColumn(
            "_rk",
            F.row_number().over(
                Window.partitionBy("type_a", "type_b").orderBy("h")
            ),
        )
        .where(F.col("_rk") <= KMV_K)
    )
    agg = topu.groupBy("type_a", "type_b").agg(
        F.count("*").alias("n_u"),
        F.max("h").alias("u_k"),
        F.sum(((F.col("in_a") == 1) & (F.col("in_b") == 1)).cast("long"))
        .alias("x"),
    )
    # Round-13 keep-or-revert: memoizing this distinct for the self-join
    # A/B'd 1.26 → 1.57 s min at sf0.1 (the row-cache rescan on both join
    # sides costs more than two inline columnar scans with map-side
    # distinct at this cardinality) — recorded negative, left inline
    # (OPTIMIZATION_r13.md).
    dtu = ev.select("event_type", "user_id").distinct()
    exact = (
        dtu.alias("a")
        .join(
            dtu.alias("b"),
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count("*").alias("exact_intersect"))
    )
    sa = st.select(
        F.col("event_type").alias("type_a"),
        F.col("n_s").alias("n_a"),
        F.col("u_s").alias("u_a"),
    )
    sb = st.select(
        F.col("event_type").alias("type_b"),
        F.col("n_s").alias("n_b"),
        F.col("u_s").alias("u_b"),
    )
    return (
        agg.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .join(exact, ["type_a", "type_b"], "left")
        .select(
            "type_a",
            "type_b",
            F.round(kmv_estimate(F.col("n_a"), F.col("u_a")), 2).alias("est_a"),
            F.round(kmv_estimate(F.col("n_b"), F.col("u_b")), 2).alias("est_b"),
            F.round(kmv_estimate(F.col("n_u"), F.col("u_k")), 2)
            .alias("est_union"),
            F.round(
                kmv_intersect_estimate(F.col("x"), F.col("n_u"), F.col("u_k")),
                2,
            ).alias("est_intersect"),
            F.coalesce(F.col("exact_intersect"), F.lit(0)).cast("long")
            .alias("exact_intersect"),
        )
        .orderBy("type_a", "type_b")
    )


# --- a25: the KMV synopsis table itself ---------------------------------------
# The per-group k-min synopsis kmv_sample builds — the stored artifact
# a23_theta_overlap's set algebra runs on; an ingest stream would keep it
# fresh by merging each batch's hashes and re-truncating (k-min truncation
# is monotone-safe).
# Output: per event_type, the synopsis stats (sample size, theta hash)
# and the distinct estimate they imply, with the exact count as the
# accuracy-exhibition arm (production keeps only the sketch columns).
_KMV_SYNOPSIS_ORACLE = f"""
WITH du AS (
    SELECT DISTINCT event_type,
           {_sql_hash64("user_id::VARCHAR", seed=_KMV_SEED)} AS h
    FROM events
),
s AS (
    SELECT event_type, h FROM du
    QUALIFY row_number() OVER (PARTITION BY event_type ORDER BY h) <= {KMV_K}
),
st AS (
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_s,
           CAST(max(h) AS BIGINT) AS theta_hash
    FROM s GROUP BY 1
),
exact AS (
    SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
    FROM events GROUP BY 1
)
SELECT st.event_type, st.n_s, st.theta_hash,
       round({kmv_est_sql("st.n_s", "st.theta_hash")}, 2) AS est_distinct,
       e.exact_distinct
FROM st JOIN exact e ON e.event_type = st.event_type
ORDER BY st.event_type
"""


@register("a25_kmv_synopsis", _KMV_SYNOPSIS_ORACLE)
def a25_kmv_synopsis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type KMV synopsis stats + distinct estimate (see note
    above). Shares a23's memoized synopsis build — one distinct + one
    WindowGroupLimit-pre-truncated rank window feed both queries."""
    from koby_s_ai_vector_db_spark.functions.caching import memo_persist
    from koby_s_ai_vector_db_spark.operators.sketches import kmv_sample

    ev = load_table(spark, sf_dir, "events")
    s = memo_persist(
        spark,
        ("kmv_events", sf_dir),
        lambda: kmv_sample(
            ev, F.col("user_id").cast("string"), ["event_type"],
            seed=_KMV_SEED,
        ),
    )
    st = s.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_s"),
        F.max("h").cast("long").alias("theta_hash"),
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("exact_distinct")
    )
    return (
        st.join(exact, "event_type")
        .select(
            "event_type",
            "n_s",
            "theta_hash",
            F.round(kmv_estimate(F.col("n_s"), F.col("theta_hash")), 2)
            .alias("est_distinct"),
            "exact_distinct",
        )
        .orderBy("event_type")
    )
