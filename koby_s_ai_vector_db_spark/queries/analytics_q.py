"""Analytics queries (SURVEY §2.4 A1–A12) wired to fixtures + DuckDB oracles.

Covers the reference's admin-dashboard surface: per-file doc summaries
(core/views.py:459-477), contribution analytics (core/supabase_utils.py:
315-359), live-user / session stats (core/session_utils.py:193-246),
activity breakdowns (core/session_utils.py:271-308) and the top-N
projections (core/views.py:1600-1654).

Every now-relative window is pinned to NOW_TS (sources/tables.py) so both
engines see identical cutoffs. All ORDER BYs carry an id tiebreaker per the
FIXTURES.md determinism contract.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from koby_s_ai_vector_db_spark.operators.analytics import (
    active_sessions,
    contribution_analytics,
    doc_summary,
    pending_count,
    recent_qa,
    recent_users,
    session_stats,
    top_rated,
    user_activity,
)
from koby_s_ai_vector_db_spark.operators.chunker import chunk_documents
from koby_s_ai_vector_db_spark.queries.chunker_q import OVERLAP, SIZE, chunks_cte
from koby_s_ai_vector_db_spark.registry import register
from koby_s_ai_vector_db_spark.sources.tables import (
    NOW_TS,
    feedback_cte,
    feedback_view,
    load_table,
)

NOW = f"TIMESTAMP '{NOW_TS}'"


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


def _feedback(spark: SparkSession, sf_dir: str) -> DataFrame:
    return feedback_view(spark, sf_dir)


_A1_ORACLE = (
    chunks_cte()
    + f"""
, per_doc AS (
    SELECT doc_id, count(*) AS chunk_count, sum(char_count) AS total_chars
    FROM chunk_rows GROUP BY doc_id
)
SELECT d.source,
       count(*) AS n_docs,
       CAST(coalesce(sum(p.chunk_count), 0) AS BIGINT) AS chunk_count,
       CAST(coalesce(sum(p.total_chars), 0) AS BIGINT) AS total_chars
FROM documents d LEFT JOIN per_doc p USING (doc_id)
GROUP BY d.source
"""
)


@register("a1_doc_summary", _A1_ORACLE)
def a1_doc_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 (views.py:459-477): per-source doc/chunk/char rollup."""
    docs = load_table(spark, sf_dir, "documents")
    chunks = chunk_documents(docs, chunk_size=SIZE, overlap=OVERLAP)
    return doc_summary(docs, chunks)


_A2_ORACLE = feedback_cte(
    """
SELECT question_type,
       count(*) AS total_contributions,
       round(coalesce(avg(rating), 0.0), 6) AS average_rating,
       count(CASE WHEN status = 'approved' THEN 1 END) AS approved_count
FROM feedback GROUP BY question_type
"""
)


@register("a2_contribution_analytics", _A2_ORACLE)
def a2_contribution_analytics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 (supabase_utils.py:315-330): per-type totals + avg rating."""
    return contribution_analytics(_feedback(spark, sf_dir))


_A3_ORACLE = feedback_cte(
    """
, ranked AS (
    SELECT id, question, rating,
           row_number() OVER (ORDER BY rating DESC, id ASC) AS rank
    FROM feedback WHERE status = 'approved'
)
SELECT id, question, rating, rank FROM ranked WHERE rank <= 10
"""
)


@register("a3_top_rated", _A3_ORACLE)
def a3_top_rated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 (supabase_utils.py:333-335): top-10 approved by rating."""
    return top_rated(_feedback(spark, sf_dir), limit=10)


_A4_ORACLE = feedback_cte(
    """
, ranked AS (
    SELECT id, question, question_type, created_at,
           row_number() OVER (ORDER BY created_at DESC, id ASC) AS rank
    FROM feedback WHERE status = 'approved'
)
SELECT id, question, question_type, created_at, rank FROM ranked WHERE rank <= 20
"""
)


@register("a4_recent_qa", _A4_ORACLE)
def a4_recent_qa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 (supabase_utils.py:338-359): recent-20 approved."""
    return recent_qa(_feedback(spark, sf_dir), limit=20)


_A6_ORACLE = f"""
WITH gstats AS (
    SELECT count(*) AS total_events,
           count(DISTINCT user_id) AS total_users,
           count(CASE WHEN ts >= date_trunc('day', {NOW}) THEN 1 END) AS events_today,
           count(DISTINCT CASE WHEN ts >= {NOW} - INTERVAL 30 MINUTE
                               THEN user_id END) AS live_users,
           count(CASE WHEN ts >= date_trunc('day', {NOW})
                       AND event_type = 'signup' THEN 1 END) AS signups_today
    FROM events WHERE ts <= {NOW}
),
u7 AS (
    SELECT event_type, count(*) AS n
    FROM events
    WHERE user_id = 7 AND ts >= {NOW} - INTERVAL 7 DAY AND ts <= {NOW}
    GROUP BY event_type
),
u7row AS (
    SELECT coalesce(string_agg(event_type || ':' || n, ','
                               ORDER BY event_type), '') AS u7_breakdown_7d,
           CAST(coalesce(sum(n), 0) AS BIGINT) AS u7_events_7d
    FROM u7
)
SELECT * FROM gstats CROSS JOIN u7row
"""


@register("a6_session_stats", _A6_ORACLE)
def a6_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6+A8+A12 (session_utils.py:213-246, views.py:1600-1612,874-876):
    one conditional-aggregate pass over all events, plus the A7 per-user
    view (session_utils.py:271-308) — user 7's 7-day per-type breakdown
    (`user_activity`) attached as two hash-checked columns
    (`u7_breakdown_7d` is the canonical sorted `type:count` string, so
    the whole per-user result is reconstructable; `u7_events_7d` is its
    total). The u7 arm is a second scan whose `user_id = 7` predicate
    pushes to the parquet reader (selective at any scale) and collapses
    to ONE row before the broadcast attach onto the 1-row global
    aggregate."""
    events = _events(spark, sf_dir)
    stats = session_stats(events)
    per_type = user_activity(events, user_id=7, days=7).select(
        "event_type", "n_events"
    )
    u7row = per_type.agg(
        F.concat_ws(
            ",",
            F.sort_array(
                F.collect_list(
                    F.concat(
                        F.col("event_type"),
                        F.lit(":"),
                        F.col("n_events").cast("string"),
                    )
                )
            ),
        ).alias("u7_breakdown_7d"),
        F.coalesce(F.sum("n_events"), F.lit(0))
        .cast("long")
        .alias("u7_events_7d"),
    )
    return stats.crossJoin(F.broadcast(u7row))


_A9_ORACLE = feedback_cte(
    "SELECT count(*) AS pending_count FROM feedback WHERE status = 'pending'"
)


@register("a9_pending_count", _A9_ORACLE)
def a9_pending_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 (views.py:1614-1618): pending contribution count."""
    return pending_count(_feedback(spark, sf_dir))


_A10_ORACLE = f"""
WITH users AS (
    SELECT user_id, min(ts) AS first_seen, count(*) AS n_events
    FROM events WHERE ts <= {NOW} GROUP BY user_id
),
ranked AS (
    SELECT *, row_number() OVER (ORDER BY first_seen DESC, user_id ASC) AS rank
    FROM users
)
SELECT user_id, first_seen, n_events, rank FROM ranked WHERE rank <= 10
"""


@register("a10_recent_users", _A10_ORACLE)
def a10_recent_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10 (views.py:1620-1635): 10 most recently first-seen users."""
    return recent_users(_events(spark, sf_dir), limit=10)


_A11_ORACLE = f"""
WITH sessions AS (
    SELECT user_id, max(ts) AS last_activity, count(*) AS n_events
    FROM events WHERE ts <= {NOW} GROUP BY user_id
),
ranked AS (
    SELECT *, row_number() OVER (ORDER BY last_activity DESC, user_id ASC) AS rank
    FROM sessions
    WHERE last_activity >= {NOW} - INTERVAL 30 MINUTE
)
SELECT user_id, last_activity, n_events, rank FROM ranked WHERE rank <= 10
"""


@register("a11_active_sessions", _A11_ORACLE)
def a11_active_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11 (views.py:1637-1654): top-10 live sessions by last activity."""
    return active_sessions(_events(spark, sf_dir), limit=10)


# Exact linear-interpolation percentiles (SQL-standard PERCENTILE_CONT):
# Spark `percentile` and DuckDB `quantile_cont` share the definition
# (index = p·(n-1), interpolate between floor/ceil neighbors), so the
# values agree to float rounding; scores round at 6dp like every other
# continuous output. Exact percentiles are a holistic aggregate — at
# 100 TB swap in approx_percentile (t-digest, mergeable map-side sketch)
# and keep this exact form as the small-scale oracle tier, the same
# exact-vs-scale split as dedup_embedding_cosine vs the LSH tiers.
_A14_ORACLE = """
SELECT event_type,
       count(*) AS n,
       round(quantile_cont(value, 0.50), 6) AS p50,
       round(quantile_cont(value, 0.90), 6) AS p90,
       round(quantile_cont(value, 0.99), 6) AS p99
FROM events GROUP BY event_type
"""


@register("a14_value_quantiles", _A14_ORACLE)
def a14_value_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type value distribution: exact p50/p90/p99."""
    ev = load_table(spark, sf_dir, "events")
    pct = F.percentile("value", F.lit([0.5, 0.9, 0.99]))
    return (
        ev.groupBy("event_type")
        .agg(F.count("*").alias("n"), pct.alias("_p"))
        .select(
            "event_type",
            "n",
            F.round(F.element_at("_p", 1), 6).alias("p50"),
            F.round(F.element_at("_p", 2), 6).alias("p90"),
            F.round(F.element_at("_p", 3), 6).alias("p99"),
        )
    )


# --- a15: ordered funnel ---------------------------------------------------
FUNNEL_STAGES = ["signup", "click", "purchase"]

_A15_ORACLE = """
WITH s1 AS (
    SELECT user_id, min(ts) AS ts FROM events
    WHERE event_type = 'signup' GROUP BY user_id
),
s2 AS (
    SELECT e.user_id, min(e.ts) AS ts FROM events e
    JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.ts
    WHERE e.event_type = 'click' GROUP BY e.user_id
),
s3 AS (
    SELECT e.user_id, min(e.ts) AS ts FROM events e
    JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.ts
    WHERE e.event_type = 'purchase' GROUP BY e.user_id
)
SELECT 'signup' AS stage, CAST(1 AS INTEGER) AS stage_ord, count(*) AS n_users FROM s1
UNION ALL
SELECT 'click', CAST(2 AS INTEGER), count(*) FROM s2
UNION ALL
SELECT 'purchase', CAST(3 AS INTEGER), count(*) FROM s3
"""


@register("a15_funnel", _A15_ORACLE)
def a15_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered signup → click → purchase funnel: users counted at a stage
    only if they reached it AFTER their previous stage
    (operators/analytics.py::funnel_conversion)."""
    from koby_s_ai_vector_db_spark.operators.analytics import funnel_conversion

    return funnel_conversion(_events(spark, sf_dir), FUNNEL_STAGES)


# --- a16: weekly retention cohorts ----------------------------------------
_A16_ORACLE = """
WITH first AS (SELECT user_id, min(ts) AS first_ts FROM events GROUP BY user_id),
act AS (
    SELECT e.user_id,
           date_trunc('week', f.first_ts) AS cohort_week,
           CAST(floor(date_diff('day', CAST(f.first_ts AS DATE), CAST(e.ts AS DATE)) / 7.0) AS BIGINT) AS week_offset
    FROM events e JOIN first f ON e.user_id = f.user_id
)
SELECT cohort_week, week_offset, count(DISTINCT user_id) AS n_users
FROM act GROUP BY cohort_week, week_offset
"""


@register("a16_retention", _A16_ORACLE)
def a16_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts: (first-event cohort week, whole weeks
    since first event, active-user count)
    (operators/analytics.py::retention_cohorts)."""
    from koby_s_ai_vector_db_spark.operators.analytics import retention_cohorts

    return retention_cohorts(_events(spark, sf_dir))


# --- z-order layout stats ----------------------------------------------------

from koby_s_ai_vector_db_spark.operators.zorder import (  # noqa: E402
    zorder_bucket_stats,
    zorder_oracle_sql,
)


@register("a21_zorder_stats", zorder_oracle_sql())
def a21_zorder_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton-curve layout audit: per-z-bucket bounding boxes over
    (user_id, event minute) — the data-skipping stats table a lakehouse
    keeps per file; small boxes in BOTH dimensions are what single-column
    sorting cannot give (operators/zorder.py; locality asserted in
    tests/test_zorder.py)."""
    return zorder_bucket_stats(load_table(spark, sf_dir, "events"))


# --- a24: key-skew diagnostics ------------------------------------------------
# The pre-flight a 100 TB join/aggregation plan needs: per-key row counts
# for the hot shuffle keys, their share of the table, and the max/avg
# skew ratio — the number that decides whether a key needs salting or
# AQE skew-join handles it. Per-key counts are one map-side-combined
# aggregate; the hot-key top-10 is a rank-then-filter window that plans
# as WindowGroupLimit — every task pre-truncates to 10 rows per column
# before the exchange, so no task ever sorts a full key column.
SKEW_TOP = 10


def _skew_counts_sql(col_label: str, key_sql: str, table: str) -> str:
    return (
        f"SELECT '{col_label}' AS col, {key_sql}::VARCHAR AS key, "
        f"count(*) AS cnt FROM {table} GROUP BY 2"
    )


_SKEW_ORACLE = f"""
WITH allk AS (
    {_skew_counts_sql("events.user_id", "user_id", "events")}
    UNION ALL
    {_skew_counts_sql("lineitem.l_suppkey", "l_suppkey", "lineitem")}
),
stats AS (
    SELECT col, CAST(count(*) AS BIGINT) AS n_keys,
           CAST(sum(cnt) AS BIGINT) AS n_rows,
           CAST(max(cnt) AS BIGINT) AS max_cnt
    FROM allk GROUP BY col
),
top AS (
    SELECT col, key, CAST(cnt AS BIGINT) AS cnt FROM allk
    QUALIFY row_number() OVER (PARTITION BY col ORDER BY cnt DESC, key)
            <= {SKEW_TOP}
)
SELECT t.col, t.key, t.cnt,
       round(CAST(t.cnt AS DOUBLE) / s.n_rows, 6) AS share,
       s.n_keys, s.n_rows,
       round(CAST(s.max_cnt AS DOUBLE) * s.n_keys / s.n_rows, 6)
         AS skew_ratio
FROM top t JOIN stats s USING (col)
"""


@register("a24_skew_report", _SKEW_ORACLE)
def a24_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew diagnostics over the two hottest join keys:
    top-10 keys by row count with their table share, plus per-column
    key cardinality and the max/avg skew ratio (>~ a few: salt the key
    or rely on AQE skew-join). One map-side-combined count per column;
    hot keys via a WindowGroupLimit-pre-truncated rank window. The
    keys-sized count table is memo-persisted: the stats pass and the
    top-k pass both consume it, and Catalyst would otherwise plan each
    as its own full scan of both base tables."""
    from pyspark.sql import Window

    from koby_s_ai_vector_db_spark.functions.caching import memo_persist

    def _counts() -> DataFrame:
        ev = load_table(spark, sf_dir, "events")
        li = load_table(spark, sf_dir, "lineitem")
        return (
            ev.groupBy(F.col("user_id").cast("string").alias("key"))
            .agg(F.count("*").alias("cnt"))
            .select(F.lit("events.user_id").alias("col"), "key", "cnt")
            .unionByName(
                li.groupBy(F.col("l_suppkey").cast("string").alias("key"))
                .agg(F.count("*").alias("cnt"))
                .select(F.lit("lineitem.l_suppkey").alias("col"), "key", "cnt")
            )
        )

    allk = memo_persist(spark, ("skew_allk", sf_dir), _counts)
    stats = allk.groupBy("col").agg(
        F.count("*").alias("n_keys"),
        F.sum("cnt").cast("long").alias("n_rows"),
        F.max("cnt").alias("max_cnt"),
    )
    fin = Window.partitionBy("col").orderBy(F.desc("cnt"), F.asc("key"))
    top = allk.withColumn("_rk", F.row_number().over(fin)).where(
        F.col("_rk") <= SKEW_TOP
    )
    return top.join(F.broadcast(stats), "col").select(
        "col",
        "key",
        "cnt",
        F.round(F.col("cnt").cast("double") / F.col("n_rows"), 6)
        .alias("share"),
        "n_keys",
        "n_rows",
        F.round(
            F.col("max_cnt").cast("double") * F.col("n_keys")
            / F.col("n_rows"),
            6,
        ).alias("skew_ratio"),
    )


# --- round-9 prebuilds (NOT registered: the round-8 window is full) ----------
# Function + oracle + parity test land this round (tests/test_prebuilt_r9.py);
# @register is added in round 9 when the rotation frees slots.

# a26: semi-structured extraction — events.props is a JSON payload nothing
# else in the repo touches. get_json_object is JVM-side (no UDF); the
# profile is one map-only parse + one partial+final aggregate per type.
_A26_ORACLE = """
WITH parsed AS (
    SELECT event_type,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
    FROM events
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CASE WHEN k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_with_k,
       CAST(sum(coalesce(k, 0)) AS BIGINT) AS sum_k,
       CAST(coalesce(min(k), -1) AS BIGINT) AS min_k,
       CAST(coalesce(max(k), -1) AS BIGINT) AS max_k,
       CAST(count(DISTINCT k) AS BIGINT) AS n_distinct_k
FROM parsed
GROUP BY event_type
"""


@register("a26_props_profile", _A26_ORACLE)
def a26_props_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type profile of the JSON `props` payload: parse stays inside
    whole-stage codegen (get_json_object, no Python), rows collapse map-side
    before the 5-key shuffle. The missing-key path (n_with_k < n_events)
    is exercised in tests via a synthetic frame; fixture props always
    carry k."""
    ev = load_table(spark, sf_dir, "events")
    parsed = ev.select(
        "event_type",
        F.get_json_object(F.col("props"), "$.k").cast("long").alias("k"),
    )
    return parsed.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(F.when(F.col("k").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_with_k"),
        F.sum(F.coalesce(F.col("k"), F.lit(0))).cast("long").alias("sum_k"),
        F.coalesce(F.min("k"), F.lit(-1)).cast("long").alias("min_k"),
        F.coalesce(F.max("k"), F.lit(-1)).cast("long").alias("max_k"),
        F.countDistinct("k").cast("long").alias("n_distinct_k"),
    )


# a27: robust anomaly detection — median/MAD on the int64-quantized value,
# flag |x - med| > 3·MAD. Median is the rank definition (smallest value
# whose cumulative count reaches ceil(n/2)), computed over the DISTINCT-
# value histogram (curriculum_order pattern): windows run over the bounded
# histogram, never the corpus, so a hot event_type cannot pin one task.
MAD_K = 3

_A27_ORACLE = f"""
WITH q AS (
    SELECT event_id, event_type,
           CAST(round(value * 1000000) AS BIGINT) AS vq
    FROM events
),
vhist AS (SELECT event_type, vq, count(*) AS c FROM q GROUP BY 1, 2),
vcum AS (
    SELECT event_type, vq,
           sum(c) OVER (PARTITION BY event_type ORDER BY vq
                        ROWS UNBOUNDED PRECEDING) AS cum,
           sum(c) OVER (PARTITION BY event_type) AS n
    FROM vhist
),
med AS (
    SELECT event_type, min(vq) AS med_q6 FROM vcum
    WHERE cum >= CAST(ceil(0.5 * n) AS BIGINT) GROUP BY 1
),
dev AS (
    SELECT q.event_type, abs(q.vq - m.med_q6) AS d
    FROM q JOIN med m USING (event_type)
),
dhist AS (SELECT event_type, d, count(*) AS c FROM dev GROUP BY 1, 2),
dcum AS (
    SELECT event_type, d,
           sum(c) OVER (PARTITION BY event_type ORDER BY d
                        ROWS UNBOUNDED PRECEDING) AS cum,
           sum(c) OVER (PARTITION BY event_type) AS n
    FROM dhist
),
mad AS (
    SELECT event_type, min(d) AS mad_q6 FROM dcum
    WHERE cum >= CAST(ceil(0.5 * n) AS BIGINT) GROUP BY 1
)
SELECT v.event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(min(me.med_q6) AS BIGINT) AS med_q6,
       CAST(min(ma.mad_q6) AS BIGINT) AS mad_q6,
       CAST(sum(CASE WHEN v.d > {MAD_K} * ma.mad_q6 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_anomalies,
       CAST(max(v.d) AS BIGINT) AS max_dev_q6
FROM dev v JOIN med me USING (event_type) JOIN mad ma USING (event_type)
GROUP BY v.event_type
"""


def _rank_median(df: DataFrame, part: str, val: str, out: str) -> DataFrame:
    """Rank-based median (= percentile_disc(0.5)) via the distinct-value
    cumulative histogram: the window input is |distinct values| rows per
    partition, not the corpus (curriculum_order pattern)."""
    from pyspark.sql import Window

    hist = df.groupBy(part, val).agg(F.count("*").alias("c"))
    wc = Window.partitionBy(part).orderBy(val).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = hist.select(
        part,
        val,
        F.sum("c").over(wc).alias("cum"),
        F.sum("c").over(Window.partitionBy(part)).alias("n"),
    )
    return (
        cum.filter(F.col("cum") >= F.ceil(0.5 * F.col("n")))
        .groupBy(part)
        .agg(F.min(val).alias(out))
    )


@register("a27_value_mad", _A27_ORACLE)
def a27_value_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD anomaly report per event_type on the quantized value
    column: two histogram-median passes (each a small-key aggregate plus a
    histogram window), one broadcast join of the 5-row med/mad tables back
    to the deviations, one final aggregate. All integer math after the
    single quantization — bit-identical cross-engine."""
    from koby_s_ai_vector_db_spark.functions.caching import memo_persist

    # Three consumers walk the quantized projection (median hist, the
    # deviation join, MAD hist) — persist the 2-column frame once instead
    # of re-scanning events per consumer (quality_scored precedent).
    q = memo_persist(
        spark,
        ("a27_vq", sf_dir),
        lambda: load_table(spark, sf_dir, "events").select(
            "event_type",
            F.round(F.col("value") * 1000000).cast("long").alias("vq"),
        ),
    )
    med = _rank_median(q, "event_type", "vq", "med_q6")
    dev = q.join(F.broadcast(med), "event_type").select(
        "event_type",
        "med_q6",
        F.abs(F.col("vq") - F.col("med_q6")).alias("d"),
    )
    mad = _rank_median(dev, "event_type", "d", "mad_q6")
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.min("med_q6").cast("long").alias("med_q6"),
            F.min("mad_q6").cast("long").alias("mad_q6"),
            F.sum(
                F.when(F.col("d") > MAD_K * F.col("mad_q6"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_anomalies"),
            F.max("d").cast("long").alias("max_dev_q6"),
        )
    )
