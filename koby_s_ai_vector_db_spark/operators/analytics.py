"""Analytics operators (SURVEY §2.4 A1–A13).

All of these compile to single-pass hash aggregates with partial (map-side)
combine, or TakeOrderedAndProject for the top-N projections — the plans you
want at 100 TB: no global sorts, no unnecessary shuffles, filters pushed to
the parquet scan.

Every now-relative window is parameterized on a fixed literal `now`
(sources/tables.py NOW_TS) per the determinism contract; the reference
recomputes wall-clock windows per request (core/session_utils.py:193-246).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from koby_s_ai_vector_db_spark.functions.ranking import global_top_n
from koby_s_ai_vector_db_spark.sources.tables import NOW_TS


def _now() -> Column:
    """The pinned `now` as a Column — built lazily because creating literal
    Columns requires an active SparkContext (breaks import-time eval)."""
    return F.to_timestamp(F.lit(NOW_TS))


def doc_summary(documents: DataFrame, chunks: DataFrame) -> DataFrame:
    """A1 (views.py:459-477): per-file chunk count + char sum, via a
    broadcast-friendly aggregate-then-join (aggregate first → tiny join)."""
    per_doc = chunks.groupBy("doc_id").agg(
        F.count("*").alias("chunk_count"),
        F.sum("char_count").alias("total_chars"),
    )
    return (
        documents.select("doc_id", "source", "lang")
        .join(per_doc, "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.coalesce(F.sum("chunk_count"), F.lit(0)).alias("chunk_count"),
            F.coalesce(F.sum("total_chars"), F.lit(0)).alias("total_chars"),
        )
    )


def contribution_analytics(feedback: DataFrame) -> DataFrame:
    """A2 (supabase_utils.py:315-330): per-type totals + avg rating
    (0.0 when empty, matching the reference's `if total else 0.0`)."""
    return feedback.groupBy("question_type").agg(
        F.count("*").alias("total_contributions"),
        F.round(F.coalesce(F.avg("rating"), F.lit(0.0)), 6).alias("average_rating"),
        F.count(F.when(F.col("status") == "approved", 1)).alias("approved_count"),
    )


def top_rated(feedback: DataFrame, limit: int = 10) -> DataFrame:
    """A3 (supabase_utils.py:333-335): top-N approved by rating —
    TakeOrderedAndProject, rank attached over the bounded result
    (functions/ranking.py: global rank windows don't scale)."""
    return global_top_n(
        feedback.filter(F.col("status") == "approved"),
        [F.desc("rating"), F.asc("id")],
        limit,
        rank_col="rank",
    ).select("id", "question", "rating", "rank")


def recent_qa(feedback: DataFrame, limit: int = 20) -> DataFrame:
    """A4 (supabase_utils.py:338-359): recent-N approved."""
    return global_top_n(
        feedback.filter(F.col("status") == "approved"),
        [F.desc("created_at"), F.asc("id")],
        limit,
        rank_col="rank",
    ).select("id", "question", "question_type", "created_at", "rank")


def live_users(events: DataFrame) -> DataFrame:
    """A5 (session_utils.py:193-211): distinct users active in the last
    30 minutes. Filter → pushdown; count-distinct is one partial-agg pass."""
    lo = _now() - F.expr("INTERVAL 30 MINUTES")
    return events.filter((F.col("ts") >= lo) & (F.col("ts") <= _now())).agg(
        F.countDistinct("user_id").alias("live_users")
    )


def session_stats(events: DataFrame) -> DataFrame:
    """A6+A8+A12 (session_utils.py:213-246, views.py:1600-1612,874-876):
    one pass of conditional aggregates — total events, distinct users,
    today's events, live users, today's signups."""
    today = F.date_trunc("DAY", _now())
    lo30 = _now() - F.expr("INTERVAL 30 MINUTES")
    return events.filter(F.col("ts") <= _now()).agg(
        F.count("*").alias("total_events"),
        F.countDistinct("user_id").alias("total_users"),
        F.count(F.when(F.col("ts") >= today, 1)).alias("events_today"),
        F.countDistinct(F.when(F.col("ts") >= lo30, F.col("user_id"))).alias("live_users"),
        F.count(
            F.when((F.col("ts") >= today) & (F.col("event_type") == "signup"), 1)
        ).alias("signups_today"),
    )


def activity_breakdown(events: DataFrame) -> DataFrame:
    """A7 (session_utils.py:271-308): last-7-days per-type counts."""
    lo = _now() - F.expr("INTERVAL 7 DAYS")
    return (
        events.filter((F.col("ts") >= lo) & (F.col("ts") <= _now()))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.round(F.avg("value"), 6).alias("avg_value"),
        )
    )


def user_activity(events: DataFrame, user_id: int, days: int = 7) -> DataFrame:
    """A7 per-user variant: one user's breakdown + total."""
    lo = _now() - F.expr(f"INTERVAL {days} DAYS")
    per_type = (
        events.filter(
            (F.col("user_id") == user_id) & (F.col("ts") >= lo) & (F.col("ts") <= _now())
        )
        .groupBy("event_type")
        .agg(F.count("*").alias("n_events"))
    )
    return per_type.withColumn(
        "total_events", F.sum("n_events").over(Window.partitionBy())
    )


def recent_users(events: DataFrame, limit: int = 10) -> DataFrame:
    """A10 (views.py:1620-1635): most recently first-seen users."""
    users = (
        events.filter(F.col("ts") <= _now())
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_seen"), F.count("*").alias("n_events"))
    )
    return global_top_n(
        users, [F.desc("first_seen"), F.asc("user_id")], limit, rank_col="rank"
    )


def active_sessions(events: DataFrame, limit: int = 10) -> DataFrame:
    """A11 (views.py:1637-1654): top-N live sessions by last activity.
    'active' = last event within 30 minutes of now (session_utils.py:200)."""
    lo30 = _now() - F.expr("INTERVAL 30 MINUTES")
    live = (
        events.filter(F.col("ts") <= _now())
        .groupBy("user_id")
        .agg(F.max("ts").alias("last_activity"), F.count("*").alias("n_events"))
        .filter(F.col("last_activity") >= lo30)
    )
    return global_top_n(
        live, [F.desc("last_activity"), F.asc("user_id")], limit, rank_col="rank"
    )


def pending_count(feedback: DataFrame) -> DataFrame:
    """A9 (views.py:1614-1618): count(*) WHERE status='pending'."""
    return feedback.filter(F.col("status") == "pending").agg(
        F.count("*").alias("pending_count")
    )


def funnel_conversion(events: DataFrame, stages: list[str]) -> DataFrame:
    """Ordered-funnel analysis: how many users reached each stage IN
    ORDER (stage k counts users whose earliest stage-k event follows
    their earliest qualifying stage-(k-1) event) → (stage, stage_ord,
    n_users). The reference has no funnel surface; this is the
    session-tracking tier's (core/session_utils.py:152-211) natural
    product-analytics extension.

    100 TB shape: one groupBy(user_id) per stage plus a user_id-keyed
    join per stage — every shuffle in the chain shares the user_id key,
    so the exchange is planned once and reused; per-stage state is one
    timestamp per surviving user (monotonically shrinking)."""
    reached = (
        events.filter(F.col("event_type") == stages[0])
        .groupBy("user_id")
        .agg(F.min("ts").alias("ts"))
    )
    counts = [reached.agg(F.count("*").alias("n")).select(
        F.lit(stages[0]).alias("stage"),
        F.lit(1).cast("int").alias("stage_ord"),
        F.col("n").alias("n_users"),
    )]
    for ord_, stage in enumerate(stages[1:], start=2):
        nxt = events.filter(F.col("event_type") == stage).alias("e")
        reached = (
            nxt.join(
                reached.alias("r"),
                (F.col("e.user_id") == F.col("r.user_id"))
                & (F.col("e.ts") > F.col("r.ts")),
            )
            .groupBy(F.col("e.user_id").alias("user_id"))
            .agg(F.min(F.col("e.ts")).alias("ts"))
        )
        counts.append(
            reached.agg(F.count("*").alias("n")).select(
                F.lit(stage).alias("stage"),
                F.lit(ord_).cast("int").alias("stage_ord"),
                F.col("n").alias("n_users"),
            )
        )
    out = counts[0]
    for c in counts[1:]:
        out = out.unionByName(c)
    return out


def retention_cohorts(events: DataFrame) -> DataFrame:
    """Cohort retention: users grouped by the Monday-truncated week of
    their FIRST event; for each (cohort_week, week_offset) the count of
    cohort users active that many whole weeks later →
    (cohort_week timestamp, week_offset, n_users).

    100 TB shape: first-event table is one groupBy(user_id); the join
    back to events is user_id-keyed (same exchange); the final rollup
    is a (cohort, offset)-keyed count distinct — cohort cardinality is
    weeks × offsets, tiny."""
    first = events.groupBy("user_id").agg(F.min("ts").alias("first_ts"))
    act = events.join(first, "user_id").select(
        "user_id",
        # Stays a TIMESTAMP (not DATE): both engines then surface the
        # same pandas dtype at the oracle-compare boundary.
        F.date_trunc("week", F.col("first_ts")).alias("cohort_week"),
        F.floor(
            F.datediff(F.col("ts").cast("date"), F.col("first_ts").cast("date"))
            / 7
        ).alias("week_offset"),
    )
    return act.groupBy("cohort_week", "week_offset").agg(
        F.count_distinct("user_id").alias("n_users")
    )
