"""Streaming live-user analytics (SURVEY §7 stage 6).

The reference recomputes its 30-minute "live users" window per request
against the sessions table (core/session_utils.py:193-211) and keys
sessions by a 30-minute inactivity rule (:200). The streaming-native
shape is:

  - A5: a sliding event-time window (30 min window, 5 min slide) counting
    distinct users — each slide emits the value the reference would have
    computed at that instant, continuously instead of per-request.
  - M7/A6: `session_window(ts, '30 minutes')` per user — the inactivity
    sessionization as a first-class stateful operator instead of a
    lag/gap batch reconstruction.

Both transformations are defined once and applied to EITHER a batch or a
streaming DataFrame (the functions don't care): batch mode is what the
driver's DuckDB oracle checks (queries/streaming_q.py); streaming mode is
exercised in tests/test_streaming.py with an availableNow file source and
a memory sink, asserting bit-identical results to batch — the
batch-equivalence contract.

Watermarking: apply_watermark() bounds state for production streams (late
events beyond 10 min are dropped; windows close and their state is
evicted). The equivalence tests run complete-mode without watermark so
every window is emitted for comparison.

Distinct counts use size(collect_set(...)) — streaming aggregation does
not support COUNT(DISTINCT), and approx_count_distinct would break the
oracle; collect_set keeps it exact (state per window is the user-id set,
bounded by active users per window).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

WINDOW = "30 minutes"
SLIDE = "5 minutes"
GAP = "30 minutes"
LATE = "10 minutes"

EVENTS_SCHEMA = (
    "event_id bigint, ts timestamp_ntz, user_id bigint, event_type string, "
    "value double, props string"
)
_EVENTS_SCHEMA_NANOS = EVENTS_SCHEMA.replace("ts timestamp_ntz", "ts bigint")


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the fixture events parquet, mirroring the
    schema-driven batch reader (sources/tables.py): current fixtures store
    native TIMESTAMP(µs); legacy ones TIMESTAMP(NANOS), handled via
    nanosAsLong + truncation to micros. Streams need the schema declared up
    front, so the variant is sniffed from a batch read of the SAME glob the
    stream loads — a directory mixing vintages has no single correct
    declared schema and is rejected loudly (one vintage's ts would be
    silently mis-read under the other's declaration)."""
    import glob as _glob

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    pattern = f"{sf_dir}/events*.parquet"
    local_files = sorted(_glob.glob(pattern))
    if local_files:
        # Local path: sniff each matching file so a directory mixing
        # vintages is rejected loudly instead of one vintage's ts being
        # silently mis-read under the other's declared schema.
        ts_types = {
            f: dict(spark.read.parquet(f).dtypes).get("ts") for f in local_files
        }
        if len(set(ts_types.values())) > 1:
            raise ValueError(
                f"mixed ts physical types under {pattern}: {ts_types} — "
                "a single declared stream schema cannot read both vintages"
            )
        legacy = next(iter(ts_types.values())) == "bigint"
    else:
        # Remote URI (hdfs://, s3a://, ...): Python glob cannot list it;
        # let Spark resolve the same glob in one batch read. Parquet schema
        # merging surfaces a vintage mix as a merge error rather than
        # silently, which is acceptable for the non-local fallback.
        legacy = (
            dict(spark.read.parquet(pattern).dtypes).get("ts") == "bigint"
        )
    # Glob, not a bare file path: FileStreamSource requires a directory
    # basePath and treats the leaf pattern as the file filter.
    raw = (
        spark.readStream.schema(
            _EVENTS_SCHEMA_NANOS if legacy else EVENTS_SCHEMA
        )
        .format("parquet")
        .load(f"{sf_dir}/events*.parquet")
    )
    if legacy:
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw


def apply_watermark(events: DataFrame) -> DataFrame:
    """Bound state: late events beyond `LATE` are dropped, closed windows
    evicted. Production entry point; tests compare un-watermarked
    complete-mode output against batch (the stream-stream join test uses
    this path directly).

    Spark rejects watermarks on TIMESTAMP_NTZ
    ([EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE]); the fixture's ts is NTZ and
    the session timezone is pinned UTC, so the cast is value-preserving."""
    if dict(events.dtypes).get("ts") == "timestamp_ntz":
        # The NTZ->TIMESTAMP cast reinterprets wall-clock values in the
        # session timezone; it is value-preserving ONLY at UTC offset 0
        # (which session.get_spark pins). Enforce that at the cast site
        # rather than trusting the caller's session config (ADVICE r06).
        # Any zero-offset spelling is fine — "Etc/UTC", "GMT", "+00:00"
        # all make the cast identical to "UTC".
        tz = events.sparkSession.conf.get("spark.sql.session.timeZone")
        if tz not in ("UTC", "Etc/UTC", "GMT", "Etc/GMT", "Z", "+00:00"):
            import datetime
            import zoneinfo

            # Probe BOTH a winter and a summer instant: a DST zone whose
            # STANDARD offset is zero (Europe/London) passes a single
            # winter probe yet shifts summer-dated events by an hour —
            # exactly the corruption this guard exists to catch
            # (ADVICE r07).
            try:
                zone = zoneinfo.ZoneInfo(tz)
                offs = {
                    zone.utcoffset(datetime.datetime(2026, 1, 1)),
                    zone.utcoffset(datetime.datetime(2026, 7, 1)),
                }
            except Exception:
                offs = {None}
            if offs != {datetime.timedelta(0)}:
                raise ValueError(
                    f"apply_watermark requires a zero-UTC-offset "
                    f"spark.sql.session.timeZone for a value-preserving "
                    f"TIMESTAMP_NTZ cast; session has {tz!r}"
                )
        events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return events.withWatermark("ts", LATE)


def sliding_live_users(events: DataFrame) -> DataFrame:
    """A5 streaming twin: per (window) slide, distinct users + events.
    Works identically on batch and streaming inputs."""
    return (
        events.groupBy(F.window("ts", WINDOW, SLIDE).alias("w"))
        .agg(
            F.size(F.collect_set("user_id")).alias("live_users"),
            F.count("*").alias("n_events"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start_epoch"),
            "live_users",
            "n_events",
        )
    )


def user_session_windows(events: DataFrame) -> DataFrame:
    """M7/A6 streaming twin: 30-min inactivity sessions per user.
    session_window end = last event + gap (Spark semantics; the oracle
    mirrors it as max(ts) + gap)."""
    return (
        events.groupBy("user_id", F.session_window("ts", GAP).alias("sw"))
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            # unix_micros only accepts TIMESTAMP (with tz); the fixture
            # arrives as TIMESTAMP_NTZ and the session tz is pinned UTC, so
            # the cast is value-preserving.
            F.unix_micros(F.col("sw.start").cast("timestamp")).alias(
                "session_start_us"
            ),
            F.unix_micros(F.col("sw.end").cast("timestamp")).alias(
                "session_end_us"
            ),
            "n_events",
        )
    )


# Single source of truth for the attribution window: the SQL interval
# string and the microsecond bucket width MUST agree — drift would make
# click_attribution_bucketed's bucket equi-join silently drop rows the
# interval predicate admits (ADVICE r11).
ATTRIB_WINDOW_MIN = 30
ATTRIB_WINDOW = f"{ATTRIB_WINDOW_MIN} minutes"


def click_attribution(purchases: DataFrame, clicks: DataFrame) -> DataFrame:
    """Event-to-event attribution: each purchase joined to every click by
    the same user within `ATTRIB_WINDOW` BEFORE it (inclusive both ends) —
    the classic stream-stream interval join. Works identically on batch
    and streaming inputs; in streaming, apply_watermark() both sides
    first so the join state is evicted once the watermark passes
    purchase_ts - ATTRIB_WINDOW (Spark derives the state bound from the
    time-range join condition).

    Scale shape: ONE equi-join shuffle on user_id with the interval as a
    post-condition; no window explosion, no driver state. Output
    (purchase_id, click_id, user_id, gap_us)."""
    p = purchases.select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
    )
    c = clicks.select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("click_user"),
        F.col("ts").alias("click_ts"),
    )
    return (
        p.join(
            c,
            (F.col("user_id") == F.col("click_user"))
            & (F.col("click_ts") <= F.col("purchase_ts"))
            & (
                F.col("click_ts")
                >= F.col("purchase_ts") - F.expr(f"INTERVAL {ATTRIB_WINDOW}")
            ),
        )
        .select(
            "purchase_id",
            "click_id",
            "user_id",
            (
                F.unix_micros(F.col("purchase_ts").cast("timestamp"))
                - F.unix_micros(F.col("click_ts").cast("timestamp"))
            ).alias("gap_us"),
        )
    )


ATTRIB_WINDOW_US = ATTRIB_WINDOW_MIN * 60 * 1_000_000  # = ATTRIB_WINDOW in µs


def click_attribution_bucketed(
    purchases: DataFrame, clicks: DataFrame
) -> DataFrame:
    """Batch-scale twin of `click_attribution`, row-identical by
    construction (pytest-pinned): the join key gains a window-width time
    BUCKET, with each purchase probing its own and the previous bucket —
    a click within [p - window, p] necessarily falls in one of the two.
    The plain form's per-user candidate set is quadratic in the user's
    event count regardless of time spread (a power user with 100k clicks
    evaluates every one against every purchase); bucketing bounds
    candidates to same-and-adjacent windows, which is the plan that
    survives 100× skew. Streaming keeps the direct interval-condition
    form — Spark derives join-state eviction from the raw time-range
    predicate, which a bucket equi-join would hide."""
    w = ATTRIB_WINDOW_US
    p = purchases.select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("_pus"),
    ).select(
        "*",
        F.explode(
            F.array(
                (F.col("_pus") / w).cast("long"),
                (F.col("_pus") / w).cast("long") - 1,
            )
        ).alias("_b"),
    )
    c = clicks.select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("click_user"),
        F.col("ts").alias("click_ts"),
        (F.unix_micros(F.col("ts").cast("timestamp")) / w)
        .cast("long")
        .alias("_cb"),
    )
    return (
        p.join(
            c,
            (F.col("user_id") == F.col("click_user"))
            & (F.col("_b") == F.col("_cb"))
            & (F.col("click_ts") <= F.col("purchase_ts"))
            & (
                F.col("click_ts")
                >= F.col("purchase_ts") - F.expr(f"INTERVAL {ATTRIB_WINDOW}")
            ),
        )
        .select(
            "purchase_id",
            "click_id",
            "user_id",
            (
                F.unix_micros(F.col("purchase_ts").cast("timestamp"))
                - F.unix_micros(F.col("click_ts").cast("timestamp"))
            ).alias("gap_us"),
        )
    )
