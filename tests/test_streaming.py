"""Batch-equivalence: the streaming pipelines must produce exactly the
rows their batch twins produce (SURVEY §7.6). Finite fixture → one
availableNow pass → complete-mode memory sink → compare multisets."""

from __future__ import annotations

import uuid

from koby_s_ai_vector_db_spark.sources.tables import load_table
from koby_s_ai_vector_db_spark.streaming.live import (
    read_events_stream,
    sliding_live_users,
    user_session_windows,
)
from tests.conftest import SF_DIRS

SF_DIR = SF_DIRS["t1"]


def _run_stream(spark, df, name):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.sql(f"SELECT * FROM {name}")


def _rows(df):
    cols = sorted(df.columns)
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_sliding_live_users_stream_equals_batch(spark):
    batch = sliding_live_users(load_table(spark, SF_DIR, "events"))
    name = f"s_live_{uuid.uuid4().hex[:8]}"
    stream = _run_stream(spark, sliding_live_users(read_events_stream(spark, SF_DIR)), name)
    assert _rows(stream) == _rows(batch)
    assert len(_rows(batch)) > 0


def test_session_windows_stream_equals_batch(spark):
    batch = user_session_windows(load_table(spark, SF_DIR, "events"))
    name = f"s_sess_{uuid.uuid4().hex[:8]}"
    stream = _run_stream(
        spark, user_session_windows(read_events_stream(spark, SF_DIR)), name
    )
    assert _rows(stream) == _rows(batch)
    assert len(_rows(batch)) > 0


def test_streaming_exact_dedup_equals_batch(spark, tmp_path):
    """The dedup state table built incrementally over two forced
    microbatches must equal the batch GROUP BY bit-for-bit — min/count
    are arrival-order independent."""
    from pyspark.sql import functions as F

    from koby_s_ai_vector_db_spark.streaming.dedup import streaming_exact_dedup
    from koby_s_ai_vector_db_spark.streaming.index_ingest import DOCS_SCHEMA

    docs = load_table(spark, SF_DIR, "documents")
    # Plant exact duplicates across the two halves so dedup state must
    # merge hashes seen in DIFFERENT microbatches.
    dd = docs.unionByName(
        docs.filter(F.col("doc_id") % 7 == 0).withColumn(
            "doc_id", F.col("doc_id") + 1_000_000
        )
    )
    src = str(tmp_path / "docs_split")
    dd.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(f"{src}/half=0")
    dd.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(f"{src}/half=1")

    stream_in = (
        spark.readStream.schema(DOCS_SCHEMA)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .load(src)
    )
    name = f"s_dedup_{uuid.uuid4().hex[:8]}"
    q = (
        streaming_exact_dedup(stream_in)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    n_batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
    assert n_batches >= 2, "dedup state was never exercised across batches"

    stream_out = spark.sql(f"SELECT * FROM {name}")
    batch = streaming_exact_dedup(dd)
    assert _rows(stream_out) == _rows(batch)
    assert batch.filter("n_copies > 1").count() > 0  # planted dups found


def test_streaming_sketch_dedup_equals_batch(spark, tmp_path):
    """The SimHash sketch catalog built over two forced microbatches must
    equal the batch GROUP BY — and sketch-identical near-dups arriving in
    DIFFERENT batches must collapse into one state row."""
    from pyspark.sql import functions as F

    from koby_s_ai_vector_db_spark.streaming.dedup import streaming_sketch_dedup
    from koby_s_ai_vector_db_spark.streaming.index_ingest import DOCS_SCHEMA

    docs = load_table(spark, SF_DIR, "documents")
    # Exact text copies under new ids: same sketch, different id. The odd
    # offset flips parity, so each copy lands in the OPPOSITE half from its
    # original and the state merge is genuinely cross-microbatch.
    dd = docs.unionByName(
        docs.filter(F.col("doc_id") % 7 == 0).withColumn(
            "doc_id", F.col("doc_id") + 1_000_001
        )
    )
    src = str(tmp_path / "docs_sketch_split")
    dd.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(f"{src}/half=0")
    dd.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.parquet(f"{src}/half=1")

    stream_in = (
        spark.readStream.schema(DOCS_SCHEMA)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .load(src)
    )
    name = f"s_sketch_{uuid.uuid4().hex[:8]}"
    q = (
        streaming_sketch_dedup(stream_in)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    n_batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
    assert n_batches >= 2, "sketch state was never exercised across batches"

    stream_out = spark.sql(f"SELECT * FROM {name}")
    batch = streaming_sketch_dedup(dd)
    assert _rows(stream_out) == _rows(batch)
    # A planted copy and its original differ by parity, so they landed in
    # different microbatches yet share a sketch row.
    assert stream_out.filter("n_copies > 1").count() > 0


def test_click_attribution_bucketed_equals_direct(spark):
    """The bucketed batch form (a19's plan — per-user candidates bounded
    to same-and-adjacent windows) must emit exactly the direct interval
    join's rows: a click in [p - window, p] falls in the purchase's own
    or previous window-width bucket, never elsewhere."""
    from pyspark.sql import functions as F

    from koby_s_ai_vector_db_spark.streaming.live import (
        click_attribution,
        click_attribution_bucketed,
    )

    ev = load_table(spark, SF_DIR, "events")
    p = ev.filter(F.col("event_type") == "purchase")
    c = ev.filter(F.col("event_type") == "click")
    direct = _rows(click_attribution(p, c))
    bucketed = _rows(click_attribution_bucketed(p, c))
    assert bucketed == direct
    assert len(direct) > 0


def test_click_attribution_stream_equals_batch(spark):
    """True stream-stream interval join (two filtered streams over the
    events source, watermarked both sides, append mode) must emit exactly
    the batch twin's rows."""
    from pyspark.sql import functions as F

    from koby_s_ai_vector_db_spark.streaming.live import (
        apply_watermark,
        click_attribution,
    )

    ev = load_table(spark, SF_DIR, "events")
    batch = click_attribution(
        ev.filter(F.col("event_type") == "purchase"),
        ev.filter(F.col("event_type") == "click"),
    )

    s1 = apply_watermark(
        read_events_stream(spark, SF_DIR).filter(F.col("event_type") == "purchase")
    )
    s2 = apply_watermark(
        read_events_stream(spark, SF_DIR).filter(F.col("event_type") == "click")
    )
    name = f"s_attrib_{uuid.uuid4().hex[:8]}"
    q = (
        click_attribution(s1, s2)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    stream = spark.sql(f"SELECT * FROM {name}")
    assert _rows(stream) == _rows(batch)
    assert len(_rows(batch)) > 0


def test_streaming_hll_registers_equal_batch(spark, tmp_path):
    """The HLL register build is a plain groupBy-max, so it runs AS a
    streaming aggregation with no custom state: the complete-mode
    register table after consuming a forced multi-batch stream is
    bit-identical to the batch build — the per-day stored-rollup story
    (a22_hll_daily_merge) holds on a live ingest stream too."""
    from pyspark.sql import functions as F

    from koby_s_ai_vector_db_spark.operators.sketches import hll_registers

    ev = load_table(spark, SF_DIR, "events").select(
        "event_type", "event_id", F.col("user_id").cast("string").alias("k")
    )
    src = str(tmp_path / "hll_split")
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(
        f"{src}/half=0"
    )
    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(
        f"{src}/half=1"
    )
    stream_in = (
        spark.readStream.schema("event_type string, event_id bigint, k string")
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .load(src)
    )
    name = f"s_hll_{uuid.uuid4().hex[:8]}"
    q = (
        hll_registers(stream_in, F.col("k"), ["event_type"])
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    n_batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
    assert n_batches >= 2, "registers were never updated across batches"

    got = _rows(spark.sql(f"SELECT * FROM {name}"))
    want = _rows(hll_registers(ev, F.col("k"), ["event_type"]))
    assert got == want and len(want) > 0


def test_streaming_cm_and_qh_cells_equal_batch(spark, tmp_path):
    """The other two sketch builds are also plain streaming aggregations
    (count-min: groupBy-count; quantile histogram: groupBy-count over
    integer buckets) — complete-mode cell tables over a forced
    multi-batch stream are bit-identical to the batch builds. With the
    HLL and KMV tests above, every member of the mergeable-sketch family
    is proven streaming-maintainable."""
    from pyspark.sql import functions as F

    from koby_s_ai_vector_db_spark.operators.sketches import cm_cells, qh_cells

    ev = load_table(spark, SF_DIR, "events").select(
        "event_id", "event_type", "value"
    )
    src = str(tmp_path / "sk_split")
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(
        f"{src}/half=0"
    )
    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.parquet(
        f"{src}/half=1"
    )
    stream_in = (
        spark.readStream.schema("event_id bigint, event_type string, value double")
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .load(src)
    )
    for label, build in (
        ("cm", lambda df: cm_cells(df, F.col("event_type"))),
        ("qh", lambda df: qh_cells(df, "value", ["event_type"])),
    ):
        name = f"s_{label}_{uuid.uuid4().hex[:8]}"
        q = (
            build(stream_in)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        n_batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
        assert n_batches >= 2, f"{label}: cells never updated across batches"
        got = _rows(spark.sql(f"SELECT * FROM {name}"))
        want = _rows(build(ev))
        assert got == want and len(want) > 0, label


def test_click_attribution_state_bounded_under_hot_user(spark, tmp_path):
    """Watermark eviction must bound stream-stream join state even when
    one user is 100×-skewed (VERDICT r11 item 8): the batch twin buckets
    its interval join, the streaming path intentionally keeps the raw
    interval condition BECAUSE Spark derives the state-eviction bound
    from it — this test pins that the bound is real. 12 hour-slices
    arrive as 12 micro-batches; by the last batch the watermark has
    passed all but ~the last slice, so total retained state must be a
    small fraction of the rows ingested, hot user included."""
    import datetime

    from pyspark.sql import functions as F

    from koby_s_ai_vector_db_spark.streaming.live import (
        apply_watermark,
        click_attribution,
    )

    base = datetime.datetime(2026, 1, 1)
    n_slices, rows = 12, []
    for s in range(n_slices):
        t0 = base + datetime.timedelta(hours=s)
        # Hot user 0: 200 clicks/slice; users 1-5: 2 clicks each (100×).
        for i in range(200):
            rows.append((s * 10_000 + i, t0 + datetime.timedelta(
                seconds=18 * i), 0, "click"))
        for u in range(1, 6):
            for i in range(2):
                rows.append((s * 10_000 + 500 + u * 10 + i,
                             t0 + datetime.timedelta(minutes=20 * i + u),
                             u, "click"))
        # One purchase per user per slice, late enough in the hour that
        # its 30-min lookback stays inside the slice for determinism.
        for u in range(6):
            rows.append((s * 10_000 + 900 + u,
                         t0 + datetime.timedelta(minutes=50, seconds=u),
                         u, "purchase"))
    ev = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    src = str(tmp_path / "ev")
    # One parquet file per hour-slice, written in time order → the file
    # stream (maxFilesPerTrigger=1) replays them as 12 micro-batches
    # with a monotonically advancing watermark.
    for s in range(n_slices):
        ev.filter(
            (F.col("event_id") >= s * 10_000)
            & (F.col("event_id") < (s + 1) * 10_000)
        ).coalesce(1).write.parquet(f"{src}/slice={s:02d}")
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/slice=*")
    )
    s1 = apply_watermark(stream.filter(F.col("event_type") == "purchase"))
    s2 = apply_watermark(stream.filter(F.col("event_type") == "click"))
    name = f"s_hotuser_{uuid.uuid4().hex[:8]}"
    q = (
        click_attribution(s1, s2)
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    progress = q.recentProgress
    state_rows = [
        p["stateOperators"][0]["numRowsTotal"]
        for p in progress
        if p.get("stateOperators")
    ]
    total_rows = len(rows)
    # Eviction, not accumulation: final state is bounded by ~the last
    # watermark horizon (clicks survive watermark + 30 min lookback ≈
    # one slice), far below the 2.5k rows ingested. Without eviction the
    # hot user alone would hold 2400 click rows at the end.
    assert state_rows, "no stateOperators progress recorded"
    assert state_rows[-1] < total_rows / 4, (state_rows[-1], total_rows)
    # And the peak never approaches full accumulation either.
    assert max(state_rows) < total_rows * 0.6, (max(state_rows), total_rows)
    # Correctness: in-order arrival loses nothing vs the batch twin.
    batch = click_attribution(
        ev.filter(F.col("event_type") == "purchase"),
        ev.filter(F.col("event_type") == "click"),
    )
    assert _rows(spark.sql(f"SELECT * FROM {name}")) == _rows(batch)


def test_watermark_tz_guard_rejects_dst_zones(spark):
    """ADVICE r07: Europe/London has a ZERO standard offset, so a single
    winter-instant probe passes it — yet the NTZ cast shifts summer events
    by an hour. The guard must probe both seasons and reject it."""
    import datetime

    import pytest

    from koby_s_ai_vector_db_spark.streaming.live import apply_watermark

    df = spark.createDataFrame(
        [(1, datetime.datetime(2026, 7, 1, 12, 0))], "user_id: long, ts: timestamp_ntz"
    )
    tz_key = "spark.sql.session.timeZone"
    old = spark.conf.get(tz_key)
    try:
        spark.conf.set(tz_key, "Europe/London")
        with pytest.raises(ValueError, match="zero-UTC-offset"):
            apply_watermark(df)
        # a year-round zero-offset zone still passes
        spark.conf.set(tz_key, "Etc/UTC")
        apply_watermark(df)
    finally:
        spark.conf.set(tz_key, old)
