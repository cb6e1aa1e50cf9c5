"""Behavioral tests for the round-8 work (oracle parity is covered by
test_oracle_parity auto-parameterization; these pin semantics the oracle
comparison alone can't express)."""

from __future__ import annotations

import math
import random

from pyspark.sql import functions as F

from tests.conftest import SF_DIRS, _q

SF = SF_DIRS["t1"]


def test_norm_quantization_matches_duckdb_on_non_unit_vectors(spark, duck):
    """ADVICE r07 (confirmed numerically): round(x, 6) * 1e6 lands ~1e-8
    off an integer, and Spark's double→long cast TRUNCATES while DuckDB's
    CAST rounds — ~1% of non-unit norms diverged by 1. The repo convention
    (round AFTER scaling) hands both casts an exactly-integer double. The
    driver fixture is all unit-norm, so this pins the convention on the
    vectors the fixture can't supply."""
    rng = random.Random(8)
    vecs = [
        (i, [rng.uniform(-2.0, 2.0) for _ in range(16)]) for i in range(500)
    ]
    sdf = spark.createDataFrame(vecs, "vec_id: long, embedding: array<double>")
    qnorm = F.round(
        F.sqrt(
            F.aggregate(F.col("embedding"), F.lit(0.0), lambda a, x: a + x * x)
        )
        * 1000000
    ).cast("long")
    got = {
        r.vec_id: r.q for r in sdf.select("vec_id", qnorm.alias("q")).collect()
    }
    duck.execute("CREATE OR REPLACE TABLE _nq(vec_id BIGINT, embedding DOUBLE[])")
    duck.executemany("INSERT INTO _nq VALUES (?, ?)", vecs)
    want = dict(
        duck.execute(
            "SELECT vec_id, CAST(round(sqrt(list_sum(list_transform(embedding,"
            " x -> x * x))) * 1000000) AS BIGINT) FROM _nq"
        ).fetchall()
    )
    duck.execute("DROP TABLE _nq")
    # the old round-then-scale form diverges on this data; the fixed form
    # must be bit-identical on every row
    assert got == want
    # sanity: the data actually exercises non-unit norms
    assert len({v for v in want.values()}) > 400


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


def test_pack_bestfit_audit_agrees_with_manifest(spark):
    """The audit arm and the rows-only manifest must describe the same
    packing: per shard, identical doc counts, token totals, truncation
    counts, and a bin count that meets the audited lower bound."""
    audit = {r.shard: r for r in _q("pack_bestfit_audit")(spark, SF).collect()}
    manifest = {r.shard: r for r in _q("pack_bestfit")(spark, SF).collect()}
    assert set(audit) == set(manifest) and audit
    for s, a in audit.items():
        m = manifest[s]
        assert a.n_docs == m.n_docs, (a, m)
        assert a.packed_tokens == m.used_tokens, (a, m)
        assert a.n_truncated == m.n_truncated, (a, m)
        assert a.lb_bins <= m.n_bins, (a, m)
        assert a.overfull_bins == 0 and a.halfempty_excess == 0
        assert a.lb_violation == 0


def test_bestfit_halfempty_invariant_is_not_vacuous(spark):
    """The pinned-zero half-empty invariant must be computed from real
    bin fills: a deliberately broken packing (every doc its own bin)
    would report a nonzero halfempty_excess on this corpus."""
    from koby_s_ai_vector_db_spark.operators.dedup import words_expr
    from koby_s_ai_vector_db_spark.queries.training_q import BESTFIT_SEQ

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    toks = docs.select(
        F.least(F.size(words_expr("text")).cast("long"), F.lit(BESTFIT_SEQ)).alias("fill")
    ).filter(F.col("fill") > 0)
    n_half = toks.filter(F.col("fill") * 2 <= BESTFIT_SEQ).count()
    assert n_half > 1, "fixture must contain >1 short doc for the invariant to bite"


def test_decontaminate_flags_every_eval_source(spark):
    """Every eval item is a perturbation of a known corpus vector, so the
    source doc must be flagged and must attribute to ITS eval item; and
    no random pair may sneak over the 0.8 gate with a higher sim than a
    planted pair's source."""
    from koby_s_ai_vector_db_spark.queries.vector_q import (
        DECON_MOD,
        DECON_OFFSET,
        DECON_SEED_CAP,
        DECON_T_Q6,
    )

    out = {r.vec_id: r for r in _q("emb_decontaminate")(spark, SF).collect()}
    assert out, "planted eval items must produce flags"
    n_eval = (
        spark.read.parquet(f"{SF}/embeddings.parquet")
        .filter(
            (F.col("vec_id") % DECON_MOD == 0)
            & (F.col("vec_id") < DECON_SEED_CAP)
        )
        .count()
    )
    flagged_sources = 0
    for vec_id, r in out.items():
        assert r.max_sim_q6 >= DECON_T_Q6, r
        if vec_id % DECON_MOD == 0 and r.eval_id == vec_id + DECON_OFFSET:
            flagged_sources += 1
    assert flagged_sources == n_eval, (flagged_sources, n_eval)


def test_decontaminate_plan_shape(spark):
    """Scale shape: the eval side rides a broadcast (no corpus shuffle
    for the join), the threshold prunes BEFORE the rank window, and the
    window pre-truncates via WindowGroupLimit."""
    df = _q("emb_decontaminate")(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan


def test_emb_quality_report_shape_on_fixture(spark):
    """End-to-end shape check of the hygiene report on the driver fixture
    (all unit-norm): p50/min/max must equal 1e6 and sum = n_vecs * 1e6.
    The actual non-unit-norm quantization coverage lives in
    test_norm_quantization_matches_duckdb_on_non_unit_vectors (ADVICE
    r08: the old name promised what the fixture cannot supply)."""
    rows = _q("emb_quality_report")(spark, SF).collect()
    assert rows
    for r in rows:
        assert r.min_norm_q6 <= r.p50_norm_q6 <= r.max_norm_q6, r
        assert r.n_zero == 0, r
        assert r.n_vecs * r.min_norm_q6 <= r.sum_norm_q6 <= r.n_vecs * r.max_norm_q6, r
