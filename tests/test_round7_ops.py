"""Behavioral tests for the round-7 queries (parity vs DuckDB is covered
by test_oracle_parity auto-parameterization; these pin the semantics the
oracle comparison alone can't express)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from tests.conftest import SF_DIRS, _q

SF = SF_DIRS["t1"]


def test_quality_gate_keeps_top_80pct_per_lang(spark):
    rows = _q("quality_percentile_gate")(spark, SF).collect()
    assert rows, "gate must emit one row per language"
    for r in rows:
        # cutoff at rank ceil(0.2 n) ascending => at least the docs above
        # that rank are kept; ties on the cutoff value can only ADD.
        min_kept = r.n_docs - math.ceil(0.2 * r.n_docs) + 1
        assert min_kept <= r.n_kept <= r.n_docs, r
        assert r.kept_tokens > 0 and r.cutoff_q6 >= 0, r


def test_seq_len_histogram_accounts_every_token(spark):
    rows = sorted(_q("seq_len_histogram")(spark, SF).collect())
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    n_docs = docs.count()
    from koby_s_ai_vector_db_spark.operators.dedup import words_expr

    total_tokens = docs.select(
        F.sum(F.size(words_expr("text")))
    ).first()[0]
    assert sum(r.n_docs for r in rows) == n_docs
    assert sum(r.bucket_tokens for r in rows) == total_tokens
    # cumulative column is a prefix sum in len_from order
    run = 0
    for r in sorted(rows, key=lambda r: r.len_from):
        run += r.bucket_tokens
        assert r.cum_tokens == run, r
        assert r.len_to == r.len_from + 15


def test_boilerplate_ratio_bounds_and_known_repeat(spark):
    out = {r.doc_id: r for r in _q("ta_boilerplate")(spark, SF).collect()}
    assert out, "fixture contains cross-doc repeated 5-grams"
    for r in out.values():
        assert 0 < r.n_boiler <= r.n_pos, r
        assert r.boiler_ratio_q6 == round(r.n_boiler * 1e6 / r.n_pos), r
    # a 5-gram shared between two docs must flag BOTH docs
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "prefix words alpha beta gamma delta epsilon"),
            (3, "completely different tokens here entirely unrelated"),
        ],
        "doc_id long, text string",
    )
    from koby_s_ai_vector_db_spark.operators.dedup import shingles_expr

    pos = docs.select(
        "doc_id",
        F.explode(shingles_expr("text", n=5, distinct=False)).alias("g"),
    )
    boiler = (
        pos.groupBy("g")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
    )
    flagged = sorted(
        r.doc_id
        for r in pos.join(boiler.select("g"), "g").select("doc_id").distinct().collect()
    )
    assert flagged == [1, 2]


def test_filtered_ann_respects_label_filter(spark):
    out = _q("q17_filtered_ann")(spark, SF)
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select("vec_id", "label")
    joined = (
        out.join(emb.withColumnRenamed("vec_id", "qid_chk")
                 .withColumnRenamed("label", "q_label"),
                 F.col("query_id") == F.col("qid_chk"))
        .join(emb.withColumnRenamed("label", "c_label"), "vec_id")
    )
    bad = joined.filter(
        (F.col("q_label") != F.col("c_label"))
        | (F.col("query_id") == F.col("vec_id"))
        | (F.col("rank") > 10)
    ).count()
    assert bad == 0
    assert out.count() > 0


def test_filtered_ann_subset_of_unfiltered_scores(spark):
    """Filtered results score no higher than the unfiltered top-1 for the
    same query (the filter can only remove candidates)."""
    filt = _q("q17_filtered_ann")(spark, SF).groupBy("query_id").agg(
        F.max("sim").alias("f_best")
    )
    unf = _q("q1_topk_cosine")(spark, SF).filter(F.col("rank") == 1).select(
        "query_id", F.col("sim").alias("u_best")
    )
    bad = filt.join(unf, "query_id").filter(
        F.col("f_best") > F.col("u_best") + 1e-9
    ).count()
    assert bad == 0


def test_pca_audit_invariants(spark):
    vals = {r.metric: r.value for r in _q("emb_pca_audit")(spark, SF).collect()}
    n = spark.read.parquet(f"{SF}/embeddings.parquet").count()
    assert vals["n_vectors"] == float(n)
    for m in ("center_pc1", "center_pc2", "center_pc3",
              "ortho_pc12", "ortho_pc13", "ortho_pc23"):
        assert vals[m] == 0.0, (m, vals[m])
        assert math.copysign(1.0, vals[m]) == 1.0, f"{m} is -0.0"
    assert vals["total_variance"] > 0
    assert 0 <= vals["mean_sq_norm"] <= vals["total_variance"] * 100


def test_hard_negative_triplets(spark):
    rows = _q("mine_hard_negatives")(spark, SF).collect()
    assert len(rows) == 8  # every anchor has >= 12 non-self neighbours
    for r in rows:
        assert r.pos_sim >= r.neg_sim, r
        assert r.anchor_id not in (r.pos_id, r.neg_id), r
        assert r.pos_id != r.neg_id, r


def test_hll_merge_equals_global(spark):
    rows = {r.grp: r for r in _q("a22_hll_daily_merge")(spark, SF).collect()}
    m, g = rows["MERGED"], rows["GLOBAL"]
    # merging the stored day registers must reproduce the from-scratch
    # sketch exactly (max of maxes) — estimate AND register hit count
    assert (m.est_distinct, m.n_registers_hit) == (g.est_distinct, g.n_registers_hit)
    assert m.exact_distinct == g.exact_distinct > 0
    days = [r for k, r in rows.items() if k not in ("MERGED", "GLOBAL")]
    assert len(days) >= 2, "fixture spans multiple days"
    # distinct users is non-additive: the merged estimate must be well
    # below the sum of the day estimates (users recur across days)
    assert m.est_distinct < sum(r.est_distinct for r in days)


def test_read_asof_tombstones_and_cutoff(spark):
    from koby_s_ai_vector_db_spark.queries.mutations_q import ASOF_TS

    out = {r.user_id: r for r in _q("m10_read_asof")(spark, SF).collect()}
    assert out, "snapshot must be non-empty"
    ev = spark.read.parquet(f"{SF}/events.parquet").filter(
        F.col("ts") <= F.to_timestamp(F.lit(ASOF_TS))
    )
    latest = {
        r.user_id: r
        for r in ev.orderBy("user_id", F.desc("ts"), F.desc("event_id"))
        .dropDuplicates(["user_id"])
        .collect()
    }
    for uid, r in latest.items():
        if r.event_type == "error":
            assert uid not in out, f"tombstoned user {uid} leaked"
        else:
            assert uid in out and out[uid].last_value == round(r.value, 6)
    # nothing after the cutoff leaks in
    import datetime
    cutoff = datetime.datetime.fromisoformat(ASOF_TS)
    for r in out.values():
        assert datetime.datetime.utcfromtimestamp(r.last_ts_epoch) <= cutoff


def test_emb_quality_report_consistency(spark):
    import math as _math

    rows = {r.label: r for r in _q("emb_quality_report")(spark, SF).collect()}
    emb = spark.read.parquet(f"{SF}/embeddings.parquet").collect()
    assert sum(r.n_vecs for r in rows.values()) == len(emb)
    by_label: dict = {}
    for e in emb:
        q = round(round(_math.sqrt(sum(x * x for x in e.embedding)), 6) * 1e6)
        by_label.setdefault(e.label, []).append(q)
    for lbl, qs in by_label.items():
        r = rows[lbl]
        qs.sort()
        assert r.min_norm_q6 == qs[0] and r.max_norm_q6 == qs[-1]
        assert r.p50_norm_q6 == qs[_math.ceil(len(qs) / 2) - 1]
        assert r.sum_norm_q6 == sum(qs)
        assert r.n_zero == sum(1 for q in qs if q == 0)
