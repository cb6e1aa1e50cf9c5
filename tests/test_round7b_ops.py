"""Behavioral tests for the late-round-7 queries (oracle parity is
auto-covered by test_oracle_parity; these pin semantics the hash
comparison can't express — estimator math on planted sets, mergeability,
invariants)."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_DIRS, _q

SF = SF_DIRS["t1"]


# --- KMV theta sketch --------------------------------------------------------


def _planted_sets(spark):
    """Two sets with |A|=300, |B|=200, |A ∩ B|=100 (ids 200..299)."""
    rows = [("A", i) for i in range(300)] + [("B", i) for i in range(200, 400)]
    return spark.createDataFrame(rows, "grp string, k bigint")


def test_kmv_estimates_planted_overlap(spark):
    from koby_s_ai_vector_db_spark.operators.sketches import (
        KMV_K,
        kmv_estimate,
        kmv_sample,
    )

    df = _planted_sets(spark)
    s = kmv_sample(df, F.col("k").cast("string"), ["grp"])
    st = (
        s.groupBy("grp")
        .agg(F.count("*").alias("n_s"), F.max("h").alias("u_s"))
        .withColumn("est", kmv_estimate(F.col("n_s"), F.col("u_s")))
        .collect()
    )
    by = {r.grp: r for r in st}
    # samples are capped at k and the estimate is within 4 sigma
    # (sigma ~ 1/sqrt(k-2) ~ 12.7% at k=64) of the truth
    for grp, truth in (("A", 300), ("B", 200)):
        assert by[grp].n_s == KMV_K
        assert abs(by[grp].est - truth) / truth < 4 / (KMV_K - 2) ** 0.5, by[grp]


def test_kmv_sample_partition_invariant(spark):
    """The synopsis must be identical regardless of input partitioning —
    the k smallest survive WindowGroupLimit's per-task pre-truncation."""
    from koby_s_ai_vector_db_spark.operators.sketches import kmv_sample

    df = _planted_sets(spark)
    a = kmv_sample(df.repartition(1), F.col("k").cast("string"), ["grp"])
    b = kmv_sample(df.repartition(13), F.col("k").cast("string"), ["grp"])
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_kmv_union_sample_merge_equals_direct(spark):
    """Mergeability: KMV of (S_A ∪ S_B samples) == KMV built on A ∪ B
    directly — the property that lets stored per-set synopses answer
    set algebra without rescanning raw keys."""
    from pyspark.sql import Window

    from koby_s_ai_vector_db_spark.operators.sketches import KMV_K, kmv_sample

    df = _planted_sets(spark)
    s = kmv_sample(df, F.col("k").cast("string"), ["grp"])
    merged = (
        s.select("h")
        .distinct()
        .withColumn("rk", F.row_number().over(Window.orderBy("h")))
        .where(F.col("rk") <= KMV_K)
        .select("h")
    )
    direct = kmv_sample(
        df.select(F.lit("U").alias("grp"), "k").distinct(),
        F.col("k").cast("string"),
        ["grp"],
    ).select("h")
    assert sorted(r.h for r in merged.collect()) == sorted(
        r.h for r in direct.collect()
    )


# --- skew report & entropy ---------------------------------------------------


def test_skew_report_shares_and_ratio(spark):
    rows = _q("a24_skew_report")(spark, SF).collect()
    cols = {r.col for r in rows}
    assert cols == {"events.user_id", "lineitem.l_suppkey"}
    for col in cols:
        # collect() order is plan-dependent; the contract is the SET of
        # top-10 keys, so sort before asserting the descending property.
        sub = sorted(
            (r for r in rows if r.col == col), key=lambda r: -r.cnt
        )
        assert len(sub) <= 10
        for r in sub:
            # top key's count/avg can't exceed the reported max/avg ratio
            assert r.cnt * r.n_keys / r.n_rows <= r.skew_ratio + 1e-6, r
            assert 0 < r.share <= 1, r


def test_ta_entropy_bounds_and_extremes(spark):
    """0 <= entropy <= ln(n_unique); a planted constant doc scores 0 and
    an all-distinct doc hits the ceiling exactly."""
    import math

    from koby_s_ai_vector_db_spark.queries.text_q import ta_entropy

    rows = ta_entropy(spark, SF).collect()
    for r in rows:
        assert -1e-9 <= r.entropy <= math.log(max(r.n_unique, 2)) + 1e-6, r
        assert 0 <= r.norm_entropy <= 1 + 1e-9, r

    planted = spark.createDataFrame(
        [(1, "a a a a"), (2, "w x y z"), (3, "solo")],
        "doc_id long, text string",
    )
    import unittest.mock as _m

    with _m.patch(
        "koby_s_ai_vector_db_spark.queries.text_q.load_table",
        return_value=planted,
    ):
        got = {r.doc_id: r for r in ta_entropy(spark, "ignored").collect()}
    assert got[1].entropy == 0.0 and got[1].norm_entropy == 0.0
    assert abs(got[2].entropy - math.log(4)) < 1e-6
    assert abs(got[2].norm_entropy - 1.0) < 1e-6
    assert got[3].norm_entropy == 0.0  # n_unique == 1 guard


# --- curriculum & split ----------------------------------------------------


def test_curriculum_phases_partition_by_quality(spark):
    """Phases 1..4 partition the corpus; value-disjoint: every doc in
    phase k scores strictly above every doc in phase k+1."""
    rows = sorted(
        _q("curriculum_order")(spark, SF).collect(), key=lambda r: r.phase
    )
    assert [r.phase for r in rows] == [1, 2, 3, 4]
    n = sum(r.n_docs for r in rows)
    for a, b in zip(rows, rows[1:]):
        assert a.min_qq > b.max_qq, (a, b)
        # quartile sizes are exact up to score ties at the cutoffs
        assert abs(a.n_docs - n / 4) <= n / 8, a


def test_split_assign_shares_and_stability(spark):
    rows = _q("split_assign")(spark, SF).collect()
    langs = {r.lang for r in rows}
    for lang in langs:
        assert abs(sum(r.share for r in rows if r.lang == lang) - 1.0) < 1e-4
    total = sum(r.n_docs for r in rows)
    train = sum(r.n_docs for r in rows if r.split == "train")
    assert 0.7 < train / total < 0.9
    # determinism: a second run assigns identically
    again = _q("split_assign")(spark, SF).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


# --- normalization dedup & soft dedup -------------------------------------


# --- temperature mixing --------------------------------------------------


def test_mix_temperature_flattens_shares(spark):
    """alpha < 1 compresses the share distribution: order is preserved,
    but every stratum's flattened share is strictly between its natural
    share and the uniform share (for non-degenerate inputs); shares sum
    to ~1 and targets sum to ~budget."""
    from koby_s_ai_vector_db_spark.queries.selection_q import TEMP_BUDGET

    rows = _q("mix_temperature")(spark, SF).collect()
    assert len(rows) >= 2
    uniform = 1.0 / len(rows)
    for r in rows:
        lo, hi = sorted((r.p_raw, uniform))
        assert lo - 1e-6 <= r.p_temp <= hi + 1e-6, r
    assert abs(sum(r.p_temp for r in rows) - 1.0) < 1e-4
    assert abs(sum(r.target_tokens for r in rows) - TEMP_BUDGET) < 1.0
    # ordering preserved
    by_raw = [r.lang for r in sorted(rows, key=lambda r: r.p_raw)]
    by_temp = [r.lang for r in sorted(rows, key=lambda r: r.p_temp)]
    assert by_raw == by_temp


def test_a23_union_bounds_and_inclusion_exclusion(spark):
    """est_union <= est_a + est_b (up to rounding) and every estimate is
    positive; exact_intersect is a true count."""
    rows = _q("a23_theta_overlap")(spark, SF).collect()
    assert rows
    for r in rows:
        assert r.est_a > 0 and r.est_b > 0 and r.est_union > 0, r
        assert r.est_union <= r.est_a + r.est_b + 0.01, r
        assert r.est_intersect <= r.est_union + 0.01, r
        assert r.exact_intersect >= 0, r
