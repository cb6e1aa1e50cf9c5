"""Round-13 optimization internals: plan-object memos, the spread() width
memo, the sorted-run-fold top-frequency rewrite, and the ivf_topk centroid
memo. Value-level regressions of the rewritten queries themselves are
auto-covered by tests/test_oracle_parity.py; these pin the MECHANISMS."""

from __future__ import annotations

from pyspark.sql import functions as F

from koby_s_ai_vector_db_spark.functions.caching import (
    evict_application,
    memo,
    memo_keys,
)
from koby_s_ai_vector_db_spark.functions.partitioning import spread
from tests.conftest import SF_DIRS

SF_DIR = SF_DIRS["t2"]


def test_memo_returns_same_plan_object(spark):
    built = []

    def builder():
        built.append(1)
        return spark.createDataFrame([(1, "a")], "id bigint, s string")

    a = memo(spark, ("t_r13", "memo"), builder)
    b = memo(spark, ("t_r13", "memo"), builder)
    assert a is b, "memo must return the identical DataFrame object"
    assert built == [1], "builder must run exactly once per key"
    # distinct key -> fresh build
    c = memo(spark, ("t_r13", "memo", 2), builder)
    assert c is not a and built == [1, 1]


def test_spread_width_memo_consistent_and_cached(spark):
    # One input partition: an honest probe would repartition it, so only a
    # memo read of the poisoned width below keeps it at one.
    df = spark.range(0, 1000, 1, 1)
    evict_application(spark)
    s1 = spread(df)
    key_added = memo_keys(spark)
    # The probe result must actually be STORED under the plan's key
    # (ADVICE r13: the old <=1 assertion also held with memoization
    # completely broken).
    assert len(key_added) == 1, "first spread() must add exactly one entry"
    assert s1.rdd.getNumPartitions() > 1, "the honest probe repartitions"
    # Poison the memo: if the second call re-probed instead of hitting
    # the memo, it would see the true width and make the true decision —
    # with the poisoned width >= defaultParallelism it must NOT
    # repartition, proving the stored value was read, not recomputed.
    sc = df.sparkSession.sparkContext
    evict_application(spark)
    memo(spark, key_added[0], lambda: sc.defaultParallelism + 1000)
    try:
        s2 = spread(spark.range(0, 1000, 1, 1))  # semantically identical plan
        assert s2.rdd.getNumPartitions() == df.rdd.getNumPartitions(), (
            "second spread() must consume the memoized width (no re-probe)"
        )
    finally:
        evict_application(spark)
    # Re-probe the honest width and confirm the decision is consistent.
    s1b = spread(spark.range(0, 1000, 1, 1))
    assert s1.rdd.getNumPartitions() == s1b.rdd.getNumPartitions()


def test_evict_application_clears_width_memo(spark):
    """evict_application must drop the width entries along with every
    other memo (ADVICE r13)."""
    spread(spark.range(0, 2000))  # ensure at least one width entry
    assert any(k[0] == "spread_width" for k in memo_keys(spark))
    evict_application(spark)
    assert memo_keys(spark) == []


def test_gopher_top_frac_fold_equals_brute(spark):
    """The sorted-run fold must equal the old O(n·distinct) counting
    expression on adversarial token layouts (ties, singletons, runs at
    either end, empty-adjacent)."""
    from koby_s_ai_vector_db_spark.operators.text_analysis import (
        gopher_repetition,
    )

    rows = [
        (1, "a a a b c"),          # run at the start
        (2, "x y z z z"),          # run at the end
        (3, "m n m n m n"),        # tie between two tokens
        (4, "solo"),               # single token
        (5, "a b c d e f"),        # all distinct
        (6, "t t t t t t"),        # one token only
        (7, "b a b a c c c a b"),  # interleaved, sort regroups
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    cols = gopher_repetition("text")
    got = {
        r["doc_id"]: (r["tf"], r["bf"])
        for r in df.select(
            "doc_id",
            cols["top_token_frac"].alias("tf"),
            cols["top_bigram_frac"].alias("bf"),
        ).collect()
    }
    # brute force in Python
    for doc_id, text in rows:
        toks = [t for t in text.lower().split() if t]
        top = max(toks.count(t) for t in set(toks))
        exp_tf = round(top / len(toks), 6)
        if len(toks) >= 2:
            bgs = [" ".join(toks[i : i + 2]) for i in range(len(toks) - 1)]
            exp_bf = round(max(bgs.count(b) for b in set(bgs)) / len(bgs), 6)
        else:
            exp_bf = 0.0
        assert got[doc_id] == (exp_tf, exp_bf), (doc_id, got[doc_id])


def test_ivf_topk_centroid_memo_matches_uncached(spark):
    """cache_key must be a pure memo: same rows with and without it."""
    from koby_s_ai_vector_db_spark.operators.similarity import ivf_topk
    from koby_s_ai_vector_db_spark.sources.tables import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    corpus = emb.select("vec_id", "label", "embedding")
    plain = ivf_topk(corpus, queries, k=4, n_probe_labels=2)
    memod = ivf_topk(
        corpus, queries, k=4, n_probe_labels=2,
        cache_key=("t_r13_ivf", SF_DIR),
    )
    # second memoized call exercises the cache-hit path
    memod2 = ivf_topk(
        corpus, queries, k=4, n_probe_labels=2,
        cache_key=("t_r13_ivf", SF_DIR),
    )
    rows = sorted(map(tuple, plain.collect()))
    assert rows == sorted(map(tuple, memod.collect()))
    assert rows == sorted(map(tuple, memod2.collect()))
