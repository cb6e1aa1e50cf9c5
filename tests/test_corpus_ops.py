"""Corpus-curation operator behavior checks (value parity is covered by
tests/test_oracle_parity.py; these pin semantics and plan shapes)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from koby_s_ai_vector_db_spark.operators.corpus import (
    bm25_rank,
    ngram_contamination,
    stratified_sample,
    vocab_stats,
)
from koby_s_ai_vector_db_spark.queries.corpus_q import (
    BM25_QUERIES,
    SAMPLE_DEFAULT,
    SAMPLE_RATES,
)
from koby_s_ai_vector_db_spark.sources.tables import load_table
from tests.conftest import SF_DIRS, _q

SF_DIR = SF_DIRS["t2"]


def _docs(spark):
    return load_table(spark, SF_DIR, "documents")


def test_bm25_oov_query_returns_nothing(spark):
    """Terms absent from the corpus produce no postings rows — an
    all-out-of-vocabulary query yields zero results, not NULL scores."""
    docs = _docs(spark)
    queries = spark.createDataFrame(
        BM25_QUERIES, "query_id bigint, query_text string"
    )
    out = bm25_rank(docs, queries, k=10).collect()
    by_q = {qid: [r for r in out if r.query_id == qid] for qid, _ in BM25_QUERIES}
    assert len(by_q[2]) == 0  # "qqqz zzzq xyzzy"
    for qid in (0, 1, 3):
        rows = by_q[qid]
        assert len(rows) == 10
        ranks = sorted(r.rank for r in rows)
        assert ranks == list(range(1, 11))
        scores = [r.score for r in sorted(rows, key=lambda r: r.rank)]
        assert scores == sorted(scores, reverse=True)


def test_bm25_rarer_term_scores_higher(spark):
    """IDF ordering: a doc matching only a rare term must outscore a doc
    matching only a common term of equal tf/dl (built synthetically)."""
    docs = spark.createDataFrame(
        [(0, "rare pad0"), (1, "common pad1")]
        + [(i, "common filler%d" % i) for i in range(2, 12)],
        "doc_id bigint, text string",
    )
    q = spark.createDataFrame([(0, "rare common")], "query_id bigint, query_text string")
    res = {r.doc_id: r.score for r in bm25_rank(docs, q, k=20).collect()}
    assert res[0] > res[1]


def test_vocab_stats_counts(spark):
    """n_docs <= n_total and the cut is by n_total desc, term asc."""
    rows = vocab_stats(_docs(spark), top=20).collect()
    assert len(rows) == 20
    assert all(r.n_docs <= r.n_total for r in rows)
    key = [(-r.n_total, r.term) for r in rows]
    assert key == sorted(key)


def test_stratified_sample_rates(spark):
    """Observed keep-rate per stratum tracks the requested rate (md5 is
    uniform; sf0.01 strata have 64-218 docs, so allow a wide but
    one-sided-safe band) and is deterministic across runs."""
    docs = _docs(spark)
    kept = stratified_sample(
        docs, SAMPLE_RATES, strata_col="lang", default_rate=SAMPLE_DEFAULT, seed=7
    )
    tot = {r.lang: r.n for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    got = {r.lang: r.n for r in kept.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    for lang, n in tot.items():
        rate = SAMPLE_RATES.get(lang, SAMPLE_DEFAULT)
        frac = got.get(lang, 0) / n
        assert abs(frac - rate) < 0.15, (lang, frac, rate)
    again = {r.lang: r.n for r in stratified_sample(
        docs, SAMPLE_RATES, strata_col="lang", default_rate=SAMPLE_DEFAULT, seed=7
    ).groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert again == got


def test_contamination_finds_planted_copy(spark):
    """A verbatim copy of a benchmark doc is flagged with n_shared equal to
    its full distinct-shingle count."""
    docs = _docs(spark)
    bench = docs.filter(F.col("doc_id") == 0).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    train = docs.limit(50).union(
        docs.filter(F.col("doc_id") == 0).select(
            (F.col("doc_id") + 900000).alias("doc_id"), "text", "lang", "source", "n_chars"
        )
    )
    out = {r.doc_id: r.n_shared for r in ngram_contamination(train, bench, n=3).collect()}
    assert out[900000] == out[0]  # the copy shares everything the original does


def test_bm25_and_contamination_plan_shapes(spark):
    """BM25 top-k rides WindowGroupLimit; the benchmark side of the
    contamination join is broadcast (never a shuffled big-big join)."""
    docs = _docs(spark)
    queries = spark.createDataFrame(
        BM25_QUERIES, "query_id bigint, query_text string"
    )
    plan = bm25_rank(docs, queries)._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
    bench = docs.filter(F.col("doc_id") % 37 == 0).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    cplan = (
        ngram_contamination(docs, bench)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in cplan
    assert "CartesianProduct" not in cplan


def test_sliding_contamination_counts_positions_and_fraction(spark):
    """Hand-computed 13-gram sliding check: a doc that embeds the
    benchmark excerpt twice counts BOTH positions (non-distinct window);
    a doc with fewer than 13 words is excluded; fractions divide by the
    doc's own sliding-gram count."""
    from koby_s_ai_vector_db_spark.operators.corpus import (
        ngram_contamination_sliding,
    )

    words = [f"w{i}" for i in range(13)]
    excerpt = " ".join(words)  # exactly one 13-gram
    train = spark.createDataFrame(
        [
            # doc 1: excerpt twice, back to back -> 26 words, 14 sliding
            # grams, of which positions 1 and 14 equal the excerpt.
            (1, excerpt + " " + excerpt),
            # doc 2: 12 words -> no grams, excluded.
            (2, " ".join(words[:12])),
            # doc 3: 13 unrelated words -> 1 gram, no overlap.
            (3, " ".join(f"z{i}" for i in range(13))),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame([(10, excerpt)], "bench_id long, text string")
    rows = {
        r.doc_id: r
        for r in ngram_contamination_sliding(train, bench, n=13).collect()
    }
    assert set(rows) == {1}
    assert rows[1].n_shared == 2
    assert abs(rows[1].contaminated_frac - round(2 / 14, 6)) < 1e-12


def test_sliding_contamination_short_rows_yield_empty(spark):
    """sequence(1, 0)-descending regression guard: rows shorter than n
    words must produce an empty shingle array, not a slice(…, 0) error —
    for both the sliding and the distinct shingle expressions."""
    from koby_s_ai_vector_db_spark.operators.corpus import (
        sliding_shingles_expr,
    )
    from koby_s_ai_vector_db_spark.operators.dedup import shingles_expr

    df = spark.createDataFrame(
        [("one two",), ("",), ("a b c d e",)], "text string"
    )
    out = df.select(
        F.size(sliding_shingles_expr("text", 4)).alias("s"),
        F.size(shingles_expr("text", 4)).alias("d"),
    ).collect()
    assert [r.s for r in out] == [0, 0, 2]
    assert [r.d for r in out] == [0, 0, 2]


class TestVocabZipf:
    def test_perfect_zipf_slope(self, spark):
        """A synthetic corpus with freq(rank r) = 2^(10-r) has an exact
        log-log line of slope -ln2 per rank... use freq ∝ 1/r directly:
        term_r repeated round(1200/r) times → slope ≈ -1, r² ≈ 1."""
        from koby_s_ai_vector_db_spark.operators.corpus import vocab_zipf

        words = []
        for r in range(1, 21):
            words += [f"t{r:02d}"] * round(1200 / r)
        docs = spark.createDataFrame(
            [(0, " ".join(words))], "doc_id bigint, text string"
        )
        row = vocab_zipf(docs).collect()[0]
        assert row["n_terms"] == 20
        assert -1.05 < row["zipf_slope"] < -0.95
        assert row["r2"] > 0.99
        assert row["top_share"] == pytest.approx(
            1200 / sum(round(1200 / r) for r in range(1, 21)), abs=1e-5
        )

    def test_degenerate_corpora_report_zero(self, spark):
        from koby_s_ai_vector_db_spark.operators.corpus import vocab_zipf

        uniform = spark.createDataFrame(
            [(0, "a b c a b c")], "doc_id bigint, text string"
        )
        row = vocab_zipf(uniform).collect()[0]
        assert row["r2"] == 0.0  # var_y = 0: no fittable line, not NaN
        single = spark.createDataFrame(
            [(0, "a a a")], "doc_id bigint, text string"
        )
        row = vocab_zipf(single).collect()[0]
        assert (row["zipf_slope"], row["r2"]) == (0.0, 0.0)


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

    out = {r.vec_id: r for r in _q("emb_decontaminate")(spark, SF_DIRS["t1"]).collect()}
    assert out, "planted eval items must produce flags"
    n_eval = (
        spark.read.parquet(f"{SF_DIRS['t1']}/embeddings.parquet")
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
    df = _q("emb_decontaminate")(spark, SF_DIRS["t1"])
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan
