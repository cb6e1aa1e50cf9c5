"""Data-selection operators (operators/selection.py): semantic checks
against tiny hand-built corpora plus a brute-force Python reference for
each score, and degenerate-argument validation."""

from __future__ import annotations

import math

import pytest

from tests.conftest import SF_DIRS
from pyspark.sql import functions as F

from koby_s_ai_vector_db_spark.operators.selection import (
    dsir_scores,
    lm_perplexity,
    perplexity_buckets,
    token_budget_mix,
    token_budget_mix_summary,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string, src string")


class TestDsir:
    def test_target_like_doc_scores_higher(self, spark):
        docs = _docs(
            spark,
            [
                (0, "alpha beta gamma alpha beta", "tgt"),
                (1, "alpha beta gamma beta alpha", "raw"),  # target-like
                (2, "delta epsilon zeta eta theta", "raw"),  # off-target
            ],
        )
        out = {
            r["doc_id"]: r["score"]
            for r in dsir_scores(
                docs, target=F.col("src") == "tgt", n_buckets=64
            ).collect()
        }
        assert out[1] > out[2]
        # The target doc itself is maximally target-like.
        assert out[0] >= out[1]

    def test_matches_python_reference(self, spark):
        rows = [
            (0, "a b a c", "tgt"),
            (1, "a b c d", "raw"),
            (2, "x y z x", "raw"),
        ]
        B, seed, alpha = 32, 11, 1.0
        docs = _docs(spark, rows)
        got = {
            r["doc_id"]: (r["n_feat"], r["score"])
            for r in dsir_scores(
                docs,
                target=F.col("src") == "tgt",
                n_buckets=B,
                seed=seed,
            ).collect()
        }

        import hashlib

        def h32(s):
            return int(
                hashlib.md5(f"{seed}:{s}".encode()).hexdigest()[:8], 16
            ) % B

        feats = {}
        for did, text, _src in rows:
            w = text.lower().split()
            fs = w + [f"{w[i]} {w[i+1]}" for i in range(len(w) - 1)]
            feats[did] = [h32(f) for f in fs]
        raw_cnt, tgt_cnt = {}, {}
        for did, _t, src in rows:
            for b in feats[did]:
                raw_cnt[b] = raw_cnt.get(b, 0) + 1
                if src == "tgt":
                    tgt_cnt[b] = tgt_cnt.get(b, 0) + 1
        n_raw, n_tgt = sum(raw_cnt.values()), sum(tgt_cnt.values())
        for did, _t, _s in rows:
            lam = sum(
                math.log((tgt_cnt.get(b, 0) + alpha) / (n_tgt + alpha * B))
                - math.log((raw_cnt.get(b, 0) + alpha) / (n_raw + alpha * B))
                for b in feats[did]
            )
            assert got[did][0] == len(feats[did])
            assert got[did][1] == pytest.approx(round(lam, 6), abs=2e-6)

    def test_degenerate_args(self, spark):
        docs = _docs(spark, [(0, "a b", "tgt")])
        with pytest.raises(ValueError, match="n_buckets"):
            dsir_scores(docs, target=F.lit(True), n_buckets=0)


class TestPerplexity:
    def test_lm_text_is_more_fluent_than_oov(self, spark):
        lm_rows = [(10, "the cat sat on the mat", "lm")]
        docs = _docs(
            spark,
            lm_rows
            + [
                (0, "the cat sat on the mat", "x"),  # verbatim LM text
                (1, "mat the on sat cat the", "x"),  # same vocab, wrong order
                (2, "zz qq ww ee rr tt yy", "x"),  # fully OOV
            ],
        )
        lm = docs.filter(F.col("src") == "lm")
        out = {
            r["doc_id"]: r["ppl"] for r in lm_perplexity(docs, lm).collect()
        }
        # Verbatim LM text is most fluent. Note the scrambled doc can
        # score WORSE than the fully-OOV doc: a seen context with an
        # unseen continuation gets p = α/(c1 + αV), below the
        # unseen-context floor 1/V — standard add-α bigram behavior.
        assert out[0] < out[1]
        assert out[0] < out[2]

    def test_matches_python_reference(self, spark):
        lm_text = "a b a c a b"
        doc_text = "a b c"
        docs = _docs(spark, [(0, doc_text, "x"), (9, lm_text, "lm")])
        lm = docs.filter(F.col("src") == "lm")
        row = (
            lm_perplexity(docs, lm).filter(F.col("doc_id") == 0).collect()[0]
        )
        lw = lm_text.split()
        bigrams = [(lw[i], lw[i + 1]) for i in range(len(lw) - 1)]
        c2 = {}
        c1 = {}
        for p, w in bigrams:
            c2[(p, w)] = c2.get((p, w), 0) + 1
            c1[p] = c1.get(p, 0) + 1
        v = len(set(lw)) + 1
        dw = doc_text.split()
        lps = [
            math.log(
                (c2.get((dw[i], dw[i + 1]), 0) + 1.0)
                / (c1.get(dw[i], 0) + 1.0 * v)
            )
            for i in range(len(dw) - 1)
        ]
        nll = -sum(lps) / len(lps)
        assert row["n_events"] == len(lps)
        assert row["nll"] == pytest.approx(round(nll, 6), abs=2e-6)
        assert row["ppl"] == pytest.approx(round(math.exp(nll), 6), abs=2e-6)

    def test_short_docs_absent(self, spark):
        docs = _docs(spark, [(0, "solo", "x"), (1, "two words", "x")])
        lm = docs.filter(F.col("doc_id") == 1)
        ids = {r["doc_id"] for r in lm_perplexity(docs, lm).collect()}
        assert ids == {1}

    def test_bucket_split_covers_corpus(self, spark):
        docs = _docs(
            spark,
            [(i, f"w{i} w{(i * 7) % 5} w{i % 3} w{i % 2}", "x") for i in range(30)],
        )
        lm = docs.filter(F.col("doc_id") < 10)
        scored = lm_perplexity(docs, lm)
        out = perplexity_buckets(scored).collect()
        buckets = {r["bucket"] for r in out}
        assert buckets == {"head", "middle", "tail"}
        # head ppl <= middle ppl <= tail ppl pointwise by construction
        by = {b: [r["ppl"] for r in out if r["bucket"] == b] for b in buckets}
        assert max(by["head"]) <= min(by["tail"])


class TestTokenBudgetMix:
    def _corpus(self, spark, n=200):
        rows = [
            (i, " ".join(f"t{j}" for j in range(10)), ["en", "de", "fr"][i % 3])
            for i in range(n)
        ]
        return spark.createDataFrame(
            rows, "doc_id bigint, text string, lang string"
        )

    def test_repeat_and_downsample_regimes(self, spark):
        docs = self._corpus(spark)  # ~670 tokens per lang
        # en target 2000 (epochs ~3), de target 300 (epochs ~0.45), fr w=0
        mix = token_budget_mix(
            docs, {"en": 0.8, "de": 0.12}, 2500
        ).collect()
        langs = {r["lang"] for r in mix}
        assert langs == {"en", "de"}  # fr dropped
        en_copies = [r["n_copies"] for r in mix if r["lang"] == "en"]
        de_copies = [r["n_copies"] for r in mix if r["lang"] == "de"]
        assert min(en_copies) >= 2  # epochs ≈ 2.99 → floor 2 everywhere
        assert max(de_copies) == 1  # downsample regime never repeats

    def test_achieved_tracks_target(self, spark):
        docs = self._corpus(spark, n=300)
        summary = {
            r["lang"]: r
            for r in token_budget_mix_summary(
                docs, {"en": 0.6, "de": 0.4}, 3000
            ).collect()
        }
        for lang in ("en", "de"):
            r = summary[lang]
            # Bernoulli fractional part: achieved within one stratum's
            # doc-size granularity of the target (10-token docs, ~100
            # coin flips → generous 15% tolerance).
            assert abs(r["achieved_tokens"] - r["target_tokens"]) <= (
                0.15 * r["target_tokens"]
            )
            assert r["epochs"] == pytest.approx(
                r["target_tokens"] / r["avail_tokens"], abs=1e-6
            )
        assert summary["fr"]["achieved_tokens"] == 0
        assert summary["fr"]["achieved_docs"] == 0

    def test_deterministic(self, spark):
        docs = self._corpus(spark, n=60)
        a = sorted(
            map(
                tuple,
                token_budget_mix(docs, {"en": 1.0}, 500).collect(),
            )
        )
        b = sorted(
            map(
                tuple,
                token_budget_mix(docs, {"en": 1.0}, 500).collect(),
            )
        )
        assert a == b

    def test_zero_available_stratum_drops_gracefully(self, spark):
        """A stratum whose documents are all empty has avail_tokens 0:
        epochs must be 0 (not a DIVIDE_BY_ZERO crash under ANSI mode)
        and the stratum contributes nothing to the mix."""
        docs = spark.createDataFrame(
            [(0, "", "en"), (1, "   ", "en"), (2, "a b c", "de")],
            "doc_id bigint, text string, lang string",
        )
        mix = token_budget_mix(
            docs, {"en": 0.5, "de": 0.5}, 100
        ).collect()
        assert {r["lang"] for r in mix} == {"de"}
        summary = {
            r["lang"]: r
            for r in token_budget_mix_summary(
                docs, {"en": 0.5, "de": 0.5}, 100
            ).collect()
        }
        assert summary["en"]["avail_tokens"] == 0
        assert summary["en"]["epochs"] == 0.0
        assert summary["en"]["achieved_tokens"] == 0
        assert summary["de"]["achieved_tokens"] > 0

    def test_degenerate_args(self, spark):
        docs = self._corpus(spark, n=3)
        with pytest.raises(ValueError, match="token_budget"):
            token_budget_mix(docs, {"en": 1.0}, 0)
        with pytest.raises(ValueError, match="non-empty"):
            token_budget_mix(docs, {}, 100)
        with pytest.raises(ValueError, match="negative"):
            token_budget_mix(docs, {"en": -0.5}, 100)


class TestPretrainPipeline:
    def test_composition_invariants(self, spark):
        """End-to-end pipeline sanity beyond the value oracle: the gate
        drops the tail third, benchmark docs never survive, achieved
        tokens track targets for weighted strata."""
        from koby_s_ai_vector_db_spark.queries.selection_q import (
            MIX_WEIGHTS,
            PIPE_BUDGET,
            curate_pretrain_pipeline_q,
        )

        rows = {
            r["lang"]: r
            for r in curate_pretrain_pipeline_q(
                spark, SF_DIRS["t2"]
            ).collect()
        }
        for lang, w in MIX_WEIGHTS.items():
            r = rows[lang]
            assert r["target_tokens"] == pytest.approx(w * PIPE_BUDGET)
            # repeats make the fractional-part noise per-doc-sized; the
            # fixture strata are small, so allow a couple of doc lengths.
            assert abs(r["achieved_tokens"] - r["target_tokens"]) <= 250
        for lang, r in rows.items():
            if lang not in MIX_WEIGHTS:
                assert r["target_tokens"] == 0.0
                assert r["achieved_tokens"] == 0


class TestGumbelSample:
    def _scored(self, spark, n=50):
        from koby_s_ai_vector_db_spark.operators.selection import (
            gumbel_topk_sample,
        )

        rows = [(i, float(i)) for i in range(n)]
        df = spark.createDataFrame(rows, "doc_id bigint, score double")
        return df, gumbel_topk_sample

    def test_small_tau_is_topk_by_score(self, spark):
        df, sample = self._scored(spark)
        # Gumbel noise is O(1); score/τ at τ=1e-3 spans thousands — the
        # draw degenerates to deterministic top-k by score.
        got = sorted(
            r["doc_id"] for r in sample(df, k=5, tau=1e-3).collect()
        )
        assert got == [45, 46, 47, 48, 49]

    def test_large_tau_mixes_ranks(self, spark):
        df, sample = self._scored(spark)
        # τ=1e6 flattens the weights: the draw is (hash-)uniform and
        # should not be the top-5 by score.
        got = sorted(
            r["doc_id"] for r in sample(df, k=5, tau=1e6).collect()
        )
        assert got != [45, 46, 47, 48, 49]

    def test_deterministic_and_ranked(self, spark):
        df, sample = self._scored(spark)
        a = [(r["doc_id"], r["rank"]) for r in sample(df, k=7).collect()]
        b = [(r["doc_id"], r["rank"]) for r in sample(df, k=7).collect()]
        assert a == b
        assert sorted(r for _, r in a) == list(range(1, 8))

    def test_k_exceeding_n_returns_all(self, spark):
        df, sample = self._scored(spark, n=4)
        assert sample(df, k=10).count() == 4

    def test_degenerate_args(self, spark):
        df, sample = self._scored(spark, n=3)
        with pytest.raises(ValueError, match="k must"):
            sample(df, k=0)
        with pytest.raises(ValueError, match="tau"):
            sample(df, k=1, tau=0.0)


def test_weighted_sample_prefers_heavy_items(spark):
    """Efraimidis-Spirakis keys must make selection probability scale
    with weight: 20 weight-1000 items among 480 weight-1 items should
    dominate the top-15 (deterministic given the portable hash)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from koby_s_ai_vector_db_spark.functions.hashing import portable_hash32
    from koby_s_ai_vector_db_spark.queries.corpus_q import _WS_SEED

    rows = [(i, "g", 1000 if i < 20 else 1) for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, n_chars long")
    u = (
        portable_hash32(F.col("doc_id").cast("string"), seed=_WS_SEED) + F.lit(1.0)
    ) / F.lit(4294967296.0)
    w = Window.partitionBy("lang").orderBy(F.desc("ky"), F.asc("doc_id"))
    top = (
        df.select("lang", "doc_id", "n_chars",
                  F.pow(u, F.lit(1.0) / F.col("n_chars")).alias("ky"))
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 15)
        .collect()
    )
    heavy = sum(1 for r in top if r.doc_id < 20)
    assert heavy >= 12, heavy
