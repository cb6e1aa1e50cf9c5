"""BPE tokenizer training (operators/bpe.py): exactness against a
straight-Python Sennrich-style reference, greedy-merge edge cases,
encode semantics, and degenerate arguments."""

from __future__ import annotations

from collections import Counter

import pytest

from tests.conftest import SF_DIRS
from pyspark.sql import functions as F

from koby_s_ai_vector_db_spark.operators.bpe import (
    END_OF_WORD,
    bpe_encode,
    learn_bpe,
)


def _python_bpe(texts: list[str], n_merges: int, min_count: int = 2):
    """Reference implementation: word-frequency BPE with the same
    deterministic tie-break (count desc, then left/right lexicographic)
    and greedy left-to-right pair rewriting."""
    wc = Counter(w for t in texts for w in t.lower().split())
    vocab = {w: list(w) + [END_OF_WORD] for w in wc}
    merges = []
    for _ in range(n_merges):
        pairs = Counter()
        for w, syms in vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] += wc[w]
        if not pairs:
            break
        (left, right), cnt = min(
            pairs.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        if cnt < min_count:
            break
        merges.append((left, right, left + right, cnt))
        for w, syms in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if (
                    i + 1 < len(syms)
                    and syms[i] == left
                    and syms[i + 1] == right
                ):
                    out.append(left + right)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = out
    return merges, vocab


TOY = [
    "low low low lower lowest",
    "new newer newest low",
    "lowest newest widest wide wide",
]


class TestLearn:
    def test_matches_python_reference(self, spark):
        docs = spark.createDataFrame(
            list(enumerate(TOY)), "doc_id bigint, text string"
        )
        got_merges, got_vocab = learn_bpe(docs, n_merges=12)
        ref_merges, ref_vocab = _python_bpe(TOY, n_merges=12)
        assert [
            (m["left"], m["right"], m["merged"], m["pair_count"])
            for m in got_merges
        ] == ref_merges
        got = {
            r["word"]: (r["n"], r["syms"]) for r in got_vocab.collect()
        }
        wc = Counter(w for t in TOY for w in t.lower().split())
        assert got == {w: (wc[w], ref_vocab[w]) for w in ref_vocab}

    def test_greedy_nonoverlapping_merge(self, spark):
        # "aaaa" with merge (a,a): greedy left-to-right → [aa, aa], and
        # "aaa" → [aa, a] — never the overlapping [a, aa] / [aa, aa, ...].
        docs = spark.createDataFrame(
            [(0, "aaaa aaaa aaa")], "doc_id bigint, text string"
        )
        merges, vocab = learn_bpe(docs, n_merges=1)
        assert (merges[0]["left"], merges[0]["right"]) == ("a", "a")
        syms = {r["word"]: r["syms"] for r in vocab.collect()}
        assert syms["aaaa"] == ["aa", "aa", END_OF_WORD]
        assert syms["aaa"] == ["aa", "a", END_OF_WORD]

    def test_early_stop_below_min_count(self, spark):
        # All words distinct with disjoint characters → every pair has
        # count 1 < 2 → zero merges learned.
        docs = spark.createDataFrame(
            [(0, "ab cd ef")], "doc_id bigint, text string"
        )
        merges, vocab = learn_bpe(docs, n_merges=5)
        assert merges == []
        assert {tuple(r["syms"]) for r in vocab.collect()} == {
            ("a", "b", END_OF_WORD),
            ("c", "d", END_OF_WORD),
            ("e", "f", END_OF_WORD),
        }

    def test_fixture_determinism(self, spark):
        from koby_s_ai_vector_db_spark.sources.tables import load_table

        docs = load_table(spark, SF_DIRS["t1"], "documents")
        m1, _ = learn_bpe(docs, n_merges=6)
        m2, _ = learn_bpe(docs, n_merges=6)
        assert [tuple(m) for m in m1] == [tuple(m) for m in m2]
        assert len(m1) == 6

    def test_degenerate_args(self, spark):
        docs = spark.createDataFrame([(0, "a")], "doc_id bigint, text string")
        with pytest.raises(ValueError, match="n_merges"):
            learn_bpe(docs, n_merges=0)


class TestEncode:
    def test_token_counts_match_vocab(self, spark):
        docs = spark.createDataFrame(
            list(enumerate(TOY)), "doc_id bigint, text string"
        )
        _, vocab = learn_bpe(docs, n_merges=12)
        syms = {r["word"]: len(r["syms"]) for r in vocab.collect()}
        out = {
            r["doc_id"]: (r["n_words"], r["n_tokens"])
            for r in bpe_encode(docs, vocab).collect()
        }
        for did, text in enumerate(TOY):
            words = text.lower().split()
            assert out[did] == (
                len(words),
                sum(syms[w] for w in words),
            )

    def test_oov_falls_back_to_characters(self, spark):
        train = spark.createDataFrame(
            [(0, "low low")], "doc_id bigint, text string"
        )
        _, vocab = learn_bpe(train, n_merges=3)
        probe = spark.createDataFrame(
            [(1, "xyz")], "doc_id bigint, text string"
        )
        row = bpe_encode(probe, vocab).collect()[0]
        # chars + end-of-word marker
        assert (row["n_words"], row["n_tokens"]) == (1, 4)

    def test_more_merges_never_increase_tokens(self, spark):
        from koby_s_ai_vector_db_spark.sources.tables import load_table

        docs = load_table(spark, SF_DIRS["t1"], "documents")
        _, v0 = learn_bpe(docs, n_merges=2)
        _, v1 = learn_bpe(docs, n_merges=10)
        t0 = bpe_encode(docs, v0).agg(F.sum("n_tokens")).collect()[0][0]
        t1 = bpe_encode(docs, v1).agg(F.sum("n_tokens")).collect()[0][0]
        assert t1 < t0
