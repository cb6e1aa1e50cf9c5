"""Property-based tests for the round-6 tiers: BPE merge-sequence parity
against the straight-Python reference on hypothesis-generated corpora,
and token-budget mixing exactness against a direct Python rendering.

Spark-side batching: each example costs a handful of jobs, so example
counts are small (the repo-wide property-test convention —
tests/test_properties.py)."""

from __future__ import annotations

import hashlib
import math
from collections import Counter

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from koby_s_ai_vector_db_spark.operators.bpe import learn_bpe
from koby_s_ai_vector_db_spark.operators.selection import token_budget_mix
from tests.test_bpe import _python_bpe

# Small alphabet → dense pair collisions → tie-breaks actually exercised.
words = st.lists(
    st.text(alphabet=st.sampled_from("abc"), min_size=1, max_size=4),
    min_size=1,
    max_size=12,
)
corpora = st.lists(words, min_size=1, max_size=4)


@settings(max_examples=10, deadline=None)
@given(corpus=corpora, n_merges=st.integers(1, 8))
def test_bpe_merges_match_python_reference(spark, corpus, n_merges):
    texts = [" ".join(ws) for ws in corpus]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id bigint, text string"
    )
    got, got_vocab = learn_bpe(docs, n_merges=n_merges)
    ref, ref_vocab = _python_bpe(texts, n_merges=n_merges)
    assert [
        (m["left"], m["right"], m["merged"], m["pair_count"]) for m in got
    ] == ref
    assert {r["word"]: r["syms"] for r in got_vocab.collect()} == ref_vocab


def _h32ppm(s: str, seed: int) -> int:
    # Mirror functions/hashing.portable_hash32 exactly: a falsy seed
    # means NO salt prefix (hypothesis found the "0:" mismatch at seed=0).
    salted = f"{seed}:{s}" if seed else s
    return int(hashlib.md5(salted.encode()).hexdigest()[:8], 16) % 1_000_000


@settings(max_examples=10, deadline=None)
@given(
    lengths=st.lists(st.integers(1, 30), min_size=1, max_size=40),
    weight=st.floats(0.05, 1.0),
    budget=st.integers(1, 5_000),
)
def test_token_budget_mix_matches_python(spark, lengths, weight, budget):
    """The copy-count arithmetic exactly matches a direct Python
    rendering: n_copies = floor(e) + [hash_ppm < round(frac(e)·10⁶)]."""
    rows = [
        (i, " ".join(f"w{j}" for j in range(n)), "en")
        for i, n in enumerate(lengths)
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string, lang string")
    got = {
        r["doc_id"]: r["n_copies"]
        for r in token_budget_mix(docs, {"en": weight}, budget).collect()
    }
    avail = sum(lengths)
    epochs = weight * budget / avail
    # half-away-from-zero for positives, like Spark/DuckDB round() —
    # Python's built-in round is banker's.
    frac_thresh = int(
        math.floor((epochs - math.floor(epochs)) * 1_000_000 + 0.5)
    )
    expected = {}
    for i, _n in enumerate(lengths):
        c = int(math.floor(epochs)) + (
            1 if _h32ppm(str(i), 23) < frac_thresh else 0
        )
        if c > 0:
            expected[i] = c
    assert got == expected


@settings(max_examples=8, deadline=None)
@given(
    texts=st.lists(
        st.lists(
            st.sampled_from([f"t{i}" for i in range(6)]), min_size=2, max_size=15
        ).map(" ".join),
        min_size=2,
        max_size=12,
    )
)
def test_perplexity_is_finite_and_positive(spark, texts):
    """ppl under add-one smoothing is always in (1, ∞) and finite, for
    any doc/LM split — no nulls, no -inf from zero probabilities."""
    from koby_s_ai_vector_db_spark.operators.selection import lm_perplexity

    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id bigint, text string"
    )
    lm = docs.filter(F.col("doc_id") % 2 == 0)
    out = lm_perplexity(docs, lm).collect()
    assert out  # every doc has >= 2 tokens by construction
    for r in out:
        assert r["ppl"] is not None and math.isfinite(r["ppl"])
        assert r["ppl"] > 1.0
        assert r["nll"] > 0.0
