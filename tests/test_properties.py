"""Property-based tests (SURVEY §5): chunker loop parity, normalize
invariants, rank-then-filter top-k semantics.

The chunker property checks the Catalyst closed-form against a direct
Python rendering of the reference's loop semantics (core/utils.py:71-103,
as specified in operators/chunker.py's docstring) on adversarial inputs —
whitespace runs, boundary lengths, overlap coercion."""

from __future__ import annotations

import math

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from koby_s_ai_vector_db_spark.functions.vectors import l2_normalize
from koby_s_ai_vector_db_spark.operators.chunker import chunk_documents
from koby_s_ai_vector_db_spark.operators.similarity import topk_cosine

STRIP = " \t\n\r\f"


def _reference_chunks(text: str, size: int, overlap: int) -> list[str]:
    """The reference loop, from its documented semantics: window
    [start, start+size), strip, drop empties but still advance,
    overlap >= size coerced to size // 2, step = max(start+1, end-overlap).
    """
    if not text.strip(STRIP):
        return []
    if overlap >= size:
        overlap = size // 2
    out, start, n = [], 0, len(text)
    while start < n:
        end = min(start + size, n)
        chunk = text[start:end].strip(STRIP)
        if chunk:
            out.append(chunk)
        if end >= n:
            break
        start = max(start + 1, end - overlap)
    return out


texts = st.text(
    alphabet=st.sampled_from(list("ab c\t\nxyz.")), min_size=0, max_size=400
)


@settings(max_examples=25, deadline=None)
@given(text=texts, size=st.integers(5, 120), overlap=st.integers(0, 130))
def test_chunker_matches_reference_loop(spark, text, size, overlap):
    expected = _reference_chunks(text, size, overlap)
    df = spark.createDataFrame([(1, text)], "doc_id bigint, text string")
    got = [
        r.text
        for r in chunk_documents(df, chunk_size=size, overlap=overlap)
        .orderBy("chunk_index")
        .collect()
    ]
    assert got == expected


@settings(max_examples=20, deadline=None)
@given(
    vec=st.lists(
        st.floats(-100, 100, allow_nan=False, width=32), min_size=1, max_size=8
    )
)
def test_normalize_unit_or_guarded(spark, vec):
    df = spark.createDataFrame([(vec,)], "v array<float>")
    out = df.select(
        F.aggregate(l2_normalize("v"), F.lit(0.0), lambda a, x: a + x * x).alias("sq")
    ).collect()[0]
    raw_norm = math.sqrt(sum(float(x) * float(x) for x in vec))
    if raw_norm == 0.0:
        assert out.sq == 0.0  # zero vector stays zero (divided by the 1e-10 guard)
    else:
        assert abs(out.sq - 1.0) < 1e-6


@settings(max_examples=10, deadline=None)
@given(
    n=st.integers(3, 25),
    k=st.integers(1, 6),
    threshold=st.floats(-1, 1),
    seed=st.integers(0, 10_000),
)
def test_topk_rank_then_filter(spark, n, k, threshold, seed):
    import random

    rng = random.Random(seed)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(4)]) for i in range(n)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<double>")
    queries = df.limit(1).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    got = topk_cosine(df, queries, k=k, threshold=threshold).collect()

    # ≤ k rows; ranks contiguous from 1 before the threshold filter;
    # sims weakly decreasing in rank; every sim ≥ threshold (post-filter).
    assert len(got) <= k
    got.sort(key=lambda r: r.rank)
    for r in got:
        assert r.sim >= threshold
    for a, b in zip(got, got[1:]):
        assert a.rank < b.rank
        assert a.sim >= b.sim
    # rank-THEN-filter: dropping sub-threshold rows may leave rank gaps at
    # the tail only if filtered rows ranked better — impossible since rank
    # orders by sim desc; so surviving ranks must be a prefix 1..len.
    assert [r.rank for r in got] == list(range(1, len(got) + 1))


@settings(max_examples=8, deadline=None)
@given(
    n_nodes=st.integers(2, 40),
    n_edges=st.integers(1, 60),
    seed=st.integers(0, 10_000),
)
def test_star_contraction_matches_union_find(spark, n_nodes, n_edges, seed):
    """Connected components via star contraction must equal a direct
    Python union-find on arbitrary random graphs — chains, cliques,
    self-parallel edges, whatever hypothesis draws."""
    import random

    from koby_s_ai_vector_db_spark.operators.dedup import near_dup_groups

    rng = random.Random(seed)
    edges = [
        (a, b)
        for _ in range(n_edges)
        for a, b in [sorted(rng.sample(range(n_nodes), 2))]
    ]
    df = spark.createDataFrame(edges, "doc_id_a bigint, doc_id_b bigint")
    got = {r.doc_id: r.group_id for r in near_dup_groups(df).collect()}

    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent[find(a)] = find(b)
    touched = {v for e in edges for v in e}
    want = {}
    roots: dict[int, int] = {}
    for v in sorted(touched):
        r = find(v)
        roots.setdefault(r, v)  # min member = first seen in sorted order
        want[v] = roots[r]
    assert got == want


# --- fuzzy short-string tier (round 7) ---------------------------------------
@settings(max_examples=6, deadline=None)
@given(
    texts_=st.lists(
        st.text(alphabet="abcd", min_size=0, max_size=20),
        min_size=2,
        max_size=8,
        unique=True,
    ),
    t=st.integers(2, 6),
)
def test_fuzzy_pairs_lossless_with_short_strings(spark, texts_, t):
    """fuzzy_edit_pairs must equal brute force on corpora that MIX short
    (<= t), medium (<= 2t) and long strings — the short brute tier and
    the PassJoin tier must jointly cover every true pair."""
    from koby_s_ai_vector_db_spark.operators.fuzzy import fuzzy_edit_pairs

    rows = [(i, s) for i, s in enumerate(texts_)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_id_a, r.doc_id_b, r.dist)
        for r in fuzzy_edit_pairs(docs, t=t).collect()
    }

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    want = {
        (a, b, lev(ta, tb))
        for (a, ta) in rows
        for (b, tb) in rows
        if a < b and lev(ta, tb) <= t
    }
    assert got == want


# --- KMV truncated-merge safety ---------------------------------------------
# The claim that keeping the kmv_sample synopsis fresh per batch rests on:
# folding batches into a k-element state WITH truncation after every
# batch equals the k smallest of the global distinct set — a value
# dropped at rank > k can never re-enter, because the running k-min is
# monotone non-increasing. Pure-Python property (no Spark): this pins
# the algebra, the engines only evaluate it.
@settings(max_examples=200, deadline=None)
@given(
    vals=st.lists(st.integers(0, (1 << 60) - 1), min_size=0, max_size=300),
    n_batches=st.integers(1, 6),
    k=st.integers(1, 64),
)
def test_kmv_truncated_batch_fold_equals_global_kmin(vals, n_batches, k):
    state: list[int] = []
    per = max(1, -(-len(vals) // n_batches))
    for i in range(0, len(vals), per):
        state = sorted(set(state) | set(vals[i : i + per]))[:k]
    assert state == sorted(set(vals))[:k]


# --- canonical-text normalization idempotence ---------------------------------
# dedup_normalized's fold key must be a FIXPOINT: normalizing an
# already-normalized string changes nothing (otherwise two docs could
# hash differently depending on how many passes they took). Exercised
# through the real Spark expression on adversarial unicode/whitespace.
@settings(max_examples=15, deadline=None)
@given(
    texts_=st.lists(
        st.text(
            alphabet=st.characters(
                blacklist_categories=("Cs",), max_codepoint=0x2FFF
            ),
            max_size=40,
        ),
        min_size=1,
        max_size=6,
    )
)
def test_norm_text_expr_idempotent(spark, texts_):
    from koby_s_ai_vector_db_spark.queries.dedup_q import norm_text_expr

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts_)], "doc_id long, text string"
    )
    rows = (
        df.select(norm_text_expr("text").alias("text"))
        .select(
            F.col("text").alias("once"), norm_text_expr("text").alias("twice")
        )
        .collect()
    )
    for r in rows:
        assert r.once == r.twice, repr((r.once, r.twice))


# --- simhash blocking completeness --------------------------------------------
# The claim simhash_near_dup_pairs rests on (operators/dedup.py): splitting a
# ``bits``-bit signature into (max_hamming + 2) equal blocks loses NOTHING —
# any pair within Hamming distance max_hamming agrees on at least one whole
# PAIR of blocks (pigeonhole), so the blocked output must EQUAL the all-pairs brute
# force over the same signature table, not merely approximate it. Random
# corpora alone almost never produce near-dups, so the strategy plants
# exact copies and small token edits on top of random narrow-vocab docs;
# the equality is asserted either way (empty result sets must also agree).
@settings(max_examples=10, deadline=None)
@given(
    data=st.data(),
    n_docs=st.integers(2, 10),
    max_hamming=st.sampled_from([1, 2, 3]),
)
def test_simhash_blocked_pairs_equal_bruteforce(spark, data, n_docs, max_hamming):
    from koby_s_ai_vector_db_spark.operators.dedup import (
        simhash_near_dup_pairs,
        simhash_table,
    )

    word = st.sampled_from(["alpha", "beta", "gamma", "delta", "eps", "zeta"])
    base = data.draw(
        st.lists(st.lists(word, min_size=0, max_size=12), min_size=1, max_size=4)
    )
    docs = []
    for i in range(n_docs):
        toks = list(base[data.draw(st.integers(0, len(base) - 1))])
        # Small edit with probability ~1/2: append or drop one token, the
        # perturbation most likely to land within a few Hamming bits.
        if toks and data.draw(st.booleans()):
            if data.draw(st.booleans()):
                toks.append(data.draw(word))
            else:
                toks.pop(data.draw(st.integers(0, len(toks) - 1)))
        docs.append((i, " ".join(toks)))

    df = spark.createDataFrame(docs, "doc_id long, text string")
    sigs = {
        r._id: r.sh
        for r in simhash_table(df, bits=60).collect()
    }
    expected = sorted(
        (a, b, bin(sigs[a] ^ sigs[b]).count("1"))
        for a in sigs
        for b in sigs
        if a < b and bin(sigs[a] ^ sigs[b]).count("1") <= max_hamming
    )
    got = sorted(
        (r.doc_id_a, r.doc_id_b, r.hamming)
        for r in simhash_near_dup_pairs(
            df, max_hamming=max_hamming, bits=60
        ).collect()
    )
    assert got == expected
