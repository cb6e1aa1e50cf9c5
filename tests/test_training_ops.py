"""Hand-computed unit tests for the training-pipeline finishing
operators: repeated-substring spans and sequence packing."""

from __future__ import annotations

from pyspark.sql import functions as F

from koby_s_ai_vector_db_spark.operators.packing import pack_sequences
from koby_s_ai_vector_db_spark.operators.substrings import (
    repeated_substring_spans,
)
from tests.conftest import SF_DIRS, _q


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


class TestRepeatedSubstringSpans:
    def test_cross_doc_span_is_maximal(self, spark):
        # "a b c d" (4 tokens) is shared; with k=3 its windows are
        # "a b c" and "b c d". In d1 it sits at tokens [1,4], in d2 at
        # [3,6]. No other 3-gram repeats.
        docs = _docs(
            spark,
            [
                (1, "a b c d e f"),
                (2, "x y a b c d z"),
                (3, "q w e r t y"),
            ],
        )
        out = {
            (r.doc_id, r.span_start, r.span_end, r.span_tokens, r.n_windows)
            for r in repeated_substring_spans(docs, k=3).collect()
        }
        assert out == {(1, 1, 4, 4, 2), (2, 3, 6, 4, 2)}

    def test_within_doc_repetition_counts(self, spark):
        # Every "p p p" window repeats within the single doc: one
        # maximal span covering the whole text.
        docs = _docs(spark, [(7, "p p p p p")])
        out = repeated_substring_spans(docs, k=3).collect()
        assert [(r.doc_id, r.span_start, r.span_end, r.n_windows) for r in out] == [
            (7, 1, 5, 3)
        ]

    def test_disjoint_islands_stay_separate(self, spark):
        # d2 contains d1's prefix AND suffix but not the middle: two
        # maximal spans, not one merged range.
        docs = _docs(
            spark,
            [
                (1, "a b c m m m x y z"),
                (2, "a b c q q q x y z"),
            ],
        )
        out = sorted(
            (r.doc_id, r.span_start, r.span_end)
            for r in repeated_substring_spans(docs, k=3).collect()
        )
        assert out == [(1, 1, 3), (1, 7, 9), (2, 1, 3), (2, 7, 9)]

    def test_short_and_unique_docs_empty(self, spark):
        docs = _docs(spark, [(1, "a b"), (2, "c d e f")])
        assert repeated_substring_spans(docs, k=3).count() == 0

    def test_hash_gram_key_value_equivalent(self, spark):
        # The xxhash64-keyed exchange variant (round-12 A/B, collision
        # bound in the operator docstring) must emit the identical span
        # set on collision-free input — which is everything this side of
        # G ~ 2^32 distinct grams.
        docs = _docs(
            spark,
            [
                (1, "a b c d e f"),
                (2, "x y a b c d z"),
                (3, "q w e r t y"),
                (7, "p p p p p"),
            ],
        )
        text = {
            tuple(r)
            for r in repeated_substring_spans(docs, k=3).collect()
        }
        for key in (True, "hash128"):
            hashed = {
                tuple(r)
                for r in repeated_substring_spans(
                    docs, k=3, hash_gram_key=key
                ).collect()
            }
            assert text == hashed and text, key

    def test_hash_gram_key_fixture_equivalent(self, spark):
        # Same check at fixture scale: whole sf0.001 documents table.
        from koby_s_ai_vector_db_spark.sources.tables import load_table

        docs = load_table(spark, "/root/testdata/sf0.001", "documents")
        a = repeated_substring_spans(docs, k=8).orderBy(
            "doc_id", "span_start"
        ).collect()
        for key in (True, "hash128"):
            b = repeated_substring_spans(
                docs, k=8, hash_gram_key=key
            ).orderBy("doc_id", "span_start").collect()
            assert a == b and len(a) > 0, key


class TestPackSequences:
    def test_hand_computed_single_shard(self, spark):
        # One shard makes the doc_id-ordered stream deterministic:
        # token counts 5, 3, 4 at offsets 0, 5, 8 with seq_len=4 →
        # d1 spans seqs 0 (4) and 1 (1); d2 fits in seq 1 (3);
        # d3 starts exactly on the seq-2 boundary (4).
        docs = _docs(
            spark,
            [
                (1, "a a a a a"),
                (2, "b b b"),
                (3, "c c c c"),
            ],
        )
        out = sorted(
            (r.seq_id, r.doc_id, r.doc_offset, r.n_tokens)
            for r in pack_sequences(docs, seq_len=4, n_shards=1).collect()
        )
        assert out == [(0, 1, 0, 4), (1, 1, 0, 1), (1, 2, 5, 3), (2, 3, 8, 4)]

    def test_conservation_and_fullness(self, spark):
        # Nothing dropped, nothing padded: per-doc contributions sum to
        # the doc's token count, and every sequence except possibly the
        # last of each shard holds exactly seq_len tokens.
        rows = [(i, " ".join(f"w{j}" for j in range(1 + i % 7))) for i in range(40)]
        docs = _docs(spark, rows)
        packed = pack_sequences(docs, seq_len=8, n_shards=4, seed=3)
        per_doc = {
            r.doc_id: r.s
            for r in packed.groupBy("doc_id").agg(F.sum("n_tokens").alias("s")).collect()
        }
        assert per_doc == {i: 1 + i % 7 for i in range(40)}
        per_seq = packed.groupBy("shard", "seq_id").agg(
            F.sum("n_tokens").alias("s"), F.max("seq_id").alias("q")
        )
        last = {
            r.shard: r.m
            for r in packed.groupBy("shard").agg(F.max("seq_id").alias("m")).collect()
        }
        for r in per_seq.collect():
            if r.seq_id < last[r.shard]:
                assert r.s == 8, (r.shard, r.seq_id, r.s)
            else:
                assert 0 < r.s <= 8

    def test_empty_docs_excluded(self, spark):
        docs = _docs(spark, [(1, "   "), (2, "a b")])
        out = pack_sequences(docs, seq_len=4, n_shards=1).collect()
        assert [r.doc_id for r in out] == [2]


# --- property tests: brute-force Python references ----------------------

import hashlib

from hypothesis import given, settings, strategies as st

from koby_s_ai_vector_db_spark.operators.substrings import (  # noqa: E402
    repeated_substring_spans as _spans_op,
)

_WORDS_ALPHABET = ["a", "b", "c", "d"]

_doc_texts = st.lists(
    st.lists(st.sampled_from(_WORDS_ALPHABET), min_size=0, max_size=12).map(
        " ".join
    ),
    min_size=1,
    max_size=6,
)


def _ref_spans(rows, k, min_count=2):
    toks = {d: [w for w in t.lower().split() if w] for d, t in rows}
    cnt: dict[tuple, int] = {}
    for w in toks.values():
        for i in range(len(w) - k + 1):
            g = tuple(w[i : i + k])
            cnt[g] = cnt.get(g, 0) + 1
    out = set()
    for d, w in toks.items():
        dup = [
            i + 1
            for i in range(len(w) - k + 1)
            if cnt[tuple(w[i : i + k])] >= min_count
        ]
        run: list[int] = []
        for p in dup + [None]:
            if p is not None and (not run or p == run[-1] + 1):
                run.append(p)
                continue
            if run:
                out.add((d, run[0], run[-1] + k - 1, run[-1] + k - run[0], len(run)))
            run = [p] if p is not None else []
    return out


@settings(max_examples=15, deadline=None)
@given(texts=_doc_texts, k=st.integers(2, 4))
def test_substring_spans_match_bruteforce(spark, texts, k):
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        (r.doc_id, r.span_start, r.span_end, r.span_tokens, r.n_windows)
        for r in _spans_op(df, k=k).collect()
    }
    assert got == _ref_spans(rows, k)


def _h32(s: str, seed: int) -> int:
    salted = f"{seed}:{s}" if seed else s
    return int(hashlib.md5(salted.encode()).hexdigest()[:8], 16)


def _ref_pack(rows, seq_len, n_shards, seed):
    per_shard: dict[int, list[tuple[int, int]]] = {}
    for d, t in rows:
        nt = len([w for w in t.split() if w])
        if nt:
            per_shard.setdefault(_h32(str(d), seed) % n_shards, []).append((d, nt))
    out = set()
    for shard, docs in per_shard.items():
        off = 0
        for d, nt in sorted(docs):
            for s in range(off // seq_len, (off + nt - 1) // seq_len + 1):
                out.add(
                    (
                        shard,
                        s,
                        d,
                        off,
                        min(off + nt, (s + 1) * seq_len)
                        - max(off, s * seq_len),
                    )
                )
            off += nt
    return out


@settings(max_examples=15, deadline=None)
@given(
    texts=_doc_texts,
    seq_len=st.integers(2, 9),
    n_shards=st.integers(1, 4),
    seed=st.integers(0, 3),
)
def test_pack_sequences_match_bruteforce(spark, texts, seq_len, n_shards, seed):
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        (r.shard, r.seq_id, r.doc_id, r.doc_offset, r.n_tokens)
        for r in pack_sequences(
            df, seq_len=seq_len, n_shards=n_shards, seed=seed
        ).collect()
    }
    assert got == _ref_pack(rows, seq_len, n_shards, seed)


def test_argument_validation(spark):
    docs = _docs(spark, [(1, "a b c")])
    import pytest as _pytest

    with _pytest.raises(ValueError):
        repeated_substring_spans(docs, k=1)
    with _pytest.raises(ValueError):
        repeated_substring_spans(docs, k=3, min_count=1)
    with _pytest.raises(ValueError):
        pack_sequences(docs, seq_len=0, n_shards=2)
    with _pytest.raises(ValueError):
        pack_sequences(docs, seq_len=4, n_shards=0)


def test_spans_shared_across_docs_hand_computed(spark):
    """A 4-token run shared by two documents is one maximal span in each,
    at its own token offsets."""
    docs = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "x y a b c d z")],
        "doc_id bigint, text string",
    )
    spans = repeated_substring_spans(docs, k=3)
    assert spans.columns[0] == "doc_id"
    got = {(r.doc_id, r.span_start, r.span_end) for r in spans.collect()}
    assert got == {(1, 1, 4), (2, 3, 6)}


def test_pack_duplicate_ids_conserve_tokens(spark):
    """Duplicate doc_ids (un-deduped corpus) must not break conservation:
    the ROWS cumulative frame gives each tied row its own offset."""
    docs = _docs(spark, [(1, "a b c"), (1, "d e"), (2, "f g h i")])
    packed = pack_sequences(docs, seq_len=4, n_shards=1)
    assert packed.groupBy().agg(F.sum("n_tokens").alias("s")).collect()[0].s == 9
    offs = [
        r.doc_offset
        for r in packed.select("doc_id", "doc_offset").distinct().collect()
    ]
    assert len(offs) == len(set(offs)), "tied rows shared an offset"


def test_giant_document_no_cliff(spark):
    """A single 100k-token document (the long-tail shape that breaks
    per-doc collect-based implementations) flows through both operators:
    the positional explode is linear rows, the pack emits one row per
    crossed boundary, and nothing materializes the doc per-executor-core
    beyond its own partition."""
    n = 100_000
    # Two half-overlapping repeats guarantee spans; the rest is unique.
    body = " ".join(f"t{i}" for i in range(n - 200))
    rep = " ".join(f"r{i % 50}" for i in range(200))
    giant = body + " " + rep
    docs = _docs(spark, [(1, giant), (2, rep)])
    spans = repeated_substring_spans(docs, k=8).collect()
    assert {r.doc_id for r in spans} == {1, 2}
    for r in spans:
        assert r.span_tokens >= 8
    packed = pack_sequences(docs, seq_len=2048, n_shards=4)
    agg = {r.doc_id: r.s for r in packed.groupBy("doc_id").agg(F.sum("n_tokens").alias("s")).collect()}
    assert agg == {1: n, 2: 200}
    # The giant doc crosses ~n/2048 boundaries -> that many +1 rows.
    n_rows = packed.filter("doc_id = 1").count()
    assert n_rows in (n // 2048, n // 2048 + 1, n // 2048 + 2)


def test_pack_bestfit_matches_reference_bfd(spark):
    """pack_bestfit_bins must equal a straight-Python Best-Fit-Decreasing
    (tightest bin with room, lowest id on ties) over the same
    (shard, n_tokens) inputs, and respect the packing invariants (no bin
    over capacity, bin count >= the volume lower bound, truncation
    flagged exactly for docs > seq_len)."""
    import math

    from pyspark.sql import functions as F

    from koby_s_ai_vector_db_spark.functions.hashing import portable_hash32
    from koby_s_ai_vector_db_spark.operators.dedup import words_expr
    from koby_s_ai_vector_db_spark.operators.packing import pack_bestfit_bins
    from koby_s_ai_vector_db_spark.sources.tables import load_table
    from tests.conftest import SF_DIRS

    seq_len, n_shards = 128, 4
    docs = load_table(spark, SF_DIRS["t1"], "documents")
    got = pack_bestfit_bins(docs, seq_len=seq_len, n_shards=n_shards).collect()

    inputs = docs.select(
        "doc_id",
        F.size(words_expr("text")).cast("long").alias("n_tokens"),
        (portable_hash32(F.col("doc_id").cast("string")) % n_shards).alias(
            "shard"
        ),
    ).where(F.col("n_tokens") > 0).collect()

    # Straight-Python BFD, same contracts: order (-n_tokens, doc_id),
    # tightest bin with room, lowest bin id on ties.
    want = {}
    for shard in {r.shard for r in inputs}:
        rows = sorted(
            (r for r in inputs if r.shard == shard),
            key=lambda r: (-r.n_tokens, r.doc_id),
        )
        remaining = []
        for r in rows:
            take = min(r.n_tokens, seq_len)
            fits = [
                (room, b) for b, room in enumerate(remaining) if room >= take
            ]
            if fits:
                room, b = min(fits)
                remaining[b] = room - take
            else:
                b = len(remaining)
                remaining.append(seq_len - take)
            want[r.doc_id] = (shard, b, take, r.n_tokens > seq_len)
    assert {
        r.doc_id: (r.shard, r.bin_id, r.n_tokens, r.truncated) for r in got
    } == want

    # Invariants.
    fills = {}
    for r in got:
        fills[(r.shard, r.bin_id)] = fills.get((r.shard, r.bin_id), 0) + r.n_tokens
    assert all(f <= seq_len for f in fills.values())
    for shard in {r.shard for r in got}:
        vol = sum(r.n_tokens for r in got if r.shard == shard)
        n_bins = len({r.bin_id for r in got if r.shard == shard})
        assert n_bins >= math.ceil(vol / seq_len)


def test_pack_bestfit_audit_agrees_with_manifest(spark):
    """The audit arm and the rows-only manifest must describe the same
    packing: per shard, identical doc counts, token totals, truncation
    counts, and a bin count that meets the audited lower bound."""
    audit = {r.shard: r for r in _q("pack_bestfit_audit")(spark, SF_DIRS["t1"]).collect()}
    manifest = {r.shard: r for r in _q("pack_bestfit")(spark, SF_DIRS["t1"]).collect()}
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

    docs = spark.read.parquet(f"{SF_DIRS['t1']}/documents.parquet")
    toks = docs.select(
        F.least(F.size(words_expr("text")).cast("long"), F.lit(BESTFIT_SEQ)).alias("fill")
    ).filter(F.col("fill") > 0)
    n_half = toks.filter(F.col("fill") * 2 <= BESTFIT_SEQ).count()
    assert n_half > 1, "fixture must contain >1 short doc for the invariant to bite"
