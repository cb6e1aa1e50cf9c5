"""Fuzzy edit-distance join (operators/fuzzy.py): blocking losslessness
against a brute-force oracle, plus hand-planted edge cases the fixture
cannot exercise (threshold boundary, shifts, short-string exclusion)."""

from __future__ import annotations

from pyspark.sql import functions as F

from koby_s_ai_vector_db_spark.operators.fuzzy import (
    fuzzy_edit_oracle_sql,
    fuzzy_edit_pairs,
)
from tests.conftest import SF_DIRS


def _pairs(spark, rows, t):
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = fuzzy_edit_pairs(df, t=t)
    return {(r.doc_id_a, r.doc_id_b, r.dist) for r in out.collect()}


def _levenshtein(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


def test_lossless_vs_brute_force_fixture(spark):
    """The PassJoin pigeonhole blocking must recover EVERY pair with
    levenshtein <= t — compared against an unblocked brute force over the
    sf0.001 corpus (Python DP on the |len diff| <= t prefiltered pairs)."""
    t = 8
    docs = spark.read.parquet(SF_DIRS["t1"] + "/documents.parquet")
    got = {
        (r.doc_id_a, r.doc_id_b, r.dist)
        for r in fuzzy_edit_pairs(docs, t=t).collect()
    }

    rows = docs.select("doc_id", "text").collect()
    texts = {r.doc_id: r.text for r in rows}
    # Admissible bag-of-chars prefilter: one edit changes the character
    # multiset's L1 distance by at most 2 (substitution: -1 one char, +1
    # another; ins/del: 1) — so levenshtein >= L1/2, and pruning pairs
    # with L1 > 2t discards NO true pair. Keeps this brute force exact
    # while cutting the full-DP set from ~10^5 pairs to dozens.
    from collections import Counter

    bags = {i: Counter(s) for i, s in texts.items()}
    ids = sorted(texts)
    want = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            ta, tb = texts[a], texts[b]
            if abs(len(ta) - len(tb)) > t:
                continue
            ba, bb = bags[a], bags[b]
            l1 = sum(abs(ba[c] - bb[c]) for c in ba.keys() | bb.keys())
            if l1 > 2 * t:
                continue
            d = _levenshtein(ta, tb)
            if d <= t:
                want.add((a, b, d))
    assert got == want
    assert len(want) > 0, "fixture must contain near-dup pairs"


def test_threshold_boundary(spark):
    # b is a at distance exactly 3; c at distance 4 (one more edit).
    a = "the quick brown fox jumps over the lazy dog tonight"
    b = "the quick brown cat jumps over the lazy dog tonight"  # 3 subs
    c = "the quick brown cats jumps over the lazy dog tonight"  # 3 subs + 1 ins
    assert _levenshtein(a, b) == 3 and _levenshtein(a, c) == 4
    got = _pairs(spark, [(1, a), (2, b), (3, c)], t=3)
    assert (1, 2, 3) in got
    assert not any(p[:2] == (1, 3) for p in got)
    # (2,3) is distance 1 — also within t
    assert (2, 3, 1) in got


def test_exact_duplicates_found(spark):
    a = "identical text content for exact duplicate detection"
    got = _pairs(spark, [(1, a), (2, a)], t=2)
    assert got == {(1, 2, 0)}


def test_front_insertion_shift(spark):
    """An insertion at the very front shifts every later segment by the
    full edit budget — the |pos - seg_start| <= t window must still catch
    it (the worst case for position-filtered blocking)."""
    a = "segment one segment two segment three segment four xx"
    b = "ZZZ" + a  # 3 front insertions shift everything by 3
    got = _pairs(spark, [(1, a), (2, b)], t=3)
    assert got == {(1, 2, 3)}


def test_short_strings_brute_tier(spark):
    """Texts of length <= t can't go through the pigeonhole (needs t+1
    nonempty segments) but MUST still be reported via the brute short
    tier — any pair of length-<=t strings is trivially within t, and a
    short string can also pair with a medium one (length <= 2t)."""
    got = _pairs(spark, [(1, "abcd"), (2, "abce"), (3, "abcf")], t=8)
    # every short pair is within t=8 by construction
    assert got == {(1, 2, 1), (1, 3, 1), (2, 3, 1)}
    # short (4) x medium (12): within t via 8 appended chars
    a, b = "abcd", "abcdefghijkl"
    got = _pairs(spark, [(1, a), (2, b)], t=8)
    assert got == {(1, 2, 8)}
    # short x long (> 2t): unreachable (dist >= len diff > t)
    got = _pairs(spark, [(1, "abcd"), (2, "x" * 30)], t=8)
    assert got == set()
    # above the limit both sides go through the blocked tier as before
    a, b = "abcdefghijkl", "abcdefghijkX"
    got = _pairs(spark, [(1, a), (2, b)], t=8)
    assert got == {(1, 2, 1)}


def test_oracle_mirrors_blocking(duck):
    """The DuckDB oracle must agree with brute force at sf0.001 in BOTH
    directions — soundness (every reported pair is a true near-dup at
    its distance) AND completeness (no true pair missed by the oracle's
    own blocking) — so the driver's sf0.01 check pins the full blocked
    pipeline, not a weaker superset OR subset."""
    t = 8
    duck.execute(
        "CREATE OR REPLACE VIEW documents AS "
        f"SELECT * FROM read_parquet('{SF_DIRS['t1']}/documents.parquet')"
    )
    blocked = set(duck.execute(fuzzy_edit_oracle_sql(t)).fetchall())
    texts = dict(
        duck.execute("SELECT doc_id, text FROM documents").fetchall()
    )
    want = set(
        duck.execute(
            f"""SELECT a.doc_id, b.doc_id, levenshtein(a.text, b.text)
                FROM documents a JOIN documents b
                  ON a.doc_id < b.doc_id
                 AND abs(length(a.text) - length(b.text)) <= {t}
                WHERE levenshtein(a.text, b.text) <= {t}"""
        ).fetchall()
    )
    assert blocked == want
    for a, b, d in blocked:
        assert _levenshtein(texts[a], texts[b]) == d <= t
    assert len(blocked) > 0
