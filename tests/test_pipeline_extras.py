"""Semantics checks for the round-5 pipeline extras: ordered funnel,
retention cohorts, Gopher repetition rules, PII scrubbing (value parity
vs DuckDB is covered by tests/test_oracle_parity.py)."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from koby_s_ai_vector_db_spark.operators.analytics import (
    funnel_conversion,
    retention_cohorts,
)
from koby_s_ai_vector_db_spark.operators.text_analysis import (
    gopher_repetition,
    pii_scrub,
)


def _ev(spark, rows):
    return spark.createDataFrame(
        [(i, dt.datetime(2024, 1, d, h), u, t) for i, (d, h, u, t) in enumerate(rows)],
        "event_id long, ts timestamp, user_id long, event_type string",
    )


def test_funnel_requires_stage_order(spark):
    """A user who purchases BEFORE clicking does not reach the purchase
    stage; a user who follows the order does."""
    ev = _ev(
        spark,
        [
            # user 1: signup -> click -> purchase (in order)
            (1, 0, 1, "signup"), (1, 1, 1, "click"), (1, 2, 1, "purchase"),
            # user 2: purchase before click -> stops at click stage
            (2, 0, 2, "signup"), (2, 1, 2, "purchase"), (2, 2, 2, "click"),
            # user 3: never signs up -> counted nowhere
            (3, 0, 3, "click"), (3, 1, 3, "purchase"),
        ],
    )
    out = {
        r.stage: r.n_users
        for r in funnel_conversion(ev, ["signup", "click", "purchase"]).collect()
    }
    assert out == {"signup": 2, "click": 2, "purchase": 1}


def test_retention_offsets_are_whole_weeks(spark):
    """Events 0-6 days after the first land in offset 0; day 7 in
    offset 1; the cohort week is the Monday of the first event."""
    ev = _ev(
        spark,
        [
            (3, 0, 1, "view"),   # Wed Jan 3 -> cohort Mon Jan 1
            (9, 0, 1, "view"),   # +6 days -> offset 0
            (10, 0, 1, "view"),  # +7 days -> offset 1
        ],
    )
    rows = retention_cohorts(ev).collect()
    got = {(r.cohort_week, r.week_offset): r.n_users for r in rows}
    monday = dt.datetime(2024, 1, 1)
    assert got == {(monday, 0): 1, (monday, 1): 1}


def test_gopher_flags_repetitive_doc(spark):
    """A doc that is one token repeated fails the gate; a diverse doc
    passes; fractions are exact."""
    diverse = " ".join(f"w{i}" for i in range(30))  # bigram frac 1/29
    df = spark.createDataFrame(
        [(1, "spam spam spam spam spam"), (2, diverse)],
        "doc_id long, text string",
    )
    cols = gopher_repetition("text")
    out = df.select("doc_id", *(c.alias(n) for n, c in cols.items()))
    rows = {r.doc_id: r for r in out.collect()}
    assert rows[1].top_token_frac == 1.0 and rows[1].top_bigram_frac == 1.0
    assert rows[1].keep is False
    assert rows[2].top_token_frac == round(1 / 30, 6)
    assert rows[2].keep is True
    assert rows[2].n_tokens == 30


def test_pii_scrub_redacts_and_counts(spark):
    df = spark.createDataFrame(
        [(1, "mail me at jo.doe+x@mail.example.com or call 555-0199 now")],
        "doc_id long, text string",
    )
    cols = pii_scrub(F.col("text"))
    r = df.select(
        cols["n_emails"].alias("e"),
        cols["n_phones"].alias("p"),
        cols["clean_text"].alias("c"),
    ).collect()[0]
    assert (r.e, r.p) == (1, 1)
    assert r.c == "mail me at <EMAIL> or call <PHONE> now"


def test_fingerprints_short_string_is_empty(spark):
    """Sub-k strings emit NO fingerprints (sequence(1,0)-descending
    regression guard, mirroring the oracle's empty range())."""
    from koby_s_ai_vector_db_spark.operators.text_analysis import fingerprints

    df = spark.createDataFrame([("short",), ("long enough text",)], "text string")
    out = df.select(F.size(fingerprints("text")).alias("n")).collect()
    assert out[0].n == 0
    assert out[1].n >= 0  # executes without slice/substr aliasing


def test_gopher_top_frac_fold_equals_brute(spark):
    """The sorted-run fold must equal the old O(n·distinct) counting
    expression on adversarial token layouts (ties, singletons, runs at
    either end, empty-adjacent)."""
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
