"""Corpus text analysis: language ID, quality scoring, token counting,
fingerprinting (north-star LLM-pipeline operators, SURVEY §2.7).

The reference has no corpus analytics beyond A13's file/chunk counts
(core/apps.py:144-151); a training-data pipeline needs per-document text
health signals. Everything here is a map-only Catalyst expression over
`documents.text` — no shuffle, no UDF, linear scan that survives 100 TB
(the only aggregate is whatever the caller groups afterwards).

Every constant (stopword profiles, regexes, weights) is embedded in both
the Spark expressions and the DuckDB oracle SQL, so the checks are exact.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Language marker profiles (tiny stopword sets — the n-gram-free heuristic
# tier; real pipelines swap in trigram profiles, same plumbing).
PROFILES: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in"],
    "es": ["el", "la", "de", "que", "y", "los"],
    "fr": ["le", "la", "de", "et", "un", "les"],
    "de": ["der", "die", "und", "das", "ein", "ist"],
}
LANG_ORDER = list(PROFILES)  # tie-break priority, first wins

STOPWORDS_EN = PROFILES["en"]

PUNCT_RE = r"[^A-Za-z0-9 \t\n\r\f]"
BPE_RE = "[a-z0-9]+|[^a-z0-9 ]"

# Quality weights: tokens volume, punctuation cleanliness, stopword
# naturalness, word-length plausibility.
W_TOKENS, W_PUNCT, W_STOP, W_LEN = 0.25, 0.25, 0.25, 0.25


def _tokens(col: str) -> str:
    return f"array_remove(split(lower({col}), '\\\\s+'), '')"


def lang_scores(col: str) -> dict[str, Column]:
    """Per-language marker-hit counts over word tokens."""
    toks = _tokens(col)
    out = {}
    for lang, words in PROFILES.items():
        arr = ", ".join(f"'{w}'" for w in words)
        out[lang] = F.expr(f"size(filter({toks}, t -> array_contains(array({arr}), t)))")
    return out


def detect_lang(col: str) -> Column:
    """Argmax language with CASE-order tie-break (LANG_ORDER priority).
    Zero hits everywhere → 'und' (undetermined)."""
    s = lang_scores(col)
    total = None
    for lang in LANG_ORDER:
        total = s[lang] if total is None else total + s[lang]
    expr = F.when(total == 0, F.lit("und"))
    for lang in LANG_ORDER:
        cond = None
        for other in LANG_ORDER:
            if other == lang:
                continue
            c = s[lang] >= s[other]
            cond = c if cond is None else cond & c
        expr = expr.when(cond, F.lit(lang))
    return expr


def token_counts(col: str) -> tuple[Column, Column]:
    """(whitespace token count, BPE-ish token count). The BPE-ish regex
    splits alphanumeric runs from punctuation — a cheap proxy for subword
    token volume."""
    ws = F.expr(f"size({_tokens(col)})")
    bpe = F.expr(f"size(regexp_extract_all(lower({col}), '{BPE_RE}', 0))")
    return ws, bpe


def quality_score(col: str) -> Column:
    """Composite [0,1] quality: token volume, punctuation ratio, stopword
    ratio, mean token length. Deterministic double arithmetic, same
    evaluation order as the oracle rendering below."""
    toks = _tokens(col)
    n_tok = F.expr(f"size({toks})").cast("double")
    n_chars = F.length(col).cast("double")
    punct = (
        n_chars - F.length(F.regexp_replace(F.col(col), PUNCT_RE, "")).cast("double")
    ) / F.greatest(n_chars, F.lit(1.0))
    arr = ", ".join(f"'{w}'" for w in STOPWORDS_EN)
    stop_hits = F.expr(
        f"size(filter({toks}, t -> array_contains(array({arr}), t)))"
    ).cast("double")
    stop_ratio = stop_hits / F.greatest(n_tok, F.lit(1.0))
    tok_len_sum = F.expr(f"aggregate({toks}, 0L, (a, t) -> a + length(t))").cast("double")
    avg_len = tok_len_sum / F.greatest(n_tok, F.lit(1.0))
    return (
        F.lit(W_TOKENS) * F.least(n_tok / F.lit(50.0), F.lit(1.0))
        + F.lit(W_PUNCT) * (F.lit(1.0) - punct)
        + F.lit(W_STOP) * F.least(stop_ratio * F.lit(5.0), F.lit(1.0))
        + F.lit(W_LEN) * F.least(avg_len / F.lit(8.0), F.lit(1.0))
    )


def fingerprints(col: str) -> Column:
    """Mod-sampled rolling fingerprint: md5-derived 32-bit hash of every
    char 8-gram, keeping hashes ≡ 0 (mod 8) — 1/8 of the
    positions survive, position-independent (the winnowing idea without
    window state). At production scale swap md5 for xxhash64; md5 keeps
    the DuckDB oracle bit-identical (functions/hashing.py).

    The short-row branch is an explicit CASE: Spark's sequence(1, 0)
    yields a DESCENDING [1, 0], and substring(col, 0, 8) silently aliases
    position 1 — a shorter string would emit two duplicate hashes
    where the oracle's range() emits none."""
    return F.expr(
        f"CASE WHEN length({col}) >= 8 THEN"
        f" filter(transform(sequence(1, length({col}) - 7),"
        f" i -> CAST(conv(substr(md5(substring({col}, i, 8)), 1, 8), 16, 10) AS BIGINT)),"
        f" h -> h % 8 = 0)"
        f" ELSE CAST(array() AS array<bigint>) END"
    )


# --- Gopher-style repetition rules (Rae et al. 2021, §A1.1) ---------------
# Per-document repetition stats: published pipelines drop documents whose
# mass concentrates in one token or one 2-gram. All map-only — per-doc
# stats need no cross-document state, so at 100 TB this is a single
# projection over the scan (no shuffle at all); the alternative
# explode+groupBy formulation would shuffle the full token stream.
MAX_TOP_TOKEN_FRAC = 0.14
MAX_TOP_BIGRAM_FRAC = 0.08


def gopher_repetition(col: str) -> dict[str, Column]:
    """Repetition-quality stat columns over a text column: token count,
    most-frequent-token mass fraction, most-frequent-bigram mass
    fraction, mean word length, and the keep/drop gate. Each stat binds
    its token (and bigram) array once per row (functions/exprs.py) — the
    counting lambdas read them as values, not re-evaluated subtrees."""
    from koby_s_ai_vector_db_spark.functions.exprs import bind_once

    w = _tokens(col)

    def _top_run_frac(var: str) -> str:
        # Max element frequency as the longest equal-run of the SORTED
        # array: one O(n log n) sort + one linear fold per row, replacing
        # the O(n·distinct) `transform(array_distinct(v), t ->
        # size(filter(v, x -> x = t)))` scan-per-distinct-token shape
        # (round 13, guide §1.2 per-task work; ta_gopher_repetition was a
        # single-stage map spending ~1.4 s at sf0.1 in this expression).
        # The run maximum is the same exact integer as the old
        # array_max(counts), so round(best / size, 6) is value-identical.
        step = (
            f"CASE WHEN acc.prev IS NOT NULL AND x = acc.prev"
            f" THEN acc.run + 1L ELSE 1L END"
        )
        return (
            f"round(aggregate(array_sort({var}),"
            " named_struct('prev', CAST(NULL AS STRING), 'run', 0L, 'best', 0L),"
            f" (acc, x) -> named_struct('prev', x, 'run', {step},"
            f" 'best', greatest(acc.best, {step})),"
            f" acc -> acc.best) / size({var}), 6)"
        )

    top_frac = _top_run_frac("nv")
    bigrams = "transform(sequence(1, size(nv) - 1), i -> concat_ws(' ', slice(nv, i, 2)))"
    top_bigram = bind_once(bigrams, _top_run_frac("bv"), var="bv")
    cols = {
        "n_tokens": F.expr(f"cast(size({w}) as bigint)"),
        "top_token_frac": F.expr(bind_once(w, top_frac)),
        "top_bigram_frac": F.expr(
            bind_once(
                w,
                f"CASE WHEN size(nv) >= 2 THEN {top_bigram}"
                " ELSE cast(0.0 as double) END",
            )
        ),
        "mean_word_len": F.expr(
            bind_once(
                w,
                "round(aggregate(nv, 0L, (a, x) -> a + length(x))"
                " / cast(size(nv) as double), 6)",
            )
        ),
    }
    cols["keep"] = (cols["top_token_frac"] <= MAX_TOP_TOKEN_FRAC) & (
        cols["top_bigram_frac"] <= MAX_TOP_BIGRAM_FRAC
    )
    return cols


# --- PII scrubbing ---------------------------------------------------------
# Patterns deliberately restricted to syntax Java regex and RE2 (DuckDB)
# interpret identically: character classes, bounded repetition, \b.
EMAIL_RE = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
PHONE_RE = "\\b555-[0-9]{4}\\b"


def pii_scrub(col: Column) -> dict[str, Column]:
    """Redact emails/phones from a text column and count what was
    removed: {clean_text, n_emails, n_phones}. Map-only JVM expressions
    (regexp_count / regexp_replace) — no UDF, no shuffle; the 100 TB
    form is this projection fused into the ingest scan."""
    return {
        "n_emails": F.regexp_count(col, F.lit(EMAIL_RE)).cast("bigint"),
        "n_phones": F.regexp_count(col, F.lit(PHONE_RE)).cast("bigint"),
        "clean_text": F.regexp_replace(
            F.regexp_replace(col, EMAIL_RE, "<EMAIL>"), PHONE_RE, "<PHONE>"
        ),
    }
