"""Corpus-curation queries (the training-data-pipeline tier beyond the
reference's lexical search): BM25 ranking, vocabulary statistics,
deterministic stratified sampling, and benchmark decontamination.

The reference's production analogue is the token-overlap contribution
scorer (core/supabase_utils.py:250-367 — Python loops over a ≤100-row
candidate list); these are its large-scale forms: BM25 is the
saturation-and-length-normalized version of overlap scoring, vocab stats
the corpus profile that feeds it, stratified sampling the corpus-mixing
step, and n-gram decontamination the train/eval hygiene pass. All four are
pure DataFrame algebra (operators/corpus.py) with exact DuckDB twins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from koby_s_ai_vector_db_spark.functions.caching import memo, memo_persist, scratch_index
from koby_s_ai_vector_db_spark.functions.hashing import sql_hash32
from koby_s_ai_vector_db_spark.operators.corpus import (
    ZIPF_ORACLE,
    bm25_oracle_sql,
    bm25_rank,
    ngram_contamination,
    ngram_contamination_sliding,
    stratified_sample,
    stratified_sample_oracle_case,
    vocab_stats,
    vocab_zipf,
)
from koby_s_ai_vector_db_spark.registry import register
from koby_s_ai_vector_db_spark.sources.tables import load_table, local_frame

# Query set: fixture-vocabulary terms (same convention as fusion_q.QUERIES;
# q2 is all out-of-vocabulary and must return zero rows).
BM25_QUERIES = [
    (0, "spark table scan"),
    (1, "hash merge batch"),
    (2, "qqqz zzzq xyzzy"),
    (3, "sort window agg key"),
]
BM25_K = 10

_BM25_VALUES = ", ".join(f"({qid}, '{txt}')" for qid, txt in BM25_QUERIES)

# The shipped oracle renders query_id from the VALUES list (INT32 in
# DuckDB); widen to BIGINT to match Spark's schema exactly.
_BM25_ORACLE = f"""
WITH base AS ({bm25_oracle_sql(_BM25_VALUES, k=BM25_K)})
SELECT CAST(query_id AS BIGINT) AS query_id, doc_id, score, rank FROM base
"""


def bm25_queries_df(spark: SparkSession) -> DataFrame:
    """The 4-row literal BM25 query table, plan-memoized per application:
    five query families rebuild it per call and building a literal frame
    costs driver work (functions/caching.memo)."""
    return memo(
        spark,
        "bm25_queries_df",
        lambda: local_frame(spark, BM25_QUERIES, "query_id bigint, query_text string"),
    )


@register("bm25_rank", _BM25_ORACLE)
def bm25_rank_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-10 per query over `documents` — postings equi-join
    against the broadcast query-term table; the only full shuffle is the
    per-(query, doc) score aggregation (operators/corpus.py:74)."""
    docs = load_table(spark, sf_dir, "documents")
    return bm25_rank(docs, bm25_queries_df(spark), k=BM25_K)


def text_index_path(spark: SparkSession, sf_dir: str) -> str:
    """Build-once scratch inverted index over `documents` for this
    (application, sf_dir); shared by every index-backed lexical consumer
    (bm25_rank_idx, hybrid_rrf's lex arm) so the corpus is indexed at
    most once per application."""
    from koby_s_ai_vector_db_spark.sources.text_index import build_text_index

    return scratch_index(
        spark, "textidx", sf_dir,
        lambda p: build_text_index(load_table(spark, sf_dir, "documents"), p),
    )


@register("bm25_rank_idx", _BM25_ORACLE)
def bm25_rank_idx_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 over the PERSISTED inverted index (sources/text_index.py):
    bucket-partitioned postings with doc length denormalized in, so the
    steady-state search opens only the query terms' bucket partitions and
    never re-tokenizes the corpus. Row-identical to bm25_rank — shares its
    oracle; the build cost is paid once per session."""
    from koby_s_ai_vector_db_spark.sources.text_index import search_text_index

    path = text_index_path(spark, sf_dir)
    # A fixed query set over a never-rebuilt scratch index: memoize the
    # plan, so a steady-state build runs no bucket collect.
    return memo(
        spark, ("bm25_rank_idx", path),
        lambda: search_text_index(spark, path, bm25_queries_df(spark), k=BM25_K),
    )


VOCAB_TOP = 20

_VOCAB_ORACLE = f"""
WITH words AS (
    SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS w
    FROM documents
),
post AS (SELECT doc_id, unnest(w) AS term FROM words)
SELECT term, count(*) AS n_total, count(DISTINCT doc_id) AS n_docs
FROM post GROUP BY term
ORDER BY n_total DESC, term ASC
LIMIT {VOCAB_TOP}
"""


@register("vocab_stats", _VOCAB_ORACLE)
def vocab_stats_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary profile: top-20 terms by total count with document
    frequency; one map-side-combined groupBy, TakeOrderedAndProject top-k
    (operators/corpus.py:192). Deliberately NOT spread: the round-11 A/B
    measured spread() a 2× loss at sf0.1 and a wash at sf1 — the 31-term
    combine is too cheap to amortize the extra exchange (the blanket-
    spread-tax lesson, round 2)."""
    docs = load_table(spark, sf_dir, "documents")
    return vocab_stats(docs, top=VOCAB_TOP)


# Corpus-mixing rates per fixture language (en/zh/es/de/fr); es/fr fall to
# the default. 0.3/0.1 are deliberately not exactly representable in binary
# — they exercise the round-vs-truncate edge the oracle must mirror.
SAMPLE_RATES = {"en": 0.5, "de": 0.25, "zh": 0.1}
SAMPLE_DEFAULT = 0.05
SAMPLE_SEED = 7

_SAMPLE_ORACLE = f"""
SELECT doc_id, lang, source FROM documents
WHERE {sql_hash32("CAST(doc_id AS VARCHAR)", seed=SAMPLE_SEED)} % 1000000
      < CAST(round({stratified_sample_oracle_case(SAMPLE_RATES, "lang", SAMPLE_DEFAULT)} * 1000000) AS BIGINT)
"""


@register("stratified_sample", _SAMPLE_ORACLE)
def stratified_sample_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language Bernoulli sample ("2 parts en, 1 part de,
    ..."): map-only filter on a portable md5 hash — no count() pre-pass, no
    shuffle, reproducible across engines (operators/corpus.py:215)."""
    docs = load_table(spark, sf_dir, "documents")
    return stratified_sample(
        docs,
        SAMPLE_RATES,
        strata_col="lang",
        default_rate=SAMPLE_DEFAULT,
        seed=SAMPLE_SEED,
    ).select("doc_id", "lang", "source")


# "Benchmark" = every 37th fixture doc (14 docs at sf0.01) — an eval set
# drawn from the same distribution, so shared shingles exist by
# construction. Self-pairs are excluded (a doc trivially contaminates
# itself); what remains is cross-document n-gram leakage.
CONTAM_N = 3
CONTAM_MOD = 37

_CONTAM_ORACLE = f"""
WITH words AS (
    SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS w
    FROM documents
),
grams AS (
    SELECT doc_id,
           list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                          for i in range(1, len(w) - 1)]) AS g
    FROM words WHERE len(w) >= {CONTAM_N}
),
t_post AS (SELECT doc_id AS tid, unnest(g) AS g FROM grams),
b_post AS (SELECT doc_id AS bid, unnest(g) AS g FROM grams WHERE doc_id % {CONTAM_MOD} = 0)
SELECT tid AS doc_id, bid AS bench_id, count(*) AS n_shared
FROM t_post JOIN b_post USING (g)
WHERE tid <> bid
GROUP BY tid, bid
"""


# End-to-end training-mix pipeline: the composition a real corpus build
# runs — per-language rate sampling → exact dedup (keep min id per
# content hash) → benchmark decontamination (drop anything sharing a
# 3-gram with the eval set) → per-language mix profile. Each stage is an
# already-oracled operator; the value of this query is checking the
# COMPOSITION end-to-end on both engines.
_MIX_ORACLE = f"""
WITH sampled AS (
    SELECT doc_id, text, lang FROM documents
    WHERE {sql_hash32("CAST(doc_id AS VARCHAR)", seed=SAMPLE_SEED)} % 1000000
          < CAST(round({stratified_sample_oracle_case(SAMPLE_RATES, "lang", SAMPLE_DEFAULT)} * 1000000) AS BIGINT)
),
deduped AS (
    SELECT min(doc_id) AS doc_id, min(lang) AS lang, text
    FROM sampled GROUP BY text
),
words AS (
    SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS w
    FROM documents
),
grams AS (
    SELECT doc_id,
           list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
                          for i in range(1, len(w) - 1)]) AS g
    FROM words WHERE len(w) >= {CONTAM_N}
),
b_post AS (SELECT DISTINCT g FROM (SELECT unnest(g) AS g FROM grams WHERE doc_id % {CONTAM_MOD} = 0)),
d_words AS (
    SELECT doc_id, lang, list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS w
    FROM deduped
),
contaminated AS (
    SELECT DISTINCT dp.doc_id FROM (
        SELECT d.doc_id, unnest(list_distinct([d.w[i] || ' ' || d.w[i+1] || ' ' || d.w[i+2]
                                               for i in range(1, len(d.w) - 1)])) AS g
        FROM d_words d WHERE len(d.w) >= {CONTAM_N}
    ) dp JOIN b_post USING (g)
    WHERE dp.doc_id % {CONTAM_MOD} <> 0
),
mix AS (
    SELECT d.doc_id, d.lang, len(d.w) AS n_tokens
    FROM d_words d
    WHERE d.doc_id NOT IN (SELECT doc_id FROM contaminated)
      AND d.doc_id % {CONTAM_MOD} <> 0
)
SELECT lang, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens
FROM mix GROUP BY lang
"""


@register("curate_training_mix", _MIX_ORACLE)
def curate_training_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full corpus-build pipeline: stratified sample → exact dedup →
    3-gram benchmark decontamination (benchmark docs themselves are also
    excluded from the mix) → per-language document/token profile. Plan:
    one map-only sample filter, one dedup shuffle on text, one broadcast
    postings join, one final groupBy — no stage materializes more than
    the surviving rows.

    Round 11: the sample→dedup subtree is memo-persisted (it fed BOTH
    the contamination train arm and the final mix, each re-running the
    text-keyed dedup shuffle), and the benchmark arm reads the shared
    persisted tokenized table (the m11 pattern) instead of re-shingling
    benchmark text per call; the deduped side tokenizes inline (its
    rows are the sample's survivors, not raw corpus rows the memo
    covers)."""
    from koby_s_ai_vector_db_spark.functions.partitioning import spread
    from koby_s_ai_vector_db_spark.operators.dedup import words_expr

    docs = load_table(spark, sf_dir, "documents")

    def _deduped():
        sampled = stratified_sample(
            spread(docs).select("doc_id", "text", "lang"),
            SAMPLE_RATES,
            strata_col="lang",
            default_rate=SAMPLE_DEFAULT,
            seed=SAMPLE_SEED,
        )
        return sampled.groupBy("text").agg(
            F.min("doc_id").alias("doc_id"), F.min("lang").alias("lang")
        )

    deduped = memo_persist(spark, ("training_mix_deduped", sf_dir), _deduped)
    bench = _tokenized_corpus(spark, sf_dir).filter(
        F.col("doc_id") % CONTAM_MOD == 0
    ).select(F.col("doc_id").alias("bench_id"), "w")
    ded_w = deduped.select("doc_id", words_expr("text").alias("w"))
    flagged = (
        ngram_contamination(ded_w, bench, n=CONTAM_N, words_col="w")
        .filter(F.col("doc_id") % CONTAM_MOD != 0)
        .select("doc_id")
        .distinct()
    )
    mix = (
        deduped.filter(F.col("doc_id") % CONTAM_MOD != 0)
        .join(flagged, "doc_id", "left_anti")
        .select("doc_id", "lang", F.size(words_expr("text")).alias("n_tokens"))
    )
    return mix.groupBy("lang").agg(
        F.count("*").alias("n_docs"), F.sum("n_tokens").alias("n_tokens")
    )


# --- n=13 sliding-window tier -------------------------------------------
# The published-pipeline decontamination n. The fixture vocabulary is 31
# words, so naturally-shared 13-grams would only come from exact/near
# duplicates; to exercise the operator the benchmark side is PLANTED: the
# first 20 words of every 37th doc stand in for an eval set excerpted from
# training text (the realistic leak shape — a benchmark question copied
# from a crawled page). Every sampled doc therefore overlaps itself by
# construction, and its exact/near duplicates are flagged too.
CONTAM13_N = 13
CONTAM13_BENCH_WORDS = 20


def _gram13(var: str) -> str:
    """DuckDB 13-term concat `var[i] || ' ' || ... || var[i+12]`."""
    return " || ' ' || ".join(
        f"{var}[i+{j}]" if j else f"{var}[i]" for j in range(CONTAM13_N)
    )


_CONTAM13_ORACLE = f"""
WITH words AS (
    SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS w
    FROM documents
),
t_post AS (
    SELECT tid, len(g) AS n_g, unnest(g) AS g
    FROM (SELECT doc_id AS tid,
                 [{_gram13('w')} for i in range(1, len(w) - {CONTAM13_N - 2})] AS g
          FROM words WHERE len(w) >= {CONTAM13_N})
),
b_post AS (
    SELECT bid, unnest(list_distinct(
               [{_gram13('bw')} for i in range(1, len(bw) - {CONTAM13_N - 2})])) AS g
    FROM (SELECT doc_id AS bid, w[1:{CONTAM13_BENCH_WORDS}] AS bw
          FROM words WHERE doc_id % {CONTAM_MOD} = 0)
    WHERE len(bw) >= {CONTAM13_N}
)
SELECT tid AS doc_id, bid AS bench_id, count(*) AS n_shared,
       round(count(*) * 1.0 / n_g, 6) AS contaminated_frac
FROM t_post JOIN b_post USING (g)
GROUP BY tid, bid, n_g
"""


@register("vocab_zipf", ZIPF_ORACLE)
def vocab_zipf_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law corpus profile: OLS slope/r² of ln(freq) on ln(rank)
    over the vocabulary plus the top term's token share — the corpus
    health check before training. The rank window is vocabulary-sized
    (Heaps' law: ≪ corpus), the fit a 1-row aggregate
    (operators/corpus.py::vocab_zipf)."""
    return vocab_zipf(load_table(spark, sf_dir, "documents"))


# --- deterministic fixed-size per-stratum sample -----------------------------
# The fixed-COUNT twin of stratified_sample's Bernoulli rates: "exactly k
# docs per language, reproducibly" — hash-order top-k, the standard
# deterministic reservoir replacement for corpus audits and eval-set
# carving. Plans as WindowGroupLimit: each task pre-truncates to k rows
# per group BEFORE the shuffle, so the exchange carries at most
# k * n_groups * n_tasks rows, never the corpus.

FIXED_K = 20
_FK_SEED = 31

_FIXED_K_ORACLE = f"""
WITH h AS (
    SELECT lang, doc_id,
           {sql_hash32("CAST(doc_id AS VARCHAR)", seed=_FK_SEED)} AS hk
    FROM documents
),
r AS (
    SELECT lang, doc_id, hk,
           row_number() OVER (PARTITION BY lang ORDER BY hk, doc_id) AS rk
    FROM h
)
SELECT lang, doc_id, rk FROM r WHERE rk <= {FIXED_K}
ORDER BY lang, rk
"""


@register("sample_fixed_k", _FIXED_K_ORACLE)
def sample_fixed_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-k-per-language deterministic sample: rank by the portable
    md5 hash of doc_id (seeded), keep rk <= k. Same sample every run,
    every engine; WindowGroupLimit pre-truncation keeps the shuffle
    k-bounded at any corpus size (asserted in tests/test_plans.py)."""
    from pyspark.sql import Window

    from koby_s_ai_vector_db_spark.functions.hashing import portable_hash32

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("hk", "doc_id")
    return (
        docs.select(
            "lang",
            "doc_id",
            portable_hash32(F.col("doc_id").cast("string"), seed=_FK_SEED).alias("hk"),
        )
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= FIXED_K)
        .select("lang", "doc_id", "rk")
        .orderBy("lang", "rk")
    )


# --- deterministic weighted sample (Efraimidis-Spirakis) ---------------------
# Quality-weighted selection without replacement: each doc gets key
# u^(1/w) with u = portable-hash uniform and w its weight (here n_chars
# — longer docs proportionally likelier); the top-k keys per stratum ARE
# a weighted sample without replacement (Efraimidis & Spirakis 2006).
# The reservoir algorithm's streaming trick isn't needed in a batch
# engine — WindowGroupLimit's per-task pre-truncation plays the same
# role, and the hash-derived u makes the draw reproducible on both
# engines. Adjacent keys differ by ~1/n, vastly above cross-engine
# pow() ulp noise, and doc_id tiebreaks pin exact ties.

WEIGHTED_K = 15
_WS_SEED = 47

_WEIGHTED_ORACLE = f"""
WITH h AS (
    SELECT lang, doc_id, n_chars,
           ({sql_hash32("CAST(doc_id AS VARCHAR)", seed=_WS_SEED)} + 1.0)
             / 4294967296.0 AS u
    FROM documents
),
k AS (
    SELECT lang, doc_id, n_chars,
           pow(u, 1.0 / n_chars) AS ky
    FROM h WHERE n_chars > 0
),
r AS (
    SELECT lang, doc_id, n_chars,
           row_number() OVER (PARTITION BY lang ORDER BY ky DESC, doc_id) AS rk
    FROM k
)
SELECT lang, doc_id, n_chars, rk FROM r WHERE rk <= {WEIGHTED_K}
ORDER BY lang, rk
"""


@register("sample_weighted_k", _WEIGHTED_ORACLE)
def sample_weighted_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sample without replacement, k per language: key =
    u^(1/weight) over the portable hash (Efraimidis-Spirakis), ranked
    through WindowGroupLimit. Reproducible across engines and runs —
    the quality-weighted twin of sample_fixed_k."""
    from pyspark.sql import Window

    from koby_s_ai_vector_db_spark.functions.hashing import portable_hash32

    docs = load_table(spark, sf_dir, "documents").where(F.col("n_chars") > 0)
    u = (
        portable_hash32(F.col("doc_id").cast("string"), seed=_WS_SEED) + F.lit(1.0)
    ) / F.lit(4294967296.0)
    w = Window.partitionBy("lang").orderBy(F.desc("ky"), F.asc("doc_id"))
    return (
        docs.select(
            "lang",
            "doc_id",
            "n_chars",
            F.pow(u, F.lit(1.0) / F.col("n_chars")).alias("ky"),
        )
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= WEIGHTED_K)
        .select("lang", "doc_id", "n_chars", "rk")
        .orderBy("lang", "rk")
    )


# --- boilerplate n-gram ratio -----------------------------------------------
# Phrase-level boilerplate detector (the header/footer/nav-chrome pass of
# web-corpus pipelines): a 5-gram is boilerplate when it occurs in >=
# BOILER_MIN_DF distinct documents; each doc reports how much of its
# 5-gram positions that mass covers. Differs from dedup_substring (long
# verbatim SPANS between doc pairs) — this is corpus-wide phrase
# FREQUENCY, the signal that catches templated chrome repeated across
# thousands of pages which never forms one long span. Ratio is int64-
# quantized. Scale: postings-style — per-position grams stay (doc, gram)
# rows, df is one map-combined groupBy, and the boiler join's small side
# is post-aggregation so AQE sizes it from real runtime stats.
BOILER_N = 5
BOILER_MIN_DF = 2

_BOILER_ORACLE = f"""
WITH words AS (
    SELECT doc_id,
           list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS w
    FROM documents
),
pos AS (
    SELECT doc_id,
           unnest([array_to_string(w[i:i+{BOILER_N - 1}], ' ')
                   for i in range(1, len(w) - {BOILER_N - 2})]) AS g
    FROM words WHERE len(w) >= {BOILER_N}
),
df AS (
    SELECT g, count(DISTINCT doc_id) AS ndocs FROM pos GROUP BY g
),
boiler AS (SELECT g FROM df WHERE ndocs >= {BOILER_MIN_DF}),
perdoc AS (
    SELECT p.doc_id, count(*) AS n_pos,
           sum(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END) AS n_boiler
    FROM pos p LEFT JOIN boiler b USING (g)
    GROUP BY p.doc_id
)
SELECT doc_id, CAST(n_pos AS BIGINT) AS n_pos,
       CAST(n_boiler AS BIGINT) AS n_boiler,
       CAST(round(n_boiler * 1000000.0 / n_pos) AS BIGINT) AS boiler_ratio_q6
FROM perdoc WHERE n_boiler > 0
"""


@register("ta_boilerplate", _BOILER_ORACLE)
def ta_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document boilerplate 5-gram coverage: positions, boilerplate
    hits (grams occurring in >= BOILER_MIN_DF=2 documents TOTAL, i.e.
    shared with at least one other doc), quantized ratio. Docs with zero
    boilerplate are omitted (the interesting rows are the templated
    ones).

    Round-11 rework (VERDICT r10 item 7): grams derive from the SHARED
    persisted tokenized table, and the per-POSITION stream collapses to
    per-(doc, gram) COUNTS before anything shuffles by gram. The old
    shape shuffled the raw positions table twice on the gram key (once
    into a countDistinct-expanded df aggregate, once into the hit join);
    now one map-combined (doc_id, g) aggregate feeds both the df count
    (a plain count over deduped rows — no countDistinct expand) and the
    hit join, per-doc position totals come straight from the token
    array's size (no positions aggregate at all), and the n_boiler > 0
    filter is the inner hit join itself. sf1: 13.6 s → see BASELINE.md
    round-11 section."""
    from koby_s_ai_vector_db_spark.operators.dedup import (
        shingles_from_words_expr,
    )

    toks = _tokenized_corpus(spark, sf_dir)
    # Round-13: session-memoized — the two consumers below (the df count
    # and the hit join) otherwise each inline the explode + (doc_id, g)
    # aggregate; an inferred isnotnull filter on the join side makes the
    # subtrees non-identical, so ReuseExchange cannot dedupe them and the
    # 5-gram explode ran TWICE per call (plan audit, guide §2.4). Same
    # convention as the tfidf weight-table memo (operators/corpus.py).
    dg = memo_persist(
        spark,
        ("boiler_dg", sf_dir),
        lambda: toks.select(
            "doc_id",
            F.explode(
                shingles_from_words_expr("w", BOILER_N, distinct=False)
            ).alias("g"),
        )
        .groupBy("doc_id", "g")
        .agg(F.count("*").alias("c")),
    )
    boiler = (
        dg.groupBy("g")
        .agg(F.count("*").alias("ndocs"))
        .filter(F.col("ndocs") >= BOILER_MIN_DF)
        .select("g")
    )
    hits = (
        dg.join(boiler, "g")
        .groupBy("doc_id")
        .agg(F.sum("c").cast("long").alias("n_boiler"))
    )
    n_pos = toks.filter(F.size("w") >= BOILER_N).select(
        "doc_id",
        (F.size("w") - (BOILER_N - 1)).cast("long").alias("n_pos"),
    )
    return hits.join(n_pos, "doc_id").select(
        "doc_id",
        "n_pos",
        "n_boiler",
        F.round(F.col("n_boiler") * 1000000.0 / F.col("n_pos"))
        .cast("long")
        .alias("boiler_ratio_q6"),
    )


# --- round-10 prebuild (NOT registered: r8 window full, r9 slots pre-earned) --
# Collocation mining: pointwise mutual information over adjacent word
# bigrams — the corpus-statistics tool that separates real phrases from
# chance co-occurrence (tokenizer-merge candidates, template detection).
# PMI = ln( P(w1w2) / (P(w1)P(w2)) ) with all probabilities as ratios of
# EXACT integer counts folded into one double expression evaluated in
# the identical order by both engines, then q6-quantized; top-K selection
# is by the integer bigram count (deterministic, ties on the gram).
PMI_TOP = 20

_PMI_ORACLE = f"""
WITH words AS (
    SELECT list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS w
    FROM documents
),
ucnt AS (
    SELECT tok, CAST(count(*) AS BIGINT) AS c
    FROM (SELECT unnest(w) AS tok FROM words) GROUP BY 1
),
tot AS (
    SELECT CAST(sum(len(w)) AS BIGINT) AS t_tok,
           CAST(sum(CASE WHEN len(w) >= 2 THEN len(w) - 1 ELSE 0 END)
                AS BIGINT) AS t_big
    FROM words
),
bcnt AS (
    SELECT g, CAST(count(*) AS BIGINT) AS c12 FROM (
        SELECT unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS g
        FROM words WHERE len(w) >= 2
    ) GROUP BY 1
),
top AS (SELECT g, c12 FROM bcnt ORDER BY c12 DESC, g ASC LIMIT {PMI_TOP})
SELECT t.g AS bigram, t.c12, u1.c AS c1, u2.c AS c2,
       CAST(round(1000000 * ln(
           (CAST(t.c12 AS DOUBLE) * tot.t_tok * tot.t_tok)
           / (CAST(tot.t_big AS DOUBLE) * u1.c * u2.c)
       )) AS BIGINT) AS pmi_q6
FROM top t
JOIN ucnt u1 ON u1.tok = string_split(t.g, ' ')[1]
JOIN ucnt u2 ON u2.tok = string_split(t.g, ' ')[2]
CROSS JOIN tot
"""


@register("ta_pmi_collocations", _PMI_ORACLE)
def ta_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{PMI_TOP} adjacent bigrams by count with exact-count PMI.
    Plan: two map-side-combined explode aggregates (unigrams, sliding
    bigrams), TakeOrdered top-K on the integer count, then the K-row
    table joins the broadcast vocabulary-bounded unigram counts and the
    broadcast 1-row totals. The corpus crosses the wire only inside the
    two count aggregations. Round 10: all three corpus-sized arms read
    the shared persisted tokenized table (`_tokenized_corpus`) instead
    of re-splitting the text — bigrams via `shingles_from_words_expr`
    (the same `_grams_body` the text-input expression uses, so the gram
    semantics cannot drift) — and the vocabulary-bounded unigram-count
    table is itself memo-persisted because the final result consumes it
    TWICE (the tok1 and tok2 joins): without the persist the
    corpus-sized explode+groupBy subtree is replayed per consumer."""
    from koby_s_ai_vector_db_spark.operators.dedup import (
        shingles_from_words_expr,
    )

    words = _tokenized_corpus(spark, sf_dir).select("w")

    def build_uni() -> DataFrame:
        return (
            words.select(F.explode("w").alias("tok"))
            .groupBy("tok")
            .agg(F.count("*").alias("c"))
        )

    uni = memo_persist(spark, ("pmi_unigrams", sf_dir), build_uni)
    tot = words.agg(
        F.sum(F.size("w")).cast("long").alias("t_tok"),
        F.sum(
            F.when(F.size("w") >= 2, F.size("w") - 1).otherwise(0)
        )
        .cast("long")
        .alias("t_big"),
    )
    bcnt = (
        words.select(
            F.explode(shingles_from_words_expr("w", 2, distinct=False)).alias(
                "g"
            )
        )
        .groupBy("g")
        .agg(F.count("*").alias("c12"))
    )
    top = (
        bcnt.orderBy(F.desc("c12"), F.asc("g"))
        .limit(PMI_TOP)
        .select(
            F.col("g").alias("bigram"),
            "c12",
            F.split(F.col("g"), " ").getItem(0).alias("tok1"),
            F.split(F.col("g"), " ").getItem(1).alias("tok2"),
        )
    )
    u1 = uni.select(F.col("tok").alias("tok1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("tok").alias("tok2"), F.col("c").alias("c2"))
    return (
        top.join(F.broadcast(u1), "tok1")
        .join(F.broadcast(u2), "tok2")
        .crossJoin(F.broadcast(tot))
        .select(
            "bigram",
            "c12",
            "c1",
            "c2",
            F.round(
                1000000
                * F.log(
                    (F.col("c12").cast("double") * F.col("t_tok") * F.col("t_tok"))
                    / (F.col("t_big").cast("double") * F.col("c1") * F.col("c2"))
                )
            )
            .cast("long")
            .alias("pmi_q6"),
        )
    )


# --- fold ladder step 2, EXECUTED round 9 (SURVEY §9 → §8) -------------------
# ngram_contamination + ngram_contamination_13 fold into THIS single query
# (an `n` width column; net −1 slot, which funded bpe_audit). It is
# literally the union of the two formerly-registered queries (same
# functions called, same oracle strings interpolated), so the fold
# provably changes packaging, not values. The n=3 distinct-shingle tier
# has no positional fraction — sentinel −1.0.

_CONTAM_BOTH_ORACLE = f"""
SELECT CAST(3 AS BIGINT) AS n, doc_id, bench_id,
       CAST(n_shared AS BIGINT) AS n_shared,
       CAST(-1.0 AS DOUBLE) AS contaminated_frac
FROM ({_CONTAM_ORACLE})
UNION ALL
SELECT CAST(13 AS BIGINT) AS n, doc_id, bench_id,
       CAST(n_shared AS BIGINT) AS n_shared,
       CAST(contaminated_frac AS DOUBLE) AS contaminated_frac
FROM ({_CONTAM13_ORACLE})
"""


def _tokenized_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared tokenized-corpus subtree: tokenize ONCE into a
    persisted (doc_id, w) table that every word-gram consumer in this
    module derives from — both contamination width arms (round-9's
    heaviest sf1 row ran the scan + lower/split explode twice, VERDICT
    r09 item 4) and the PMI collocation aggregates. memo-persisted per
    (application, sf_dir), the minhash_near_dup_pairs pattern;
    construction stays action-free (persist is lazy)."""
    from koby_s_ai_vector_db_spark.functions.partitioning import spread
    from koby_s_ai_vector_db_spark.operators.dedup import words_expr

    def build():
        docs = spread(load_table(spark, sf_dir, "documents"))
        return docs.select("doc_id", words_expr("text").alias("w"))

    return memo_persist(spark, ("tokenized_corpus", sf_dir), build)


@register("ngram_contamination_both", _CONTAM_BOTH_ORACLE)
def ngram_contamination_both(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both decontamination widths in one result, tagged by `n`. Same
    operators and the byte-reused union of the standalone oracles, but
    the two arms now share ONE tokenized-corpus subtree
    (`_tokenized_corpus`, persisted): each arm reads the (doc_id, w) table
    and derives its grams from the array column (words_col path), so the
    corpus is scanned and tokenized once instead of twice. The round-9
    union-over-memo lesson applies — tests/test_plans.py pins the
    InMemoryRelation scans in the final (unioned) plan so CacheManager
    substitution regressions stay loud."""
    toks = _tokenized_corpus(spark, sf_dir)
    bench3 = toks.filter(F.col("doc_id") % CONTAM_MOD == 0).select(
        F.col("doc_id").alias("bench_id"), "w"
    )
    a = (
        ngram_contamination(toks, bench3, n=CONTAM_N, words_col="w")
        .filter(F.col("doc_id") != F.col("bench_id"))
        .select(
            F.lit(3).cast("long").alias("n"),
            "doc_id",
            "bench_id",
            F.col("n_shared").cast("long").alias("n_shared"),
            F.lit(-1.0).cast("double").alias("contaminated_frac"),
        )
    )
    bench13 = toks.filter(F.col("doc_id") % CONTAM_MOD == 0).select(
        F.col("doc_id").alias("bench_id"),
        F.slice(F.col("w"), 1, CONTAM13_BENCH_WORDS).alias("w"),
    )
    b = ngram_contamination_sliding(
        toks, bench13, n=CONTAM13_N, words_col="w"
    ).select(
        F.lit(13).cast("long").alias("n"),
        "doc_id",
        "bench_id",
        F.col("n_shared").cast("long").alias("n_shared"),
        F.col("contaminated_frac").cast("double").alias("contaminated_frac"),
    )
    return a.unionByName(b)
