"""Training-corpus curation operators: BM25 ranking, vocabulary stats,
stratified sampling, benchmark decontamination.

These extend the reference's lexical tier (`core/supabase_utils.py:250-367`
scores token overlap with Python loops over ≤100-row candidate lists) into
the operators a large-scale training-data pipeline needs. Design rules are
the repo-wide ones: tokenization identical in both engines (the dedup
`_WORDS` split), md5-portable hashing where hashes matter, scores rounded
at the output edge, candidate generation by equi-join on inverted postings
(never all-pairs), and map-side-combinable aggregates.

100 TB shapes
-------------
- bm25: postings = explode(tokens) — map-side; df/idf = one groupBy(term)
  over postings (map-side partial agg; vocabulary-sized result, broadcast
  back); scoring joins postings to the BROADCAST query-term table, so the
  only full shuffle is the per-(query, doc) score aggregation keyed by
  (query, doc) — the same key the final top-k needs.
- vocabulary: one map-side-combined groupBy(term); top-k via orderBy+limit
  = TakeOrderedAndProject (per-partition heap, no global sort).
- stratified sample: pure map-only filter on a portable hash — no shuffle,
  no state; exact per-stratum rates without a count() pre-pass.
- decontamination: shingle postings equi-join against a BROADCAST
  benchmark-shingle set; contaminated-id dedup is a groupBy on the doc id.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from koby_s_ai_vector_db_spark.functions.hashing import portable_hash32
from koby_s_ai_vector_db_spark.operators.dedup import (
    _WORDS,
    shingles_expr,
    words_expr,
)

# BM25 constants (Robertson/Sparck Jones defaults; the reference's lexical
# scorer divides overlap count by query length — BM25 is its
# saturation-and-length-normalized production form).
BM25_K1 = 1.2
BM25_B = 0.75


def term_postings(docs: DataFrame) -> DataFrame:
    """(id, term, tf) postings with per-document term frequency.

    explode + groupBy(id, term) — the groupBy is map-side combinable and
    keyed by the same (id, term) pair every downstream join uses. The
    words array is bound once via array_rows_nonempty — a plain explode
    gets the tokenizer re-inlined into InferFiltersFromGenerate's
    inferred filter (functions/exprs.py, round 12).
    """
    from koby_s_ai_vector_db_spark.functions.exprs import array_rows_nonempty

    return (
        array_rows_nonempty(
            docs, [F.col("doc_id").alias("_id")], words_expr("text"), "_w"
        )
        .select("_id", F.explode("_w").alias("term"))
        .groupBy("_id", "term")
        .agg(F.count("*").alias("tf"))
    )


def doc_lengths(docs: DataFrame) -> DataFrame:
    """(id, dl) token counts — map-only."""
    return docs.select(
        F.col("doc_id").alias("_id"),
        F.size(words_expr("text")).cast("double").alias("dl"),
    )


def bm25_scores(docs: DataFrame, queries: DataFrame) -> DataFrame:
    """Per-(query, doc) Okapi BM25 scores for every matching document —
    no top-k truncation. `bm25_rank` layers ranking on top; curation-style
    consumers aggregate these into a per-doc relevance signal instead.

    score(q, d) = Σ_{t ∈ q ∩ d} idf(t) · tf·(k1+1) / (tf + k1·(1-b+b·dl/avgdl))
    idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5))

    N/avgdl are exact corpus scalars computed as a 1-row aggregate and
    cross-broadcast (at 100 TB: two doubles). Query terms are distinct
    (standard BM25 bag-of-query simplification) and broadcast. Scores are
    rounded at the edge: the per-(query, doc) sum folds floats in shuffle
    order, so raw doubles may differ by ~1e-15 across engines/runs.
    """
    post = term_postings(docs)
    dl = doc_lengths(docs)

    # Corpus scalars: 1 row, broadcast into every arm.
    stats = dl.agg(
        F.count("*").cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )

    # Document frequency per term: vocabulary-sized, broadcast to scoring.
    df_t = post.groupBy("term").agg(F.count("*").cast("double").alias("df"))

    qterms = queries.select(
        F.col("query_id"),
        F.explode(F.array_distinct(words_expr("query_text"))).alias("term"),
    )

    scored = (
        post.join(F.broadcast(qterms), "term")
        .join(dl, "_id")
        .join(F.broadcast(df_t), "term")
        .join(F.broadcast(stats))
        .withColumn(
            "_idf", F.log(F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
        )
        .withColumn(
            "_w",
            F.col("_idf")
            * (F.col("tf") * (BM25_K1 + 1))
            / (F.col("tf")
               + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))),
        )
        .groupBy("query_id", "_id")
        .agg(F.sum("_w").alias("_score"))
    )
    return scored.select(
        "query_id",
        F.col("_id").alias("doc_id"),
        F.round("_score", 6).alias("score"),
    )


def bm25_rank(docs: DataFrame, queries: DataFrame, k: int = 10) -> DataFrame:
    """Okapi BM25 top-k per query (formula in `bm25_scores`).

    Ranks on the ROUNDED score with a doc-id tiebreak: the per-(query,
    doc) sum folds floats in shuffle order (engine- and run-dependent),
    so ranking on the raw value would make the top-k boundary
    engine-dependent."""
    scored = bm25_scores(docs, queries)
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= k
    )


def bm25_oracle_sql(queries_values: str, k: int = 10) -> str:
    """DuckDB twin of bm25_rank over `documents`. ``queries_values`` is a
    VALUES list rendering of (query_id, query_text)."""
    return f"""
WITH q(query_id, query_text) AS (VALUES {queries_values}),
words AS (
    SELECT doc_id, list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS w
    FROM documents
),
post AS (
    SELECT doc_id, unnest(w) AS term FROM words
),
tf AS (
    SELECT doc_id, term, count(*)::DOUBLE AS tf FROM post GROUP BY doc_id, term
),
dl AS (SELECT doc_id, len(w)::DOUBLE AS dl FROM words),
stats AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM dl),
df_t AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term),
qt AS (
    SELECT query_id, unnest(list_distinct(list_filter(
        string_split_regex(lower(query_text), '\\s+'), t -> t <> ''))) AS term
    FROM q
),
scored AS (
    SELECT qt.query_id, tf.doc_id,
           sum(ln(1 + (stats.n_docs - df_t.df + 0.5) / (df_t.df + 0.5))
               * (tf.tf * ({BM25_K1} + 1))
               / (tf.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl.dl / stats.avgdl))) AS score
    FROM tf JOIN qt USING (term)
            JOIN dl ON dl.doc_id = tf.doc_id
            JOIN df_t ON df_t.term = tf.term
            CROSS JOIN stats
    GROUP BY qt.query_id, tf.doc_id
),
ranked AS (
    SELECT query_id, doc_id, score,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY round(score, 6) DESC, doc_id ASC) AS rank
    FROM scored
)
SELECT query_id, doc_id, round(score, 6) AS score, rank
FROM ranked WHERE rank <= {k}
"""


def vocab_stats(docs: DataFrame, top: int = 100) -> DataFrame:
    """Corpus vocabulary: per-term total count + document frequency, top-N
    by count (ties → term asc). orderBy+limit compiles to
    TakeOrderedAndProject — per-partition heaps, no global sort."""
    return (
        docs.select(
            F.col("doc_id").alias("_id"), F.explode(words_expr("text")).alias("term")
        )
        .groupBy("term")
        .agg(
            F.count("*").alias("n_total"),
            F.countDistinct("_id").alias("n_docs"),
        )
        .orderBy(F.desc("n_total"), F.asc("term"))
        .limit(top)
    )


def stratified_sample(
    docs: DataFrame,
    rates: dict[str, float],
    strata_col: str = "lang",
    default_rate: float = 0.0,
    seed: int = 7,
) -> DataFrame:
    """Deterministic per-stratum Bernoulli sample: keep a row iff
    portable_hash32(id) % 10^6 < rate·10^6 for its stratum's rate.

    Map-only — no count() pre-pass, no shuffle, reproducible across runs
    and engines (md5-derived hash). The standard shape for corpus mixing
    ("2 parts en, 1 part code, 0.1 part forums") at any scale.
    """
    h = portable_hash32(F.col("doc_id").cast("string"), seed=seed) % 1_000_000
    rate = F.lit(default_rate)
    for stratum, r in sorted(rates.items()):
        rate = F.when(F.col(strata_col) == stratum, F.lit(r)).otherwise(rate)
    # round(), not a truncating cast: 0.3 * 1e6 = 299999.99999999997 in
    # binary — truncation would keep 299999 while DuckDB's rounding cast
    # keeps 300000, silently shifting the ppm threshold by one. Both
    # engines round half away from zero for positive doubles.
    return docs.filter(h < F.round(rate * 1_000_000, 0).cast("long"))


def stratified_sample_oracle_case(
    rates: dict[str, float], strata_col: str = "lang", default_rate: float = 0.0
) -> str:
    """DuckDB CASE rendering of the per-stratum rate lookup."""
    whens = " ".join(
        f"WHEN {strata_col} = '{s}' THEN {r!r}" for s, r in sorted(rates.items())
    )
    return f"(CASE {whens} ELSE {default_rate!r} END)"


def sliding_shingles_expr(col: str, n: int) -> Column:
    """Positional (NON-distinct) word n-gram shingles: one entry per
    window position, so downstream counts measure contaminated POSITIONS
    rather than distinct gram types. Rows with < n words yield an empty
    array. Same bind-once tokenization as `shingles_expr`."""
    from koby_s_ai_vector_db_spark.functions.exprs import bind_once
    from koby_s_ai_vector_db_spark.operators.dedup import _grams_body

    w = _WORDS.format(col=col)
    # Positional = the distinct=False branch of the shared gram body
    # (operators/dedup.py::_grams_body — one source of truth, incl. the
    # short-row CASE guard).
    return F.expr(bind_once(w, _grams_body("nv", n, distinct=False)))


def ngram_contamination_sliding(
    train: DataFrame,
    benchmark: DataFrame,
    n: int = 13,
    words_col: str | None = None,
) -> DataFrame:
    """Decontamination at the published-pipeline n (13-gram sliding
    window): for each (train doc, benchmark doc) pair, count how many of
    the train doc's sliding 13-gram POSITIONS appear in the benchmark
    doc, and the contaminated fraction of the train doc those positions
    represent → (doc_id, bench_id, n_shared, contaminated_frac).

    Differs from `ngram_contamination` (distinct shingles, n=3) in two
    ways that matter for the train-side report: the window slides without
    dedup, so a repeated passage counts every occurrence, and the
    fraction gives the downstream drop/keep policy a thresholdable
    signal (e.g. drop if >0.2 of the doc is benchmark text). The
    benchmark side IS deduped per doc — a gram repeated in the eval doc
    must not double-count a single train position.

    Same 100 TB shape as the n=3 tier: candidates come from the postings
    equi-join against the BROADCAST benchmark side, never all-pairs; the
    train side is map-only until the per-pair count aggregation.

    `words_col`: when both sides are already tokenized (a shared
    persisted (id, words) table feeding several widths — the
    contamination fold), name the array<string> column and the gram
    expressions derive from it instead of re-splitting `text`.
    """
    from koby_s_ai_vector_db_spark.operators.dedup import (
        shingles_from_words_expr,
    )

    t_grams = (
        shingles_from_words_expr(words_col, n, distinct=False)
        if words_col
        else sliding_shingles_expr("text", n)
    )
    b_grams = (
        shingles_from_words_expr(words_col, n, distinct=True)
        if words_col
        else shingles_expr("text", n)
    )
    # array_rows_nonempty binds _g as a Generate output so the gram chain
    # is built once per row — select+filter(size>0) would re-embed it into
    # the Filter AND the size() projection (functions/exprs.py, round 12).
    from koby_s_ai_vector_db_spark.functions.exprs import array_rows_nonempty

    t_post = array_rows_nonempty(
        train, [F.col("doc_id").alias("_tid")], t_grams, "_g"
    ).select("_tid", F.size("_g").alias("_n_g"), F.explode("_g").alias("g"))
    b_post = array_rows_nonempty(
        benchmark, [F.col("bench_id").alias("_bid")], b_grams, "_g"
    ).select("_bid", F.explode("_g").alias("g"))
    return (
        t_post.join(F.broadcast(b_post), "g")
        .groupBy("_tid", "_bid", "_n_g")
        .agg(F.count("*").alias("n_shared"))
        .select(
            F.col("_tid").alias("doc_id"),
            F.col("_bid").alias("bench_id"),
            "n_shared",
            F.round(F.col("n_shared") / F.col("_n_g"), 6).alias(
                "contaminated_frac"
            ),
        )
    )


def ngram_contamination(
    train: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    words_col: str | None = None,
) -> DataFrame:
    """Train/eval overlap check: flag train docs sharing ≥1 word n-gram
    with any benchmark doc → (doc_id, bench_id, n_shared).

    The standard decontamination pass before training (n=13 in published
    pipelines; n=3 here because the fixture vocabulary is 31 words).
    Postings equi-join on the shingle string: candidates are generated by
    the join, never by comparing all pairs; the benchmark side is tiny by
    construction (eval sets are thousands of docs, not billions) and
    broadcast.
    """
    from koby_s_ai_vector_db_spark.operators.dedup import (
        shingles_from_words_expr,
    )

    grams = (
        shingles_from_words_expr(words_col, n, distinct=True)
        if words_col
        else shingles_expr("text", n)
    )
    # One gram-chain evaluation per row (functions/exprs.py, round 12).
    from koby_s_ai_vector_db_spark.functions.exprs import array_rows_nonempty

    t_post = array_rows_nonempty(
        train, [F.col("doc_id").alias("_tid")], grams, "_g"
    ).select("_tid", F.explode("_g").alias("g"))
    b_post = array_rows_nonempty(
        benchmark, [F.col("bench_id").alias("_bid")], grams, "_g"
    ).select("_bid", F.explode("_g").alias("g"))
    return (
        t_post.join(F.broadcast(b_post), "g")
        .groupBy("_tid", "_bid")
        .agg(F.count("*").alias("n_shared"))
        .select(
            F.col("_tid").alias("doc_id"),
            F.col("_bid").alias("bench_id"),
            "n_shared",
        )
    )


def vocab_zipf(docs: DataFrame) -> DataFrame:
    """Zipf-law profile of the corpus vocabulary — the standard corpus
    health check before training (natural text has log-log slope ≈ -1;
    a flat slope flags synthetic/templated text, a cliff flags
    boilerplate domination).

    OLS fit of ln(freq) on ln(rank) over the full vocabulary, computed
    with the explicit closed form
        slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)
    so both engines fold the same terms; ranks are deterministic
    (count desc, term asc). One map-side-combined groupBy(term), one
    vocabulary-sized rank window, one 1-row aggregate. Output:
    (n_terms, n_tokens, zipf_slope, r2, top_share) where top_share is
    the most frequent term's fraction of all tokens.
    """
    from pyspark.sql import Window

    counts = (
        docs.select(F.explode(words_expr("text")).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("n"))
    )
    w = Window.orderBy(F.desc("n"), F.asc("term"))
    xy = counts.select(
        "n",
        F.log(F.row_number().over(w).cast("double")).alias("x"),
        F.log(F.col("n").cast("double")).alias("y"),
    )
    agg = xy.agg(
        F.count("*").cast("double").alias("cnt"),
        F.sum("n").alias("n_tokens"),
        F.max("n").alias("top_n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n, sx, sy = F.col("cnt"), F.col("sx"), F.col("sy")
    cov_n = n * F.col("sxy") - sx * sy
    var_x = n * F.col("sxx") - sx * sx
    var_y = n * F.col("syy") - sy * sy
    # Degenerate corpora (single term -> var_x = 0; uniform frequencies
    # -> var_y = 0) have no fittable line: report 0 instead of NaN (the
    # two engines disagree on double 0/0, and registered queries emit no
    # null/NaN cells).
    slope = F.when(var_x > 0, cov_n / var_x).otherwise(F.lit(0.0))
    r2 = F.when(
        (var_x > 0) & (var_y > 0), cov_n * cov_n / (var_x * var_y)
    ).otherwise(F.lit(0.0))
    return agg.select(
        F.col("cnt").cast("long").alias("n_terms"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round(r2, 6).alias("r2"),
        F.round(F.col("top_n") / F.col("n_tokens"), 6).alias(
            "top_share"
        ),
    )


ZIPF_ORACLE = """
WITH post AS (
    SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')) AS term
    FROM documents
),
counts AS (SELECT term, count(*) AS n FROM post GROUP BY term),
xy AS (
    SELECT n,
           ln((row_number() OVER (ORDER BY n DESC, term ASC))::DOUBLE) AS x,
           ln(n::DOUBLE) AS y
    FROM counts
),
agg AS (
    SELECT count(*)::DOUBLE AS cnt, sum(n) AS n_tokens, max(n) AS top_n,
           sum(x) AS sx, sum(y) AS sy,
           sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
    FROM xy
)
SELECT CAST(cnt AS BIGINT) AS n_terms,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       round(CASE WHEN cnt * sxx - sx * sx > 0
                  THEN (cnt * sxy - sx * sy) / (cnt * sxx - sx * sx)
                  ELSE 0.0 END, 6) AS zipf_slope,
       round(CASE WHEN cnt * sxx - sx * sx > 0 AND cnt * syy - sy * sy > 0
                  THEN (cnt * sxy - sx * sy) * (cnt * sxy - sx * sy)
                       / ((cnt * sxx - sx * sx) * (cnt * syy - sy * sy))
                  ELSE 0.0 END, 6) AS r2,
       round(top_n / n_tokens::DOUBLE, 6) AS top_share
FROM agg
"""


# --- TF-IDF cosine near-dup join ---------------------------------------------
# The weighted companion of the n-gram Jaccard tier (operators/dedup.py):
# Jaccard treats every shared shingle equally; TF-IDF cosine down-weights
# corpus-common shingles, the standard lexical-similarity measure for
# boilerplate-robust near-dup mining. Shape: inverted shingle postings
# self-join (work ∝ colliding postings, bounded by the df cap), one
# pair-keyed aggregation, norm joins.
#
# Cross-engine determinism: a float cosine summed over an UNORDERED gram
# set differs between engines at the last ulp (and between Spark runs —
# shuffle order is nondeterministic), so weights are QUANTIZED to int64
# (round(tf * idf * 1e4)) and the pair dot / squared norms are exact
# integer sums — order-independent. The only float steps are the idf
# ln() (per-gram, rounded into the quantization) and the final
# dot/sqrt(n2a*n2b) division, identical given identical integers.
#
# High-df shingles are DROPPED (df > TFIDF_DF_CAP): their idf is ~0 so
# they contribute noise, and they are exactly the postings that square
# the self-join. The cap is part of the operator's defined semantics and
# the DuckDB oracle applies the identical rule.

TFIDF_SCALE = 10_000
TFIDF_DF_CAP = 100
TFIDF_THRESHOLD = 0.7


def _all_shingles(text_col: str):
    """Non-distinct word n-grams (tf matters here) — the SAME
    tokenization expression as every Jaccard/MinHash tier, via
    dedup.shingles_expr(distinct=False), so the tiers cannot drift."""
    from koby_s_ai_vector_db_spark.operators.dedup import shingles_expr

    return shingles_expr(text_col, n=3, distinct=False)


def tfidf_cosine_pairs(
    docs: DataFrame,
    cache_key=None,
    hash_gram_key: bool | str = False,
) -> DataFrame:
    """All unordered pairs with TF-IDF shingle cosine >= threshold.
    Returns (doc_id_a, doc_id_b, sim) ordered.

    The quantized weight table `w` feeds THREE consumers (the norm
    aggregate and both sides of the postings self-join); without a
    materialization the tokenize→tf→df→weight pipeline re-executes per
    exchange (the g-key exchange is ReusedExchange-able, the id-key norm
    exchange is not). Pass ``cache_key`` to memo-persist it — the
    in-session analogue of writing the TF-IDF weight table once, which
    is what a 100 TB pipeline does before the self-join.

    ``hash_gram_key`` replaces the postings self-join key (raw shingle
    TEXT, tens of bytes per row) with a hash projected map-side AFTER
    the persisted weight table — the self-join exchange then carries
    fixed-width keys while the persisted artifact keeps raw grams for
    other consumers. Same device as repeated_substring_spans' round-12
    adoption (operators/substrings.py): "hash128" pairs two
    independently-seeded xxhash64 lanes (collision bound G²/2¹²⁹ ≈ 6e-13
    at G ≈ 2e13 grams / 100 TB — exact for all practical purposes; a
    collision would MERGE two grams' postings and add false cross terms
    to the pair dots, never drop true ones)."""
    d = docs.select(F.col("doc_id").alias("id"), F.col("text").alias("txt"))
    n_docs = d.select(F.count("*").alias("n"))

    def _weights() -> DataFrame:
        post = (
            d.select("id", F.explode(_all_shingles("txt")).alias("g"))
            .groupBy("id", "g")
            .agg(F.count("*").alias("tf"))
        )
        df_t = post.groupBy("g").agg(F.count("*").alias("df")).where(
            F.col("df") <= TFIDF_DF_CAP
        )
        return (
            post.join(df_t, "g")
            .join(F.broadcast(n_docs))
            .select(
                "id",
                "g",
                "df",
                F.expr(
                    f"CAST(round(tf * (ln((n + 1.0) / (df + 1.0)) + 1.0)"
                    f" * {TFIDF_SCALE}) AS BIGINT)"
                ).alias("w"),
            )
        )

    if cache_key is None:
        w = _weights()
    else:
        from koby_s_ai_vector_db_spark.functions.caching import memo_persist

        w = memo_persist(docs.sparkSession, ("tfidf_w", cache_key), _weights)
    norm2 = w.groupBy("id").agg(F.sum(F.col("w") * F.col("w")).alias("n2"))
    # Singleton postings (df = 1) cannot form a pair — they contribute to
    # norms (above) but only inflate the self-join exchange. On natural
    # corpora MOST grams are singletons (Heaps' law), so this filter
    # drops the bulk of the shuffled postings volume losslessly; the
    # DuckDB oracle needs no mirror because the dot sums are unchanged.
    wj = w.where(F.col("df") >= 2)
    if hash_gram_key:
        # Hash BEFORE the self-join exchange: the projection drops the
        # gram string map-side, so both shuffled sides carry fixed-width
        # ints. Applied after the memo-persist — the persisted table
        # keeps raw grams; re-hashing per side is a cheap codegen map.
        if hash_gram_key == "hash128":
            gk = F.struct(
                F.xxhash64("g").alias("h1"),
                F.xxhash64(F.lit(1), F.col("g")).alias("h2"),
            )
        else:
            gk = F.xxhash64("g")
        wj = wj.select("id", gk.alias("g"), "w")
    wa = wj.select(F.col("id").alias("ida"), "g", F.col("w").alias("wa"))
    wb = wj.select(F.col("id").alias("idb"), "g", F.col("w").alias("wb"))
    dots = (
        wa.join(wb, "g")
        .where(F.col("ida") < F.col("idb"))
        .groupBy("ida", "idb")
        .agg(F.sum(F.col("wa") * F.col("wb")).alias("dot"))
    )
    na = norm2.select(F.col("id").alias("ida"), F.col("n2").alias("n2a"))
    nb = norm2.select(F.col("id").alias("idb"), F.col("n2").alias("n2b"))
    return (
        dots.join(na, "ida")
        .join(nb, "idb")
        .select(
            F.col("ida").alias("doc_id_a"),
            F.col("idb").alias("doc_id_b"),
            F.round(
                F.col("dot")
                / F.sqrt(F.col("n2a").cast("double") * F.col("n2b").cast("double")),
                6,
            ).alias("sim"),
        )
        .where(F.col("sim") >= F.lit(TFIDF_THRESHOLD))
        .orderBy("doc_id_a", "doc_id_b")
    )


def tfidf_cosine_oracle_sql(docs_cte: str) -> str:
    """DuckDB twin over a CTE body yielding (doc_id, text) named docs_in.
    Identical quantization, df cap, and integer sums."""
    return f"""
WITH docs_in AS ({docs_cte}),
nn AS (SELECT count(*) AS n FROM docs_in),
words AS (
    SELECT doc_id AS id,
           list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS wv
    FROM docs_in
),
grams AS (
    SELECT id, unnest([wv[i] || ' ' || wv[i+1] || ' ' || wv[i+2]
                       for i in range(1, len(wv) - 1)]) AS g
    FROM words WHERE len(wv) >= 3
),
post AS (SELECT id, g, count(*) AS tf FROM grams GROUP BY id, g),
df_t AS (
    SELECT g, count(*) AS df FROM post GROUP BY g
    HAVING count(*) <= {TFIDF_DF_CAP}
),
w AS (
    SELECT id, post.g,
           CAST(round(tf * (ln((n + 1.0) / (df + 1.0)) + 1.0)
                * {TFIDF_SCALE}) AS BIGINT) AS w
    FROM post JOIN df_t ON post.g = df_t.g, nn
),
norm2 AS (SELECT id, sum(w * w) AS n2 FROM w GROUP BY id),
dots AS (
    SELECT a.id AS ida, b.id AS idb, sum(a.w * b.w) AS dot
    FROM w a JOIN w b ON a.g = b.g AND a.id < b.id
    GROUP BY a.id, b.id
)
SELECT ida AS doc_id_a, idb AS doc_id_b,
       round(dot / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)), 6)
         AS sim
FROM dots JOIN norm2 na ON na.id = ida JOIN norm2 nb ON nb.id = idb
WHERE round(dot / sqrt(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE)), 6)
      >= {TFIDF_THRESHOLD}
ORDER BY doc_id_a, doc_id_b
"""
