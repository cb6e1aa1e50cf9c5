"""Data-selection operators: DSIR importance scoring, LM-perplexity
quality bucketing, and token-budget corpus mixing.

These are the model-targeted data-SELECTION tier of the training-data
pipeline, complementing the hygiene tier (dedup/decontamination,
operators/dedup.py, operators/corpus.py) and the packing tier
(operators/packing.py). The reference has no analogue — its quality
signal is the per-answer token-overlap score
(core/supabase_utils.py:250-367); these are the published-pipeline forms
of "keep the data that looks like what you want the model to learn":

- DSIR (hashed n-gram importance resampling, Xie et al. 2023,
  arXiv:2302.03169): per-document log importance weight
  log p_target(features) - log p_raw(features) under bag-of-hashed-ngram
  unigram models of a target domain vs the raw corpus.
- CCNet-style perplexity filtering (Wenzek et al. 2019,
  arXiv:1911.00359): per-document perplexity under a bigram LM trained
  on a high-quality subset, bucketed head/middle/tail by corpus
  percentiles.
- Token-budget mixing (the repeats/epochs arithmetic of
  data-constrained training, Muennighoff et al. 2023, arXiv:2305.16264):
  deterministic per-document copy counts that hit a target per-stratum
  token mixture, with epochs > 1 expressing data repetition.

Design rules are repo-wide: tokenization identical in both engines (the
dedup `_WORDS` split), md5-portable hashing, ln/exp applied to
identically-derived doubles with rounding at the output edge, candidate
work by equi-join on broadcast model tables — never all-pairs, never a
driver-side loop.

100 TB shapes
-------------
- DSIR: the model is B buckets (B = 1024 here) — two map-side-combined
  groupBy(bucket) aggregates produce it, a broadcast joins it back, and
  the only full shuffle is the per-doc score sum keyed by doc id.
- Perplexity: the LM tables are bounded by the (small, curated) LM
  corpus — bigram and context counts broadcast; scoring is a map-only
  explode + broadcast joins + one per-doc aggregation; the bucket
  thresholds are a 1-row percentile aggregate cross-broadcast back.
- Mixing: one tiny per-stratum aggregate broadcast back, then MAP-ONLY
  per-row copy counts — no shuffle touches the corpus rows; the summary
  re-aggregates per stratum (bounded output).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from koby_s_ai_vector_db_spark.functions.hashing import portable_hash32
from koby_s_ai_vector_db_spark.operators.corpus import sliding_shingles_expr
from koby_s_ai_vector_db_spark.operators.dedup import words_expr

DSIR_BUCKETS = 1024
DSIR_SEED = 11
SMOOTH_ALPHA = 1.0  # Laplace add-one: integer numerators/denominators


def ngram_feature_expr(text_col: str) -> Column:
    """Unigram + positional-bigram feature stream of a text column (the
    DSIR feature map before hashing). Non-distinct: importance weights
    count occurrences."""
    return F.concat(
        words_expr(text_col), sliding_shingles_expr(text_col, 2)
    )


def dsir_scores(
    docs: DataFrame,
    target: Column,
    carry_cols: tuple[str, ...] = (),
    n_buckets: int = DSIR_BUCKETS,
    seed: int = DSIR_SEED,
) -> DataFrame:
    """Per-document DSIR importance score over hashed n-gram features.

    score(d) = Σ_{f ∈ features(d)}  ln p_t(h(f)) − ln p_r(h(f))
    p_x(b) = (count_x(b) + α) / (total_x + α·B)

    ``target`` is a boolean Column marking the rows whose feature
    distribution defines the TARGET domain (the raw distribution is the
    whole input). Documents with zero features (empty text) are absent
    from the output. Scores are rounded at the edge — the per-doc sum
    folds doubles in shuffle order.

    Positive score ⇒ the document looks more like the target domain than
    like the average of the corpus; downstream selection keeps the top
    fraction or samples ∝ exp(score/τ).
    """
    lam = dsir_model(docs, target, n_buckets=n_buckets, seed=seed)
    return dsir_apply(
        docs, lam, carry_cols=carry_cols, n_buckets=n_buckets, seed=seed
    )


def _dsir_feats(
    docs: DataFrame, select_cols: list[Column], n_buckets: int, seed: int
) -> DataFrame:
    return docs.select(
        *select_cols, F.explode(ngram_feature_expr("text")).alias("_f")
    ).withColumn("_b", portable_hash32(F.col("_f"), seed=seed) % n_buckets)


def dsir_model(
    docs: DataFrame,
    target: Column,
    n_buckets: int = DSIR_BUCKETS,
    seed: int = DSIR_SEED,
) -> DataFrame:
    """The frozen DSIR model: the per-bucket log-likelihood-ratio table
    (_b, _lam). Train once on a reference corpus, then `dsir_apply` it
    to anything — including streams, where re-fitting per micro-batch
    would make scores depend on arrival order.

    Shape: per-bucket raw + target occurrence counts (B-bounded result,
    map-side combined) with the two totals as a cross-broadcast 1-row
    aggregate folded in. cnt feeds BOTH totals and the λ table —
    localCheckpoint the ≤B-row result so the corpus-sized feature
    subtree runs once for the model build (the diamond otherwise
    re-derives it per consumer)."""
    if n_buckets <= 0:
        raise ValueError(f"n_buckets must be positive, got {n_buckets}")
    feats = _dsir_feats(docs, [target.alias("_is_target")], n_buckets, seed)
    cnt = feats.groupBy("_b").agg(
        F.count("*").alias("_raw"),
        F.sum(F.col("_is_target").cast("long")).alias("_tgt"),
    ).localCheckpoint()
    totals = cnt.agg(
        F.sum("_raw").alias("_n_raw"), F.sum("_tgt").alias("_n_tgt")
    )
    a = SMOOTH_ALPHA
    return (
        cnt.join(F.broadcast(totals))
        .select(
            "_b",
            (
                F.log((F.col("_tgt") + a) / (F.col("_n_tgt") + a * n_buckets))
                - F.log((F.col("_raw") + a) / (F.col("_n_raw") + a * n_buckets))
            ).alias("_lam"),
        )
    )


def dsir_apply(
    docs: DataFrame,
    lam: DataFrame,
    carry_cols: tuple[str, ...] = (),
    n_buckets: int = DSIR_BUCKETS,
    seed: int = DSIR_SEED,
) -> DataFrame:
    """Score documents against a prebuilt λ table (`dsir_model`): feature
    explode, broadcast model join, per-doc score sum — the only
    corpus-sized shuffle. Buckets absent from the model (possible when
    scoring a stream against a frozen reference model) contribute 0."""
    feats = _dsir_feats(
        docs, [F.col("doc_id"), *[F.col(c) for c in carry_cols]], n_buckets, seed
    )
    scored = (
        feats.join(F.broadcast(lam), "_b", "left")
        .groupBy("doc_id", *carry_cols)
        .agg(
            F.count("*").alias("n_feat"),
            F.sum(F.coalesce("_lam", F.lit(0.0))).alias("_s"),
        )
    )
    return scored.select(
        "doc_id", *carry_cols, "n_feat", F.round("_s", 6).alias("score")
    )


def dsir_oracle_sql(target_pred: str, carry_cols: tuple[str, ...] = ()) -> str:
    """DuckDB twin of `dsir_scores` over `documents` (doc_id, text, ...).
    ``target_pred`` is a SQL boolean over the table's columns."""
    from koby_s_ai_vector_db_spark.functions.hashing import sql_hash32

    carry = "".join(f", {c}" for c in carry_cols)
    return f"""
WITH words AS (
    SELECT doc_id{carry}, ({target_pred}) AS is_target,
           list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '') AS w
    FROM documents
),
feats AS (
    SELECT doc_id{carry}, is_target,
           {sql_hash32("f", seed=DSIR_SEED)} % {DSIR_BUCKETS} AS b
    FROM (
        SELECT doc_id{carry}, is_target,
               unnest(w || [w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS f
        FROM words
    )
),
cnt AS (
    SELECT b, count(*) AS raw_n, sum(CASE WHEN is_target THEN 1 ELSE 0 END) AS tgt_n
    FROM feats GROUP BY b
),
totals AS (SELECT sum(raw_n) AS n_raw, sum(tgt_n) AS n_tgt FROM cnt),
lam AS (
    SELECT b, ln((tgt_n + {SMOOTH_ALPHA}) / (n_tgt + {SMOOTH_ALPHA} * {DSIR_BUCKETS}))
            - ln((raw_n + {SMOOTH_ALPHA}) / (n_raw + {SMOOTH_ALPHA} * {DSIR_BUCKETS})) AS lam
    FROM cnt CROSS JOIN totals
)
SELECT doc_id{carry}, count(*) AS n_feat, round(sum(lam), 6) AS score
FROM feats JOIN lam USING (b)
GROUP BY doc_id{carry}
"""


def lm_perplexity(
    docs: DataFrame,
    lm_docs: DataFrame,
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Per-document perplexity under an add-α bigram LM trained on
    ``lm_docs`` (the CCNet quality signal, with a bigram model standing
    in for KenLM's 5-gram — same join shapes at any order).

    p(w | prev) = (c2(prev, w) + α) / (c1(prev) + α·V)
    nll(d) = −(1/n) Σ ln p,   ppl(d) = e^{nll}

    c2 counts bigram occurrences in the LM corpus, c1 counts context
    occurrences (= c2 summed over w), V = LM vocabulary + 1 (the unseen
    token mass). Out-of-vocabulary events degrade smoothly: unseen bigram
    → α/(c1 + αV); unseen context → 1/V. Documents with < 2 tokens have
    no bigram events and are absent from the output.
    """
    return lm_apply(docs, lm_model(lm_docs), carry_cols=carry_cols)


def _bigrams(df: DataFrame, cols: list[Column]) -> DataFrame:
    return df.select(*cols, F.explode(sliding_shingles_expr("text", 2)).alias("g"))


def lm_model(lm_docs: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The frozen bigram LM: (c2, c1, vocab) tables trained on
    ``lm_docs``. Train once, `lm_apply` anywhere — including streams,
    where the reference model must not drift with arriving batches."""
    lm_post = _bigrams(lm_docs, []).withColumn(
        "prev", F.split_part(F.col("g"), F.lit(" "), F.lit(1))
    )
    c2 = lm_post.groupBy("g").agg(F.count("*").alias("c2"))
    c1 = lm_post.groupBy("prev").agg(F.count("*").alias("c1"))
    vocab = lm_docs.select(
        F.explode(words_expr("text")).alias("w")
    ).agg((F.countDistinct("w") + 1).cast("double").alias("v"))
    return c2, c1, vocab


def lm_apply(
    docs: DataFrame,
    model: tuple[DataFrame, DataFrame, DataFrame],
    carry_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Per-document perplexity under a prebuilt LM (`lm_model`): map-only
    bigram explode, broadcast model joins, one per-doc aggregation."""
    c2, c1, vocab = model
    events = (
        _bigrams(docs, [F.col("doc_id"), *[F.col(c) for c in carry_cols]])
        .withColumn("prev", F.split_part(F.col("g"), F.lit(" "), F.lit(1)))
        .join(F.broadcast(c2), "g", "left")
        .join(F.broadcast(c1), "prev", "left")
        .join(F.broadcast(vocab))
        .withColumn(
            "_lp",
            F.log(
                (F.coalesce("c2", F.lit(0)) + SMOOTH_ALPHA)
                / (F.coalesce("c1", F.lit(0)) + SMOOTH_ALPHA * F.col("v"))
            ),
        )
    )
    scored = events.groupBy("doc_id", *carry_cols).agg(
        F.count("*").alias("n_events"), F.sum("_lp").alias("_ll")
    )
    nll = -F.col("_ll") / F.col("n_events")
    return scored.select(
        "doc_id",
        *carry_cols,
        "n_events",
        F.round(nll, 6).alias("nll"),
        F.round(F.exp(nll), 6).alias("ppl"),
    )


def perplexity_buckets(scored: DataFrame) -> DataFrame:
    """CCNet's head/middle/tail split: bucket by corpus-wide perplexity
    percentiles (head = most fluent third). Thresholds are a 1-row exact
    percentile aggregate over the ROUNDED ppl (both engines interpolate
    from identical inputs), cross-broadcast back — bucketing itself is
    map-only. Both the threshold aggregate and the bucket join consume
    ``scored``: persist (or materialize) it so the corpus-sized scoring
    pipeline runs once, not twice."""
    cuts = scored.agg(
        F.round(F.percentile("ppl", F.lit(1.0 / 3.0)), 6).alias("_t_head"),
        F.round(F.percentile("ppl", F.lit(2.0 / 3.0)), 6).alias("_t_mid"),
    )
    out = scored.join(F.broadcast(cuts))
    bucket = (
        F.when(F.col("ppl") <= F.col("_t_head"), F.lit("head"))
        .when(F.col("ppl") <= F.col("_t_mid"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return out.select(
        *[c for c in scored.columns], bucket.alias("bucket")
    )


def token_budget_mix(
    docs: DataFrame, weights: dict[str, float], token_budget: int
) -> DataFrame:
    """Deterministic per-document copy counts hitting a target token
    mixture: stratum s should contribute weight(s)·budget tokens; with
    fewer available the data REPEATS (epochs > 1), with more it
    downsamples — the data-constrained-training recipe. Strata are the
    ``lang`` column; the copy draw is seeded with 23.

    n_copies(d) = ⌊epochs(s)⌋ + [hash_ppm(id) < frac(epochs(s))·10⁶]
    epochs(s) = weight(s)·budget / available_tokens(s)

    One tiny per-stratum aggregate is broadcast back; the per-row copy
    count is MAP-ONLY (portable md5 ppm threshold — the
    `stratified_sample` mechanism generalized past rate 1.0). Strata
    absent from ``weights`` get weight 0 and drop out. In expectation
    each stratum achieves its target exactly; a fixed corpus realizes it
    to within the Bernoulli noise of the fractional part.
    """
    toks, plan = _mix_parts(docs, weights, token_budget, "lang", None, None)
    return _mix_copies(toks, plan, "lang", 23)


def _mix_parts(
    docs: DataFrame,
    weights: dict[str, float],
    token_budget: int,
    strata_col: str,
    tokens_col: str | None,
    cache_key,
) -> tuple[DataFrame, DataFrame]:
    """Validated shared pieces of the mix: (toks, plan). toks is the
    per-doc token-count projection (ONE corpus tokenization pass, shared
    by the copy-count join and the summary audit); plan is the bounded
    per-stratum table. A stratum whose available token count is 0 (all
    empty documents) has nothing to repeat or sample — its epochs are
    defined as 0, so it drops from the mix instead of dividing by zero."""
    if token_budget <= 0:
        raise ValueError(f"token_budget must be positive, got {token_budget}")
    if not weights:
        raise ValueError("weights must be non-empty")
    bad = {s: w for s, w in weights.items() if w < 0}
    if bad:
        raise ValueError(f"negative mixture weights: {bad}")

    n_tok = (
        F.col(tokens_col) if tokens_col else F.size(words_expr("text"))
    )
    toks = docs.select(
        F.col("doc_id"),
        F.col(strata_col),
        n_tok.cast("long").alias("n_tokens"),
    )
    avail = toks.groupBy(strata_col).agg(
        F.sum("n_tokens").alias("avail_tokens"),
        F.count("*").alias("n_docs_in"),
    )
    w_expr = F.lit(0.0)
    for s, w in sorted(weights.items()):
        w_expr = F.when(F.col(strata_col) == s, F.lit(w)).otherwise(w_expr)
    epochs = F.when(
        F.col("avail_tokens") > 0,
        w_expr * token_budget / F.col("avail_tokens"),
    ).otherwise(F.lit(0.0))
    plan = avail.select(
        strata_col,
        "avail_tokens",
        "n_docs_in",
        (w_expr * token_budget).alias("target_tokens"),
        epochs.alias("epochs"),
    )
    # plan is consumed by both the copy-count join and the summary's
    # final select; localCheckpoint the per-stratum-bounded result so
    # each consumer reads the materialized rows instead of re-running
    # the corpus-sized avail aggregate (same diamond rule as dsir_model).
    # The checkpoint is an EAGER per-build action; callers with a stable
    # corpus pass cache_key so it runs once per session (the
    # construction-is-action-free invariant, tests/test_round9_ops.py).
    if cache_key is None:
        return toks, plan.localCheckpoint()
    from koby_s_ai_vector_db_spark.functions.caching import memo_persist

    # The mix parameters join the memo key: two call sites reusing a
    # cache_key with different weights/budget/columns must never share a
    # checkpointed plan (ADVICE r09 — collision-proof by construction).
    param_key = (
        tuple(sorted(weights.items())),
        token_budget,
        strata_col,
        tokens_col,
    )
    return toks, memo_persist(
        docs.sparkSession,
        ("mix_plan", cache_key, param_key),
        lambda: plan.localCheckpoint(),
    )


def _mix_copies(
    toks: DataFrame, plan: DataFrame, strata_col: str, seed: int
) -> DataFrame:
    h = portable_hash32(F.col("doc_id").cast("string"), seed=seed) % 1_000_000
    frac = F.col("epochs") - F.floor("epochs")
    n_copies = F.floor("epochs").cast("long") + F.when(
        h < F.round(frac * 1_000_000, 0).cast("long"), F.lit(1)
    ).otherwise(F.lit(0))
    return (
        toks.join(F.broadcast(plan), strata_col)
        .withColumn("n_copies", n_copies)
        .filter(F.col("n_copies") > 0)
        .select("doc_id", strata_col, "n_tokens", "n_copies")
    )


def token_budget_mix_summary(
    docs: DataFrame,
    weights: dict[str, float],
    token_budget: int,
    strata_col: str = "lang",
    seed: int = 23,
    tokens_col: str | None = None,
    cache_key=None,
) -> DataFrame:
    """Per-stratum audit of `token_budget_mix`: available vs target vs
    achieved tokens and the epoch (repeat) factor. Bounded output —
    one row per stratum. Shares the toks/plan subtrees with the mix so
    the corpus-sized tokenization pass runs once, not twice."""
    toks, plan = _mix_parts(
        docs, weights, token_budget, strata_col, tokens_col, cache_key
    )
    mix = _mix_copies(toks, plan, strata_col, seed)
    achieved = mix.groupBy(strata_col).agg(
        F.sum(F.col("n_tokens") * F.col("n_copies")).alias("achieved_tokens"),
        F.sum("n_copies").alias("achieved_docs"),
    )
    return (
        # Both sides are per-stratum bounded; broadcast explicitly — the
        # checkpointed plan carries no size statistics, so Catalyst would
        # otherwise fall back to a sort-merge join.
        plan.join(F.broadcast(achieved), strata_col, "left")
        .select(
            strata_col,
            "n_docs_in",
            "avail_tokens",
            F.round("target_tokens", 6).alias("target_tokens"),
            F.round("epochs", 6).alias("epochs"),
            F.coalesce("achieved_tokens", F.lit(0)).alias("achieved_tokens"),
            F.coalesce("achieved_docs", F.lit(0)).alias("achieved_docs"),
        )
    )


GUMBEL_SEED = 29


def gumbel_topk_sample(scored: DataFrame, k: int, tau: float = 1.0) -> DataFrame:
    """Deterministic importance RESAMPLING — the "R" in DSIR: draw k
    items without replacement with P ∝ exp(score/τ) via the Gumbel-top-k
    trick (equivalently Efraimidis-Spirakis weighted reservoir
    sampling), derandomized through the portable md5 hash so both
    engines draw the SAME sample.

    u(id)  = (hash_ppm(id) + 0.5) / 10⁶            ∈ (0, 1)
    key(d) = score(d)/τ − ln(−ln u(id))            (Gumbel-max)
    keep the k largest keys (rounded; id tiebreak).

    τ → 0 approaches deterministic top-k by score; τ large approaches
    uniform sampling. Plan shape: map-only key computation, then
    orderBy+limit — TakeOrderedAndProject (per-partition heaps, no
    global sort); the final rank window runs on the k-row result.
    """
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    if tau <= 0:
        raise ValueError(f"tau must be positive, got {tau}")
    from pyspark.sql import Window

    u = (
        portable_hash32(F.col("doc_id").cast("string"), seed=GUMBEL_SEED)
        % 1_000_000
        + F.lit(0.5)
    ) / 1_000_000.0
    keyed = scored.withColumn(
        "skey", F.round(F.col("score") / tau - F.log(-F.log(u)), 6)
    )
    top = keyed.orderBy(F.desc("skey"), F.asc("doc_id")).limit(k)
    w = Window.orderBy(F.desc("skey"), F.asc("doc_id"))
    return top.withColumn("rank", F.row_number().over(w))


# --- DuckDB oracle renderers ------------------------------------------------
# Composable CTE fragments (the cm_oracle_cte convention): registered
# oracles assemble these instead of duplicating SQL, so a smoothing or
# rounding tweak cannot silently desync the standalone queries from the
# end-to-end pipeline oracle.


def lm_oracle_ctes(words_rel: str, lm_pred: str) -> str:
    """CTEs ``lm_post``/``c2``/``c1``/``vocab`` — the frozen bigram LM —
    over a relation ``words_rel`` carrying a tokenized column ``w``,
    trained on the rows matching ``lm_pred``. Mirrors `lm_model`."""
    return f"""lm_post AS (
    SELECT g, split_part(g, ' ', 1) AS prev
    FROM (SELECT unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS g
          FROM {words_rel} WHERE {lm_pred})
),
c2 AS (SELECT g, count(*) AS c2 FROM lm_post GROUP BY g),
c1 AS (SELECT prev, count(*) AS c1 FROM lm_post GROUP BY prev),
vocab AS (
    SELECT (count(DISTINCT t) + 1)::DOUBLE AS v
    FROM (SELECT unnest(w) AS t FROM {words_rel} WHERE {lm_pred})
)"""


def ppl_scored_ctes(
    doc_rel: str,
    carry_cols: tuple[str, ...],
    emit_nll: bool = True,
) -> str:
    """CTEs ``events``/``scored`` — per-doc perplexity under the LM CTEs
    from `lm_oracle_ctes` — over a relation ``doc_rel`` carrying
    (doc_id, carry_cols..., w). Mirrors `lm_apply`."""
    carry = "".join(f", {c}" for c in carry_cols)
    ecarry = "".join(f", e.{c}" for c in carry_cols)
    nll = (
        "count(*) AS n_events, round(-sum(lp) / count(*), 6) AS nll,\n           "
        if emit_nll
        else ""
    )
    return f"""events AS (
    SELECT e.doc_id{ecarry},
           ln((coalesce(c2.c2, 0) + {SMOOTH_ALPHA}) / (coalesce(c1.c1, 0) + {SMOOTH_ALPHA} * vocab.v)) AS lp
    FROM (SELECT doc_id{carry},
                 unnest([w[i] || ' ' || w[i+1] for i in range(1, len(w))]) AS g
          FROM {doc_rel}) e
    LEFT JOIN c2 USING (g)
    LEFT JOIN c1 ON c1.prev = split_part(e.g, ' ', 1)
    CROSS JOIN vocab
),
scored AS (
    SELECT doc_id{carry}, {nll}round(exp(-sum(lp) / count(*)), 6) AS ppl
    FROM events GROUP BY doc_id{carry}
)"""


def mix_oracle_sql(src_rel: str, case_sql: str, token_budget: int, seed: int) -> str:
    """CTEs ``plan``/``mix``/``achieved`` + the final per-stratum summary
    SELECT over a relation ``src_rel`` carrying (doc_id, lang,
    n_tokens). ``case_sql`` is the per-stratum weight CASE expression
    (e.g. `stratified_sample_oracle_case` style). Mirrors
    `token_budget_mix_summary` including the zero-available guard."""
    from koby_s_ai_vector_db_spark.functions.hashing import sql_hash32

    h = sql_hash32("CAST(t.doc_id AS VARCHAR)", seed=seed)
    return f"""plan AS (
    SELECT lang, CAST(sum(n_tokens) AS BIGINT) AS avail_tokens, count(*) AS n_docs_in,
           ({case_sql}) * {token_budget} AS target_tokens,
           CASE WHEN sum(n_tokens) > 0
                THEN ({case_sql}) * {token_budget} / sum(n_tokens)
                ELSE 0.0 END AS epochs
    FROM {src_rel} GROUP BY lang
),
mix AS (
    SELECT t.lang, t.n_tokens,
           CAST(floor(p.epochs) AS BIGINT)
           + (CASE WHEN {h} % 1000000
                        < CAST(round((p.epochs - floor(p.epochs)) * 1000000) AS BIGINT)
                   THEN 1 ELSE 0 END) AS n_copies
    FROM {src_rel} t JOIN plan p USING (lang)
),
achieved AS (
    SELECT lang, sum(n_tokens * n_copies) AS achieved_tokens,
           sum(n_copies) AS achieved_docs
    FROM mix GROUP BY lang
)
SELECT p.lang, p.n_docs_in, p.avail_tokens,
       CAST(round(p.target_tokens, 6) AS DOUBLE) AS target_tokens,
       CAST(round(p.epochs, 6) AS DOUBLE) AS epochs,
       CAST(coalesce(a.achieved_tokens, 0) AS BIGINT) AS achieved_tokens,
       CAST(coalesce(a.achieved_docs, 0) AS BIGINT) AS achieved_docs
FROM plan p LEFT JOIN achieved a USING (lang)"""
