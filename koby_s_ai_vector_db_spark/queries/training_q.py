"""Training-pipeline finishing queries: exact-substring hygiene and
sequence packing.

These close the corpus-build story that queries/corpus_q.py starts
(sample → dedup → decontaminate → mix): `dedup_substring` is the
position-level verbatim-duplication pass (the suffix-array step of
published pipelines, re-derived as two-shuffle DataFrame algebra —
operators/substrings.py), and `pack_sequences` maps the surviving corpus
onto fixed-length training sequences per output shard
(operators/packing.py). The reference has no analogue for either (its
dedup surface is the filename-keyed upsert, core/supabase_utils.py:203-248);
both are north-star pillars with exact DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from koby_s_ai_vector_db_spark.functions.caching import memo, memo_persist
from koby_s_ai_vector_db_spark.operators.packing import (
    pack_sequences,
    pack_sequences_oracle_sql,
)
from koby_s_ai_vector_db_spark.operators.substrings import (
    repeated_substring_oracle_sql,
    repeated_substring_spans,
)
from koby_s_ai_vector_db_spark.registry import register
from koby_s_ai_vector_db_spark.sources.tables import load_table, local_frame

# 8 tokens ≈ the 50-token published threshold scaled to the 31-word
# fixture vocabulary: random 8-grams (31^8 combinations) never collide,
# so every flagged span is genuinely copied text (planted near-dups).
SUBSTR_K = 8

_SUBSTR_ORACLE = f"""
WITH base AS ({repeated_substring_oracle_sql(k=SUBSTR_K, min_count=2)})
SELECT doc_id, CAST(span_start AS BIGINT) AS span_start,
       CAST(span_end AS BIGINT) AS span_end,
       CAST(span_tokens AS BIGINT) AS span_tokens, n_windows
FROM base
"""


@register("dedup_substring", _SUBSTR_ORACLE)
def dedup_substring_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal repeated >=8-token spans across `documents` — the
    exact-substring dedup tier: one exchange on a 128-bit gram hash
    (count-window, no self-join), one on doc_id (island merge).

    hash_gram_key="hash128" adopted round 12 (BASELINE.md A/B): the
    raw-gram-text exchange key ties standalone (~8.8 s sf1) but spilled
    to 79-214 s under battery-JVM memory pressure, while the fixed-width
    hashed key held 8.8 s — and a shared 100 TB executor lives in the
    pressure regime. Collision bound G^2/2^129 ≈ 6e-13 at 100 TB
    (operator docstring): exact for all practical purposes, value-equal
    to the text key on every fixture (tests/test_training_ops.py)."""
    docs = load_table(spark, sf_dir, "documents")
    out = repeated_substring_spans(
        docs, k=SUBSTR_K, min_count=2, hash_gram_key="hash128"
    )
    return out.select(
        "doc_id",
        out.span_start.cast("long").alias("span_start"),
        out.span_end.cast("long").alias("span_end"),
        out.span_tokens.cast("long").alias("span_tokens"),
        "n_windows",
    )


# 64-token sequences, 8 shards: ~3.4 fixture docs per sequence, every
# shard packed independently (the per-shard window is the scale story —
# n_shards scales with the cluster, not the corpus).
PACK_SEQ_LEN = 64
PACK_SHARDS = 8
PACK_SEED = 11

_PACK_ORACLE = pack_sequences_oracle_sql(
    seq_len=PACK_SEQ_LEN, n_shards=PACK_SHARDS, seed=PACK_SEED
)


@register("pack_sequences", _PACK_ORACLE)
def pack_sequences_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concat-and-chunk packing of `documents` into 64-token sequences
    across 8 md5-assigned shards: (shard, seq_id, doc_id, doc_offset,
    n_tokens) with sum(n_tokens) = corpus tokens (nothing dropped or
    padded)."""
    docs = load_table(spark, sf_dir, "documents")
    return pack_sequences(
        docs, seq_len=PACK_SEQ_LEN, n_shards=PACK_SHARDS, seed=PACK_SEED
    )


# --- BPE tokenizer training -------------------------------------------------
# The tokenizer-learning step (operators/bpe.py): learn merge rules from
# the corpus, then encode documents under the learned vocabulary. The
# argmax-then-rewrite loop is not one SQL statement, so both queries take
# the driver's rows-only check; exactness is pytest-verified against a
# straight-Python BPE reference (tests/test_bpe.py).
BPE_MERGES = 24

# Learned state memoized per sf_dir in the application's memo store:
# training runs the iterative loop once per application; bench/driver
# re-calls hit the memo.


def _bpe_state(spark: SparkSession, sf_dir: str):
    from koby_s_ai_vector_db_spark.operators.bpe import learn_bpe

    return memo(
        spark,
        ("bpe_state", sf_dir),
        lambda: learn_bpe(load_table(spark, sf_dir, "documents"), n_merges=BPE_MERGES),
    )


@register("bpe_train")
def bpe_train_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned BPE merge table over `documents`: (rank, left, right,
    merged, pair_count) in learning order. One corpus-sized word-count
    aggregate; the training loop runs on the vocabulary-sized distinct-
    word table, so its cost is independent of corpus size."""
    merges, _vocab = _bpe_state(spark, sf_dir)
    return memo(
        spark,
        ("bpe_train_df", sf_dir),
        lambda: local_frame(
            spark,
            merges,
            "rank int, left string, right string, merged string, pair_count bigint",
        ),
    )


@register("bpe_encode")
def bpe_encode_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token counts under the learned BPE vocabulary:
    (doc_id, n_words, n_tokens) via a broadcast word→syms cache join —
    one merge application per DISTINCT word, not per occurrence."""
    from koby_s_ai_vector_db_spark.operators.bpe import bpe_encode

    _merges, vocab = _bpe_state(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    return bpe_encode(docs, vocab)


# bpe_train/bpe_encode take the driver's rows-only check (the
# argmax-then-rewrite loop is not one SQL statement). This audit twin is
# the hash-checked external evidence (the emb_pca_audit /
# pack_bestfit_audit pattern): everything DuckDB CAN recompute it does
# exactly (doc coverage, word totals, the zero-merge character-token
# total, vocabulary size — a real check that the learned word→syms cache
# covers exactly the corpus vocabulary), and the learned-state invariants
# are pinned as literal zeros (no OOV occurrence when encoding the
# training corpus itself; per-doc n_words ≤ n_tokens ≤ char_tokens —
# every word is ≥1 token and merges only shrink; encode output covers
# exactly the docs that have words).
_BPE_AUDIT_ORACLE = """
WITH words AS (
    SELECT doc_id,
           unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                              t -> t <> '')) AS word
    FROM documents
),
per_doc AS (
    SELECT doc_id, count(*) AS n_w, sum(length(word) + 1) AS char_toks
    FROM words GROUP BY doc_id
)
SELECT CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_w) AS BIGINT) AS total_words,
       CAST(sum(char_toks) AS BIGINT) AS total_char_tokens,
       (SELECT CAST(count(DISTINCT word) AS BIGINT) FROM words)
           AS vocab_words,
       CAST(0 AS BIGINT) AS n_oov_occurrences,
       CAST(0 AS BIGINT) AS n_bound_violations,
       CAST(0 AS BIGINT) AS n_coverage_mismatches
FROM per_doc
"""


@register("bpe_audit", _BPE_AUDIT_ORACLE)
def bpe_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DuckDB-checkable audit of the BPE train+encode pair (one row).

    Plan shape: the corpus pays the same word-explode it pays for the
    encode (map-side combined into per-doc aggregates), the encode
    output full-outer-joins the per-doc character-token table on doc_id,
    and the two learned-state scalars (vocab size, OOV count against the
    broadcast word→syms cache) ride 1-row broadcast scalar attaches.
    Nothing here collects, and the vocab side is vocabulary-sized."""
    from pyspark.sql import functions as F

    from koby_s_ai_vector_db_spark.operators.bpe import bpe_encode
    from koby_s_ai_vector_db_spark.operators.dedup import words_expr

    _merges, vocab = _bpe_state(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    enc = bpe_encode(docs, vocab)  # (doc_id, n_words, n_tokens)
    occ = docs.select("doc_id", F.explode(words_expr("text")).alias("word"))
    per_doc = occ.groupBy("doc_id").agg(
        F.count("*").alias("n_w"),
        F.sum(F.length("word") + F.lit(1)).cast("long").alias("char_toks"),
    )
    joined = enc.join(per_doc, "doc_id", "full_outer")
    core = joined.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_w").cast("long").alias("total_words"),
        F.sum("char_toks").cast("long").alias("total_char_tokens"),
        F.sum(
            F.when(F.col("n_tokens") < F.col("n_words"), 1)
            .when(F.col("n_tokens") > F.col("char_toks"), 1)
            .otherwise(0)
        )
        .cast("long")
        .alias("n_bound_violations"),
        F.sum(
            F.when(
                F.col("n_words").isNull() | F.col("n_w").isNull(), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_coverage_mismatches"),
    )
    vocab_n = vocab.agg(F.count("*").cast("long").alias("vocab_words"))
    oov = occ.join(
        F.broadcast(vocab.select("word")), "word", "left_anti"
    ).agg(F.count("*").cast("long").alias("n_oov_occurrences"))
    return (
        core.crossJoin(F.broadcast(vocab_n))
        .crossJoin(F.broadcast(oov))
        .select(
            "n_docs",
            "total_words",
            "total_char_tokens",
            "vocab_words",
            "n_oov_occurrences",
            "n_bound_violations",
            "n_coverage_mismatches",
        )
    )


# --- shard manifest ---------------------------------------------------------
# The audit table a training job reads before consuming packed shards:
# per-shard sequence/doc/token counts and how many sequences are full
# (every sequence but each shard's tail is exactly seq_len by
# construction — the manifest PROVES it rather than assuming it).
_MANIFEST_ORACLE = f"""
WITH base AS ({pack_sequences_oracle_sql(seq_len=PACK_SEQ_LEN, n_shards=PACK_SHARDS, seed=PACK_SEED)}),
per_seq AS (
    SELECT shard, seq_id, sum(n_tokens) AS seq_tokens
    FROM base GROUP BY shard, seq_id
),
agg1 AS (
    SELECT shard, count(*) AS n_seqs, sum(seq_tokens) AS n_tokens,
           sum(CASE WHEN seq_tokens = {PACK_SEQ_LEN} THEN 1 ELSE 0 END) AS n_full_seqs
    FROM per_seq GROUP BY shard
),
agg2 AS (SELECT shard, count(DISTINCT doc_id) AS n_docs FROM base GROUP BY shard)
SELECT shard, n_seqs, n_docs,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_full_seqs AS BIGINT) AS n_full_seqs
FROM agg1 JOIN agg2 USING (shard)
"""


@register("shard_manifest", _MANIFEST_ORACLE)
def shard_manifest_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard manifest of the packed training sequences: sequence,
    document, and token counts plus the count of exactly-full sequences.
    Two bounded aggregates (per-seq rollup then per-shard, both keyed by
    the shard hash pack_sequences already shuffled on) joined on the
    <=n_shards-row shard key.

    The n_docs arm does NOT re-run the packing (round 11): a document's
    shard is a pure hash of its id, so docs-per-shard is a map-side
    combined count straight off the corpus — the old
    countDistinct-over-seqs arm re-ran the whole per-shard offset window
    a second time for a number the doc table already knows. Equality
    with the seqs-derived count is exact: every doc with > 0 tokens
    contributes >= 1 seqs row carrying that same hash shard, and doc
    ids are unique (the repo-wide invariant)."""
    from pyspark.sql import functions as F

    from koby_s_ai_vector_db_spark.functions.hashing import portable_hash32
    from koby_s_ai_vector_db_spark.operators.dedup import words_expr

    # not spread: the round-11 A/B measured the spread variant slower at
    # sf0.1 and no better at sf1 (the pack window's shard exchange
    # redistributes anyway).
    docs = load_table(spark, sf_dir, "documents")
    seqs = pack_sequences(
        docs, seq_len=PACK_SEQ_LEN, n_shards=PACK_SHARDS, seed=PACK_SEED
    )
    per_seq = seqs.groupBy("shard", "seq_id").agg(
        F.sum("n_tokens").alias("_st")
    )
    agg1 = per_seq.groupBy("shard").agg(
        F.count("*").alias("n_seqs"),
        F.sum("_st").alias("n_tokens"),
        F.sum(
            F.when(F.col("_st") == PACK_SEQ_LEN, 1).otherwise(0)
        ).alias("n_full_seqs"),
    )
    agg2 = (
        docs.select(
            (
                portable_hash32(F.col("doc_id").cast("string"), seed=PACK_SEED)
                % PACK_SHARDS
            )
            .cast("int")
            .alias("shard"),
            F.size(words_expr("text")).alias("_nt"),
        )
        .filter(F.col("_nt") > 0)
        .groupBy("shard")
        .agg(F.count("*").alias("n_docs"))
    )
    return agg1.join(agg2, "shard").select(
        "shard", "n_seqs", "n_docs", "n_tokens", "n_full_seqs"
    )


# --- sequence-length histogram ----------------------------------------------
# The planning readout that sizes PACK_SEQ_LEN and the shard count before
# a packing run: token-length distribution in fixed-width buckets with a
# running token total (all-integer, so bit-identical cross-engine). At
# 100 TB this is one map-side token count + a groupBy on ~hundreds of
# bucket keys; the cumulative window runs over the BUCKET table (bounded
# by max_len/width rows), never the corpus.
HIST_BUCKET_W = 16

_SEQ_HIST_ORACLE = f"""
WITH toks AS (
    SELECT len(list_filter(string_split_regex(text, '\\s+'), t -> t <> ''))
               AS n_tokens
    FROM documents
),
buckets AS (
    SELECT n_tokens // {HIST_BUCKET_W} AS bucket,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS bucket_tokens
    FROM toks GROUP BY 1
)
SELECT bucket * {HIST_BUCKET_W} AS len_from,
       bucket * {HIST_BUCKET_W} + {HIST_BUCKET_W - 1} AS len_to,
       n_docs, bucket_tokens,
       CAST(sum(bucket_tokens) OVER (ORDER BY bucket) AS BIGINT) AS cum_tokens
FROM buckets ORDER BY len_from
"""


@register("seq_len_histogram", _SEQ_HIST_ORACLE)
def seq_len_histogram_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-length histogram of `documents` in 16-token buckets plus the
    cumulative token total — the input a packing job uses to pick seq_len
    (what fraction of tokens live in docs shorter than the target) and
    predict tail waste."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from koby_s_ai_vector_db_spark.operators.dedup import words_expr

    docs = load_table(spark, sf_dir, "documents")
    buckets = (
        docs.select(F.size(words_expr("text")).alias("n_tokens"))
        .select(
            (F.col("n_tokens") / HIST_BUCKET_W).cast("long").alias("bucket"),
            "n_tokens",
        )
        .groupBy("bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("bucket_tokens"),
        )
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return buckets.select(
        (F.col("bucket") * HIST_BUCKET_W).alias("len_from"),
        (F.col("bucket") * HIST_BUCKET_W + (HIST_BUCKET_W - 1)).alias("len_to"),
        "n_docs",
        "bucket_tokens",
        F.sum("bucket_tokens").over(w).cast("long").alias("cum_tokens"),
    ).orderBy("len_from")


# --- curriculum phase manifest ------------------------------------------------
# Curriculum pretraining orders the corpus easy/clean-first: split the
# corpus into quality quartiles and emit one manifest row per phase.
# Scale note: NO global row_number — a single-task sort at 100 TB. The
# quartile cutoffs come from a cumulative histogram over the DISTINCT
# quantized scores (bounded by the 1e6 score granularity, not corpus
# size); docs sharing a cutoff score share a phase, so phase sizes are
# exact only up to score ties (the deterministic, shuffle-free policy).
from pyspark.sql import functions as F  # noqa: E402

from koby_s_ai_vector_db_spark.queries.text_q import (  # noqa: E402
    _QUALITY_EXPR,
    _QUALITY_T_CTE,
)

CURR_PHASES = (0.25, 0.5, 0.75)

_CURR_ORACLE = f"""
WITH {_QUALITY_T_CTE},
scored AS (
    SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
           CAST(round(({_QUALITY_EXPR}) * 1000000) AS BIGINT) AS qq
    FROM t
),
hist AS (
    SELECT qq, count(*) AS c FROM scored GROUP BY qq
),
cum AS (
    SELECT qq, sum(c) OVER (ORDER BY qq ROWS UNBOUNDED PRECEDING) AS cum,
           sum(c) OVER () AS n
    FROM hist
),
cuts AS (
    SELECT
      min(CASE WHEN cum >= CAST(ceil(0.25 * n) AS BIGINT) THEN qq END) AS c25,
      min(CASE WHEN cum >= CAST(ceil(0.5 * n) AS BIGINT) THEN qq END) AS c50,
      min(CASE WHEN cum >= CAST(ceil(0.75 * n) AS BIGINT) THEN qq END) AS c75
    FROM cum
)
SELECT CAST(4 - ((s.qq > c.c25)::INT + (s.qq > c.c50)::INT
              + (s.qq > c.c75)::INT) AS INT) AS phase,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(s.n_tok) AS BIGINT) AS n_tokens,
       CAST(min(s.qq) AS BIGINT) AS min_qq,
       CAST(max(s.qq) AS BIGINT) AS max_qq
FROM scored s CROSS JOIN cuts c
GROUP BY 1
"""


@register("curriculum_order", _CURR_ORACLE)
def curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-curriculum manifest: corpus quartiles by quantized quality
    score, phase 1 = best. Cutoffs come from a cumulative histogram over
    distinct scores (bounded by score granularity — no global sort of
    the corpus); assignment is a broadcast compare. Reuses the memoized
    quality projection shared with quality_percentile_gate."""
    from pyspark.sql import Window

    from koby_s_ai_vector_db_spark.queries.text_q import quality_scored

    scored = quality_scored(spark, sf_dir)
    hist = scored.groupBy("qq").agg(F.count("*").alias("c"))
    w = Window.orderBy("qq").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select(
        "qq",
        F.sum("c").over(w).alias("cum"),
        F.sum("c").over(Window.partitionBy()).alias("n"),
    )
    cuts = cum.agg(
        *[
            F.min(
                F.when(
                    F.col("cum")
                    >= F.ceil(F.lit(q) * F.col("n")).cast("long"),
                    F.col("qq"),
                )
            ).alias(f"c{int(q * 100)}")
            for q in CURR_PHASES
        ]
    )
    phase = (
        F.lit(4)
        - (
            (F.col("qq") > F.col("c25")).cast("int")
            + (F.col("qq") > F.col("c50")).cast("int")
            + (F.col("qq") > F.col("c75")).cast("int")
        )
    ).cast("int")
    return (
        scored.crossJoin(F.broadcast(cuts))
        .groupBy(phase.alias("phase"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
            F.min("qq").alias("min_qq"),
            F.max("qq").alias("max_qq"),
        )
    )


# --- deterministic train/val/test split ---------------------------------------
# Hash-based splits are the reproducible alternative to random ones:
# membership is a pure function of the id (stable across re-runs,
# engines, and corpus growth — a doc never migrates between splits when
# new data arrives). Map-only; the manifest is one tiny aggregate.
from koby_s_ai_vector_db_spark.functions.hashing import (  # noqa: E402
    portable_hash32,
    sql_hash32,
)

SPLIT_SEED = 41
SPLIT_TRAIN, SPLIT_VAL = 80, 90   # percent boundaries

_SPLIT_ORACLE = f"""
WITH assigned AS (
    SELECT lang,
           CASE WHEN {sql_hash32("CAST(doc_id AS VARCHAR)", seed=SPLIT_SEED)} % 100
                     < {SPLIT_TRAIN} THEN 'train'
                WHEN {sql_hash32("CAST(doc_id AS VARCHAR)", seed=SPLIT_SEED)} % 100
                     < {SPLIT_VAL} THEN 'val'
                ELSE 'test' END AS split,
           len(list_filter(string_split_regex(lower(text), '\\s+'),
                           t -> t <> ''))::BIGINT AS n_tokens
    FROM documents
)
SELECT lang, split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
       round(CAST(count(*) AS DOUBLE)
             / sum(count(*)) OVER (PARTITION BY lang), 6) AS share
FROM assigned GROUP BY lang, split
"""


@register("split_assign", _SPLIT_ORACLE)
def split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split by portable id hash,
    reported per (lang, split) with the within-language share. Membership
    is a pure function of doc_id — stable under re-runs and corpus
    growth. Map-only assignment, one small aggregate."""
    from pyspark.sql import Window

    from koby_s_ai_vector_db_spark.operators.dedup import words_expr

    docs = load_table(spark, sf_dir, "documents")
    h = portable_hash32(F.col("doc_id").cast("string"), seed=SPLIT_SEED) % 100
    assigned = docs.select(
        "lang",
        F.when(h < SPLIT_TRAIN, "train")
        .when(h < SPLIT_VAL, "val")
        .otherwise("test")
        .alias("split"),
        F.size(words_expr("text")).cast("long").alias("n_tokens"),
    )
    agg = assigned.groupBy("lang", "split").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
    )
    return agg.select(
        "lang",
        "split",
        "n_docs",
        "n_tokens",
        F.round(
            F.col("n_docs").cast("double")
            / F.sum("n_docs").over(Window.partitionBy("lang")),
            6,
        ).alias("share"),
    )


# --- boundary-preserving BFD packing (rows-only) -------------------------------
# Best-Fit-Decreasing is sequential within a shard — not expressible as
# one DuckDB SQL statement — so like the BPE tier this registers
# WITHOUT an oracle (driver records a rows-only check) and the exact
# assignment is pinned in pytest against a straight-Python BFD
# (tests/test_training_ops.py) plus packing invariants (no bin over
# capacity, bin count >= the token-volume lower bound).
from koby_s_ai_vector_db_spark.operators.packing import pack_bestfit_bins  # noqa: E402

BESTFIT_SEQ = 128
BESTFIT_SHARDS = 4


def _bestfit_bins_memo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BFD fold output, persisted once per (application, sf_dir):
    pack_bestfit and pack_bestfit_audit both read it, and the sequential
    per-shard pandas fold must not re-run per consumer."""
    return memo_persist(
        spark,
        ("bestfit_bins", sf_dir),
        lambda: pack_bestfit_bins(
            load_table(spark, sf_dir, "documents"),
            seq_len=BESTFIT_SEQ,
            n_shards=BESTFIT_SHARDS,
        ),
    )


@register("pack_bestfit")
def pack_bestfit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard manifest of boundary-preserving BFD packing (each doc
    intact in one seq_len bin — the no-cross-document-attention packing
    mode; contrast pack_sequences' concat-and-chunk). One compact
    projection, one applyInPandas task per shard, one summary
    aggregate. Rows-only at the driver (the bin ASSIGNMENT is not SQL);
    pack_bestfit_audit is the hash-checked external arm."""
    bins = _bestfit_bins_memo(spark, sf_dir)
    from pyspark.sql import functions as F

    # ONE aggregate over the fold's output: used_tokens is the same sum
    # whether grouped per-bin first or not, and n_bins is a distinct
    # count — a second aggregation arm joined back would plan the
    # sequential BFD fold (and its scan) twice.
    summary = bins.groupBy("shard").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("bin_id").alias("n_bins"),
        F.sum("n_tokens").cast("long").alias("used_tokens"),
        F.sum(F.col("truncated").cast("long")).cast("long")
        .alias("n_truncated"),
    )
    return (
        summary
        .select(
            "shard",
            "n_docs",
            "n_bins",
            "used_tokens",
            (F.col("n_bins") * BESTFIT_SEQ - F.col("used_tokens"))
            .cast("long")
            .alias("waste_tokens"),
            F.round(
                F.col("used_tokens").cast("double")
                / (F.col("n_bins") * BESTFIT_SEQ).cast("double"),
                6,
            ).alias("util"),
            "n_truncated",
        )
        .orderBy("shard")
    )


# Hash-checked audit arm for the rows-only BFD packing (VERDICT r07 item
# 3, the emb_pca_audit pattern): per shard, every metric is either
# (a) recomputable by DuckDB straight from the parquet — the shard hash
# is portable, so doc counts, packed-token conservation
# (sum over bins == sum of min(nt, seq_len)), truncation counts, and the
# ceil(tokens/seq_len) bin lower bound are all independent recomputations
# that validate the fold's input projection AND output totals — or
# (b) an exact invariant of a CORRECT Best-Fit packing, pinned as a
# literal 0: no bin over capacity; at most ONE bin at most half-full per
# shard (a second half-empty bin's first item — placed when the other
# bin was at most its final load — would have fit there, so Best-Fit
# would never have opened it); bin count never below the lower bound.
_BESTFIT_AUDIT_ORACLE = f"""
WITH toks AS (
    SELECT least(len(list_filter(string_split_regex(lower(text), '\\s+'),
                                 t -> t <> '')), {BESTFIT_SEQ})::BIGINT AS take,
           len(list_filter(string_split_regex(lower(text), '\\s+'),
                           t -> t <> ''))::BIGINT AS nt,
           CAST({sql_hash32("CAST(doc_id AS VARCHAR)")} % {BESTFIT_SHARDS}
                AS INT) AS shard
    FROM documents
),
f AS (SELECT shard, take, nt FROM toks WHERE nt > 0)
SELECT shard,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(take) AS BIGINT) AS packed_tokens,
       CAST(sum(CASE WHEN nt > {BESTFIT_SEQ} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_truncated,
       CAST((CAST(sum(take) AS BIGINT) + {BESTFIT_SEQ - 1}) // {BESTFIT_SEQ}
            AS BIGINT) AS lb_bins,
       CAST(0 AS BIGINT) AS overfull_bins,
       CAST(0 AS BIGINT) AS halfempty_excess,
       CAST(0 AS BIGINT) AS lb_violation
FROM f GROUP BY shard
"""


@register("pack_bestfit_audit", _BESTFIT_AUDIT_ORACLE)
def pack_bestfit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked invariants of the BFD packing (see the oracle note
    above). One per-(shard, bin) aggregate over the memoized fold output
    carrying the doc-level sums, then one tiny per-shard aggregate — the
    pandas fold is never re-planned into a second arm (the round-7
    pack_bestfit lesson)."""
    bins = _bestfit_bins_memo(spark, sf_dir)
    per_bin = bins.groupBy("shard", "bin_id").agg(
        F.sum("n_tokens").alias("fill"),
        F.count("*").alias("nd"),
        F.sum(F.col("truncated").cast("long")).alias("ntr"),
    )
    L = F.lit(BESTFIT_SEQ)
    per_shard = per_bin.groupBy("shard").agg(
        F.sum("nd").cast("long").alias("n_docs"),
        F.sum("fill").cast("long").alias("packed_tokens"),
        F.sum("ntr").cast("long").alias("n_truncated"),
        F.count("*").cast("long").alias("n_bins"),
        F.sum((F.col("fill") > L).cast("long")).cast("long")
        .alias("overfull_bins"),
        F.sum((F.col("fill") * 2 <= L).cast("long")).cast("long")
        .alias("n_halfempty"),
    )
    return per_shard.select(
        "shard",
        "n_docs",
        "packed_tokens",
        "n_truncated",
        F.expr(f"CAST((packed_tokens + {BESTFIT_SEQ - 1}) DIV {BESTFIT_SEQ} AS BIGINT)")
        .alias("lb_bins"),
        "overfull_bins",
        F.greatest(F.lit(0), F.col("n_halfempty") - 1).cast("long")
        .alias("halfempty_excess"),
        (
            F.col("n_bins")
            < F.expr(
                f"CAST((packed_tokens + {BESTFIT_SEQ - 1}) DIV {BESTFIT_SEQ} AS BIGINT)"
            )
        )
        .cast("long")
        .alias("lb_violation"),
    )
