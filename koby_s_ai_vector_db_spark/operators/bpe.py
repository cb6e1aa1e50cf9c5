"""BPE tokenizer training and encoding as DataFrame algebra.

The tokenizer-learning step of the training-data pipeline (between
curation and sequence packing): learn byte-pair-encoding merges from the
corpus (Sennrich et al. 2016, arXiv:1508.07909 — the algorithm behind
GPT/Llama-family tokenizers), then encode documents under the learned
vocabulary. The reference has no tokenizer; its token counting is
whitespace word splitting (mirrored by `ta_token_count`).

Algorithm (classic word-frequency BPE):
  1. Count words once over the corpus; represent each distinct word as a
     symbol sequence (characters + a trailing end-of-word marker).
  2. Repeat n_merges times: count adjacent symbol pairs weighted by word
     frequency; take the most frequent pair (deterministic tie-break:
     count desc, then left/right lexicographic); rewrite every word's
     sequence merging that pair greedily left-to-right.

100 TB shape: the corpus-sized work is ONE map-side-combined
groupBy(word) — everything after runs on the distinct-word table, which
is vocabulary-sized (Heaps' law: millions of rows at web scale, not
trillions), so the training loop's cost is independent of corpus size.
Each iteration is one tiny aggregate (pair counts, symbol-pair-bounded)
plus a map-only rewrite; a 1-row driver collect per iteration picks the
argmax pair — the same bounded-probe pattern as `dedup_groups`'
convergence checksum. Lineage is truncated with localCheckpoint every
few rounds (swap for checkpoint() on a real cluster).

Not SQL-expressible as one statement (the argmax-then-rewrite loop), so
the registered query gets the driver's rows-only check; exactness is
covered by pytest against a straight-Python BPE reference
(tests/test_bpe.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Row
from pyspark.sql import functions as F

from koby_s_ai_vector_db_spark.operators.dedup import words_expr

END_OF_WORD = "</w>"
CHECKPOINT_EVERY = 8


def _char_syms():
    """Zero-merge symbol sequence of a word: characters + end-of-word."""
    return F.concat(F.split(F.col("word"), ""), F.array(F.lit(END_OF_WORD)))


def word_counts(docs: DataFrame) -> DataFrame:
    """(word, n) frequency table — the single corpus-sized aggregation."""
    return (
        docs.select(F.explode(words_expr("text")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )


def _merge_pair_expr(syms_col: str, left: str, right: str):
    """Greedy left-to-right merge of adjacent (left, right) symbol pairs:
    fold the sequence, joining the pair when the accumulator's tail is
    `left` and the incoming symbol is `right`. After a merge the tail
    becomes the joined token, which cannot re-match as `left` unless it
    literally equals it — exactly BPE's non-overlapping greedy scan."""
    l, r = F.lit(left), F.lit(right)
    return F.aggregate(
        F.col(syms_col),
        F.array().cast("array<string>"),
        lambda acc, x: F.when(
            (F.size(acc) > 0) & (F.element_at(acc, -1) == l) & (x == r),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(F.concat(l, r)),
            ),
        ).otherwise(F.concat(acc, F.array(x))),
    )


def learn_bpe(docs: DataFrame, n_merges: int) -> tuple[list[Row], DataFrame]:
    """Learn up to ``n_merges`` BPE merges from the corpus.

    Returns (merges, vocab): ``merges`` is the ordered list of learned
    rules as Rows (rank, left, right, merged, pair_count); ``vocab`` is
    the final (word, syms, n) table — the word→tokens cache an encoder
    joins against. Stops early when no pair occurs at least twice.
    """
    if n_merges <= 0:
        raise ValueError(f"n_merges must be positive, got {n_merges}")

    wc = word_counts(docs)
    vocab = wc.select(
        "word", "n", _char_syms().alias("syms")
    ).localCheckpoint()

    merges: list[Row] = []
    for rank in range(n_merges):
        pairs = (
            vocab.filter(F.size("syms") >= 2)
            .select(
                "n",
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(syms) - 1),"
                        " j -> struct(element_at(syms, j) AS left,"
                        " element_at(syms, j + 1) AS right))"
                    )
                ).alias("p"),
            )
            .groupBy("p.left", "p.right")
            .agg(F.sum("n").alias("pair_count"))
        )
        top = pairs.orderBy(
            F.desc("pair_count"), F.asc("left"), F.asc("right")
        ).limit(1).collect()  # bounded probe: exactly one row per round
        if not top or top[0]["pair_count"] < 2:
            break
        left, right = top[0]["left"], top[0]["right"]
        merges.append(
            Row(
                rank=rank,
                left=left,
                right=right,
                merged=left + right,
                pair_count=top[0]["pair_count"],
            )
        )
        vocab = vocab.withColumn(
            "syms", _merge_pair_expr("syms", left, right)
        )
        if (rank + 1) % CHECKPOINT_EVERY == 0:
            vocab = vocab.localCheckpoint()
    return merges, vocab.localCheckpoint()


def bpe_encode(docs: DataFrame, vocab: DataFrame) -> DataFrame:
    """Tokenize documents under a learned vocabulary: per-doc token ids
    via a BROADCAST join of the doc's words against the word→syms cache
    (how production tokenizers amortize encoding: one merge-application
    per DISTINCT word, not per occurrence). Out-of-vocabulary words fall
    back to characters + end-of-word — the zero-merge encoding.

    Output: (doc_id, n_words, n_tokens) — the compression the tokenizer
    achieves; n_tokens = Σ len(syms) over word occurrences.
    """
    occ = docs.select("doc_id", F.explode(words_expr("text")).alias("word"))
    oov_syms = _char_syms()
    return (
        occ.join(F.broadcast(vocab.select("word", "syms")), "word", "left")
        .select(
            "doc_id",
            F.size(F.coalesce(F.col("syms"), oov_syms)).alias("_k"),
        )
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            F.sum("_k").cast("long").alias("n_tokens"),
        )
    )
