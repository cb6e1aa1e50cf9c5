"""Sequence packing — mapping a document corpus onto fixed-length
training sequences.

The step between a curated corpus and a pretraining run: documents are
concatenated into a token stream and the stream is cut every ``seq_len``
tokens (the standard "concat and chunk" packing — every sequence is full,
documents may straddle a boundary). The reference stops at retrieval and
has no analogue; this completes the training-data pipeline tier
(stratified_sample → dedup → decontamination → curate_training_mix →
pack_sequences).

Scale shape: a single global concatenation order would funnel the
cumulative-sum window through one reducer, so packing is computed per
OUTPUT SHARD — exactly how production pipelines write pretraining data
(each shard file is packed independently; ordering across shards is not
meaningful). Shard assignment is a portable md5 hash (reproducible in
DuckDB for the oracle, swap for xxhash64 in production), the running
offset is a window partitioned by shard — one exchange, parallel across
shards; choose n_shards >= cluster parallelism at 100 TB and no task sees
more than corpus_tokens / n_shards. Emitting the (doc, sequence) overlap
rows is a map-only sequence()/explode over each doc's [offset, offset +
n_tokens) interval.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from koby_s_ai_vector_db_spark.functions.hashing import portable_hash32, sql_hash32
from koby_s_ai_vector_db_spark.operators.dedup import words_expr


def pack_sequences(
    docs: DataFrame,
    seq_len: int,
    n_shards: int,
    seed: int = 0,
) -> DataFrame:
    """Assign every document to its training sequences.

    Returns one row per (shard, sequence, document) overlap:
    (shard, seq_id, doc_id, doc_offset, n_tokens) where ``doc_offset``
    is the document's start position in the shard's token stream,
    ``seq_id`` numbers the shard's seq_len-token windows from 0, and
    ``n_tokens`` is how many of the document's tokens land in that
    sequence (> 0; a doc spanning b boundaries yields b + 1 rows). Docs
    with zero tokens are excluded. sum(n_tokens) over the result equals
    the corpus token count — nothing dropped, nothing padded.
    """
    if seq_len < 1:
        raise ValueError(f"seq_len must be >= 1, got {seq_len}")
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    toks = docs.select(
        "doc_id",
        F.size(words_expr("text")).alias("_nt"),
        (portable_hash32(F.col("doc_id").cast("string"), seed=seed) % n_shards)
        .cast("int")
        .alias("shard"),
    ).filter(F.col("_nt") > 0)
    # ROWS frame, not Spark's default RANGE: with RANGE, duplicate ids
    # would each receive a cumulative sum including BOTH tied rows —
    # overlapping offsets and a silent conservation break. The oracle
    # pins ROWS too. (Stream order among duplicate ids is still
    # undefined; ids are expected unique, as everywhere in this repo.)
    by_shard = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    with_off = toks.withColumn(
        "_off", F.sum("_nt").over(by_shard) - F.col("_nt")
    )
    # Sequences touched: floor(off / L) .. floor((off + nt - 1) / L);
    # tokens in sequence s = min(end, (s+1)L) - max(off, sL).
    L = F.lit(seq_len)
    return (
        with_off.select(
            "shard",
            "doc_id",
            F.col("_off").alias("doc_offset"),
            "_nt",
            # `div` keeps the bounds integral end-to-end — float division
            # then cast would misround offsets beyond 2^53.
            F.explode(
                F.sequence(
                    F.expr(f"_off div {seq_len}"),
                    F.expr(f"(_off + _nt - 1) div {seq_len}"),
                )
            ).alias("seq_id"),
        )
        .select(
            "shard",
            "seq_id",
            "doc_id",
            "doc_offset",
            (
                F.least(F.col("doc_offset") + F.col("_nt"), (F.col("seq_id") + 1) * L)
                - F.greatest(F.col("doc_offset"), F.col("seq_id") * L)
            ).alias("n_tokens"),
        )
    )


def pack_sequences_oracle_sql(seq_len: int, n_shards: int, seed: int = 0) -> str:
    """DuckDB twin: same portable shard hash, same per-shard running
    offset, generate_series over the touched sequence ids."""
    h = sql_hash32("CAST(doc_id AS VARCHAR)", seed=seed)
    return f"""
WITH toks AS (
    SELECT doc_id,
           len(list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')) AS nt,
           CAST({h} % {n_shards} AS INT) AS shard
    FROM documents
),
with_off AS (
    SELECT shard, doc_id, nt,
           CAST(sum(nt) OVER (PARTITION BY shard ORDER BY doc_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                - nt AS BIGINT) AS off  -- DuckDB windowed sum() is HUGEINT
    FROM toks WHERE nt > 0
)
SELECT shard, s.seq_id, doc_id, off AS doc_offset,
       least(off + nt, (s.seq_id + 1) * {seq_len})
         - greatest(off, s.seq_id * {seq_len}) AS n_tokens
FROM with_off,
     LATERAL (SELECT unnest(range(off // {seq_len}, (off + nt - 1) // {seq_len} + 1)) AS seq_id) s
"""


def pack_bestfit_bins(docs: DataFrame, seq_len: int, n_shards: int) -> DataFrame:
    """Boundary-PRESERVING packing: Best-Fit-Decreasing bins per shard.

    The other packing mode next to pack_sequences' concat-and-chunk:
    each document lands INTACT in exactly one seq_len-capacity bin
    (models trained without cross-document attention need unsplit
    docs), at the cost of padding waste BFD minimizes (same 11/9 OPT
    asymptotic guarantee as FFD). Docs longer than seq_len are truncated
    to capacity and flagged. Deterministic: placement order is
    (-n_tokens, doc_id); each doc goes to the TIGHTEST bin with room
    (smallest remaining >= take), lowest bin_id on ties; shard
    assignment is the portable id hash.

    Scale shape: the per-shard fold is inherently sequential, so it runs
    as ONE Arrow-batched applyInPandas task per shard over the compact
    (doc_id, n_tokens) projection — never the text. Choose n_shards >=
    cluster parallelism; a shard's projection is corpus_docs/n_shards
    rows of 16 bytes, and open bins are bucketed BY REMAINING CAPACITY
    (integer 0..seq_len), so placement is O(seq_len) per doc instead of
    a linear scan of open bins — the in-task cost is O(docs x seq_len)
    regardless of how many bins a shard accumulates. Returns one row per
    doc: (shard, bin_id, doc_id, n_tokens, truncated).
    """
    if seq_len < 1:
        raise ValueError(f"seq_len must be >= 1, got {seq_len}")
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1, got {n_shards}")
    toks = docs.select(
        "doc_id",
        F.size(words_expr("text")).cast("long").alias("n_tokens"),
        (portable_hash32(F.col("doc_id").cast("string")) % n_shards)
        .cast("int")
        .alias("shard"),
    ).where(F.col("n_tokens") > 0)

    schema = (
        "shard int, bin_id bigint, doc_id bigint, n_tokens bigint, "
        "truncated boolean"
    )

    def bfd(pdf):
        import heapq

        import pandas as pd

        pdf = pdf.sort_values(
            ["n_tokens", "doc_id"], ascending=[False, True]
        )
        # by_room[r] = min-heap of bin ids with exactly r tokens left.
        by_room: list[list[int]] = [[] for _ in range(seq_len + 1)]
        n_bins = 0
        out = []
        shard = int(pdf["shard"].iloc[0])
        for doc_id, nt in zip(pdf["doc_id"], pdf["n_tokens"]):
            take = min(int(nt), seq_len)
            for room in range(take, seq_len + 1):
                if by_room[room]:
                    b = heapq.heappop(by_room[room])
                    heapq.heappush(by_room[room - take], b)
                    break
            else:
                b = n_bins
                n_bins += 1
                heapq.heappush(by_room[seq_len - take], b)
            out.append((shard, b, int(doc_id), take, int(nt) > seq_len))
        return pd.DataFrame(
            out, columns=["shard", "bin_id", "doc_id", "n_tokens", "truncated"]
        )

    return toks.groupBy("shard").applyInPandas(bfd, schema)
