"""Streaming ingest dedup (north star §2.7 + §7.6 batch-equivalence).

A 100 TB training-data pipeline ingests documents CONTINUOUSLY; exact
dedup can't be a nightly batch job over the full corpus — it has to run
in the ingest stream. Both tiers are min/count state tables that run on
either a batch or a streaming DataFrame:

  - `streaming_exact_dedup`: per-hash canonical aggregate (min doc_id
    + copy count) over the 16-byte md5 content hash (the same portable
    key as operators/dedup.exact_dup_groups). In streaming mode the state is one
    row per distinct hash, updated per microbatch; the final state equals
    the batch GROUP BY bit-for-bit regardless of arrival order — this is
    the value-checkable tier (registered as `dedup_exact_stream`,
    batch-equivalence proven in tests/test_streaming.py).
  - `streaming_sketch_dedup`: the same shape keyed by the SimHash sketch
    (registered as `dedup_sketch_stream`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def streaming_exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact-dedup state: (text_hash, canonical_id, n_copies) per distinct
    content hash — min-id canonical like exact_dup_groups, but WITHOUT the
    n_copies > 1 filter so the state table is the full first-seen catalog
    a streaming ingest consults. Arrival-order independent (min/count are
    commutative), hence batch ≡ streaming."""
    return docs.groupBy(F.md5(F.col("text")).alias("text_hash")).agg(
        F.min("doc_id").alias("canonical_id"), F.count("*").alias("n_copies")
    )


def streaming_sketch_dedup(docs: DataFrame) -> DataFrame:
    """NEAR-dup-capable streaming state: (sketch, canonical_id, n_copies)
    keyed by the 32-bit SimHash sketch (operators/dedup.simhash_expr)
    instead of the exact content hash — re-encodings, whitespace variants,
    and token-reordered copies that keep the same sketch collapse into one
    state row even though their md5 differs. Same arrival-order-independent
    min/count shape as `streaming_exact_dedup`, so batch ≡ streaming holds
    and the batch form is value-checkable against the md5-chain oracle.

    Scope: this tier catches sketch-IDENTICAL near-dups in-stream (hamming
    0). The hamming ≤ 3 tier needs the byte-block candidate JOIN
    (`simhash_near_dup_pairs`) — a batch pass over the sketch catalog this
    state table feeds, which is exactly the 100 TB split: cheap exactish
    dedup inline in the ingest stream, the blocked near-dup join as a
    periodic batch job over the (tiny) sketch table."""
    from koby_s_ai_vector_db_spark.operators.dedup import simhash_expr, words_expr

    return (
        docs.filter(F.size(words_expr("text")) > 0)
        .groupBy(simhash_expr("text").alias("sketch"))
        .agg(F.min("doc_id").alias("canonical_id"), F.count("*").alias("n_copies"))
    )
