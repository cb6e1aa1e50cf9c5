"""Query registry: the SURVEY.md §2 operator inventory as named queries.

Each entry is (spark_fn, oracle_sql | None):
  spark_fn(spark, sf_dir) -> DataFrame      — the engine under test
  oracle_sql                                — equivalent DuckDB ANSI SQL over
                                              the fixture views, or None for
                                              non-SQL-expressible operators
                                              (driver then does rows-only).

Column names are aliased identically on both sides — the driver sorts
columns by name before value-hashing.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]

_REGISTRY: dict[str, tuple[SparkQuery, str | None]] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn: SparkQuery) -> SparkQuery:
        _REGISTRY[name] = (fn, oracle)
        return fn

    return deco


# Driver correctness tooling checks the FIRST `WINDOW` registry entries
# each round. Names listed here surface to the front of queries() in this
# order (then everything else in registration order), so the per-round
# verification window is chosen explicitly instead of by module import
# order.
#
# Rotation invariant (enforced by tests/test_registry_rotation.py against
# the committed CORRECTNESS_r*.json records): every registered query must
# be either IN this window or present-and-green in one of the LAST TWO
# committed driver records — bounded staleness of two recorded rounds.
#
# CADENCE NOTE (round 6): the invariant was a strict one-record bound
# through round 5. The round-5 driver record never landed (no
# CORRECTNESS_r05.json was committed), which makes the one-record bound
# unsatisfiable at 100 queries — the newest record (r04) holds 50 rows
# and the other 50 queries cannot all fit one 50-slot window. The test
# now unions the last two committed records; the bound degrades from
# "≤1 recorded round stale" to "≤2 recorded rounds stale", which also
# lifts capacity to 150 queries (documented in SURVEY §8).
#
# Window history: the round-11 window was the 48 r08-displaced names
# plus the two pre-earned prebuilds (tok_fertility_report,
# rel_bloom_semijoin); CORRECTNESS_r11 recorded all 50 green. The
# current (round-15) window is documented on _PRIORITY below.
WINDOW = 50

_PRIORITY: list[str] = [
    # Round-15 window: the r12 window that VERDICT r14 Next #3 forces. With
    # CORRECTNESS_r14 committed, the union checked is r13 ∪ r14, which
    # displaces the whole r12 record at once. These 50 names are EXACTLY
    # the CORRECTNESS_r12 record, none of them in that union, so all are
    # MANDATORY with zero free slots. graph_pagerank (changed in round 14) therefore keeps
    # only its r13 row; it cannot jump the queue without pushing a
    # mandatory name past the two-record bound.
    "a14_value_quantiles", "a15_funnel", "a16_retention", "a17_hll_distinct",
    "a18_heavy_hitters", "a19_click_attribution", "a21_zorder_stats",
    "a26_props_profile", "a27_value_mad", "asof_enrich_events", "bm25_rank",
    "bm25_rank_idx", "bpe_audit", "bpe_encode", "bpe_train",
    "ccnet_ppl_buckets", "curate_corpus_bm25", "dedup_incremental",
    "dedup_simhash", "dedup_sketch_stream", "dedup_substring",
    "dedup_tfidf_cosine", "dsir_sample", "dsir_score", "emb_label_centroids",
    "emb_pca_project", "hybrid_rrf", "m11_contamination_diff",
    "m8_snapshot_diff", "m9_snapshot_drift", "ngram_contamination_both",
    "pack_sequences", "q12_context_assembly", "q16_mmr_rerank",
    "q2_ann_ivf_idx", "q2_ann_ivfpq_idx", "q2_ann_pq_idx",
    "range_session_assign", "rel_shipping_priority", "sample_fixed_k",
    "sample_weighted_k", "src_overlap_matrix", "stratified_sample",
    "t1_chunker", "ta_gopher_repetition", "ta_pii_scrub", "tok_source_budget",
    "ts_gapfill", "vocab_stats", "vocab_zipf",
]


def _ordered() -> dict[str, tuple[SparkQuery, str | None]]:
    unknown = [n for n in _PRIORITY if n not in _REGISTRY]
    if unknown:
        # Loud, not silent: a typo or a renamed query would otherwise
        # quietly change which queries land in the externally-checked
        # first-WINDOW verification slice.
        raise KeyError(
            f"registry._PRIORITY names not registered: {unknown} "
            f"(registered: {sorted(_REGISTRY)})"
        )
    front = {n: _REGISTRY[n] for n in _PRIORITY}
    rest = {n: v for n, v in _REGISTRY.items() if n not in front}
    return {**front, **rest}


def queries() -> dict[str, SparkQuery]:
    _load_all()
    return {name: fn for name, (fn, _) in _ordered().items()}


def oracle_sql() -> dict[str, str]:
    _load_all()
    return {
        name: sql for name, (_, sql) in _ordered().items() if sql is not None
    }


_LOADED = False


def _load_all() -> None:
    """Import every module that registers queries (side-effect imports)."""
    global _LOADED
    if _LOADED:
        return
    from koby_s_ai_vector_db_spark import queries as _q  # noqa: F401

    _LOADED = True
