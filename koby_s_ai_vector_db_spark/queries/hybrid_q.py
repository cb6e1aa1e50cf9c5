"""Hybrid search: BM25 + vector arms fused by Reciprocal Rank Fusion.

The reference fuses its two arms with hand-tuned quality scores and
interleaving (core/enhanced_search.py, queries Q7-Q14). RRF is the
production-standard alternative (Cormack et al., SIGIR'09 — the default
hybrid fusion in OpenSearch/Vespa/Weaviate): score(d) = Σ_arms
1/(K + rank_arm(d)) — rank-based, so the arms' incomparable score scales
(BM25 logs vs cosine) never need calibration, and fully deterministic,
so unlike the learned-weight alternatives it is value-checkable
cross-engine.

Shape at scale: each arm is its own top-POOL pipeline (inverted-index
BM25, ANN vector); the fusion itself is a full outer join of two
|queries|·POOL rank tables — negligible next to the arms. Query ids pair
text with vector per the fixture convention (FIXTURES.md: embedding of
vec_id == query_id embeds that query's text).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from koby_s_ai_vector_db_spark.functions.caching import memo
from koby_s_ai_vector_db_spark.functions.vectors import sql_normalize
from koby_s_ai_vector_db_spark.operators.corpus import bm25_oracle_sql
from koby_s_ai_vector_db_spark.operators.similarity import topk_cosine
from koby_s_ai_vector_db_spark.queries.corpus_q import _BM25_VALUES, BM25_QUERIES
from koby_s_ai_vector_db_spark.registry import register
from koby_s_ai_vector_db_spark.sources.tables import load_table

POOL = 50  # per-arm candidate depth
RRF_K = 60  # the Cormack et al. constant
K = 10
NQ = len(BM25_QUERIES)

_HYBRID_ORACLE = f"""
WITH bm AS ({bm25_oracle_sql(_BM25_VALUES, k=POOL)}),
c AS (SELECT vec_id, {sql_normalize('embedding')} AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM c WHERE vec_id < {NQ}),
vscored AS (
    SELECT q.query_id, c.vec_id,
           list_sum(list_transform(c.v, (x, i) -> x * q.qv[i])) AS sim
    FROM c CROSS JOIN q
),
vr AS (
    SELECT query_id, vec_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY sim DESC, vec_id ASC) AS rank
    FROM vscored
),
lex AS (SELECT CAST(query_id AS BIGINT) AS query_id, doc_id AS id, rank AS r_lex FROM bm),
vec AS (SELECT query_id, vec_id AS id, rank AS r_vec FROM vr WHERE rank <= {POOL}),
fused AS (
    SELECT query_id, id, r_lex, r_vec,
           coalesce(1.0 / ({RRF_K} + r_lex), 0.0)
               + coalesce(1.0 / ({RRF_K} + r_vec), 0.0) AS rrf
    FROM lex FULL JOIN vec USING (query_id, id)
),
ranked AS (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY round(rrf, 6) DESC, id ASC) AS rank
    FROM fused
)
SELECT query_id, id AS doc_id, round(rrf, 6) AS rrf_score,
       coalesce(r_lex, 0) AS lex_rank, coalesce(r_vec, 0) AS vec_rank, rank
FROM ranked WHERE rank <= {K}
"""


@register("hybrid_rrf", _HYBRID_ORACLE)
def hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RRF hybrid search: BM25 top-50 ∪ exact-cosine top-50, fused by
    Σ 1/(60+rank), re-ranked on the rounded fused score with an id
    tiebreak. Arm ranks are carried through (0 = absent from that arm —
    the null-free sentinel convention).

    The lex arm reads the PERSISTED inverted index (shared build with
    bm25_rank_idx via corpus_q.text_index_path) — the production shape
    this module's header promises: steady-state hybrid search opens only
    the query terms' bucket partitions and never re-tokenizes the
    corpus. search_text_index carries the same rounded-score ranking
    contract as operators/corpus.py::bm25_rank, so the oracle is
    unchanged (bm25_rank_idx ≡ bm25_rank is separately pytest-pinned)."""
    from koby_s_ai_vector_db_spark.queries.corpus_q import text_index_path
    from koby_s_ai_vector_db_spark.sources.text_index import search_text_index

    from koby_s_ai_vector_db_spark.queries.corpus_q import bm25_queries_df

    emb = load_table(spark, sf_dir, "embeddings")
    qtext = bm25_queries_df(spark)
    qvec = emb.filter(F.col("vec_id") < NQ).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )

    path = text_index_path(spark, sf_dir)
    lex = memo(  # fixed query set: memoized like bm25_rank_idx
        spark, ("hybrid_rrf", path),
        lambda: search_text_index(spark, path, qtext, k=POOL),
    ).select(
        "query_id", F.col("doc_id").alias("id"), F.col("rank").alias("r_lex")
    )
    vec = topk_cosine(
        emb.select("vec_id", "embedding"), qvec, k=POOL, threshold=-1.0
    ).select("query_id", F.col("vec_id").alias("id"), F.col("rank").alias("r_vec"))

    fused = lex.join(vec, ["query_id", "id"], "outer").withColumn(
        "rrf",
        F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("r_lex")), F.lit(0.0))
        + F.coalesce(F.lit(1.0) / (F.lit(RRF_K) + F.col("r_vec")), F.lit(0.0)),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc(F.round("rrf", 6)), F.asc("id")
    )
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= K)
        .select(
            "query_id",
            F.col("id").alias("doc_id"),
            F.round("rrf", 6).alias("rrf_score"),
            F.coalesce("r_lex", F.lit(0)).alias("lex_rank"),
            F.coalesce("r_vec", F.lit(0)).alias("vec_rank"),
            "rank",
        )
    )
