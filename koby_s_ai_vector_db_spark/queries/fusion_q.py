"""Fusion-family queries (Q7–Q14) over the fixture corpus.

Query set: 4 questions, each with a text form (lexical arm over the derived
feedback view) and a vector form (embedding of vec_id == query_id, searched
against the full embeddings table with self excluded — the reference embeds
the question text; fixtures pre-pair text and vector instead, FIXTURES.md).

Arms use the reference defaults: k=5, similarity_threshold=0.3
(pdf_qa/settings.py:63-64), contribution_limit=5, min_rating=0.0
(core/views.py:247-253, core/enhanced_search.py:49-53).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from koby_s_ai_vector_db_spark.functions.vectors import sql_normalize
from koby_s_ai_vector_db_spark.operators.fusion import (
    REC_BOTH,
    REC_CONTRIB,
    REC_FAISS,
    REC_NONE,
    combined_context,
    enhanced_sources,
    fallback_routing,
    fusion_metadata,
    prioritize_results,
)
from koby_s_ai_vector_db_spark.operators.lexical import contribution_search_multi
from koby_s_ai_vector_db_spark.operators.similarity import topk_cosine
from koby_s_ai_vector_db_spark.registry import register
from koby_s_ai_vector_db_spark.sources.tables import (
    FEEDBACK_SQL_DUCKDB,
    feedback_view,
    load_table,
    local_frame,
)

QUERIES = [
    (0, "spark join merge window"),
    (1, "vector table scan group"),
    (2, "qqqz zzzq xyzzy"),
    (3, "customer stream batch order"),
]
NQ = len(QUERIES)
K = 5
THRESHOLD = 0.3  # pdf_qa/settings.py:64
LEX_LIMIT = 5
FALLBACK_VEC_THRESHOLD = 0.9  # q14 primary tier: deliberately strict


def _inputs(spark: SparkSession, sf_dir: str):
    """Build (queries, vec_arm, vec_arm_with_doc, lex_arm) for `sf_dir`.

    Both arms are persisted ONCE per (session, sf_dir) via `memo_persist`:
    every fusion query consumes each arm 2–3× (the Q8/Q9 metadata aggregate
    AND the row-level operator), and without a cache boundary the full
    corpus scan + dot-product + rank pipeline re-executes per consumer.
    Eight fusion queries share the identical arms, so memoizing also stops
    the block manager accumulating a fresh persisted copy per query call
    (the round-2 leak: 16+ live persists per bench pass). The arms are
    k·|queries| rows — the per-request working set, exactly what the
    reference holds in Python lists between enhanced_search steps."""
    from koby_s_ai_vector_db_spark.functions.caching import memo, memo_persist

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    docs = load_table(spark, sf_dir, "documents")
    qtext = memo(
        spark,
        "fusion_qtext",
        lambda: local_frame(spark, QUERIES, "query_id bigint, query_text string"),
    )
    qvec = emb.filter(F.col("vec_id") < NQ).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    queries = qtext.join(qvec, "query_id")

    vec = memo_persist(
        spark,
        ("fusion_vec_arm", sf_dir),
        lambda: topk_cosine(
            emb, queries.select("query_id", "query_vec"),
            k=K, threshold=THRESHOLD, round_to=None, exclude_self=True,
        ).withColumnRenamed("rank", "vrank"),
    )
    vec_doc = vec.join(
        docs.select(F.col("doc_id").alias("vec_id"), "source", "text"), "vec_id"
    )
    lex = memo_persist(
        spark,
        ("fusion_lex_arm", sf_dir),
        lambda: contribution_search_multi(
            feedback_view(spark, sf_dir), qtext, limit=LEX_LIMIT, min_rating=0.0
        ),
    )
    return qtext, vec, vec_doc, lex


# ---------------------------------------------------------------------------
# Shared oracle CTE: both arms + per-query metadata, DuckDB dialect.
# ---------------------------------------------------------------------------
_QUERY_VALUES = ", ".join(f"({qid}, '{txt}')" for qid, txt in QUERIES)

_ARMS_CTE = f"""
WITH feedback AS ({FEEDBACK_SQL_DUCKDB}),
qs(query_id, query_text) AS (VALUES {_QUERY_VALUES}),
c AS (SELECT vec_id, {sql_normalize('embedding')} AS v FROM embeddings),
qv AS (SELECT vec_id AS query_id, v AS qvec FROM c WHERE vec_id < {NQ}),
vec_scored AS (
    SELECT q.query_id, c.vec_id,
           list_sum(list_transform(c.v, (x, i) -> x * q.qvec[i])) AS sim_raw
    FROM c CROSS JOIN qv q WHERE c.vec_id <> q.query_id
),
vec_ranked AS (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY sim_raw DESC, vec_id ASC) AS vrank
    FROM vec_scored
),
vec_arm AS (SELECT * FROM vec_ranked WHERE vrank <= {K} AND sim_raw >= {THRESHOLD}),
qtok AS (
    SELECT query_id, query_text,
           list_distinct(list_filter(string_split_regex(lower(query_text), '\\s+'),
                                     t -> t <> '')) AS qt
    FROM qs
),
cand AS (
    SELECT *, row_number() OVER (ORDER BY rating DESC, id ASC) AS _rn
    FROM feedback WHERE status = 'approved' AND rating >= 0.0
),
lex_scored AS (
    SELECT q.query_id, f.id, f.question, f.answer, f.rating, f.usage_count,
        CASE WHEN instr(lower(f.question), lower(q.query_text)) > 0
                  OR instr(lower(f.answer), lower(q.query_text)) > 0 THEN 1.0
             ELSE len(list_intersect(q.qt,
                      list_filter(string_split_regex(lower(f.question) || ' ' || lower(f.answer),
                                                     '\\s+'), t -> t <> '')))::DOUBLE
                  / len(q.qt)
        END AS similarity_score
    FROM (SELECT * FROM cand WHERE _rn <= 100) f CROSS JOIN qtok q
),
lex_ranked AS (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY similarity_score DESC, rating DESC, id ASC) AS crank
    FROM lex_scored WHERE similarity_score > 0
),
lex_arm AS (SELECT * FROM lex_ranked WHERE crank <= {LEX_LIMIT}),
vq AS (SELECT query_id, count(*) AS vn, avg(sim_raw) AS avg_sim FROM vec_arm GROUP BY query_id),
lq AS (SELECT query_id, count(*) AS ln, avg(similarity_score) AS avg_score,
              avg(rating) AS avg_rating
       FROM lex_arm GROUP BY query_id),
meta AS (
    SELECT q.query_id, q.query_text,
           coalesce(vn, 0) AS faiss_count,
           coalesce(ln, 0) AS contribution_count,
           coalesce(vn, 0) + coalesce(ln, 0) AS total_sources,
           coalesce(ln, 0) > 0 AS has_contributions,
           CASE WHEN coalesce(vn, 0) > 0
                THEN least(avg_sim + least(vn / 5.0, 0.2), 1.0)
                ELSE 0.0 END AS faiss_quality,
           CASE WHEN coalesce(ln, 0) > 0
                THEN least(avg_score + (avg_rating / 5.0) * 0.3 + least(ln / 3.0, 0.2), 1.0)
                ELSE 0.0 END AS contribution_quality,
           (contribution_quality > faiss_quality AND coalesce(ln, 0) > 0)
               AS prioritized_contributions
    FROM qs q LEFT JOIN vq ON q.query_id = vq.query_id
              LEFT JOIN lq ON q.query_id = lq.query_id
)"""


_Q7_ORACLE = _ARMS_CTE + f"""
SELECT query_id, faiss_count, contribution_count, total_sources, has_contributions,
       round(faiss_quality, 6) AS faiss_quality,
       round(contribution_quality, 6) AS contribution_quality,
       prioritized_contributions,
       length(query_text) AS query_length,
       CASE WHEN total_sources >= 3 THEN 'high'
            WHEN total_sources >= 1 THEN 'medium'
            ELSE 'low' END AS search_effectiveness,
       CASE WHEN faiss_count = 0 AND contribution_count = 0 THEN '{REC_NONE}'
            WHEN faiss_count > 0 AND contribution_count > 0 THEN '{REC_BOTH}'
            WHEN faiss_count > 0 THEN '{REC_FAISS}'
            ELSE '{REC_CONTRIB}' END AS recommendation
FROM meta
"""


@register("q7_fusion", _Q7_ORACLE)
def q7_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 (enhanced_search.py:16-114): per-query dual-search metadata.

    Also carries Q13's (analyze_search_effectiveness,
    enhanced_search.py:366-410) non-derivable columns — query_length,
    search_effectiveness, recommendation. Q13's remaining columns are
    boolean views of faiss_count/contribution_count/has_contributions,
    and Q8/Q9 are the faiss_quality/contribution_quality columns, so all
    three are read off this hash-checked row."""
    qtext, vec, _, lex = _inputs(spark, sf_dir)
    meta = fusion_metadata(qtext, vec, lex)
    fc, cc = F.col("faiss_count"), F.col("contribution_count")
    return meta.select(
        "query_id", "faiss_count", "contribution_count", "total_sources",
        "has_contributions",
        F.round("faiss_quality", 6).alias("faiss_quality"),
        F.round("contribution_quality", 6).alias("contribution_quality"),
        "prioritized_contributions",
        F.length("query_text").alias("query_length"),
        F.when(F.col("total_sources") >= 3, F.lit("high"))
        .when(F.col("total_sources") >= 1, F.lit("medium"))
        .otherwise(F.lit("low"))
        .alias("search_effectiveness"),
        F.when((fc == 0) & (cc == 0), F.lit(REC_NONE))
        .when((fc > 0) & (cc > 0), F.lit(REC_BOTH))
        .when(fc > 0, F.lit(REC_FAISS))
        .otherwise(F.lit(REC_CONTRIB))
        .alias("recommendation"),
    )


_Q10_ORACLE = _ARMS_CTE + """
, sortedc AS (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY rating DESC, usage_count DESC, crank ASC) AS prank
    FROM lex_arm
),
sizes AS (SELECT query_id, least(contribution_count, 2) AS h, faiss_count AS fn FROM meta)
SELECT c.query_id, CAST(c.prank AS BIGINT) AS position, 'high' AS priority,
       'user_contribution' AS source_type, c.id AS ref_id,
       round(c.similarity_score, 6) AS score, c.rating, c.usage_count
FROM sortedc c JOIN sizes s ON c.query_id = s.query_id WHERE c.prank <= 2
UNION ALL
SELECT v.query_id, CAST(s.h + v.vrank AS BIGINT), 'medium', 'original_document',
       v.vec_id, round(v.sim_raw, 6), -1.0, CAST(-1 AS BIGINT)
FROM vec_arm v JOIN sizes s ON v.query_id = s.query_id
UNION ALL
SELECT c.query_id, CAST(s.h + s.fn + c.prank - 2 AS BIGINT), 'low', 'user_contribution',
       c.id, round(c.similarity_score, 6), c.rating, c.usage_count
FROM sortedc c JOIN sizes s ON c.query_id = s.query_id WHERE c.prank > 2
"""


@register("q10_prioritize", _Q10_ORACLE)
def q10_prioritize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10 (enhanced_search.py:325-363): prioritized interleave with an
    explicit position sort key. Document rows carry NULL rating/usage_count
    in the library output; the oracle-edge projection substitutes −1 (both
    engines) for the driver's NaN-unsafe multiset compare."""
    qtext, vec, _, lex = _inputs(spark, sf_dir)
    meta = fusion_metadata(qtext, vec, lex)
    return prioritize_results(vec, lex, meta).select(
        "query_id", "position", "priority", "source_type", "ref_id", "score",
        F.coalesce("rating", F.lit(-1.0)).alias("rating"),
        F.coalesce("usage_count", F.lit(-1).cast("long")).alias("usage_count"),
    )


_Q11_ORACLE = _ARMS_CTE + """
, faiss_src AS (
    SELECT v.query_id, d.source AS filename, 'Unknown' AS page,
           round(v.sim_raw, 6) AS similarity, 'original_document' AS source_type,
           CASE WHEN length(d.text) > 200 THEN substr(d.text, 1, 200) || '...'
                ELSE d.text END AS text_preview,
           v.vrank
    FROM vec_arm v JOIN documents d ON v.vec_id = d.doc_id
)
SELECT query_id, filename, page, similarity, source_type, text_preview,
       CAST(-1 AS BIGINT) AS contribution_id, -1.0 AS rating,
       CAST(-1 AS BIGINT) AS usage_count, 0 AS block, min(vrank) AS ord
FROM faiss_src
GROUP BY query_id, filename, page, similarity, source_type, text_preview
UNION ALL
SELECT query_id, 'User Contribution', 'N/A', round(similarity_score, 6),
       'user_contribution',
       CASE WHEN length(answer) > 200 THEN substr(answer, 1, 200) || '...' ELSE answer END,
       id, rating, usage_count, 1, crank
FROM lex_arm
"""


@register("q11_sources", _Q11_ORACLE)
def q11_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 (enhanced_search.py:283-322): deduped source rows, both arms.
    FAISS-branch rows carry NULL contribution fields in the library output;
    −1 sentinels are applied here at the oracle edge (both engines)."""
    _, _, vec_doc, lex = _inputs(spark, sf_dir)
    return enhanced_sources(vec_doc, lex).select(
        "query_id", "filename", "page", "similarity", "source_type", "text_preview",
        F.coalesce("contribution_id", F.lit(-1).cast("long")).alias("contribution_id"),
        F.coalesce("rating", F.lit(-1.0)).alias("rating"),
        F.coalesce("usage_count", F.lit(-1).cast("long")).alias("usage_count"),
        "block", "ord",
    )


_Q12_ORACLE = _ARMS_CTE + """
, clines AS (
    SELECT l.query_id, l.crank,
           (CASE WHEN m.prioritized_contributions
                 THEN '\U0001f3af HIGHLY RELEVANT USER CONTRIBUTION #'
                 ELSE 'USER CONTRIBUTION #' END)
           || l.crank || E':\nQuestion: ' || l.question || E'\nAnswer: ' || l.answer
           || E'\nRating: ' || CAST(l.rating AS VARCHAR) || '/5.0 (Similarity: '
           || printf('%.2f', l.similarity_score) || ')' AS txt
    FROM lex_arm l JOIN meta m ON l.query_id = m.query_id
),
flines AS (
    SELECT v.query_id, v.vrank,
           'DOCUMENT #' || v.vrank || ' (from ' || d.source || E'):\n' || d.text
           || E'\n(Similarity: ' || printf('%.2f', v.sim_raw) || ')' AS txt
    FROM vec_arm v JOIN documents d ON v.vec_id = d.doc_id
),
cblock AS (SELECT query_id, string_agg(txt, E'\n\n' ORDER BY crank) AS cbody
           FROM clines GROUP BY query_id),
fblock AS (SELECT query_id, string_agg(txt, E'\n\n' ORDER BY vrank) AS fbody
           FROM flines GROUP BY query_id)
SELECT m.query_id,
       CASE WHEN m.prioritized_contributions THEN
           concat_ws(E'\n\n',
                     'USER CONTRIBUTIONS (PRIORITIZED):' || E'\n' || cb.cbody,
                     CASE WHEN fb.fbody IS NOT NULL
                          THEN 'SUPPLEMENTARY DOCUMENTATION:' || E'\n' || fb.fbody END)
       ELSE
           concat_ws(E'\n\n',
                     CASE WHEN cb.cbody IS NOT NULL
                          THEN 'USER CONTRIBUTIONS AND ENHANCEMENTS:' || E'\n' || cb.cbody END,
                     CASE WHEN fb.fbody IS NOT NULL
                          THEN 'ORIGINAL KNOWLEDGE BASE:' || E'\n' || fb.fbody END)
       END AS combined_context
FROM meta m LEFT JOIN cblock cb ON m.query_id = cb.query_id
            LEFT JOIN fblock fb ON m.query_id = fb.query_id
"""


@register("q12_context_assembly", _Q12_ORACLE)
def q12_context_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 (enhanced_search.py:117-167,229-280): exact combined-context
    strings, prioritized or standard per the quality comparison."""
    qtext, vec, vec_doc, lex = _inputs(spark, sf_dir)
    meta = fusion_metadata(qtext, vec, lex)
    return combined_context(vec_doc, lex, meta)


_Q14_ORACLE = _ARMS_CTE + f"""
, pv AS (SELECT query_id, count(*) AS pvn FROM vec_ranked
         WHERE vrank <= {K} AND sim_raw >= {FALLBACK_VEC_THRESHOLD} GROUP BY query_id),
pl AS (SELECT query_id, count(*) AS pln FROM lex_arm GROUP BY query_id)
SELECT q.query_id,
       coalesce(pvn, 0) AS n_primary_faiss,
       coalesce(pln, 0) AS n_primary_contrib,
       (coalesce(pvn, 0) = 0 AND coalesce(pln, 0) = 0 AND coalesce(pln, 0) > 0)
           AS fallback_used,
       CASE WHEN coalesce(pvn, 0) > 0 OR coalesce(pln, 0) > 0
            THEN coalesce(pvn, 0) + coalesce(pln, 0)
            WHEN coalesce(pln, 0) > 0 THEN coalesce(pln, 0)
            ELSE 0 END AS n_results,
       CASE WHEN coalesce(pvn, 0) > 0 OR coalesce(pln, 0) > 0 THEN 'ok'
            WHEN coalesce(pln, 0) > 0 THEN 'fallback'
            ELSE 'not_found' END AS status
FROM qs q LEFT JOIN pv ON q.query_id = pv.query_id
          LEFT JOIN pl ON q.query_id = pl.query_id
"""


@register("q14_fallback_routing", _Q14_ORACLE)
def q14_fallback_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14 (views.py:277-316): conditional fallback routing. Primary vector
    tier uses a strict 0.9 threshold; the fallback lexical search re-runs
    the same min_rating=0.0 search the primary ran (the reference does the
    same — views.py:283 vs enhanced_search.py:52)."""
    qtext, _, _, lex = _inputs(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qvec = emb.filter(F.col("vec_id") < NQ).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    primary_vec = topk_cosine(
        emb, qvec, k=K, threshold=FALLBACK_VEC_THRESHOLD, round_to=None, exclude_self=True
    )
    return fallback_routing(qtext, primary_vec, lex, lex)
