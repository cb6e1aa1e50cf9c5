"""Lexical search operators (SURVEY §2.3 Q3–Q6).

Reference semantics (core/supabase_utils.py):

Q3 `search_similar_contributions` (:280-312):
    candidates = feedback WHERE status='approved' AND rating >= min_rating
                 ORDER BY rating DESC LIMIT 100          -- cap is semantics
    score = 1.0 if lower(q) is a substring of question or answer
            else |tokens(q) ∩ tokens(question+' '+answer)| / max(|tokens(q)|,1)
    keep score > 0; sort (score, rating) DESC; LIMIT n

Q4 `search_qa_by_keyword` (:362-365): approved, recent-200, then
    substring containment filter.

Q5 `list_contributions` (:383-397): optional status eq + ILIKE on
    question/answer, ORDER BY created_at DESC, offset/limit pagination,
    exact total count.

The reference's candidate caps rely on DB-unspecified tie order; we pin
every ORDER BY with `id` so results are deterministic (FIXTURES.md
determinism contract — a deliberate, documented divergence).

Scale notes: EVERY global cap/top-N here uses orderBy().limit(n)
(TakeOrderedAndProject: per-partition heap + one small merge) — never an
un-partitioned rank window, which Spark does NOT rewrite with
WindowGroupLimit and which would funnel the whole table through one task
(functions/ranking.py). Ranks, where exposed, are computed over the
already-bounded result. For deep pagination at scale prefer keyset
(created_at < cursor).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from koby_s_ai_vector_db_spark.functions.ranking import global_top_n


def _tokens(col: Column) -> Column:
    """lower().split() — whitespace tokens, empties dropped (Python split)."""
    return F.array_remove(F.split(F.lower(col), r"\s+"), "")


def contribution_search(feedback: DataFrame, query: str, limit: int = 5) -> DataFrame:
    """Q3: token-overlap scoring with substring short-circuit."""
    q = query.lower()
    q_tokens = [t for t in q.split() if t]
    n_q = max(len(set(q_tokens)), 1)

    candidates = global_top_n(
        feedback.filter((F.col("status") == "approved") & (F.col("rating") >= 0.0)),
        [F.desc("rating"), F.asc("id")],
        100,
    )

    ql, al = F.lower("question"), F.lower("answer")
    contained = (F.instr(ql, q) > 0) | (F.instr(al, q) > 0)
    overlap = F.size(
        F.array_intersect(
            F.lit(sorted(set(q_tokens))).cast("array<string>"),
            F.concat(_tokens(F.col("question")), _tokens(F.col("answer"))),
        )
    )
    score = F.when(contained, F.lit(1.0)).otherwise(overlap.cast("double") / F.lit(float(n_q)))

    scored_df = candidates.withColumn("similarity_score", score).filter(
        F.col("similarity_score") > 0
    )
    return global_top_n(
        scored_df,
        [F.desc("similarity_score"), F.desc("rating"), F.asc("id")],
        limit,
    ).select("id", "question", "answer", "rating", "usage_count", "similarity_score")


def contribution_search_multi(
    feedback: DataFrame,
    queries: DataFrame,
    limit: int = 5,
    min_rating: float = 0.0,
) -> DataFrame:
    """Q3 batched over a query table (query_id, query_text).

    Same semantics as contribution_search (supabase_utils.py:280-312) but
    the query side is a DataFrame: the candidate cap is computed once
    (query-independent), then a broadcast join scores |queries|·cap rows —
    the scoring stage stays map-only regardless of corpus size because the
    cap bounds the candidate set by construction.

    Returns (query_id, id, question, answer, rating, usage_count,
    similarity_score, crank), crank ∈ 1..limit per query.
    """
    candidates = global_top_n(
        feedback.filter((F.col("status") == "approved") & (F.col("rating") >= min_rating)),
        [F.desc("rating"), F.asc("id")],
        100,
    )

    j = candidates.join(F.broadcast(queries.select("query_id", "query_text")))
    q_tokens = F.array_distinct(_tokens(F.col("query_text")))
    contained = F.expr(
        "instr(lower(question), lower(query_text)) > 0"
        " OR instr(lower(answer), lower(query_text)) > 0"
    )
    overlap = F.size(
        F.array_intersect(q_tokens, F.concat(_tokens(F.col("question")), _tokens(F.col("answer"))))
    )
    score = F.when(contained, F.lit(1.0)).otherwise(
        overlap.cast("double") / F.size(q_tokens).cast("double")
    )

    out_w = Window.partitionBy("query_id").orderBy(
        F.desc("similarity_score"), F.desc("rating"), F.asc("id")
    )
    return (
        j.withColumn("similarity_score", score)
        .filter(F.col("similarity_score") > 0)
        .withColumn("crank", F.row_number().over(out_w))
        .filter(F.col("crank") <= limit)
        .select(
            "query_id", "id", "question", "answer", "rating", "usage_count",
            "similarity_score", "crank",
        )
    )


def keyword_search(feedback: DataFrame, keyword: str) -> DataFrame:
    """Q4: containment filter over the 200 most recent approved rows."""
    cand = global_top_n(
        feedback.filter(F.col("status") == "approved"),
        [F.desc("created_at"), F.asc("id")],
        200,
    )
    needle = keyword.lower()
    hay = F.concat(F.lower("question"), F.lit(" "), F.lower("answer"))
    return cand.filter(F.instr(hay, needle) > 0).select(
        "id", "question", "answer", "question_type", "rating", "created_at"
    )


def list_contributions(
    feedback: DataFrame,
    status_filter: str = "all",
    page: int = 1,
    per_page: int = 20,
    search_query: str = "",
) -> DataFrame:
    """Q5: ILIKE search + offset pagination + exact total count column.

    total_count is a separate 1-row aggregate broadcast-crossJoined onto
    the page — NOT an unpartitioned window, which would funnel every
    filtered row through a single task with no truncation. The page itself
    is orderBy().limit(hi) (TakeOrderedAndProject) with ranks attached
    over the bounded hi rows; the offset filter then trims the head.
    """
    df = feedback
    if status_filter != "all":
        df = df.filter(F.col("status") == status_filter)
    if search_query:
        pat = f"%{search_query.lower()}%"
        df = df.filter(F.lower("question").like(pat) | F.lower("answer").like(pat))
    order = [F.desc("created_at"), F.asc("id")]
    lo, hi = (page - 1) * per_page + 1, page * per_page
    total = df.agg(F.count("*").alias("total_count"))
    page_rows = global_top_n(df, order, hi, rank_col="_rn").filter(
        F.col("_rn") >= lo
    )
    return page_rows.crossJoin(F.broadcast(total)).select(
        "id", "question", "answer", "status", "rating", "created_at", "total_count"
    )
