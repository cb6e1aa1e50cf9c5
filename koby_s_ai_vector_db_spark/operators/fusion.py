"""Dual-search fusion family (SURVEY §2.3 Q7–Q14).

Reference: core/enhanced_search.py — the second half of every `/api/ask`
request. The two input arms are the vector search (Q1, utils.py:194-254)
and the lexical contribution search (Q3, supabase_utils.py:280-312); this
module fuses them:

  Q8  _assess_faiss_quality        (enhanced_search.py:170-194)
  Q9  _assess_contribution_quality (enhanced_search.py:197-226)
  Q7  enhanced_search_with_contributions metadata (:16-114)
  Q10 prioritize_enhanced_results  (:325-363)
  Q11 get_enhanced_sources         (:283-322)
  Q12 _create_combined_context / _create_prioritized_context (:117-280)
  Q13 analyze_search_effectiveness (:366-410) — its columns are
      projected by queries/fusion_q.q7_fusion
  Q14 fallback routing             (core/views.py:277-316)

Everything is batch-oriented: one row per (query, result) instead of the
reference's per-request Python loops, so a million questions fuse in one
job. All aggregations are per-query hash aggregates (shuffle keyed on
query_id, partial map-side combine); the context strings are assembled
with ordered string_aggs (sort key pinned — Spark collect_list alone is
nondeterministic). No Python UDFs anywhere.

Expected input shapes:
  vec_arm: (query_id, vec_id, sim, vrank [, source, text])   raw sims
  lex_arm: (query_id, id, question, answer, rating, usage_count,
            similarity_score, crank)
  queries: (query_id, query_text)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# _get_search_recommendation strings, verbatim (enhanced_search.py:401-410)
REC_NONE = (
    "No relevant information found. Consider rephrasing your question or "
    "adding more specific keywords."
)
REC_BOTH = (
    "Great! Found both original documentation and user contributions for "
    "comprehensive answers."
)
REC_FAISS = "Found relevant information in the original documentation."
REC_CONTRIB = "Found user contributions that may help answer your question."


def _preview(col: Column) -> Column:
    """T5 (enhanced_search.py:303,318): first 200 chars + '...' if longer."""
    return F.when(
        F.length(col) > 200, F.concat(F.substring(col, 1, 200), F.lit("..."))
    ).otherwise(col)


def fusion_metadata(queries: DataFrame, vec_arm: DataFrame, lex_arm: DataFrame) -> DataFrame:
    """Q7+Q8+Q9: per-query quality scores + search metadata.

    faiss_quality   = min(avg(sim) + min(n/5, 0.2), 1.0), 0.0 if empty
    contrib_quality = min(avg(score) + (avg(rating)/5)*0.3 + min(n/3, 0.2), 1.0)
    prioritized     = contrib_quality > faiss_quality AND contribs present

    Qualities are returned UNROUNDED (downstream branch conditions use
    them); round at the output edge.
    """
    vq = vec_arm.groupBy("query_id").agg(
        F.count("*").alias("_vn"), F.avg("sim").alias("_avg_sim")
    )
    lq = lex_arm.groupBy("query_id").agg(
        F.count("*").alias("_ln"),
        F.avg("similarity_score").alias("_avg_score"),
        F.avg("rating").alias("_avg_rating"),
    )
    vn = F.coalesce(F.col("_vn"), F.lit(0))
    ln = F.coalesce(F.col("_ln"), F.lit(0))
    faiss_q = F.when(
        vn > 0,
        F.least(F.col("_avg_sim") + F.least(vn / F.lit(5.0), F.lit(0.2)), F.lit(1.0)),
    ).otherwise(F.lit(0.0))
    contrib_q = F.when(
        ln > 0,
        F.least(
            F.col("_avg_score")
            + (F.col("_avg_rating") / F.lit(5.0)) * F.lit(0.3)
            + F.least(ln / F.lit(3.0), F.lit(0.2)),
            F.lit(1.0),
        ),
    ).otherwise(F.lit(0.0))
    return (
        queries.select("query_id", "query_text")
        .join(vq, "query_id", "left")
        .join(lq, "query_id", "left")
        .select(
            "query_id",
            "query_text",
            vn.alias("faiss_count"),
            ln.alias("contribution_count"),
            (vn + ln).alias("total_sources"),
            (ln > 0).alias("has_contributions"),
            faiss_q.alias("faiss_quality"),
            contrib_q.alias("contribution_quality"),
            ((contrib_q > faiss_q) & (ln > 0)).alias("prioritized_contributions"),
        )
    )


def prioritize_results(vec_arm: DataFrame, lex_arm: DataFrame, meta: DataFrame) -> DataFrame:
    """Q10 (enhanced_search.py:325-363): contributions re-sorted by
    (rating, usage_count) desc → top-2 'high', FAISS rows 'medium',
    remaining contributions 'low'. Position is an explicit global sort key
    (the reference relies on list append order).

    Python's sort is stable, so equal (rating, usage_count) keep their Q3
    order — mirrored by the crank tiebreaker.
    """
    from pyspark.sql import Window

    pw = Window.partitionBy("query_id").orderBy(
        F.desc("rating"), F.desc("usage_count"), F.asc("crank")
    )
    contribs = lex_arm.withColumn("prank", F.row_number().over(pw))
    sizes = meta.select(
        "query_id",
        F.least(F.col("contribution_count"), F.lit(2)).alias("_h"),
        F.col("faiss_count").alias("_fn"),
    )

    high = (
        contribs.filter(F.col("prank") <= 2)
        .join(F.broadcast(sizes), "query_id")
        .select(
            "query_id",
            F.col("prank").cast("long").alias("position"),
            F.lit("high").alias("priority"),
            F.lit("user_contribution").alias("source_type"),
            F.col("id").alias("ref_id"),
            F.col("similarity_score").alias("score"),
            "rating",
            "usage_count",
        )
    )
    medium = vec_arm.join(F.broadcast(sizes), "query_id").select(
        "query_id",
        (F.col("_h") + F.col("vrank")).cast("long").alias("position"),
        F.lit("medium").alias("priority"),
        F.lit("original_document").alias("source_type"),
        F.col("vec_id").alias("ref_id"),
        F.col("sim").alias("score"),
        # NULL, not a sentinel: document rows genuinely have no rating
        # (the reference's result dicts omit these keys,
        # enhanced_search.py:325-363), and a consumer averaging rating
        # across prioritized rows must not fold in magic values. The
        # registered q10 projection substitutes −1 at the oracle edge only
        # (queries/fusion_q.py) because NaN cells pair nondeterministically
        # in the driver's sorted-multiset compare.
        F.lit(None).cast("double").alias("rating"),
        F.lit(None).cast("long").alias("usage_count"),
    )
    low = (
        contribs.filter(F.col("prank") > 2)
        .join(F.broadcast(sizes), "query_id")
        .select(
            "query_id",
            (F.col("_h") + F.col("_fn") + F.col("prank") - 2).cast("long").alias("position"),
            F.lit("low").alias("priority"),
            F.lit("user_contribution").alias("source_type"),
            F.col("id").alias("ref_id"),
            F.col("similarity_score").alias("score"),
            "rating",
            "usage_count",
        )
    )
    return high.unionByName(medium).unionByName(low).withColumn("score", F.round("score", 6))


def enhanced_sources(vec_arm: DataFrame, lex_arm: DataFrame) -> DataFrame:
    """Q11 (enhanced_search.py:283-322): per-query source rows. The FAISS
    branch dedups identical source dicts (`if source_info not in sources`)
    — expressed as a group-by over the dict columns keeping min(vrank) as
    the surviving order key. vec_arm must carry (source, text).
    """
    faiss = (
        vec_arm.select(
            "query_id",
            F.col("source").alias("filename"),
            F.lit("Unknown").alias("page"),
            F.round("sim", 6).alias("similarity"),
            F.lit("original_document").alias("source_type"),
            _preview(F.col("text")).alias("text_preview"),
            "vrank",
        )
        .groupBy("query_id", "filename", "page", "similarity", "source_type", "text_preview")
        .agg(F.min("vrank").alias("ord"))
        .select(
            "query_id", "filename", "page", "similarity", "source_type", "text_preview",
            # NULL like the reference's source dicts (absent keys) — the
            # registered q11 projection applies −1 sentinels, see
            # prioritize_results for the rationale.
            F.lit(None).cast("long").alias("contribution_id"),
            F.lit(None).cast("double").alias("rating"),
            F.lit(None).cast("long").alias("usage_count"),
            F.lit(0).alias("block"),
            "ord",
        )
    )
    contribs = lex_arm.select(
        "query_id",
        F.lit("User Contribution").alias("filename"),
        F.lit("N/A").alias("page"),
        F.round("similarity_score", 6).alias("similarity"),
        F.lit("user_contribution").alias("source_type"),
        _preview(F.col("answer")).alias("text_preview"),
        F.col("id").alias("contribution_id"),
        "rating",
        "usage_count",
        F.lit(1).alias("block"),
        F.col("crank").alias("ord"),
    )
    return faiss.unionByName(contribs)


def _contrib_line(tag: Column, idx: Column) -> Column:
    """One formatted contribution entry (enhanced_search.py:139-143)."""
    return F.concat(
        tag,
        idx.cast("string"),
        F.lit(":\nQuestion: "),
        F.col("question"),
        F.lit("\nAnswer: "),
        F.col("answer"),
        F.lit("\nRating: "),
        F.col("rating").cast("string"),
        F.lit("/5.0 (Similarity: "),
        F.format_string("%.2f", F.col("similarity_score")),
        F.lit(")"),
    )


def combined_context(
    vec_arm: DataFrame,
    lex_arm: DataFrame,
    meta: DataFrame,
) -> DataFrame:
    """Q12 (enhanced_search.py:117-167, 229-280): the exact context string,
    standard or prioritized per the Q8/Q9 comparison. vec_arm must carry
    (source, text). Ordered string aggregation pins determinism.

    Each query's lines are collected with one direct group-by: both arms
    are top-k outputs, so a group holds at most k (=5) lines — no hot key
    is possible.
    """
    flags = meta.select("query_id", "prioritized_contributions")

    contrib_lines = lex_arm.join(F.broadcast(flags), "query_id").select(
        "query_id",
        "crank",
        _contrib_line(
            F.when(
                F.col("prioritized_contributions"),
                F.lit("\U0001f3af HIGHLY RELEVANT USER CONTRIBUTION #"),
            ).otherwise(F.lit("USER CONTRIBUTION #")),
            F.col("crank"),
        ).alias("txt"),
    )
    faiss_lines = vec_arm.select(
        "query_id",
        "vrank",
        F.concat(
            F.lit("DOCUMENT #"),
            F.col("vrank").cast("string"),
            F.lit(" (from "),
            F.col("source"),
            F.lit("):\n"),
            F.col("text"),
            F.lit("\n(Similarity: "),
            F.format_string("%.2f", F.col("sim")),
            F.lit(")"),
        ).alias("txt"),
    )

    def _block(lines: DataFrame, order_col: str) -> DataFrame:
        structs = lines.select(
            "query_id", F.struct(F.col(order_col).alias("o"), "txt").alias("_s")
        )
        arr = structs.groupBy("query_id").agg(
            F.array_sort(F.collect_list("_s")).alias("_arr")
        )
        return arr.select(
            "query_id",
            F.array_join(F.transform("_arr", lambda s: s["txt"]), "\n\n").alias("body"),
        )

    cb = _block(contrib_lines, "crank").withColumnRenamed("body", "cbody")
    fb = _block(faiss_lines, "vrank").withColumnRenamed("body", "fbody")

    out = (
        meta.select("query_id", "prioritized_contributions")
        .join(cb, "query_id", "left")
        .join(fb, "query_id", "left")
    )
    prioritized_ctx = F.concat_ws(
        "\n\n",
        F.concat(F.lit("USER CONTRIBUTIONS (PRIORITIZED):\n"), F.col("cbody")),
        F.when(
            F.col("fbody").isNotNull(),
            F.concat(F.lit("SUPPLEMENTARY DOCUMENTATION:\n"), F.col("fbody")),
        ),
    )
    standard_ctx = F.concat_ws(
        "\n\n",
        F.when(
            F.col("cbody").isNotNull(),
            F.concat(F.lit("USER CONTRIBUTIONS AND ENHANCEMENTS:\n"), F.col("cbody")),
        ),
        F.when(
            F.col("fbody").isNotNull(),
            F.concat(F.lit("ORIGINAL KNOWLEDGE BASE:\n"), F.col("fbody")),
        ),
    )
    return out.select(
        "query_id",
        F.when(F.col("prioritized_contributions"), prioritized_ctx)
        .otherwise(standard_ctx)
        .alias("combined_context"),
    )


def fallback_routing(
    queries: DataFrame,
    primary_vec: DataFrame,
    primary_lex: DataFrame,
    fallback_lex: DataFrame,
) -> DataFrame:
    """Q14 (views.py:277-316): if both primary arms are empty for a query,
    route to the fallback contribution search (min_rating=0); if that is
    also empty, 'not_found' (the 404 branch). Faithful note: the
    reference's fallback re-runs the same min_rating=0.0 search it already
    ran (views.py:283 vs enhanced_search.py:52), so a live 'fallback' hit
    only occurs when the primary lexical arm errored; the routing structure
    is what matters.
    """
    pv = primary_vec.groupBy("query_id").agg(F.count("*").alias("_pv"))
    pl = primary_lex.groupBy("query_id").agg(F.count("*").alias("_pl"))
    fl = fallback_lex.groupBy("query_id").agg(F.count("*").alias("_fl"))
    pvn = F.coalesce(F.col("_pv"), F.lit(0))
    pln = F.coalesce(F.col("_pl"), F.lit(0))
    fln = F.coalesce(F.col("_fl"), F.lit(0))
    return (
        queries.select("query_id")
        .join(pv, "query_id", "left")
        .join(pl, "query_id", "left")
        .join(fl, "query_id", "left")
        .select(
            "query_id",
            pvn.alias("n_primary_faiss"),
            pln.alias("n_primary_contrib"),
            ((pvn == 0) & (pln == 0) & (fln > 0)).alias("fallback_used"),
            F.when((pvn > 0) | (pln > 0), pvn + pln)
            .when(fln > 0, fln)
            .otherwise(F.lit(0))
            .alias("n_results"),
            F.when((pvn > 0) | (pln > 0), F.lit("ok"))
            .when(fln > 0, F.lit("fallback"))
            .otherwise(F.lit("not_found"))
            .alias("status"),
        )
    )
