"""MMR (maximal marginal relevance) diversity rerank over a cosine
shortlist — the retrieval-side post-processor the reference's fusion tier
stops short of (its prioritize/interleave stage, core/enhanced_search.py,
orders by source and score but never penalizes redundancy among results).

Semantics: per query, take the top-`n_shortlist` corpus vectors by cosine,
then greedily select `k` of them maximizing

    lam * rel(q, d)  -  (1 - lam) * max_{s in selected} sim(d, s)

with the first pick being the most relevant candidate and ties broken by
ascending vec_id.

Cross-engine determinism is the hard part of an MMR oracle: a greedy
argmax chain amplifies any float summation-order difference between
engines into a different selection.  This implementation makes every
DECISION integer-exact instead of praying over epsilons:

  * normalized components are quantized to round(x * 1e6) as int64
    (both engines compute the same float64 normalization — the q1 family
    already pins that — and quantize identically);
  * relevance and pairwise similarity are integer dot products
    (256 * (1e6)^2 = 2.6e14 per term-sum, far inside int64);
  * with lam = 0.7, the greedy score is the integer 7*rel - 3*maxsim.

The DuckDB oracle replays the identical greedy chain with a recursive CTE
(one iteration per rank), so the driver check pins the full selection
order, not just the shortlist.

Scale shape: the corpus-sized work is exactly the q1 scan (broadcast
query table, map-side integer dots, WindowGroupLimit top-N); the greedy
stage touches only NQ * n_shortlist rows, grouped per query through ONE
applyInPandas with an O(n^2) integer matmul per bounded group.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from koby_s_ai_vector_db_spark.functions.vectors import l2_normalize, sql_normalize

QSCALE = 1_000_000  # per-component quantization of the normalized vector
LAM_NUM, LAM_DEN = 7, 10  # lam = 0.7 as integers: 7*rel - 3*maxsim
REL_SCALE = float(QSCALE) * float(QSCALE)  # integer sim -> cosine units

MMR_SCHEMA = "query_id long, vec_id long, rank int, rel double"


def quantized_expr(vec_col: str):
    """round(l2_normalize(v)[i] * 1e6) as array<bigint> — the only float
    step; everything downstream is exact integer arithmetic."""
    return F.transform(
        l2_normalize(vec_col),
        lambda x: F.round(x * F.lit(QSCALE), 0).cast("long"),
    )


def _greedy(pdf: pd.DataFrame) -> pd.DataFrame:
    import numpy as np

    k = int(pdf["_k"].iloc[0])
    pdf = pdf.sort_values("vec_id").reset_index(drop=True)
    ids = pdf["vec_id"].to_numpy()
    rel = pdf["rel_int"].to_numpy(dtype=np.int64)
    m = np.array(pdf["vq"].tolist(), dtype=np.int64)
    sim = m @ m.T  # exact int64: 256 * 1e12 per entry

    n = len(ids)
    picked: list[int] = []
    maxsim = np.full(n, np.iinfo(np.int64).min, dtype=np.int64)
    avail = np.ones(n, dtype=bool)
    for _ in range(min(k, n)):
        if not picked:
            score = rel * LAM_DEN  # first pick: pure relevance
        else:
            score = LAM_NUM * rel - (LAM_DEN - LAM_NUM) * maxsim
        score = np.where(avail, score, np.iinfo(np.int64).min)
        best = int(score.max())
        # ties broken by ascending vec_id: ids is sorted ascending, so
        # the first index attaining the max is the smallest id.
        j = int(np.flatnonzero(score == best)[0])
        picked.append(j)
        avail[j] = False
        maxsim = np.maximum(maxsim, sim[:, j])
    return pd.DataFrame(
        {
            "query_id": pdf["query_id"].iloc[0],
            "vec_id": ids[picked],
            "rank": np.arange(1, len(picked) + 1, dtype="int32"),
            "rel": np.round(rel[picked] / REL_SCALE, 6),
        }
    )


def mmr_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    n_shortlist: int = 25,
    k: int = 10,
) -> DataFrame:
    """Top-k MMR per query. Returns (query_id, vec_id, rank, rel)."""
    if not 0 < k <= n_shortlist:
        raise ValueError(f"need 0 < k <= n_shortlist, got k={k}, n={n_shortlist}")
    from koby_s_ai_vector_db_spark.functions.partitioning import spread

    # The quantize + per-query integer-dot map below is the CPU-bound
    # stage and runs BEFORE any exchange — a single-file parquet corpus
    # arrives as ONE partition and would compute every dot on one core
    # (the SURVEY §9 spread() convention; topk_cosine does the same).
    c = spread(corpus).select(
        "vec_id", quantized_expr("embedding").alias("vq")
    )
    q = queries.select(
        "query_id", quantized_expr("query_vec").alias("qv")
    )
    rel = c.join(F.broadcast(q)).select(
        "query_id",
        "vec_id",
        "vq",
        F.aggregate(
            F.zip_with("vq", "qv", lambda a, b: a * b), F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("rel_int"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("rel_int"), F.asc("vec_id")
    )
    short = (
        rel.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= n_shortlist)
        .drop("rn")
        .withColumn("_k", F.lit(k))
    )
    return (
        short.groupBy("query_id")
        .applyInPandas(_greedy, MMR_SCHEMA)
        .orderBy("query_id", "rank")
    )


def mmr_oracle_sql(nq: int, n_shortlist: int = 25, k: int = 10) -> str:
    """DuckDB twin: identical quantization, integer dots, and greedy chain
    via a recursive CTE (one row appended per rank)."""
    vq = (
        f"list_transform({sql_normalize('embedding')},"
        f" x -> CAST(round(x * {QSCALE}) AS BIGINT))"
    )
    idot = "list_sum(list_transform({a}, (x, i) -> x * {b}[i]))"
    return f"""
WITH RECURSIVE c AS (
    SELECT vec_id, {vq} AS vq FROM embeddings
),
q AS (SELECT vec_id AS query_id, vq AS qv FROM c WHERE vec_id < {nq}),
rel0 AS (
    SELECT q.query_id, c.vec_id, c.vq,
           CAST({idot.format(a='c.vq', b='q.qv')} AS BIGINT) AS rel_int
    FROM c CROSS JOIN q
),
short AS (
    SELECT query_id, vec_id, vq, rel_int FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY rel_int DESC, vec_id ASC) AS rn
        FROM rel0
    ) WHERE rn <= {n_shortlist}
),
ps AS (
    SELECT a.query_id, a.vec_id AS ia, b.vec_id AS ib,
           CAST({idot.format(a='a.vq', b='b.vq')} AS BIGINT) AS sim_int
    FROM short a JOIN short b
      ON a.query_id = b.query_id AND a.vec_id <> b.vec_id
),
pick AS (
    SELECT query_id,
           [(SELECT vec_id FROM short s WHERE s.query_id = g.query_id
             ORDER BY rel_int DESC, vec_id ASC LIMIT 1)] AS sel,
           1 AS it
    FROM (SELECT DISTINCT query_id FROM short) g
    UNION ALL
    SELECT query_id,
           list_append(sel, (
               SELECT s.vec_id FROM short s
               WHERE s.query_id = pick.query_id
                 AND NOT list_contains(pick.sel, s.vec_id)
               ORDER BY {LAM_NUM} * s.rel_int - {LAM_DEN - LAM_NUM} * (
                   SELECT max(sim_int) FROM ps
                   WHERE ps.query_id = pick.query_id AND ps.ia = s.vec_id
                     AND list_contains(pick.sel, ps.ib)) DESC,
                 s.vec_id ASC
               LIMIT 1)) AS sel,
           it + 1
    FROM pick
    WHERE it < {k}
      AND EXISTS (SELECT 1 FROM short s WHERE s.query_id = pick.query_id
                  AND NOT list_contains(pick.sel, s.vec_id))
),
final AS (
    SELECT query_id, sel FROM pick
    QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY it DESC) = 1
),
flat AS (
    SELECT query_id, unnest(sel) AS vec_id,
           CAST(unnest(range(1, len(sel) + 1)) AS INT) AS rank
    FROM final
)
SELECT f.query_id, f.vec_id, f.rank,
       round(CAST(s.rel_int AS DOUBLE) / {REL_SCALE!r}, 6) AS rel
FROM flat f JOIN short s
  ON s.query_id = f.query_id AND s.vec_id = f.vec_id
ORDER BY f.query_id, f.rank
"""
