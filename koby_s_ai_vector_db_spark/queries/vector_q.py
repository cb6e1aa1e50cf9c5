"""Vector-search queries (SURVEY §2.3 Q1/Q2, §2.2 T3) wired to fixtures.

Query set: the first NQ vectors of `embeddings` act as query vectors over
the full table as corpus (self-matches included, sim=1.0 at rank 1 — same
as FAISS searching its own rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from koby_s_ai_vector_db_spark.functions.caching import memo, memo_persist, scratch_index
from koby_s_ai_vector_db_spark.functions.vectors import l2_normalize, sql_normalize
from koby_s_ai_vector_db_spark.operators.similarity import ivf_topk, knn_self_join, topk_cosine
from koby_s_ai_vector_db_spark.registry import register
from koby_s_ai_vector_db_spark.sources.tables import load_table

NQ = 8  # number of query vectors
K = 10
THRESHOLD = 0.15

_NORM_CTE = f"""
WITH c AS (
    SELECT vec_id, label, {sql_normalize('embedding')} AS v
    FROM embeddings
)
"""

_Q1_ORACLE = (
    _NORM_CTE
    + f"""
, q AS (SELECT vec_id AS query_id, v AS qv FROM c WHERE vec_id < {NQ}),
scored AS (
    SELECT q.query_id, c.vec_id,
           list_sum(list_transform(c.v, (x, i) -> x * q.qv[i])) AS sim_raw
    FROM c CROSS JOIN q
),
ranked AS (
    SELECT query_id, vec_id, sim_raw,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY sim_raw DESC, vec_id ASC) AS rank
    FROM scored
)
SELECT query_id, vec_id, round(sim_raw, 6) AS sim, rank
FROM ranked WHERE rank <= {K} AND sim_raw >= {THRESHOLD}
"""
)


@register("q1_topk_cosine", _Q1_ORACLE)
def q1_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1 (utils.py:194-254): exact top-k cosine, threshold after rank."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < NQ).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return topk_cosine(emb.select("vec_id", "embedding"), queries, k=K, threshold=THRESHOLD)


_Q17_ORACLE = (
    _NORM_CTE
    + f"""
, q AS (SELECT vec_id AS query_id, label, v AS qv FROM c WHERE vec_id < {NQ}),
scored AS (
    SELECT q.query_id, c.vec_id,
           list_sum(list_transform(c.v, (x, i) -> x * q.qv[i])) AS sim_raw
    FROM c JOIN q ON c.label = q.label AND c.vec_id <> q.query_id
),
ranked AS (
    SELECT query_id, vec_id, sim_raw,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY sim_raw DESC, vec_id ASC) AS rank
    FROM scored
)
SELECT query_id, vec_id, round(sim_raw, 6) AS sim, rank
FROM ranked WHERE rank <= {K} AND sim_raw >= {THRESHOLD}
"""
)


@register("q17_filtered_ann", _Q17_ORACLE)
def q17_filtered_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-filtered vector search: per-query top-k cosine restricted
    to corpus vectors sharing the query's label (self excluded) — the
    filtered-search tier every production vector store exposes; the
    reference's nearest analogue is session-scoped search
    (core/enhanced_search.py session filter) applied to Q1's FAISS scan.
    The label equality is the broadcast-hash-join KEY (operators/
    similarity.py::topk_cosine match_on), so non-matching vectors are
    dropped at the join probe BEFORE any dot product — filtered search
    costs less than unfiltered, not more."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < NQ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
        "label",
    )
    return topk_cosine(
        emb.select("vec_id", "embedding", "label"),
        queries,
        k=K,
        threshold=THRESHOLD,
        exclude_self=True,
        match_on="label",
    )


_T3_ORACLE = (
    _NORM_CTE
    + """
SELECT vec_id, round(list_sum(list_transform(v, x -> x * x)), 6) AS sq_norm,
       round(v[1], 6) AS first_component
FROM c
"""
)


@register("t3_normalize", _T3_ORACLE)
def t3_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3 (utils.py:126-135): unit-norm check — ||v||² and first component."""
    from koby_s_ai_vector_db_spark.functions.partitioning import spread

    emb = spread(load_table(spark, sf_dir, "embeddings"))
    v = l2_normalize("embedding")
    return emb.select(
        "vec_id",
        F.round(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x), 6).alias("sq_norm"),
        F.round(F.element_at(v, 1), 6).alias("first_component"),
    )


N_PROBE = 2

_Q2_ORACLE = (
    _NORM_CTE
    + f"""
, q AS (SELECT vec_id AS query_id, v AS qv FROM c WHERE vec_id < {NQ}),
expl AS (
    SELECT label, unnest(list_transform(v, (x, i) -> {{'i': i, 'x': x}})) AS s FROM c
),
cent AS (SELECT label, s.i AS i, avg(s.x) AS x FROM expl GROUP BY label, s.i),
centroids AS (SELECT label, list(x ORDER BY i) AS centroid FROM cent GROUP BY label),
probe_scored AS (
    SELECT q.query_id, cn.label,
           list_sum(list_transform(q.qv, (x, i) -> x * cn.centroid[i])) AS csim
    FROM q CROSS JOIN centroids cn
),
probes AS (
    SELECT query_id, label FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY csim DESC, label ASC) AS prank
        FROM probe_scored)
    WHERE prank <= {N_PROBE}
),
scored AS (
    SELECT p.query_id, c.vec_id,
           list_sum(list_transform(c.v, (x, i) -> x * q.qv[i])) AS sim_raw
    FROM probes p JOIN c ON c.label = p.label JOIN q ON q.query_id = p.query_id
),
ranked AS (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY sim_raw DESC, vec_id ASC) AS rank
    FROM scored
)
SELECT query_id, vec_id, round(sim_raw, 6) AS sim, rank
FROM ranked WHERE rank <= {K}
"""
)


@register("q2_ann", _Q2_ORACLE)
def q2_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 (supabase_schema.sql:137-171 ivfflat, lists=100, probed subset):
    IVF-style ANN — per-label mean centroids, probe the 2 nearest of 10
    cells, exact search only inside probed cells. At scale the corpus is
    partitioned by label so a probe is a partition-pruned scan of ~20% of
    the data. Measured recall@10 vs exact q1 = 0.31 on the fixture
    (tests/test_ann_recall.py) — the fixture `label` is random, not a
    k-means cell, so recall is close to the probed fraction; with real
    k-means lists recall rises sharply, the same trade-off the
    reference's ivfflat accepts."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < NQ).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return ivf_topk(
        emb.select("vec_id", "label", "embedding"),
        queries,
        k=K,
        n_probe_labels=N_PROBE,
        cache_key=("emb", sf_dir),
    )


SHORTLIST = 64


def _pq_oracle() -> str:
    from koby_s_ai_vector_db_spark.operators.pq import cb_literal_duckdb

    cb = cb_literal_duckdb()
    return (
        _NORM_CTE
        + f"""
, q AS (SELECT vec_id AS query_id, v AS qv FROM c WHERE vec_id < {NQ}),
codes AS (
    SELECT vec_id,
           list_transform(
               list_transform({cb}, (cbs, s) ->
                   list_transform(cbs, cd ->
                       list_sum(list_transform(cd, (x, i) -> x * v[(s-1)*8 + i])))),
               ds -> list_position(ds, list_max(ds))) AS codes
    FROM c
),
dtab AS (
    SELECT query_id,
           list_transform({cb}, (cbs, s) ->
               list_transform(cbs, cd ->
                   list_sum(list_transform(cd, (x, i) -> x * qv[(s-1)*8 + i])))) AS dtab
    FROM q
),
adc AS (
    SELECT d.query_id, cd.vec_id,
           list_sum(list_transform(cd.codes, (code, s) -> d.dtab[s][code])) AS adc
    FROM codes cd CROSS JOIN dtab d
),
sl AS (
    SELECT query_id, vec_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY adc DESC, vec_id ASC) AS srank
        FROM adc)
    WHERE srank <= {SHORTLIST}
),
rer AS (
    SELECT sl.query_id, sl.vec_id,
           list_sum(list_transform(c.v, (x, i) -> x * q.qv[i])) AS sim_raw
    FROM sl JOIN c ON c.vec_id = sl.vec_id JOIN q ON q.query_id = sl.query_id
),
ranked AS (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY sim_raw DESC, vec_id ASC) AS rank
    FROM rer
)
SELECT query_id, vec_id, round(sim_raw, 6) AS sim, rank
FROM ranked WHERE rank <= {K}
"""
    )


def _ivfpq_oracle() -> str:
    from koby_s_ai_vector_db_spark.operators.pq import cb_literal_duckdb

    cb = cb_literal_duckdb()
    return (
        _NORM_CTE
        + f"""
, q AS (SELECT vec_id AS query_id, v AS qv FROM c WHERE vec_id < {NQ}),
expl AS (
    SELECT label, unnest(list_transform(v, (x, i) -> {{'i': i, 'x': x}})) AS s FROM c
),
cent AS (SELECT label, s.i AS i, avg(s.x) AS x FROM expl GROUP BY label, s.i),
centroids AS (SELECT label, list(x ORDER BY i) AS centroid FROM cent GROUP BY label),
probe_scored AS (
    SELECT q.query_id, cn.label,
           list_sum(list_transform(q.qv, (x, i) -> x * cn.centroid[i])) AS csim
    FROM q CROSS JOIN centroids cn
),
probes AS (
    SELECT query_id, label FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY csim DESC, label ASC) AS prank
        FROM probe_scored)
    WHERE prank <= {N_PROBE}
),
codes AS (
    SELECT label, vec_id,
           list_transform(
               list_transform({cb}, (cbs, s) ->
                   list_transform(cbs, cd ->
                       list_sum(list_transform(cd, (x, i) -> x * v[(s-1)*8 + i])))),
               ds -> list_position(ds, list_max(ds))) AS codes
    FROM c
),
dtab AS (
    SELECT query_id,
           list_transform({cb}, (cbs, s) ->
               list_transform(cbs, cd ->
                   list_sum(list_transform(cd, (x, i) -> x * qv[(s-1)*8 + i])))) AS dtab
    FROM q
),
adc AS (
    SELECT p.query_id, cd.vec_id,
           list_sum(list_transform(cd.codes, (code, s) -> d.dtab[s][code])) AS adc
    FROM codes cd JOIN probes p ON cd.label = p.label
                  JOIN dtab d ON d.query_id = p.query_id
),
sl AS (
    SELECT query_id, vec_id FROM (
        SELECT *, row_number() OVER (PARTITION BY query_id
                                     ORDER BY adc DESC, vec_id ASC) AS srank
        FROM adc)
    WHERE srank <= {SHORTLIST}
),
rer AS (
    SELECT sl.query_id, sl.vec_id,
           list_sum(list_transform(c.v, (x, i) -> x * q.qv[i])) AS sim_raw
    FROM sl JOIN c ON c.vec_id = sl.vec_id JOIN q ON q.query_id = sl.query_id
),
ranked AS (
    SELECT *, row_number() OVER (PARTITION BY query_id
                                 ORDER BY sim_raw DESC, vec_id ASC) AS rank
    FROM rer
)
SELECT query_id, vec_id, round(sim_raw, 6) AS sim, rank
FROM ranked WHERE rank <= {K}
"""
    )


# ---------------------------------------------------------------------------
# Persisted-index variants: the one-time `CREATE INDEX` analogue
# (sources/pq_index.py). The index is built ONCE per (session, sf_dir) into
# a scratch directory; every later call — the bench's timed pass, repeated
# driver checks — only searches, so the measured cost is the steady-state
# ADC scan over persisted 4-byte codes, never a corpus re-encode. The
# oracles above encode, probe and re-rank the whole corpus in SQL, so they
# check the persisted codes, centroids and search end to end.


@register("q2_ann_pq_idx", _pq_oracle())
def q2_ann_pq_idx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flat PQ ANN over the PERSISTED codes artifact (sources/pq_index.py,
    one constant list probed with n_probe=1): build-once encode, then a
    column-pruned (vec_id, codes)-only scan per query — the hot loop reads
    4-byte codes, never the 256-byte vectors. Scores are exact
    (re-ranked); recall vs q1 is measured in tests/test_pq_index.py."""
    from koby_s_ai_vector_db_spark.sources.pq_index import (
        build_ivfpq_index,
        ivfpq_index_search,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    path = scratch_index(
        spark, "pq", sf_dir,
        lambda p: build_ivfpq_index(
            emb.select("vec_id", F.lit(0).alias("list"), "embedding"), p,
            list_col="list",
        ),
    )
    queries = emb.filter(F.col("vec_id") < NQ).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return memo(  # memoized like q2_ann_ivfpq_idx
        spark, ("q2_ann_pq_idx", path),
        lambda: ivfpq_index_search(
            spark, path, queries, k=K, n_probe=1, shortlist=SHORTLIST
        ),
    )


@register("q2_ann_ivfpq_idx", _ivfpq_oracle())
def q2_ann_ivfpq_idx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ over the PERSISTED list-partitioned codes artifact: the probe
    prunes PARTITIONS (unprobed lists' files never opened), column pruning
    keeps the ADC scan on codes only, and the build's encode cost is paid
    once — the full FAISS IndexIVFPQ economics. Coarse lists here are the
    fixture labels (deterministic per-list mean centroids) so the result is
    value-checked against a DuckDB oracle; the k-means build path is
    recall-tested in tests/test_pq_index.py instead."""
    from koby_s_ai_vector_db_spark.sources.pq_index import (
        build_ivfpq_index,
        ivfpq_index_search,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    path = scratch_index(
        spark, "ivfpq", sf_dir,
        lambda p: build_ivfpq_index(
            emb.select("vec_id", "label", "embedding"), p, list_col="label"
        ),
    )
    queries = emb.filter(F.col("vec_id") < NQ).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    # A fixed query set over a never-rebuilt scratch path: memoize the
    # plan, so a steady-state build runs no probe collect.
    return memo(
        spark, ("q2_ann_ivfpq_idx", path),
        lambda: ivfpq_index_search(
            spark, path, queries, k=K, n_probe=N_PROBE, shortlist=SHORTLIST
        ),
    )


@register("q2_ann_ivf_idx", None)
def q2_ann_ivf_idx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN over the persisted index with LEARNED k-means lists
    (sources/pq_index.py, ``shortlist=None``): seeded MLlib k-means lists
    written partitionBy(list), probed with static partition pruning, and
    every row of the probed lists scored exactly — the pgvector `CREATE
    INDEX ivfflat` + probes analogue. Registered WITHOUT an oracle:
    iterative float k-means is engine-specific, so it gets the weaker
    rows-only check while value-level semantics are covered by the
    deterministic q2_ann* family and tests/test_ivf_index.py (recall,
    full probe = exact, partitions-read assertions)."""
    from koby_s_ai_vector_db_spark.sources.pq_index import (
        build_ivfpq_index,
        ivfpq_index_search,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    path = scratch_index(
        spark, "ivf", sf_dir,
        lambda p: build_ivfpq_index(emb.select("vec_id", "embedding"), p, n_lists=10),
    )
    queries = emb.filter(F.col("vec_id") < NQ).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return memo(  # memoized like q2_ann_ivfpq_idx
        spark, ("q2_ann_ivf_idx", path),
        lambda: ivfpq_index_search(
            spark, path, queries, k=K, n_probe=N_PROBE, shortlist=None
        ),
    )


_KNN_ORACLE = (
    _NORM_CTE
    + """
, scored AS (
    SELECT a.vec_id AS query_id, b.vec_id,
           list_sum(list_transform(a.v, (x, i) -> x * b.v[i])) AS sim_raw
    FROM c a CROSS JOIN c b
    WHERE a.vec_id <> b.vec_id AND a.vec_id < 64
),
ranked AS (
    SELECT query_id, vec_id, sim_raw,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY sim_raw DESC, vec_id ASC) AS rank
    FROM scored
)
SELECT query_id, vec_id, round(sim_raw, 6) AS sim, rank
FROM ranked WHERE rank <= 3
"""
)


@register("knn_self_join", _KNN_ORACLE)
def knn_self_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs 3-NN for the first 64 vectors (exact oracle for ANN ops)."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return knn_self_join(emb, k=3, queries=emb.filter(F.col("vec_id") < 64))


# --- MMR diversity rerank (retrieval post-processing tier) ------------------

from koby_s_ai_vector_db_spark.operators.rerank import (  # noqa: E402
    mmr_oracle_sql,
    mmr_rerank,
)

MMR_SHORTLIST = 25
MMR_K = 10


@register("q16_mmr_rerank", mmr_oracle_sql(NQ, MMR_SHORTLIST, MMR_K))
def q16_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR top-10 over a top-25 cosine shortlist (lam=0.7): corpus-sized
    work is the q1 scan shape; the greedy chain is integer-exact on both
    engines, so the oracle pins the full selection ORDER (operators/
    rerank.py). The reference's fusion tier has no redundancy penalty —
    this is its production-form diversification stage."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < NQ).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return mmr_rerank(
        emb.select("vec_id", "embedding"), queries,
        n_shortlist=MMR_SHORTLIST, k=MMR_K,
    )


# --- distributed PCA (dimensionality reduction before ANN) -------------------

PCA_K = 8

# Model memoized per sf_dir in the application's memo store: the fit is
# ONE corpus pass (same convention as the persisted-index builds).


def _pca_model(spark: SparkSession, sf_dir: str):
    from koby_s_ai_vector_db_spark.operators.pca import fit_pca

    return memo(
        spark,
        ("pca_model", sf_dir),
        lambda: fit_pca(load_table(spark, sf_dir, "embeddings"), k=PCA_K),
    )


@register("emb_pca_project")  # rows-only: eigendecomposition is not SQL
def emb_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA projection (operators/pca.py): one-pass partition
    partials -> d^2-row reduce -> driver eigh on the MODEL-sized
    covariance -> map-side broadcast projection. Emits the top-3
    coordinates per vector plus the model's cumulative explained ratio;
    exactness vs numpy full PCA is pinned in tests/test_pca.py."""
    from koby_s_ai_vector_db_spark.operators.pca import project_pca

    model = _pca_model(spark, sf_dir)
    cum3 = round(
        float(model.explained_variance[:3].sum() / (model.total_variance or 1.0)), 6
    )
    proj = project_pca(load_table(spark, sf_dir, "embeddings"), model)
    return proj.select(
        "vec_id",
        F.round(F.col("pc")[0], 6).alias("pc1"),
        F.round(F.col("pc")[1], 6).alias("pc2"),
        F.round(F.col("pc")[2], 6).alias("pc3"),
        F.lit(cum3).alias("cum_ratio_3"),
    ).orderBy("vec_id")


# Hash-checked audit arm for the rows-only PCA projection (VERDICT r06
# item 8, mirroring q2's recall-audit pattern): every metric is either
# (a) independently recomputable by DuckDB straight from the parquet —
# n, total variance (= trace of the covariance the distributed partial
# pass built), squared mean norm — or (b) an exact algebraic invariant
# of a CORRECT projection — per-component centering and pairwise
# uncorrelatedness are identically zero for eigenvector projections of
# centered data, so the oracle pins them as literal 0.0 and any defect
# in the partials/reduce/eigh/projection chain surfaces as a nonzero.
_PCA_AUDIT_ORACLE = """
WITH vals AS (
    SELECT t.i AS dim, CAST(embedding[t.i] AS DOUBLE) AS val
    FROM embeddings,
         LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) t
),
dimstats AS (
    SELECT dim, var_pop(val) AS v, avg(val) AS m FROM vals GROUP BY dim
)
SELECT 'n_vectors' AS metric,
       CAST((SELECT count(*) FROM embeddings) AS DOUBLE) AS value
UNION ALL SELECT 'total_variance', CAST(round(sum(v), 6) AS DOUBLE) FROM dimstats
UNION ALL SELECT 'mean_sq_norm', CAST(round(sum(m * m), 6) AS DOUBLE) FROM dimstats
UNION ALL SELECT 'center_pc1', CAST(0.0 AS DOUBLE)
UNION ALL SELECT 'center_pc2', CAST(0.0 AS DOUBLE)
UNION ALL SELECT 'center_pc3', CAST(0.0 AS DOUBLE)
UNION ALL SELECT 'ortho_pc12', CAST(0.0 AS DOUBLE)
UNION ALL SELECT 'ortho_pc13', CAST(0.0 AS DOUBLE)
UNION ALL SELECT 'ortho_pc23', CAST(0.0 AS DOUBLE)
ORDER BY metric
"""


@register("emb_pca_audit", _PCA_AUDIT_ORACLE)
def emb_pca_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checked invariants of the distributed PCA pipeline: corpus
    stats the oracle recomputes from raw parquet (n, trace of covariance,
    ||mean||^2 — these validate the one-pass partials + d^2-row reduce)
    plus exact zero-invariants of the projection (per-component mean and
    pairwise correlation of the projected coordinates). Projection-side
    sums run distributed; rounding at 1e-6 absorbs float64 accumulation
    noise (~1e-12 at any sf); `+ 0.0` canonicalizes -0.0 so the driver's
    value-hash never sees a sign-of-zero artifact."""
    from koby_s_ai_vector_db_spark.operators.pca import project_pca

    model = _pca_model(spark, sf_dir)
    proj = project_pca(load_table(spark, sf_dir, "embeddings"), model)
    agg = proj.select(
        F.col("pc")[0].alias("p1"),
        F.col("pc")[1].alias("p2"),
        F.col("pc")[2].alias("p3"),
    ).agg(
        F.count("*").alias("n"),
        F.sum("p1").alias("c1"),
        F.sum("p2").alias("c2"),
        F.sum("p3").alias("c3"),
        F.sum(F.col("p1") * F.col("p2")).alias("o12"),
        F.sum(F.col("p1") * F.col("p3")).alias("o13"),
        F.sum(F.col("p2") * F.col("p3")).alias("o23"),
    )

    def _z(c):  # mean-of-column invariant, -0.0-proofed
        return F.round(c / F.col("n"), 6) + F.lit(0.0)

    return (
        agg.select(
            F.explode(
                F.create_map(
                    F.lit("n_vectors"), F.col("n").cast("double"),
                    F.lit("total_variance"),
                    F.lit(round(float(model.total_variance), 6)),
                    F.lit("mean_sq_norm"),
                    F.lit(round(float(model.mean @ model.mean), 6)),
                    F.lit("center_pc1"), _z(F.col("c1")),
                    F.lit("center_pc2"), _z(F.col("c2")),
                    F.lit("center_pc3"), _z(F.col("c3")),
                    F.lit("ortho_pc12"), _z(F.col("o12")),
                    F.lit("ortho_pc13"), _z(F.col("o13")),
                    F.lit("ortho_pc23"), _z(F.col("o23")),
                )
            ).alias("metric", "value")
        )
        .orderBy("metric")
    )


# --- contrastive hard-negative mining ----------------------------------------
# Training-data prep for embedding models: per anchor, the positive is
# its nearest non-self neighbour and the "hard negative" a lower-ranked
# but still-close neighbour (the standard hard-negative band — near
# enough to be informative, far enough to be wrong). One top-k pass at
# k=HN_RANK over the same WindowGroupLimit plan as q1; the pivot to one
# triplet row per anchor is a 2-row-per-anchor groupBy.
HN_RANK = 12

_HN_ORACLE = (
    _NORM_CTE
    + f"""
, q AS (SELECT vec_id AS query_id, v AS qv FROM c WHERE vec_id < {NQ}),
scored AS (
    SELECT q.query_id, c.vec_id,
           list_sum(list_transform(c.v, (x, i) -> x * q.qv[i])) AS sim_raw
    FROM c CROSS JOIN q
    WHERE c.vec_id <> q.query_id
),
ranked AS (
    SELECT query_id, vec_id, sim_raw,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY sim_raw DESC, vec_id ASC) AS rank
    FROM scored
)
SELECT query_id AS anchor_id,
       CAST(min(CASE WHEN rank = 1 THEN vec_id END) AS BIGINT) AS pos_id,
       CAST(round(min(CASE WHEN rank = 1 THEN sim_raw END), 6) AS DOUBLE)
           AS pos_sim,
       CAST(min(CASE WHEN rank = {HN_RANK} THEN vec_id END) AS BIGINT)
           AS neg_id,
       CAST(round(min(CASE WHEN rank = {HN_RANK} THEN sim_raw END), 6) AS DOUBLE)
           AS neg_sim
FROM ranked WHERE rank IN (1, {HN_RANK})
GROUP BY query_id
HAVING count(*) = 2
"""
)


@register("mine_hard_negatives", _HN_ORACLE)
def mine_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(anchor, positive, hard-negative) triplets from the embedding
    corpus: positive = top-1 non-self cosine neighbour, hard negative =
    the rank-12 neighbour. Anchors lacking a full band (fewer than
    HN_RANK neighbours) are dropped. The scan is the q1 map-only
    dot-product stage with per-task WindowGroupLimit pre-truncation; the
    triplet pivot aggregates exactly 2 rows per anchor."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < NQ).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    ranked = topk_cosine(
        emb.select("vec_id", "embedding"),
        queries,
        k=HN_RANK,
        threshold=-2.0,  # no threshold: the band is rank-defined
        exclude_self=True,
    ).filter(F.col("rank").isin(1, HN_RANK))
    pick = lambda r, c: F.min(F.when(F.col("rank") == r, F.col(c)))  # noqa: E731
    return (
        ranked.groupBy(F.col("query_id").alias("anchor_id"))
        .agg(
            pick(1, "vec_id").cast("long").alias("pos_id"),
            F.round(pick(1, "sim"), 6).cast("double").alias("pos_sim"),
            pick(HN_RANK, "vec_id").cast("long").alias("neg_id"),
            F.round(pick(HN_RANK, "sim"), 6).cast("double").alias("neg_sim"),
            F.count("*").alias("_n"),
        )
        .filter(F.col("_n") == 2)
        .drop("_n")
    )


# --- embedding ingest validation ---------------------------------------------
# The pre-index hygiene report a vector store runs on every ingest
# batch: per label, vector counts, all-zero (unindexable) vectors, and
# the norm distribution — catches collapsed embeddings, scale drift
# between batches, and the zero rows that poison cosine math before
# they reach an index build. All statistics on int64-quantized norms
# (order-independent, bit-identical cross-engine); p50 is rank-based.
_EMB_QUALITY_ORACLE = """
WITH norms AS (
    SELECT vec_id, label,
           CAST(round(sqrt(list_sum(list_transform(embedding,
                     x -> x::DOUBLE * x::DOUBLE))) * 1000000) AS BIGINT)
               AS qnorm
    FROM embeddings
),
ranked AS (
    SELECT *, row_number() OVER (PARTITION BY label
                                 ORDER BY qnorm, vec_id) AS rn,
           count(*) OVER (PARTITION BY label) AS n
    FROM norms
),
med AS (
    SELECT label, qnorm AS p50_norm_q6 FROM ranked
    WHERE rn = CAST(ceil(n / 2.0) AS BIGINT)
)
SELECT n.label, count(*) AS n_vecs,
       CAST(sum(CASE WHEN n.qnorm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
       CAST(min(n.qnorm) AS BIGINT) AS min_norm_q6,
       CAST(max(n.qnorm) AS BIGINT) AS max_norm_q6,
       CAST(min(m.p50_norm_q6) AS BIGINT) AS p50_norm_q6,
       CAST(sum(n.qnorm) AS BIGINT) AS sum_norm_q6
FROM norms n JOIN med m USING (label)
GROUP BY n.label
"""


@register("emb_quality_report", _EMB_QUALITY_ORACLE)
def emb_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding hygiene: counts, all-zero vectors, quantized
    norm min/max/median/sum. One map-side norm projection, one per-label
    rank window for the median, one groupBy — the corpus crosses the
    wire once on the label key."""
    from pyspark.sql import Window

    emb = load_table(spark, sf_dir, "embeddings")
    # Round AFTER scaling (repo convention): round(x, 6) * 1e6 leaves the
    # product ~1e-8 off an integer, and Spark's double→long cast TRUNCATES
    # while DuckDB's CAST rounds — ~1% of non-unit norms would diverge by
    # 1 between engines (ADVICE r07). round(x * 1e6) hands the cast an
    # exactly-integer double on both sides.
    qnorm = F.round(
        F.sqrt(
            F.aggregate(
                F.col("embedding").cast("array<double>"),
                F.lit(0.0),
                lambda a, x: a + x * x,
            )
        )
        * 1000000
    ).cast("long")
    norms = emb.select("vec_id", "label", qnorm.alias("qnorm"))
    w = Window.partitionBy("label").orderBy("qnorm", "vec_id")
    ranked = norms.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count("*").over(Window.partitionBy("label"))
    )
    med = ranked.filter(
        F.col("rn") == F.ceil(F.col("n") / F.lit(2.0))
    ).select("label", F.col("qnorm").alias("p50_norm_q6"))
    return (
        norms.join(F.broadcast(med), "label")
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            F.sum(F.when(F.col("qnorm") == 0, 1).otherwise(0))
            .cast("long")
            .alias("n_zero"),
            F.min("qnorm").cast("long").alias("min_norm_q6"),
            F.max("qnorm").cast("long").alias("max_norm_q6"),
            F.min("p50_norm_q6").cast("long").alias("p50_norm_q6"),
            F.sum("qnorm").cast("long").alias("sum_norm_q6"),
        )
    )


# --- embedding-space decontamination -----------------------------------------
# The eval-leakage check the n-gram tier misses: a benchmark item
# PARAPHRASED from a corpus document shares no 8-gram but sits at high
# cosine. Benchmark-side vectors are a bounded set (eval suites are
# thousands of items, not billions), so they broadcast; the corpus pays
# one map-side scan — per doc, dot products against every eval vector,
# threshold the int64-quantized sim BEFORE the rank window (for top-1 +
# threshold, filter-then-rank equals rank-then-filter, and the exchange
# then carries only contamination candidates, not the corpus), then
# rank-1 per doc attributes the strongest matching eval item. This is
# the reference's Q1 scan shape (core/utils.py:221-232) with the window
# keyed on the CORPUS id instead of the query id. Fixture eval set:
# every 50th embedding perturbed by +0.5 on the first coordinate (the
# EMB_DD near-dup recipe, dedup_q.py) — a paraphrase stand-in that
# lands ~0.85-0.95 cosine against its source doc, far above random-pair
# sims (~N(0, 1/8) at dim 64), so the 0.8 gate separates cleanly.
DECON_MOD = 50            # every 50th vector below the cap seeds an eval item
DECON_SEED_CAP = 2_000    # eval seed ids are FIXED (benchmark suites do
#                           not grow with the crawl): capping the seed
#                           range makes the eval side scale-invariant, so
#                           corpus growth scales the scan linearly — the
#                           production shape. Without the cap the sf1
#                           probe measured 128x on 10x data (N²/50 pairs).
DECON_OFFSET = 5_000_000  # eval ids live far above corpus vec_ids
DECON_T_Q6 = 800_000      # cosine >= 0.80, int64-quantized

_DECON_RAW_DUCK = (
    "list_concat([embedding[1]::DOUBLE + 0.5], "
    "list_transform(embedding[2:], x -> x::DOUBLE))"
)

_DECON_ORACLE = f"""
WITH c AS (
    SELECT vec_id, {sql_normalize('embedding')} AS v FROM embeddings
),
e AS (
    SELECT vec_id + {DECON_OFFSET} AS eval_id,
           {sql_normalize(_DECON_RAW_DUCK)} AS ev
    FROM embeddings
    WHERE vec_id % {DECON_MOD} = 0 AND vec_id < {DECON_SEED_CAP}
),
cand AS (
    SELECT c.vec_id, e.eval_id,
           CAST(round(list_sum(list_transform(c.v, (x, i) -> x * e.ev[i]))
                      * 1000000) AS BIGINT) AS qsim
    FROM c CROSS JOIN e
),
ranked AS (
    SELECT vec_id, eval_id, qsim,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY qsim DESC, eval_id ASC) AS r
    FROM cand WHERE qsim >= {DECON_T_Q6}
)
SELECT vec_id, eval_id, qsim AS max_sim_q6 FROM ranked WHERE r = 1
"""


@register("emb_decontaminate", _DECON_ORACLE)
def emb_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space decontamination (see the oracle note above):
    per corpus doc, the strongest eval-vector match at cosine >= 0.80.
    Complements ngram_contamination — paraphrased leakage has no shared
    n-gram but survives in embedding space."""
    from pyspark.sql import Window

    from koby_s_ai_vector_db_spark.functions.partitioning import spread
    from koby_s_ai_vector_db_spark.functions.vectors import dot

    emb = load_table(spark, sf_dir, "embeddings")
    c = spread(emb.select("vec_id", "embedding")).withColumn(
        "embedding", l2_normalize("embedding")
    )
    ed = F.col("embedding").cast("array<double>")
    evalq = (
        emb.filter(
            (F.col("vec_id") % DECON_MOD == 0)
            & (F.col("vec_id") < DECON_SEED_CAP)
        )
        .select(
            (F.col("vec_id") + DECON_OFFSET).alias("eval_id"),
            F.concat(
                F.array(F.element_at(ed, 1) + 0.5), F.slice(ed, 2, 10_000)
            ).alias("ev"),
        )
        .withColumn("ev", l2_normalize("ev"))
    )
    cand = (
        c.join(F.broadcast(evalq))
        .withColumn(
            "qsim", F.round(dot("embedding", "ev") * 1000000).cast("long")
        )
        .filter(F.col("qsim") >= DECON_T_Q6)
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("qsim"), F.asc("eval_id"))
    return (
        cand.withColumn("r", F.row_number().over(w))
        .filter(F.col("r") <= 1)
        .select("vec_id", "eval_id", F.col("qsim").alias("max_sim_q6"))
    )


# --- round-9 prebuild (NOT registered: the round-8 window is full) -----------
# Cluster-quality audit over the label column: per-label centroid plus the
# cosine-to-centroid dispersion — the readout an embedding-space curation
# pass (SemDeDup-style pruning, drift monitoring) reads before picking
# thresholds. Parity enforced by tests/test_prebuilt_r9.py until the r9
# registration.
#
# Exactness recipe: components quantize to int64 once (round(x·1e6));
# dimension sums are exact integer aggregates; the centroid is the
# integer-quantized MEAN m_i = round(s_i / n) (s_i stays < 2^53, so the
# double division is exact-input deterministic); every dot product is an
# integer sum; only the final cosine touches floats (sqrt of exact
# integers — same libm value both engines) before the q6 quantization.
EMB_DIM = 64

_EMB_CENT_ORACLE = f"""
WITH ex AS (
    SELECT vec_id, label, i AS pos,
           CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS v
    FROM embeddings CROSS JOIN range(1, {EMB_DIM + 1}) t(i)
),
sums AS (
    SELECT label, pos, CAST(sum(v) AS BIGINT) AS s,
           CAST(count(*) AS BIGINT) AS n
    FROM ex GROUP BY 1, 2
),
cent AS (
    SELECT label, pos, CAST(round(CAST(s AS DOUBLE) / n) AS BIGINT) AS m
    FROM sums
),
mm AS (SELECT label, CAST(sum(m * m) AS BIGINT) AS mm FROM cent GROUP BY 1),
dots AS (
    SELECT e.vec_id, e.label,
           CAST(sum(e.v * c.m) AS BIGINT) AS vm,
           CAST(sum(e.v * e.v) AS BIGINT) AS vv
    FROM ex e JOIN cent c ON e.label = c.label AND e.pos = c.pos
    GROUP BY 1, 2
),
cos AS (
    SELECT d.label,
           CAST(round(1000000.0 * d.vm
                      / (sqrt(CAST(d.vv AS DOUBLE)) * sqrt(CAST(m.mm AS DOUBLE))))
                AS BIGINT) AS cq
    FROM dots d JOIN mm m USING (label)
)
SELECT c.label,
       CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(round(sqrt(CAST(min(m.mm) AS DOUBLE))) AS BIGINT) AS centroid_norm_q6,
       CAST(sum(c.cq) AS BIGINT) AS sum_cos_q6,
       CAST(min(c.cq) AS BIGINT) AS min_cos_q6,
       CAST(max(c.cq) AS BIGINT) AS max_cos_q6
FROM cos c JOIN mm m USING (label)
GROUP BY c.label
"""


@register("emb_label_centroids", _EMB_CENT_ORACLE)
def emb_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid + cosine-to-centroid dispersion. Plan: one
    posexplode aggregate to (label, dim) sums (64·|labels| keys, map-side
    combined — the only corpus-wide shuffle), centroids collapse to one
    array row per label and BROADCAST back, then the per-vector cosine is
    map-only zip_with/aggregate integer math; the final per-label aggregate
    carries ~16 B/row. At 100 TB the exploded shuffle is 64× row count but
    fixed-width — bytes ≈ 24·64·N, all combinable map-side."""
    from koby_s_ai_vector_db_spark.functions.exprs import array_rows_nonempty

    emb = load_table(spark, sf_dir, "embeddings")
    vq = F.transform(
        "embedding",
        lambda x: F.round(x.cast("double") * 1000000).cast("long"),
    )
    # Bind vq as a Generate output: a plain projection would have the
    # quantize transform re-inlined into InferFiltersFromGenerate's
    # size/notnull filter under the posexplode below (round-12 audit).
    base = array_rows_nonempty(emb, ["vec_id", "label"], vq, "vq")
    ex = base.select("vec_id", "label", F.posexplode("vq").alias("pos", "v"))
    cent = (
        ex.groupBy("label", "pos")
        .agg(F.sum("v").alias("s"), F.count("*").alias("n"))
        .select(
            "label",
            "pos",
            F.round(F.col("s").cast("double") / F.col("n"))
            .cast("long")
            .alias("m"),
        )
    )
    carr = cent.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))),
            lambda st: st.getField("m"),
        ).alias("marr"),
        F.sum(F.col("m") * F.col("m")).alias("mm"),
    )
    lsum = lambda arr: F.aggregate(  # noqa: E731 — integer array sum
        arr, F.lit(0).cast("long"), lambda acc, x: acc + x
    )
    scored = base.join(F.broadcast(carr), "label").select(
        "label",
        F.round(
            1000000.0
            * lsum(F.zip_with("vq", "marr", lambda a, b: a * b))
            / (
                F.sqrt(lsum(F.transform("vq", lambda x: x * x)).cast("double"))
                * F.sqrt(F.col("mm").cast("double"))
            )
        )
        .cast("long")
        .alias("cq"),
        "mm",
    )
    return scored.groupBy("label").agg(
        F.count("*").alias("n_vecs"),
        F.round(F.sqrt(F.min("mm").cast("double")))
        .cast("long")
        .alias("centroid_norm_q6"),
        F.sum("cq").cast("long").alias("sum_cos_q6"),
        F.min("cq").cast("long").alias("min_cos_q6"),
        F.max("cq").cast("long").alias("max_cos_q6"),
    )


# --- registered round 10 (pre-built late round 8 per SURVEY §9) ------------
# ANN quality evaluation: recall@K of the IVF tier (q2_ann's exact plan
# shape) against the exact top-K (q1's, threshold disabled), per query —
# the metric an operator watches when tuning n_probe / list count. The
# fixture number (~0.31 at 2/10 random cells) is documented on q2_ann and
# pinned in tests/test_ann_recall.py; this makes the measurement itself a
# driver-checkable query instead of test-only evidence.

_Q18_ORACLE = (
    _NORM_CTE
    + f"""
, q AS (SELECT vec_id AS query_id, v AS qv FROM c WHERE vec_id < {NQ}),
ex AS (
    SELECT query_id, vec_id FROM (
        SELECT q.query_id, c.vec_id,
               row_number() OVER (
                   PARTITION BY q.query_id
                   ORDER BY list_sum(list_transform(c.v, (x, i) -> x * q.qv[i]))
                            DESC, c.vec_id ASC) AS rank
        FROM c CROSS JOIN q)
    WHERE rank <= {K}
),
expl AS (
    SELECT label, unnest(list_transform(v, (x, i) -> {{'i': i, 'x': x}})) AS s FROM c
),
cent AS (SELECT label, s.i AS i, avg(s.x) AS x FROM expl GROUP BY label, s.i),
centroids AS (SELECT label, list(x ORDER BY i) AS centroid FROM cent GROUP BY label),
probes AS (
    SELECT query_id, label FROM (
        SELECT q.query_id, cn.label,
               row_number() OVER (
                   PARTITION BY q.query_id
                   ORDER BY list_sum(list_transform(q.qv,
                            (x, i) -> x * cn.centroid[i])) DESC,
                            cn.label ASC) AS prank
        FROM q CROSS JOIN centroids cn)
    WHERE prank <= {N_PROBE}
),
ann AS (
    SELECT query_id, vec_id FROM (
        SELECT p.query_id, c.vec_id,
               row_number() OVER (
                   PARTITION BY p.query_id
                   ORDER BY list_sum(list_transform(c.v, (x, i) -> x * q.qv[i]))
                            DESC, c.vec_id ASC) AS rank
        FROM probes p JOIN c ON c.label = p.label
        JOIN q ON q.query_id = p.query_id)
    WHERE rank <= {K}
),
hits AS (
    SELECT e.query_id, CAST(count(*) AS BIGINT) AS n_hit
    FROM ex e JOIN ann a ON a.query_id = e.query_id AND a.vec_id = e.vec_id
    GROUP BY 1
),
base AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_exact FROM ex GROUP BY 1)
SELECT b.query_id, b.n_exact,
       CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
       CAST(round(1000000.0 * coalesce(h.n_hit, 0) / b.n_exact) AS BIGINT)
           AS recall_q6
FROM base b LEFT JOIN hits h USING (query_id)
"""
)


@register("q18_ann_recall", _Q18_ORACLE)
def q18_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall@{K} of the IVF probe against exact search. Both
    arms are the existing operators (topk_cosine with the threshold
    disabled; ivf_topk at the q2 settings); the comparison itself is one
    id-key join of two K·|queries|-row tables — the corpus cost is the
    two search arms, each already probed at scale."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < NQ).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    # The exact arm feeds BOTH the hit join and the per-query base
    # count; without a persist the corpus-sized brute top-k subtree
    # plans (and can execute) twice in one query. The result is
    # K·|queries| rows — model-sized — so persist that, not the scan.
    exact = memo_persist(
        spark,
        ("q18_exact_topk", sf_dir, K, NQ),
        lambda: topk_cosine(
            emb.select("vec_id", "embedding"), queries, k=K, threshold=-2.0
        ).select("query_id", "vec_id"),
    )
    ann = ivf_topk(
        emb.select("vec_id", "label", "embedding"),
        queries,
        k=K,
        n_probe_labels=N_PROBE,
        cache_key=("emb", sf_dir),
    ).select("query_id", "vec_id")
    hits = exact.join(ann, ["query_id", "vec_id"]).groupBy("query_id").agg(
        F.count("*").alias("n_hit")
    )
    base = exact.groupBy("query_id").agg(F.count("*").alias("n_exact"))
    return base.join(F.broadcast(hits), "query_id", "left").select(
        "query_id",
        "n_exact",
        F.coalesce("n_hit", F.lit(0)).cast("long").alias("n_hit"),
        F.round(
            1000000.0
            * F.coalesce("n_hit", F.lit(0))
            / F.col("n_exact")
        )
        .cast("long")
        .alias("recall_q6"),
    )
