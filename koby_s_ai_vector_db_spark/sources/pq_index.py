"""Persisted product-quantization index — encode once, ADC-scan codes
forever.

Encoding a vector costs M·KS·SUB = 1024 codebook reads, so the codes are
computed once at build time and persisted; re-encoding the corpus per
query would forfeit exactly the memory-bandwidth win PQ exists for. The
reference's analogue is the one-time ``CREATE INDEX``
(supabase_schema.sql:137-139) and FAISS's trained-then-serialized
IndexIVFPQ (the production successor of the reference's IndexFlatIP,
core/utils.py:203-214). Spark-first, the index IS a storage layout — the
same stance as the IVF index (sources/ivf.py):

  build (once)    encode the L2-normalized vectors to M 4-bit codes; write
                  ONE parquet table ``{path}/data`` with columns (id,
                  codes, vec) — IVFPQ variant PARTITIONED BY coarse list
                  id — plus tiny ``codebook`` (and ``centroids``)
                  sidecars. ``vec`` is the input vector AS GIVEN, not a
                  normalized copy: float32 input stays ``array<float>``
                  (FAISS IndexFlatIP rows and pgvector ``vector(n)`` are
                  float32 too), half the bytes of a widened double copy.
  search (often)  read the codebook sidecar, build per-query ADC tables,
                  scan ``data`` selecting ONLY (id, codes): parquet
                  COLUMN pruning means the 256-byte vec (64-d float32)
                  is never read during the hot scan — the 64× smaller read
                  is real I/O, not a projection after a full-width read.
                  IVFPQ adds PARTITION pruning: the probed list ids are
                  collected and pushed into the scan as ``list IN (...)``,
                  so unprobed lists' files are never opened (as ivf.py).
                  The exact re-rank then fetches (id, vec) of the
                  |queries|·shortlist rows only, from the same probed
                  lists, and normalizes just those vectors.
                  `l2_normalize` widens to double before any arithmetic,
                  so re-rank scores equal those of a stored normalized
                  double copy bit for bit.

One table, two prunings: column pruning separates WHAT is scanned (codes
vs vectors), partition pruning WHICH rows (probed lists). No second copy
of the vectors is needed for the re-rank fetch. An index stores one
vector element type: appends cast to the type the build wrote.

The deterministic md5-derived codebook (operators/pq.py) is persisted as
data rather than recomputed: search reads whatever codebook the build
wrote, so a learned per-subspace k-means codebook (FAISS
ProductQuantizer training) drops in without touching the search path.
The fixed-schema sidecars are read with their declared schema: a
schema-less parquet read runs one schema-inference job. Every build,
append and search rejects a vector that is not ``pq.DIM``-d with an
error naming both sizes, checked inside its projection (no extra job).

Checked two ways: the registered ``q2_ann_pq_idx``/``q2_ann_ivfpq_idx``
match DuckDB oracles that encode, probe and re-rank in SQL (same
codebook, same tie-breaks); tests/test_pq_index.py measures recall
against the exact search, checks that returned scores are exact and the
stored vectors equal the input, plan-asserts the ADC scan's parquet
schema and counts its partitions read from scan metrics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from koby_s_ai_vector_db_spark.functions.partitioning import spread
from koby_s_ai_vector_db_spark.functions.vectors import dot, l2_normalize, mean_vector
from koby_s_ai_vector_db_spark.operators.pq import (
    CODEBOOK_SCHEMA,
    DIM,
    codebook_df,
    dim_checked,
    pq_adc_score,
    pq_distance_table,
    pq_encode,
)
from koby_s_ai_vector_db_spark.sources.ivf import CENTROIDS_SCHEMA, CENTROIDS_SUBDIR

DATA_SUBDIR = "data"
CODEBOOK_SUBDIR = "codebook"
TOMBSTONES_SUBDIR = "tombstones"


def read_tombstones(spark: SparkSession, path: str) -> DataFrame | None:
    """The deleted-id table of the PQ or text index at ``path``, or None
    if nothing was ever deleted. The subdir exists only after a delete
    wrote ids (compaction removes it), so only its absence means "no
    deletes": any other read error propagates rather than silently
    bringing every deleted id back into search results."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(f"{path}/{TOMBSTONES_SUBDIR}")
    except AnalysisException as e:
        if e.getCondition() == "PATH_NOT_FOUND":
            return None
        raise


def _read_data(spark: SparkSession, path: str, corpus_id: str) -> DataFrame:
    """The live index rows: ``data`` minus tombstoned ids (FAISS
    `remove_ids` semantics — centroids and codebook stay frozen; a
    deleted vector simply stops being a candidate)."""
    data = spark.read.parquet(f"{path}/{DATA_SUBDIR}")
    tomb = read_tombstones(spark, path)
    if tomb is not None:
        data = data.join(
            F.broadcast(tomb.withColumnRenamed("id", corpus_id)),
            corpus_id,
            "left_anti",
        )
    return data


def delete_from_index(
    spark: SparkSession,
    path: str,
    ids: DataFrame,
    corpus_id: str = "vec_id",
) -> dict:
    """Delete vectors from a flat-PQ or IVF+PQ index without a rewrite:
    append the ids to ``{path}/tombstones``; every search anti-joins them
    before the ADC scan, so a deleted vector can neither enter the
    shortlist nor crowd one out (removing it admits the next-best
    candidate — NOT equivalent to post-filtering search results).
    `compact_index` reclaims the rows physically. Repeated deletes are
    idempotent. Returns {"n_deleted", "path"}."""
    del_ids = ids.select(F.col(corpus_id).alias("id")).distinct()
    prior = read_tombstones(spark, path)
    if prior is not None:
        del_ids = del_ids.join(prior, "id", "left_anti")
    # Only ids actually in the index become tombstones (bounded table).
    present = spark.read.parquet(f"{path}/{DATA_SUBDIR}").select(
        F.col(corpus_id).alias("id")
    )
    del_ids = del_ids.join(present, "id", "left_semi")
    n = del_ids.count()
    if n:
        del_ids.coalesce(1).write.mode("append").parquet(
            f"{path}/{TOMBSTONES_SUBDIR}"
        )
    return {"n_deleted": n, "path": path}


def compact_index(
    spark: SparkSession, path: str, corpus_id: str = "vec_id"
) -> dict:
    """Physically drop tombstoned rows, preserving the layout (list
    partitioning for IVF+PQ, flat otherwise) — FAISS's remove_ids
    actually reclaiming memory, as a batch rewrite. Search results are
    unchanged. Returns {"n_vectors", "path"}."""
    import os
    import shutil

    data = spark.read.parquet(f"{path}/{DATA_SUBDIR}")
    tomb = read_tombstones(spark, path)
    if tomb is None:
        return {"n_vectors": data.count(), "path": path}
    live = data.join(
        F.broadcast(tomb.withColumnRenamed("id", corpus_id)),
        corpus_id,
        "left_anti",
    )
    tmp = f"{path}/.compact_tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    if "list" in data.columns:
        live.repartition("list").write.partitionBy("list").parquet(tmp)
    else:
        live.write.parquet(tmp)
    n = spark.read.parquet(tmp).count()
    shutil.rmtree(f"{path}/{DATA_SUBDIR}")
    os.rename(tmp, f"{path}/{DATA_SUBDIR}")
    shutil.rmtree(f"{path}/{TOMBSTONES_SUBDIR}", ignore_errors=True)
    return {"n_vectors": n, "path": path}


def _write_codebook(spark: SparkSession, path: str) -> None:
    codebook_df(spark).coalesce(1).write.mode("overwrite").parquet(
        f"{path}/{CODEBOOK_SUBDIR}"
    )


def build_pq_index(
    corpus: DataFrame,
    path: str,
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Flat PQ index: ``{path}/data`` (id, codes, vec) + codebook sidecar.

    Codes encode the L2-normalized vector (the reference's build-time
    normalize, embed_pdfs.py:207); ``vec`` stores ``vec_col`` as given,
    element type included, and search normalizes it in the exact re-rank.
    Returns {"n_vectors", "path"}."""
    spark = corpus.sparkSession
    _write_codebook(spark, path)
    c = spread(corpus).select(
        F.col(corpus_id), dim_checked(vec_col).alias("vec")
    ).withColumn("_nv", l2_normalize("vec"))
    data = c.join(F.broadcast(codebook_df(spark))).select(
        corpus_id, pq_encode("_nv").alias("codes"), "vec"
    )
    data.write.mode("overwrite").parquet(f"{path}/{DATA_SUBDIR}")
    n = spark.read.parquet(f"{path}/{DATA_SUBDIR}").count()
    return {"n_vectors": n, "path": path}


def build_ivfpq_index(
    corpus: DataFrame,
    path: str,
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
    list_col: str | None = None,
    n_lists: int = 10,
    max_iter: int = 5,
    seed: int = 20260813,
) -> dict:
    """IVF+PQ index: ``{path}/data`` (id, codes, vec) PARTITIONED BY the
    coarse ``list`` id, plus ``centroids`` and ``codebook`` sidecars.

    Codes, centroids and list assignment use the L2-normalized vector;
    ``vec`` stores ``vec_col`` as given, element type included, and search
    normalizes it in the exact re-rank.

    Coarse assignment: pass ``list_col`` to use an existing labeling with
    per-list mean centroids (`mean_vector`, the centroids `ivf_topk`
    probes; deterministic, so ``q2_ann_ivfpq_idx`` is value-checked
    against a DuckDB oracle), or leave None to fit seeded k-means lists
    like sources/ivf.py (better recall; engine-specific floats, so recall-
    not value-tested). Returns {"n_lists", "n_vectors", "path"}."""
    spark = corpus.sparkSession
    _write_codebook(spark, path)
    c = spread(corpus).withColumn(vec_col, dim_checked(vec_col))

    if list_col is not None:
        labeled = c.select(
            F.col(corpus_id),
            F.col(list_col).cast("int").alias("list"),
            F.col(vec_col).alias("vec"),
            l2_normalize(vec_col).alias("_nv"),
        )
        centroids = labeled.groupBy("list").agg(
            mean_vector("_nv", DIM).alias("centroid")
        )
        n_lists = None  # resolved below from the labeling
    else:
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        feat = c.withColumn("_nv", l2_normalize(vec_col)).withColumn(
            "_fv", array_to_vector("_nv")
        )
        model = KMeans(
            k=n_lists, maxIter=max_iter, seed=seed,
            featuresCol="_fv", predictionCol="_list",
        ).fit(feat)
        labeled = model.transform(feat).select(
            corpus_id,
            F.col("_list").cast("int").alias("list"),
            F.col(vec_col).alias("vec"),
            "_nv",
        )
        centroids = spark.createDataFrame(
            [
                (i, [float(x) for x in ctr])
                for i, ctr in enumerate(model.clusterCenters())
            ],
            schema=CENTROIDS_SCHEMA,
        )

    data = labeled.join(F.broadcast(codebook_df(spark))).select(
        "list", F.col(corpus_id), pq_encode("_nv").alias("codes"), "vec"
    )
    # repartition("list"): one writer task per list → a probe opens O(1)
    # files per probed partition instead of one per upstream task.
    data.repartition("list").write.mode("overwrite").partitionBy("list").parquet(
        f"{path}/{DATA_SUBDIR}"
    )
    centroids.coalesce(1).write.mode("overwrite").parquet(
        f"{path}/{CENTROIDS_SUBDIR}"
    )
    written = spark.read.parquet(f"{path}/{DATA_SUBDIR}")
    n_vectors = written.count()
    if n_lists is None:
        n_lists = written.select("list").distinct().count()
    return {"n_lists": n_lists, "n_vectors": n_vectors, "path": path}


def append_to_ivfpq_index(
    new_corpus: DataFrame,
    path: str,
    corpus_id: str = "vec_id",
    vec_col: str = "embedding",
) -> dict:
    """Incrementally add vectors to an EXISTING IVF+PQ index without a
    rebuild: each new vector is assigned to its nearest existing coarse
    centroid (the FAISS `add` semantics — centroids and codebook are
    frozen at train time), encoded with the persisted codebook, and
    appended to its list partition (parquet append touches only the
    affected partitions' directories).

    This is the scale upgrade over the reference's wholesale re-index
    (embed_pdfs.py rebuilds the whole FAISS file per ingest): appending N
    vectors costs O(N · n_lists) centroid dots + N code encodes, never a
    corpus rescan. Centroid drift accumulates as data distribution moves —
    the rebuild knob stays `build_ivfpq_index`, exactly like pgvector's
    REINDEX guidance.

    ``vec`` is cast to the element type the index already stores, so a
    double batch appended to a float index writes float files: one
    directory, one file schema. Codes and the assignment use the cast
    vector, the one the re-rank reads back. Returns {"n_appended", "path"}."""
    spark = new_corpus.sparkSession
    cbdf = spark.read.schema(CODEBOOK_SCHEMA).parquet(f"{path}/{CODEBOOK_SUBDIR}")
    centroids = spark.read.schema(CENTROIDS_SCHEMA).parquet(
        f"{path}/{CENTROIDS_SUBDIR}"
    )
    stored = spark.read.parquet(f"{path}/{DATA_SUBDIR}").schema["vec"].dataType

    c = spread(new_corpus).select(
        F.col(corpus_id), dim_checked(vec_col).cast(stored).alias("vec")
    ).withColumn("_nv", l2_normalize("vec"))
    w = Window.partitionBy(corpus_id).orderBy(F.desc("csim"), F.asc("list"))
    assigned = (
        c.join(F.broadcast(centroids))
        .withColumn("csim", dot("_nv", "centroid"))
        .withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") == 1)
        .select("list", corpus_id, "vec", "_nv")
    )
    data = assigned.join(F.broadcast(cbdf)).select(
        "list", F.col(corpus_id), pq_encode("_nv").alias("codes"), "vec"
    )
    data.repartition("list").write.mode("append").partitionBy("list").parquet(
        f"{path}/{DATA_SUBDIR}"
    )
    n_appended = assigned.count()
    return {"n_appended": n_appended, "path": path}


def _exact_rerank(
    data: DataFrame,
    sl: DataFrame,
    q_norm: DataFrame,
    k: int,
    corpus_id: str,
    query_id: str,
    round_to: int | None,
) -> DataFrame:
    """Shared re-rank tail: fetch the shortlist's stored vectors from the
    index table (broadcast semi-join — |queries|·shortlist rows), normalize
    them, exact dot, top-k. Both search paths must go through here so a
    tie-break or rounding change can never diverge them."""
    rer = (
        F.broadcast(sl)
        .join(data.select(corpus_id, "vec"), corpus_id)
        .join(F.broadcast(q_norm), query_id)
        .withColumn("sim", dot(l2_normalize("vec"), "qv"))
    )
    w_k = Window.partitionBy(query_id).orderBy(F.desc("sim"), F.asc(corpus_id))
    sim = F.round("sim", round_to) if round_to is not None else F.col("sim")
    return (
        rer.withColumn("rank", F.row_number().over(w_k))
        .filter(F.col("rank") <= k)
        .select(query_id, corpus_id, sim.alias("sim"), "rank")
    )


def _adc_rerank(
    data: DataFrame,
    queries_dtab: DataFrame,
    q_norm: DataFrame,
    k: int,
    shortlist: int,
    corpus_id: str,
    query_id: str,
    round_to: int | None,
) -> DataFrame:
    """Shared search tail: ADC scan on (id, codes) → per-query shortlist →
    exact re-rank on the shortlist's (id, vec)."""
    w_sl = Window.partitionBy(query_id).orderBy(F.desc("adc"), F.asc(corpus_id))
    sl = (
        data.select(corpus_id, "codes")  # column pruning: vec never read here
        .join(F.broadcast(queries_dtab))
        .withColumn("adc", pq_adc_score())
        .withColumn("srank", F.row_number().over(w_sl))
        .filter(F.col("srank") <= shortlist)
        .select(query_id, corpus_id)
    )
    return _exact_rerank(data, sl, q_norm, k, corpus_id, query_id, round_to)


def pq_index_search(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 10,
    shortlist: int = 64,
    corpus_id: str = "vec_id",
    query_id: str = "query_id",
    query_vec_col: str = "query_vec",
    round_to: int | None = 6,
) -> DataFrame:
    """Search a flat PQ index: codebook sidecar → per-query ADC tables →
    code-only scan → shortlist → exact re-rank. The corpus was encoded
    once at build time; a query pays only its own 128-dot distance table.
    Returns (query_id, corpus_id, sim, rank)."""
    cbdf = spark.read.schema(CODEBOOK_SCHEMA).parquet(f"{path}/{CODEBOOK_SUBDIR}")
    data = _read_data(spark, path, corpus_id)
    q = queries.select(
        F.col(query_id), l2_normalize(dim_checked(query_vec_col)).alias("qv")
    )
    dtab = q.join(F.broadcast(cbdf)).select(
        query_id, pq_distance_table("qv").alias("dtab")
    )
    return _adc_rerank(
        data, dtab, q, k, shortlist, corpus_id, query_id, round_to
    )


def ivfpq_index_search(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 2,
    shortlist: int = 64,
    corpus_id: str = "vec_id",
    query_id: str = "query_id",
    query_vec_col: str = "query_vec",
    round_to: int | None = 6,
) -> DataFrame:
    """Search an IVF+PQ index: centroid probe → PARTITION-pruned,
    column-pruned ADC scan of probed lists' codes → shortlist → exact
    re-rank. As in sources/ivf.py, the bounded probe-id set is collected
    and pushed into the scan as ``list IN (...)``; callers with a fixed
    query set memoize the returned plan."""
    cbdf = spark.read.schema(CODEBOOK_SCHEMA).parquet(f"{path}/{CODEBOOK_SUBDIR}")
    centroids = spark.read.schema(CENTROIDS_SCHEMA).parquet(
        f"{path}/{CENTROIDS_SUBDIR}"
    )
    data = _read_data(spark, path, corpus_id)

    q = queries.select(
        F.col(query_id), l2_normalize(dim_checked(query_vec_col)).alias("qv")
    )
    probe_w = Window.partitionBy(query_id).orderBy(F.desc("csim"), F.asc("list"))
    probes = (
        q.join(F.broadcast(centroids))
        .withColumn("csim", dot("qv", "centroid"))
        .withColumn("prank", F.row_number().over(probe_w))
        .filter(F.col("prank") <= n_probe)
        .select(query_id, "list")
    )

    probed = sorted(r["list"] for r in probes.select("list").distinct().collect())
    scan = data.filter(F.col("list").isin(probed))

    dtab = q.join(F.broadcast(cbdf)).select(
        query_id, pq_distance_table("qv").alias("dtab")
    )
    w_sl = Window.partitionBy(query_id).orderBy(F.desc("adc"), F.asc(corpus_id))
    sl = (
        scan.select("list", corpus_id, "codes")
        .join(F.broadcast(probes), on="list")
        .join(F.broadcast(dtab), on=query_id)
        .withColumn("adc", pq_adc_score())
        .withColumn("srank", F.row_number().over(w_sl))
        .filter(F.col("srank") <= shortlist)
        .select(query_id, corpus_id)
    )
    # Re-rank fetch from the probed lists only: every shortlisted id came
    # out of `scan` (tombstones already applied), so this is exact.
    return _exact_rerank(scan, sl, q, k, corpus_id, query_id, round_to)
