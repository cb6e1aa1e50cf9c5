"""The persisted vector index — one list-partitioned layout, three
searches: IVF-flat, flat PQ and IVF+PQ.

Encoding a vector costs M·KS·SUB = 1024 codebook reads, so the codes are
computed once at build time and persisted; re-encoding the corpus per
query would forfeit exactly the memory-bandwidth win PQ exists for. The
reference persists one index: a FAISS file (core/utils.py:203-214) plus,
on the cloud path, a pgvector ivfflat index built once by ``CREATE
INDEX`` (supabase_schema.sql:137-139) — k-means lists probed per query.
Spark-first, the index IS a storage layout:

  build (once)    ONE parquet table ``{path}/data`` with columns (id,
                  codes, vec) PARTITIONED BY coarse list id — the codes
                  encode the L2-normalized vector to M 4-bit ids — plus
                  tiny ``centroids`` and ``codebook`` sidecars. ``vec`` is
                  the input vector AS GIVEN, not a normalized copy:
                  float32 input stays ``array<float>`` (FAISS IndexFlatIP
                  rows and pgvector ``vector(n)`` are float32 too), half
                  the bytes of a widened double copy. Lists are seeded
                  k-means (pgvector's ivfflat build) or an existing
                  labeling; a flat index is one constant list.
  search (often)  rank centroids per query, collect the probed list ids
                  (bounded by |queries| x n_probe ints — NOT a data
                  collect) and push them into the scan as ``list IN
                  (...)``: unprobed lists' files are never opened. Then
                  either
                  - IVF+PQ / flat PQ: scan (id, codes) only — parquet
                    COLUMN pruning means the 256-byte vec (64-d float32)
                    is never read in the hot ADC scan — take a per-query
                    shortlist, and fetch (id, vec) of just those
                    |queries|·shortlist rows; or
                  - IVF-flat (``shortlist=None``): every row of the probed
                    lists is a candidate, with no codebook read or ADC.
                  Both normalize the candidates' vectors and score them
                  with one exact dot and one top-k window. `l2_normalize`
                  widens to double before any arithmetic, so scores equal
                  those of a stored normalized double copy bit for bit.

One table, two prunings: column pruning separates WHAT is scanned (codes
vs vectors), partition pruning WHICH rows (probed lists). FAISS's
index-factory strings ``IVFn,Flat``, ``PQm`` and ``IVFn,PQm`` name the same
family. An index stores one vector element type: the build records it in
the centroids sidecar and appends cast to it. At 100 TB the probe win is
exactly the pgvector one: a probe touches n_probe/n_lists of the corpus.
Builds and appends are the only writes: centroid drift and removed
vectors are handled the ivfflat way, by a rebuild (the reference rebuilds
its FAISS file per ingest).

The deterministic md5-derived codebook (operators/pq.py) is persisted as
data rather than recomputed: search reads whatever codebook the build
wrote, so a learned per-subspace k-means codebook (FAISS
ProductQuantizer training) drops in without touching the search path.
The fixed-schema sidecars are read with a declared schema, and
``data`` under the types the centroids sidecar records: a schema-less
parquet read runs one schema-inference job. Every
build, append and search rejects a vector that is not ``pq.DIM``-d with
an error naming both sizes, checked inside its projection (no extra job).

Checked two ways: the registered ``q2_ann_pq_idx``/``q2_ann_ivfpq_idx``
match DuckDB oracles that encode, probe and re-rank in SQL (same
codebook, same tie-breaks); tests/test_pq_index.py and
tests/test_ivf_index.py measure recall against the exact search (k-means
floats are engine-specific, so the IVF-flat ``q2_ann_ivf_idx`` is
recall-tested, not value-oracled), check that returned scores are exact
and the stored vectors equal the input, plan-assert the ADC scan's
parquet schema and count partitions read from scan metrics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from koby_s_ai_vector_db_spark.functions.caching import memo
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
from koby_s_ai_vector_db_spark.sources.tables import local_frame

DATA_SUBDIR = "data"
CODEBOOK_SUBDIR = "codebook"
CENTROIDS_SUBDIR = "centroids"
# ``elem_type`` and ``id_type`` are the types ``data.vec``'s elements and
# ``data.vec_id`` were written with; appends cast to them, and search reads
# ``data`` under the schema they give. One value each per index, so they
# are the centroids' partition directories (``elem_type=float/
# id_type=bigint``): recorded at no cost in bytes.
CENTROIDS_SCHEMA = "list int, centroid array<double>, elem_type string, id_type string"


def _read_centroids(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.schema(CENTROIDS_SCHEMA).parquet(f"{path}/{CENTROIDS_SUBDIR}")


def _stored_types(
    centroids: DataFrame, path: str, written: tuple[str, str] | None = None
) -> tuple[str, str]:
    """(elem_type, id_type) of the stored ``vec`` and ``vec_id`` of the
    index at ``path``, from one row of its centroids sidecar (read under
    CENTROIDS_SCHEMA), memoized on the sidecar's file list: only a rebuild
    rewrites it, with new file names. The build passes the types it has
    ``written``, so an append or search later in the same application
    reads nothing. A sidecar written without a column reads it as NULL
    and is refused."""

    def read() -> tuple[str, str]:
        if written is not None:
            return written
        row = centroids.select("elem_type", "id_type").head()
        for col in ("elem_type", "id_type"):
            if row is None or row[col] is None:
                raise ValueError(
                    f"{path}/{CENTROIDS_SUBDIR} has no {col} — index built "
                    "by an older build_ivfpq_index; rebuild it"
                )
        return row["elem_type"], row["id_type"]

    return memo(
        centroids.sparkSession,
        ("pqidx_stored_types", tuple(sorted(centroids.inputFiles()))),
        read,
    )


def build_ivfpq_index(
    corpus: DataFrame,
    path: str,
    list_col: str | None = None,
    n_lists: int = 10,
) -> dict:
    """Build the index: ``{path}/data`` (id, codes, vec) PARTITIONED BY the
    coarse ``list`` id, plus ``centroids`` and ``codebook`` sidecars.

    The corpus has (vec_id, embedding) columns. Codes, centroids and list
    assignment use the L2-normalized vector; ``vec`` stores ``embedding``
    as given, element type included, and search normalizes it in the
    exact re-rank.

    Coarse assignment: pass ``list_col`` to use an existing labeling with
    per-list mean centroids (`mean_vector`, the centroids `ivf_topk`
    probes; deterministic, so ``q2_ann_ivfpq_idx`` is value-checked
    against a DuckDB oracle; a constant column gives a flat index), or
    leave None to fit seeded k-means lists (pgvector's ivfflat build;
    better recall; engine-specific floats, so recall- not value-tested).
    Returns {"n_vectors", "path"}."""
    spark = corpus.sparkSession
    codebook_df(spark).coalesce(1).write.mode("overwrite").parquet(
        f"{path}/{CODEBOOK_SUBDIR}"
    )
    c = spread(corpus).withColumn("embedding", dim_checked("embedding"))

    if list_col is not None:
        labeled = c.select(
            F.col("vec_id"),
            F.col(list_col).cast("int").alias("list"),
            F.col("embedding").alias("vec"),
            l2_normalize("embedding").alias("_nv"),
        )
        centroids = labeled.groupBy("list").agg(
            mean_vector("_nv", DIM).alias("centroid")
        )
    else:
        from pyspark.ml.clustering import KMeans
        from pyspark.ml.functions import array_to_vector

        feat = c.withColumn("_nv", l2_normalize("embedding")).withColumn(
            "_fv", array_to_vector("_nv")
        )
        model = KMeans(
            k=n_lists, maxIter=5, seed=20260813,
            featuresCol="_fv", predictionCol="_list",
        ).fit(feat)
        labeled = model.transform(feat).select(
            "vec_id",
            F.col("_list").cast("int").alias("list"),
            F.col("embedding").alias("vec"),
            "_nv",
        )
        centroids = local_frame(
            spark,
            [
                (i, [float(x) for x in ctr])
                for i, ctr in enumerate(model.clusterCenters())
            ],
            "list int, centroid array<double>",
        )

    data = labeled.join(F.broadcast(codebook_df(spark))).select(
        "list", F.col("vec_id"), pq_encode("_nv").alias("codes"), "vec"
    )
    # repartition("list"): one writer task per list → a probe opens O(1)
    # files per probed partition instead of one per upstream task.
    data.repartition("list").write.mode("overwrite").partitionBy("list").parquet(
        f"{path}/{DATA_SUBDIR}"
    )
    types = (
        c.schema["embedding"].dataType.elementType.simpleString(),
        c.schema["vec_id"].dataType.simpleString(),
    )
    centroids.withColumn("elem_type", F.lit(types[0])).withColumn(
        "id_type", F.lit(types[1])
    ).coalesce(1).write.mode("overwrite").partitionBy("elem_type", "id_type").parquet(
        f"{path}/{CENTROIDS_SUBDIR}"
    )
    # Seed the memo: an append or search later in this application reads
    # no sidecar row.
    _stored_types(_read_centroids(spark, path), path, written=types)
    # The partition column alone, declared: no schema-inference job.
    n_vectors = spark.read.schema("list int").parquet(f"{path}/{DATA_SUBDIR}").count()
    return {"n_vectors": n_vectors, "path": path}


def append_to_ivfpq_index(new_corpus: DataFrame, path: str) -> dict:
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

    ``vec`` and ``vec_id`` are cast to the types the index already stores
    (the centroids sidecar's ``elem_type`` and ``id_type``, so no
    schema-inference read of ``data``), and a double batch appended to a
    float index writes float files: one directory, one file schema. Codes
    and the assignment use the cast vector, the one the re-rank reads
    back. Returns {"path"}."""
    spark = new_corpus.sparkSession
    cbdf = spark.read.schema(CODEBOOK_SCHEMA).parquet(f"{path}/{CODEBOOK_SUBDIR}")
    centroids = _read_centroids(spark, path)
    elem_type, id_type = _stored_types(centroids, path)

    c = spread(new_corpus).select(
        F.col("vec_id").cast(id_type).alias("vec_id"),
        dim_checked("embedding").cast(f"array<{elem_type}>").alias("vec"),
    ).withColumn("_nv", l2_normalize("vec"))
    w = Window.partitionBy("vec_id").orderBy(F.desc("csim"), F.asc("list"))
    assigned = (
        c.join(F.broadcast(centroids))
        .withColumn("csim", dot("_nv", "centroid"))
        .withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") == 1)
        .select("list", "vec_id", "vec", "_nv")
    )
    data = assigned.join(F.broadcast(cbdf)).select(
        "list", F.col("vec_id"), pq_encode("_nv").alias("codes"), "vec"
    )
    data.repartition("list").write.mode("append").partitionBy("list").parquet(
        f"{path}/{DATA_SUBDIR}"
    )
    return {"path": path}


def ivfpq_index_search(
    spark: SparkSession,
    path: str,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 2,
    shortlist: int | None = 64,
) -> DataFrame:
    """Search the index: centroid probe → PARTITION-pruned scan of the
    probed lists → candidates → exact re-rank, top-k.

    With a ``shortlist`` the candidates are the per-query ADC shortlist of
    a column-pruned (id, codes) scan (IVF+PQ; flat PQ is one list); with
    ``shortlist=None`` every row of the probed lists is a candidate
    (IVF-flat: the codebook is never read). The bounded probe-id set is
    collected and pushed into the scan as ``list IN (...)``, so building
    a search runs one small job (``data`` is read under the schema the
    centroids sidecar records); callers with a fixed query set memoize
    the returned plan (functions/caching.py).
    Returns (query_id, vec_id, sim, rank)."""
    centroids = _read_centroids(spark, path)
    elem_type, id_type = _stored_types(centroids, path)
    data = spark.read.schema(
        f"list int, vec_id {id_type}, codes array<int>, vec array<{elem_type}>"
    ).parquet(f"{path}/{DATA_SUBDIR}")

    q = queries.select(
        F.col("query_id"), l2_normalize(dim_checked("query_vec")).alias("qv")
    )
    probe_w = Window.partitionBy("query_id").orderBy(F.desc("csim"), F.asc("list"))
    probes = (
        q.join(F.broadcast(centroids))
        .withColumn("csim", dot("qv", "centroid"))
        .withColumn("prank", F.row_number().over(probe_w))
        .filter(F.col("prank") <= n_probe)
        .select("query_id", "list")
    )

    probed = sorted(r["list"] for r in probes.select("list").distinct().collect())
    scan = data.filter(F.col("list").isin(probed))

    if shortlist is None:
        # Normalized once per row, not once per (query, row) pair.
        cand = scan.select(
            "list", "vec_id", l2_normalize("vec").alias("nv")
        ).join(F.broadcast(probes), on="list")
    else:
        cbdf = spark.read.schema(CODEBOOK_SCHEMA).parquet(
            f"{path}/{CODEBOOK_SUBDIR}"
        )
        dtab = q.join(F.broadcast(cbdf)).select(
            "query_id", pq_distance_table("qv").alias("dtab")
        )
        w_sl = Window.partitionBy("query_id").orderBy(F.desc("adc"), F.asc("vec_id"))
        sl = (
            scan.select("list", "vec_id", "codes")  # vec never read here
            .join(F.broadcast(probes), on="list")
            .join(F.broadcast(dtab), on="query_id")
            .withColumn("adc", pq_adc_score())
            .withColumn("srank", F.row_number().over(w_sl))
            .filter(F.col("srank") <= shortlist)
            .select("query_id", "vec_id")
        )
        # Re-rank fetch (broadcast semi-join, |queries|·shortlist rows)
        # from the probed lists only: every shortlisted id came out of
        # `scan`, so this is exact.
        cand = F.broadcast(sl).join(
            scan.select("vec_id", "vec"), "vec_id"
        ).select("query_id", "vec_id", l2_normalize("vec").alias("nv"))

    scored = cand.join(F.broadcast(q), "query_id").withColumn("sim", dot("nv", "qv"))
    w_k = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w_k))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", F.round("sim", 6).alias("sim"), "rank")
    )
