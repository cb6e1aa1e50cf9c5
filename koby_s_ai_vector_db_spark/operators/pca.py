"""Distributed PCA over the embedding column — the dimensionality-
reduction stage a 100 TB vector pipeline runs before ANN indexing (the
reference ships fixed-width MiniLM vectors straight into FAISS,
core/utils.py:105-124; at scale you reduce first: OPQ/PCA-style rotation
is standard FAISS practice).

Scale shape (the canonical two-phase pattern for X^T X):

  1. ONE corpus pass: mapInPandas accumulates per-PARTITION partials
     (count n, sum vector s, flattened Gram sum G = sum v v^T) — Arrow
     batches, numpy einsum, one 1+d+d^2 row out per partition;
  2. partials -> explode to (idx, val) -> groupBy(idx).sum — map-side
     combine collapses each task to d^2+d+1 rows, so the shuffle is
     O(partitions * d^2) tiny rows, never corpus-sized;
  3. the d x d covariance (cov = G/n - mean mean^T) is MODEL-sized: its
     eigendecomposition is legitimate driver work (same adjudication as
     the k-means codebooks and IVF centroid fetches elsewhere — a
     bounded model artifact, not data);
  4. projection is a map-side expression over a broadcast component
     matrix (1-row DataFrame, not a giant SQL literal — the PQ codebook
     lesson, functions/exprs.py bind_once rationale).

Sign convention: eigh's eigenvector signs are arbitrary, so each
component is canonicalized to make its largest-|value| element positive
(first such index on ties) — outputs are deterministic given the data.

Not SQL-expressible (eigendecomposition), so the registered query is
rows-only for the driver; exactness vs numpy's full PCA on the collected
fixture is pytest-pinned in tests/test_pca.py.
"""

from __future__ import annotations

from typing import Iterator, NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from koby_s_ai_vector_db_spark.sources.tables import local_frame


class PCAModel(NamedTuple):
    mean: np.ndarray  # (d,)
    components: np.ndarray  # (d, k) orthonormal columns
    explained_variance: np.ndarray  # (k,) eigenvalues, descending
    total_variance: float  # trace of the covariance
    n: int


_PARTIALS_SCHEMA = "n long, s array<double>, g array<double>"


def fit_pca(emb: DataFrame, k: int = 8) -> PCAModel:
    """One corpus pass -> d x d covariance -> driver eigh -> top-k model."""
    first = emb.select(F.size("embedding").alias("d")).first()
    if first is None:
        raise ValueError("fit_pca: empty input")
    d = first["d"]
    if not 0 < k <= d:
        raise ValueError(f"need 0 < k <= dim({d}), got k={k}")

    def _partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        n = 0
        s = np.zeros(d)
        g = np.zeros((d, d))
        for pdf in batches:
            m = np.array(pdf.iloc[:, 0].tolist(), dtype=np.float64)
            n += m.shape[0]
            s += m.sum(axis=0)
            g += m.T @ m
        if n:
            yield pd.DataFrame({"n": [n], "s": [s.tolist()], "g": [g.ravel().tolist()]})

    # Partials are additive, so parallelize the CPU-bound gram pass the
    # standard way: a single-file parquet source arrives as ONE partition
    # and would stream every vector through one Arrow pipe and one
    # m.T @ m accumulator (the SURVEY §9 spread() convention).
    from koby_s_ai_vector_db_spark.functions.partitioning import spread

    parts = spread(emb.select("embedding")).mapInPandas(
        _partials, _PARTIALS_SCHEMA
    )
    # Tiny keyed reduce: one (idx, val) explosion per partition row,
    # map-side combined to <= d^2+d+1 rows per task before the shuffle.
    reduced = (
        parts.select(
            F.col("n"),
            F.posexplode(F.concat(F.col("s"), F.col("g"))).alias("idx", "val"),
        )
        .groupBy("idx")
        .agg(F.sum("val").alias("val"), F.sum(F.when(F.col("idx") == 0, F.col("n"))).alias("n"))
    )
    rows = reduced.collect()  # bounded: d^2 + d rows — model, not data
    n = next(int(r.n) for r in rows if r.idx == 0)
    flat = np.zeros(d + d * d)
    for r in rows:
        flat[r.idx] = r.val
    s, g = flat[:d], flat[d:].reshape(d, d)

    mean = s / n
    cov = g / n - np.outer(mean, mean)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][:k]
    w = evecs[:, order]
    ev = np.maximum(evals[order], 0.0)
    # Canonical signs: largest-|value| element positive per component.
    for j in range(w.shape[1]):
        i = int(np.argmax(np.abs(w[:, j])))
        if w[i, j] < 0:
            w[:, j] = -w[:, j]
    return PCAModel(mean, w, ev, float(np.trace(cov)), n)


def project_pca(emb: DataFrame, model: PCAModel) -> DataFrame:
    """Map-side projection (v - mean) @ W via a broadcast 1-row model
    table — no literal-matrix expression, no shuffle."""
    mdf = local_frame(
        emb.sparkSession,
        [(model.mean.tolist(), [c.tolist() for c in model.components.T])],
        "m array<double>, w array<array<double>>",
    )
    centered = F.zip_with(
        F.col("embedding").cast("array<double>"), F.col("m"), lambda x, mu: x - mu
    )
    proj = F.transform(
        F.col("w"),
        lambda comp: F.aggregate(
            F.zip_with(centered, comp, lambda x, c: x * c),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    return emb.join(F.broadcast(mdf)).select(
        F.col("vec_id"), proj.alias("pc")
    )
