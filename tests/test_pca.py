"""Distributed PCA (operators/pca.py) vs numpy full PCA on the collected
fixture — the rows-only registered query's exactness evidence."""

from __future__ import annotations

import numpy as np
import pytest

from koby_s_ai_vector_db_spark.operators.pca import (
    fit_pca,
    project_pca,
)
from tests.conftest import SF_DIRS


@pytest.fixture(scope="module")
def fixture_emb(spark):
    df = spark.read.parquet(SF_DIRS["t1"] + "/embeddings.parquet")
    x = np.array(
        [list(r.embedding) for r in df.select("embedding").collect()],
        dtype=np.float64,
    )
    return df, x


def test_matches_numpy_pca(spark, fixture_emb):
    df, x = fixture_emb
    k = 8
    model = fit_pca(df, k=k)

    mean = x.mean(axis=0)
    cov = (x.T @ x) / len(x) - np.outer(mean, mean)
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(evals)[::-1][:k]
    w = evecs[:, order]

    assert model.n == len(x)
    np.testing.assert_allclose(model.mean, mean, atol=1e-10)
    np.testing.assert_allclose(
        model.explained_variance, evals[order], rtol=1e-9
    )
    # Components agree up to sign; after canonicalization they agree
    # exactly (distinct eigenvalues on the random fixture).
    for j in range(k):
        cj = w[:, j]
        i = int(np.argmax(np.abs(cj)))
        if cj[i] < 0:
            cj = -cj
        np.testing.assert_allclose(model.components[:, j], cj, atol=1e-8)


def test_components_orthonormal(spark, fixture_emb):
    df, _ = fixture_emb
    model = fit_pca(df, k=6)
    wtw = model.components.T @ model.components
    np.testing.assert_allclose(wtw, np.eye(6), atol=1e-10)
    # eigenvalues descending, non-negative
    ev = model.explained_variance
    assert all(ev[i] >= ev[i + 1] >= 0 for i in range(len(ev) - 1))


def test_projection_matches_numpy(spark, fixture_emb):
    df, x = fixture_emb
    model = fit_pca(df, k=4)
    got = {
        r.vec_id: np.array(r.pc)
        for r in project_pca(df, model).collect()
    }
    ids = [r.vec_id for r in df.select("vec_id").collect()]
    want = (x - model.mean) @ model.components
    for i, vid in enumerate(ids):
        np.testing.assert_allclose(got[vid], want[i], atol=1e-8)


def test_degenerate_args(spark, fixture_emb):
    df, _ = fixture_emb
    with pytest.raises(ValueError):
        fit_pca(df, k=0)
    with pytest.raises(ValueError):
        fit_pca(df, k=65)
    with pytest.raises(ValueError):
        fit_pca(df.limit(0), k=2)
