"""Distributed PCA (operators/pca.py): the Arrow-partial Gramian fit
must reproduce an INDEPENDENT single-node numpy PCA from the same raw
vectors — covariance exactly (both sides compute exact integer moments,
so the d×d matrices are equal to the last bit before the one shared
cast-and-divide tail), projections and scree to 1e-6 after the engine's
6dp rounding — including the pinned eigen conventions (eigenvalue-desc
order, largest-|coefficient| entry positive)."""

from __future__ import annotations

import numpy as np
import pytest
from conftest import spark_jobs

from spendinganalysisetl_spark.operators.pca import (
    _SCALE,
    covariance_matrix,
    gramian_partials,
    pca_project,
    variance_explained,
)


def _vectors(n=300, d=12, seed=11):
    rng = np.random.RandomState(seed)
    # anisotropic: a few dominant directions so the scree is meaningful
    basis = rng.randn(d, d)
    scales = np.linspace(3.0, 0.1, d)
    return (rng.randn(n, d) * scales) @ basis + rng.randn(d) * 2.0


def _numpy_pca(x, k, scale=_SCALE):
    """Single-node re-derivation with the operator's conventions: quantize
    to integers, exact moments, population covariance, eigh, sort by
    (eigenvalue desc, index), sign-fix on the largest-|coeff| entry."""
    q = np.floor(x * scale + 0.5)
    n = q.shape[0]
    g = q.T @ q
    s = q.sum(axis=0)
    cov = (n * g - np.outer(s, s)) / n / n / (scale * scale)
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(-evals, kind="stable")
    evals, evecs = evals[order], evecs[:, order]
    for c in range(evecs.shape[1]):
        j = int(np.argmax(np.abs(evecs[:, c])))
        if evecs[j, c] < 0:
            evecs[:, c] = -evecs[:, c]
    mean = s / n / scale
    scores = (q / scale - mean) @ evecs[:, :k]
    return cov, evals, scores


@pytest.fixture(scope="module")
def vec_df(spark):
    pts = _vectors()
    rows = [(int(i), [float(v) for v in p]) for i, p in enumerate(pts)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_covariance_matches_numpy_exactly(spark, vec_df):
    x = _vectors()
    cov_np, _, _ = _numpy_pca(x, k=4)
    rows = covariance_matrix(vec_df).collect()
    d = x.shape[1]
    assert len(rows) == d * (d + 1) // 2
    for r in rows:
        want = round(float(cov_np[r["i"], r["j"]]), 6) + 0.0
        # both sides: exact integer numerator, one cast-and-divide tail,
        # then 6dp rounding — a 1-ulp rounding-mode gap is the only
        # tolerated difference
        assert abs(r["cov"] - want) < 2e-6, (r["i"], r["j"], r["cov"], want)


def test_projection_matches_numpy(spark, vec_df):
    x = _vectors()
    _, _, scores_np = _numpy_pca(x, k=4)
    rows = pca_project(vec_df, k=4).collect()
    n, k = scores_np.shape
    assert len(rows) == n * k
    got = np.zeros((n, k))
    for r in rows:
        got[r["vec_id"], r["pc"]] = r["score"]
    assert np.allclose(got, scores_np, atol=2e-6)


def test_projection_output_is_sorted_and_rounded(spark, vec_df):
    rows = pca_project(vec_df, k=3).collect()
    keys = [(r["vec_id"], r["pc"]) for r in rows]
    assert keys == sorted(keys)
    assert all(r["score"] == round(r["score"], 6) for r in rows)


def test_variance_explained_scree(spark, vec_df):
    x = _vectors()
    _, evals_np, _ = _numpy_pca(x, k=4)
    rows = variance_explained(vec_df, k=4).collect()
    assert [r["pc"] for r in rows] == [0, 1, 2, 3]
    total = float(evals_np.sum())
    for r in rows:
        assert abs(r["eigenvalue"] - evals_np[r["pc"]]) < 2e-6
        assert abs(r["var_share"] - evals_np[r["pc"]] / total) < 2e-6
    # eigenvalue-desc pinning
    ev = [r["eigenvalue"] for r in rows]
    assert ev == sorted(ev, reverse=True)
    # dominant direction carries a meaningful share on anisotropic data
    assert rows[0]["var_share"] > 0.15


def test_covariance_standalone_no_cache_leak(spark, vec_df):
    """A standalone covariance_matrix(parts=None) call leaves nothing
    cached for the session: the bounded moments are collected straight
    from the partials (nothing is persisted) and the returned plan is
    built from literal rows."""
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    rows = covariance_matrix(vec_df).collect()
    assert len(rows) > 0
    assert jsc.getPersistentRDDs().size() == before


def test_moments_exact_under_any_partitioning(spark, vec_df):
    """The partials are one row per partition (not per Arrow batch: the
    batch cap here splits every partition into several batches), and
    the covariance and scree are identical for every partitioning —
    the partials are exact integers, so their sum is the same in any
    grouping and order."""
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "16")
    try:
        results = []
        for k in (1, 3, 7):
            emb = vec_df.repartition(k)
            parts = gramian_partials(emb, spread=False)
            assert len(parts.collect()) <= k
            results.append(
                (
                    covariance_matrix(emb, parts=parts).collect(),
                    variance_explained(emb, k=4, parts=parts).collect(),
                )
            )
    finally:
        spark.conf.set(key, old)
    assert results[0] == results[1] == results[2]


def test_fit_on_shared_partials_runs_one_job(spark, vec_df):
    """Building the scree over an already-persisted partials frame (the
    registry's shared ``_pca_parts``) runs exactly one Spark job: the
    collect of the partials."""
    parts = gramian_partials(vec_df).persist()
    try:
        parts.count()
        with spark_jobs(spark) as jobs:
            variance_explained(vec_df, k=4, parts=parts)
            assert jobs() == 1
    finally:
        parts.unpersist()
