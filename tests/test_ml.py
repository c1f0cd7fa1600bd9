"""Property tests for the ML primitives (operators/ml.py), the same
fixed-point operators the registry's hash-attested PCA and logreg
queries run: the oracle pins the arithmetic, these assert the
mathematical contract on planted inputs, not fixture-specific values.
"""

from __future__ import annotations

import math
import random

import pyspark.sql.functions as F
import pytest

from ibd_pipeline_spark.catalog import load
from ibd_pipeline_spark.operators.ml import logreg_fit_attested, pca_power_attested


def _planted_frame(spark, n=400, d=8, seed=7):
    """Vectors = s·u + noise with a dominant planted direction u."""
    rng = random.Random(seed)
    u = [1.0 / math.sqrt(d)] * d
    rows = []
    for _ in range(n):
        s = rng.gauss(0.0, 5.0)
        vec = [s * u[k] + rng.gauss(0.0, 0.3) for k in range(d)]
        rows.append((vec,))
    return spark.createDataFrame(rows, "embedding array<double>"), u


def test_pca_recovers_planted_direction(spark):
    df, u = _planted_frame(spark)
    comp = pca_power_attested(df, iters=10).orderBy("dim").collect()
    assert len(comp) == 8
    w = [r["loading"] for r in comp]
    # unit norm
    assert abs(sum(x * x for x in w) - 1.0) < 1e-6
    # aligned with the planted direction
    cos = abs(sum(a * b for a, b in zip(w, u)))
    assert cos > 0.99, cos
    # deterministic sign convention: dominant-|loading| entry positive
    assert max(w, key=abs) > 0
    # eigenvalue ≈ planted variance (25) ≫ noise (0.09)
    lam = comp[0]["eigenvalue"]
    assert 15.0 < lam < 35.0, lam
    assert all(r["n_vectors"] == 400 for r in comp)


def test_pca_eigenvalue_dominates_residual_on_fixture(spark, sf_dir):
    """On the real embeddings table: λ₁ must be ≥ the variance along
    any coordinate axis (the Rayleigh quotient is a maximum)."""
    emb = load(spark, sf_dir, "embeddings")
    comp = pca_power_attested(emb, iters=8).limit(1).collect()[0]
    lam = comp["eigenvalue"]
    axis_var = (
        emb.select(F.posexplode("embedding").alias("pos", "x"))
        .groupBy("pos")
        .agg(F.var_pop("x").alias("v"))
        .agg(F.max("v"))
        .collect()[0][0]
    )
    assert lam >= axis_var - 1e-9, (lam, axis_var)


def _sep_frame(spark, n=300, d=4, margin=2.0, seed=11):
    """Linearly separable labels along a planted normal."""
    rng = random.Random(seed)
    w_true = [1.0, -1.0, 0.5, 0.0]
    rows = []
    for _ in range(n):
        x = [rng.gauss(0.0, 1.0) for _ in range(d)]
        z = sum(a * b for a, b in zip(w_true, x))
        y = 1 if z > 0 else 0
        # push points away from the boundary for a clean margin
        x = [xi + (margin if y else -margin) * wi / 2.0 for xi, wi in zip(x, w_true)]
        rows.append((len(rows), [1.0] + x, y))
    return spark.createDataFrame(rows, "rid long, x array<double>, y int")


def _fit(df, iters, lr):
    """The final-model metrics, repeated on every weight row."""
    return logreg_fit_attested(df, "x", "y", iters=iters, lr=lr).collect()[0]


def test_logreg_separable_converges(spark):
    df = _sep_frame(spark)
    fit = _fit(df, iters=15, lr=1.0)
    assert fit["n_rows"] == 300
    assert fit["accuracy"] >= 0.97, fit["accuracy"]
    assert fit["log_loss"] < 0.3, fit["log_loss"]


def test_logreg_loss_monotone_decreasing(spark):
    """With a conservative step size, full-batch GD must decrease the
    training loss at every horizon."""
    df = _sep_frame(spark, n=150)
    losses = [
        _fit(df, iters=i, lr=0.3)["log_loss"]
        for i in (1, 3, 6, 10)
    ]
    assert all(b < a + 1e-12 for a, b in zip(losses, losses[1:])), losses


def test_pca_top_k_orthogonal_ordered(spark):
    """Deflated components: mutually orthogonal (structural — each
    lives in the previous ones' null space), unit-norm, eigenvalues
    non-increasing, and on data planted with TWO dominant directions
    the leading pair spans them."""
    from ibd_pipeline_spark.operators.ml import pca_top_k

    rng = random.Random(3)
    d = 6
    u1 = [1, 1, 1, 1, 1, 1]
    u2 = [1, -1, 1, -1, 1, -1]
    n1 = math.sqrt(sum(x * x for x in u1))
    u1 = [x / n1 for x in u1]
    u2 = [x / n1 for x in u2]
    rows = []
    for _ in range(300):
        a, b = rng.gauss(0, 6.0), rng.gauss(0, 3.0)
        rows.append(
            ([a * u1[k] + b * u2[k] + rng.gauss(0, 0.2) for k in range(d)],)
        )
    df = spark.createDataFrame(rows, "embedding array<double>")
    comp = pca_top_k(df, k=3, iters=10).collect()
    assert len(comp) == 3 * d
    vecs = {}
    lams = {}
    for r in comp:
        vecs.setdefault(r["component"], [0.0] * d)[r["dim"]] = r["loading"]
        lams[r["component"]] = r["eigenvalue"]
    # unit norm + pairwise orthogonality
    for i in vecs:
        assert abs(sum(x * x for x in vecs[i]) - 1.0) < 1e-6
        for j in vecs:
            if i < j:
                dot = sum(a * b for a, b in zip(vecs[i], vecs[j]))
                assert abs(dot) < 1e-6, (i, j, dot)
    # eigenvalues ordered, and the top two recover the planted plane
    assert lams[1] >= lams[2] >= lams[3] > 0
    c1 = abs(sum(a * b for a, b in zip(vecs[1], u1)))
    c2 = abs(sum(a * b for a, b in zip(vecs[2], u2)))
    assert c1 > 0.99 and c2 > 0.99, (c1, c2)
    # third eigenvalue is noise-sized, far below the planted pair
    assert lams[3] < 0.2 * lams[2]


def test_pca_gram_and_power_paths_agree(spark):
    """The one-scan Gram eigensolve and the deflated covariance-action
    power iteration recover the same top-k components (up to the
    shared sign convention) on two planted directions — both code
    paths stay covered now that small d routes to gram."""
    from ibd_pipeline_spark.operators.ml import pca_top_k

    rng = random.Random(3)
    rows2 = []
    for i in range(120):
        a = rng.gauss(0, 3.0)
        b = rng.gauss(0, 1.0)
        rows2.append(([a, b, 0.01 * rng.gauss(0, 1), 0.01 * rng.gauss(0, 1)],))
    emb2 = spark.createDataFrame(rows2, "embedding array<double>")
    gk = pca_top_k(emb2, k=2, method="gram").collect()
    pk = pca_top_k(emb2, k=2, iters=30, method="power").collect()
    gm = {(r["component"], r["dim"]): r["loading"] for r in gk}
    pm = {(r["component"], r["dim"]): r["loading"] for r in pk}
    for key in gm:
        assert abs(gm[key] - pm[key]) < 1e-3, (key, gm[key], pm[key])
