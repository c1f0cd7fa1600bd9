"""Registry entries for the ML primitives (operators/ml.py), all
HASH-ATTESTED: the logreg gate via the fixed-point GD unroll and BOTH
PCA queries via the fixed-point power-iteration unroll — every float
step quantized so a DuckDB CTE unroll replays the identical
arithmetic bit-for-bit. The property suite in tests/test_ml.py
exercises the same operators (planted-direction recovery,
separable convergence, monotone loss).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ibd_pipeline_spark.catalog import load
from ibd_pipeline_spark.operators.ml import (
    logreg_fit_attested,
    pca_power_attested,
)
from ibd_pipeline_spark.queries import query

_PCA_ITERS, _PCA_D = 8, 64


def _pca_oracle(k: int) -> str:
    """DuckDB CTE unroll of the attested power-iteration fixpoint:
    fixed-point mean/covariance accumulation, per-round 1e12-floored
    matvec terms with exact-integer norms (HUGEINT here, Python
    bigint on the Spark side) and 1e-9 vector re-quantization —
    the identical arithmetic operators/ml.py:pca_power_attested
    runs, so loadings AND eigenvalues replay bit-for-bit."""
    d, R = _PCA_D, _PCA_ITERS
    parts = [f"""
WITH ev AS MATERIALIZED (
  SELECT CAST(embedding AS DOUBLE[]) AS x FROM embeddings
), cnt AS MATERIALIZED (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM ev),
dims AS MATERIALIZED (
  SELECT i - 1 AS k FROM UNNEST(generate_series(1, {d})) t(i)
), mu AS MATERIALIZED (
  SELECT d.k,
         SUM(CAST(FLOOR(e.x[d.k + 1] * 1e9) AS BIGINT)) / (1e9 * cnt.n) AS mu
  FROM ev e, dims d, cnt GROUP BY d.k, cnt.n
), cq1 AS MATERIALIZED (
  SELECT mj.k AS j, mk.k AS k2,
         CAST(SUM(CAST(FLOOR((e.x[mj.k + 1] - mj.mu)
                             * (e.x[mk.k + 1] - mk.mu) * 1e12) AS BIGINT))
              AS DOUBLE) / (1e12 * cnt.n) AS c
  FROM ev e, mu mj, mu mk, cnt
  GROUP BY mj.k, mk.k, cnt.n
)"""]
    for comp in range(1, k + 1):
        parts.append(f""",
v{comp}_0 AS (SELECT k, FLOOR(1e9 / sqrt({d})) / 1e9 AS vk FROM dims)""")
        for r in range(1, R + 1):
            parts.append(f""",
w{comp}_{r} AS MATERIALIZED (
  SELECT cc.j AS k, SUM(CAST(FLOOR(cc.c * v.vk * 1e12) AS BIGINT)) AS wfp
  FROM cq{comp} cc JOIN v{comp}_{r - 1} v ON v.k = cc.k2 GROUP BY cc.j
), n{comp}_{r} AS (
  SELECT sqrt(CAST(SUM(CAST(wfp AS HUGEINT) * wfp) AS DOUBLE)) / 1e12 AS nrm
  FROM w{comp}_{r}
), v{comp}_{r} AS MATERIALIZED (
  SELECT w.k, FLOOR((CAST(w.wfp AS DOUBLE) / 1e12 / nrm) * 1e9) / 1e9 AS vk
  FROM w{comp}_{r} w, n{comp}_{r}
)""")
        if comp < k:
            parts.append(f""",
cq{comp + 1} AS MATERIALIZED (
  SELECT cc.j, cc.k2,
         cc.c - FLOOR(nn.nrm * vj.vk * vk2.vk * 1e12) / 1e12 AS c
  FROM cq{comp} cc
  JOIN v{comp}_{R} vj ON vj.k = cc.j
  JOIN v{comp}_{R} vk2 ON vk2.k = cc.k2, n{comp}_{R} nn
)""")
    selects = [
        f"""
SELECT CAST({comp} AS INT) AS component, CAST(v.k AS INT) AS dim,
       ROUND(v.vk, 6) AS loading, ROUND(nn.nrm, 6) AS eigenvalue,
       cnt.n AS n_vectors
FROM v{comp}_{R} v, n{comp}_{R} nn, cnt"""
        for comp in range(1, k + 1)
    ]
    parts.append("\nUNION ALL".join(selects))
    parts.append("\nORDER BY component, dim")
    return "".join(parts)


def _pca_top1_oracle() -> str:
    sql = _pca_oracle(1)
    # top-1 keeps the historical schema (no component column)
    return sql.replace(
        "SELECT CAST(1 AS INT) AS component, CAST(v.k AS INT) AS dim",
        "SELECT CAST(v.k AS INT) AS dim",
    ).replace("ORDER BY component, dim", "ORDER BY dim")


@query("similarity_pca_top_component", oracle=_pca_top1_oracle)
def similarity_pca_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embeddings table (64 dims).

    HASH-ATTESTED: routed through operators/ml.py:pca_power_attested
    — fixed-point covariance accumulation, 8 power-iteration rounds
    with 1e12-floored matvec terms, exact-integer norms and 1e-9
    vector re-quantization, so the DuckDB oracle's CTE unroll replays
    loadings and the eigenvalue bit-for-bit (the pattern that made
    kmeans and logreg replayable). Planted-direction recovery is
    property-tested in tests/test_ml.py. Output: one row per
    dimension (dim, loading, eigenvalue, n_vectors)."""
    emb = load(spark, sf_dir, "embeddings")
    comp = pca_power_attested(emb, vec="embedding", iters=_PCA_ITERS, k=1)
    return comp.select("dim", "loading", "eigenvalue", "n_vectors").orderBy(
        "dim"
    )


@query("similarity_pca_top_k", oracle=lambda: _pca_oracle(3))
def similarity_pca_top_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 principal components of the embeddings table — the
    dimensionality-reduction front end for visualization and cheap
    pre-ANN projection.

    HASH-ATTESTED: the attested power-iteration fixpoint with
    DEFLATION — after each component,
    C ← C − FLOOR(λ·vⱼ·vₖ·10¹²)/10¹² keeps later components on the
    same quantized grid, and the oracle unrolls all 3×8 rounds as
    CTEs (see _pca_oracle). Not a convergence claim: 8 rounds on
    near-isotropic data may mix close eigenpairs — the float-path
    property suite covers recovery quality; this path pins the
    arithmetic. Output one row per (component, dim)."""
    emb = load(spark, sf_dir, "embeddings")
    return pca_power_attested(emb, vec="embedding", iters=_PCA_ITERS, k=3)


_LR_ITERS, _LR_DIM = 12, 65  # bias + 64 embedding dims


def _logreg_oracle() -> str:
    """DuckDB CTE unroll of the attested GD fixpoint: 12 rounds of
    fixed-point dot products, 1e-7-quantized sigmoids and fixed-point
    gradients — the identical arithmetic
    operators/ml.py:logreg_fit_attested runs, so weights AND metrics
    replay bit-for-bit."""
    p_expr = (
        "GREATEST(FLOOR((1.0 / (1.0 + EXP(-(CAST(z_fp AS DOUBLE)"
        " / 1e12)))) * 1e7) / 1e7, 1e-7)"
    )
    parts = [f"""
WITH ev AS MATERIALIZED (
  SELECT vec_id AS rid,
         CAST(CAST(label < 5 AS INT) AS DOUBLE) AS y,
         list_prepend(1.0, CAST(embedding AS DOUBLE[])) AS x
  FROM embeddings
), xk AS MATERIALIZED (
  SELECT rid, y, i - 1 AS k, x[i] AS xk
  FROM ev, UNNEST(generate_series(1, {_LR_DIM})) t(i)
), cnt AS MATERIALIZED (SELECT COUNT(*) AS n FROM ev),
w0 AS MATERIALIZED (
  SELECT i - 1 AS k, 0.0::DOUBLE AS wk
  FROM UNNEST(generate_series(1, {_LR_DIM})) t(i)
)"""]
    for r in range(1, _LR_ITERS + 1):
        parts.append(f""",
z{r} AS MATERIALIZED (
  SELECT rid, y, SUM(CAST(FLOOR(xk * wk * 1e12) AS BIGINT)) AS z_fp
  FROM xk JOIN w{r - 1} USING (k) GROUP BY rid, y
), p{r} AS MATERIALIZED (
  SELECT rid, y, {p_expr} AS p FROM z{r}
), g{r} AS MATERIALIZED (
  SELECT v.k,
         SUM(CAST(FLOOR((p.p - p.y) * v.xk * 1e12) AS BIGINT)) AS g_fp
  FROM p{r} p JOIN xk v USING (rid) GROUP BY v.k
), w{r} AS MATERIALIZED (
  SELECT w.k, w.wk - CAST(g.g_fp AS DOUBLE) / (1e12 * cnt.n) AS wk
  FROM w{r - 1} w JOIN g{r} g USING (k), cnt
)""")
    R = _LR_ITERS
    parts.append(f""",
zf AS MATERIALIZED (
  SELECT rid, y, SUM(CAST(FLOOR(xk * wk * 1e12) AS BIGINT)) AS z_fp
  FROM xk JOIN w{R} USING (k) GROUP BY rid, y
), pf AS MATERIALIZED (
  SELECT rid, y, {p_expr} AS p FROM zf
), m AS (
  SELECT
    -(CAST(SUM(CAST(FLOOR((y * LN(p) + (1.0 - y) * LN(1.0 - p)) * 1e7)
               AS BIGINT)) AS DOUBLE) / (1e7 * cnt.n)) AS log_loss,
    CAST(SUM(CASE WHEN (p >= 0.5) = (y = 1.0) THEN 1 ELSE 0 END)
         AS DOUBLE) / cnt.n AS accuracy,
    CAST(cnt.n AS BIGINT) AS n_rows
  FROM pf, cnt GROUP BY cnt.n
)
SELECT CAST(w.k AS INT) AS dim, ROUND(w.wk, 6) AS weight,
       ROUND(m.log_loss, 6) AS log_loss,
       ROUND(m.accuracy, 6) AS accuracy, m.n_rows
FROM w{R} w CROSS JOIN m ORDER BY dim""")
    return "".join(parts)


@query("train_logreg_quality_gate", oracle=_logreg_oracle)
def train_logreg_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned quality-gate prototype: binary logistic regression
    (batch GD, 12 rounds, all-DataFrame) on the embeddings table,
    predicting label < 5 from the embedding plus a bias term — the
    shape of 'train a small classifier on labeled snippets, score the
    whole corpus' that curation pipelines use for model-based quality
    filtering. Output: per-dimension weight rows (dim, weight) with
    the final log_loss / accuracy / n_rows alongside (repeated per
    row — scalars, kept out of array columns for the driver's
    canonicalizer).

    HASH-ATTESTED: operators/ml.py:logreg_fit_attested runs
    fixed-point dot products/gradients and 1e-7-quantized sigmoids,
    making all 12 rounds bit-deterministic — the oracle unrolls the
    identical fixpoint as CTEs. Planted-separation recovery and
    monotone loss are property-tested in tests/test_ml.py."""
    emb = load(spark, sf_dir, "embeddings")
    feats = emb.select(
        F.col("vec_id").alias("rid"),
        F.concat(
            F.array(F.lit(1.0)),
            F.transform("embedding", lambda x: x.cast("double")),
        ).alias("x"),
        (F.col("label") < 5).cast("int").alias("y"),
    )
    return logreg_fit_attested(
        feats, "x", "y", iters=_LR_ITERS, lr=1.0, id_col="rid"
    ).select(
        F.col("dim").cast("int").alias("dim"),
        "weight",
        "log_loss",
        "accuracy",
        "n_rows",
    )
