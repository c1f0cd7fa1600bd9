"""Distributed ML primitives: binary logistic regression and PCA by
power iteration with deflation, in the SQL-replayable form the
registry runs. Every float operation is quantized to fixed point so a
DuckDB CTE unroll replays each round bit-for-bit.

Corpus-side work is scans, per-row array expressions and small global
aggregates; model state (d weights, the d×d covariance) comes back to
the driver, where the iteration runs on exact integers and IEEE
doubles.

pca_top_k, the float-math top-k PCA (one-scan Gram eigensolve at
small d, covariance-action power iteration with deflation above), no
registry query runs. It stays because its orthogonality property
test holds to 1e-6 only on unrounded loadings: pca_power_attested
returns loadings rounded to 6 decimals, whose squared norm can miss
1 by more than that.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from ibd_pipeline_spark.operators.similarity import as_double_array


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _assemble(pos: str, val: str) -> Column:
    """(pos, val) rows → position-ordered array, inside an aggregate."""
    return F.transform(
        F.array_sort(F.collect_list(F.struct(pos, val))), lambda s: s[val]
    )


def _checkpointer(df: DataFrame, checkpoint_dir: str | None):
    """RoundCheckpointer (operators/ckpt.py): eager per-round lineage
    truncation + GC of the superseded round's files/blocks, slotted
    per state frame."""
    from ibd_pipeline_spark.operators.ckpt import RoundCheckpointer

    return RoundCheckpointer(df.sparkSession, checkpoint_dir)


def _dim(df: DataFrame, arr: str) -> int:
    """Fetch the (static) vector dimensionality — one scalar of model
    state, read from a single row. Knowing d at PLAN time makes the
    init vector a pure literal (no corpus scan inside each
    component's w-init lineage)."""
    row = df.select(F.size(F.col(arr)).alias("d")).first()
    if row is None:
        raise ValueError(f"empty corpus: no rows to read {arr!r} from")
    return row["d"]


def _weighted_dim_sums(
    df: DataFrame, arr: str, weight: str, mean: bool = False
) -> DataFrame:
    """One-row frame with y = Σ weightᵢ·xᵢ (or the mean) as a d-array.

    Deliberately the posexplode + hash-agg form, NOT d aggregate
    columns of element_at: the weight column is an expensive derived
    expression (a d-term dot product / sigmoid), and CollapseProject
    inlines its alias into EVERY aggregate expression that references
    it — d dot products per row, an O(d²) blowup (measured: the
    d-column form tripled logreg and pca wall time at d=64). The
    generate operator evaluates the weight ONCE per row and
    replicates the scalar across the d skinny rows."""
    op = F.avg if mean else F.sum
    return (
        df.select(F.posexplode(arr).alias("pos", "_x"), F.col(weight))
        .groupBy("pos")
        .agg(op(F.col(weight) * F.col("_x")).alias("_y"))
        .agg(_assemble("pos", "_y").alias("y"))
    )


def _pca_gram_topk(corpus: DataFrame, vec: str, k: int) -> "list[tuple]":
    """Small-d PCA fast path — the MLlib RowMatrix.computePrincipal-
    Components design: ONE Arrow (mapInPandas) pass computes per-batch
    Gram/sum/count partials with numpy, the partials (model-state
    sized: ONE row of d² doubles per partition, accumulated across
    the batch iterator — bounded by partition count, not rows) come
    back to the driver, and the d×d symmetric eigenproblem
    is solved there with numpy.linalg.eigh — exact to machine
    precision, unlike a fixed-round power iteration, and the corpus
    pays exactly one scan instead of iters·k.

    Only sane when d² is driver-trivial (routed for d ≤ 512); the
    covariance-ACTION power iteration below remains the d-in-the-
    thousands path where the d×d matrix must never exist.

    Returns [(component, dim, loading, eigenvalue)] for the top k,
    plus n via the first partial — sign convention identical to the
    iterative path (largest-|loading| entry positive).
    """
    import numpy as np
    import pandas as pd

    c = corpus.select(as_double_array(vec).alias("v"))

    def part(batches):
        # Accumulate across the WHOLE partition's batch iterator and
        # yield ONE partial row — the driver collect is then bounded
        # by partition count, not corpus rows (a per-Arrow-batch yield
        # would scale partials with n: d² doubles per ~10k rows).
        n_p, s_p, g_p = 0, None, None
        for pdf in batches:
            if not len(pdf):
                continue
            arr = np.asarray(pdf["v"].tolist(), dtype=np.float64)
            n_p += int(arr.shape[0])
            bs = arr.sum(axis=0)
            bg = arr.T @ arr
            s_p = bs if s_p is None else s_p + bs
            g_p = bg if g_p is None else g_p + bg
        if n_p:
            yield pd.DataFrame(
                {"n": [n_p], "s": [s_p.tolist()], "g": [g_p.ravel().tolist()]}
            )

    partials = c.mapInPandas(
        part, "n long, s array<double>, g array<double>"
    ).collect()
    if not partials:
        raise ValueError("pca: empty corpus")
    n = sum(r["n"] for r in partials)
    s = np.sum([np.asarray(r["s"]) for r in partials], axis=0)
    g = np.sum([np.asarray(r["g"]) for r in partials], axis=0)
    d = s.shape[0]
    mu = s / n
    cov = g.reshape(d, d) / n - np.outer(mu, mu)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    if k > d:
        raise ValueError(f"pca: k={k} exceeds vector dimensionality d={d}")
    out = []
    for comp in range(1, k + 1):
        lam = float(evals[-comp])
        w = evecs[:, -comp]
        if w[np.argmax(np.abs(w))] < 0:  # deterministic sign
            w = -w
        out.extend(
            (comp, dim, float(w[dim]), lam, n) for dim in range(d)
        )
    return out


def pca_top_k(
    corpus: DataFrame,
    vec: str = "embedding",
    k: int = 4,
    iters: int = 8,
    checkpoint_dir: str | None = None,
    method: str = "auto",
) -> DataFrame:
    """Top-k principal components by power iteration WITH DEFLATION:
    after each component converges, its projection is subtracted from
    every (already centered) vector — xᶜ ← xᶜ − (xᶜ·w)w — and power
    iteration repeats on the residual. Orthogonality is therefore
    structural (each component lives in the previous ones' null
    space), and eigenvalues come out in decreasing order; both are
    property-tested.

    Scale posture on the power route: the covariance matrix never
    exists — every step is one corpus scan (zip_with folds) +
    one d-row aggregate; model state (k d-vectors) is one-row frames
    broadcast per round. The deflated corpus is checkpointed per
    component (k materializations of an n×d relation — the honest
    cost of deflation; randomized block SVD is the escape hatch at
    k in the hundreds, noted for parity with the literature).

    method: "gram" = the one-scan Gram + driver eigensolve
    (_pca_gram_topk); "power" = the iterative covariance-action form;
    "auto" (default) = gram when d ≤ 512, power above. The gram path
    replaces k×iters corpus scans with ONE (and eigh's
    exact factorization replaces deflation), the measured difference
    between 7 s and sub-second at sf0.1 / d=64.

    Returns (component, dim, loading, eigenvalue, n_vectors),
    k·d rows.
    """
    if method not in ("auto", "gram", "power"):
        raise ValueError(f"pca_top_k: unknown method {method!r} (auto|gram|power)")
    ckpt = _checkpointer(corpus, checkpoint_dir)
    c = corpus.select(as_double_array(vec).alias("v"))
    d = _dim(c, "v")
    # Validate k BEFORE any distributed pass — _dim already paid the
    # one-row read, so an invalid k fails in milliseconds on both the
    # gram and power routes (the gram path keeps its own check as a
    # backstop).
    if k > d:
        raise ValueError(f"pca: k={k} exceeds vector dimensionality d={d}")
    if method == "gram" or (method == "auto" and d <= 512):
        rows = _pca_gram_topk(corpus, vec, k=k)
        return corpus.sparkSession.createDataFrame(
            rows,
            "component int, dim int, loading double, eigenvalue double,"
            " n_vectors bigint",
        )
    n_and_mu = c.agg(
        F.count(F.lit(1)).alias("n"),
        *[F.avg(F.element_at(F.col("v"), i + 1)).alias(f"_m{i}") for i in range(d)],
    ).select(F.array(*[F.col(f"_m{i}") for i in range(d)]).alias("mu"), "n")
    centered = c.crossJoin(F.broadcast(n_and_mu)).select(
        F.zip_with("v", "mu", lambda x, m: x - m).alias("xc"), "n"
    )
    centered = ckpt(centered, "centered")

    out = None
    for comp in range(1, k + 1):
        w = c.sparkSession.range(1).select(
            F.array(*[F.lit(1.0 / d**0.5) for _ in range(d)]).alias("w")
        )
        prev_w: list[float] | None = None
        for i in range(iters):
            proj = centered.crossJoin(F.broadcast(w)).select(
                "xc", _dot(F.col("xc"), F.col("w")).alias("s")
            )
            y = _weighted_dim_sums(proj, "xc", "s")
            w = y.select(
                F.transform(
                    "y",
                    lambda a: a
                    / F.sqrt(
                        F.aggregate(
                            F.col("y"), F.lit(0.0), lambda acc, t: acc + t * t
                        )
                    ),
                ).alias("w")
            )
            # Every-2 cadence + per-component fixpoint early exit
            # (the graph-operator contract).
            if (i + 1) % 2 == 0 or i == iters - 1:
                w = ckpt(w, "w")
                cur_w = w.first()["w"]
                if prev_w is not None and max(
                    abs(a - b) for a, b in zip(cur_w, prev_w)
                ) < 1e-9:
                    break
                prev_w = cur_w
        final = centered.crossJoin(F.broadcast(w)).select(
            _dot(F.col("xc"), F.col("w")).alias("s"), "n", "w"
        )
        lam = final.groupBy().agg(
            F.first("w").alias("w"),
            (F.sum(F.col("s") * F.col("s")) / F.first("n")).alias("eigenvalue"),
            F.first("n").alias("n_vectors"),
        )
        signed = lam.select(
            F.when(
                F.element_at(
                    F.array_sort(
                        F.transform(
                            F.col("w"),
                            lambda x: F.struct(
                                (-F.abs(x)).alias("negabs"), x.alias("x")
                            ),
                        )
                    ),
                    1,
                )["x"]
                < 0,
                F.transform(F.col("w"), lambda x: -x),
            )
            .otherwise(F.col("w"))
            .alias("w"),
            "eigenvalue",
            "n_vectors",
        )
        # Per-component slot, NEVER GC'd before return: the result
        # union reads every component's signed checkpoint.
        signed = ckpt(signed, f"signed{comp}")
        rows = signed.select(
            F.lit(comp).alias("component"),
            F.posexplode("w").alias("dim", "loading"),
            "eigenvalue",
            "n_vectors",
        )
        out = rows if out is None else out.unionByName(rows)
        if comp < k:
            # deflate: subtract this component's projection (sign of w
            # cancels in (xᶜ·w)w, so the signed vector is fine)
            deflated = centered.crossJoin(F.broadcast(signed.select("w")))
            proj = _dot(F.col("xc"), F.col("w"))
            centered = deflated.select(
                F.zip_with("xc", "w", lambda x, wk: x - proj * wk).alias("xc"),
                "n",
            )
            centered = ckpt(centered, "centered")
    ckpt.release("centered")
    ckpt.release("w")
    return out


def logreg_fit_attested(
    df: DataFrame,
    features: str,
    label: str,
    iters: int = 12,
    lr: float = 1.0,
    id_col: str = "rid",
) -> DataFrame:
    """Binary logistic regression by full-batch GD whose EVERY float
    operation is cross-engine deterministic, so a DuckDB CTE unroll
    replays all `iters` rounds bit-for-bit (the kmeans_attested
    design applied to gradient descent):

    - dot products and gradients run in fixed point:
      SUM(FLOOR(term·10¹²)) over exact BIGINTs — order-independent,
      FLOOR of a double is bit-identical on both engines;
    - the sigmoid output is QUANTIZED: p = FLOOR(p_raw·10⁷)/10⁷
      clamped to ≥ 10⁻⁷ — so a last-ulp disagreement between the two
      engines' exp() implementations flips a floor with probability
      ~10⁻⁹ per evaluation instead of contaminating every downstream
      term (quantization, not hope, carries the determinism);
    - weight updates happen in PYTHON doubles (w ← w − lr·g with g =
      g_fp/(10¹²·n), every quantity < 2⁵³ so int→float is exact) —
      CPython doubles are IEEE, so the oracle's identical SQL algebra
      lands on identical bits;
    - each round is ONE SQL string (weights inlined as a VALUES list;
      building ~65 literal Columns per round through py4j costs ~1 s,
      the kmeans_attested measurement).

    `features` is an array<double> column (include the leading-1.0
    bias yourself); `label` 0/1; `id_col` names a unique row id used
    to group per-row dot products.

    Returns (dim, weight, log_loss, accuracy, n_rows) — one row per
    weight with the final-model metrics repeated (scalars, kept out
    of array columns for the driver's canonicalizer).

    Scale: per round one (n·d)-row fixed-point shuffle grouped by
    row id plus one d-row gradient aggregate; model state is d
    doubles on the driver."""
    spark = df.sparkSession
    view = "__logreg_attested_x"
    # The features stay an ARRAY column. An exploded (rid, k, xk)
    # form would pay, per GD round: re-scan + re-explode from storage, a
    # VALUES join, a groupBy(rid) SHUFFLE for z, a join back on rid
    # (another shuffle), and a groupBy(k) shuffle for the gradient —
    # ~3 exchanges × `iters` rounds for a model-state-sized result.
    # Here the array column is materialized ONCE
    # (localCheckpoint), z is a per-row fixed-point fold
    # (aggregate∘zip_with — map-side, no shuffle), and the gradient is
    # ONE global aggregate of d SUM expressions (partial aggregation;
    # a 1-row exchange). Per round: one map-only pass, zero data-sized
    # shuffles. EVERY integer is unchanged: the same FLOOR(xi·wk·1e12)
    # terms are summed (integer addition commutes — the exploded
    # groupBy and the in-order array fold land on the same BIGINT),
    # and g_fp_k sums the same per-row FLOOR terms the rid-join
    # produced, so the weight trajectory and the oracle's CTE replay
    # are bit-identical.
    rows = df.select(
        F.col(id_col).alias("rid"),
        F.col(label).cast("double").alias("y"),
        as_double_array(features).alias("x"),
    ).localCheckpoint(eager=True)
    rows.createOrReplaceTempView(view)
    dims = spark.sql(
        f"SELECT MAX(size(x)) AS d, COUNT(DISTINCT rid) AS n FROM {view}"
    ).collect()[0]
    d, n = dims["d"], dims["n"]
    w = [0.0] * d

    def wvals(ws: "list[float]") -> str:
        return ", ".join(f"({k}, {ws[k]!r}D)" for k in range(len(ws)))

    def warr(ws: "list[float]") -> str:
        # weights inlined as ONE SQL array literal: building ~d literal
        # Columns per round through py4j costs ~1 s (the
        # kmeans_attested measurement); SQL-text parsing is cheap.
        return "array(" + ", ".join(f"{wk!r}D" for wk in ws) + ")"

    def p_expr() -> str:
        return (
            "GREATEST(CAST(FLOOR((1.0D / (1.0D + EXP(-(CAST(z_fp AS DOUBLE)"
            " / 1e12)))) * 1e7) AS DOUBLE) / 1e7, 1e-7)"
        )

    def z_sql(ws: "list[float]") -> str:
        # Per-row fixed-point dot: FLOOR each term exactly as the
        # exploded form did, fold in array order. FIXED-DIM CONTRACT:
        # every feature row must carry exactly d elements — the
        # gradient's x[k] (GetArrayItem) errors on shorter rows under
        # ANSI mode, and n = COUNT(DISTINCT rid) counts empty-array
        # rows the old exploded form excluded. Callers pad/validate
        # upstream (the quality-gate caller builds fixed 65-dim rows).
        # The COALESCE below only guards NULL elements, not ragged
        # rows.
        return f"""
  SELECT rid, y, x,
         aggregate(zip_with(x, {warr(ws)},
                            (xi, wi) -> COALESCE(
                              CAST(FLOOR(xi * wi * 1e12) AS BIGINT),
                              CAST(0 AS BIGINT))),
                   CAST(0 AS BIGINT), (a, b) -> a + b) AS z_fp
  FROM {view}"""

    grad_cols = ", ".join(
        f"COALESCE(SUM(CAST(FLOOR((p - y) * x[{k}] * 1e12) AS BIGINT)),"
        f" CAST(0 AS BIGINT)) AS g{k}"
        for k in range(d)
    )
    for _ in range(iters):
        grads = spark.sql(
            f"""
SELECT {grad_cols}
FROM (
  SELECT y, x, {p_expr()} AS p
  FROM ({z_sql(w)} )
)"""
        ).collect()[0]  # 1 row × d cols — model state, not data
        w = [
            w[k] - lr * (grads[f"g{k}"] / (1e12 * n)) for k in range(d)
        ]

    return spark.sql(
        f"""
WITH pe AS (
  SELECT rid, y, {p_expr()} AS p
  FROM ({z_sql(w)})
), m AS (
  SELECT
    -(CAST(SUM(CAST(FLOOR((y * LN(p) + (1.0D - y) * LN(1.0D - p)) * 1e7)
               AS BIGINT)) AS DOUBLE) / (1e7 * {n})) AS log_loss,
    CAST(SUM(CASE WHEN (p >= 0.5D) = (y = 1.0D) THEN 1 ELSE 0 END)
         AS DOUBLE) / {n} AS accuracy
  FROM pe
)
SELECT w.k AS dim, ROUND(w.wk, 6) AS weight,
       ROUND(m.log_loss, 6) AS log_loss,
       ROUND(m.accuracy, 6) AS accuracy,
       CAST({n} AS BIGINT) AS n_rows
FROM (VALUES {wvals(w)}) AS w(k, wk) CROSS JOIN m
ORDER BY dim"""
    )


def pca_power_attested(
    df: DataFrame,
    vec: str = "embedding",
    iters: int = 8,
    k: int = 1,
) -> DataFrame:
    """Principal components by power iteration with deflation whose
    EVERY float operation is cross-engine deterministic, so a DuckDB
    CTE unroll replays all rounds bit-for-bit (logreg_fit_attested's
    design applied to the eigenproblem; recovery is property-tested in
    tests/test_ml.py):

    - dimension means and the covariance matrix accumulate in FIXED
      POINT: SUM(FLOOR(term·10⁹ or 10¹²)) over exact BIGINTs —
      order-independent, and FLOOR of identical doubles is
      bit-identical on both engines;
    - each matvec term floors at 10¹²; the per-dimension sums are
      exact integers, so the iteration never depends on float
      summation order;
    - the norm accumulates SQUARED fixed-point integers exactly
      (Python bigint here, HUGEINT in the oracle) before ONE cast to
      double — both engines round-to-nearest from the same integer;
    - the vector re-quantizes to 10⁻⁹ after every normalization, so
      a last-ulp disagreement flips a floor with probability ~1e-9
      per entry instead of compounding across rounds;
    - v₀ = FLOOR(10⁹/√d)/10⁹ per entry (deterministic, all-positive
      — which also fixes the eigenvector's sign);
    - deflation C ← C − FLOOR(λ·vⱼ·vₖ·10¹²)/10¹² keeps later
      components on the same quantized grid.

    The covariance build is the distributed pass: a double
    posexplode of the centered vectors (n·d² flat rows through
    whole-stage codegen, map-side-combined into d² groups — never a
    row-pair join). The d²-row matrix and the d-row mean vector are
    collected as MODEL STATE (the same contract as logreg's per-round
    d-row gradient and BPE's merge table); iterations are driver
    math on exact integers. Fixed-point headroom: per-row terms
    floor at 1e12, so the BIGINT sums stay exact past 10⁶ rows per
    partition-free group; at larger corpora drop the scale to 1e9
    (three guard digits still beat the 1e-6 output rounding).

    Returns (component, dim, loading, eigenvalue, n_vectors) —
    loadings are the quantized unit vector, eigenvalue the final
    ‖Cv‖ (the Rayleigh estimate under unit v). Not a convergence
    claim: 8 rounds on near-isotropic data may mix close eigpairs —
    the property suite covers recovery quality; THIS path pins the
    arithmetic so two engines agree bit-for-bit.
    """
    import math

    spark = df.sparkSession
    view = "__pca_attested_x"
    df.select(as_double_array(vec).alias("x")).createOrReplaceTempView(view)
    d = int(
        spark.sql(f"SELECT size(x) AS d FROM {view} LIMIT 1").collect()[0]["d"]
    )
    n = int(spark.sql(f"SELECT COUNT(*) AS n FROM {view}").collect()[0]["n"])

    mu_rows = spark.sql(
        f"""
SELECT pos AS k, SUM(CAST(FLOOR(xv * 1e9) AS BIGINT)) AS s
FROM {view} LATERAL VIEW posexplode(x) t AS pos, xv
GROUP BY pos"""
    ).collect()  # d rows — model state
    mu = [0.0] * d
    for r in mu_rows:
        mu[r["k"]] = r["s"] / (1e9 * n)
    muvals = ", ".join(f"({j}, {mu[j]!r}D)" for j in range(d))

    cov_rows = spark.sql(
        f"""
SELECT jpos AS j, kpos AS k2,
       SUM(CAST(FLOOR((xj - ma.mu) * (xk - mb.mu) * 1e12) AS BIGINT)) AS c_fp
FROM (
  SELECT jpos, xj, kpos, xk FROM {view}
  LATERAL VIEW posexplode(x) a AS jpos, xj
  LATERAL VIEW posexplode(x) b AS kpos, xk
) t
JOIN (VALUES {muvals}) ma(k, mu) ON ma.k = t.jpos
JOIN (VALUES {muvals}) mb(k, mu) ON mb.k = t.kpos
GROUP BY jpos, kpos"""
    ).collect()  # d² rows — model state (the covariance matrix)
    C = [[0.0] * d for _ in range(d)]
    for r in cov_rows:
        C[r["j"]][r["k2"]] = r["c_fp"] / (1e12 * n)

    out: "list[tuple]" = []
    for comp in range(1, k + 1):
        v = [math.floor(1e9 / math.sqrt(d)) / 1e9] * d
        nrm = 0.0
        for _ in range(iters):
            wfp = [
                sum(math.floor(C[j][kk] * v[kk] * 1e12) for kk in range(d))
                for j in range(d)
            ]
            ssq = sum(w * w for w in wfp)  # exact bigint
            nrm = math.sqrt(float(ssq)) / 1e12
            v = [
                math.floor((wfp[j] / 1e12 / nrm) * 1e9) / 1e9
                for j in range(d)
            ]
        for j in range(d):
            out.append((comp, j, v[j], nrm))
        if comp < k:
            C = [
                [
                    C[j][kk]
                    - math.floor(nrm * v[j] * v[kk] * 1e12) / 1e12
                    for kk in range(d)
                ]
                for j in range(d)
            ]

    vals = ", ".join(
        f"({c}, {j}, {lv!r}D, {ev!r}D)" for (c, j, lv, ev) in out
    )
    return spark.sql(
        f"""
SELECT CAST(component AS INT) AS component, CAST(dim AS INT) AS dim,
       ROUND(loading, 6) AS loading, ROUND(eigenvalue, 6) AS eigenvalue,
       CAST({n} AS BIGINT) AS n_vectors
FROM (VALUES {vals}) AS t(component, dim, loading, eigenvalue)
ORDER BY component, dim"""
    )
