"""Distribution-shape and drift tests (r15 seam split of
stats2.py — registry names, semantics, and oracles unchanged):
normality (Jarque-Bera), two-sample EDF tests (Cramér-von Mises,
Anderson-Darling), and Wasserstein-1 drift. ECDF statistics are
carried as exact integers over the distinct-value frame. No
reference analog; SURVEY §2.2 north-star rows.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window  # noqa: F401
from ibd_pipeline_spark.catalog import load
from ibd_pipeline_spark.queries import query


def _value_sides(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(v, is_a): every non-null purchase (is_a) and view `value`, the
    two samples the distribution-distance tests compare."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "view")
        & F.col("value").isNotNull()
    )
    return ev.select(
        F.col("value").alias("v"),
        (F.col("event_type") == "purchase").alias("is_a"),
    )

# ---------------------------------------------------------------------------
# Jarque–Bera normality test (events.value)
# ---------------------------------------------------------------------------

_JB_SQL = """
WITH base AS (
  SELECT CAST(value AS DOUBLE) AS x FROM events WHERE value IS NOT NULL
), m1 AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(ROUND(SUM(CAST(x AS DECIMAL(28,8))), 6) AS DOUBLE)
           / COUNT(*) AS mu
  FROM base
), cm AS (
  SELECT n, mu,
         CAST(ROUND(SUM(CAST((x - mu) * (x - mu) AS DECIMAL(38,8))), 4)
              AS DOUBLE) AS m2s,
         CAST(ROUND(SUM(CAST((x - mu) * (x - mu) * (x - mu)
                             AS DECIMAL(38,8))), 4) AS DOUBLE) AS m3s,
         CAST(ROUND(SUM(CAST((x - mu) * (x - mu) * (x - mu) * (x - mu)
                             AS DECIMAL(38,8))), 4) AS DOUBLE) AS m4s
  FROM base CROSS JOIN m1
  GROUP BY n, mu
), st AS (
  SELECT n,
         (m3s / n) / sqrt((m2s / n) * (m2s / n) * (m2s / n)) AS b1,
         (m4s / n) / ((m2s / n) * (m2s / n)) AS b2
  FROM cm
)
SELECT n AS n_obs,
       ROUND(b1, 6) AS skewness,
       ROUND(b2, 6) AS kurtosis,
       ROUND(n / 6.0 * (b1 * b1 + (b2 - 3.0) * (b2 - 3.0) / 4.0), 4)
         AS jb_stat,
       ROUND(exp(-(n / 6.0 * (b1 * b1 + (b2 - 3.0) * (b2 - 3.0) / 4.0))
                 / 2.0), 8) AS p_value
FROM st
"""


@query("stats_jarque_bera", oracle=_JB_SQL)
def stats_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque–Bera normality test of the event `value` distribution:
    JB = n/6·(b₁² + (b₂−3)²/4) from sample skewness b₁ and kurtosis
    b₂. JB ~ χ²(2) under normality, whose survival has the EXACT
    closed form e^(−x/2) — no approximation enters the p-value. The
    go/no-go gate before any mean-based test in the stats belt (a
    heavy-tailed metric sends you to the rank tests next door).

    Exactness: μ is the davg rule (decimal sum rounded at 6, one
    double division); centered power sums cast each per-row double
    term to DECIMAL(38,8) so the moment sums are order-independent
    and bit-identical cross-engine; everything after is identical
    double algebra rounded at the end.

    Scale: two scan-aggregates (mean pass + moment pass, the second
    with a 1-row broadcast of μ); no shuffle beyond the map-side
    partials. The moment pass would fold into the first at 100 TB
    with a streaming one-pass central-moment formula, traded here
    for the cross-engine-exact two-pass."""
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    base = ev.select(F.col("value").cast("double").alias("x"))
    m1 = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        (
            F.round(F.sum(F.col("x").cast("decimal(28,8)")), 6).cast(
                "double"
            )
            / F.count(F.lit(1))
        ).alias("mu"),
    )
    d = F.col("x") - F.col("mu")
    cm = (
        base.crossJoin(F.broadcast(m1))
        .groupBy("n", "mu")
        .agg(
            F.round(F.sum((d * d).cast("decimal(38,8)")), 4)
            .cast("double")
            .alias("m2s"),
            F.round(F.sum((d * d * d).cast("decimal(38,8)")), 4)
            .cast("double")
            .alias("m3s"),
            F.round(F.sum((d * d * d * d).cast("decimal(38,8)")), 4)
            .cast("double")
            .alias("m4s"),
        )
    )
    m2 = F.col("m2s") / F.col("n")
    b1 = (F.col("m3s") / F.col("n")) / F.sqrt(m2 * m2 * m2)
    b2 = (F.col("m4s") / F.col("n")) / (m2 * m2)
    jb = F.col("n") / 6.0 * (b1 * b1 + (b2 - 3.0) * (b2 - 3.0) / 4.0)
    return cm.select(
        F.col("n").alias("n_obs"),
        F.round(b1, 6).alias("skewness"),
        F.round(b2, 6).alias("kurtosis"),
        F.round(jb, 4).alias("jb_stat"),
        F.round(F.exp(-jb / 2.0), 8).alias("p_value"),
    )

# ---------------------------------------------------------------------------
# Two-sample Cramér–von Mises (purchase vs view values)
# ---------------------------------------------------------------------------

_CVM_SQL = """
WITH s AS (
  SELECT value AS v, event_type = 'purchase' AS is_a
  FROM events WHERE event_type IN ('purchase', 'view')
    AND value IS NOT NULL
), pv AS (
  SELECT v,
         CAST(COUNT(CASE WHEN is_a THEN 1 END) AS BIGINT) AS c1,
         CAST(COUNT(CASE WHEN NOT is_a THEN 1 END) AS BIGINT) AS c2
  FROM s GROUP BY v
), cum AS (
  SELECT v, c1, c2,
         SUM(c1) OVER (ORDER BY v) AS f1,
         SUM(c2) OVER (ORDER BY v) AS f2,
         (SELECT SUM(c1) FROM pv) AS n,
         (SELECT SUM(c2) FROM pv) AS m
  FROM pv
), terms AS (
  SELECT n, m,
         CAST((c1 + c2)
              * (CAST(f1 AS DOUBLE) / n - CAST(f2 AS DOUBLE) / m)
              * (CAST(f1 AS DOUBLE) / n - CAST(f2 AS DOUBLE) / m)
              AS DECIMAL(28,10)) AS term
  FROM cum
), agg AS (
  SELECT CAST(MAX(n) AS BIGINT) AS n1, CAST(MAX(m) AS BIGINT) AS n2,
         CAST(ROUND(SUM(term), 6) AS DOUBLE) AS ssum
  FROM terms
)
SELECT n1, n2,
       ROUND(CAST(n1 AS DOUBLE) * n2
             / ((CAST(n1 AS DOUBLE) + n2) * (CAST(n1 AS DOUBLE) + n2))
             * ssum, 6) AS cvm_t
FROM agg
"""


@query("stats_cramer_von_mises", oracle=_CVM_SQL)
def stats_cramer_von_mises(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Cramér–von Mises statistic between purchase and
    view values: T = nm/N² · Σ over all pooled observations of
    (F_n(x) − G_m(x))². Where KS reads only the single worst ECDF
    gap, CvM integrates EVERY gap — far more sensitive to
    distributed (scale/shape) differences that never produce one
    large vertical gap. Statistic-only readout (its limiting law is
    nonstandard; thresholds come from published tables — T ≳ 0.46
    ≈ 5%), which is how the monitoring belt consumes it.

    Exactness: rides the SAME distinct-value prefix-sum spine as the
    KS query (exact integer cumulative counts under the value
    order); per-value terms t_v·(F−G)² decimal-quantized so the sum
    is order-independent; one closed-form double at output.

    Scale: one value-key shuffle + one range exchange — identical
    plan shape to stats_ks_two_sample; everything after runs on the
    distinct-value frame."""
    from ibd_pipeline_spark.operators.ranking import with_global_prefix_sums

    s = _value_sides(spark, sf_dir)
    pv = s.groupBy("v").agg(
        F.count(F.when(F.col("is_a"), 1)).cast("bigint").alias("c1"),
        F.count(F.when(~F.col("is_a"), 1)).cast("bigint").alias("c2"),
    )
    cum = with_global_prefix_sums(pv, ["v"], ["c1", "c2"])
    gap = (
        F.col("_cum_c1").cast("double") / F.col("_tot_c1")
        - F.col("_cum_c2").cast("double") / F.col("_tot_c2")
    )
    term = ((F.col("c1") + F.col("c2")) * gap * gap).cast("decimal(28,10)")
    agg = cum.agg(
        F.max("_tot_c1").cast("bigint").alias("n1"),
        F.max("_tot_c2").cast("bigint").alias("n2"),
        F.round(F.sum(term), 6).cast("double").alias("ssum"),
    )
    n1d = F.col("n1").cast("double")
    n2d = F.col("n2").cast("double")
    return agg.select(
        "n1",
        "n2",
        F.round(
            n1d * F.col("n2") / ((n1d + F.col("n2")) * (n1d + F.col("n2")))
            * F.col("ssum"),
            6,
        ).alias("cvm_t"),
    )

# ---------------------------------------------------------------------------
# Anderson–Darling k-sample (k=2, Scholz–Stephens ties version)
# ---------------------------------------------------------------------------

_AD_SQL = """
WITH s AS (
  SELECT value AS v, event_type = 'purchase' AS is_a
  FROM events WHERE event_type IN ('purchase', 'view')
    AND value IS NOT NULL
), pv AS (
  SELECT v,
         CAST(COUNT(CASE WHEN is_a THEN 1 END) AS BIGINT) AS l1,
         CAST(COUNT(CASE WHEN NOT is_a THEN 1 END) AS BIGINT) AS l2
  FROM s GROUP BY v
), cum AS (
  SELECT v, l1, l2, l1 + l2 AS lj,
         SUM(l1) OVER (ORDER BY v) AS f1,
         SUM(l2) OVER (ORDER BY v) AS f2,
         (SELECT SUM(l1) FROM pv) AS n1,
         (SELECT SUM(l2) FROM pv) AS n2
  FROM pv
), terms AS (
  SELECT n1, n2, n1 + n2 AS nn,
         CAST(f1 AS DOUBLE) - l1 / 2.0 AS ma1,
         CAST(f2 AS DOUBLE) - l2 / 2.0 AS ma2,
         CAST(f1 + f2 AS DOUBLE) - lj / 2.0 AS ba,
         CAST(lj AS DOUBLE) AS lj
  FROM cum
), inner_t AS (
  SELECT n1, n2, nn,
    CAST((lj / nn) * ((nn * ma1 - n1 * ba) * (nn * ma1 - n1 * ba))
         / (ba * (nn - ba) - nn * lj / 4.0) / n1 AS DECIMAL(28,10)) AS t1,
    CAST((lj / nn) * ((nn * ma2 - n2 * ba) * (nn * ma2 - n2 * ba))
         / (ba * (nn - ba) - nn * lj / 4.0) / n2 AS DECIMAL(28,10)) AS t2
  FROM terms
)
SELECT CAST(MAX(n1) AS BIGINT) AS n1, CAST(MAX(n2) AS BIGINT) AS n2,
       CAST(COUNT(*) AS BIGINT) AS n_distinct,
       ROUND(CAST(MAX(nn) - 1 AS DOUBLE) / MAX(nn)
             * CAST(ROUND(SUM(t1 + t2), 6) AS DOUBLE), 6) AS a2_stat
FROM inner_t
"""


@query("stats_anderson_darling_2samp", oracle=_AD_SQL)
def stats_anderson_darling_2samp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Anderson–Darling statistic (Scholz & Stephens 1987,
    the midrank/ties version of A²ₐₖN at k=2) between purchase and
    view values. AD weights ECDF gaps by 1/(F(1−F)) — maximal
    sensitivity in the TAILS, which is where training-data value
    distributions actually drift (CvM weighs the middle, KS only the
    worst point; the three together are the standard drift triage).
    Statistic-only readout like CvM (the null law is tabulated;
    A² ≫ k−1 = 1 is the drift signal).

    Exactness: the midrank cumulatives (F − l/2) are exact halves of
    integers; every per-value term is one identical double chain
    decimal-quantized before the fold; the (N−1)/N factor applies
    after the rounded sum.

    Scale: the same distinct-value prefix-sum spine as KS/CvM — one
    value-key shuffle + one range exchange."""
    from ibd_pipeline_spark.operators.ranking import with_global_prefix_sums

    s = _value_sides(spark, sf_dir)
    pv = s.groupBy("v").agg(
        F.count(F.when(F.col("is_a"), 1)).cast("bigint").alias("l1"),
        F.count(F.when(~F.col("is_a"), 1)).cast("bigint").alias("l2"),
    )
    cum = with_global_prefix_sums(pv, ["v"], ["l1", "l2"])
    n1 = F.col("_tot_l1")
    n2 = F.col("_tot_l2")
    nn = (n1 + n2).cast("double")
    lj = (F.col("l1") + F.col("l2")).cast("double")
    ma1 = F.col("_cum_l1").cast("double") - F.col("l1") / 2.0
    ma2 = F.col("_cum_l2").cast("double") - F.col("l2") / 2.0
    ba = (F.col("_cum_l1") + F.col("_cum_l2")).cast("double") - lj / 2.0
    den = ba * (nn - ba) - nn * lj / 4.0
    t1 = (
        (lj / nn) * ((nn * ma1 - n1 * ba) * (nn * ma1 - n1 * ba)) / den / n1
    ).cast("decimal(28,10)")
    t2 = (
        (lj / nn) * ((nn * ma2 - n2 * ba) * (nn * ma2 - n2 * ba)) / den / n2
    ).cast("decimal(28,10)")
    agg = cum.agg(
        F.max(n1).cast("bigint").alias("n1"),
        F.max(n2).cast("bigint").alias("n2"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
        F.round(F.sum(t1 + t2), 6).cast("double").alias("ssum"),
        F.max(nn).alias("nn"),
    )
    return agg.select(
        "n1",
        "n2",
        "n_distinct",
        F.round(
            (F.col("nn") - 1.0) / F.col("nn") * F.col("ssum"), 6
        ).alias("a2_stat"),
    )

# ---------------------------------------------------------------------------
# Wasserstein-1 (earth mover) drift between two event populations
# ---------------------------------------------------------------------------

_W1_SQL = """
WITH p AS (
  SELECT value AS v,
         CAST(COUNT(*) FILTER (event_type = 'purchase') AS BIGINT) AS c1,
         CAST(COUNT(*) FILTER (event_type = 'view') AS BIGINT) AS c2
  FROM events
  WHERE event_type IN ('purchase', 'view')
  GROUP BY value
), c AS (
  SELECT v,
         SUM(c1) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum1,
         SUM(c2) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum2,
         SUM(c1) OVER () AS n1,
         SUM(c2) OVER () AS n2,
         LEAD(v) OVER (ORDER BY v) AS v_next
  FROM p
)
SELECT CAST(MAX(n1) AS BIGINT) AS n1,
       CAST(MAX(n2) AS BIGINT) AS n2,
       CAST(COUNT(*) AS BIGINT) AS n_segments,
       CAST(ROUND(SUM(CAST(
              ABS(cum1 * n2 - cum2 * n1) * (v_next - v)
            AS DECIMAL(28,8))), 4) AS DOUBLE)
         / (CAST(MAX(n1) AS DOUBLE) * CAST(MAX(n2) AS DOUBLE)) AS w1
FROM c
WHERE v_next IS NOT NULL
"""


@query("stats_wasserstein_drift", oracle=_W1_SQL)
def stats_wasserstein_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wasserstein-1 (earth mover's) distance between the `value`
    distributions of purchase vs view events — the drift metric that,
    unlike KS's max-gap, weighs HOW FAR mass moved:
    W1 = ∫|F1−F2| dv = Σ over adjacent support points of
    |F1(v)−F2(v)|·(v_next−v).

    Fully distributed: group by value (one shuffle, support-sized
    frame), then ONE multi-weight prefix-sum scan
    (operators/ranking.py:with_global_prefix_sums) carrying c1, c2
    AND a unit weight — the unit's running total is the support row
    number, so the adjacent-point gap comes from an rn ↔ rn+1
    self-join instead of a LEAD window (no single-task WindowExec
    anywhere; the scan is checkpointed once so both join sides read
    the same physical rows).

    Exactness: per-segment mass |cum1·n2 − cum2·n1| is an exact
    integer; its product with the gap is one IEEE multiply on
    identical doubles; segments sum in the decimal domain (dsum
    contract) and divide by the exact n1·n2 once at the end.
    """
    from ibd_pipeline_spark.operators.ranking import with_global_prefix_sums

    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "view")
    )
    per_value = (
        ev.groupBy(F.col("value").alias("v"))
        .agg(
            F.count(F.when(F.col("event_type") == "purchase", 1)).alias("c1"),
            F.count(F.when(F.col("event_type") == "view", 1)).alias("c2"),
        )
        .withColumn("one", F.lit(1).cast("bigint"))
    )
    cum = with_global_prefix_sums(per_value, ["v"], ["c1", "c2", "one"])
    a = cum.select(
        "v",
        F.col("_cum_c1").alias("cum1"),
        F.col("_cum_c2").alias("cum2"),
        F.col("_tot_c1").alias("n1"),
        F.col("_tot_c2").alias("n2"),
        F.col("_cum_one").alias("rn"),
    )
    b = cum.select(
        F.col("v").alias("v_next"), (F.col("_cum_one") - 1).alias("rn")
    )
    # inner join drops the last support point (no successor): its
    # segment has zero width, exactly the oracle's v_next IS NOT NULL.
    seg = a.join(b, "rn")
    mass = F.abs(F.col("cum1") * F.col("n2") - F.col("cum2") * F.col("n1"))
    term = mass * (F.col("v_next") - F.col("v"))
    return seg.agg(
        F.max("n1").cast("bigint").alias("n1"),
        F.max("n2").cast("bigint").alias("n2"),
        F.count(F.lit(1)).cast("bigint").alias("n_segments"),
        (
            F.round(F.sum(term.cast("decimal(28,8)")), 4).cast("double")
            / (F.max("n1").cast("double") * F.max("n2").cast("double"))
        ).alias("w1"),
    )
