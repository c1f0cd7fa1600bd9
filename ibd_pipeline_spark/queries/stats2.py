"""Moment-based hypothesis tests (r12 topic split; r15 seam split
moved the rank/contingency/multiplicity/distribution families to
stats_rank / stats_contingency / stats_multiplicity / stats_dist —
registry names, semantics, and oracles unchanged throughout): effect
size, outlier screens, mean comparison, and variance homogeneity.
No reference analog (the reference computes streaming means/max/
stddev only — `spark_processor.py:153-164`); SURVEY §2.2 north-star
rows.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ibd_pipeline_spark.catalog import load
from ibd_pipeline_spark.normal_tail import _phi_tail_col, _phi_tail_sql
from ibd_pipeline_spark.queries import query

# ---------------------------------------------------------------------------
# The two arms Cohen's d and Welch's t compare: purchase (a) vs view (b)
# event values
# ---------------------------------------------------------------------------


def _arm_moments(ev: DataFrame) -> DataFrame:
    """(n_a, n_b, m_a, m_b, v_a, v_b): count, mean and sample variance
    of `value` per arm of `ev`, from exact decimal Σx and Σx² rounded
    in the decimal domain (the davg rule), then identical double
    algebra on both engines."""
    dec = F.col("value").cast("decimal(28,8)")
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.sum(dec), 4).cast("double").alias("s1"),
        F.round(F.sum(dec * dec), 4).cast("double").alias("s2"),
    )
    pick = lambda c, t: F.max(F.when(F.col("event_type") == t, F.col(c)))
    w = g.agg(
        pick("n", "purchase").alias("n_a"),
        pick("n", "view").alias("n_b"),
        pick("s1", "purchase").alias("s1_a"),
        pick("s1", "view").alias("s1_b"),
        pick("s2", "purchase").alias("s2_a"),
        pick("s2", "view").alias("s2_b"),
    )
    return w.select(
        "n_a",
        "n_b",
        (F.col("s1_a") / F.col("n_a")).alias("m_a"),
        (F.col("s1_b") / F.col("n_b")).alias("m_b"),
        (
            (F.col("s2_a") - F.col("s1_a") * F.col("s1_a") / F.col("n_a"))
            / (F.col("n_a") - 1)
        ).alias("v_a"),
        (
            (F.col("s2_b") - F.col("s1_b") * F.col("s1_b") / F.col("n_b"))
            / (F.col("n_b") - 1)
        ).alias("v_b"),
    )


def _arm_moments_sql(where: str) -> str:
    """The oracle twin of _arm_moments over the events `where` keeps:
    `WITH g, w, v`."""
    return f"""
WITH g AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(ROUND(SUM(CAST(value AS DECIMAL(28,8))), 4) AS DOUBLE) AS s1,
         CAST(ROUND(SUM(CAST(value AS DECIMAL(28,8))
                        * CAST(value AS DECIMAL(28,8))), 4) AS DOUBLE) AS s2
  FROM events WHERE {where}
  GROUP BY event_type
), w AS (
  SELECT
    MAX(CASE WHEN event_type = 'purchase' THEN n END) AS n_a,
    MAX(CASE WHEN event_type = 'view' THEN n END) AS n_b,
    MAX(CASE WHEN event_type = 'purchase' THEN s1 END) AS s1_a,
    MAX(CASE WHEN event_type = 'view' THEN s1 END) AS s1_b,
    MAX(CASE WHEN event_type = 'purchase' THEN s2 END) AS s2_a,
    MAX(CASE WHEN event_type = 'view' THEN s2 END) AS s2_b
  FROM g
), v AS (
  SELECT n_a, n_b,
         s1_a / n_a AS m_a, s1_b / n_b AS m_b,
         (s2_a - s1_a * s1_a / n_a) / (n_a - 1) AS v_a,
         (s2_b - s1_b * s1_b / n_b) / (n_b - 1) AS v_b
  FROM w
)"""

# ---------------------------------------------------------------------------
# Cohen's d / Hedges' g effect size (purchase vs view values)
# ---------------------------------------------------------------------------

_COHEN_SQL = _arm_moments_sql(
    "event_type IN ('purchase', 'view') AND value IS NOT NULL"
) + """, d AS (
  SELECT n_a, n_b, m_a, m_b,
         (m_a - m_b)
           / sqrt(((n_a - 1) * v_a + (n_b - 1) * v_b) / (n_a + n_b - 2))
           AS cohens_d
  FROM v
)
SELECT n_a, n_b,
       ROUND(m_a, 6) AS mean_a, ROUND(m_b, 6) AS mean_b,
       ROUND(cohens_d, 6) AS cohens_d,
       ROUND((1.0 - 3.0 / (4.0 * (n_a + n_b) - 9.0)) * cohens_d, 6)
         AS hedges_g
FROM d
"""


@query("stats_cohens_d", oracle=_COHEN_SQL)
def stats_cohens_d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d standardized effect size between purchase and view
    event values, with the Hedges' g small-sample correction
    J = 1 − 3/(4N−9). The "is it LARGE, not just significant"
    readout that belongs next to every t-test the belt ships
    (stats_welch_ttest reports p; this reports magnitude on the
    pooled-σ scale).

    Exactness: the Welch-query moment discipline verbatim — exact
    decimal Σx and Σx² per group rounded in the decimal domain, then
    identical double algebra (pooled variance, d, J·d) both engines.

    Scale: one 2-group scan-aggregate with map-side partials."""
    v = _arm_moments(
        load(spark, sf_dir, "events").filter(
            F.col("event_type").isin("purchase", "view")
            & F.col("value").isNotNull()
        )
    )
    pooled = F.sqrt(
        ((F.col("n_a") - 1) * F.col("v_a") + (F.col("n_b") - 1) * F.col("v_b"))
        / (F.col("n_a") + F.col("n_b") - 2)
    )
    d = (F.col("m_a") - F.col("m_b")) / pooled
    j = 1.0 - 3.0 / (4.0 * (F.col("n_a") + F.col("n_b")) - 9.0)
    return v.select(
        "n_a",
        "n_b",
        F.round("m_a", 6).alias("mean_a"),
        F.round("m_b", 6).alias("mean_b"),
        F.round(d, 6).alias("cohens_d"),
        F.round(j * d, 6).alias("hedges_g"),
    )

# ---------------------------------------------------------------------------
# Grubbs' maximum-studentized-deviate outlier screen (order totals)
# ---------------------------------------------------------------------------

_GRUBBS_SQL = f"""
WITH base AS (
  SELECT CAST(o_totalprice AS DOUBLE) AS x FROM orders
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(ROUND(SUM(CAST(x AS DECIMAL(28,8))), 6) AS DOUBLE)
           / COUNT(*) AS mu,
         CAST(ROUND(SUM(CAST(x AS DECIMAL(28,8))), 4) AS DOUBLE) AS s1,
         CAST(ROUND(SUM(CAST(x AS DECIMAL(28,8))
                        * CAST(x AS DECIMAL(28,8))), 4) AS DOUBLE) AS s2
  FROM base
), mx AS (
  SELECT n, mu, sqrt((s2 - s1 * s1 / n) / (n - 1)) AS sd,
         MAX(ABS(x - mu)) AS maxdev
  FROM base CROSS JOIN m
  GROUP BY n, mu, s1, s2
), pick AS (
  SELECT mx.n, mx.mu, mx.sd, mx.maxdev,
         MIN(b.x) AS outlier_value
  FROM mx JOIN base b ON ABS(b.x - mx.mu) = mx.maxdev
  GROUP BY mx.n, mx.mu, mx.sd, mx.maxdev
)
SELECT n AS n_obs, ROUND(mu, 6) AS mean_x, ROUND(sd, 6) AS stddev_x,
       ROUND(maxdev / sd, 6) AS g_stat,
       ROUND(outlier_value, 2) AS outlier_value,
       ROUND(LEAST(1.0, n * 2.0 * {_phi_tail_sql('(maxdev / sd)')}), 8)
         AS p_bonferroni_bound
FROM pick
"""


@query("stats_grubbs_outlier", oracle=_GRUBBS_SQL)
def stats_grubbs_outlier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grubbs-style maximum-studentized-deviate outlier screen over
    order totals: G = max|x−x̄|/s, the offending value, and the
    Bonferroni-bounded normal tail p ≤ n·2·Φ̄(G) (the union bound
    over n candidate outliers — an upper BOUND by construction,
    reported as such; the exact Grubbs critical value needs the t
    quantile, overkill for a screen). The data-quality tripwire run
    before any mean/variance-based monitor trusts a new batch.

    Exactness: μ via the davg rule; s via exact decimal Σx/Σx²; the
    max deviation is a pure MAX over identical doubles (no sum-order
    hazard at all); the offending value is deterministically the
    MINIMUM x among argmax-deviation rows (both engines agree on
    ties by construction).

    Scale: one scan-aggregate + a 1-row broadcast re-scan for the
    argmax; no shuffle beyond partials."""
    base = load(spark, sf_dir, "orders").select(
        F.col("o_totalprice").cast("double").alias("x")
    )
    dec = F.col("x").cast("decimal(28,8)")
    m = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        (
            F.round(F.sum(dec), 6).cast("double") / F.count(F.lit(1))
        ).alias("mu"),
        F.round(F.sum(dec), 4).cast("double").alias("s1"),
        F.round(F.sum(dec * dec), 4).cast("double").alias("s2"),
    )
    mx = (
        base.crossJoin(F.broadcast(m))
        .groupBy("n", "mu", "s1", "s2")
        .agg(F.max(F.abs(F.col("x") - F.col("mu"))).alias("maxdev"))
        .select(
            "n",
            "mu",
            F.sqrt(
                (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n"))
                / (F.col("n") - 1)
            ).alias("sd"),
            "maxdev",
        )
    )
    pick = (
        base.crossJoin(F.broadcast(mx))
        .filter(F.abs(F.col("x") - F.col("mu")) == F.col("maxdev"))
        .groupBy("n", "mu", "sd", "maxdev")
        .agg(F.min("x").alias("outlier_value"))
    )
    g = F.col("maxdev") / F.col("sd")
    return pick.select(
        F.col("n").alias("n_obs"),
        F.round("mu", 6).alias("mean_x"),
        F.round("sd", 6).alias("stddev_x"),
        F.round(g, 6).alias("g_stat"),
        F.round("outlier_value", 2).alias("outlier_value"),
        F.round(
            F.least(F.lit(1.0), F.col("n") * 2.0 * _phi_tail_col(g)), 8
        ).alias("p_bonferroni_bound"),
    )

# ---------------------------------------------------------------------------
# Bartlett's test of variance homogeneity (k = 5 event types)
# ---------------------------------------------------------------------------

_BARTLETT_SQL = """
WITH g AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(ROUND(SUM(CAST(value AS DECIMAL(28,8))), 4) AS DOUBLE) AS s1,
         CAST(ROUND(SUM(CAST(value AS DECIMAL(28,8))
                        * CAST(value AS DECIMAL(28,8))), 4) AS DOUBLE) AS s2
  FROM events WHERE value IS NOT NULL GROUP BY event_type
), v AS (
  SELECT event_type, n, (s2 - s1 * s1 / n) / (n - 1) AS s2i FROM g
), terms AS (
  SELECT n, s2i,
         CAST((n - 1) * ln(s2i) AS DECIMAL(28,10)) AS lnterm,
         CAST((n - 1) * s2i AS DECIMAL(28,8)) AS wvar,
         CAST(1.0 / (n - 1) AS DECIMAL(28,12)) AS invterm
  FROM v
), agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(n) AS BIGINT) AS nt,
         CAST(ROUND(SUM(lnterm), 6) AS DOUBLE) AS sum_ln,
         CAST(ROUND(SUM(wvar), 4) AS DOUBLE) AS sum_wvar,
         CAST(ROUND(SUM(invterm), 10) AS DOUBLE) AS sum_inv
  FROM terms
), s AS (
  SELECT k, nt,
         ((nt - k) * ln(sum_wvar / (nt - k)) - sum_ln)
           / (1.0 + (sum_inv - 1.0 / (nt - k)) / (3.0 * (k - 1)))
           AS t_stat
  FROM agg
)
SELECT nt AS n_total, CAST(k AS INT) AS n_groups,
       CAST(k - 1 AS INT) AS df,
       ROUND(t_stat, 6) AS bartlett_stat,
       ROUND(exp(-t_stat / 2.0) * (1.0 + t_stat / 2.0), 8) AS p_value
FROM s
"""


@query("stats_bartlett_test", oracle=_BARTLETT_SQL)
def stats_bartlett_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bartlett's test of variance homogeneity across the five event
    types — the classic normal-theory counterpart of the robust
    Levene/Brown–Forsythe pair already in the belt (Bartlett is more
    powerful when normality holds, badly anti-conservative when it
    doesn't; shipping all three is how variance checks are actually
    triaged). T = ((N−k)·ln(S²ₚ) − Σ(nᵢ−1)·ln(S²ᵢ)) / C with the
    standard C correction; p at df = k−1 = 4 via the even-df
    closed-form survival.

    Exactness: group variances from exact decimal Σx/Σx² (the Welch
    discipline); each (nᵢ−1)·ln(S²ᵢ), (nᵢ−1)·S²ᵢ and 1/(nᵢ−1) term
    is decimal-quantized so the k-term sums are order-independent;
    the final statistic is one identical double chain.

    Scale: one 5-group scan-aggregate; everything after runs on k
    rows."""
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    dec = F.col("value").cast("decimal(28,8)")
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.sum(dec), 4).cast("double").alias("s1"),
        F.round(F.sum(dec * dec), 4).cast("double").alias("s2"),
    )
    s2i = (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")) / (
        F.col("n") - 1
    )
    terms = g.select(
        "n",
        ((F.col("n") - 1) * F.log(s2i)).cast("decimal(28,10)").alias("lnterm"),
        ((F.col("n") - 1) * s2i).cast("decimal(28,8)").alias("wvar"),
        (1.0 / (F.col("n") - 1)).cast("decimal(28,12)").alias("invterm"),
    )
    agg = terms.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("n").cast("bigint").alias("nt"),
        F.round(F.sum("lnterm"), 6).cast("double").alias("sum_ln"),
        F.round(F.sum("wvar"), 4).cast("double").alias("sum_wvar"),
        F.round(F.sum("invterm"), 10).cast("double").alias("sum_inv"),
    )
    nk = F.col("nt") - F.col("k")
    t = (
        nk * F.log(F.col("sum_wvar") / nk) - F.col("sum_ln")
    ) / (
        1.0
        + (F.col("sum_inv") - 1.0 / nk) / (3.0 * (F.col("k") - 1))
    )
    return agg.select(
        F.col("nt").alias("n_total"),
        F.col("k").cast("int").alias("n_groups"),
        (F.col("k") - 1).cast("int").alias("df"),
        F.round(t, 6).alias("bartlett_stat"),
        F.round(F.exp(-t / 2.0) * (1.0 + t / 2.0), 8).alias("p_value"),
    )

# ---------------------------------------------------------------------------
# Welch's two-sample t-test
# ---------------------------------------------------------------------------

_WELCH_SQL = _arm_moments_sql("event_type IN ('purchase', 'view')") + f""", t AS (
  SELECT n_a, n_b, m_a, m_b, v_a, v_b,
         (m_a - m_b) / sqrt(v_a / n_a + v_b / n_b) AS t_stat,
         (v_a / n_a + v_b / n_b) * (v_a / n_a + v_b / n_b)
           / ((v_a / n_a) * (v_a / n_a) / (n_a - 1)
              + (v_b / n_b) * (v_b / n_b) / (n_b - 1)) AS df
  FROM v
)
SELECT n_a, n_b,
       ROUND(m_a, 6) AS mean_a, ROUND(m_b, 6) AS mean_b,
       ROUND(t_stat, 6) AS t_stat, ROUND(df, 2) AS df_welch,
       ROUND(2.0 * {_phi_tail_sql('ABS(t_stat)')}, 8) AS p_value
FROM t
"""


@query("stats_welch_ttest", oracle=_WELCH_SQL)
def stats_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance two-sample t-test: do purchase and
    view events carry different mean values? The default two-sample
    mean test (it never assumes equal variances, so it dominates
    Student's t in practice); df by Welch–Satterthwaite. p-value
    uses the shared normal tail — at df in the thousands t and z
    are indistinguishable at the rounded precision, and both
    engines evaluate the SAME formula so the hash never depends on
    the statistical approximation.

    Exactness: n is exact; Σx and Σx² are exact DECIMAL sums
    rounded in the decimal domain (the davg rule) before casting to
    double; everything downstream is pure double algebra on
    bit-identical inputs. One groupBy = one shuffle of 2 groups
    with map-side partials; scales as a scan.
    """
    v = _arm_moments(
        load(spark, sf_dir, "events").filter(
            F.col("event_type").isin("purchase", "view")
        )
    )
    se2a = F.col("v_a") / F.col("n_a")
    se2b = F.col("v_b") / F.col("n_b")
    t = v.select(
        "n_a",
        "n_b",
        "m_a",
        "m_b",
        ((F.col("m_a") - F.col("m_b")) / F.sqrt(se2a + se2b)).alias("t_stat"),
        (
            (se2a + se2b)
            * (se2a + se2b)
            / (
                se2a * se2a / (F.col("n_a") - 1)
                + se2b * se2b / (F.col("n_b") - 1)
            )
        ).alias("df"),
    )
    return t.select(
        "n_a",
        "n_b",
        F.round("m_a", 6).alias("mean_a"),
        F.round("m_b", 6).alias("mean_b"),
        F.round("t_stat", 6).alias("t_stat"),
        F.round("df", 2).alias("df_welch"),
        F.round(2.0 * _phi_tail_col(F.abs(F.col("t_stat"))), 8).alias(
            "p_value"
        ),
    )

# ---------------------------------------------------------------------------
# One-way ANOVA across groups
# ---------------------------------------------------------------------------

_ANOVA_SQL = """
WITH g AS (
  SELECT l_returnflag,
         CAST(COUNT(*) AS BIGINT) AS ng,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,4))) AS DECIMAL(38,4))
           AS sg,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,4)) * l_extendedprice)
              AS DECIMAL(38,4)) AS qg
  FROM lineitem GROUP BY l_returnflag
), t AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(ng) AS BIGINT) AS n,
         CAST(SUM(CAST(ROUND(CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE) / ng, 4)
                       AS DECIMAL(38,4))) AS DOUBLE) AS ss_groups,
         CAST(SUM(sg) AS DOUBLE) AS s_all,
         CAST(SUM(qg) AS DOUBLE) AS q_all
  FROM g
), d AS (
  SELECT k, n,
         ss_groups - s_all * s_all / n AS ssb,
         q_all - ss_groups AS ssw
  FROM t
)
SELECT CAST(k AS INT) AS k_groups, n,
       ROUND(ssb / (k - 1), 4) AS ms_between,
       ROUND(ssw / (n - k), 4) AS ms_within,
       ROUND((ssb / (k - 1)) / (ssw / (n - k)), 6) AS f_stat,
       ROUND(ssb / (ssb + ssw), 6) AS eta_squared
FROM d
"""


@query("stats_anova_oneway", oracle=_ANOVA_SQL)
def stats_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of extended price across return flags: F-statistic
    and effect size (η²) from per-group moment sums — count, Σx, Σx²
    in exact DECIMALs (price has 2 decimals, squares 4; nothing
    rounds) — so both engines carry identical numbers into the final
    double-domain sum-of-squares algebra. The per-group Σs²/n step
    runs over the K-ROW group frame in a fixed double expression.

    Scale: ONE map-side-combined aggregate over the fact table; the
    group frame is k rows; everything after is scalar algebra. This
    is the variance decomposition every A/B/C/n-way experiment
    readout needs, at one-scan cost."""
    li = load(spark, sf_dir, "lineitem")
    dec = "decimal(38,4)"
    g = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("bigint").alias("ng"),
        F.sum(F.col("l_extendedprice").cast(dec)).alias("sg"),
        F.sum(F.col("l_extendedprice").cast(dec) * F.col("l_extendedprice"))
        .alias("qg"),
    )
    t = g.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("ng").cast("bigint").alias("n"),
        # each group's Σ²/n is a deterministic double; ROUND→DECIMAL
        # before summing so the k-row sum is order-independent
        # cross-engine (a raw double sum at ~1e13 magnitude wobbles
        # past the output rounding under catastrophic cancellation)
        F.sum(
            F.round(
                F.col("sg").cast("double") * F.col("sg").cast("double")
                / F.col("ng"),
                4,
            ).cast("decimal(38,4)")
        )
        .cast("double")
        .alias("ss_groups"),
        F.sum("sg").cast("double").alias("s_all"),
        F.sum("qg").cast("double").alias("q_all"),
    )
    ssb = F.col("ss_groups") - F.col("s_all") * F.col("s_all") / F.col("n")
    ssw = F.col("q_all") - F.col("ss_groups")
    msb = ssb / (F.col("k") - 1)
    msw = ssw / (F.col("n") - F.col("k"))
    return t.select(
        F.col("k").cast("int").alias("k_groups"),
        "n",
        F.round(msb, 4).alias("ms_between"),
        F.round(msw, 4).alias("ms_within"),
        F.round(msb / msw, 6).alias("f_stat"),
        F.round(ssb / (ssb + ssw), 6).alias("eta_squared"),
    )

# ---------------------------------------------------------------------------
# Brown–Forsythe (robust Levene) variance-homogeneity test
# ---------------------------------------------------------------------------

_LEVENE_SQL = """
WITH med AS (
  SELECT l_returnflag AS g,
         CAST(ROUND(quantile_cont(l_extendedprice, 0.5), 4)
              AS DECIMAL(38,4)) AS med
  FROM lineitem GROUP BY l_returnflag
), z AS (
  SELECT li.l_returnflag AS g,
         ABS(CAST(li.l_extendedprice AS DECIMAL(38,4)) - med.med) AS z
  FROM lineitem li JOIN med ON med.g = li.l_returnflag
), grp AS (
  SELECT g, CAST(COUNT(*) AS BIGINT) AS ng,
         CAST(SUM(z) AS DECIMAL(38,4)) AS sz,
         CAST(SUM(CAST(z AS DECIMAL(38,8)) * z) AS DECIMAL(38,8)) AS qz
  FROM z GROUP BY g
), t AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
         CAST(SUM(ng) AS BIGINT) AS n,
         CAST(SUM(CAST(ROUND(CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE) / ng, 4)
                       AS DECIMAL(38,4))) AS DOUBLE) AS ss_groups,
         CAST(SUM(sz) AS DOUBLE) AS s_all,
         CAST(SUM(qz) AS DOUBLE) AS q_all
  FROM grp
), d AS (
  SELECT k, n,
         ss_groups - s_all * s_all / n AS ssb,
         q_all - ss_groups AS ssw
  FROM t
)
SELECT CAST(k AS INT) AS k_groups, n,
       ROUND((ssb / (k - 1)) / (ssw / (n - k)), 6) AS levene_w,
       (ssb / (k - 1)) / (ssw / (n - k)) > 3.0 AS variance_heterogeneous
FROM d
"""


@query("stats_levene_test", oracle=_LEVENE_SQL)
def stats_levene_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown–Forsythe test (the robust Levene variant) for variance
    homogeneity across return flags — THE assumption check behind
    stats_anova_oneway: W = one-way-ANOVA F computed on the absolute
    deviations z = |x − median_g|. Composition showcase: the group
    medians come from the SAME bounded-memory prefix-sum
    quantile_cont replay stats_percentiles uses (rounded to 4
    decimals so z is an exact ≤4-decimal quantity), then the SAME
    decimal-moment ANOVA algebra runs on z — both stages already
    hash-attested on their own, now composed and attested end-to-end.

    Scale: one prefix-sum scan for the k medians (broadcast back as a
    k-row join), one map-side-combined moment aggregate over z; the
    k-row Σ²/n step ROUND→DECIMAL before summing (the ANOVA
    cancellation guard)."""
    from ibd_pipeline_spark.queries.stats3 import _price_ranks

    li, ps = _price_ranks(spark, sf_dir)
    cw, n = F.col("_cw"), F.col("_tw")
    p = F.lit(1.0) + F.lit(0.5) * (n - F.lit(1)).cast("double")
    lo_rank = F.floor(p)
    frac = p - lo_rank.cast("double")
    vlo = F.min(F.when(cw >= lo_rank, F.col("v").cast("double")))
    vhi = F.min(F.when(cw >= lo_rank + 1, F.col("v").cast("double")))
    med = ps.groupBy("g").agg(
        F.round(vlo + F.max(frac) * (F.coalesce(vhi, vlo) - vlo), 4)
        .cast("decimal(38,4)")
        .alias("med")
    )
    z = (
        li.join(F.broadcast(med), "g")
        .select("g", F.abs(F.col("v").cast("decimal(38,4)") - F.col("med"))
                .alias("z"))
    )
    grp = z.groupBy("g").agg(
        F.count(F.lit(1)).cast("bigint").alias("ng"),
        F.sum("z").cast("decimal(38,4)").alias("sz"),
        F.sum(F.col("z").cast("decimal(38,8)") * F.col("z"))
        .cast("decimal(38,8)")
        .alias("qz"),
    )
    t = grp.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("ng").cast("bigint").alias("n"),
        F.sum(
            F.round(
                F.col("sz").cast("double") * F.col("sz").cast("double")
                / F.col("ng"),
                4,
            ).cast("decimal(38,4)")
        )
        .cast("double")
        .alias("ss_groups"),
        F.sum("sz").cast("double").alias("s_all"),
        F.sum("qz").cast("double").alias("q_all"),
    )
    ssb = F.col("ss_groups") - F.col("s_all") * F.col("s_all") / F.col("n")
    ssw = F.col("q_all") - F.col("ss_groups")
    w = (ssb / (F.col("k") - 1)) / (ssw / (F.col("n") - F.col("k")))
    return t.select(
        F.col("k").cast("int").alias("k_groups"),
        "n",
        F.round(w, 6).alias("levene_w"),
        (w > 3.0).alias("variance_heterogeneous"),
    )
