"""Time-series diagnostics (r14 topic split): autocorrelation, the
Ljung–Box portmanteau test, Mann–Kendall trend, and the Page–Hinkley
sequential changepoint detector — consolidated here from the
chronological round files; registry names, semantics, and oracles
unchanged.

No reference analog (`spark_processor.py:153-164`); SURVEY §2.2 rows.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ibd_pipeline_spark.catalog import load
from ibd_pipeline_spark.normal_tail import (  # noqa: F401
    _PHI_B,
    _phi_tail_col,
    _phi_tail_sql,
)
from ibd_pipeline_spark.queries import query

# ---------------------------------------------------------------------------
# The daily-volume lag products the ACF and Ljung–Box read
# ---------------------------------------------------------------------------


def _lag_products(
    spark: SparkSession, sf_dir: str, max_lag: int
) -> "tuple[DataFrame, DataFrame]":
    """(num, den) of the daily-volume autocorrelation at lags
    1..max_lag: num holds per lag_k the deviation-product sum `num`,
    its pair count n_pairs and the day count n_days; den is the one
    row Σ(x_t−x̄)². Pairs come from a LAG SPINE JOIN (explode k,
    equi-join on day+k) — no unpartitioned window, and gap days pair
    by CALENDAR distance. Every deviation product is decimal-cast
    before the order-independent sums."""
    ev = load(spark, sf_dir, "events")
    d = ev.groupBy(
        F.unix_date(F.to_date(F.date_trunc("day", "ts"))).alias("di")
    ).agg(F.count(F.lit(1)).alias("x"))
    mu = d.agg(
        (F.sum("x").cast("double") / F.count(F.lit(1))).alias("mu"),
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
    )
    dm = d.crossJoin(F.broadcast(mu))
    den = dm.agg(
        F.sum(
            (
                (F.col("x").cast("double") - F.col("mu"))
                * (F.col("x").cast("double") - F.col("mu"))
            ).cast("decimal(28,8)")
        )
        .cast("double")
        .alias("den")
    )
    ks = ev.sparkSession.range(1, max_lag + 1).select(
        F.col("id").alias("lag_k")
    )
    b = d.select(F.col("di").alias("dib"), F.col("x").alias("xb"))
    pairs = dm.crossJoin(F.broadcast(ks)).join(
        b, F.col("dib") == F.col("di") + F.col("lag_k")
    )
    num = pairs.groupBy("lag_k").agg(
        F.sum(
            (
                (F.col("x").cast("double") - F.col("mu"))
                * (F.col("xb").cast("double") - F.col("mu"))
            ).cast("decimal(28,8)")
        )
        .cast("double")
        .alias("num"),
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.max("n_days").alias("n_days"),
    )
    return num, den


def _lag_products_sql(max_lag: int) -> str:
    """The oracle twin of _lag_products: `muc`, `denc` and `numc`."""
    return f"""
WITH dd AS (
  SELECT CAST(date_diff('day', DATE '2024-01-01',
                        CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE))
              AS BIGINT) AS di,
         CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY 1
), muc AS (
  SELECT CAST(SUM(x) AS DOUBLE) / COUNT(*) AS mu,
         CAST(COUNT(*) AS BIGINT) AS n_days
  FROM dd
), denc AS (
  SELECT CAST(SUM(CAST((CAST(dd.x AS DOUBLE) - muc.mu)
                       * (CAST(dd.x AS DOUBLE) - muc.mu) AS DECIMAL(28,8)))
              AS DOUBLE) AS den
  FROM dd CROSS JOIN muc
), numc AS (
  SELECT t.k AS lag_k,
         CAST(SUM(CAST((CAST(a.x AS DOUBLE) - muc.mu)
                       * (CAST(b.x AS DOUBLE) - muc.mu) AS DECIMAL(28,8)))
              AS DOUBLE) AS num,
         CAST(COUNT(*) AS BIGINT) AS n_pairs
  FROM UNNEST(range(1, {max_lag + 1})) t(k)
  JOIN dd a ON TRUE JOIN dd b ON b.di = a.di + t.k CROSS JOIN muc
  GROUP BY t.k
)"""


# ---------------------------------------------------------------------------
# (moved from round11c.py in the r14 chronological->topic split;
# registry names, semantics, and oracles unchanged)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# Ljung-Box portmanteau test (daily volume, lags 1..8)
# ---------------------------------------------------------------------------

_LB_H = 8

_LB_SQL = _lag_products_sql(_LB_H) + f""", terms AS (
  SELECT SUM(CAST(ROUND(
           (numc.num / denc.den) * (numc.num / denc.den)
           / ((SELECT n_days FROM muc) - numc.lag_k), 12)
           AS DECIMAL(28,12))) AS tsum
  FROM numc CROSS JOIN denc
), q AS (
  SELECT CAST(n_days AS DOUBLE) * (n_days + 2)
           * CAST(tsum AS DOUBLE) AS q_raw,
         n_days
  FROM terms, muc
)
SELECT n_days, {_LB_H} AS df,
       ROUND(q_raw, 6) AS q_stat,
       ROUND(exp(-q_raw / 2.0)
             * (1.0 + q_raw / 2.0 + (q_raw / 2.0) * (q_raw / 2.0) / 2.0
                + (q_raw / 2.0) * (q_raw / 2.0) * (q_raw / 2.0) / 6.0), 8)
         AS p_value
FROM q
"""


@query("stats_ljung_box", oracle=_LB_SQL)
def stats_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau test on daily event volume — "is the
    series white noise at lags 1..8, jointly?": Q = n(n+2)·Σ_k
    ρ̂_k²/(n−k), chi-square with df = 8 under H₀. The one-number
    model diagnostic on top of stats_autocorrelation_daily's per-lag
    curve — run it on forecast RESIDUALS and a significant Q says the
    model left structure on the table. Even df=8 gives the exact
    closed-form survival exp(−x/2)·Σ_{j<4}(x/2)^j/j! — identical
    double algebra on both engines, no incomplete gamma.

    Exactness: the ACF machinery is the attested lag-spine join
    (calendar-distance pairing, no LAG window); each ρ²/(n−k) term
    rounds to DECIMAL(28,12) before the 8-term sum.

    Scale: one day-grain count aggregate; the spine join runs on
    (days × 8) rows; the statistic folds on one row."""
    num, den = _lag_products(spark, sf_dir, _LB_H)
    rho = F.col("num") / F.col("den")
    terms = (
        num.crossJoin(F.broadcast(den))
        .select(
            F.round(rho * rho / (F.col("n_days") - F.col("lag_k")), 12)
            .cast("decimal(28,12)")
            .alias("term"),
            "n_days",
        )
        .groupBy("n_days")
        .agg(F.sum("term").alias("tsum"))
    )
    q = (
        F.col("n_days").cast("double")
        * (F.col("n_days") + 2)
        * F.col("tsum").cast("double")
    )
    x2 = q / 2.0
    return terms.select(
        "n_days",
        F.lit(_LB_H).alias("df"),
        F.round(q, 6).alias("q_stat"),
        F.round(
            F.exp(-x2)
            * (F.lit(1.0) + x2 + x2 * x2 / 2.0 + x2 * x2 * x2 / 6.0),
            8,
        ).alias("p_value"),
    )


# ---------------------------------------------------------------------------
# (moved from round10_stats.py in the r14 chronological->topic split;
# registry names, semantics, and oracles unchanged)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# Mann–Kendall trend test (daily order volume)
# ---------------------------------------------------------------------------

_MK_SQL = """
WITH d AS (
  SELECT CAST(date_trunc('day', CAST(o_orderdate AS TIMESTAMP)) AS DATE)
           AS day,
         CAST(COUNT(*) AS BIGINT) AS x
  FROM orders GROUP BY 1
), s AS (
  SELECT CAST(SUM(CASE WHEN b.x > a.x THEN 1
                       WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT) AS s_stat,
         CAST(COUNT(DISTINCT a.day) + 1 AS BIGINT) AS n
  FROM d a JOIN d b ON b.day > a.day
), ties AS (
  SELECT CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT) AS tt
  FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM d GROUP BY x)
  WHERE t > 1
), v AS (
  SELECT s.n, s.s_stat, ties.tt,
         (CAST(s.n AS DOUBLE) * (s.n - 1) * (2 * s.n + 5) - ties.tt) / 18.0
           AS var_s
  FROM s, ties
)
SELECT n AS n_days, s_stat,
       ROUND(var_s, 4) AS var_s,
       ROUND(CASE WHEN s_stat > 0 THEN (s_stat - 1) / sqrt(var_s)
                  WHEN s_stat < 0 THEN (s_stat + 1) / sqrt(var_s)
                  ELSE 0.0 END, 6) AS z_stat,
       CASE WHEN s_stat > 0 THEN 'increasing'
            WHEN s_stat < 0 THEN 'decreasing' ELSE 'none' END AS trend
FROM v
"""


@query("stats_mann_kendall", oracle=_MK_SQL)
def stats_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Kendall nonparametric trend test on daily order volume —
    the monitoring family's distribution-free 'is this metric
    drifting' answer (no linearity or normality assumed, robust to
    spikes): S = Σ_{i<j} sign(x_j − x_i) with the tie-corrected
    variance Var(S) = [n(n−1)(2n+5) − Σ_t t(t−1)(2t+5)]/18 and the
    continuity-corrected z. S and the tie sums are exact BIGINTs; the
    two divisions happen at output.

    Scale: the corpus-scale work is the day-grain count aggregate;
    the pair sum runs as a triangular self-join over the CALENDAR-
    bounded day frame (365² pairs/year — metadata, and window-free so
    the plan audit stays clean). The parametric twin is
    stats_theil_sen_trend (same frame, slope instead of sign-sum)."""
    orders = load(spark, sf_dir, "orders")
    d = orders.groupBy(
        F.to_date(F.date_trunc("day", "o_orderdate")).alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    a, b = d.alias("a"), d.alias("b")
    # calendar-bounded frame: broadcast one side (BNLJ, never a
    # partitioned cartesian)
    s = a.join(F.broadcast(b), F.col("b.day") > F.col("a.day")).agg(
        F.sum(
            F.when(F.col("b.x") > F.col("a.x"), 1)
            .when(F.col("b.x") < F.col("a.x"), -1)
            .otherwise(0)
        )
        .cast("bigint")
        .alias("s_stat"),
        (F.countDistinct("a.day") + 1).cast("bigint").alias("n"),
    )
    ties = (
        d.groupBy("x")
        .agg(F.count(F.lit(1)).cast("bigint").alias("t"))
        .filter(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)),
                F.lit(0),
            )
            .cast("bigint")
            .alias("tt")
        )
    )
    v = s.crossJoin(F.broadcast(ties)).withColumn(
        "var_s",
        (
            F.col("n").cast("double")
            * (F.col("n") - 1)
            * (2 * F.col("n") + 5)
            - F.col("tt")
        )
        / 18.0,
    )
    z = (
        F.when(
            F.col("s_stat") > 0,
            (F.col("s_stat") - 1) / F.sqrt(F.col("var_s")),
        )
        .when(
            F.col("s_stat") < 0,
            (F.col("s_stat") + 1) / F.sqrt(F.col("var_s")),
        )
        .otherwise(F.lit(0.0))
    )
    return v.select(
        F.col("n").alias("n_days"),
        "s_stat",
        F.round("var_s", 4).alias("var_s"),
        F.round(z, 6).alias("z_stat"),
        F.when(F.col("s_stat") > 0, "increasing")
        .when(F.col("s_stat") < 0, "decreasing")
        .otherwise("none")
        .alias("trend"),
    )


# ---------------------------------------------------------------------------
# (moved from round11.py in the r14 chronological->topic split;
# registry names, semantics, and oracles unchanged)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# Page–Hinkley changepoint statistic
# ---------------------------------------------------------------------------

_PH_DELTA, _PH_LAMBDA = 0.1, 5.0

_PH_SQL = f"""
WITH d AS (
  SELECT CAST(DATE_TRUNC('day', ts) AS DATE) AS day,
         CAST(ROUND(SUM(CAST(value AS DECIMAL(28,8))), 4) AS DOUBLE)
           / COUNT(value) AS day_avg
  FROM events GROUP BY 1
), g AS (
  SELECT CAST(ROUND(SUM(CAST(day_avg AS DECIMAL(28,8))), 8) AS DOUBLE)
           / COUNT(*) AS gmean
  FROM d
), t AS (
  SELECT day, day_avg,
         CAST(ROUND(day_avg - g.gmean - {_PH_DELTA}, 8) AS DECIMAL(28,8)) AS dev
  FROM d, g
), c0 AS (
  SELECT day, day_avg,
         SUM(dev) OVER (ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS m
  FROM t
), c AS (
  SELECT day, day_avg, m,
         MIN(m) OVER (ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS runmin
  FROM c0
), ph AS (
  SELECT day, day_avg, m - runmin AS ph FROM c
)
SELECT day AS changepoint_day,
       CAST(ROUND(ph, 6) AS DOUBLE) AS ph_stat,
       ph > {_PH_LAMBDA} AS alarm,
       ROUND(day_avg, 4) AS day_avg
FROM ph ORDER BY ph DESC, day LIMIT 1
"""


@query("stats_page_hinkley", oracle=_PH_SQL)
def stats_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page–Hinkley upward-drift detector on the daily mean event
    value: mₜ = Σ(x̄ᵢ − μ − δ) and PHₜ = mₜ − min_{k≤t} mₖ — the
    sequential cousin of events_cusum_changepoint (CUSUM localizes a
    level shift against the diagonal; PH accumulates drift against a
    tolerance δ and alarms when the climb from the running minimum
    exceeds λ). Reports the argmax day, the statistic, and the
    alarm verdict at δ=0.1, λ=5.

    Exactness: day means ride the davg decimal contract; deviations
    round to DECIMAL(28,8) before any prefix, so the cumulative sum
    AND its running minimum are exact decimal algebra — both ride
    the r11 month-stitch helpers (cumsum + running-extreme), no
    unpartitioned window.

    Scale: one day-grain aggregate, then day-frame stitches; argmax
    is a LIMIT-1 TakeOrdered."""
    from ibd_pipeline_spark.streaming.ph import ph_running

    ev = load(spark, sf_dir, "events")
    d = ev.groupBy(F.to_date(F.date_trunc("day", "ts")).alias("day")).agg(
        (
            F.round(F.sum(F.col("value").cast("decimal(28,8)")), 4).cast("double")
            / F.count("value")
        ).alias("day_avg")
    )
    return (
        ph_running(d, _PH_DELTA)
        .select("day", "day_avg", "ph")
        .orderBy(F.col("ph").desc(), "day")
        .limit(1)
        .select(
            F.col("day").alias("changepoint_day"),
            F.round("ph", 6).cast("double").alias("ph_stat"),
            (F.col("ph") > _PH_LAMBDA).alias("alarm"),
            F.round("day_avg", 4).alias("day_avg"),
        )
    )


# ---------------------------------------------------------------------------
# (moved from round9.py in the r14 chronological->topic split;
# registry names, semantics, and oracles unchanged)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# Autocorrelation function of daily volume (seasonality fingerprint)
# ---------------------------------------------------------------------------

_ACF_SQL = _lag_products_sql(7) + """
SELECT CAST(numc.lag_k AS BIGINT) AS lag_k, numc.n_pairs,
       (SELECT n_days FROM muc) AS n_days,
       ROUND(numc.num / (SELECT den FROM denc), 6) AS acf
FROM numc
ORDER BY lag_k
"""


@query("stats_autocorrelation_daily", oracle=_ACF_SQL)
def stats_autocorrelation_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of daily event volume at lags 1–7 —
    the seasonality fingerprint behind the monitoring family: a
    spike at lag 7 confirms the weekly cycle events_seasonal_decompose
    removes; near-zero everywhere says the seasonal-naive backtest
    baseline is as good as it gets.

    ACF_k = Σ(x_t−x̄)(x_{t+k}−x̄) / Σ(x_t−x̄)² over the day-grain
    frame, with a LAG SPINE JOIN (explode k∈1..7, equi-join on
    day+k) instead of a LAG window — no unpartitioned window, and
    gap days pair by CALENDAR distance (a row-LAG silently stretches
    across gaps; the r8 forecast-backtest lesson). Counts are exact
    integers; x̄ and every deviation product are identical double
    chains, decimal-cast before the order-independent sums.

    Scale: the corpus-sized work is one day-grain count aggregate;
    the spine join runs on (days × 7) rows."""
    num, den = _lag_products(spark, sf_dir, 7)
    return (
        num.crossJoin(F.broadcast(den))
        .select(
            F.col("lag_k").cast("bigint").alias("lag_k"),
            "n_pairs",
            "n_days",
            F.round(F.col("num") / F.col("den"), 6).alias("acf"),
        )
        .orderBy("lag_k")
    )
