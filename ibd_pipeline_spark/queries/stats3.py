"""Regression-diagnostic queries (round-12 split): Durbin–Watson
autocorrelation, Breusch–Pagan heteroskedasticity, Chow structural
break. Split out of the former round12.py; names/semantics unchanged.
No reference analog (`spark_processor.py:153-164`); SURVEY §2.2 rows.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ibd_pipeline_spark.catalog import load
from ibd_pipeline_spark.normal_tail import _phi_tail_col, _phi_tail_sql
from ibd_pipeline_spark.queries import query

# ---------------------------------------------------------------------------
# The detrended daily-volume series Durbin–Watson and Breusch–Pagan test
# ---------------------------------------------------------------------------


def _trend_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(di, e, n): OLS residuals of daily event counts y on the day
    index di (days since 2024-01-01), with the day count n. The fit's
    moments are exact BIGINT sums, so α and β are one identical double
    division each on both engines."""
    ev = load(spark, sf_dir, "events")
    dd = ev.groupBy(
        F.datediff(
            F.to_date(F.date_trunc("day", "ts")), F.lit("2024-01-01").cast("date")
        ).alias("di")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("y"))
    m = dd.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("di").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("di") * F.col("di")).cast("bigint").alias("sxx"),
        F.sum(F.col("di") * F.col("y")).cast("bigint").alias("sxy"),
    )
    beta = (
        F.col("n").cast("double") * F.col("sxy")
        - F.col("sx").cast("double") * F.col("sy")
    ) / (
        F.col("n").cast("double") * F.col("sxx")
        - F.col("sx").cast("double") * F.col("sx")
    )
    fit = m.select(
        "n", beta.alias("beta"), "sx", "sy"
    ).select(
        "n",
        "beta",
        ((F.col("sy").cast("double") - F.col("beta") * F.col("sx")) / F.col("n")).alias(
            "alpha"
        ),
    )
    return dd.crossJoin(F.broadcast(fit)).select(
        "di",
        (F.col("y").cast("double") - (F.col("alpha") + F.col("beta") * F.col("di"))).alias(
            "e"
        ),
        "n",
    )


# The oracle twin of _trend_residuals: `resid`.
_TREND_RESID_SQL = """
WITH dd AS (
  SELECT CAST(date_diff('day', DATE '2024-01-01',
                        CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE))
              AS BIGINT) AS di,
         CAST(COUNT(*) AS BIGINT) AS y
  FROM events GROUP BY 1
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(di) AS BIGINT) AS sx,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(di * di) AS BIGINT) AS sxx,
         CAST(SUM(di * y) AS BIGINT) AS sxy
  FROM dd
), fit AS (
  SELECT n,
         (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
           / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) AS beta,
         sx, sy
  FROM m
), fit2 AS (
  SELECT n, beta,
         (CAST(sy AS DOUBLE) - beta * sx) / n AS alpha
  FROM fit
), resid AS (
  SELECT di, CAST(y AS DOUBLE) - (alpha + beta * di) AS e, n
  FROM dd CROSS JOIN fit2
)"""

# ---------------------------------------------------------------------------
# Durbin–Watson autocorrelation of detrended daily volume
# ---------------------------------------------------------------------------

_DW_SQL = _TREND_RESID_SQL + """, dw AS (
  SELECT MAX(a.n) AS n_days,
         CAST(ROUND(SUM(CAST((a.e - b.e) * (a.e - b.e)
                             AS DECIMAL(28,8))), 4) AS DOUBLE) AS num
  FROM resid a JOIN resid b ON b.di = a.di - 1
), den AS (
  SELECT CAST(ROUND(SUM(CAST(e * e AS DECIMAL(28,8))), 4) AS DOUBLE) AS den
  FROM resid
)
SELECT CAST(n_days AS BIGINT) AS n_days,
       ROUND(num / den, 6) AS dw_stat,
       ROUND(1.0 - (num / den) / 2.0, 6) AS rho1_approx
FROM dw CROSS JOIN den
"""


@query("stats_durbin_watson", oracle=_DW_SQL)
def stats_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin–Watson test statistic on the residuals of the daily
    event-volume linear trend: DW = Σ(eₜ−eₜ₋₁)²/Σeₜ² ∈ [0,4], ≈ 2
    for white noise, → 0 under positive serial correlation. THE
    regression-residual autocorrelation check — a trending daily
    metric fit by OLS with autocorrelated errors has understated
    standard errors, and DW is the tripwire (rho1_approx ≈ 1−DW/2
    gives the implied lag-1 correlation).

    Exactness: the OLS fit uses ALL-INTEGER moment sums (Σdi, Σy,
    Σdi², Σdi·y are exact BIGINTs — no float aggregation anywhere in
    the fit), so α/β are one identical double division each;
    residuals are identical doubles; the two quadratic sums are
    decimal-quantized per term. Adjacent-day pairs come from a
    di−1 self-join (the Ljung-Box lag-spine convention — calendar
    gaps pair only truly adjacent days).

    Scale: one day-key count shuffle; the fit, residuals, and DW
    fold all run on the days-sized frame with a 1-row broadcast."""
    resid = _trend_residuals(spark, sf_dir)
    ra = resid.alias("ra")
    rb = resid.select(
        (F.col("di") + 1).alias("dib"), F.col("e").alias("eb")
    )
    dw = (
        ra.join(rb, F.col("di") == F.col("dib"))
        .agg(
            F.max("n").alias("n_days"),
            F.round(
                F.sum(
                    ((F.col("e") - F.col("eb")) * (F.col("e") - F.col("eb"))).cast(
                        "decimal(28,8)"
                    )
                ),
                4,
            )
            .cast("double")
            .alias("num"),
        )
    )
    den = resid.agg(
        F.round(F.sum((F.col("e") * F.col("e")).cast("decimal(28,8)")), 4)
        .cast("double")
        .alias("den")
    )
    return dw.crossJoin(F.broadcast(den)).select(
        F.col("n_days").cast("bigint").alias("n_days"),
        F.round(F.col("num") / F.col("den"), 6).alias("dw_stat"),
        F.round(1.0 - (F.col("num") / F.col("den")) / 2.0, 6).alias(
            "rho1_approx"
        ),
    )


# ---------------------------------------------------------------------------
# Breusch–Pagan heteroskedasticity test on the daily-volume trend fit
# ---------------------------------------------------------------------------

_BP_SQL = _TREND_RESID_SQL + f""", aux AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(di) AS BIGINT) AS sx,
         CAST(SUM(di * di) AS BIGINT) AS sxx,
         CAST(ROUND(SUM(CAST(e * e AS DECIMAL(28,8))), 4) AS DOUBLE) AS sy2,
         CAST(ROUND(SUM(CAST(di * e * e AS DECIMAL(28,8))), 4) AS DOUBLE)
           AS sxy2,
         CAST(ROUND(SUM(CAST(e * e * e * e AS DECIMAL(38,8))), 4) AS DOUBLE)
           AS syy2
  FROM resid
), r2 AS (
  SELECT n,
         ((CAST(n AS DOUBLE) * sxy2 - CAST(sx AS DOUBLE) * sy2)
          * (CAST(n AS DOUBLE) * sxy2 - CAST(sx AS DOUBLE) * sy2))
           / ((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
              * (CAST(n AS DOUBLE) * syy2 - sy2 * sy2)) AS r2_aux
  FROM aux
)
SELECT CAST(n AS BIGINT) AS n_days,
       ROUND(r2_aux, 6) AS r2_aux,
       ROUND(n * r2_aux, 6) AS bp_lm_stat,
       ROUND(LEAST(1.0, 2.0 * {_phi_tail_sql('sqrt(n * r2_aux)')}), 8)
         AS p_value
FROM r2
"""


@query("stats_breusch_pagan", oracle=_BP_SQL)
def stats_breusch_pagan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breusch–Pagan heteroskedasticity test on the daily-volume
    linear-trend residuals: auxiliary regression of e² on the day
    index, LM = n·R²_aux ~ χ²(1) under homoskedasticity (p via the
    exact identity 2·Φ̄(√x)). Growing-variance volume (a scaling
    service, a widening bot mix) breaks every OLS standard error the
    trend fit reports — DW catches serial correlation, BP catches
    exactly this. Completes the regression-diagnostics pair.

    Exactness: the trend fit reuses the Durbin–Watson all-integer
    moment discipline; the auxiliary moments quantize the e², di·e²
    and e⁴ terms per day so the sums are order-independent; R² and
    LM are one identical double chain.

    Scale: one day-key count shuffle; both fits run on the days-sized
    frame with 1-row broadcasts."""
    resid = _trend_residuals(spark, sf_dir)
    e2 = F.col("e") * F.col("e")
    aux = resid.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("di").cast("bigint").alias("sx"),
        F.sum(F.col("di") * F.col("di")).cast("bigint").alias("sxx"),
        F.round(F.sum(e2.cast("decimal(28,8)")), 4)
        .cast("double")
        .alias("sy2"),
        F.round(F.sum((F.col("di") * e2).cast("decimal(28,8)")), 4)
        .cast("double")
        .alias("sxy2"),
        F.round(F.sum((e2 * e2).cast("decimal(38,8)")), 4)
        .cast("double")
        .alias("syy2"),
    )
    nd = F.col("n").cast("double")
    num = nd * F.col("sxy2") - F.col("sx").cast("double") * F.col("sy2")
    r2 = (num * num) / (
        (nd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx"))
        * (nd * F.col("syy2") - F.col("sy2") * F.col("sy2"))
    )
    lm = F.col("n") * r2
    return aux.select(
        F.col("n").alias("n_days"),
        F.round(r2, 6).alias("r2_aux"),
        F.round(lm, 6).alias("bp_lm_stat"),
        F.round(
            F.least(F.lit(1.0), 2.0 * _phi_tail_col(F.sqrt(lm))), 8
        ).alias("p_value"),
    )


# ---------------------------------------------------------------------------
# Chow structural-break F-test at the window midpoint
# ---------------------------------------------------------------------------

_CHOW_SQL = """
WITH dd AS (
  SELECT CAST(date_diff('day', DATE '2024-01-01',
                        CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE))
              AS BIGINT) AS di,
         CAST(COUNT(*) AS BIGINT) AS y
  FROM events GROUP BY 1
), bnd AS (
  SELECT (MIN(di) + MAX(di)) // 2 AS mid FROM dd
), seg AS (
  SELECT di, y, CASE WHEN di <= (SELECT mid FROM bnd) THEN 0 ELSE 1 END
           AS s
  FROM dd
), m AS (
  SELECT s, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(di) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(di * di) AS BIGINT) AS sxx,
         CAST(SUM(di * y) AS BIGINT) AS sxy,
         CAST(SUM(y * y) AS BIGINT) AS syy
  FROM seg GROUP BY s
), mp AS (
  SELECT CAST(SUM(n) AS BIGINT) AS n, CAST(SUM(sx) AS BIGINT) AS sx,
         CAST(SUM(sy) AS BIGINT) AS sy, CAST(SUM(sxx) AS BIGINT) AS sxx,
         CAST(SUM(sxy) AS BIGINT) AS sxy, CAST(SUM(syy) AS BIGINT) AS syy
  FROM m
), sse AS (
  SELECT s, n,
         (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy
          - ((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             * (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy))
            / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx))
           / n AS sse
  FROM m
), ssep AS (
  SELECT n,
         (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy
          - ((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             * (CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy))
            / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx))
           / n AS sse_pooled
  FROM mp
), f AS (
  SELECT ssep.n,
         ssep.sse_pooled,
         (SELECT SUM(sse) FROM sse) AS sse_split,
         ((ssep.sse_pooled - (SELECT SUM(sse) FROM sse)) / 2.0)
           / ((SELECT SUM(sse) FROM sse) / (ssep.n - 4)) AS f_stat
  FROM ssep
)
SELECT CAST(n AS BIGINT) AS n_days,
       ROUND(sse_pooled, 6) AS sse_pooled,
       ROUND(sse_split, 6) AS sse_split,
       2 AS df1, CAST(n - 4 AS INT) AS df2,
       ROUND(f_stat, 6) AS chow_f
FROM f
"""


@query("stats_chow_test", oracle=_CHOW_SQL)
def stats_chow_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chow structural-break test of the daily-volume trend at the
    window midpoint: fit the linear trend pooled and separately on
    each half; F = ((SSE_p − SSE₁ − SSE₂)/k) / ((SSE₁+SSE₂)/(n−2k)),
    k = 2 — did the REGIME change (both level and slope jointly),
    not just the level (events_best_split_sse's question)?
    Statistic-only readout with its (df1, df2) pair, the CvM/AD
    convention (the F tail has no elementary closed form; F ≫ 1 at
    these dfs is the break signal).

    Exactness: all three fits use ONLY exact BIGINT moment sums
    (Σx, Σy, Σx², Σxy, Σy² per segment — the pooled moments are the
    integer SUMS of the segment moments, so no second scan); each
    SSE is one identical closed-form double chain; the midpoint is
    integer floor-division.

    Scale: one day-key count shuffle, one 2-group moment aggregate;
    everything after is constant-size algebra."""
    ev = load(spark, sf_dir, "events")
    dd = ev.groupBy(
        F.datediff(
            F.to_date(F.date_trunc("day", "ts")), F.lit("2024-01-01").cast("date")
        ).alias("di")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("y"))
    bnd = dd.agg(F.expr("(MIN(di) + MAX(di)) DIV 2").alias("mid"))
    seg = dd.crossJoin(F.broadcast(bnd)).select(
        "di",
        "y",
        F.when(F.col("di") <= F.col("mid"), 0).otherwise(1).alias("s"),
    )
    m = seg.groupBy("s").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("di").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("di") * F.col("di")).cast("bigint").alias("sxx"),
        F.sum(F.col("di") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )

    def sse_of(frame):
        nd = F.col("n").cast("double")
        num = nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
        return (
            nd * F.col("syy")
            - F.col("sy").cast("double") * F.col("sy")
            - (num * num)
            / (nd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx"))
        ) / F.col("n")

    sse = m.select("s", "n", sse_of(m).alias("sse"))
    mp = m.agg(
        *[
            F.sum(c).cast("bigint").alias(c)
            for c in ("n", "sx", "sy", "sxx", "sxy", "syy")
        ]
    )
    ssep = mp.select("n", sse_of(mp).alias("sse_pooled"))
    ssum = sse.agg(F.sum("sse").alias("sse_split"))
    f = ssep.crossJoin(F.broadcast(ssum)).select(
        "n",
        "sse_pooled",
        "sse_split",
        (
            ((F.col("sse_pooled") - F.col("sse_split")) / 2.0)
            / (F.col("sse_split") / (F.col("n") - 4))
        ).alias("f_stat"),
    )
    return f.select(
        F.col("n").alias("n_days"),
        F.round("sse_pooled", 6).alias("sse_pooled"),
        F.round("sse_split", 6).alias("sse_split"),
        F.lit(2).alias("df1"),
        (F.col("n") - 4).cast("int").alias("df2"),
        F.round("f_stat", 6).alias("chow_f"),
    )


# ---------------------------------------------------------------------------
# (moved from round10_stats.py in the r14 chronological->topic split;
# registry names, semantics, and oracles unchanged)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# Trimmed + winsorized mean per group (prefix-sum rank thresholds)
# ---------------------------------------------------------------------------

def _price_ranks(
    spark: SparkSession, sf_dir: str
) -> "tuple[DataFrame, DataFrame]":
    """(li, ps) over lineitem prices by return flag: li holds (g, v,
    l_orderkey, l_linenumber, _one); ps adds each row's 1-based rank
    _cw within its flag under the total order (price, orderkey,
    linenumber) and the flag size _tw — one weight-1 grouped
    prefix-sum scan (range exchange + Arrow running count, bounded
    memory even when a group spans tasks)."""
    from ibd_pipeline_spark.operators.ranking import with_grouped_prefix_sum

    li = load(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("g"),
        F.col("l_extendedprice").alias("v"),
        "l_orderkey",
        "l_linenumber",
        F.lit(1).cast("bigint").alias("_one"),
    )
    ps = with_grouped_prefix_sum(
        li, ["g"], ["v", "l_orderkey", "l_linenumber"], "_one"
    )
    return li, ps


_TRIM_SQL = """
WITH r AS (
  SELECT l_returnflag AS g, l_extendedprice AS v,
         ROW_NUMBER() OVER (PARTITION BY l_returnflag
                            ORDER BY l_extendedprice, l_orderkey,
                                     l_linenumber) AS rn,
         COUNT(*) OVER (PARTITION BY l_returnflag) AS n
  FROM lineitem
), b AS (
  SELECT g, CAST(v AS DECIMAL(38,4)) AS v, rn, n,
         CAST(FLOOR(0.1 * n) AS BIGINT) AS lo
  FROM r
)
SELECT g AS l_returnflag,
       CAST(MAX(n) AS BIGINT) AS n,
       ROUND(CAST(SUM(CASE WHEN rn > lo AND rn <= n - lo THEN v END)
                  AS DOUBLE) / (MAX(n) - 2 * MAX(lo)), 4) AS trimmed_mean,
       ROUND(CAST(SUM(CASE WHEN rn > lo AND rn <= n - lo THEN v END)
                  + MAX(lo) * MIN(CASE WHEN rn >= lo + 1 THEN v END)
                  + MAX(lo) * MIN(CASE WHEN rn >= n - lo THEN v END)
                  AS DOUBLE) / MAX(n), 4) AS winsorized_mean
FROM b GROUP BY g ORDER BY l_returnflag
"""


@query("stats_trimmed_mean", oracle=_TRIM_SQL)
def stats_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10% trimmed and winsorized means per return flag — the robust
    location estimators, as PURE RANK-THRESHOLD conditional
    aggregates over one weight-1 grouped prefix-sum scan (the same
    spine as stats_percentiles): trim drops ranks outside
    (⌊0.1n⌋, n−⌊0.1n⌋]; winsorize clamps them to the boundary values
    v(lo+1) / v(n−lo), both MIN-over-rank-condition lookups. Price
    sums stay in exact decimals; the two divisions happen once, at
    the end — bit-identical to the oracle's windowed ROW_NUMBER
    replay under the same (price, orderkey, linenumber) total order.

    Scale: one range exchange + Arrow running count (bounded memory
    even when a group spans tasks), conditional aggregates map-side
    combine; no per-group value buffer anywhere."""
    _li, ps = _price_ranks(spark, sf_dir)
    rn, n = F.col("_cw"), F.col("_tw")
    lo = F.floor(0.1 * n).cast("bigint")
    # decimal-domain sums: price has 2 decimals, so the cast is exact
    # and the running total is order-independent cross-engine
    vdec = F.col("v").cast("decimal(38,4)")
    core = F.sum(F.when((rn > lo) & (rn <= n - lo), vdec))
    v_lo = F.min(F.when(rn >= lo + 1, vdec))
    v_hi = F.min(F.when(rn >= n - lo, vdec))
    n_, lo_ = F.max(n), F.max(lo)
    return (
        ps.groupBy("g")
        .agg(
            n_.cast("bigint").alias("n"),
            F.round(core.cast("double") / (n_ - 2 * lo_), 4).alias(
                "trimmed_mean"
            ),
            F.round(
                (core + lo_ * v_lo + lo_ * v_hi).cast("double") / n_, 4
            ).alias("winsorized_mean"),
        )
        .select(F.col("g").alias("l_returnflag"), "n", "trimmed_mean",
                "winsorized_mean")
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# (moved from round8.py in the r14 chronological->topic split;
# registry names, semantics, and oracles unchanged)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# Theil–Sen robust trend (median of pairwise slopes)
# ---------------------------------------------------------------------------

_THEIL_SEN_SQL = """
WITH daily AS (
  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) - DATE '1970-01-01' AS di,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1
), slopes AS (
  SELECT CAST(b.n - a.n AS DOUBLE) / (b.di - a.di) AS slope
  FROM daily a JOIN daily b ON b.di > a.di
), m AS (
  SELECT median(slope) AS slope,
         (SELECT COUNT(*) FROM slopes) AS n_pairs,
         (SELECT COUNT(*) FROM daily) AS n_days
  FROM slopes
)
SELECT CAST(m.n_days AS BIGINT) AS n_days,
       CAST(m.n_pairs AS BIGINT) AS n_pairs,
       ROUND(m.slope, 6) AS slope_per_day,
       ROUND((SELECT median(d.n - m.slope * d.di) FROM daily d), 6)
         AS intercept
FROM m
"""


@query("stats_theil_sen_trend", oracle=_THEIL_SEN_SQL)
def stats_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend of daily event volume: the median of
    all pairwise slopes (n_j − n_i)/(day_j − day_i), with the
    matching median intercept — the robust-regression twin of
    agg_corr_regression's OLS line. Up to ~29% of days can be
    corrupted (outages, bot floods) before the estimator budges,
    which is exactly the property a volume-trend alert needs; OLS
    moves on the first bad day.

    Exactness: slopes are identical IEEE double divisions on both
    sides; both engines define median as the continuous 0.5-quantile
    (average of the two middle values for even counts) over the
    identical multiset — Spark `percentile(col, 0.5)` ↔ DuckDB
    `median` — so even the medians agree bit-for-bit; rounding only
    at the output.

    Scale: the all-pairs slope set is DAY-COUNT-bounded (n days →
    n²/2 pairs; ~500 k pairs for three years — trivially parallel
    after the one day-grain shuffle). For multi-decade grains,
    subsample pairs (the classic randomized Theil–Sen) — the
    estimator is the same median over a pair sample."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        (F.unix_date(F.to_date(F.date_trunc("day", "ts")))).alias("di")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    a, b = daily.alias("a"), daily.alias("b")
    slopes = a.join(b, F.col("b.di") > F.col("a.di")).select(
        (
            (F.col("b.n") - F.col("a.n")).cast("double")
            / (F.col("b.di") - F.col("a.di"))
        ).alias("slope")
    )
    m = slopes.agg(
        F.expr("percentile(slope, 0.5)").alias("slope"),
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
    )
    nd = daily.agg(F.count(F.lit(1)).cast("bigint").alias("n_days"))
    resid = (
        daily.crossJoin(F.broadcast(m))
        .select((F.col("n") - F.col("slope") * F.col("di")).alias("r"))
        .agg(F.expr("percentile(r, 0.5)").alias("intercept"))
    )
    return (
        nd.crossJoin(F.broadcast(m))
        .crossJoin(F.broadcast(resid))
        .select(
            "n_days",
            "n_pairs",
            F.round("slope", 6).alias("slope_per_day"),
            F.round("intercept", 6).alias("intercept"),
        )
    )


# ---------------------------------------------------------------------------
# Exact weighted median per group (distributed prefix-sum consumer)
# ---------------------------------------------------------------------------

def _qty_weighted_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem (l_returnflag, l_extendedprice, ...) with the inclusive
    running quantity _cw within each flag under the total order
    (price, orderkey, linenumber) and the flag total _tw. Integral
    quantities keep both order-independent BIGINTs, so every weighted
    quantile is an exact integer threshold on them."""
    from ibd_pipeline_spark.operators.ranking import with_grouped_prefix_sum

    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_extendedprice",
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("bigint").alias("w"),
    )
    return with_grouped_prefix_sum(
        li,
        ["l_returnflag"],
        ["l_extendedprice", "l_orderkey", "l_linenumber"],
        "w",
    )


# The oracle twin of _qty_weighted_prefix: `r`, with cw and tw.
_QTY_PREFIX_SQL = """
WITH r AS (
  SELECT l_returnflag,
         l_extendedprice,
         SUM(CAST(l_quantity AS BIGINT)) OVER (
           PARTITION BY l_returnflag
           ORDER BY l_extendedprice, l_orderkey, l_linenumber
           ROWS UNBOUNDED PRECEDING) AS cw,
         SUM(CAST(l_quantity AS BIGINT)) OVER (
           PARTITION BY l_returnflag) AS tw
  FROM lineitem
)"""


_WMEDIAN_SQL = _QTY_PREFIX_SQL + """
SELECT l_returnflag,
       CAST(MAX(tw) AS BIGINT) AS total_qty,
       ROUND(MIN(CASE WHEN 2 * cw >= tw THEN l_extendedprice END), 2)
         AS weighted_median
FROM r GROUP BY l_returnflag ORDER BY l_returnflag
"""


@query("stats_weighted_median", oracle=_WMEDIAN_SQL)
def stats_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact weighted median of extended price per return flag,
    weighted by quantity — 'the price a median UNIT ships at', which
    differs from the row median whenever quantity correlates with
    price (percentile() can't weight; approx sketches can't be
    exact). Definition: the smallest value whose inclusive cumulative
    weight reaches half the group total (lower weighted median,
    2·cw ≥ tw kept in INTEGER space — quantities are integral, so
    both the running and total sums are order-independent BIGINTs
    and the oracle is exact).

    Scale: the cumulative weight comes from
    operators/ranking.py:with_grouped_prefix_sum — the distributed
    SCAN: one range exchange on (flag, price, tiebreak) with
    oversized groups split across tasks, a mapInPandas running sum
    with per-group carry (narrow, no second exchange), and a
    P×groups offset broadcast — NEVER the single-task-per-group
    `SUM OVER (PARTITION BY flag ORDER BY …)` the oracle uses, which
    at 100 TB would put each flag's entire history on one task. The
    argmin over qualifying rows is an ordinary aggregate."""
    ps = _qty_weighted_prefix(spark, sf_dir)
    return (
        ps.groupBy("l_returnflag")
        .agg(
            F.max("_tw").cast("bigint").alias("total_qty"),
            F.round(
                F.min(
                    F.when(
                        2 * F.col("_cw") >= F.col("_tw"),
                        F.col("l_extendedprice"),
                    )
                ),
                2,
            ).alias("weighted_median"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# Weighted quartiles per group (prefix-sum consumer, 3 thresholds)
# ---------------------------------------------------------------------------

_WQUART_SQL = _QTY_PREFIX_SQL + """
SELECT l_returnflag,
       ROUND(MIN(CASE WHEN 4 * cw >= tw THEN l_extendedprice END), 2) AS w_p25,
       ROUND(MIN(CASE WHEN 2 * cw >= tw THEN l_extendedprice END), 2) AS w_p50,
       ROUND(MIN(CASE WHEN 4 * cw >= 3 * tw THEN l_extendedprice END), 2)
         AS w_p75,
       ROUND(MIN(CASE WHEN 4 * cw >= 3 * tw THEN l_extendedprice END)
             - MIN(CASE WHEN 4 * cw >= tw THEN l_extendedprice END), 2)
         AS w_iqr
FROM r GROUP BY l_returnflag ORDER BY l_returnflag
"""


@query("stats_weighted_quartiles", oracle=_WQUART_SQL)
def stats_weighted_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted quartiles (p25/p50/p75 + IQR) of extended price per
    return flag, quantity-weighted — the five-number-summary
    extension of stats_weighted_median, and the point of the
    prefix-sum design: ONE distributed scan yields EVERY quantile as
    a row-local integer threshold (4·cw ≥ tw, 2·cw ≥ tw,
    4·cw ≥ 3·tw), where a percentile-function approach pays one pass
    per quantile and can't weight at all.

    Same exactness story as the median: integral quantities keep the
    running and total weights order-independent BIGINTs, so every
    threshold comparison is exact cross-engine.

    Scale: identical plan to stats_weighted_median (range exchange +
    Arrow running sum + offset broadcast from
    operators/ranking.py:with_grouped_prefix_sum) — adding quantiles
    adds conditional aggregates, not passes."""
    ps = _qty_weighted_prefix(spark, sf_dir)
    price = F.col("l_extendedprice")
    q25 = F.min(F.when(4 * F.col("_cw") >= F.col("_tw"), price))
    q50 = F.min(F.when(2 * F.col("_cw") >= F.col("_tw"), price))
    q75 = F.min(F.when(4 * F.col("_cw") >= 3 * F.col("_tw"), price))
    return (
        ps.groupBy("l_returnflag")
        .agg(
            F.round(q25, 2).alias("w_p25"),
            F.round(q50, 2).alias("w_p50"),
            F.round(q75, 2).alias("w_p75"),
            F.round(q75 - q25, 2).alias("w_iqr"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# (moved from round9.py in the r14 chronological->topic split;
# registry names, semantics, and oracles unchanged)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# Poisson bootstrap confidence interval (deterministic resampling)
# ---------------------------------------------------------------------------

# Inverse-CDF thresholds of Poisson(1) scaled to u ∈ [0, 1e6): a row
# enters resample b with multiplicity k when u lands in bin k. Exact
# integers, so both engines draw IDENTICAL resamples.
_POIS = (367879, 735758, 919698, 981011, 996340)

_BOOT_B = 100

_BOOT_SQL = f"""
WITH draws AS (
  SELECT o.o_totalprice AS x, t.b,
         CAST(('0x' || substring(md5(CAST(t.b AS VARCHAR) || ':'
                || CAST(o.o_orderkey AS VARCHAR)), 1, 8)) AS BIGINT)
           % 1000000 AS u
  FROM orders o, UNNEST(range(0, {_BOOT_B})) t(b)
), mult AS (
  SELECT b, x,
         CASE WHEN u < {_POIS[0]} THEN 0
              WHEN u < {_POIS[1]} THEN 1
              WHEN u < {_POIS[2]} THEN 2
              WHEN u < {_POIS[3]} THEN 3
              WHEN u < {_POIS[4]} THEN 4
              ELSE 5 END AS m
  FROM draws
), means AS (
  SELECT b,
         CAST(ROUND(SUM(CAST(m * x AS DECIMAL(28,8))), 4) AS DOUBLE)
           / SUM(m) AS mb
  FROM mult GROUP BY b HAVING SUM(m) > 0
), pt AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
         CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(28,8))), 4) AS DOUBLE)
           / COUNT(o_totalprice) AS point_mean
  FROM orders
)
SELECT pt.n_rows,
       CAST((SELECT COUNT(*) FROM means) AS BIGINT) AS b_resamples,
       pt.point_mean AS point_mean,
       ROUND((SELECT quantile_cont(mb, 0.025) FROM means), 4) AS ci_lo,
       ROUND((SELECT quantile_cont(mb, 0.975) FROM means), 4) AS ci_hi,
       ROUND((SELECT SQRT((CAST(SUM(CAST(mb * mb AS DECIMAL(28,8))) AS DOUBLE)
                  - CAST(SUM(CAST(mb AS DECIMAL(28,8))) AS DOUBLE)
                    * CAST(SUM(CAST(mb AS DECIMAL(28,8))) AS DOUBLE)
                    / COUNT(*))
                 / (COUNT(*) - 1)) FROM means), 6) AS boot_se
FROM pt
"""


@query("stats_bootstrap_ci", oracle=_BOOT_SQL)
def stats_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap confidence interval for the mean order value
    — the resampling CI that actually distributes: classical
    bootstrap resamples n-with-replacement (impossible to coordinate
    across partitions); the Poisson(1) approximation gives every row
    an INDEPENDENT multiplicity per resample, so the whole B-resample
    ensemble is one explode + one hash aggregate (Chamandy et al.,
    'Estimating Uncertainty for Massive Data Streams', Google 2012).

    Fully deterministic & oracle-replayable: multiplicities come from
    md5(b:orderkey) mod 10⁶ against exact integer Poisson inverse-CDF
    thresholds (both engines draw identical resamples), per-resample
    means use the davg decimal contract, the CI is an exact
    interpolated percentile over the B-row mean frame, and the
    bootstrap SE runs on decimal-cast moments.

    Scale: B× row multiplication feeds straight into a map-side
    combined aggregate keyed by resample id — shuffle is B rows of
    partials per partition, never B× data; B caps the memory of
    nothing (no per-resample state beyond one sum/count). The input
    is repartitioned BEFORE the explode: a compact parquet of orders
    arrives in a handful of splits, and without the fan-out the
    B×n md5 draws serialize onto those few cores (SCALE.md r4
    lesson #5; measured 30 s → ~3 s at sf0.1 on local[32])."""
    o = (
        load(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .repartition(spark.sparkContext.defaultParallelism)
    )
    B = _BOOT_B
    draws = o.select(
        F.col("o_totalprice").alias("x"),
        F.col("o_orderkey"),
        F.explode(F.sequence(F.lit(0), F.lit(B - 1))).alias("b"),
    ).select(
        "x",
        "b",
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("b").cast("string"),
                            F.lit(":"),
                            F.col("o_orderkey").cast("string"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("bigint")
            % 1000000
        ).alias("u"),
    )
    m = (
        F.when(F.col("u") < _POIS[0], 0)
        .when(F.col("u") < _POIS[1], 1)
        .when(F.col("u") < _POIS[2], 2)
        .when(F.col("u") < _POIS[3], 3)
        .when(F.col("u") < _POIS[4], 4)
        .otherwise(5)
    )
    means = (
        draws.select("b", m.alias("m"), "x")
        .groupBy("b")
        .agg(
            F.sum((F.col("m") * F.col("x")).cast("decimal(28,8)")).alias(
                "sx"
            ),
            F.sum("m").alias("sm"),
        )
        .filter(F.col("sm") > 0)
        .select(
            (
                F.round(F.col("sx"), 4).cast("double") / F.col("sm")
            ).alias("mb")
        )
    )
    pt = o.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        (
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(28,8)")), 4
            ).cast("double")
            / F.count("o_totalprice")
        ).alias("point_mean"),
    )
    stats = means.agg(
        F.count(F.lit(1)).cast("bigint").alias("b_resamples"),
        F.round(F.expr("percentile(mb, 0.025)"), 4).alias("ci_lo"),
        F.round(F.expr("percentile(mb, 0.975)"), 4).alias("ci_hi"),
        F.round(
            F.sqrt(
                (
                    F.sum((F.col("mb") * F.col("mb")).cast("decimal(28,8)"))
                    .cast("double")
                    - F.sum(F.col("mb").cast("decimal(28,8)")).cast("double")
                    * F.sum(F.col("mb").cast("decimal(28,8)")).cast("double")
                    / F.count(F.lit(1))
                )
                / (F.count(F.lit(1)) - 1)
            ),
            6,
        ).alias("boot_se"),
    )
    return pt.crossJoin(F.broadcast(stats)).select(
        "n_rows", "b_resamples", "point_mean", "ci_lo", "ci_hi", "boot_se"
    )
