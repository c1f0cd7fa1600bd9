"""2×2 / stratified experimentation effect measures (round-12 split):
Woolf odds-ratio interval, McNemar paired flips, Mantel–Haenszel/CMH.
Split out of the former round12.py; names/semantics unchanged.
No reference analog (`spark_processor.py:153-164`); SURVEY §2.2 rows.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ibd_pipeline_spark.catalog import load
from ibd_pipeline_spark.normal_tail import _phi_tail_col, _phi_tail_sql
from ibd_pipeline_spark.queries import query


def _assigned_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, arm, converted): the md5 hash split into arms 0 and 1
    and the conversion rule (any purchase of value > 80) that the
    two-arm proportion tests share."""
    from ibd_pipeline_spark.operators.sketches import md5_bucket

    ev = load(spark, sf_dir, "events")
    return ev.groupBy(
        "user_id", md5_bucket(F.col("user_id"), 11, 2).alias("arm")
    ).agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") > 80), 1
            ).otherwise(0)
        ).alias("converted")
    )

# ---------------------------------------------------------------------------
# 2×2 odds ratio with the Woolf log-interval (md5 arm × converted)
# ---------------------------------------------------------------------------

_OR_SQL = f"""
WITH u AS (
  SELECT user_id,
         CAST(('0x' || substring(md5('or12:' || CAST(user_id AS VARCHAR)),
                                 1, 8)) AS BIGINT) % 2 AS arm,
         CAST(MAX(CASE WHEN event_type = 'purchase' AND value > 200
                  THEN 1 ELSE 0 END) AS BIGINT) AS conv
  FROM events GROUP BY user_id
), c AS (
  SELECT
    CAST(SUM(CASE WHEN arm = 0 AND conv = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a,
    CAST(SUM(CASE WHEN arm = 0 AND conv = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
    CAST(SUM(CASE WHEN arm = 1 AND conv = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c,
    CAST(SUM(CASE WHEN arm = 1 AND conv = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d
  FROM u
), orr AS (
  SELECT a, b, c, d,
         ln((CAST(a AS DOUBLE) * d) / (CAST(b AS DOUBLE) * c)) AS lor,
         sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / d) AS se
  FROM c
)
SELECT a, b, c, d,
       ROUND(exp(lor), 6) AS odds_ratio,
       ROUND(exp(lor - 1.959963984540054 * se), 6) AS ci_low,
       ROUND(exp(lor + 1.959963984540054 * se), 6) AS ci_high,
       ROUND(2.0 * {_phi_tail_sql('ABS(lor / se)')}, 8) AS p_value
FROM orr
"""


@query("ab_odds_ratio_woolf", oracle=_OR_SQL)
def ab_odds_ratio_woolf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unit-level 2×2 odds ratio between the md5 experiment arms on
    user conversion (any high-value purchase, value > 200 — "any
    purchase" is degenerate on this corpus: every user has one), with the Woolf logit
    interval exp(lnOR ± z·√(1/a+1/b+1/c+1/d)) and its two-sided
    normal p. The effect measure case-control convention reports —
    and on an A/A hash split the expected readout is OR ≈ 1 with the
    CI straddling it, making this double as a split-health audit
    beside ab_srm_check.

    Exactness: the 2×2 cells are exact integer counts off the
    engine-portable md5 split (seed 'or12'); everything after is one
    chain of identical double algebra (ln, sqrt, exp) rounded at the
    end — no sums of doubles anywhere.

    Scale: one user-key shuffle (the conversion reduce), then a
    4-integer readout."""
    from ibd_pipeline_spark.operators.sketches import md5_bucket

    ev = load(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("value") > 200),
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("conv")
    ).select(
        md5_bucket(F.col("user_id"), F.lit("or12"), 2).alias("arm"), "conv"
    )
    c = u.agg(
        *[
            F.sum(
                F.when((F.col("arm") == arm) & (F.col("conv") == cv), 1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias(name)
            for name, arm, cv in (
                ("a", 0, 1),
                ("b", 0, 0),
                ("c", 1, 1),
                ("d", 1, 0),
            )
        ]
    )
    lor = F.log(
        (F.col("a").cast("double") * F.col("d"))
        / (F.col("b").cast("double") * F.col("c"))
    )
    se = F.sqrt(
        1.0 / F.col("a") + 1.0 / F.col("b") + 1.0 / F.col("c") + 1.0 / F.col("d")
    )
    z975 = 1.959963984540054
    return c.select(
        "a",
        "b",
        "c",
        "d",
        F.round(F.exp(lor), 6).alias("odds_ratio"),
        F.round(F.exp(lor - z975 * se), 6).alias("ci_low"),
        F.round(F.exp(lor + z975 * se), 6).alias("ci_high"),
        F.round(2.0 * _phi_tail_col(F.abs(lor / se)), 8).alias("p_value"),
    )


# ---------------------------------------------------------------------------
# McNemar's paired test (conversion flip between window halves)
# ---------------------------------------------------------------------------

_MCNEMAR_SQL = f"""
WITH bnd AS (
  SELECT (epoch_us(MIN(CAST(ts AS TIMESTAMP)))
          + epoch_us(MAX(CAST(ts AS TIMESTAMP)))) // 2 AS mid
  FROM events
), u AS (
  SELECT user_id,
    MAX(CASE WHEN event_type = 'purchase' AND value > 200
             AND epoch_us(CAST(ts AS TIMESTAMP)) < mid
             THEN 1 ELSE 0 END) AS c1,
    MAX(CASE WHEN event_type = 'purchase' AND value > 200
             AND epoch_us(CAST(ts AS TIMESTAMP)) >= mid
             THEN 1 ELSE 0 END) AS c2
  FROM events CROSS JOIN bnd GROUP BY user_id
), cells AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
         CAST(SUM(CASE WHEN c1 = 1 AND c2 = 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS b,
         CAST(SUM(CASE WHEN c1 = 0 AND c2 = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS c
  FROM u
), s AS (
  SELECT n_pairs, b, c,
         (ABS(CAST(b AS DOUBLE) - c) - 1.0)
           * (ABS(CAST(b AS DOUBLE) - c) - 1.0) / (b + c) AS chi2_cc
  FROM cells
)
SELECT n_pairs, b, c, ROUND(chi2_cc, 6) AS chi2_cc,
       ROUND(LEAST(1.0, 2.0 * {_phi_tail_sql('sqrt(chi2_cc)')}), 8)
         AS p_value
FROM s
"""


@query("ab_mcnemar_paired", oracle=_MCNEMAR_SQL)
def ab_mcnemar_paired(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test on PAIRED binary outcomes: per user, did the
    high-value-purchase flag flip between the first and second half
    of the observation window? Only the discordant cells matter
    (b = early-only, c = late-only); χ² = (|b−c|−1)²/(b+c) with
    continuity correction, p from the exact χ²(1) ↔ normal identity
    P(χ²₁ > x) = 2·Φ̄(√x). The within-subject before/after test a
    two-sample z-test gets WRONG (it ignores the pairing).

    Exactness: the midpoint is integer-µs floor-division arithmetic
    on min/max event times (bigint — both engines identical); cells
    are exact integer counts; one double chain after.

    Scale: one user-key shuffle (the per-user flag reduce) after a
    1-row broadcast of the midpoint; the test runs on 3 integers."""
    ev = load(spark, sf_dir, "events")
    bnd = ev.agg(
        F.expr(
            "(unix_micros(MIN(ts)) + unix_micros(MAX(ts))) DIV 2"
        ).alias("mid")
    )
    hv = (F.col("event_type") == "purchase") & (F.col("value") > 200)
    u = (
        ev.crossJoin(F.broadcast(bnd))
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(hv & (F.expr("unix_micros(ts)") < F.col("mid")), 1)
                .otherwise(0)
            ).alias("c1"),
            F.max(
                F.when(hv & (F.expr("unix_micros(ts)") >= F.col("mid")), 1)
                .otherwise(0)
            ).alias("c2"),
        )
    )
    cells = u.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum(F.when((F.col("c1") == 1) & (F.col("c2") == 0), 1).otherwise(0))
        .cast("bigint")
        .alias("b"),
        F.sum(F.when((F.col("c1") == 0) & (F.col("c2") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("c"),
    )
    ad = F.abs(F.col("b").cast("double") - F.col("c"))
    chi2 = (ad - 1.0) * (ad - 1.0) / (F.col("b") + F.col("c"))
    return cells.select(
        "n_pairs",
        "b",
        "c",
        F.round(chi2, 6).alias("chi2_cc"),
        F.round(
            F.least(F.lit(1.0), 2.0 * _phi_tail_col(F.sqrt(chi2))), 8
        ).alias("p_value"),
    )


# ---------------------------------------------------------------------------
# Mantel–Haenszel stratified odds ratio + CMH test (strata = ISO dow)
# ---------------------------------------------------------------------------

_MH_SQL = f"""
WITH e AS (
  SELECT ISODOW(CAST(ts AS TIMESTAMP)) AS stratum,
         CAST(('0x' || substring(md5('mh12:' || CAST(user_id AS VARCHAR)),
                                 1, 8)) AS BIGINT) % 2 AS arm,
         CASE WHEN event_type = 'purchase' AND value > 200
              THEN 1 ELSE 0 END AS succ
  FROM events
), cells AS (
  SELECT stratum,
    CAST(SUM(CASE WHEN arm = 0 AND succ = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a,
    CAST(SUM(CASE WHEN arm = 0 AND succ = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
    CAST(SUM(CASE WHEN arm = 1 AND succ = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c,
    CAST(SUM(CASE WHEN arm = 1 AND succ = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d
  FROM e GROUP BY stratum
), t AS (
  SELECT CAST(a + b + c + d AS BIGINT) AS n, a, b, c, d,
    CAST(CAST(a AS DOUBLE) * d / (a + b + c + d) AS DECIMAL(28,10)) AS rr,
    CAST(CAST(b AS DOUBLE) * c / (a + b + c + d) AS DECIMAL(28,10)) AS ss,
    CAST(CAST(a AS DOUBLE) AS DECIMAL(28,10)) AS ai,
    CAST(CAST(a + b AS DOUBLE) * (a + c) / (a + b + c + d)
         AS DECIMAL(28,10)) AS ei,
    CAST(CAST(a + b AS DOUBLE) * (c + d) * (a + c) * (b + d)
         / (CAST(a + b + c + d AS DOUBLE) * (a + b + c + d)
            * (a + b + c + d - 1)) AS DECIMAL(28,10)) AS vi
  FROM cells
), agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
         CAST(SUM(n) AS BIGINT) AS n_total,
         CAST(ROUND(SUM(rr), 6) AS DOUBLE) AS num,
         CAST(ROUND(SUM(ss), 6) AS DOUBLE) AS den,
         CAST(ROUND(SUM(ai), 6) AS DOUBLE) AS sa,
         CAST(ROUND(SUM(ei), 6) AS DOUBLE) AS se,
         CAST(ROUND(SUM(vi), 6) AS DOUBLE) AS sv
  FROM t
), s AS (
  SELECT n_strata, n_total, num / den AS or_mh,
         (ABS(sa - se) - 0.5) * (ABS(sa - se) - 0.5) / sv AS cmh_chi2
  FROM agg
)
SELECT n_strata, n_total,
       ROUND(or_mh, 6) AS or_mh,
       ROUND(cmh_chi2, 6) AS cmh_chi2,
       ROUND(LEAST(1.0, 2.0 * {_phi_tail_sql('sqrt(cmh_chi2)')}), 8)
         AS p_value
FROM s
"""


@query("ab_mantel_haenszel", oracle=_MH_SQL)
def ab_mantel_haenszel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mantel–Haenszel stratified 2×2 analysis across ISO-dow strata:
    the pooled odds ratio OR_MH = Σ(aᵢdᵢ/nᵢ)/Σ(bᵢcᵢ/nᵢ) and the
    continuity-corrected Cochran–Mantel–Haenszel χ²(1). THE fix for
    Simpson's paradox in experiment readouts — a day-of-week mix
    shift can reverse a crude 2×2 (ab_odds_ratio_woolf); MH pools
    the per-stratum evidence instead. On an A/A md5 split the
    expected readout is OR_MH ≈ 1, quiet p.

    Exactness: per-stratum cells are exact integers; each stratum's
    MH numerator/denominator and CMH E/V terms are decimal-quantized
    doubles so the 7-term sums are order-independent; χ²(1) p via
    the exact identity 2·Φ̄(√x).

    Scale: one (stratum × arm × succ) count shuffle (28 keys), then
    7-row algebra."""
    from ibd_pipeline_spark.operators.sketches import md5_bucket

    ev = load(spark, sf_dir, "events")
    e = ev.select(
        (F.weekday("ts") + F.lit(1)).alias("stratum"),
        md5_bucket(F.col("user_id"), F.lit("mh12"), 2).alias("arm"),
        F.when(
            (F.col("event_type") == "purchase") & (F.col("value") > 200), 1
        )
        .otherwise(0)
        .alias("succ"),
    )
    cells = e.groupBy("stratum").agg(
        *[
            F.sum(
                F.when((F.col("arm") == arm) & (F.col("succ") == sc), 1)
                .otherwise(0)
            )
            .cast("bigint")
            .alias(nm)
            for nm, arm, sc in (
                ("a", 0, 1),
                ("b", 0, 0),
                ("c", 1, 1),
                ("d", 1, 0),
            )
        ]
    )
    n = (F.col("a") + F.col("b") + F.col("c") + F.col("d")).cast("bigint")
    nd = n.cast("double")
    t = cells.select(
        n.alias("n"),
        (F.col("a").cast("double") * F.col("d") / n).cast(
            "decimal(28,10)"
        ).alias("rr"),
        (F.col("b").cast("double") * F.col("c") / n).cast(
            "decimal(28,10)"
        ).alias("ss"),
        F.col("a").cast("double").cast("decimal(28,10)").alias("ai"),
        (
            (F.col("a") + F.col("b")).cast("double")
            * (F.col("a") + F.col("c"))
            / n
        ).cast("decimal(28,10)").alias("ei"),
        (
            (F.col("a") + F.col("b")).cast("double")
            * (F.col("c") + F.col("d"))
            * (F.col("a") + F.col("c"))
            * (F.col("b") + F.col("d"))
            / (nd * n * (n - 1))
        ).cast("decimal(28,10)").alias("vi"),
    )
    agg = t.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_strata"),
        F.sum("n").cast("bigint").alias("n_total"),
        F.round(F.sum("rr"), 6).cast("double").alias("num"),
        F.round(F.sum("ss"), 6).cast("double").alias("den"),
        F.round(F.sum("ai"), 6).cast("double").alias("sa"),
        F.round(F.sum("ei"), 6).cast("double").alias("se"),
        F.round(F.sum("vi"), 6).cast("double").alias("sv"),
    )
    chi2 = (
        (F.abs(F.col("sa") - F.col("se")) - 0.5)
        * (F.abs(F.col("sa") - F.col("se")) - 0.5)
        / F.col("sv")
    )
    return agg.select(
        "n_strata",
        "n_total",
        F.round(F.col("num") / F.col("den"), 6).alias("or_mh"),
        F.round(chi2, 6).alias("cmh_chi2"),
        F.round(
            F.least(F.lit(1.0), 2.0 * _phi_tail_col(F.sqrt(chi2))), 8
        ).alias("p_value"),
    )


# ---------------------------------------------------------------------------
# Difference-in-differences between md5 arms across window halves (r13)
# ---------------------------------------------------------------------------

_DID_SQL = f"""
WITH bnd AS (
  SELECT (epoch_us(MIN(CAST(ts AS TIMESTAMP)))
          + epoch_us(MAX(CAST(ts AS TIMESTAMP)))) // 2 AS mid
  FROM events
), u AS (
  SELECT user_id,
         CAST(('0x' || substring(md5('did13:' || CAST(user_id AS VARCHAR)),
                                 1, 8)) AS BIGINT) % 2 AS arm,
    CAST(ROUND(SUM(CASE WHEN epoch_us(CAST(ts AS TIMESTAMP)) < mid
             THEN CAST(value AS DECIMAL(28,8))
             ELSE CAST(0 AS DECIMAL(28,8)) END), 4) AS DECIMAL(28,4)) AS y0,
    CAST(ROUND(SUM(CASE WHEN epoch_us(CAST(ts AS TIMESTAMP)) >= mid
             THEN CAST(value AS DECIMAL(28,8))
             ELSE CAST(0 AS DECIMAL(28,8)) END), 4) AS DECIMAL(28,4)) AS y1
  FROM events CROSS JOIN bnd GROUP BY user_id
), cell AS (
  SELECT arm, half, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(y) AS DOUBLE) AS s1,
         CAST(SUM(CAST(y AS DECIMAL(38,8)) * y) AS DOUBLE) AS s2
  FROM (SELECT arm, 0 AS half, y0 AS y FROM u
        UNION ALL SELECT arm, 1, y1 FROM u)
  GROUP BY arm, half
), st AS (
  SELECT arm, half, n, s1 / n AS mu,
         (s2 - s1 * s1 / n) / (n - 1) / n AS var_mean
  FROM cell
), w AS (
  SELECT
    MAX(CASE WHEN arm = 1 AND half = 1 THEN mu END) AS t1,
    MAX(CASE WHEN arm = 1 AND half = 0 THEN mu END) AS t0,
    MAX(CASE WHEN arm = 0 AND half = 1 THEN mu END) AS c1,
    MAX(CASE WHEN arm = 0 AND half = 0 THEN mu END) AS c0,
    SUM(var_mean) AS v,
    CAST(SUM(CASE WHEN half = 0 THEN n ELSE 0 END) AS BIGINT) AS n_users
  FROM st
), s AS (
  SELECT n_users, (t1 - t0) - (c1 - c0) AS did, sqrt(v) AS se,
         ((t1 - t0) - (c1 - c0)) / sqrt(v) AS z
  FROM w
)
SELECT n_users,
       ROUND(did, 6) AS did_estimate,
       ROUND(se, 6) AS se,
       ROUND(z, 6) AS z_stat,
       ROUND(LEAST(1.0, 2.0 * {_phi_tail_sql('abs(z)')}), 8) AS p_value
FROM s
"""


@query("ab_diff_in_diff", oracle=_DID_SQL)
def ab_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences across the md5 arms and window
    halves: DiD = (ȳ_T,after − ȳ_T,before) − (ȳ_C,after − ȳ_C,before)
    on per-user total value — the quasi-experimental workhorse when
    the arms were NOT randomized at assignment time (the control
    trend nets out seasonality the plain after−before comparison
    eats). Naive four-cell SE (Σ var(ȳ)/n, cells independent) — the
    textbook form; a clustered SE is a modeling upgrade, not an
    engine feature. On an A/A md5 split the estimate is a null
    calibration check, like ab_odds_ratio_woolf.

    Exactness: per-(user, half) totals are exact decimals quantized
    at 4dp; cell raw moments Σy, Σy² stay in the decimal domain
    (y² at DECIMAL(38,8) is exact); mean/variance/z/p are one
    identical double chain.

    Scale: one groupBy(user) (map-side combined), a 4-row cell
    aggregate, one-row fold — nothing downstream of the first
    shuffle is data-sized."""
    from ibd_pipeline_spark.operators.sketches import md5_bucket

    ev = load(spark, sf_dir, "events")
    mid = ev.agg(
        F.expr("(unix_micros(MIN(ts)) + unix_micros(MAX(ts))) DIV 2").alias(
            "mid"
        )
    )
    zero = F.lit(0).cast("decimal(28,8)")
    u = (
        ev.crossJoin(F.broadcast(mid))
        .groupBy("user_id")
        .agg(
            F.round(
                F.sum(
                    F.when(
                        F.expr("unix_micros(ts)") < F.col("mid"),
                        F.col("value").cast("decimal(28,8)"),
                    ).otherwise(zero)
                ),
                4,
            )
            .cast("decimal(28,4)")
            .alias("y0"),
            F.round(
                F.sum(
                    F.when(
                        F.expr("unix_micros(ts)") >= F.col("mid"),
                        F.col("value").cast("decimal(28,8)"),
                    ).otherwise(zero)
                ),
                4,
            )
            .cast("decimal(28,4)")
            .alias("y1"),
        )
        .select(
            md5_bucket(F.col("user_id"), F.lit("did13"), 2).alias("arm"),
            "y0",
            "y1",
        )
    )
    long = u.select("arm", F.lit(0).alias("half"), F.col("y0").alias("y")).unionAll(
        u.select("arm", F.lit(1).alias("half"), F.col("y1").alias("y"))
    )
    cell = long.groupBy("arm", "half").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("double").alias("s1"),
        F.sum(F.col("y").cast("decimal(38,8)") * F.col("y"))
        .cast("double")
        .alias("s2"),
    )
    st = cell.select(
        "arm",
        "half",
        "n",
        (F.col("s1") / F.col("n")).alias("mu"),
        (
            (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n"))
            / (F.col("n") - 1)
            / F.col("n")
        ).alias("var_mean"),
    )
    w = st.agg(
        F.max(F.when((F.col("arm") == 1) & (F.col("half") == 1), F.col("mu"))).alias("t1"),
        F.max(F.when((F.col("arm") == 1) & (F.col("half") == 0), F.col("mu"))).alias("t0"),
        F.max(F.when((F.col("arm") == 0) & (F.col("half") == 1), F.col("mu"))).alias("c1"),
        F.max(F.when((F.col("arm") == 0) & (F.col("half") == 0), F.col("mu"))).alias("c0"),
        F.sum("var_mean").alias("v"),
        F.sum(F.when(F.col("half") == 0, F.col("n")).otherwise(F.lit(0)))
        .cast("bigint")
        .alias("n_users"),
    )
    did = (F.col("t1") - F.col("t0")) - (F.col("c1") - F.col("c0"))
    z = did / F.sqrt(F.col("v"))
    return w.select(
        "n_users",
        F.round(did, 6).alias("did_estimate"),
        F.round(F.sqrt(F.col("v")), 6).alias("se"),
        F.round(z, 6).alias("z_stat"),
        F.round(
            F.least(F.lit(1.0), 2.0 * _phi_tail_col(F.abs(z))), 8
        ).alias("p_value"),
    )


# ---------------------------------------------------------------------------
# (moved from round11c.py in the r14 chronological->topic split;
# registry names, semantics, and oracles unchanged)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# Post-stratification A/B effect estimator
# ---------------------------------------------------------------------------

_PS_SQL = """
WITH s AS (
  SELECT event_type AS g,
         CAST(('0x' || substring(md5('11:' || CAST(user_id AS VARCHAR)), 1, 8))
              AS BIGINT) % 2 AS arm,
         value AS y
  FROM events WHERE value IS NOT NULL
), cell AS (
  SELECT g,
         CAST(COUNT(*) FILTER (arm = 0) AS BIGINT) AS na,
         CAST(COUNT(*) FILTER (arm = 1) AS BIGINT) AS nb,
         SUM(CASE WHEN arm = 0 THEN CAST(y AS DECIMAL(28,8)) END) AS s1a,
         SUM(CASE WHEN arm = 1 THEN CAST(y AS DECIMAL(28,8)) END) AS s1b,
         SUM(CASE WHEN arm = 0 THEN CAST(y AS DECIMAL(28,8))
                                    * CAST(y AS DECIMAL(28,8)) END) AS s2a,
         SUM(CASE WHEN arm = 1 THEN CAST(y AS DECIMAL(28,8))
                                    * CAST(y AS DECIMAL(28,8)) END) AS s2b
  FROM s GROUP BY g
), nn AS (
  SELECT CAST(SUM(na) AS BIGINT) AS ta, CAST(SUM(nb) AS BIGINT) AS tb,
         SUM(s1a) AS t1a, SUM(s1b) AS t1b, SUM(s2a) AS t2a, SUM(s2b) AS t2b
  FROM cell
), terms AS (
  SELECT
    SUM(CAST(ROUND(
      (CAST(na + nb AS DOUBLE) / (ta + tb))
      * (CAST(s1a AS DOUBLE) / na - CAST(s1b AS DOUBLE) / nb), 12)
      AS DECIMAL(28,12))) AS delta_ps,
    SUM(CAST(ROUND(
      (CAST(na + nb AS DOUBLE) / (ta + tb))
      * (CAST(na + nb AS DOUBLE) / (ta + tb))
      * (((CAST(s2a AS DOUBLE) - CAST(s1a AS DOUBLE) * CAST(s1a AS DOUBLE)
             / na) / (na - 1)) / na
         + ((CAST(s2b AS DOUBLE) - CAST(s1b AS DOUBLE) * CAST(s1b AS DOUBLE)
             / nb) / (nb - 1)) / nb), 14)
      AS DECIMAL(28,14))) AS var_ps
  FROM cell CROSS JOIN nn
), raw AS (
  SELECT ta, tb,
         CAST(t1a AS DOUBLE) / ta - CAST(t1b AS DOUBLE) / tb AS delta_raw,
         ((CAST(t2a AS DOUBLE) - CAST(t1a AS DOUBLE) * CAST(t1a AS DOUBLE)
             / ta) / (ta - 1)) / ta
         + ((CAST(t2b AS DOUBLE) - CAST(t1b AS DOUBLE) * CAST(t1b AS DOUBLE)
             / tb) / (tb - 1)) / tb AS var_raw
  FROM nn
)
SELECT ta AS n_a, tb AS n_b,
       ROUND(delta_raw, 6) AS delta_raw,
       ROUND(sqrt(var_raw), 8) AS se_raw,
       ROUND(CAST(delta_ps AS DOUBLE), 6) AS delta_ps,
       ROUND(sqrt(CAST(var_ps AS DOUBLE)), 8) AS se_ps,
       ROUND(100.0 * (1.0 - CAST(var_ps AS DOUBLE) / var_raw), 2)
         AS var_reduction_pct
FROM raw CROSS JOIN terms
"""


@query("ab_post_stratification", oracle=_PS_SQL)
def ab_post_stratification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-stratified A/B effect estimate (Miratrix et al. 2013) —
    the variance-reduction you get for FREE after randomization, no
    pre-period data required (CUPED's sibling: CUPED needs a
    covariate; post-stratification only needs a categorical
    stratum): Δ_ps = Σ_s w_s(ȳ_sa − ȳ_sb) with pooled stratum
    weights w_s = n_s/N and Var = Σ_s w_s²(s²_sa/n_sa + s²_sb/n_sb),
    vs the raw difference-in-means. Arms are the md5('11:'|user)
    hash split shared with ab_msprt_always_valid; strata are the
    five event types. The emitted var_reduction_pct IS the payoff
    readout — how much narrower the CI got for one GROUP BY.

    Exactness: per-(stratum, arm) moments are exact decimal/integer
    sums (map-side combined); each stratum's Δ and variance term
    rounds to decimal before the k-term fold; the raw estimator runs
    on the decimal-sum totals — double algebra only at output.

    Scale: ONE (stratum, arm)-key aggregate over the fact table (10
    cells); everything after is cell-frame algebra."""
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    arm = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.lit("11"), F.col("user_id"))), 1, 8
            ),
            16,
            10,
        ).cast("bigint")
        % 2
    )
    s = ev.select(
        F.col("event_type").alias("g"),
        arm.alias("arm"),
        F.col("value").alias("y"),
    )
    yd = F.col("y").cast("decimal(28,8)")
    cell = s.groupBy("g").agg(
        F.count(F.when(F.col("arm") == 0, 1)).cast("bigint").alias("na"),
        F.count(F.when(F.col("arm") == 1, 1)).cast("bigint").alias("nb"),
        F.sum(F.when(F.col("arm") == 0, yd)).alias("s1a"),
        F.sum(F.when(F.col("arm") == 1, yd)).alias("s1b"),
        F.sum(F.when(F.col("arm") == 0, yd * yd)).alias("s2a"),
        F.sum(F.when(F.col("arm") == 1, yd * yd)).alias("s2b"),
    )
    nn = cell.agg(
        F.sum("na").cast("bigint").alias("ta"),
        F.sum("nb").cast("bigint").alias("tb"),
        F.sum("s1a").alias("t1a"),
        F.sum("s1b").alias("t1b"),
        F.sum("s2a").alias("t2a"),
        F.sum("s2b").alias("t2b"),
    )
    j = cell.crossJoin(F.broadcast(nn))
    w = (F.col("na") + F.col("nb")).cast("double") / (
        F.col("ta") + F.col("tb")
    )
    ma = F.col("s1a").cast("double") / F.col("na")
    mb = F.col("s1b").cast("double") / F.col("nb")
    va = (
        F.col("s2a").cast("double")
        - F.col("s1a").cast("double") * F.col("s1a").cast("double") / F.col("na")
    ) / (F.col("na") - 1)
    vb = (
        F.col("s2b").cast("double")
        - F.col("s1b").cast("double") * F.col("s1b").cast("double") / F.col("nb")
    ) / (F.col("nb") - 1)
    terms = j.select(
        F.round(w * (ma - mb), 12).cast("decimal(28,12)").alias("dt"),
        F.round(w * w * (va / F.col("na") + vb / F.col("nb")), 14)
        .cast("decimal(28,14)")
        .alias("vt"),
    ).agg(F.sum("dt").alias("delta_ps"), F.sum("vt").alias("var_ps"))
    tma = F.col("t1a").cast("double") / F.col("ta")
    tmb = F.col("t1b").cast("double") / F.col("tb")
    tva = (
        F.col("t2a").cast("double")
        - F.col("t1a").cast("double") * F.col("t1a").cast("double") / F.col("ta")
    ) / (F.col("ta") - 1)
    tvb = (
        F.col("t2b").cast("double")
        - F.col("t1b").cast("double") * F.col("t1b").cast("double") / F.col("tb")
    ) / (F.col("tb") - 1)
    raw = nn.select(
        F.col("ta").alias("n_a"),
        F.col("tb").alias("n_b"),
        (tma - tmb).alias("delta_raw"),
        (tva / F.col("ta") + tvb / F.col("tb")).alias("var_raw"),
    )
    return raw.crossJoin(F.broadcast(terms)).select(
        "n_a",
        "n_b",
        F.round("delta_raw", 6).alias("delta_raw"),
        F.round(F.sqrt("var_raw"), 8).alias("se_raw"),
        F.round(F.col("delta_ps").cast("double"), 6).alias("delta_ps"),
        F.round(F.sqrt(F.col("var_ps").cast("double")), 8).alias("se_ps"),
        F.round(
            100.0
            * (F.lit(1.0) - F.col("var_ps").cast("double") / F.col("var_raw")),
            2,
        ).alias("var_reduction_pct"),
    )


# ---------------------------------------------------------------------------
# (moved from round10_stats.py in the r14 chronological->topic split;
# registry names, semantics, and oracles unchanged)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# Sample-ratio-mismatch audit
# ---------------------------------------------------------------------------

_SRM_SQL = """
WITH cust AS (
  SELECT DISTINCT o_custkey FROM orders
), arms AS (
  SELECT CAST(('0x' || substring(md5('srm:' || CAST(o_custkey AS VARCHAR)),
                                 1, 8)) AS BIGINT) % 2 AS arm
  FROM cust
), c AS (
  SELECT CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
  FROM arms
)
SELECT n_a, n_b,
       ROUND(CAST((n_a - n_b) AS DOUBLE) * (n_a - n_b) / (n_a + n_b), 6)
         AS chi2,
       (CAST((n_a - n_b) AS DOUBLE) * (n_a - n_b) / (n_a + n_b)) > 3.841
         AS srm_alarm
FROM c
"""


@query("ab_srm_check", oracle=_SRM_SQL)
def ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch audit — the experimentation guardrail
    that catches broken randomization before any metric is read:
    units (customers) hash-split 50/50 by the engine-portable md5
    bucket, arm counts compared by the 1-df chi-square
    (n_a−n_b)²/(n_a+n_b) against the 0.05 critical value 3.841.
    Counts are exact integers; the statistic is one double division —
    both engines replay the split AND the verdict bit-for-bit.

    Scale: distinct-unit aggregate + 2-cell count — one shuffle on
    the unit key, constant output. The hash split is the same
    assignment mechanism ab_test_proportion_ztest uses, so this is
    the audit you run NEXT TO every experiment readout."""
    from ibd_pipeline_spark.operators.sketches import md5_bucket

    cust = load(spark, sf_dir, "orders").select("o_custkey").distinct()
    arms = cust.select(
        md5_bucket(F.col("o_custkey"), F.lit("srm"), 2).alias("arm")
    )
    c = arms.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_a"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_b"),
    )
    chi2 = (
        (F.col("n_a") - F.col("n_b")).cast("double")
        * (F.col("n_a") - F.col("n_b"))
        / (F.col("n_a") + F.col("n_b"))
    )
    return c.select(
        "n_a",
        "n_b",
        F.round(chi2, 6).alias("chi2"),
        (chi2 > 3.841).alias("srm_alarm"),
    )


# ---------------------------------------------------------------------------
# A/B power analysis: minimum detectable effect at the current size
# ---------------------------------------------------------------------------

_MDE_SQL = """
WITH cust AS (
  SELECT o_custkey,
         MAX(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
           AS converted
  FROM orders GROUP BY o_custkey
), arms AS (
  SELECT converted,
         CAST(('0x' || substring(md5('srm:' || CAST(o_custkey AS VARCHAR)),
                                 1, 8)) AS BIGINT) % 2 AS arm
  FROM cust
), c AS (
  SELECT CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
         CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
         CAST(SUM(converted) AS BIGINT) AS conv,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM arms
), d AS (
  SELECT n_a, n_b, conv, n,
         CAST(conv AS DOUBLE) / n AS p0,
         CASE WHEN n_a < n_b THEN n_a ELSE n_b END AS n_arm
  FROM c
)
SELECT n_a, n_b, conv,
       ROUND(p0, 6) AS p0,
       ROUND((1.959963985 + 0.841621234)
             * sqrt(2.0 * p0 * (1.0 - p0) / n_arm), 6) AS mde_abs,
       ROUND((1.959963985 + 0.841621234)
             * sqrt(2.0 * p0 * (1.0 - p0) / n_arm) / p0, 6) AS mde_rel
FROM d
"""


@query("ab_power_mde", oracle=_MDE_SQL)
def ab_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum detectable effect at the CURRENT experiment size —
    the 'is this test even worth running' readout that completes the
    experimentation kit (z-test → CUPED → delta-method → SRM → BH →
    power): with α = 0.05 two-sided and 80% power,
    MDE_abs = (z_{0.975} + z_{0.80})·√(2·p̂(1−p̂)/n_arm) on the
    baseline conversion p̂ (customer has an urgent order) under the
    same md5 hash split ab_srm_check audits. Counts are exact
    integers; the z constants are literals; one double formula at
    output — both engines replay the verdict bit-for-bit.

    Scale: one per-customer conversion aggregate + a 2-cell count —
    the same single-shuffle shape as the SRM audit it pairs with."""
    from ibd_pipeline_spark.operators.sketches import md5_bucket

    cust = (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.max(
                F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
            ).alias("converted")
        )
    )
    arms = cust.select(
        "converted", md5_bucket(F.col("o_custkey"), F.lit("srm"), 2).alias("arm")
    )
    c = arms.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_a"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_b"),
        F.sum("converted").cast("bigint").alias("conv"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    p0 = F.col("conv").cast("double") / F.col("n")
    n_arm = F.least(F.col("n_a"), F.col("n_b"))
    z = F.lit(1.959963985 + 0.841621234)
    mde = z * F.sqrt(2.0 * p0 * (1.0 - p0) / n_arm)
    return c.select(
        "n_a",
        "n_b",
        "conv",
        F.round(p0, 6).alias("p0"),
        F.round(mde, 6).alias("mde_abs"),
        F.round(mde / p0, 6).alias("mde_rel"),
    )


# ---------------------------------------------------------------------------
# (moved from round11.py in the r14 chronological->topic split;
# registry names, semantics, and oracles unchanged)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# mSPRT always-valid sequential test
# ---------------------------------------------------------------------------

_MSPRT_TAU2 = 1e-4

_MSPRT_SQL = f"""
WITH du AS (
  SELECT CAST(DATE_TRUNC('day', ts) AS DATE) AS day, user_id,
         CAST(('0x' || substring(md5('11:' || CAST(user_id AS VARCHAR)), 1, 8))
              AS BIGINT) % 2 AS arm,
         CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS conv
  FROM events GROUP BY 1, 2, 3
), daily AS (
  SELECT day,
         CAST(COUNT(*) FILTER (arm = 0) AS BIGINT) AS na,
         CAST(COUNT(*) FILTER (arm = 1) AS BIGINT) AS nb,
         CAST(SUM(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT) AS ca,
         CAST(SUM(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT) AS cb
  FROM du GROUP BY day
), cum AS (
  SELECT day,
         SUM(na) OVER w AS na, SUM(nb) OVER w AS nb,
         SUM(ca) OVER w AS ca, SUM(cb) OVER w AS cb
  FROM daily
  WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), lam AS (
  SELECT day, na, nb, ca, cb,
         CASE WHEN na > 0 AND nb > 0
                   AND (ca + cb) > 0 AND (ca + cb) < (na + nb) THEN
           sqrt((CAST(ca + cb AS DOUBLE) / (na + nb))
                * (1.0 - CAST(ca + cb AS DOUBLE) / (na + nb))
                * (1.0 / na + 1.0 / nb)
                / ((CAST(ca + cb AS DOUBLE) / (na + nb))
                   * (1.0 - CAST(ca + cb AS DOUBLE) / (na + nb))
                   * (1.0 / na + 1.0 / nb) + {_MSPRT_TAU2}))
           * exp((CAST(ca AS DOUBLE) / na - CAST(cb AS DOUBLE) / nb)
                 * (CAST(ca AS DOUBLE) / na - CAST(cb AS DOUBLE) / nb)
                 * {_MSPRT_TAU2}
                 / (2.0 * ((CAST(ca + cb AS DOUBLE) / (na + nb))
                           * (1.0 - CAST(ca + cb AS DOUBLE) / (na + nb))
                           * (1.0 / na + 1.0 / nb))
                    * ((CAST(ca + cb AS DOUBLE) / (na + nb))
                       * (1.0 - CAST(ca + cb AS DOUBLE) / (na + nb))
                       * (1.0 / na + 1.0 / nb) + {_MSPRT_TAU2})))
         END AS lam
  FROM cum
), runm AS (
  SELECT day, na, nb, ca, cb, lam,
         MAX(lam) OVER (ORDER BY day
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lmax
  FROM lam
)
SELECT day, CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       CAST(ca AS BIGINT) AS conv_a, CAST(cb AS BIGINT) AS conv_b,
       ROUND(lam, 6) AS mixture_lr,
       ROUND(CASE WHEN lmax IS NOT NULL AND lmax > 1.0
                  THEN 1.0 / lmax ELSE 1.0 END, 6) AS p_always_valid
FROM runm ORDER BY day
"""


@query("ab_msprt_always_valid", oracle=_MSPRT_SQL)
def ab_msprt_always_valid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Always-valid sequential A/B testing via the mixture SPRT
    (Johari et al.): per calendar day, the cumulative two-proportion
    mixture likelihood ratio Λₙ = √(Vₙ/(Vₙ+τ²))·exp(d²τ²/(2Vₙ(Vₙ+τ²)))
    and the always-valid p-value pₙ = min(1, 1/max_{k≤n} Λₖ) — the
    p-value you may READ EVERY DAY and stop on without inflating
    type-I error, which the fixed-horizon z-test
    (ab_test_proportion_ztest) forbids. Units are (user, day) active
    Bernoullis, arms by md5 hash split, conversion = any purchase
    that day.

    Exactness: all cumulative counts are exact integer prefix sums
    (r11 month-stitch); Λ and p are fixed double algebra over
    identical integers, and the running max rides the
    running-extreme stitch — max over identical doubles is
    bit-deterministic.

    Scale: one (day, user) aggregate, a day-grain frame after;
    everything windowed is month-partitioned."""
    from ibd_pipeline_spark.operators.calendar import (
        month_stitched_cumsum,
        month_stitched_running_extreme,
    )
    from ibd_pipeline_spark.operators.sketches import md5_bucket

    ev = load(spark, sf_dir, "events")
    du = ev.groupBy(
        F.to_date(F.date_trunc("day", "ts")).alias("day"),
        "user_id",
        md5_bucket(F.col("user_id"), 11, 2).alias("arm"),
    ).agg(
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("conv")
    )
    daily = du.groupBy("day").agg(
        F.count(F.when(F.col("arm") == 0, 1)).cast("bigint").alias("na"),
        F.count(F.when(F.col("arm") == 1, 1)).cast("bigint").alias("nb"),
        F.sum(F.when(F.col("arm") == 0, F.col("conv")).otherwise(0))
        .cast("bigint")
        .alias("ca"),
        F.sum(F.when(F.col("arm") == 1, F.col("conv")).otherwise(0))
        .cast("bigint")
        .alias("cb"),
    )
    cum = month_stitched_cumsum(daily, "day", ["na", "nb", "ca", "cb"])
    na, nb = F.col("cum_na"), F.col("cum_nb")
    ca, cb = F.col("cum_ca"), F.col("cum_cb")
    pbar = (ca + cb).cast("double") / (na + nb)
    v = pbar * (F.lit(1.0) - pbar) * (F.lit(1.0) / na + F.lit(1.0) / nb)
    d = ca.cast("double") / na - cb.cast("double") / nb
    lam = F.when(
        (na > 0) & (nb > 0) & ((ca + cb) > 0) & ((ca + cb) < (na + nb)),
        F.sqrt(v / (v + F.lit(_MSPRT_TAU2)))
        * F.exp(
            d * d * F.lit(_MSPRT_TAU2)
            / (F.lit(2.0) * v * (v + F.lit(_MSPRT_TAU2)))
        ),
    )
    lamf = cum.select("day", na.alias("n_a"), nb.alias("n_b"),
                      ca.alias("conv_a"), cb.alias("conv_b"),
                      lam.alias("lam"))
    runm = month_stitched_running_extreme(lamf, "day", "lam", "lmax", kind="max")
    return runm.select(
        "day",
        "n_a",
        "n_b",
        "conv_a",
        "conv_b",
        F.round("lam", 6).alias("mixture_lr"),
        F.round(
            F.when(
                F.col("lmax").isNotNull() & (F.col("lmax") > 1.0),
                F.lit(1.0) / F.col("lmax"),
            ).otherwise(F.lit(1.0)),
            6,
        ).alias("p_always_valid"),
    ).orderBy("day")


# ---------------------------------------------------------------------------
# TOST equivalence test
# ---------------------------------------------------------------------------

_TOST_MARGIN = 0.02


def _phi_upper(t: str) -> str:
    """SQL for P(Z > t) for ARBITRARY-sign t via the positive-arg
    Zelen–Severo tail: tail(t) when t ≥ 0, else 1 − tail(−t)."""
    return (
        f"(CASE WHEN {t} >= 0 THEN {_phi_tail_sql(f'({t})')}"
        f" ELSE 1.0 - {_phi_tail_sql(f'(-({t}))')} END)"
    )


_TOST_SQL = f"""
WITH assigned AS (
  SELECT user_id,
         CAST(('0x' || substring(md5('11:' || CAST(user_id AS VARCHAR)), 1, 8))
              AS BIGINT) % 2 AS arm,
         MAX(CASE WHEN event_type = 'purchase' AND value > 80
                  THEN 1 ELSE 0 END) AS converted
  FROM events GROUP BY user_id
), c AS (
  SELECT CAST(COUNT(*) FILTER (arm = 0) AS BIGINT) AS n_a,
         CAST(COUNT(*) FILTER (arm = 1) AS BIGINT) AS n_b,
         CAST(SUM(CASE WHEN arm = 0 THEN converted ELSE 0 END) AS BIGINT)
           AS conv_a,
         CAST(SUM(CASE WHEN arm = 1 THEN converted ELSE 0 END) AS BIGINT)
           AS conv_b
  FROM assigned
), d AS (
  SELECT n_a, n_b, conv_a, conv_b,
         CAST(conv_a AS DOUBLE) / n_a - CAST(conv_b AS DOUBLE) / n_b AS diff,
         sqrt(CAST(conv_a AS DOUBLE) / n_a * (1.0 - CAST(conv_a AS DOUBLE) / n_a)
                / n_a
              + CAST(conv_b AS DOUBLE) / n_b
                * (1.0 - CAST(conv_b AS DOUBLE) / n_b) / n_b) AS se
  FROM c
), t AS (
  SELECT n_a, n_b, conv_a, conv_b, diff, se,
         (diff + {_TOST_MARGIN}) / se AS t1,
         (diff - {_TOST_MARGIN}) / se AS t2
  FROM d
)
SELECT n_a, n_b, conv_a, conv_b,
       ROUND(diff, 6) AS diff,
       ROUND(GREATEST({_phi_upper('t1')},
                      1.0 - {_phi_upper('t2')}), 8) AS p_tost,
       GREATEST({_phi_upper('t1')}, 1.0 - {_phi_upper('t2')}) < 0.05
         AS equivalent
FROM t
"""


@query("ab_tost_equivalence", oracle=_TOST_SQL)
def ab_tost_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOST equivalence test (two one-sided tests, Schuirmann): can
    we POSITIVELY conclude the two arms' conversion rates differ by
    less than ±2 points? The question a non-significant z-test
    cannot answer (absence of evidence ≠ evidence of absence) — the
    ship-the-cheaper-variant / no-regression gate. p_tost =
    max(P(d ≤ −δ), P(d ≥ δ)) under the normal approximation; same
    md5 hash split and conversion rule as ab_test_proportion_ztest
    so the two read side by side.

    Exactness: counts are exact integers; diff/se/both tails are
    fixed double algebra (the signed normal tail reduces to the
    positive-arg Zelen–Severo polynomial both engines share).

    Scale: one user-grain aggregate, then 1-row algebra."""
    assigned = _assigned_users(spark, sf_dir)
    c = assigned.agg(
        F.count(F.when(F.col("arm") == 0, 1)).cast("bigint").alias("n_a"),
        F.count(F.when(F.col("arm") == 1, 1)).cast("bigint").alias("n_b"),
        F.sum(F.when(F.col("arm") == 0, F.col("converted")).otherwise(0))
        .cast("bigint")
        .alias("conv_a"),
        F.sum(F.when(F.col("arm") == 1, F.col("converted")).otherwise(0))
        .cast("bigint")
        .alias("conv_b"),
    )
    pa = F.col("conv_a").cast("double") / F.col("n_a")
    pb = F.col("conv_b").cast("double") / F.col("n_b")
    diff = pa - pb
    se = F.sqrt(
        pa * (F.lit(1.0) - pa) / F.col("n_a")
        + pb * (F.lit(1.0) - pb) / F.col("n_b")
    )
    t1 = (diff + F.lit(_TOST_MARGIN)) / se
    t2 = (diff - F.lit(_TOST_MARGIN)) / se

    def phi_upper(t):
        tail = _phi_tail_col(F.abs(t))
        return F.when(t >= 0, tail).otherwise(F.lit(1.0) - tail)

    p_tost = F.greatest(phi_upper(t1), F.lit(1.0) - phi_upper(t2))
    return c.select(
        "n_a",
        "n_b",
        "conv_a",
        "conv_b",
        F.round(diff, 6).alias("diff"),
        F.round(p_tost, 8).alias("p_tost"),
        (p_tost < 0.05).alias("equivalent"),
    )


# ---------------------------------------------------------------------------
# (moved from round8.py in the r14 chronological->topic split;
# registry names, semantics, and oracles unchanged)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# CUPED variance reduction (covariate-adjusted experiment metric)
# ---------------------------------------------------------------------------

_CUPED_SQL = """
WITH pre AS (
  SELECT o_custkey, CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS x
  FROM orders WHERE year(o_orderdate) = 1996 GROUP BY 1
), post AS (
  SELECT o_custkey, CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS y
  FROM orders WHERE year(o_orderdate) = 1999 GROUP BY 1
), j AS (
  SELECT pre.x, post.y FROM pre JOIN post ON post.o_custkey = pre.o_custkey
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS HUGEINT) AS sx,
         CAST(SUM(y) AS HUGEINT) AS sy,
         CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
         CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
         CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
  FROM j
), d AS (
  SELECT n,
         CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
           - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS covn,
         CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS varxn,
         CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS varyn
  FROM m
)
SELECT n AS n_customers,
       ROUND(covn / varxn, 6) AS theta,
       ROUND(varyn / (1e4 * n * n), 4) AS var_raw,
       ROUND((varyn - covn * covn / varxn) / (1e4 * n * n), 4)
         AS var_adjusted,
       ROUND(covn * covn / (varxn * varyn), 6) AS variance_reduction
FROM d
"""


@query("ab_cuped_variance_reduction", oracle=_CUPED_SQL)
def ab_cuped_variance_reduction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng et al., WSDM'13) — the
    experimentation-platform preprocessing that shrinks an A/B
    metric's variance using pre-experiment behavior: with pre-period
    spend X as the covariate and post-period spend Y as the metric,
    the adjusted metric Y − θ(X − x̄) with θ = cov(X,Y)/var(X) keeps
    the same mean but drops the variance by exactly corr²(X,Y) — the
    readout is how much smaller your experiment can be. Companion to
    ab_test_proportion_ztest: that tests a difference, this makes the
    test cheaper.

    Exactness: per-customer sums are integer CENTS (BIGINT); the
    moment sums run in 128-bit integer space (Spark decimal(38,0) ↔
    DuckDB HUGEINT — exact, order-independent), and θ/variances are
    the same double expressions of those exact integers, rounded only
    at the output (variances reported in squared currency units via
    the 1e4 cents² rescale).

    Scale: two year-pruned aggregates of the orders fact (predicate
    pushed to the scan), one equi-join on customer, one single-row
    moment aggregate — no window, no driver math."""
    o = load(spark, sf_dir, "orders")

    def yearly(yr: int, out: str) -> DataFrame:
        return (
            o.filter(F.year("o_orderdate") == yr)
            .groupBy("o_custkey")
            .agg(
                F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
                .cast("bigint")
                .alias(out)
            )
        )

    j = yearly(1996, "x").join(yearly(1999, "y"), "o_custkey").select("x", "y")
    dec = "decimal(38,0)"
    m = j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("x").cast(dec)).alias("sx"),
        F.sum(F.col("y").cast(dec)).alias("sy"),
        F.sum((F.col("x").cast(dec) * F.col("x"))).alias("sxx"),
        F.sum((F.col("x").cast(dec) * F.col("y"))).alias("sxy"),
        F.sum((F.col("y").cast(dec) * F.col("y"))).alias("syy"),
    )
    nd = F.col("n").cast("double")
    covn = nd * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col(
        "sy"
    ).cast("double")
    varxn = nd * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col(
        "sx"
    ).cast("double")
    varyn = nd * F.col("syy").cast("double") - F.col("sy").cast("double") * F.col(
        "sy"
    ).cast("double")
    return m.select(
        F.col("n").alias("n_customers"),
        F.round(covn / varxn, 6).alias("theta"),
        F.round(varyn / (F.lit(1e4) * F.col("n") * F.col("n")), 4).alias(
            "var_raw"
        ),
        F.round(
            (varyn - covn * covn / varxn) / (F.lit(1e4) * F.col("n") * F.col("n")),
            4,
        ).alias("var_adjusted"),
        F.round(covn * covn / (varxn * varyn), 6).alias("variance_reduction"),
    )


# ---------------------------------------------------------------------------
# Delta-method CI for a ratio metric (revenue per order)
# ---------------------------------------------------------------------------

_RATIO_DELTA_SQL = """
WITH per_cust AS (
  SELECT o_custkey,
         CAST(SUM(CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS x,
         CAST(COUNT(*) AS BIGINT) AS y
  FROM orders WHERE year(o_orderdate) = 1999 GROUP BY 1
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS HUGEINT) AS sx,
         CAST(SUM(y) AS HUGEINT) AS sy,
         CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
         CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy,
         CAST(SUM(CAST(y AS HUGEINT) * y) AS HUGEINT) AS syy
  FROM per_cust
), d AS (
  SELECT n,
         CAST(sx AS DOUBLE) / n AS mx,
         CAST(sy AS DOUBLE) / n AS my,
         (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n)
           / (n - 1) AS vx,
         (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / n)
           / (n - 1) AS cxy,
         (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n)
           / (n - 1) AS vy
  FROM m
), r AS (
  SELECT n, mx / my AS ratio,
         sqrt((vx - 2 * (mx / my) * cxy + (mx / my) * (mx / my) * vy)
              / (n * my * my)) AS se_delta,
         sqrt(vx / n) / my AS se_naive
  FROM d
)
SELECT n AS n_customers,
       ROUND(ratio / 100, 6) AS revenue_per_order,
       ROUND(se_delta / 100, 6) AS se_delta,
       ROUND(se_naive / 100, 6) AS se_naive,
       ROUND((ratio - 1.959963984540054 * se_delta) / 100, 4) AS ci_lo,
       ROUND((ratio + 1.959963984540054 * se_delta) / 100, 4) AS ci_hi
FROM r
"""


@query("ab_ratio_metric_delta", oracle=_RATIO_DELTA_SQL)
def ab_ratio_metric_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delta-method standard error for a RATIO metric (revenue per
    order, randomization unit = customer): the A/B metric shape where
    naive per-row variance is WRONG because each customer contributes
    correlated numerator and denominator — Var(x̄/ȳ) ≈
    (Sx² − 2R·Sxy + R²·Sy²)/(n·ȳ²), the Deng et al. (KDD'18)
    cluster-randomized correction. Reported beside the naive SE
    (which ignores the covariance and the denominator's variance) and
    a 95% CI; with ab_test_proportion_ztest and
    ab_cuped_variance_reduction this completes the experimentation
    kit: test a proportion, shrink a mean, and get ratio-metric
    uncertainty right.

    Exactness: the CUPED idiom — integer-cent per-customer sums,
    128-bit moment accumulation (decimal(38,0) ↔ HUGEINT), then one
    fixed-order double expression per statistic; z₀.₉₇₅ is written as
    the exact IEEE double both engines parse identically.

    Scale: one year-pruned customer aggregate + one single-row moment
    aggregate — no window, no driver math."""
    o = load(spark, sf_dir, "orders")
    pc = (
        o.filter(F.year("o_orderdate") == 1999)
        .groupBy("o_custkey")
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint"))
            .cast("bigint")
            .alias("x"),
            F.count(F.lit(1)).cast("bigint").alias("y"),
        )
    )
    dec = "decimal(38,0)"
    m = pc.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("x").cast(dec)).alias("sx"),
        F.sum(F.col("y").cast(dec)).alias("sy"),
        F.sum(F.col("x").cast(dec) * F.col("x")).alias("sxx"),
        F.sum(F.col("x").cast(dec) * F.col("y")).alias("sxy"),
        F.sum(F.col("y").cast(dec) * F.col("y")).alias("syy"),
    )
    n = F.col("n")
    sx, sy = F.col("sx").cast("double"), F.col("sy").cast("double")
    mx, my = sx / n, sy / n
    vx = (F.col("sxx").cast("double") - sx * sx / n) / (n - 1)
    cxy = (F.col("sxy").cast("double") - sx * sy / n) / (n - 1)
    vy = (F.col("syy").cast("double") - sy * sy / n) / (n - 1)
    ratio = mx / my
    se_delta = F.sqrt(
        (vx - 2 * ratio * cxy + ratio * ratio * vy) / (n * my * my)
    )
    se_naive = F.sqrt(vx / n) / my
    z = F.lit(1.959963984540054)
    return m.select(
        n.alias("n_customers"),
        F.round(ratio / 100, 6).alias("revenue_per_order"),
        F.round(se_delta / 100, 6).alias("se_delta"),
        F.round(se_naive / 100, 6).alias("se_naive"),
        F.round((ratio - z * se_delta) / 100, 4).alias("ci_lo"),
        F.round((ratio + z * se_delta) / 100, 4).alias("ci_hi"),
    )
