"""Survival-analysis queries (r14 topic split): Kaplan–Meier product-
limit estimator, Nelson–Aalen cumulative hazard, and the two-group
log-rank test — consolidated here from the chronological round files;
registry names, semantics, and oracles unchanged.

No reference analog (the reference computes streaming means/max/stddev
only — `spark_processor.py:153-164`); SURVEY §2.2 statistics rows.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ibd_pipeline_spark.catalog import load
from ibd_pipeline_spark.normal_tail import (  # noqa: F401
    _phi_tail_col,
    _phi_tail_sql,
)
from ibd_pipeline_spark.queries import query

# ---------------------------------------------------------------------------
# The right-censored conversion lifetimes all three estimators read
# ---------------------------------------------------------------------------


def _lifetimes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(grp1, dur, censored), one row per user: death is the user's
    first purchase, `dur` the days from first activity to it, and a
    never-purchaser is censored at their last activity. `grp1` marks
    users whose first event is a 'view' (the log-rank cohort; the MIN
    over (ts, event_id, event_type) is unique per user and orders the
    same on both engines). Callers that drop `grp1` drop its
    aggregate from the plan too.

    Scale: one user_id shuffle for lifetimes; everything after runs
    on the day-span-bounded duration frame."""
    ev = load(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.min("ts").alias("first_ts"),
        F.max("ts").alias("last_ts"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("conv_ts"),
        F.min(F.struct("ts", "event_id", "event_type")).alias("frow"),
    )
    return u.select(
        (F.col("frow.event_type") == "view").alias("grp1"),
        F.datediff(
            F.to_date(F.coalesce("conv_ts", "last_ts")),
            F.to_date("first_ts"),
        )
        .cast("bigint")
        .alias("dur"),
        F.col("conv_ts").isNull().alias("censored"),
    )


# The oracle twin of _lifetimes: `lif`.
_LIFETIMES_SQL = """
WITH u AS (
  SELECT user_id,
         MIN(CAST(ts AS TIMESTAMP)) AS first_ts,
         MAX(CAST(ts AS TIMESTAMP)) AS last_ts,
         MIN(CASE WHEN event_type = 'purchase' THEN CAST(ts AS TIMESTAMP) END)
           AS conv_ts,
         MIN(struct_pack(ts := CAST(ts AS TIMESTAMP), eid := event_id,
                         et := event_type)) AS frow
  FROM events GROUP BY user_id
), lif AS (
  SELECT frow.et = 'view' AS grp1,
         CAST(datediff('day', CAST(first_ts AS DATE),
                       CAST(COALESCE(conv_ts, last_ts) AS DATE))
              AS BIGINT) AS dur,
         conv_ts IS NULL AS censored
  FROM u
)"""


# ---------------------------------------------------------------------------
# (moved from round11c.py in the r14 chronological->topic split;
# registry names, semantics, and oracles unchanged)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# Log-rank test (payers vs non-payers user-lifetime survival)
# ---------------------------------------------------------------------------

_LOGRANK_SQL = _LIFETIMES_SQL + f""", d AS (
  SELECT dur,
         CAST(COUNT(*) FILTER (grp1 AND NOT censored) AS BIGINT) AS d1,
         CAST(COUNT(*) FILTER (NOT grp1 AND NOT censored) AS BIGINT) AS d2,
         CAST(COUNT(*) FILTER (grp1) AS BIGINT) AS a1,
         CAST(COUNT(*) FILTER (NOT grp1) AS BIGINT) AS a2
  FROM lif GROUP BY dur
), k AS (
  SELECT dur, d1, d2,
         CAST((SELECT SUM(a1) FROM d) - COALESCE(SUM(a1) OVER (
             ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             0) AS BIGINT) AS n1,
         CAST((SELECT SUM(a2) FROM d) - COALESCE(SUM(a2) OVER (
             ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
             0) AS BIGINT) AS n2
  FROM d
), terms AS (
  SELECT d1,
         CAST(ROUND(CAST(d1 + d2 AS DOUBLE) * n1 / (n1 + n2), 10)
              AS DECIMAL(28,10)) AS e1,
         CAST(ROUND(
           CASE WHEN n1 + n2 > 1 THEN
             CAST(d1 + d2 AS DOUBLE)
             * (CAST(n1 AS DOUBLE) / (n1 + n2))
             * (1.0 - CAST(n1 AS DOUBLE) / (n1 + n2))
             * (n1 + n2 - d1 - d2) / (n1 + n2 - 1)
           ELSE 0.0 END, 10) AS DECIMAL(28,10)) AS v
  FROM k WHERE d1 + d2 > 0
), s AS (
  SELECT CAST(SUM(d1) AS BIGINT) AS o1,
         CAST(SUM(e1) AS DOUBLE) AS e1,
         CAST(SUM(v) AS DOUBLE) AS v
  FROM terms
), z AS (
  SELECT o1, e1, v,
         CASE WHEN v > 0
              THEN (CAST(o1 AS DOUBLE) - e1) / sqrt(v) END AS zs
  FROM s
)
SELECT (SELECT CAST(COUNT(*) FILTER (grp1) AS BIGINT) FROM lif)
         AS n_first_view,
       (SELECT CAST(COUNT(*) FILTER (NOT grp1) AS BIGINT) FROM lif)
         AS n_other,
       o1 AS observed_1, ROUND(e1, 6) AS expected_1,
       ROUND(zs, 6) AS z_stat, ROUND(zs * zs, 6) AS chi2,
       CASE WHEN zs IS NOT NULL
            THEN ROUND(2.0 * {_phi_tail_sql("abs(zs)")}, 8) END AS p_value
FROM z
"""


@query("stats_logrank_test", oracle=_LOGRANK_SQL)
def stats_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank (Mantel-Cox) test comparing time-to-first-purchase
    survival between FIRST-TOUCH cohorts — users whose very first
    event is a 'view' (browsers) vs everyone else — on the identical
    right-censored conversion construction as stats_kaplan_meier /
    stats_nelson_aalen (death = first purchase, days from first
    activity; never-purchasers censored at last activity). At each
    distinct death time t: observed group-1 deaths d1(t) vs
    hypergeometric expectation dt·n1/nt and variance
    dt·(n1/nt)(1−n1/nt)(nt−dt)/(nt−1); z = (O1−E1)/√ΣV — THE
    standard "do these two conversion curves differ" test, which
    neither KM curve alone answers.

    Determinism: the first-touch extractor is MIN over the struct
    (ts, event_id, event_type) — (ts, event_id) is unique per user,
    and both engines order structs lexicographically, so the cohort
    assignment is bit-identical. d and at-risk counts are exact
    integers (at-risk via the block-stitched cumsum, no
    unpartitioned window); each E/V term rounds to DECIMAL(28,10)
    before the order-independent sum; z, chi2 and the Zelen-Severo
    p-value are identical double chains on both engines.

    Scale: as _lifetimes."""
    from ibd_pipeline_spark.operators.calendar import month_stitched_cumsum

    lif = _lifetimes(spark, sf_dir)
    d = lif.groupBy("dur").agg(
        F.count(F.when(F.col("grp1") & ~F.col("censored"), 1))
        .cast("bigint")
        .alias("d1"),
        F.count(F.when(~F.col("grp1") & ~F.col("censored"), 1))
        .cast("bigint")
        .alias("d2"),
        F.count(F.when(F.col("grp1"), 1)).cast("bigint").alias("a1"),
        F.count(F.when(~F.col("grp1"), 1)).cast("bigint").alias("a2"),
    )
    tot = d.agg(
        F.sum("a1").alias("t1"),
        F.sum("a2").alias("t2"),
    )
    cum = month_stitched_cumsum(
        d, "dur", ["a1", "a2"], block=F.floor(F.col("dur") / 32)
    )
    k = cum.crossJoin(F.broadcast(tot)).select(
        "d1",
        "d2",
        (F.col("t1") - F.col("cum_a1") + F.col("a1"))
        .cast("bigint")
        .alias("n1"),
        (F.col("t2") - F.col("cum_a2") + F.col("a2"))
        .cast("bigint")
        .alias("n2"),
    )
    nt = F.col("n1") + F.col("n2")
    dt = F.col("d1") + F.col("d2")
    p1 = F.col("n1").cast("double") / nt
    terms = k.filter(dt > 0).select(
        "d1",
        F.round(dt.cast("double") * p1, 10)
        .cast("decimal(28,10)")
        .alias("e1"),
        # the nt = 1 guard divides by greatest(nt-1, 1) INSIDE the
        # branch too: whole-stage codegen hoists the division as a
        # common subexpression and evaluates it even on rows the
        # when() rejects — a bare (nt-1) denominator throws
        # DIVIDE_BY_ZERO under ANSI mode on the last at-risk row
        F.round(
            F.when(
                nt > 1,
                dt.cast("double")
                * p1
                * (F.lit(1.0) - p1)
                * (nt - dt)
                / F.greatest(nt - 1, F.lit(1)),
            ).otherwise(F.lit(0.0)),
            10,
        )
        .cast("decimal(28,10)")
        .alias("v"),
    )
    s = terms.agg(
        F.sum("d1").cast("bigint").alias("o1"),
        F.sum("e1").cast("double").alias("e1"),
        F.sum("v").cast("double").alias("v"),
    )
    npay = lif.agg(
        F.count(F.when(F.col("grp1"), 1)).cast("bigint").alias("n_first_view"),
        F.count(F.when(~F.col("grp1"), 1)).cast("bigint").alias("n_other"),
    )
    # V = 0 (all deaths at one time, or a single-group family) leaves
    # the statistic undefined — NULL, never a divide-by-zero (the
    # ANSI-mode sqrt(0) denominator is hoisted by codegen, so the
    # guard divides by a floored-at-tiny denominator inside)
    zs = F.when(
        F.col("v") > 0,
        (F.col("o1").cast("double") - F.col("e1"))
        / F.sqrt(F.greatest(F.col("v"), F.lit(1e-300))),
    )
    return (
        npay.crossJoin(F.broadcast(s))
        .select(
            "n_first_view",
            "n_other",
            F.col("o1").alias("observed_1"),
            F.round("e1", 6).alias("expected_1"),
            F.round(zs, 6).alias("z_stat"),
            F.round(zs * zs, 6).alias("chi2"),
            F.when(
                zs.isNotNull(),
                F.round(2.0 * _phi_tail_col(F.abs(zs)), 8),
            ).alias("p_value"),
        )
    )


# ---------------------------------------------------------------------------
# (moved from round11.py in the r14 chronological->topic split;
# registry names, semantics, and oracles unchanged)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# Nelson–Aalen cumulative hazard
# ---------------------------------------------------------------------------

_NA_SQL = _LIFETIMES_SQL + """, d AS (
  SELECT dur,
         CAST(COUNT(*) FILTER (NOT censored) AS BIGINT) AS d_events,
         CAST(COUNT(*) FILTER (censored) AS BIGINT) AS c_censored
  FROM lif GROUP BY dur
), k AS (
  SELECT dur, d_events, c_censored,
         CAST((SELECT SUM(d_events + c_censored) FROM d)
           - COALESCE(SUM(d_events + c_censored) OVER (
               ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS n_risk
  FROM d
), s AS (
  SELECT dur, d_events, n_risk,
         SUM(CAST(ROUND(CAST(d_events AS DOUBLE) / n_risk, 8)
                  AS DECIMAL(28,8))) OVER (
           ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS h,
         SUM(CAST(ROUND(CAST(d_events AS DOUBLE) / (n_risk * n_risk), 10)
                  AS DECIMAL(28,10))) OVER (
           ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS vr
  FROM k
)
SELECT dur, n_risk, d_events,
       ROUND(CAST(h AS DOUBLE), 6) AS cum_hazard,
       ROUND(EXP(-CAST(h AS DOUBLE)), 6) AS na_survival,
       ROUND(CAST(vr AS DOUBLE), 8) AS hazard_var
FROM s ORDER BY dur
"""


@query("stats_nelson_aalen", oracle=_NA_SQL)
def stats_nelson_aalen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nelson–Aalen cumulative-hazard estimator over time-to-first-
    purchase (same right-censored construction as stats_kaplan_meier
    since r11: death = a user's first purchase, measured in days from
    first activity; never-purchasers censored at last activity):
    H(t) = Σ_{tᵢ ≤ t} dᵢ/nᵢ, its variance Σ dᵢ/nᵢ², and
    the Fleming–Harrington survival exp(−H) — the hazard-side
    companion KM's product-limit can't give (H is additive, so
    hazard INCREMENTS between any two horizons read directly off the
    curve).

    Exactness: dᵢ, nᵢ are exact integers; each hazard term rounds
    to decimal BEFORE the cumulative sum (the KM ln-term pattern) so
    prefixes are order-independent; prefix sums ride the
    block-stitched cumsum (blocks of 32 duration days — the r11
    calendar helper with an integer spine), no unpartitioned window.

    Scale: as _lifetimes."""
    from ibd_pipeline_spark.operators.calendar import month_stitched_cumsum

    lif = _lifetimes(spark, sf_dir)
    d = lif.groupBy("dur").agg(
        F.count(F.when(~F.col("censored"), 1)).cast("bigint").alias("d_events"),
        F.count(F.when(F.col("censored"), 1)).cast("bigint").alias("c_censored"),
    )
    tot = d.agg(
        F.sum(F.col("d_events") + F.col("c_censored")).alias("n_total")
    )
    blk = F.floor(F.col("dur") / 32)
    cum = month_stitched_cumsum(
        d.withColumn("dc", F.col("d_events") + F.col("c_censored")),
        "dur",
        ["dc"],
        block=blk,
    )
    k = cum.crossJoin(F.broadcast(tot)).select(
        "dur",
        "d_events",
        (F.col("n_total") - F.col("cum_dc") + F.col("dc"))
        .cast("bigint")
        .alias("n_risk"),
    )
    terms = k.select(
        "dur",
        "d_events",
        "n_risk",
        F.round(F.col("d_events").cast("double") / F.col("n_risk"), 8)
        .cast("decimal(28,8)")
        .alias("ht"),
        F.round(
            F.col("d_events").cast("double")
            / (F.col("n_risk") * F.col("n_risk")),
            10,
        )
        .cast("decimal(28,10)")
        .alias("vt"),
    )
    s = month_stitched_cumsum(terms, "dur", ["ht", "vt"], block=blk)
    # r11: ROUND runs on the decimal→double IMAGE, not the decimal —
    # a DECIMAL cumsum ending in an exact trailing "…50" rounds
    # differently across engines (Spark decimal ROUND is HALF_UP;
    # DuckDB's is not), while the double image never sits exactly on
    # the half, so both engines decide the same way (hit at sf0.1:
    # cum_hazard 1.11769250 → 1.117693 vs 1.117692)
    return s.select(
        "dur",
        "n_risk",
        "d_events",
        F.round(F.col("cum_ht").cast("double"), 6).alias("cum_hazard"),
        F.round(F.exp(-F.col("cum_ht").cast("double")), 6).alias("na_survival"),
        F.round(F.col("cum_vt").cast("double"), 8).alias("hazard_var"),
    ).orderBy("dur")


# ---------------------------------------------------------------------------
# (moved from round9.py in the r14 chronological->topic split;
# registry names, semantics, and oracles unchanged)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# Kaplan–Meier survival estimator (user lifetime with right-censoring)
# ---------------------------------------------------------------------------

_KM_SQL = _LIFETIMES_SQL + """, d AS (
  SELECT dur,
         CAST(COUNT(*) FILTER (NOT censored) AS BIGINT) AS d_events,
         CAST(COUNT(*) FILTER (censored) AS BIGINT) AS c_censored
  FROM lif GROUP BY dur
), k AS (
  SELECT dur, d_events, c_censored,
         (SELECT SUM(d_events + c_censored) FROM d)
           - COALESCE(SUM(d_events + c_censored) OVER (
               ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS n_risk
  FROM d
), s AS (
  SELECT dur, d_events, c_censored, CAST(n_risk AS BIGINT) AS n_risk,
         SUM(CASE WHEN d_events < n_risk THEN
               CAST(ROUND(ln(1.0 - CAST(d_events AS DOUBLE)
                                 / CAST(n_risk AS DOUBLE)), 8)
                    AS DECIMAL(28,8))
             ELSE NULL END) OVER (
           ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS ln_cum,
         MAX(CASE WHEN d_events >= n_risk THEN dur END) OVER (
           ORDER BY dur ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS dead_at
  FROM k
)
SELECT dur, d_events, c_censored, n_risk,
       CASE WHEN dead_at IS NOT NULL THEN 0.0
            ELSE ROUND(EXP(CAST(COALESCE(ln_cum, 0) AS DOUBLE)), 6)
       END AS survival
FROM s
ORDER BY dur
"""


@query("stats_kaplan_meier", oracle=_KM_SQL)
def stats_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier time-to-conversion survival curve: the "event" is
    a user's FIRST PURCHASE, measured in days from their first
    activity; users who never purchase are right-censored at their
    last observed activity — the product-limit estimator conversion/
    churn analysis runs: S(t) = Π_{s≤t} (1 − d_s/n_s) over event
    times, censored users leaving the risk set without a death.
    (r11: the event was previously "last observed event", which on
    this synthetic corpus censored EVERY user — survival ≡ 1.0, a
    correct but dead readout; conversion gives the curve real drops.)

    Cross-engine determinism: deaths/censorings/at-risk are exact
    integers; each factor enters as ln(1 − d/n) ROUNDED TO 8 DP AND
    CAST TO DECIMAL, so the running product is an exact decimal sum
    (order-independent) with one exp at the output. The d = n
    extinction row (and everything after) is pinned to exactly 0.0
    rather than exp(−inf).

    Scale: user-lifetime aggregation is one user_id shuffle; the
    duration frame is DAY-SPAN-bounded (≤ dataset days — the
    plan-audit allow-list bound), so its cumulative windows run over
    ≤ ~10³ rows of aggregate, never data."""
    lif = _lifetimes(spark, sf_dir)
    d = lif.groupBy("dur").agg(
        F.count(F.when(~F.col("censored"), 1)).alias("d_events"),
        F.count(F.when(F.col("censored"), 1)).alias("c_censored"),
    )
    tot = d.agg(
        F.sum(F.col("d_events") + F.col("c_censored")).alias("n_total")
    )
    # r11: all three prefix quantities (exclusive risk-set cumsum, the
    # ln-factor running sum, the extinction-day running max) ride the
    # block-stitched helpers over the integer duration spine — no
    # unpartitioned window (previously the last allow-list day-grain
    # entry beside interpolate).
    from ibd_pipeline_spark.operators.calendar import (
        month_stitched_cumsum,
        month_stitched_running_extreme,
    )

    blk = F.floor(F.col("dur") / 32)
    cum = month_stitched_cumsum(
        d.withColumn("dc", F.col("d_events") + F.col("c_censored")),
        "dur",
        ["dc"],
        block=blk,
    )
    k = cum.crossJoin(F.broadcast(tot)).withColumn(
        "n_risk", F.col("n_total") - F.col("cum_dc") + F.col("dc")
    )
    ln_factor = F.when(
        F.col("d_events") < F.col("n_risk"),
        F.round(
            F.log(
                F.lit(1.0)
                - F.col("d_events").cast("double")
                / F.col("n_risk").cast("double")
            ),
            8,
        ).cast("decimal(28,8)"),
    )
    base = k.select(
        "dur",
        F.col("d_events").cast("bigint").alias("d_events"),
        F.col("c_censored").cast("bigint").alias("c_censored"),
        F.col("n_risk").cast("bigint").alias("n_risk"),
        ln_factor.alias("lnf"),
        F.when(F.col("d_events") >= F.col("n_risk"), F.col("dur")).alias(
            "dead_dur"
        ),
    )
    # sum-over-window is NULL until the first non-null; the stitch adds
    # a 0 offset instead — immaterial here because the output already
    # coalesces ln_cum to 0 (exp(0) = 1 before any event).
    s = month_stitched_cumsum(base, "dur", ["lnf"], block=blk)
    s = month_stitched_running_extreme(
        s, "dur", "dead_dur", "dead_at", kind="max", block=blk
    )
    return s.select(
        "dur",
        "d_events",
        "c_censored",
        "n_risk",
        F.when(F.col("dead_at").isNotNull(), F.lit(0.0))
        .otherwise(
            F.round(
                F.exp(F.coalesce(F.col("cum_lnf"), F.lit(0)).cast("double")), 6
            )
        )
        .alias("survival"),
    ).orderBy("dur")
