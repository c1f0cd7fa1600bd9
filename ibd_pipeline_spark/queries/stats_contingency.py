"""Contingency-table and categorical-association tests (r15 seam
split of stats2.py — registry names, semantics, and oracles
unchanged): independence, agreement, ordinal trend, proportion CIs,
rate comparison, and mutual information. Cell counts and margins are
exact BIGINTs; per-cell terms round in the decimal domain. No
reference analog; SURVEY §2.2 north-star rows.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window  # noqa: F401
from ibd_pipeline_spark.catalog import load
from ibd_pipeline_spark.normal_tail import _phi_tail_col, _phi_tail_sql
from ibd_pipeline_spark.queries import query

# ---------------------------------------------------------------------------
# G-test (log-likelihood ratio) of independence — event_type × ISO dow
# ---------------------------------------------------------------------------

_GTEST_SQL = f"""
WITH o AS (
  SELECT event_type, ISODOW(CAST(ts AS TIMESTAMP)) AS dow,
         CAST(COUNT(*) AS BIGINT) AS obs
  FROM events GROUP BY 1, 2
), rt AS (SELECT event_type, SUM(obs) AS row_tot FROM o GROUP BY 1),
ct AS (SELECT dow, SUM(obs) AS col_tot FROM o GROUP BY 1),
nt AS (SELECT SUM(obs) AS n, CAST(COUNT(DISTINCT event_type) AS BIGINT)
              AS n_types,
              CAST(COUNT(DISTINCT dow) AS BIGINT) AS n_dows
       FROM o),
t AS (
  SELECT CAST(obs AS DOUBLE) AS od,
         CAST(row_tot AS DOUBLE) * CAST(col_tot AS DOUBLE)
           / CAST(n AS DOUBLE) AS e,
         n_types, n_dows
  FROM o JOIN rt USING (event_type) JOIN ct USING (dow) CROSS JOIN nt
), s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
         MAX((n_types - 1) * (n_dows - 1)) AS df,
         CAST(ROUND(SUM(CAST(od * ln(od / e) AS DECIMAL(28,8))), 4)
              AS DOUBLE) * 2.0 AS g_stat
  FROM t
), wh AS (
  SELECT n_cells, CAST(df AS INT) AS df, g_stat,
         (exp(ln(g_stat / df) / 3.0) - (1.0 - 2.0 / (9.0 * df)))
           * sqrt(9.0 * df / 2.0) AS z
  FROM s
)
SELECT n_cells, df, ROUND(g_stat, 4) AS g_stat,
       ROUND({_phi_tail_sql('z')}, 8) AS p_wilson_hilferty
FROM wh
"""


@query("stats_g_test_independence", oracle=_GTEST_SQL)
def stats_g_test_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G-test (likelihood-ratio) of independence between event_type
    and ISO day-of-week: G = 2·Σ o·ln(o/e) over the contingency
    cells — the information-theoretic twin of the chi-square query
    (G = 2N·MI in nats; additive across partitions of the table,
    which Pearson's X² is not). p via the Wilson–Hilferty cube-root
    normal approximation at df = (r−1)(c−1), evaluated by the IDENTICAL
    formula both engines (exp(ln(x)/3) for the cube root), so the
    hash never depends on the approximation's quality.

    Exactness: margins by aggregate-and-broadcast (the r12
    chi-square form — no windows); each o·ln(o/e) term decimal-cast
    per cell so the 35-term sum is order-independent.

    Scale: one count shuffle on ~35 keys; margins are broadcast
    joins; everything after runs on the cell frame."""
    ev = load(spark, sf_dir, "events")
    obs = ev.groupBy(
        "event_type", (F.weekday("ts") + F.lit(1)).alias("dow")
    ).agg(F.count(F.lit(1)).alias("obs"))
    rt = obs.groupBy("event_type").agg(F.sum("obs").alias("row_tot"))
    ct = obs.groupBy("dow").agg(F.sum("obs").alias("col_tot"))
    nt = obs.agg(
        F.sum("obs").alias("n"),
        F.countDistinct("event_type").cast("bigint").alias("n_types"),
        F.countDistinct("dow").cast("bigint").alias("n_dows"),
    )
    t = (
        obs.join(F.broadcast(rt), "event_type")
        .join(F.broadcast(ct), "dow")
        .crossJoin(F.broadcast(nt))
        .select(
            F.col("obs").cast("double").alias("od"),
            (
                F.col("row_tot").cast("double")
                * F.col("col_tot").cast("double")
                / F.col("n").cast("double")
            ).alias("e"),
            "n_types",
            "n_dows",
        )
    )
    s = t.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        F.max((F.col("n_types") - 1) * (F.col("n_dows") - 1)).alias("df"),
        (
            F.round(
                F.sum(
                    (F.col("od") * F.log(F.col("od") / F.col("e"))).cast(
                        "decimal(28,8)"
                    )
                ),
                4,
            ).cast("double")
            * 2.0
        ).alias("g_stat"),
    )
    dfc = F.col("df").cast("double")
    z = (
        F.exp(F.log(F.col("g_stat") / dfc) / 3.0)
        - (1.0 - 2.0 / (9.0 * dfc))
    ) * F.sqrt(9.0 * dfc / 2.0)
    return s.select(
        "n_cells",
        F.col("df").cast("int").alias("df"),
        F.round("g_stat", 4).alias("g_stat"),
        F.round(_phi_tail_col(z), 8).alias("p_wilson_hilferty"),
    )

# ---------------------------------------------------------------------------
# Cohen's kappa: behavioral agreement between window halves
# ---------------------------------------------------------------------------

_KAPPA_SQL = """
WITH bnd AS (
  SELECT (epoch_us(MIN(CAST(ts AS TIMESTAMP)))
          + epoch_us(MAX(CAST(ts AS TIMESTAMP)))) // 2 AS mid
  FROM events
), lab AS (
  SELECT user_id,
         CASE WHEN epoch_us(CAST(ts AS TIMESTAMP)) < (SELECT mid FROM bnd)
              THEN 0 ELSE 1 END AS half,
         event_type, CAST(COUNT(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2, 3
), dom AS (
  SELECT user_id, half, event_type AS lab FROM (
    SELECT user_id, half, event_type,
           ROW_NUMBER() OVER (PARTITION BY user_id, half
                              ORDER BY n DESC, event_type) AS rk
    FROM lab
  ) WHERE rk = 1
), pair AS (
  SELECT a.user_id, a.lab AS l1, b.lab AS l2
  FROM dom a JOIN dom b
    ON a.user_id = b.user_id AND a.half = 0 AND b.half = 1
), agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN l1 = l2 THEN 1 ELSE 0 END) AS BIGINT) AS n_agree
  FROM pair
), marg AS (
  SELECT CAST(ROUND(SUM(CAST(
           (CAST(c1 AS DOUBLE) / agg.n) * (CAST(c2 AS DOUBLE) / agg.n)
           AS DECIMAL(28,12))), 10) AS DOUBLE) AS p_e,
         MAX(agg.n) AS n, MAX(agg.n_agree) AS n_agree
  FROM (
    SELECT COALESCE(m1.lab, m2.lab) AS lab,
           COALESCE(c1, 0) AS c1, COALESCE(c2, 0) AS c2
    FROM (SELECT l1 AS lab, CAST(COUNT(*) AS BIGINT) AS c1
          FROM pair GROUP BY l1) m1
    FULL OUTER JOIN
         (SELECT l2 AS lab, CAST(COUNT(*) AS BIGINT) AS c2
          FROM pair GROUP BY l2) m2
      ON m1.lab = m2.lab
  ) CROSS JOIN agg
)
SELECT CAST(n AS BIGINT) AS n_users,
       ROUND(CAST(n_agree AS DOUBLE) / n, 6) AS p_observed,
       ROUND(p_e, 6) AS p_expected,
       ROUND((CAST(n_agree AS DOUBLE) / n - p_e) / (1.0 - p_e), 6)
         AS cohens_kappa
FROM marg
"""


@query("stats_cohens_kappa", oracle=_KAPPA_SQL)
def stats_cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between each user's DOMINANT event type in the
    first vs second half of the observation window — chance-corrected
    agreement κ = (p₀ − p_e)/(1 − p_e). The inter-rater statistic
    repurposed as a behavioral-stability readout (raw agreement
    overstates stability whenever one behavior dominates the
    marginals; κ subtracts exactly that) — and the same query shape
    scores labeler-vs-labeler or model-vs-model agreement on any
    (item, rater, label) table.

    Exactness: dominant labels via a deterministic (count DESC,
    type) rank inside bounded (user, half) groups; agreement and
    marginal counts are exact integers; each marginal product is
    decimal-quantized before the k-term p_e sum; the midpoint is the
    McNemar integer-µs convention.

    Scale: one (user, half, type) count shuffle, a user-keyed pair
    join, then k-row marginal algebra."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    bnd = ev.agg(
        F.expr("(unix_micros(MIN(ts)) + unix_micros(MAX(ts))) DIV 2").alias(
            "mid"
        )
    )
    lab = (
        ev.crossJoin(F.broadcast(bnd))
        .groupBy(
            "user_id",
            F.when(F.expr("unix_micros(ts)") < F.col("mid"), 0)
            .otherwise(1)
            .alias("half"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    w = Window.partitionBy("user_id", "half").orderBy(
        F.col("n").desc(), "event_type"
    )
    dom = (
        lab.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("user_id", "half", F.col("event_type").alias("lab"))
    )
    a = dom.filter(F.col("half") == 0).select(
        "user_id", F.col("lab").alias("l1")
    )
    b = dom.filter(F.col("half") == 1).select(
        F.col("user_id").alias("uid2"), F.col("lab").alias("l2")
    )
    pair = a.join(b, F.col("user_id") == F.col("uid2")).select("l1", "l2")
    agg = pair.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("l1") == F.col("l2"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_agree"),
    )
    m1 = pair.groupBy(F.col("l1").alias("lab")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c1")
    )
    m2 = pair.groupBy(F.col("l2").alias("lab")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c2")
    )
    marg = (
        m1.join(m2, "lab", "full")
        .select(
            F.coalesce("c1", F.lit(0)).alias("c1"),
            F.coalesce("c2", F.lit(0)).alias("c2"),
        )
        .crossJoin(F.broadcast(agg))
    )
    pe = marg.agg(
        F.round(
            F.sum(
                (
                    (F.col("c1").cast("double") / F.col("n"))
                    * (F.col("c2").cast("double") / F.col("n"))
                ).cast("decimal(28,12)")
            ),
            10,
        )
        .cast("double")
        .alias("p_e"),
        F.max("n").alias("n"),
        F.max("n_agree").alias("n_agree"),
    )
    po = F.col("n_agree").cast("double") / F.col("n")
    return pe.select(
        F.col("n").alias("n_users"),
        F.round(po, 6).alias("p_observed"),
        F.round("p_e", 6).alias("p_expected"),
        F.round((po - F.col("p_e")) / (1.0 - F.col("p_e")), 6).alias(
            "cohens_kappa"
        ),
    )

# ---------------------------------------------------------------------------
# Cochran–Armitage trend test
# ---------------------------------------------------------------------------


_CA_SQL = f"""
WITH g AS (
  SELECT CAST(substring(o_orderpriority, 1, 1) AS BIGINT) AS s,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(COUNT(*) FILTER (o_orderstatus = 'F') AS BIGINT) AS r
  FROM orders GROUP BY 1
), m AS (
  SELECT CAST(SUM(n) AS BIGINT) AS nn, CAST(SUM(r) AS BIGINT) AS rr,
         CAST(SUM(s * n) AS BIGINT) AS sn,
         CAST(SUM(s * s * n) AS BIGINT) AS ssn,
         CAST(SUM(s * r) AS BIGINT) AS sr
  FROM g
), z AS (
  SELECT nn, rr,
         (CAST(sr AS DOUBLE) - CAST(rr AS DOUBLE) * sn / nn) AS t,
         (CAST(rr AS DOUBLE) / nn) * (1.0 - CAST(rr AS DOUBLE) / nn)
           * (CAST(ssn AS DOUBLE) - CAST(sn AS DOUBLE) * sn / nn) AS v
  FROM m
)
SELECT nn AS n, rr AS n_success,
       ROUND(t / sqrt(v), 6) AS z_stat,
       ROUND(2.0 * {_phi_tail_sql("abs(t / sqrt(v))")}, 8) AS p_value
FROM z
"""


@query("stats_cochran_armitage", oracle=_CA_SQL)
def stats_cochran_armitage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran–Armitage trend test: is the 'F'-status proportion
    monotonically associated with order priority (scores 1..5 from
    the priority prefix)? The dose-response test a chi-square of
    independence wastes power on — one degree of freedom aimed at
    the ORDERED alternative. T = Σsᵢrᵢ − R·Σsᵢnᵢ/N with
    Var = p̄(1−p̄)(Σsᵢ²nᵢ − (Σsᵢnᵢ)²/N); all five moments are exact
    BIGINTs from one map-side-combined aggregate, the z and the
    Abramowitz–Stegun two-sided p are fixed double algebra at
    output (the BH normal-tail pattern).

    Scale: one scan, one 5-row group frame — nothing else."""
    od = load(spark, sf_dir, "orders")
    g = od.groupBy(
        F.substring("o_orderpriority", 1, 1).cast("bigint").alias("s")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.count(F.when(F.col("o_orderstatus") == "F", 1))
        .cast("bigint")
        .alias("r"),
    )
    m = g.agg(
        F.sum("n").cast("bigint").alias("nn"),
        F.sum("r").cast("bigint").alias("rr"),
        F.sum(F.col("s") * F.col("n")).cast("bigint").alias("sn"),
        F.sum(F.col("s") * F.col("s") * F.col("n")).cast("bigint").alias("ssn"),
        F.sum(F.col("s") * F.col("r")).cast("bigint").alias("sr"),
    )
    t = (
        F.col("sr").cast("double")
        - F.col("rr").cast("double") * F.col("sn") / F.col("nn")
    )
    v = (
        (F.col("rr").cast("double") / F.col("nn"))
        * (F.lit(1.0) - F.col("rr").cast("double") / F.col("nn"))
        * (
            F.col("ssn").cast("double")
            - F.col("sn").cast("double") * F.col("sn") / F.col("nn")
        )
    )
    tail = _phi_tail_col(F.abs(t / F.sqrt(v)))
    return m.select(
        F.col("nn").alias("n"),
        F.col("rr").alias("n_success"),
        F.round(t / F.sqrt(v), 6).alias("z_stat"),
        F.round(2.0 * tail, 8).alias("p_value"),
    )

# ---------------------------------------------------------------------------
# Wilson score confidence intervals
# ---------------------------------------------------------------------------

_WILSON_Z = 1.959963985

_WILSON_SQL = f"""
WITH assigned AS (
  SELECT user_id,
         CAST(('0x' || substring(md5('11:' || CAST(user_id AS VARCHAR)), 1, 8))
              AS BIGINT) % 2 AS arm,
         MAX(CASE WHEN event_type = 'purchase' AND value > 80
                  THEN 1 ELSE 0 END) AS converted
  FROM events GROUP BY user_id
), c AS (
  SELECT arm, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(converted) AS BIGINT) AS conv
  FROM assigned GROUP BY arm
), w AS (
  SELECT arm, n, conv,
         CAST(conv AS DOUBLE) / n AS p,
         {_WILSON_Z} * {_WILSON_Z} / n AS z2n
  FROM c
)
SELECT CAST(arm AS INT) AS arm, n, conv,
       ROUND(p, 6) AS p_hat,
       ROUND((p + z2n / 2.0
              - {_WILSON_Z} * sqrt(p * (1.0 - p) / n + z2n / (4.0 * n)))
             / (1.0 + z2n), 6) AS wilson_lo,
       ROUND((p + z2n / 2.0
              + {_WILSON_Z} * sqrt(p * (1.0 - p) / n + z2n / (4.0 * n)))
             / (1.0 + z2n), 6) AS wilson_hi
FROM w ORDER BY arm
"""


@query("stats_wilson_ci", oracle=_WILSON_SQL)
def stats_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson score 95% confidence intervals for each arm's
    conversion rate — the binomial interval that behaves at the
    extremes where the Wald interval collapses (never escapes [0,1],
    correct coverage at small n or p near 0/1); the per-arm readout
    next to the difference tests. Same md5 split and conversion
    rule as the z-test family.

    Exactness: exact integer counts; the interval is one fixed
    double formula per arm. Scale: one user-grain aggregate."""
    from ibd_pipeline_spark.queries.abtests import _assigned_users

    assigned = _assigned_users(spark, sf_dir)
    c = assigned.groupBy("arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("converted").cast("bigint").alias("conv"),
    )
    p = F.col("conv").cast("double") / F.col("n")
    z2n = F.lit(_WILSON_Z) * F.lit(_WILSON_Z) / F.col("n")
    rad = F.lit(_WILSON_Z) * F.sqrt(
        p * (F.lit(1.0) - p) / F.col("n") + z2n / (F.lit(4.0) * F.col("n"))
    )
    return c.select(
        F.col("arm").cast("int").alias("arm"),
        "n",
        "conv",
        F.round(p, 6).alias("p_hat"),
        F.round((p + z2n / 2.0 - rad) / (F.lit(1.0) + z2n), 6).alias("wilson_lo"),
        F.round((p + z2n / 2.0 + rad) / (F.lit(1.0) + z2n), 6).alias("wilson_hi"),
    ).orderBy("arm")

# ---------------------------------------------------------------------------
# Mutual information + Cramér's V (association strength)
# ---------------------------------------------------------------------------

_MI_SQL = """
WITH o AS (
  SELECT event_type AS t, ISODOW(ts) AS dow, CAST(COUNT(*) AS BIGINT) AS obs
  FROM events GROUP BY 1, 2
), tot AS (
  SELECT CAST(SUM(obs) AS BIGINT) AS n,
         CAST(COUNT(DISTINCT t) AS BIGINT) AS r_rows,
         CAST(COUNT(DISTINCT dow) AS BIGINT) AS c_cols
  FROM o
), rt AS (SELECT t, CAST(SUM(obs) AS BIGINT) AS row_tot FROM o GROUP BY t),
   ct AS (SELECT dow, CAST(SUM(obs) AS BIGINT) AS col_tot FROM o GROUP BY dow),
   terms AS (
  SELECT CAST(o.obs AS DOUBLE) AS od,
         CAST(rt.row_tot AS DOUBLE) AS rtd,
         CAST(ct.col_tot AS DOUBLE) AS ctd,
         CAST(tot.n AS DOUBLE) AS nd
  FROM o JOIN rt ON rt.t = o.t JOIN ct ON ct.dow = o.dow CROSS JOIN tot
)
SELECT tot.n AS n, tot.r_rows AS r_rows, tot.c_cols AS c_cols,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM o) AS n_cells,
       (SELECT CAST(ROUND(SUM(CAST(
            od / nd * ln(od * nd / (rtd * ctd)) AS DECIMAL(28,8))), 6)
          AS DOUBLE) FROM terms) AS mi_nats,
       (SELECT ROUND(SQRT(
            SUM((od - rtd * ctd / nd) * (od - rtd * ctd / nd)
                / (rtd * ctd / nd))
            / (MAX(nd) * (CASE WHEN tot.r_rows < tot.c_cols
                               THEN tot.r_rows ELSE tot.c_cols END - 1))), 6)
          FROM terms) AS cramers_v
FROM tot
"""


@query("stats_mutual_information", oracle=_MI_SQL)
def stats_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information (nats) and Cramér's V between event_type and
    ISO day-of-week — the association-STRENGTH readouts beside
    stats_chi_square_independence's yes/no: MI = Σ p_ij·ln(p_ij/p_i·p_j)
    over the contingency cells, V = √(χ²/(n·(min(r,c)−1))).

    Margins come from two cell-frame aggregates broadcast back (no
    window at all — the chi² query's window-margin idiom replaced so
    the plan has zero unpartitioned windows even on the cell frame).
    Each MI term is the identical double chain in both engines
    (counts exact, one ln per cell) decimal-cast before the
    order-independent sum; χ² inside V uses the same per-cell decimal
    discipline, with √ as the final single IEEE op.

    Scale: one map-side-combined count shuffle on ~35 keys; margins
    and folds run on the cell frame."""
    ev = load(spark, sf_dir, "events")
    obs = ev.groupBy(
        F.col("event_type").alias("t"),
        (F.weekday("ts") + F.lit(1)).alias("dow"),
    ).agg(F.count(F.lit(1)).alias("obs"))
    rt = obs.groupBy("t").agg(F.sum("obs").alias("row_tot"))
    ct = obs.groupBy("dow").agg(F.sum("obs").alias("col_tot"))
    tot = obs.agg(
        F.sum("obs").cast("bigint").alias("n"),
        F.countDistinct("t").cast("bigint").alias("r_rows"),
        F.countDistinct("dow").cast("bigint").alias("c_cols"),
    )
    cells = (
        obs.join(F.broadcast(rt), "t")
        .join(F.broadcast(ct), "dow")
        .crossJoin(F.broadcast(tot))
    )
    od = F.col("obs").cast("double")
    rtd = F.col("row_tot").cast("double")
    ctd = F.col("col_tot").cast("double")
    nd = F.col("n").cast("double")
    mi_term = od / nd * F.log(od * nd / (rtd * ctd))
    e = rtd * ctd / nd
    chi_term = (od - e) * (od - e) / e
    return cells.groupBy("n", "r_rows", "c_cols").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        F.round(F.sum(mi_term.cast("decimal(28,8)")), 6)
        .cast("double")
        .alias("mi_nats"),
        F.round(
            F.sqrt(
                F.sum(chi_term.cast("decimal(28,8)")).cast("double")
                / (
                    F.max(nd)
                    * (F.least(F.col("r_rows"), F.col("c_cols")) - 1).cast(
                        "double"
                    )
                )
            ),
            6,
        ).alias("cramers_v"),
    )

# ---------------------------------------------------------------------------
# Two-sample Poisson rate z-test (rate drift between window halves)
# ---------------------------------------------------------------------------

_POIS_SQL = f"""
WITH bounds AS (
  SELECT CAST(MIN(CAST(ts AS DATE)) AS DATE) AS d0,
         CAST(MIN(CAST(ts AS DATE)) AS DATE)
           + INTERVAL (CAST(date_diff('day', MIN(CAST(ts AS DATE)),
                                      MAX(CAST(ts AS DATE))) / 2 AS INT)) DAY
           AS split_day
  FROM events
), halves AS (
  SELECT e.event_type,
         CASE WHEN CAST(e.ts AS DATE) <= b.split_day
              THEN 'early' ELSE 'late' END AS half,
         CAST(e.ts AS DATE) AS day
  FROM events e, bounds b
), c AS (
  SELECT event_type,
         CAST(SUM(CASE WHEN half = 'early' THEN 1 ELSE 0 END) AS BIGINT)
           AS c_early,
         CAST(SUM(CASE WHEN half = 'late' THEN 1 ELSE 0 END) AS BIGINT)
           AS c_late
  FROM halves GROUP BY event_type
), expo AS (
  SELECT
    CAST(COUNT(DISTINCT CASE WHEN half = 'early' THEN day END) AS BIGINT)
      AS t_early,
    CAST(COUNT(DISTINCT CASE WHEN half = 'late' THEN day END) AS BIGINT)
      AS t_late
  FROM halves
), z AS (
  SELECT c.event_type, c.c_early, c.c_late, e.t_early, e.t_late,
         (CAST(c.c_early AS DOUBLE) / e.t_early
          - CAST(c.c_late AS DOUBLE) / e.t_late)
         / sqrt(CAST(c.c_early AS DOUBLE) / (e.t_early * e.t_early)
                + CAST(c.c_late AS DOUBLE) / (e.t_late * e.t_late)) AS z_stat
  FROM c, expo e
)
SELECT event_type, c_early, c_late, t_early, t_late,
       ROUND(CAST(c_early AS DOUBLE) / t_early, 6) AS rate_early,
       ROUND(CAST(c_late AS DOUBLE) / t_late, 6) AS rate_late,
       ROUND(z_stat, 6) AS z_stat,
       ROUND(2.0 * {_phi_tail_sql('ABS(z_stat)')}, 8) AS p_value
FROM z ORDER BY event_type
"""


@query("stats_poisson_rate_ztest", oracle=_POIS_SQL)
def stats_poisson_rate_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Poisson rate z-test per event type: did the
    DAILY ARRIVAL RATE drift between the first and second half of
    the observed window? Exposure-corrected (counts divided by the
    actual distinct days in each half, data-derived — an uneven
    split or missing days never biases the test), unlike the naive
    raw-count comparison. z = (λ̂₁−λ̂₂)/√(c₁/T₁² + c₂/T₂²) — the
    standard unconditional rate test; p from the shared normal tail.

    Scale: one scan → per-type counts (5 groups, map-side combine)
    + one distinct-day frame (day-grain). All inputs to the double
    algebra are exact integers.
    """
    ev = load(spark, sf_dir, "events").select(
        "event_type", F.to_date(F.date_trunc("day", "ts")).alias("day")
    )
    bounds = ev.agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    ).select(
        F.date_add(
            F.col("d0"),
            (F.datediff(F.col("d1"), F.col("d0")) / 2).cast("int"),
        ).alias("split_day")
    )
    halves = ev.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        "day",
        F.when(F.col("day") <= F.col("split_day"), "early")
        .otherwise("late")
        .alias("half"),
    )
    c = halves.groupBy("event_type").agg(
        F.sum((F.col("half") == "early").cast("int"))
        .cast("bigint")
        .alias("c_early"),
        F.sum((F.col("half") == "late").cast("int"))
        .cast("bigint")
        .alias("c_late"),
    )
    expo = halves.agg(
        F.count_distinct(
            F.when(F.col("half") == "early", F.col("day"))
        )
        .cast("bigint")
        .alias("t_early"),
        F.count_distinct(F.when(F.col("half") == "late", F.col("day")))
        .cast("bigint")
        .alias("t_late"),
    )
    z = c.crossJoin(F.broadcast(expo)).select(
        "event_type",
        "c_early",
        "c_late",
        "t_early",
        "t_late",
        (
            (
                F.col("c_early").cast("double") / F.col("t_early")
                - F.col("c_late").cast("double") / F.col("t_late")
            )
            / F.sqrt(
                F.col("c_early").cast("double")
                / (F.col("t_early") * F.col("t_early"))
                + F.col("c_late").cast("double")
                / (F.col("t_late") * F.col("t_late"))
            )
        ).alias("z_stat"),
    )
    return z.select(
        "event_type",
        "c_early",
        "c_late",
        "t_early",
        "t_late",
        F.round(F.col("c_early").cast("double") / F.col("t_early"), 6).alias(
            "rate_early"
        ),
        F.round(F.col("c_late").cast("double") / F.col("t_late"), 6).alias(
            "rate_late"
        ),
        F.round("z_stat", 6).alias("z_stat"),
        F.round(
            2.0 * _phi_tail_col(F.abs(F.col("z_stat"))), 8
        ).alias("p_value"),
    ).orderBy("event_type")
