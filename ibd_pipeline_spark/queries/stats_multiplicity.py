"""Multiple-testing control and p-value combination (r15 seam
split of stats2.py — registry names, semantics, and oracles
unchanged): step-up FDR (BH, BY), step-down FWER (Holm), and
Fisher/Stouffer combination. Rank machinery is one window over the
p-value family (model-state sized). No reference analog; SURVEY §2.2
north-star rows.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window  # noqa: F401
from ibd_pipeline_spark.catalog import load
from ibd_pipeline_spark.normal_tail import _phi_tail_col, _phi_tail_sql
from ibd_pipeline_spark.queries import query

# ---------------------------------------------------------------------------
# The family every query here corrects or combines: one two-sided z-test
# per part brand, the brand's return rate against the corpus rate.
# ---------------------------------------------------------------------------


def _brand_pvalues(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(brand, n, az, p_value): lines per brand, |z| and the two-sided
    p-value from the Zelen-Severo normal tail, rounded to 8 (identical
    doubles on both engines)."""
    li = load(spark, sf_dir, "lineitem").select("l_partkey", "l_returnflag")
    part = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    b = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
            .cast("bigint")
            .alias("r"),
        )
    )
    tot = b.agg(
        F.sum("n").cast("bigint").alias("nt"),
        F.sum("r").cast("bigint").alias("rt"),
    )
    p0 = F.col("rt").cast("double") / F.col("nt")
    az = F.abs(
        (F.col("r").cast("double") / F.col("n") - p0)
        / F.sqrt(p0 * (1.0 - p0) / F.col("n"))
    )
    zt = b.crossJoin(F.broadcast(tot)).select("brand", "n", az.alias("az"))
    return zt.select(
        "brand",
        "n",
        "az",
        F.round(2.0 * _phi_tail_col(F.col("az")), 8).alias("p_value"),
    )


def _pvalue_ranks(pv: DataFrame) -> DataFrame:
    """pv plus `rank`: ascending p-value, ties by brand, from a
    triangular self-join over the brand-bounded frame (window-free).
    One side is broadcast so the non-equi join plans as BNLJ, never a
    partitioned cartesian."""
    a, c = pv.alias("a"), pv.alias("c")
    return (
        a.join(
            F.broadcast(c),
            (F.col("c.p_value") < F.col("a.p_value"))
            | (
                (F.col("c.p_value") == F.col("a.p_value"))
                & (F.col("c.brand") <= F.col("a.brand"))
            ),
        )
        .groupBy("a.brand", "a.n", "a.az", "a.p_value")
        .agg(F.count(F.lit(1)).cast("bigint").alias("rank"))
    )


# The oracle twin: `pv` is _brand_pvalues, `rk` is _pvalue_ranks plus
# the family size m.
_BRAND_RANKS_SQL = f"""
WITH b AS (
  SELECT p.p_brand AS brand,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END)
              AS BIGINT) AS r
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  GROUP BY p.p_brand
), tot AS (
  SELECT CAST(SUM(n) AS BIGINT) AS nt, CAST(SUM(r) AS BIGINT) AS rt FROM b
), zt AS (
  SELECT brand, n,
         ABS((CAST(r AS DOUBLE) / n - CAST(rt AS DOUBLE) / nt)
             / sqrt((CAST(rt AS DOUBLE) / nt)
                    * (1.0 - CAST(rt AS DOUBLE) / nt) / n)) AS az
  FROM b CROSS JOIN tot
), pv AS (
  SELECT brand, n, az, ROUND(2.0 * {_phi_tail_sql("az")}, 8) AS p_value
  FROM zt
), rk AS (
  SELECT a.brand, a.n, a.az, a.p_value,
         CAST(COUNT(*) AS BIGINT) AS rank,
         CAST(MAX(cnt.m) AS BIGINT) AS m
  FROM pv a
  JOIN pv c ON (c.p_value < a.p_value)
            OR (c.p_value = a.p_value AND c.brand <= a.brand)
  CROSS JOIN (SELECT COUNT(*) AS m FROM pv) cnt
  GROUP BY a.brand, a.n, a.az, a.p_value
)"""

# ---------------------------------------------------------------------------
# Benjamini–Yekutieli FDR under arbitrary dependence (brand z-tests)
# ---------------------------------------------------------------------------

_BY_Q_NUM, _BY_Q_DEN = 1, 10  # q = 0.10, the BH family convention


def _by_oracle() -> str:
    return _BRAND_RANKS_SQL + f""", mc AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS m,
         CAST((SELECT CAST(ROUND(SUM(
                 CAST(1.0 / CAST(i AS DOUBLE) AS DECIMAL(28,12))), 10)
               AS DOUBLE)
               FROM range(1, 100001) t(i)
               WHERE i <= (SELECT COUNT(*) FROM pv)) AS DOUBLE)
           AS cm
  FROM pv
), kmax AS (
  SELECT COALESCE(MAX(rank), 0) AS kmax
  FROM rk CROSS JOIN mc
  WHERE p_value * mc.m * cm * {_BY_Q_DEN} <= rank * {_BY_Q_NUM}
)
SELECT brand, n, ROUND(az, 6) AS z_stat, p_value,
       CAST(rank AS INT) AS p_rank,
       ROUND((SELECT cm FROM mc), 10) AS c_m,
       rank <= kmax.kmax AS rejected
FROM rk, kmax
ORDER BY brand
"""


@query("stats_benjamini_yekutieli", oracle=_by_oracle)
def stats_benjamini_yekutieli(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini–Yekutieli FDR control (q = 0.10) over the SAME
    per-brand z-test family as BH and Holm — the third corner of the
    multiple-testing belt: BY's harmonic penalty c(m) = Σ 1/i makes
    the FDR guarantee hold under ARBITRARY dependence between tests
    (brand return rates share the corpus denominator, so they are
    dependent — exactly BY's regime; BH assumes positive dependence
    and is reported as triage).

    Exactness: c(m) sums decimal-quantized harmonic terms
    (order-independent; rounded at 10 in the decimal domain); the
    step-up inequality p·m·c(m)·10 ≤ rank is evaluated on identical
    doubles both engines; ranks via the brand-bounded triangular
    join (window-free).

    Scale: identical plan shape to BH — one fact-dim join, m-row
    algebra after."""
    pv = _brand_pvalues(spark, sf_dir)
    mc = pv.agg(F.count(F.lit(1)).cast("bigint").alias("m")).select(
        "m",
        F.round(
            F.expr(
                "aggregate(transform(sequence(1, CAST(m AS INT)),"
                " i -> CAST(1.0 / CAST(i AS DOUBLE) AS DECIMAL(28,12))),"
                " CAST(0 AS DECIMAL(28,12)),"
                " (acc, x) -> CAST(acc + x AS DECIMAL(28,12)))"
            ),
            10,
        )
        .cast("double")
        .alias("cm"),
    )
    rk = _pvalue_ranks(pv).crossJoin(F.broadcast(mc))
    kmax = rk.filter(
        F.col("p_value") * F.col("m") * F.col("cm") * _BY_Q_DEN
        <= F.col("rank") * _BY_Q_NUM
    ).agg(F.coalesce(F.max("rank"), F.lit(0)).alias("kmax"))
    return (
        rk.crossJoin(F.broadcast(kmax))
        .select(
            "brand",
            "n",
            F.round("az", 6).alias("z_stat"),
            "p_value",
            F.col("rank").cast("int").alias("p_rank"),
            F.round("cm", 10).alias("c_m"),
            (F.col("rank") <= F.col("kmax")).alias("rejected"),
        )
        .orderBy("brand")
    )

# ---------------------------------------------------------------------------
# Combined p-values: Fisher's method + Stouffer's Z (brand z-tests)
# ---------------------------------------------------------------------------

_COMBINED_SQL = _BRAND_RANKS_SQL + f""", agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS m,
         CAST(ROUND(SUM(CAST(-2.0 * ln(p_value) AS DECIMAL(28,10))), 6)
              AS DOUBLE) AS fisher_stat,
         CAST(ROUND(SUM(CAST(az AS DECIMAL(28,10))), 6) AS DOUBLE) AS sz
  FROM pv
), s AS (
  SELECT m, fisher_stat, sz / sqrt(CAST(m AS DOUBLE)) AS stouffer_z,
         (exp(ln(fisher_stat / (2.0 * m)) / 3.0)
          - (1.0 - 2.0 / (9.0 * (2.0 * m))))
           * sqrt(9.0 * (2.0 * m) / 2.0) AS whz
  FROM agg
)
SELECT CAST(m AS INT) AS n_tests,
       ROUND(fisher_stat, 6) AS fisher_stat,
       CAST(2 * m AS INT) AS fisher_df,
       ROUND({_phi_tail_sql('whz')}, 8) AS fisher_p_wh,
       ROUND(stouffer_z, 6) AS stouffer_z,
       ROUND({_phi_tail_sql('ABS(stouffer_z)')}, 8) AS stouffer_p_onesided
FROM s
"""


@query("stats_combined_pvalues", oracle=_COMBINED_SQL)
def stats_combined_pvalues(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Meta-analytic p-value COMBINATION over the per-brand z-test
    family — the question BH/Holm/BY don't answer: not "which brands
    deviate" but "is there any global deviation at all". Fisher's
    method X = −2·Σ ln pᵢ ~ χ²(2m) (sensitive to a few strong
    signals) and Stouffer's Z = Σzᵢ/√m (sensitive to many weak
    ones, directionless here since |z| is used) — reporting both is
    the standard meta-analysis practice. Fisher's p via the shared
    Wilson–Hilferty cube-root normal (the G-test precedent; exact
    closed forms need df/2 = m factorial terms that overflow
    integer arithmetic at m = 25).

    Exactness: each −2·ln p and z term is decimal-quantized before
    the m-term fold; p-values themselves are the ROUNDED family
    p-values (identical doubles both engines by construction).

    Scale: one fact-dim join; everything after is m-row algebra."""
    pv = _brand_pvalues(spark, sf_dir)
    agg = pv.agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.round(
            F.sum((-2.0 * F.log("p_value")).cast("decimal(28,10)")), 6
        )
        .cast("double")
        .alias("fisher_stat"),
        F.round(F.sum(F.col("az").cast("decimal(28,10)")), 6)
        .cast("double")
        .alias("sz"),
    )
    md = F.col("m").cast("double")
    df2 = 2.0 * md
    whz = (
        F.exp(F.log(F.col("fisher_stat") / df2) / 3.0)
        - (1.0 - 2.0 / (9.0 * df2))
    ) * F.sqrt(9.0 * df2 / 2.0)
    stz = F.col("sz") / F.sqrt(md)
    return agg.select(
        F.col("m").cast("int").alias("n_tests"),
        F.round("fisher_stat", 6).alias("fisher_stat"),
        (2 * F.col("m")).cast("int").alias("fisher_df"),
        F.round(_phi_tail_col(whz), 8).alias("fisher_p_wh"),
        F.round(stz, 6).alias("stouffer_z"),
        F.round(_phi_tail_col(F.abs(stz)), 8).alias("stouffer_p_onesided"),
    )

# ---------------------------------------------------------------------------
# Holm-Bonferroni step-down (FWER control over the BH z-test family)
# ---------------------------------------------------------------------------

_HOLM_ALPHA_NUM, _HOLM_ALPHA_DEN = 1, 20  # alpha = 0.05, cross-multiplied

_HOLM_SQL = _BRAND_RANKS_SQL + f""", holm AS (
  SELECT a.brand, a.n, a.az, a.p_value, a.rank, a.m,
         LEAST(1.0, MAX((a.m - c.rank + 1) * c.p_value)) AS holm_p,
         MIN(CASE WHEN c.p_value * (a.m - c.rank + 1) * {_HOLM_ALPHA_DEN}
                       <= {_HOLM_ALPHA_NUM} THEN 1 ELSE 0 END) AS rej
  FROM rk a JOIN rk c ON c.rank <= a.rank
  GROUP BY a.brand, a.n, a.az, a.p_value, a.rank, a.m
)
SELECT brand, n, ROUND(az, 6) AS z_stat, p_value,
       CAST(rank AS INT) AS p_rank,
       ROUND(holm_p, 8) AS holm_p,
       rej = 1 AS rejected
FROM holm ORDER BY brand
"""


@query("stats_holm_bonferroni", oracle=_HOLM_SQL)
def stats_holm_bonferroni(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holm-Bonferroni step-down over the SAME per-brand z-test family
    as stats_benjamini_hochberg — the FWER-controlling sibling (no
    false positive at all with prob ≥ 1−α) beside BH's FDR control:
    order the m p-values ascending; reject while p(i) ≤ α/(m−i+1);
    the first failure stops everything after it. Adjusted p̃(i) =
    max_{j≤i} min(1, (m−j+1)·p(j)). Running both on one family is the
    standard analyst report (Holm for ship/no-ship, BH for triage).

    Exactness: p-values are the Zelen-Severo polynomial rounded to 8
    (identical on both engines); ranks and the prefix min/max ride
    TRIANGULAR JOINS over the brand-bounded frame (m = |brands| —
    catalog metadata, window-free); the step-down inequality is
    evaluated cross-multiplied in exact arithmetic (p·(m−i+1)·20 ≤ 1).

    Scale: one fact-dimension join + per-brand counts (map-side
    combined); everything after runs on m rows."""
    pv = _brand_pvalues(spark, sf_dir)
    rk = _pvalue_ranks(pv)
    m = pv.agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    rk = rk.crossJoin(F.broadcast(m))
    ra = rk.select(
        F.col("brand"), F.col("n"), F.col("az"), F.col("p_value"),
        F.col("rank"), F.col("m"),
    ).alias("ra")
    rc = rk.select(
        F.col("rank").alias("c_rank"), F.col("p_value").alias("c_p")
    ).alias("rc")
    holm = (
        ra.join(F.broadcast(rc), F.col("c_rank") <= F.col("rank"))
        .groupBy("brand", "n", "az", "p_value", "rank", "m")
        .agg(
            F.least(
                F.lit(1.0),
                F.max((F.col("m") - F.col("c_rank") + 1) * F.col("c_p")),
            ).alias("holm_p"),
            F.min(
                F.when(
                    F.col("c_p")
                    * (F.col("m") - F.col("c_rank") + 1)
                    * _HOLM_ALPHA_DEN
                    <= _HOLM_ALPHA_NUM,
                    1,
                ).otherwise(0)
            ).alias("rej"),
        )
    )
    return holm.select(
        "brand",
        "n",
        F.round("az", 6).alias("z_stat"),
        "p_value",
        F.col("rank").cast("int").alias("p_rank"),
        F.round("holm_p", 8).alias("holm_p"),
        (F.col("rej") == 1).alias("rejected"),
    ).orderBy("brand")

# ---------------------------------------------------------------------------
# Benjamini–Hochberg FDR control over per-brand return-rate tests
# ---------------------------------------------------------------------------

_BH_Q_NUM, _BH_Q_DEN = 1, 10  # q = 0.10


_BH_SQL = _BRAND_RANKS_SQL + f""", kmax AS (
  SELECT COALESCE(MAX(rank), 0) AS kmax
  FROM rk WHERE p_value * m * {_BH_Q_DEN} <= rank * {_BH_Q_NUM}
)
SELECT brand, n, ROUND(az, 6) AS z_stat, p_value,
       CAST(rank AS INT) AS p_rank,
       rank <= kmax.kmax AS rejected
FROM rk, kmax
ORDER BY brand
"""


@query("stats_benjamini_hochberg", oracle=_BH_SQL)
def stats_benjamini_hochberg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini–Hochberg FDR control (q = 0.10) over one z-test per
    part brand (brand return rate vs the corpus rate) — the multiple-
    testing guardrail every metrics platform needs once it runs one
    test per segment: order the m p-values, find the largest k with
    p(k) ≤ k·q/m, reject ranks ≤ k. The BH inequality is evaluated in
    CROSS-MULTIPLIED integer-scaled form (p·m·10 ≤ rank·1), p-values
    come from the Zelen–Severo normal-CDF polynomial (plain exp +
    double algebra both engines evaluate identically, error < 7.5e-8,
    rounded to 8), and ranks come from a triangular self-join over
    the BRAND-bounded frame (catalog metadata, window-free).

    Scale: one fact-dimension join + per-brand counts (map-side
    combined); everything after runs on m = |brands| rows."""
    pv = _brand_pvalues(spark, sf_dir)
    rk = _pvalue_ranks(pv)
    m = pv.agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    rk = rk.crossJoin(F.broadcast(m))
    kmax = rk.filter(
        F.col("p_value") * F.col("m") * _BH_Q_DEN
        <= F.col("rank") * _BH_Q_NUM
    ).agg(F.coalesce(F.max("rank"), F.lit(0)).alias("kmax"))
    return (
        rk.crossJoin(F.broadcast(kmax))
        .select(
            F.col("brand"),
            F.col("n"),
            F.round("az", 6).alias("z_stat"),
            "p_value",
            F.col("rank").cast("int").alias("p_rank"),
            (F.col("rank") <= F.col("kmax")).alias("rejected"),
        )
        .orderBy("brand")
    )
