"""Round-13 rank/trend hypothesis tests: Cochran's Q (binary repeated
measures), Wilcoxon signed-rank (paired halves), Jonckheere–Terpstra
(ordered-alternative trend across groups).

All three follow the registry float discipline: every statistic is
built from EXACT integer (or exact-decimal) aggregates — presence
counts, mid-rank identities on the distinct-value frame
(2·avg_rank = 2·cum − t + 1, the MWU trick), pairwise-precedence
counts off one multi-weight prefix scan — with doubles entering only
in the final closed-form z/p chain, which both engines evaluate
bit-identically on bit-identical inputs (Zelen & Severo Φ tail /
even-df χ² closed form).

No reference analog (the reference computes streaming
means/max/stddev only — `spark_processor.py:153-164`); SURVEY §2.2
north-star rows.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ibd_pipeline_spark.catalog import load
from ibd_pipeline_spark.normal_tail import _phi_tail_col, _phi_tail_sql
from ibd_pipeline_spark.queries import query
from ibd_pipeline_spark.sqltext import sum_chain

# ---------------------------------------------------------------------------
# Cochran's Q: k=3 binary repeated measures (did the user view/click/
# purchase at all?) across user blocks
# ---------------------------------------------------------------------------

_COCHRAN_Q_SQL = """
WITH pres AS (
  SELECT DISTINCT user_id, event_type
  FROM events
  WHERE event_type IN ('view', 'click', 'purchase') AND value > 200
), r AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS ru FROM pres GROUP BY user_id
), ra AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_blocks,
         CAST(SUM(ru) AS BIGINT) AS t,
         CAST(SUM(ru * ru) AS BIGINT) AS sr2
  FROM r
), ca AS (
  SELECT CAST(SUM(cj * cj) AS BIGINT) AS sc2
  FROM (SELECT CAST(COUNT(*) AS BIGINT) AS cj FROM pres GROUP BY event_type)
), s AS (
  SELECT n_blocks, t, sc2,
         CAST(6 * sc2 - 2 * t * t AS DOUBLE)
           / CAST(3 * t - sr2 AS DOUBLE) AS q
  FROM ra CROSS JOIN ca
)
SELECT n_blocks, t AS total_successes, sc2 AS sum_coltot_sq,
       ROUND(q, 6) AS q_stat,
       ROUND(exp(-q / 2.0), 8) AS p_value
FROM s
"""


@query("stats_cochran_q", oracle=_COCHRAN_Q_SQL)
def stats_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q test for k=3 binary repeated measures: blocks are
    users, treatments are funnel actions (view / click / purchase),
    response is "did the user perform a HIGH-VALUE (value > 200)
    action of that type" — the unthresholded presence bit is 1
    almost everywhere at test volumes (every block all-ones ⇒ the
    denominator kT − ΣRᵤ² degenerates to 0, Q undefined). Q tests
    whether the three success rates differ across the SAME subjects —
    the k-treatment generalization of McNemar (ab_mcnemar_paired is
    exactly the k=2 case, and Q reduces to its uncorrected χ² there).

    Exactness: Q = [k(k−1)·ΣCⱼ² − (k−1)·T²] / (k·T − ΣRᵤ²) is a ratio
    of two INTEGERS (column-total squares, row-sum squares, grand
    total) — one double division, then the exact even-df χ²(2) tail
    e^(−Q/2); no float accumulation anywhere.

    Scale: one distinct on (user, type) — a map-side-combinable
    shuffle on the pair key — then two independent catalog-sized
    aggregates (per-user row sums, 3-row column totals). Block count
    never materializes per-block state beyond the groupBy.
    """
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "click", "purchase")
        & (F.col("value") > 200)
    )
    pres = ev.select("user_id", "event_type").distinct()
    ra = (
        pres.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("ru"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
            F.sum("ru").cast("bigint").alias("t"),
            F.sum(F.col("ru") * F.col("ru")).cast("bigint").alias("sr2"),
        )
    )
    ca = (
        pres.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("cj"))
        .agg(F.sum(F.col("cj") * F.col("cj")).cast("bigint").alias("sc2"))
    )
    s = ra.crossJoin(F.broadcast(ca))
    q = (6 * F.col("sc2") - 2 * F.col("t") * F.col("t")).cast("double") / (
        3 * F.col("t") - F.col("sr2")
    ).cast("double")
    return s.select(
        "n_blocks",
        F.col("t").alias("total_successes"),
        F.col("sc2").alias("sum_coltot_sq"),
        F.round(q, 6).alias("q_stat"),
        F.round(F.exp(-q / F.lit(2.0)), 8).alias("p_value"),
    )


# ---------------------------------------------------------------------------
# Wilcoxon signed-rank: per-user paired halves (first vs second half of
# the window), mid-ranks on |d| via the distinct-value prefix scan
# ---------------------------------------------------------------------------

def _window_halves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, s1, s2): each user's exact-decimal `value` total in
    the first and the second half of the window, split at the
    integer-µs midpoint (the McNemar pairing)."""
    ev = load(spark, sf_dir, "events")
    mid = ev.agg(
        F.expr("(unix_micros(MIN(ts)) + unix_micros(MAX(ts))) DIV 2").alias(
            "mid"
        )
    )
    zero = F.lit(0).cast("decimal(28,8)")
    return (
        ev.crossJoin(F.broadcast(mid))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(
                    F.expr("unix_micros(ts)") < F.col("mid"),
                    F.col("value").cast("decimal(28,8)"),
                ).otherwise(zero)
            ).alias("s1"),
            F.sum(
                F.when(
                    F.expr("unix_micros(ts)") >= F.col("mid"),
                    F.col("value").cast("decimal(28,8)"),
                ).otherwise(zero)
            ).alias("s2"),
        )
    )


# The oracle twin of _window_halves: `u`.
_HALVES_SQL = """
WITH bnd AS (
  SELECT (epoch_us(MIN(CAST(ts AS TIMESTAMP)))
          + epoch_us(MAX(CAST(ts AS TIMESTAMP)))) // 2 AS mid
  FROM events
), u AS (
  SELECT user_id,
    SUM(CASE WHEN epoch_us(CAST(ts AS TIMESTAMP)) < mid
             THEN CAST(value AS DECIMAL(28,8))
             ELSE CAST(0 AS DECIMAL(28,8)) END) AS s1,
    SUM(CASE WHEN epoch_us(CAST(ts AS TIMESTAMP)) >= mid
             THEN CAST(value AS DECIMAL(28,8))
             ELSE CAST(0 AS DECIMAL(28,8)) END) AS s2
  FROM events CROSS JOIN bnd GROUP BY user_id
)"""

_WILCOXON_SQL = _HALVES_SQL + f""", d AS (
  SELECT s2 - s1 AS d FROM u WHERE s2 <> s1
), pv AS (
  SELECT ABS(d) AS ad,
         CAST(SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS cpos,
         CAST(COUNT(*) AS BIGINT) AS t
  FROM d GROUP BY ABS(d)
), r AS (
  SELECT ad, cpos, t, SUM(t) OVER (ORDER BY ad) AS cum FROM pv
), agg AS (
  SELECT CAST(SUM(t) AS BIGINT) AS n,
         CAST(SUM(cpos * (2 * cum - t + 1)) AS BIGINT) AS wplus_x2,
         CAST(SUM(t * t * t - t) AS BIGINT) AS tie3
  FROM r
), s AS (
  SELECT n, wplus_x2,
         (CAST(wplus_x2 AS DOUBLE) - CAST(n AS DOUBLE) * (n + 1) / 2.0)
         / (2.0 * sqrt(CAST(n AS DOUBLE) * (n + 1) * (2 * n + 1) / 24.0
                       - CAST(tie3 AS DOUBLE) / 48.0)) AS z
  FROM agg
)
SELECT n AS n_pairs, wplus_x2,
       ROUND(z, 6) AS z_stat,
       ROUND(LEAST(1.0, 2.0 * {_phi_tail_sql('abs(z)')}), 8) AS p_value
FROM s
"""


@query("stats_wilcoxon_signed_rank", oracle=_WILCOXON_SQL)
def stats_wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank test on paired per-user activity: each
    user's total `value` in the first vs second half of the window
    (integer-µs midpoint, the McNemar pairing), d = second − first as
    an EXACT decimal (difference of exact decimal sums, zero diffs
    dropped per the standard procedure). The paired-magnitude
    counterpart of ab_mcnemar_paired's flip test and the one-sample
    sibling of stats_mann_whitney_u.

    Exactness: mid-ranks of |d| never materialize halves — on the
    distinct-|d| frame, Σ over positive pairs of 2·avg_rank =
    Σ cpos·(2·cum − t + 1) is an exact INTEGER (2·W⁺); the normal
    approximation uses the textbook tie-corrected variance
    n(n+1)(2n+1)/24 − Σ(t³−t)/48 from integer aggregates, and the z/p
    chain is the shared Φ-tail polynomial.

    Scale: one groupBy(user) builds the pairs (map-side combined);
    ranking is the distributed rank-from-prefix-sum spine
    (operators/ranking.py:with_global_prefix_sums) over the
    distinct-|d| frame — no global window, no row sort; everything
    after runs on one aggregate row.
    """
    from ibd_pipeline_spark.operators.ranking import with_global_prefix_sums

    u = _window_halves(spark, sf_dir)
    d = u.filter(F.col("s2") != F.col("s1")).select(
        (F.col("s2") - F.col("s1")).alias("d")
    )
    pv = d.groupBy(F.abs(F.col("d")).alias("ad")).agg(
        F.sum(F.when(F.col("d") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("cpos"),
        F.count(F.lit(1)).cast("bigint").alias("t"),
    )
    cum = with_global_prefix_sums(pv, ["ad"], ["t"])
    agg = cum.agg(
        F.sum("t").cast("bigint").alias("n"),
        F.sum(F.col("cpos") * (2 * F.col("_cum_t") - F.col("t") + F.lit(1)))
        .cast("bigint")
        .alias("wplus_x2"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .cast("bigint")
        .alias("tie3"),
    )
    nd = F.col("n").cast("double")
    z = (
        F.col("wplus_x2").cast("double")
        - nd * (F.col("n") + F.lit(1)) / F.lit(2.0)
    ) / (
        F.lit(2.0)
        * F.sqrt(
            nd * (F.col("n") + F.lit(1)) * (2 * F.col("n") + F.lit(1))
            / F.lit(24.0)
            - F.col("tie3").cast("double") / F.lit(48.0)
        )
    )
    return agg.select(
        F.col("n").alias("n_pairs"),
        "wplus_x2",
        F.round(z, 6).alias("z_stat"),
        F.round(
            F.least(F.lit(1.0), 2.0 * _phi_tail_col(F.abs(z))), 8
        ).alias("p_value"),
    )


# ---------------------------------------------------------------------------
# Jonckheere–Terpstra: ordered-alternative trend in `value` across the
# funnel depth ordering view < click < purchase
# ---------------------------------------------------------------------------

_JT_SQL = f"""
WITH s AS (
  SELECT value AS v,
         CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2
              ELSE 3 END AS g
  FROM events
  WHERE event_type IN ('view', 'click', 'purchase') AND value IS NOT NULL
), pv AS (
  SELECT v,
         CAST(SUM(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         CAST(SUM(CASE WHEN g = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2,
         CAST(SUM(CASE WHEN g = 3 THEN 1 ELSE 0 END) AS BIGINT) AS c3,
         CAST(COUNT(*) AS BIGINT) AS t
  FROM s GROUP BY v
), r AS (
  SELECT pv.*,
         SUM(c1) OVER (ORDER BY v) AS m1,
         SUM(c2) OVER (ORDER BY v) AS m2
  FROM pv
), agg AS (
  SELECT CAST(SUM(c1) AS BIGINT) AS n1,
         CAST(SUM(c2) AS BIGINT) AS n2,
         CAST(SUM(c3) AS BIGINT) AS n3,
         CAST(SUM(2 * c2 * (m1 - c1) + c1 * c2
                + 2 * c3 * (m1 - c1) + c1 * c3
                + 2 * c3 * (m2 - c2) + c2 * c3) AS BIGINT) AS jt_x2,
         CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_a,
         CAST(SUM(t * (t - 1) * (t - 2)) AS BIGINT) AS tie_b,
         CAST(SUM(t * (t - 1)) AS BIGINT) AS tie_c
  FROM r
), mo AS (
  SELECT n1, n2, n3, jt_x2,
         n1 + n2 + n3 AS nn,
         n1 * n1 + n2 * n2 + n3 * n3 AS sn2,
         CAST(n1 AS DOUBLE) * (n1 - 1) * (2 * n1 + 5)
           + CAST(n2 AS DOUBLE) * (n2 - 1) * (2 * n2 + 5)
           + CAST(n3 AS DOUBLE) * (n3 - 1) * (2 * n3 + 5) AS ga,
         CAST(n1 AS DOUBLE) * (n1 - 1) * (n1 - 2)
           + CAST(n2 AS DOUBLE) * (n2 - 1) * (n2 - 2)
           + CAST(n3 AS DOUBLE) * (n3 - 1) * (n3 - 2) AS gb,
         CAST(n1 AS DOUBLE) * (n1 - 1) + CAST(n2 AS DOUBLE) * (n2 - 1)
           + CAST(n3 AS DOUBLE) * (n3 - 1) AS gc,
         CAST(tie_a AS DOUBLE) AS ta, CAST(tie_b AS DOUBLE) AS tb,
         CAST(tie_c AS DOUBLE) AS tc
  FROM agg
), vz AS (
  SELECT n1, n2, n3, jt_x2,
         (CAST(nn AS DOUBLE) * (nn - 1) * (2 * nn + 5) - ga - ta) / 72.0
           + gb * tb / (36.0 * CAST(nn AS DOUBLE) * (nn - 1) * (nn - 2))
           + gc * tc / (8.0 * CAST(nn AS DOUBLE) * (nn - 1)) AS var_jt,
         CAST(jt_x2 - (nn * nn - sn2) / 2 AS DOUBLE) AS num_x2
  FROM mo
)
SELECT n1, n2, n3, jt_x2,
       ROUND(num_x2 / (2.0 * sqrt(var_jt)), 6) AS z_stat,
       ROUND(LEAST(1.0,
             2.0 * {_phi_tail_sql('abs(num_x2 / (2.0 * sqrt(var_jt)))')}),
             8) AS p_value
FROM vz
"""


@query("stats_jonckheere_terpstra", oracle=_JT_SQL)
def stats_jonckheere_terpstra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jonckheere–Terpstra test for an ORDERED alternative: does
    `value` trend upward along the funnel depth ordering
    view < click < purchase? More powerful than Kruskal–Wallis when
    the alternative is monotone (KW spends power on every permutation
    of group medians; JT spends it all on the ordering you actually
    believe) — the k-group sibling of stats_mann_kendall's two-group
    logic.

    Exactness: JT = Σ_{{i<j}} U_ij where each Mann–Whitney count
    U_ij = #{{x∈Gᵢ < y∈Gⱼ}} + ½·ties comes off ONE multi-weight
    prefix scan over the distinct-value frame: per value v,
    2·U-contribution = 2·c_j(v)·(cum_i(v) − c_i(v)) + c_i(v)·c_j(v) —
    exact integers (2·JT materialized, halves never). The
    tie-corrected variance (Hollander–Wolfe) uses the three
    integer tie spectra Σt(t−1)(2t+5) / Σt(t−1)(t−2) / Σt(t−1) and
    group-size polynomials, composed in DOUBLE in the identical
    expression order both engines (the cubes exceed nothing at test
    SF but the mirrored-order IEEE contract is what the hash pins).

    Scale: the distinct-value frame + one range-exchange prefix scan
    (with_global_prefix_sums, two weights = one shuffle, its offsets
    summed on the driver) — the same de-serialized ECDF spine as
    KS/MWU/Spearman; group count k is a constant (3), so the pairwise
    fold is 3 expressions, not a join. Every stage is Spark SQL text
    (`selectExpr`), staged filter → per-value aggregate → scan →
    aggregate → moments → variance → z → p, so building it costs a
    few dozen gateway calls and each stage's value (z above all) is
    computed once, not inlined into every later use.
    """
    from ibd_pipeline_spark.operators.ranking import with_global_prefix_sums

    pv = (
        load(spark, sf_dir, "events")
        .filter(
            "event_type IN ('view', 'click', 'purchase') AND value IS NOT NULL"
        )
        .groupBy(F.col("value").alias("v"))
        .agg(
            *[
                F.expr(
                    f"CAST(SUM(CASE WHEN event_type = '{e}' THEN 1 ELSE 0 END)"
                    f" AS BIGINT) AS c{i}"
                )
                for i, e in enumerate(("view", "click", "purchase"), 1)
            ],
            F.expr("CAST(COUNT(1) AS BIGINT) AS t"),
        )
    )
    # 2·U_ij per value: 2·c_j·(cum_i − c_i) + c_i·c_j over i < j.
    pairs = [(1, 2, "_cum_c1"), (1, 3, "_cum_c1"), (2, 3, "_cum_c2")]
    jt_x2 = sum_chain(
        f"2 * c{j} * ({m} - c{i}) + c{i} * c{j}" for i, j, m in pairs
    )
    ns = ("n1", "n2", "n3")
    return (
        with_global_prefix_sums(pv, ["v"], ["c1", "c2"])
        .selectExpr(
            *[f"CAST(SUM(c{i}) AS BIGINT) AS n{i}" for i in (1, 2, 3)],
            f"CAST(SUM({jt_x2}) AS BIGINT) AS jt_x2",
            "CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_a",
            "CAST(SUM(t * (t - 1) * (t - 2)) AS BIGINT) AS tie_b",
            "CAST(SUM(t * (t - 1)) AS BIGINT) AS tie_c",
        )
        .selectExpr(
            "n1", "n2", "n3", "jt_x2",
            "n1 + n2 + n3 AS nn",
            "n1 * n1 + n2 * n2 + n3 * n3 AS sn2",
            sum_chain(
                f"CAST({n} AS DOUBLE) * ({n} - 1) * (2 * {n} + 5)" for n in ns
            ) + " AS ga",
            sum_chain(
                f"CAST({n} AS DOUBLE) * ({n} - 1) * ({n} - 2)" for n in ns
            ) + " AS gb",
            sum_chain(f"CAST({n} AS DOUBLE) * ({n} - 1)" for n in ns) + " AS gc",
            "CAST(tie_a AS DOUBLE) AS ta",
            "CAST(tie_b AS DOUBLE) AS tb",
            "CAST(tie_c AS DOUBLE) AS tc",
        )
        .selectExpr(
            "n1", "n2", "n3", "jt_x2",
            "(CAST(nn AS DOUBLE) * (nn - 1) * (2 * nn + 5) - ga - ta) / 72.0D"
            " + gb * tb / (36.0D * CAST(nn AS DOUBLE) * (nn - 1) * (nn - 2))"
            " + gc * tc / (8.0D * CAST(nn AS DOUBLE) * (nn - 1)) AS var_jt",
            "CAST(jt_x2 - (nn * nn - sn2) / 2 AS DOUBLE) AS num_x2",
        )
        .selectExpr(
            "n1", "n2", "n3", "jt_x2",
            "num_x2 / (2.0D * sqrt(var_jt)) AS z",
        )
        .selectExpr(
            "n1", "n2", "n3", "jt_x2",
            "ROUND(z, 6) AS z_stat",
            f"ROUND(LEAST(1.0D, 2.0D * {_phi_tail_sql('abs(z)')}), 8) AS p_value",
        )
    )


# ---------------------------------------------------------------------------
# Conover squared-ranks scale test (purchase vs view dispersion)
# ---------------------------------------------------------------------------

_CONOVER_SQL = f"""
WITH s AS (
  SELECT CAST(value AS DOUBLE) AS x, event_type = 'purchase' AS is_a
  FROM events WHERE event_type IN ('purchase', 'view')
), mu AS (
  SELECT is_a,
         CAST(ROUND(SUM(CAST(x AS DECIMAL(28,8))), 6) AS DOUBLE)
           / COUNT(*) AS m
  FROM s GROUP BY is_a
), dev AS (
  SELECT s.is_a, ABS(s.x - mu.m) AS ad
  FROM s JOIN mu ON mu.is_a = s.is_a
), pv AS (
  SELECT ad,
         CAST(SUM(CASE WHEN is_a THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         CAST(COUNT(*) AS BIGINT) AS t
  FROM dev GROUP BY ad
), r AS (
  SELECT c1, t, 2 * SUM(t) OVER (ORDER BY ad) - t + 1 AS u FROM pv
), agg AS (
  SELECT CAST(SUM(c1) AS BIGINT) AS n1,
         CAST(SUM(t - c1) AS BIGINT) AS n2,
         CAST(SUM(c1 * u * u) AS BIGINT) AS t4,
         CAST(SUM(t * u * u) AS BIGINT) AS s2,
         SUM(CAST(CAST(t AS DOUBLE) * (CAST(u AS DOUBLE) * u * u * u)
                  AS DECIMAL(38,0))) AS s4d
  FROM r
), z AS (
  SELECT n1, n2, t4,
         (CAST(t4 AS DOUBLE)
          - CAST(n1 AS DOUBLE) * s2 / (n1 + n2))
         / sqrt(CAST(n1 AS DOUBLE) * n2
                / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2 - 1))
                * (CAST(s4d AS DOUBLE)
                   - CAST(s2 AS DOUBLE) * s2 / (n1 + n2))) AS zv
  FROM agg
)
SELECT n1, n2, t4 AS t_stat_x4,
       ROUND(zv, 6) AS z_stat,
       ROUND(LEAST(1.0, 2.0 * {_phi_tail_sql('abs(zv)')}), 8) AS p_value
FROM z
"""


@query("stats_conover_squared_ranks", oracle=_CONOVER_SQL)
def stats_conover_squared_ranks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conover squared-ranks test for equal DISPERSION between
    purchase and view values — the rank-based scale test that stays
    valid when Levene/Bartlett's normal-ish assumptions don't
    (stats_levene_test is the mean-deviation sibling; this one ranks
    |x − x̄_group| and squares the mid-ranks, Conover 1980). T =
    Σ_A r̄²; under H₀, E[T] = n₁·S̄ and Var[T] = n₁n₂(ΣS² − N·S̄²)
    / (N(N−1)) with S the squared mid-ranks.

    Exactness: mid-ranks never materialize halves — with u(v) =
    2·cum − t + 1 per distinct deviation, 4·T = Σ c₁·u² and the
    moment sums 4·ΣS = Σ t·u², 16·ΣS² = Σ t·u⁴ are integers (the u⁴
    fold rides in DOUBLE products cast to DECIMAL(38,0) per term —
    integer-valued floats, exact sums — because u⁴ can exceed BIGINT
    at scale); deviations group by RAW double |x − μ_g| (never
    rounded — the round-a-computed-quotient trap), with μ_g from
    exact decimal sums.

    Scale: group means are one aggregate; ranking is the distributed
    distinct-value prefix-sum spine (one range exchange), the same
    de-serialized form as MWU/KS; one-row fold after.
    """
    from ibd_pipeline_spark.operators.ranking import with_global_prefix_sums

    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "view")
    )
    s = ev.select(
        F.col("value").cast("double").alias("x"),
        (F.col("event_type") == "purchase").alias("is_a"),
    )
    mu = s.groupBy("is_a").agg(
        (
            F.round(F.sum(F.col("x").cast("decimal(28,8)")), 6).cast("double")
            / F.count(F.lit(1))
        ).alias("m")
    )
    dev = s.join(F.broadcast(mu), "is_a").select(
        "is_a", F.abs(F.col("x") - F.col("m")).alias("ad")
    )
    pv = dev.groupBy("ad").agg(
        F.sum(F.when(F.col("is_a"), 1).otherwise(0))
        .cast("bigint")
        .alias("c1"),
        F.count(F.lit(1)).cast("bigint").alias("t"),
    )
    cum = with_global_prefix_sums(pv, ["ad"], ["t"])
    u = 2 * F.col("_cum_t") - F.col("t") + F.lit(1)
    ud = u.cast("double")
    agg = cum.agg(
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum(F.col("t") - F.col("c1")).cast("bigint").alias("n2"),
        F.sum(F.col("c1") * u * u).cast("bigint").alias("t4"),
        F.sum(F.col("t") * u * u).cast("bigint").alias("s2"),
        F.sum(
            (F.col("t").cast("double") * (ud * ud * ud * ud)).cast(
                "decimal(38,0)"
            )
        ).alias("s4d"),
    )
    nn = F.col("n1") + F.col("n2")
    zv = (
        F.col("t4").cast("double")
        - F.col("n1").cast("double") * F.col("s2") / nn
    ) / F.sqrt(
        F.col("n1").cast("double")
        * F.col("n2")
        / (nn.cast("double") * (nn - 1))
        * (
            F.col("s4d").cast("double")
            - F.col("s2").cast("double") * F.col("s2") / nn
        )
    )
    return agg.select(
        "n1",
        "n2",
        F.col("t4").alias("t_stat_x4"),
        F.round(zv, 6).alias("z_stat"),
        F.round(
            F.least(F.lit(1.0), 2.0 * _phi_tail_col(F.abs(zv))), 8
        ).alias("p_value"),
    )


# ---------------------------------------------------------------------------
# Chapman capture-recapture population estimate (r13)
# ---------------------------------------------------------------------------

_CAPTURE_SQL = """
WITH bnd AS (
  SELECT (epoch_us(MIN(CAST(ts AS TIMESTAMP)))
          + epoch_us(MAX(CAST(ts AS TIMESTAMP)))) // 2 AS mid
  FROM events
), u AS (
  SELECT user_id,
         MAX(CASE WHEN epoch_us(CAST(ts AS TIMESTAMP)) < mid
                  THEN 1 ELSE 0 END) AS c1,
         MAX(CASE WHEN epoch_us(CAST(ts AS TIMESTAMP)) >= mid
                  THEN 1 ELSE 0 END) AS c2
  FROM events CROSS JOIN bnd GROUP BY user_id
), agg AS (
  SELECT CAST(SUM(c1) AS BIGINT) AS n1,
         CAST(SUM(c2) AS BIGINT) AS n2,
         CAST(SUM(c1 * c2) AS BIGINT) AS m,
         CAST(COUNT(*) AS BIGINT) AS n_true
  FROM u
), est AS (
  SELECT n1, n2, m, n_true,
         CAST((n1 + 1) * (n2 + 1) AS DOUBLE) / (m + 1) - 1.0 AS nhat,
         sqrt(CAST((n1 + 1) * (n2 + 1) AS DOUBLE) * (n1 - m) * (n2 - m)
              / (CAST((m + 1) AS DOUBLE) * (m + 1) * (m + 2))) AS se
  FROM agg
)
SELECT n1 AS n_first, n2 AS n_second, m AS n_both, n_true,
       ROUND(nhat, 4) AS chapman_estimate,
       ROUND(se, 4) AS se,
       ROUND(nhat - 1.959963984540054 * se, 4) AS ci_lo,
       ROUND(nhat + 1.959963984540054 * se, 4) AS ci_hi
FROM est
"""


@query("stats_capture_recapture", oracle=_CAPTURE_SQL)
def stats_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chapman capture-recapture estimate of the user population from
    two "capture occasions" (active in the first vs second half of
    the window): N̂ = (n₁+1)(n₂+1)/(m+1) − 1 with the closed-form SE —
    the coverage-estimation primitive ("how many entities exist that
    my two partial crawls/feeds only sample?"); `n_true` rides along
    for attestation and honesty-checking the estimator, exactly the
    privacy_randomized_response pattern.

    Exactness: three integer capture counts and one double chain —
    the z·SE interval uses the exact double z₉₇.₅ literal both
    engines.

    Scale: one groupBy(user) with two MAX flags (map-side combined),
    one-row fold."""
    ev = load(spark, sf_dir, "events")
    mid = ev.agg(
        F.expr("(unix_micros(MIN(ts)) + unix_micros(MAX(ts))) DIV 2").alias(
            "mid"
        )
    )
    u = (
        ev.crossJoin(F.broadcast(mid))
        .groupBy("user_id")
        .agg(
            F.max(
                F.when(F.expr("unix_micros(ts)") < F.col("mid"), 1).otherwise(
                    0
                )
            ).alias("c1"),
            F.max(
                F.when(
                    F.expr("unix_micros(ts)") >= F.col("mid"), 1
                ).otherwise(0)
            ).alias("c2"),
        )
    )
    agg = u.agg(
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum("c2").cast("bigint").alias("n2"),
        F.sum(F.col("c1") * F.col("c2")).cast("bigint").alias("m"),
        F.count(F.lit(1)).cast("bigint").alias("n_true"),
    )
    nhat = ((F.col("n1") + 1) * (F.col("n2") + 1)).cast("double") / (
        F.col("m") + 1
    ) - F.lit(1.0)
    se = F.sqrt(
        ((F.col("n1") + 1) * (F.col("n2") + 1)).cast("double")
        * (F.col("n1") - F.col("m"))
        * (F.col("n2") - F.col("m"))
        / (
            (F.col("m") + 1).cast("double")
            * (F.col("m") + 1)
            * (F.col("m") + 2)
        )
    )
    z975 = F.lit(1.959963984540054)
    return agg.select(
        F.col("n1").alias("n_first"),
        F.col("n2").alias("n_second"),
        F.col("m").alias("n_both"),
        "n_true",
        F.round(nhat, 4).alias("chapman_estimate"),
        F.round(se, 4).alias("se"),
        F.round(nhat - z975 * se, 4).alias("ci_lo"),
        F.round(nhat + z975 * se, 4).alias("ci_hi"),
    )


# ---------------------------------------------------------------------------
# Peaks-over-threshold GPD fit by method of moments (r13)
# ---------------------------------------------------------------------------

_POT_SQL = """
WITH e AS (
  SELECT CAST(value AS DOUBLE) - 150.0 AS x
  FROM events WHERE event_type = 'purchase' AND value > 150.0
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(ROUND(SUM(CAST(x AS DECIMAL(28,8))), 6) AS DOUBLE) AS s1,
         CAST(ROUND(SUM(CAST(x * x AS DECIMAL(38,8))), 4) AS DOUBLE) AS s2
  FROM e
), mo AS (
  SELECT n, s1 / n AS mu,
         (s2 - s1 * s1 / n) / (n - 1) AS v
  FROM m
), fit AS (
  SELECT n, mu, v,
         0.5 * (1.0 - mu * mu / v) AS xi,
         0.5 * mu * (1.0 + mu * mu / v) AS beta
  FROM mo
)
SELECT n AS n_exceedances,
       ROUND(mu, 6) AS mean_excess,
       ROUND(v, 4) AS var_excess,
       ROUND(xi, 6) AS gpd_xi,
       ROUND(beta, 6) AS gpd_beta
FROM fit
"""


@query("stats_pot_gpd_moments", oracle=_POT_SQL)
def stats_pot_gpd_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peaks-over-threshold extreme-value fit: generalized Pareto
    shape/scale by METHOD OF MOMENTS over excesses above u = 150
    (the smallest fixture keeps n ≥ 2 there; u is corpus policy)
    (ξ = ½(1 − μ²/σ²), β = ½μ(1 + μ²/σ²), Hosking & Wallis 1987) —
    the tail-risk sibling of stats_gumbel_return_level: block maxima
    model the biggest value per period, POT models EVERY exceedance,
    which is what capacity planning and fraud thresholds consume.
    ξ < 0 reports a bounded tail (as a bounded synthetic fixture
    honestly should); ξ ≥ ½ would flag an infinite-variance tail
    where the MOM fit itself stops being valid.

    Exactness: excess first/second moments as exact decimal sums
    (x·x at DECIMAL(38,8) from bit-identical doubles), one closed
    double chain for μ/σ²/ξ/β.

    Scale: one filtered scan with a pushed predicate + a one-row
    moment fold; the threshold keeps the excess frame tail-sized."""
    ev = load(spark, sf_dir, "events").filter(
        (F.col("event_type") == "purchase") & (F.col("value") > 150.0)
    )
    e = ev.select((F.col("value").cast("double") - F.lit(150.0)).alias("x"))
    m = e.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.sum(F.col("x").cast("decimal(28,8)")), 6)
        .cast("double")
        .alias("s1"),
        F.round(F.sum((F.col("x") * F.col("x")).cast("decimal(38,8)")), 4)
        .cast("double")
        .alias("s2"),
    )
    mu = F.col("s1") / F.col("n")
    v = (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n")) / (
        F.col("n") - 1
    )
    xi = F.lit(0.5) * (F.lit(1.0) - mu * mu / v)
    beta = F.lit(0.5) * mu * (F.lit(1.0) + mu * mu / v)
    return m.select(
        F.col("n").alias("n_exceedances"),
        F.round(mu, 6).alias("mean_excess"),
        F.round(v, 4).alias("var_excess"),
        F.round(xi, 6).alias("gpd_xi"),
        F.round(beta, 6).alias("gpd_beta"),
    )


# ---------------------------------------------------------------------------
# Deming (orthogonal) regression: order totalprice vs lineitem revenue
# ---------------------------------------------------------------------------

_DEMING_SQL = """
WITH p AS (
  SELECT o.o_orderkey,
         CAST(o.o_totalprice AS DOUBLE) AS y,
         CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(28,8))), 2)
              AS DOUBLE) AS x
  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  GROUP BY o.o_orderkey, o.o_totalprice
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(ROUND(SUM(CAST(x AS DECIMAL(28,8))), 2) AS DOUBLE) AS sx,
         CAST(ROUND(SUM(CAST(y AS DECIMAL(28,8))), 2) AS DOUBLE) AS sy,
         CAST(ROUND(SUM(CAST(x AS DECIMAL(28,8))
                        * CAST(x AS DECIMAL(28,8))), 2) AS DOUBLE) AS sxx,
         CAST(ROUND(SUM(CAST(y AS DECIMAL(28,8))
                        * CAST(y AS DECIMAL(28,8))), 2) AS DOUBLE) AS syy,
         CAST(ROUND(SUM(CAST(x AS DECIMAL(28,8))
                        * CAST(y AS DECIMAL(28,8))), 2) AS DOUBLE) AS sxy
  FROM p
), c AS (
  SELECT n,
         sxx - sx * sx / n AS cxx,
         syy - sy * sy / n AS cyy,
         sxy - sx * sy / n AS cxy,
         sx / n AS mx, sy / n AS my
  FROM m
), fit AS (
  SELECT n, mx, my, cxy / cxx AS ols_slope,
         (cyy - cxx + sqrt((cyy - cxx) * (cyy - cxx) + 4.0 * cxy * cxy))
           / (2.0 * cxy) AS dem_slope
  FROM c
)
SELECT n AS n_orders,
       ROUND(dem_slope, 6) AS deming_slope,
       ROUND(my - dem_slope * mx, 4) AS deming_intercept,
       ROUND(ols_slope, 6) AS ols_slope,
       ROUND(my - ols_slope * mx, 4) AS ols_intercept
FROM fit
"""


@query("stats_deming_regression", oracle=_DEMING_SQL)
def stats_deming_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deming (orthogonal, λ=1) regression of order header totalprice
    on the per-order lineitem revenue sum — the errors-in-BOTH-
    variables fit: OLS assumes x is exact and attenuates the slope
    toward zero when it isn't (two noisy measurements of the same
    underlying amount is exactly that case); the Deming slope
    (C_yy − C_xx + √((C_yy−C_xx)² + 4C_xy²)) / 2C_xy is the
    measurement-reconciliation classic, emitted NEXT TO the OLS slope
    so the attenuation is visible in one row.

    Exactness: all five raw moments stay in the decimal domain
    (cross products of DECIMAL(28,8) are exact), centered moments and
    the slope chain are identical double algebra both engines.

    Scale: one map-side-combined per-order aggregate joined to the
    header (order-key shuffle), then a one-row moment fold."""
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    p = (
        li.groupBy("l_orderkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(28,8)")), 2
            )
            .cast("double")
            .alias("x")
        )
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .select("x", F.col("o_totalprice").cast("double").alias("y"))
    )
    xd = F.col("x").cast("decimal(28,8)")
    yd = F.col("y").cast("decimal(28,8)")
    m = p.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.sum(xd), 2).cast("double").alias("sx"),
        F.round(F.sum(yd), 2).cast("double").alias("sy"),
        F.round(F.sum(xd * xd), 2).cast("double").alias("sxx"),
        F.round(F.sum(yd * yd), 2).cast("double").alias("syy"),
        F.round(F.sum(xd * yd), 2).cast("double").alias("sxy"),
    )
    cxx = F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n")
    cyy = F.col("syy") - F.col("sy") * F.col("sy") / F.col("n")
    cxy = F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")
    mx = F.col("sx") / F.col("n")
    my = F.col("sy") / F.col("n")
    ols = cxy / cxx
    dem = (
        cyy - cxx + F.sqrt((cyy - cxx) * (cyy - cxx) + F.lit(4.0) * cxy * cxy)
    ) / (F.lit(2.0) * cxy)
    return m.select(
        F.col("n").alias("n_orders"),
        F.round(dem, 6).alias("deming_slope"),
        F.round(my - dem * mx, 4).alias("deming_intercept"),
        F.round(ols, 6).alias("ols_slope"),
        F.round(my - ols * mx, 4).alias("ols_intercept"),
    )


# ---------------------------------------------------------------------------
# Circular statistics: hour-of-day mean direction + Rayleigh test (r13)
# ---------------------------------------------------------------------------


def _hour_trig_rows() -> "list[tuple[int, float, float]]":
    """The 24 unit-circle coordinates for hour angles 2πh/24, computed
    ONCE in Python — both the Spark frame and the DuckDB VALUES
    literal consume these exact doubles, so no engine ever calls its
    own cos/sin (the one libm surface the float discipline cannot
    pin; the seasonal-ANOVA query avoids trig entirely, this one
    needs actual directions and shares a single trig source
    instead)."""
    import math

    return [
        (
            h,
            math.cos(2.0 * math.pi * h / 24.0),
            math.sin(2.0 * math.pi * h / 24.0),
        )
        for h in range(24)
    ]


def _rayleigh_oracle() -> str:
    vals = ",\n    ".join(
        f"({h}, {c!r}, {s!r})" for h, c, s in _hour_trig_rows()
    )
    return f"""
WITH trig(h, cx, sx) AS (VALUES
    {vals}
), e AS (
  SELECT CAST(EXTRACT(hour FROM CAST(ts AS TIMESTAMP)) AS INT) AS h
  FROM events WHERE event_type = 'purchase'
), agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(ROUND(SUM(CAST(t.cx AS DECIMAL(28,12))), 8) AS DOUBLE) AS sc,
         CAST(ROUND(SUM(CAST(t.sx AS DECIMAL(28,12))), 8) AS DOUBLE) AS ss
  FROM e JOIN trig t ON t.h = e.h
), s AS (
  SELECT n, sc, ss,
         sqrt(sc * sc + ss * ss) / n AS rbar
  FROM agg
), z AS (
  SELECT n, rbar, CAST(n AS DOUBLE) * rbar * rbar AS zs FROM s
)
SELECT n AS n_events,
       ROUND(rbar, 6) AS resultant_length,
       ROUND(zs, 6) AS rayleigh_z,
       ROUND(exp(-zs) * (1.0 + (2.0 * zs - zs * zs) / (4.0 * n)), 8)
         AS p_value
FROM z
"""


@query("stats_rayleigh_hour_uniformity", oracle=_rayleigh_oracle)
def stats_rayleigh_hour_uniformity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rayleigh test of hour-of-day uniformity for purchases —
    CIRCULAR statistics: hours live on a clock, so "mean hour" via
    arithmetic averaging is wrong at the midnight wrap (23:00 and
    01:00 average to noon); the resultant vector R̄ of the unit
    directions is the right mean, and Z = n·R̄² tests uniformity
    (with the standard O(1/n) corrected p). The diurnal-concentration
    sibling of the residue-class seasonal ANOVA.

    Exactness: both engines consume ONE Python-computed 24-row trig
    table (no engine-side cos/sin — libm is the one surface the
    float discipline can't pin), components decimal-quantized before
    folding, then an identical double chain.

    Scale: per-row hour extraction + a broadcast join against 24
    rows + one aggregate; nothing downstream is data-sized."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    trig = ev.sparkSession.createDataFrame(
        _hour_trig_rows(), "h int, cx double, sx double"
    )
    e = ev.select(F.hour("ts").cast("int").alias("h"))
    agg = (
        e.join(F.broadcast(trig), "h")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.round(F.sum(F.col("cx").cast("decimal(28,12)")), 8)
            .cast("double")
            .alias("sc"),
            F.round(F.sum(F.col("sx").cast("decimal(28,12)")), 8)
            .cast("double")
            .alias("ss"),
        )
    )
    rbar = (
        F.sqrt(F.col("sc") * F.col("sc") + F.col("ss") * F.col("ss"))
        / F.col("n")
    )
    zs = F.col("n").cast("double") * rbar * rbar
    return agg.select(
        F.col("n").alias("n_events"),
        F.round(rbar, 6).alias("resultant_length"),
        F.round(zs, 6).alias("rayleigh_z"),
        F.round(
            F.exp(-zs)
            * (
                F.lit(1.0)
                + (F.lit(2.0) * zs - zs * zs) / (F.lit(4.0) * F.col("n"))
            ),
            8,
        ).alias("p_value"),
    )


# ---------------------------------------------------------------------------
# Page's L trend test across ordered treatments within dow blocks (r13)
# ---------------------------------------------------------------------------

def _funnel_cells(
    spark: SparkSession, sf_dir: str
) -> "tuple[DataFrame, DataFrame, DataFrame]":
    """(cell, rk, dims) of the blocked funnel design: `cell` holds the
    davg mean `m` of each (ISO-dow block `blk`, treatment `trt`:
    view 1, click 2, purchase 3); `rk` the doubled within-block
    mid-rank r2 = 2·#{m' < m} + #{m' = m} + 1 from a broadcast
    triangular join (self included in the equal count); `dims` the
    block and treatment counts b and k."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type").isin("view", "click", "purchase")
        & F.col("value").isNotNull()
    )
    cell = ev.groupBy(
        (F.weekday("ts") + F.lit(1)).alias("blk"),
        F.when(F.col("event_type") == "view", 1)
        .when(F.col("event_type") == "click", 2)
        .otherwise(3)
        .alias("trt"),
    ).agg(
        (
            F.round(F.sum(F.col("value").cast("decimal(28,8)")), 6).cast(
                "double"
            )
            / F.count("value")
        ).alias("m")
    )
    b2 = cell.select(
        F.col("blk").alias("blk2"),
        F.col("trt").alias("trt2"),
        F.col("m").alias("m2"),
    )
    rk = (
        cell.join(
            F.broadcast(b2),
            (F.col("blk") == F.col("blk2")) & (F.col("m2") <= F.col("m")),
        )
        .groupBy("blk", "trt")
        .agg(
            (
                F.sum(F.when(F.col("m2") < F.col("m"), 2).otherwise(1))
                + F.lit(1)
            )
            .cast("bigint")
            .alias("r2")
        )
    )
    dims = cell.agg(
        F.countDistinct("blk").cast("bigint").alias("b"),
        F.countDistinct("trt").cast("bigint").alias("k"),
    )
    return cell, rk, dims


# The oracle twin of _funnel_cells: `cell`, `rk` and `dims`.
_FUNNEL_CELLS_SQL = """
WITH cell AS (
  SELECT CAST(isodow(CAST(ts AS TIMESTAMP)) AS INT) AS blk,
         CASE event_type WHEN 'view' THEN 1 WHEN 'click' THEN 2
              ELSE 3 END AS trt,
         CAST(ROUND(SUM(CAST(value AS DECIMAL(28,8))), 6) AS DOUBLE)
           / COUNT(value) AS m
  FROM events WHERE event_type IN ('view', 'click', 'purchase')
        AND value IS NOT NULL
  GROUP BY 1, 2
), rk AS (
  SELECT a.blk, a.trt,
         CAST(SUM(CASE WHEN b.m < a.m THEN 2 ELSE 1 END) + 1 AS BIGINT)
           AS r2
  FROM cell a JOIN cell b ON a.blk = b.blk AND b.m <= a.m
  GROUP BY a.blk, a.trt
), dims AS (
  SELECT CAST(COUNT(DISTINCT blk) AS BIGINT) AS b,
         CAST(COUNT(DISTINCT trt) AS BIGINT) AS k
  FROM cell
)"""


_PAGE_SQL = _FUNNEL_CELLS_SQL + f""", rs AS (
  SELECT trt, CAST(SUM(r2) AS BIGINT) AS rj2 FROM rk GROUP BY trt
), l AS (
  SELECT CAST(SUM(trt * rj2) AS BIGINT) AS l2 FROM rs
), s AS (
  SELECT b, k, CAST(l2 AS DOUBLE) / 2.0 AS lstat,
         (CAST(l2 AS DOUBLE) / 2.0
          - CAST(b AS DOUBLE) * k * (k + 1) * (k + 1) / 4.0)
         / sqrt(CAST(b AS DOUBLE) * k * k * (k + 1) * (k * k - 1) / 144.0)
           AS z
  FROM dims CROSS JOIN l
)
SELECT CAST(b AS INT) AS n_blocks, CAST(k AS INT) AS n_treatments,
       ROUND(lstat, 1) AS page_l,
       ROUND(z, 6) AS z_stat,
       ROUND(CASE WHEN z >= 0 THEN {_phi_tail_sql('z')}
             ELSE 1.0 - {_phi_tail_sql('(-z)')} END, 8) AS p_one_sided
FROM s
"""


@query("stats_page_trend_test", oracle=_PAGE_SQL)
def stats_page_trend_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page's L test for a MONOTONE treatment trend within blocks:
    rank the three funnel actions' mean values inside each ISO-dow
    block, L = Σ j·R_j against the hypothesized order
    view < click < purchase — the blocked sibling of
    Jonckheere–Terpstra exactly as Friedman is the blocked sibling of
    Kruskal–Wallis (Friedman asks "any difference?", Page spends all
    its power on the ordering you believe). One-sided by
    construction; E[L] = bk(k+1)²/4, Var[L] = bk²(k+1)(k²−1)/144.

    Exactness: within-block ranks are MID-RANKS (the Friedman
    convention — tied cell means share the average of the ranks they
    span; r14 fix, previously ties broke by treatment order which
    biased L toward the alternative). Mid-ranks are half-integers, so
    both engines compute the INTEGER 2·rank = 2·#{m'<m} + #{m'=m} + 1
    (self included in the equal count) and divide the integer 2L by
    two at the end — L stays exact in half-integer units; cell means
    follow the davg rule; z/p is the shared Φ-tail chain.

    Scale: one 21-cell aggregate, a 21×21 broadcast triangular join,
    catalog-sized folds — identical shape to stats_friedman_test."""
    _cell, rk, dims = _funnel_cells(spark, sf_dir)
    rs = rk.groupBy("trt").agg(F.sum("r2").cast("bigint").alias("rj2"))
    lsum = rs.agg(
        F.sum(F.col("trt") * F.col("rj2")).cast("bigint").alias("l2")
    )
    s = dims.crossJoin(F.broadcast(lsum))
    bd = F.col("b").cast("double")
    kd = F.col("k").cast("double")
    lstat = F.col("l2").cast("double") / F.lit(2.0)
    z = (
        lstat - bd * kd * (kd + 1) * (kd + 1) / F.lit(4.0)
    ) / F.sqrt(
        bd * kd * kd * (kd + 1) * (kd * kd - 1) / F.lit(144.0)
    )
    return s.select(
        F.col("b").cast("int").alias("n_blocks"),
        F.col("k").cast("int").alias("n_treatments"),
        F.round(lstat, 1).alias("page_l"),
        F.round(z, 6).alias("z_stat"),
        # the Φ-tail polynomial is valid for z ≥ 0 only — reflect for
        # a trend in the opposite direction
        F.round(
            F.when(z >= 0, _phi_tail_col(z)).otherwise(
                F.lit(1.0) - _phi_tail_col(-z)
            ),
            8,
        ).alias("p_one_sided"),
    )


# ---------------------------------------------------------------------------
# Sign test on the paired window halves (r13)
# ---------------------------------------------------------------------------

_SIGN_SQL = _HALVES_SQL + f""", agg AS (
  SELECT CAST(SUM(CASE WHEN s2 > s1 THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
         CAST(SUM(CASE WHEN s2 < s1 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg
  FROM u
), s AS (
  SELECT n_pos, n_neg, n_pos + n_neg AS n,
         (ABS(CAST(n_pos AS DOUBLE) - (n_pos + n_neg) / 2.0) - 0.5)
           / (0.5 * sqrt(CAST(n_pos + n_neg AS DOUBLE))) AS z
  FROM agg
)
SELECT n_pos, n_neg, CAST(n AS BIGINT) AS n_pairs,
       ROUND(z, 6) AS z_stat,
       ROUND(LEAST(1.0, 2.0 * {_phi_tail_sql('abs(z)')}), 8) AS p_value
FROM s
"""


@query("stats_sign_test", oracle=_SIGN_SQL)
def stats_sign_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign test on the paired per-user window halves — the
    assumption-free floor of the paired-test ladder this round
    completes: McNemar (binary flips) → sign test (direction only) →
    Wilcoxon signed-rank (direction + magnitude ranks) → paired t
    (magnitudes, normality). Uses ONLY the sign of d = second − first
    (exact decimal comparison, zeros dropped), binomial(½) normal
    approximation with continuity correction.

    Exactness: two integer counts and one double chain; nothing else.

    Scale: one groupBy(user) (map-side combined), one-row fold."""
    u = _window_halves(spark, sf_dir)
    agg = u.agg(
        F.sum(F.when(F.col("s2") > F.col("s1"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_pos"),
        F.sum(F.when(F.col("s2") < F.col("s1"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_neg"),
    )
    n = F.col("n_pos") + F.col("n_neg")
    z = (
        F.abs(F.col("n_pos").cast("double") - n / F.lit(2.0)) - F.lit(0.5)
    ) / (F.lit(0.5) * F.sqrt(n.cast("double")))
    return agg.select(
        "n_pos",
        "n_neg",
        n.cast("bigint").alias("n_pairs"),
        F.round(z, 6).alias("z_stat"),
        F.round(
            F.least(F.lit(1.0), 2.0 * _phi_tail_col(F.abs(z))), 8
        ).alias("p_value"),
    )


# ---------------------------------------------------------------------------
# (moved from round10_stats.py in the r14 chronological->topic split;
# registry names, semantics, and oracles unchanged)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# Extreme-value analysis: Gumbel return levels from daily block maxima
# ---------------------------------------------------------------------------

_GUMBEL_SQL = """
WITH bm AS (
  SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
         CAST(ROUND(MAX(value), 6) AS DECIMAL(28,6)) AS mx
  FROM events GROUP BY 1
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(mx) AS DECIMAL(38,6)) AS s,
         CAST(SUM(CAST(mx AS DECIMAL(38,12)) * mx) AS DECIMAL(38,12)) AS q
  FROM bm
), d AS (
  SELECT n,
         CAST(s AS DOUBLE) / n AS mean,
         sqrt((CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n)
              / (n - 1)) AS sd
  FROM m
), fit AS (
  SELECT n, mean, sd,
         sd * sqrt(6.0) / pi() AS beta,
         mean - 0.5772156649015329 * (sd * sqrt(6.0) / pi()) AS mu
  FROM d
)
SELECT n AS n_days,
       ROUND(mean, 4) AS mean_daily_max,
       ROUND(mu, 4) AS gumbel_mu,
       ROUND(beta, 4) AS gumbel_beta,
       ROUND(mu - beta * ln(-ln(1.0 - 1.0 / 30)), 4) AS return_level_30d,
       ROUND(mu - beta * ln(-ln(1.0 - 1.0 / 365)), 4) AS return_level_365d
FROM fit
"""


@query("stats_gumbel_return_level", oracle=_GUMBEL_SQL)
def stats_gumbel_return_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extreme-value analysis: Gumbel return levels from daily block
    maxima — the capacity-planning readout ('what value do we exceed
    once per 30 / 365 days?') the monitoring family needs beyond
    percentiles (which say nothing about maxima of FUTURE blocks).
    Method-of-moments Gumbel fit (β = s·√6/π, μ = x̄ − γ·β with the
    Euler–Mascheroni literal), return level z_T = μ − β·ln(−ln(1−1/T))
    — the classical EVT block-maxima recipe (Gumbel 1958; Coles 2001).

    Exactness: daily maxima are exact double MAXes, ROUNDed→DECIMAL
    before the moment sums (the cross-engine order-independence
    rule), the fit is fixed double algebra at output.

    Scale: one map-side-combined day-grain max + one moment aggregate
    over the calendar-bounded frame — no window, no sort, no buffer;
    block size (day) is the knob, not the data volume."""
    ev = load(spark, sf_dir, "events")
    bm = ev.groupBy(
        F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).agg(F.round(F.max("value"), 6).cast("decimal(28,6)").alias("mx"))
    m = bm.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("mx").cast("decimal(38,6)").alias("s"),
        F.sum(F.col("mx").cast("decimal(38,12)") * F.col("mx"))
        .cast("decimal(38,12)")
        .alias("q"),
    )
    mean = F.col("s").cast("double") / F.col("n")
    sd = F.sqrt(
        (
            F.col("q").cast("double")
            - F.col("s").cast("double") * F.col("s").cast("double") / F.col("n")
        )
        / (F.col("n") - 1)
    )
    import math

    beta = sd * math.sqrt(6.0) / math.pi
    mu = mean - 0.5772156649015329 * beta

    def level(t: int):
        return F.round(mu - beta * math.log(-math.log(1.0 - 1.0 / t)), 4)

    return m.select(
        F.col("n").alias("n_days"),
        F.round(mean, 4).alias("mean_daily_max"),
        F.round(mu, 4).alias("gumbel_mu"),
        F.round(beta, 4).alias("gumbel_beta"),
        level(30).alias("return_level_30d"),
        level(365).alias("return_level_365d"),
    )


# ---------------------------------------------------------------------------
# Quade test: blocked rank test weighting blocks by their range (r14)
# ---------------------------------------------------------------------------

_QUADE_SQL = _FUNNEL_CELLS_SQL + """, brange AS (
  SELECT blk, MAX(m) - MIN(m) AS rng FROM cell GROUP BY blk
), bq AS (
  SELECT a.blk,
         CAST(SUM(CASE WHEN b.rng < a.rng THEN 2 ELSE 1 END) + 1 AS BIGINT)
           AS q2
  FROM brange a JOIN brange b ON b.rng <= a.rng
  GROUP BY a.blk
), s4 AS (
  SELECT rk.trt, bq.q2 * (rk.r2 - (SELECT k + 1 FROM dims)) AS s4
  FROM rk JOIN bq ON bq.blk = rk.blk
), sj AS (
  SELECT trt, CAST(SUM(s4) AS BIGINT) AS s4j,
         CAST(SUM(s4 * s4) AS BIGINT) AS s4sq
  FROM s4 GROUP BY trt
), agg AS (
  SELECT CAST(SUM(s4j * s4j) AS BIGINT) AS sum_sj2,
         CAST(SUM(s4sq) AS BIGINT) AS sum_sbj2
  FROM sj
), f AS (
  SELECT b, k, sum_sj2, sum_sbj2,
         CAST((b - 1) * sum_sj2 AS DOUBLE)
           / NULLIF(CAST(b * sum_sbj2 - sum_sj2 AS DOUBLE), 0) AS fstat
  FROM dims CROSS JOIN agg
)
SELECT CAST(b AS INT) AS n_blocks, CAST(k AS INT) AS n_treatments,
       ROUND(fstat, 6) AS quade_f,
       ROUND(CASE WHEN k = 3 AND b = 7 AND fstat >= 0 THEN
           1.0 / (((1.0 + fstat / 6.0) * (1.0 + fstat / 6.0)
                   * (1.0 + fstat / 6.0))
                  * ((1.0 + fstat / 6.0) * (1.0 + fstat / 6.0)
                     * (1.0 + fstat / 6.0)))
         END, 8) AS p_value
FROM f
"""


@query("stats_quade_test", oracle=_QUADE_SQL)
def stats_quade_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quade test across the ordered funnel treatments within ISO-dow
    blocks — the blocked rank test that WEIGHTS each block by how much
    signal it carries (block rank of the cell-mean range), where
    Friedman weights all blocks equally and Page spends power on a
    hypothesized ordering. Completes the blocked-rank family
    (Friedman → Page → Quade).

    Exactness: within-block mid-ranks and block-range mid-ranks both
    use the doubled-rank integer identity (2·rank = 2·#{<} + #{=} + 1,
    the r14 Page convention); S_bj = Q_b·(r_bj − (k+1)/2) is carried
    ×4 as the exact INTEGER q2·(r2 − (k+1)), so Σ S_j² and Σ S_bj²
    are exact BIGINTs and F = (b−1)·ΣS_j² / (b·ΣS_bj² − ΣS_j²) is ONE
    double division. The F(2,12) tail at k=3, b=7 has the closed form
    (1 + F/6)^(−6), evaluated by plain multiplication (no libm pow);
    other shapes emit NULL rather than a wrong constant.

    Scale: one 21-cell aggregate, broadcast triangular joins over the
    21-cell and 7-block frames, catalog-sized folds — the
    stats_friedman_test / stats_page_trend_test shape."""
    cell, rk, dims = _funnel_cells(spark, sf_dir)
    brange = cell.groupBy("blk").agg(
        (F.max("m") - F.min("m")).alias("rng")
    )
    br2 = brange.select(
        F.col("blk").alias("blkb"), F.col("rng").alias("rng2")
    )
    bq = (
        brange.join(F.broadcast(br2), F.col("rng2") <= F.col("rng"))
        .groupBy("blk")
        .agg(
            (
                F.sum(F.when(F.col("rng2") < F.col("rng"), 2).otherwise(1))
                + F.lit(1)
            )
            .cast("bigint")
            .alias("q2")
        )
    )
    s4 = (
        rk.join(bq.withColumnRenamed("blk", "blkq"), F.col("blkq") == F.col("blk"))
        .crossJoin(F.broadcast(dims))
        .select(
            "trt",
            "b",
            "k",
            (F.col("q2") * (F.col("r2") - (F.col("k") + 1))).alias("s4"),
        )
    )
    sj = s4.groupBy("trt", "b", "k").agg(
        F.sum("s4").cast("bigint").alias("s4j"),
        F.sum(F.col("s4") * F.col("s4")).cast("bigint").alias("s4sq"),
    )
    agg = sj.groupBy("b", "k").agg(
        F.sum(F.col("s4j") * F.col("s4j")).cast("bigint").alias("sum_sj2"),
        F.sum("s4sq").cast("bigint").alias("sum_sbj2"),
    )
    denom = (F.col("b") * F.col("sum_sbj2") - F.col("sum_sj2")).cast(
        "double"
    )
    fstat = ((F.col("b") - 1) * F.col("sum_sj2")).cast("double") / F.when(
        denom != 0, denom
    )
    t = F.lit(1.0) + fstat / F.lit(6.0)
    t3 = t * t * t
    return agg.select(
        F.col("b").cast("int").alias("n_blocks"),
        F.col("k").cast("int").alias("n_treatments"),
        F.round(fstat, 6).alias("quade_f"),
        F.round(
            F.when(
                (F.col("k") == 3) & (F.col("b") == 7) & (fstat >= 0),
                F.lit(1.0) / (t3 * t3),
            ),
            8,
        ).alias("p_value"),
    )
