"""Sketch-structure registry queries: Count-Min heavy-hitter
estimation and a Bloom contamination pre-gate — both built on
engine-portable md5 hashing so DuckDB can verify them EXACTLY (the
estimates, not just the shapes) — plus the md5-portable,
hash-attested HyperLogLog mergeable rollup.

These are the approximate/streaming-adjacent counterparts of exact
operators already in the registry: CMS ↔ events_heavy_hitters
(exact), Bloom ↔ dedup_cross_corpus_anti (exact anti-join),
HLL union ↔ agg_distinct / events_rollup_cascade.

Reference parity note: no analog in the reference engine; SURVEY.md
§2.2 agg-variants / north-star dedup families.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ibd_pipeline_spark.catalog import load
from ibd_pipeline_spark.operators.sketches import (
    bloom_build,
    bloom_maybe_contains,
    cms_build,
    cms_probe,
)
from ibd_pipeline_spark.queries import query

_CMS_SQL = """
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS tok FROM documents
), tc AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS true_count FROM tok GROUP BY tok
), cms AS (
  SELECT s.seed,
         CAST(('0x' || substring(md5(CAST(s.seed AS VARCHAR) || ':' || tok), 1, 8))
              AS BIGINT) % 512 AS bucket,
         CAST(SUM(true_count) AS BIGINT) AS cnt
  FROM tc CROSS JOIN (VALUES (0), (1), (2), (3)) s(seed)
  GROUP BY 1, 2
), probes AS (
  SELECT tok, true_count FROM tc ORDER BY true_count DESC, tok LIMIT 10
)
SELECT p.tok, p.true_count,
       MIN(c.cnt) AS cms_estimate,
       CAST(MIN(c.cnt) - p.true_count AS BIGINT) AS overestimate
FROM probes p
CROSS JOIN (VALUES (0), (1), (2), (3)) s(seed)
JOIN cms c
  ON c.seed = s.seed
 AND c.bucket = CAST(('0x' || substring(md5(CAST(s.seed AS VARCHAR) || ':' || p.tok), 1, 8))
                     AS BIGINT) % 512
GROUP BY p.tok, p.true_count
ORDER BY p.true_count DESC, p.tok
"""


@query("sketch_cms_heavy_hitters", oracle=_CMS_SQL)
def sketch_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch over the document token stream (depth 4 ×
    width 512 = 2048 exact counters), probed with the true top-10
    tokens. Output: per token, the exact count, the CMS estimate
    (min over depth rows), and the overestimate — never negative, by
    the CMS one-sided guarantee, which the oracle checks EXACTLY
    because the hash rows are md5-derived and engine-portable.

    Scale: the token count aggregate is the only corpus-sized shuffle
    (plain wordcount); the sketch itself reduces to ≤2048 rows
    regardless of corpus size — the structure a streaming or
    merge-across-shards heavy-hitter pass would persist. The probe
    join broadcasts 40 rows.

    Reuses the registry's tokenizer convention (split on single
    space, operators/text.py:23).
    """
    docs = load(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("true_count"))
    )
    cms = cms_build(counts, "tok", "true_count")
    probes = counts.orderBy(F.col("true_count").desc(), "tok").limit(10)
    est = cms_probe(cms, probes.select("tok"), "tok")
    return (
        probes.join(F.broadcast(est), "tok")
        .select(
            "tok",
            "true_count",
            "cms_estimate",
            (F.col("cms_estimate") - F.col("true_count"))
            .cast("bigint")
            .alias("overestimate"),
        )
        .orderBy(F.col("true_count").desc(), "tok")
    )


_NORM = "md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))))"

_BLOOM_SQL = f"""
WITH e AS (
  SELECT DISTINCT {_NORM} AS h FROM documents WHERE doc_id % 10 = 0
), eh AS (
  SELECT h,
         CAST(('0x' || substring(md5(h), 1, 8)) AS BIGINT) AS h1,
         2 * CAST(('0x' || substring(md5(h), 9, 8)) AS BIGINT) + 1 AS st
  FROM e
), bits AS (
  SELECT LIST(DISTINCT (h1 + j * st) % 8192) AS bl
  FROM eh CROSS JOIN (VALUES (0), (1), (2)) s(j)
), t AS (
  SELECT {_NORM} AS h FROM documents WHERE doc_id % 10 <> 0
), th AS (
  SELECT h,
         CAST(('0x' || substring(md5(h), 1, 8)) AS BIGINT) AS h1,
         2 * CAST(('0x' || substring(md5(h), 9, 8)) AS BIGINT) + 1 AS st
  FROM t
), p AS (
  SELECT h,
         (h1 + 0 * st) % 8192 AS p0,
         (h1 + 1 * st) % 8192 AS p1,
         (h1 + 2 * st) % 8192 AS p2
  FROM th
), c AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_train,
         CAST(COUNT(*) FILTER (
           list_contains((SELECT bl FROM bits), p0)
           AND list_contains((SELECT bl FROM bits), p1)
           AND list_contains((SELECT bl FROM bits), p2)) AS BIGINT) AS n_flagged,
         CAST(COUNT(*) FILTER (h IN (SELECT h FROM e)) AS BIGINT) AS n_exact_dup
  FROM p
)
SELECT n_train, n_flagged, n_exact_dup,
       CAST(n_flagged - n_exact_dup AS BIGINT) AS n_false_pos
FROM c
"""


@query("sketch_bloom_contamination_gate", oracle=_BLOOM_SQL)
def sketch_bloom_contamination_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter pre-gate for cross-corpus contamination: the eval
    slice's normalized-text hashes populate an 8192-bit / 3-hash
    filter (one md5 per key, Kirsch–Mitzenmacher double hashing,
    packed into a one-row 256-word bitset); the train side probes
    three O(1) word positions per doc.
    Output: train size, Bloom-flagged count, exact-duplicate count
    (the ground truth the filter can only over-approximate), and the
    false-positive count — all exact integers the oracle reproduces
    bit-for-bit, because the 'randomness' is md5.

    This is the cheap first pass in front of the exact
    `dedup_cross_corpus_anti` anti-join: at 100 TB the filter is built
    once from the (small, broadcastable) reference corpus and the
    probe is a per-row expression — zero shuffle on the big side; only
    the ~0.6% flagged survivors pay the exact hash join.

    Normalization reuses the cross-corpus dedup convention
    (queries/llmdata.py _NORM_SQL); eval slice = doc_id % 10 == 0,
    the decontamination convention.
    """
    docs = load(spark, sf_dir, "documents")
    norm_h = F.md5(F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))))
    eval_h = (
        docs.filter(F.col("doc_id") % 10 == 0).select(norm_h.alias("h")).distinct()
    )
    bits = bloom_build(eval_h, "h")
    train = docs.filter(F.col("doc_id") % 10 != 0).select(norm_h.alias("h"))
    probed = (
        train.crossJoin(F.broadcast(bits))
        .join(
            F.broadcast(eval_h.withColumn("is_dup", F.lit(1))), "h", "left"
        )
        .select(
            bloom_maybe_contains("bloom_words", F.col("h")).alias("flagged"),
            "is_dup",
        )
    )
    return probed.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_train"),
        F.count(F.when(F.col("flagged"), 1)).cast("bigint").alias("n_flagged"),
        F.count("is_dup").cast("bigint").alias("n_exact_dup"),
        (
            F.count(F.when(F.col("flagged"), 1)) - F.count("is_dup")
        ).cast("bigint").alias("n_false_pos"),
    )


# Portable HyperLogLog (Flajolet et al. 2007), md5-derived and fully
# SQL-replayable:
#   h   = 60-bit md5 prefix               (15 hex chars, both engines)
#   b   = h mod m                         (register index, m = 32)
#   w   = h div m                         (55-bit remainder)
#   rho = trailing zeros of w + 1         (geometric, P(rho=k)=2^-k),
#         56 when w = 0
# Registers merge by MAX, so daily partials union EXACTLY like
# DataSketches sketches. The estimator is exact integer algebra:
# Z = Σ 2^(-M_j) is computed as the BIGINT/DECIMAL sum Σ 2^(56-M_j)
# (every term a power of two ≤ 2^56 — exactly representable, order-
# independent), and the one double division C/Σ happens last, so
# DuckDB replays the ESTIMATE bit-for-bit, small-range linear-
# counting branch included. alpha_32 = 0.697 (the original paper's
# constant for m = 32). m is 32 here (not a production 2^14) so the
# sf ladder exercises BOTH branches: sf0.001's 15 weekly users take
# the LC branch, sf0.01's 150 take the raw-HLL branch.
_HLL_M = 32
_HLL_RHO_MAX = 56  # 55 remainder bits all zero -> rho = 56
_HLL_C = 0.697 * _HLL_M * _HLL_M * (2 ** _HLL_RHO_MAX)  # alpha*m^2*2^56

_HLL_SQL = f"""
WITH ev AS (
  SELECT CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS week,
         CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
         user_id,
         CAST(('0x' || substring(md5('hll:' || CAST(user_id AS VARCHAR)),
                                 1, 15)) AS BIGINT) AS h
  FROM events
), rho AS (
  SELECT week, day, user_id,
         h % {_HLL_M} AS b,
         CASE WHEN h // {_HLL_M} = 0 THEN {_HLL_RHO_MAX}
              ELSE CAST(ROUND(log2((h // {_HLL_M}) & (-(h // {_HLL_M}))), 0)
                        AS INT) + 1 END AS r
  FROM ev
), daily AS (
  SELECT week, day, b, MAX(r) AS reg FROM rho GROUP BY week, day, b
), unioned AS (
  SELECT week, b, MAX(reg) AS reg FROM daily GROUP BY week, b
), direct AS (
  SELECT week, b, MAX(r) AS reg FROM rho GROUP BY week, b
), est_u AS (
  SELECT week, CAST(COUNT(*) AS INT) AS n_nonempty,
         SUM(CAST(POWER(2.0, {_HLL_RHO_MAX} - reg) AS DECIMAL(38,0)))
           + CAST(({_HLL_M} - COUNT(*)) * {2 ** _HLL_RHO_MAX} AS DECIMAL(38,0))
           AS z
  FROM unioned GROUP BY week
), est_d AS (
  SELECT week,
         SUM(CAST(POWER(2.0, {_HLL_RHO_MAX} - reg) AS DECIMAL(38,0)))
           + CAST(({_HLL_M} - COUNT(*)) * {2 ** _HLL_RHO_MAX} AS DECIMAL(38,0))
           AS z,
         CAST(COUNT(*) AS INT) AS n_nonempty
  FROM direct GROUP BY week
), meta AS (
  SELECT week, CAST(COUNT(DISTINCT day) AS INT) AS n_days,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users
  FROM ev GROUP BY week
), fin AS (
  SELECT m.week, m.n_days, u.n_nonempty,
         CASE WHEN {_HLL_C!r} / CAST(u.z AS DOUBLE) <= {2.5 * _HLL_M}
                   AND u.n_nonempty < {_HLL_M}
              THEN {_HLL_M}.0 * ln({_HLL_M}.0 / ({_HLL_M} - u.n_nonempty))
              ELSE {_HLL_C!r} / CAST(u.z AS DOUBLE) END AS eu,
         CASE WHEN {_HLL_C!r} / CAST(d.z AS DOUBLE) <= {2.5 * _HLL_M}
                   AND d.n_nonempty < {_HLL_M}
              THEN {_HLL_M}.0 * ln({_HLL_M}.0 / ({_HLL_M} - d.n_nonempty))
              ELSE {_HLL_C!r} / CAST(d.z AS DOUBLE) END AS ed,
         m.exact_users
  FROM meta m JOIN est_u u USING (week) JOIN est_d d USING (week)
)
SELECT week, n_days, n_nonempty AS n_registers,
       ROUND(eu, 4) AS hll_union_est,
       ROUND(ed, 4) AS hll_direct_est,
       exact_users,
       ROUND(ABS(eu - exact_users) / exact_users, 4) AS rel_err
FROM fin ORDER BY week
"""


@query("sketch_hll_daily_union", oracle=_HLL_SQL)
def sketch_hll_daily_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly distinct users from a UNION of per-day HyperLogLog
    register partials, next to the direct weekly registers and the
    exact count — the mergeable-rollup pattern that replaces re-scans
    at coarser grains. HASH-ATTESTED: the md5-portable HLL above keeps
    every register an integer and defers the single double division
    to the last projection, so DuckDB replays union AND direct
    estimates bit-for-bit — including the small-range linear-counting
    branch (Flajolet's E ≤ 2.5m correction). hll_union_est ==
    hll_direct_est on every row is the attested union-algebra
    invariant (register MAX is associative).

    Scale: daily register partials are map-side combined and bounded
    by m × days rows; any coarser grain (week here, month/rolling-28d
    the same way) is a MAX-merge of partials, never a re-scan. The
    exact countDistinct rides along as the accuracy audit and would
    be dropped at 100 TB."""
    from ibd_pipeline_spark.operators.sketches import hll_registers

    ev = load(spark, sf_dir, "events").select(
        F.to_date(F.date_trunc("week", "ts")).alias("week"),
        F.to_date(F.date_trunc("day", "ts")).alias("day"),
        "user_id",
    )
    rho = ev.select(
        "week", "day", "user_id", *hll_registers(F.col("user_id"), _HLL_M)
    )
    daily = rho.groupBy("week", "day", "b").agg(F.max("r").alias("reg"))
    unioned = daily.groupBy("week", "b").agg(F.max("reg").alias("reg"))
    direct = rho.groupBy("week", "b").agg(F.max("r").alias("reg"))

    two56 = F.lit(2 ** _HLL_RHO_MAX)

    def _z(regs: DataFrame) -> DataFrame:
        return regs.groupBy("week").agg(
            F.count(F.lit(1)).cast("int").alias("n_nonempty"),
            (
                F.sum(
                    F.pow(F.lit(2.0), F.lit(_HLL_RHO_MAX) - F.col("reg")).cast(
                        "decimal(38,0)"
                    )
                )
                + ((F.lit(_HLL_M) - F.count(F.lit(1))) * two56).cast(
                    "decimal(38,0)"
                )
            ).alias("z"),
        )

    def _est(z, n_nonempty):
        raw = F.lit(_HLL_C) / z.cast("double")
        small = F.lit(float(_HLL_M)) * F.log(
            F.lit(float(_HLL_M)) / (F.lit(_HLL_M) - n_nonempty)
        )
        return F.when(
            (raw <= F.lit(2.5 * _HLL_M)) & (n_nonempty < _HLL_M), small
        ).otherwise(raw)

    eu = _z(unioned).select(
        "week", "n_nonempty", _est(F.col("z"), F.col("n_nonempty")).alias("eu")
    )
    ed = _z(direct).select(
        "week", _est(F.col("z"), F.col("n_nonempty")).alias("ed")
    )
    meta = ev.groupBy("week").agg(
        F.countDistinct("day").cast("int").alias("n_days"),
        F.countDistinct("user_id").cast("bigint").alias("exact_users"),
    )
    return (
        meta.join(eu, "week")
        .join(ed, "week")
        .select(
            "week",
            "n_days",
            F.col("n_nonempty").alias("n_registers"),
            F.round("eu", 4).alias("hll_union_est"),
            F.round("ed", 4).alias("hll_direct_est"),
            "exact_users",
            F.round(
                F.abs(F.col("eu") - F.col("exact_users"))
                / F.col("exact_users"),
                4,
            ).alias("rel_err"),
        )
        .orderBy("week")
    )


_LC_M = 65536
_LC_SQL = f"""
WITH ev AS (
  SELECT CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS week,
         CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
         user_id,
         CAST(('0x' || substring(md5('0:' || CAST(user_id AS VARCHAR)), 1, 8))
              AS BIGINT) % {_LC_M} AS b
  FROM events
), weekly AS (
  SELECT week,
         CAST(COUNT(DISTINCT day) AS BIGINT) AS n_days,
         CAST(COUNT(DISTINCT b) AS BIGINT) AS n_occupied,
         CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users
  FROM ev GROUP BY week
)
SELECT week, n_days, n_occupied,
       CASE WHEN n_occupied < {_LC_M} THEN
         ROUND({_LC_M}.0 * ln({_LC_M}.0 / ({_LC_M} - n_occupied)), 4)
       END AS lc_estimate,
       exact_users,
       CASE WHEN n_occupied < {_LC_M} THEN
         ROUND(ABS({_LC_M}.0 * ln({_LC_M}.0 / ({_LC_M} - n_occupied))
                   - exact_users) / exact_users, 4)
       END AS rel_err
FROM weekly
ORDER BY week
"""


@query("sketch_lc_weekly_union", oracle=_LC_SQL)
def sketch_lc_weekly_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-counting distinct estimation, hash-attested — the
    engine-portable twin of the rows-only DataSketches rollup
    (sketch_hll_daily_union): per day, the OCCUPIED-BUCKET SET of
    md5_bucket(user_id) mod m (m = 65536 registers); weekly actives
    are estimated from the UNION of the daily sets via the linear
    counting formula  n̂ = m·ln(m / empty)  (Whang et al. 1990 — the
    low-cardinality regime HyperLogLog itself falls back to).
    Everything is exact integer algebra + one logarithm, so the
    DuckDB oracle replays the estimator bit-for-bit — the estimate
    itself is attested, not just the shape.

    The mergeable-partial structure is the point: daily occupied
    sets union like HLL registers (set-union = max of 0/1
    registers), so coarser grains never re-scan events. Exact weekly
    distinct users ride along for the accuracy readout (rel_err —
    at load factors ≪ 3 linear counting is within ~1%).

    Scale: the per-day distinct-bucket aggregate is map-side
    combined and bounded by m × days rows; the weekly union shuffles
    at most m buckets per week. The exact countDistinct is the one
    corpus-cardinality aggregate (it would be dropped at 100 TB —
    the estimator is the product; it's here as the audit)."""
    from ibd_pipeline_spark.operators.sketches import md5_bucket

    ev = load(spark, sf_dir, "events")
    base = ev.select(
        F.to_date(F.date_trunc("week", "ts")).alias("week"),
        F.to_date(F.date_trunc("day", "ts")).alias("day"),
        "user_id",
        md5_bucket(F.col("user_id"), 0, _LC_M).alias("b"),
    )
    # daily occupied-bucket partials (the mergeable unit)...
    per_day = base.select("week", "day", "b").distinct()
    # ...unioned per week: distinct buckets across the week's days
    weekly_b = per_day.groupBy("week").agg(
        F.countDistinct("day").cast("bigint").alias("n_days"),
        F.countDistinct("b").cast("bigint").alias("n_occupied"),
    )
    weekly_u = base.groupBy("week").agg(
        F.countDistinct("user_id").cast("bigint").alias("exact_users")
    )
    m = F.lit(float(_LC_M))
    # Saturated sketch (every bucket occupied) → ln(m/0) = +inf: the
    # estimator is undefined there, emit NULL (ADVICE r8). In practice
    # load factors this high mean "use a bigger m / real HLL".
    est = F.when(
        F.col("n_occupied") < _LC_M,
        m * F.log(m / (F.lit(_LC_M) - F.col("n_occupied"))),
    )
    return (
        weekly_b.join(weekly_u, "week")
        .select(
            "week",
            "n_days",
            "n_occupied",
            F.round(est, 4).alias("lc_estimate"),
            "exact_users",
            F.round(F.abs(est - F.col("exact_users")) / F.col("exact_users"), 4)
            .alias("rel_err"),
        )
        .orderBy("week")
    )


_ROLL_LC_SQL = f"""
WITH ev AS (
  SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS day,
         user_id,
         CAST(('0x' || substring(md5('0:' || CAST(user_id AS VARCHAR)), 1, 8))
              AS BIGINT) % {_LC_M} AS b
  FROM events
), days AS (
  SELECT day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau_exact
  FROM ev GROUP BY day
), db AS (
  SELECT DISTINCT day, b FROM ev
), roll AS (
  SELECT d.day,
         CAST(COUNT(DISTINCT CASE WHEN db.day >= d.day - 6 THEN db.b END)
              AS BIGINT) AS n_occ_7d,
         CAST(COUNT(DISTINCT db.b) AS BIGINT) AS n_occ_14d
  FROM days d JOIN db ON db.day BETWEEN d.day - 13 AND d.day
  GROUP BY d.day
)
SELECT days.day, dau_exact, n_occ_7d, n_occ_14d,
       CASE WHEN n_occ_7d < {_LC_M} THEN
         ROUND({_LC_M}.0 * ln({_LC_M}.0 / ({_LC_M} - n_occ_7d)), 4)
       END AS wau_est,
       CASE WHEN n_occ_14d < {_LC_M} THEN
         ROUND({_LC_M}.0 * ln({_LC_M}.0 / ({_LC_M} - n_occ_14d)), 4)
       END AS active_14d_est
FROM days JOIN roll USING (day)
ORDER BY day
"""


@query("events_rolling_active_users", oracle=_ROLL_LC_SQL)
def events_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling active users — DAU (exact) next to WAU (trailing
    7 calendar days) and 14-day actives estimated from rolling UNIONS
    of per-day occupied-bucket sets (linear counting, m = 65536):
    the mergeable-sketch rolling pattern that replaces the
    otherwise-ruinous COUNT(DISTINCT) OVER a 7-day frame, now
    HASH-ATTESTED (r10; previously rows-only DataSketches HLL —
    sketch_hll_daily_union keeps that engine-native form): the
    md5-portable bucket + the estimator n̂ = m·ln(m/empty) are exact
    integer algebra + one logarithm, so DuckDB replays the rolling
    estimates bit-for-bit, same as sketch_lc_weekly_union.

    The rolling union runs as a COVERAGE EXPLODE, not a window: each
    (day, bucket) partial covers days [day, day+13], so explode 14
    cover offsets and count distinct buckets per cover day (the 7-day
    grain is the same rows filtered to offset ≤ 6 — one pass, two
    grains). Calendar-day (not observed-day) semantics preserved from
    the r05 ADVICE fix: the cover arithmetic is in date space, so gap
    days never stretch the window.

    Scale: the per-day distinct-bucket partials are map-side combined
    and bounded by m × days rows; the explode is 14× THAT (never 14×
    events); no unpartitioned window anywhere — strictly better than
    the r09 day-frame window form. The exact DAU countDistinct is
    per-day-bounded and rides along as the accuracy anchor."""
    from ibd_pipeline_spark.operators.sketches import md5_bucket

    ev = load(spark, sf_dir, "events")
    base = ev.select(
        F.to_date(F.date_trunc("day", "ts")).alias("day"),
        "user_id",
        md5_bucket(F.col("user_id"), 0, _LC_M).alias("b"),
    )
    days = base.groupBy("day").agg(
        F.countDistinct("user_id").cast("bigint").alias("dau_exact")
    )
    db = base.select("day", "b").distinct()
    covered = db.select(
        "b",
        F.col("day").alias("src_day"),
        F.explode(F.sequence(F.lit(0), F.lit(13))).alias("off"),
    ).select(
        "b", "off", F.date_add(F.col("src_day"), F.col("off")).alias("day")
    )
    roll = covered.groupBy("day").agg(
        F.countDistinct(F.when(F.col("off") <= 6, F.col("b")))
        .cast("bigint")
        .alias("n_occ_7d"),
        F.countDistinct("b").cast("bigint").alias("n_occ_14d"),
    )
    m = F.lit(float(_LC_M))

    def lc(occ: str):
        return F.when(
            F.col(occ) < _LC_M,
            F.round(m * F.log(m / (F.lit(_LC_M) - F.col(occ))), 4),
        )

    # Inner join to observed days: the explode manufactures cover days
    # past the last event day; only days with events are emitted.
    return (
        days.join(roll, "day")
        .select(
            "day",
            "dau_exact",
            "n_occ_7d",
            "n_occ_14d",
            lc("n_occ_7d").alias("wau_est"),
            lc("n_occ_14d").alias("active_14d_est"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# KMV (k-minimum-values) distinct sketch + intersection estimate
# ---------------------------------------------------------------------------

_KMV_K = 200

_KMV_SQL = f"""
WITH ua AS (
  SELECT DISTINCT user_id FROM events WHERE event_type = 'view'
), ub AS (
  SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
), ha AS (
  SELECT CAST(('0x' || substring(md5('kmv:' || CAST(user_id AS VARCHAR)),
                                 1, 15)) AS BIGINT) AS h
  FROM ua
), hb AS (
  SELECT CAST(('0x' || substring(md5('kmv:' || CAST(user_id AS VARCHAR)),
                                 1, 15)) AS BIGINT) AS h
  FROM ub
), ka AS (
  SELECT (SELECT list(h ORDER BY h) FROM ha)[1:{_KMV_K}] AS ks,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM ha) AS n_exact
), kb AS (
  SELECT (SELECT list(h ORDER BY h) FROM hb)[1:{_KMV_K}] AS ks,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM hb) AS n_exact
), un AS (
  SELECT list_sort(list_distinct(ka.ks || kb.ks))[1:{_KMV_K}] AS ks
  FROM ka, kb
), est AS (
  SELECT ka.n_exact AS n_exact_a, kb.n_exact AS n_exact_b,
         CAST(len(ka.ks) AS BIGINT) AS k_a,
         CAST(len(kb.ks) AS BIGINT) AS k_b,
         CAST(len(un.ks) AS BIGINT) AS k_u,
         ka.ks[len(ka.ks)] AS hk_a,
         kb.ks[len(kb.ks)] AS hk_b,
         un.ks[len(un.ks)] AS hk_u,
         CAST(len(list_filter(un.ks,
              x -> list_contains(ka.ks, x) AND list_contains(kb.ks, x)))
              AS BIGINT) AS n_both
  FROM ka, kb, un
)
SELECT n_exact_a, n_exact_b,
       ROUND((k_a - 1) / (CAST(hk_a AS DOUBLE)
                          / 1152921504606846976.0), 4) AS est_a,
       ROUND((k_b - 1) / (CAST(hk_b AS DOUBLE)
                          / 1152921504606846976.0), 4) AS est_b,
       ROUND(CAST(n_both AS DOUBLE) / k_u
             * ((k_u - 1) / (CAST(hk_u AS DOUBLE)
                             / 1152921504606846976.0)), 4)
         AS est_intersection,
       ROUND(CAST(n_both AS DOUBLE) / k_u, 6) AS est_jaccard
FROM est
"""


@query("sketch_kmv_distinct_intersect", oracle=_KMV_SQL)
def sketch_kmv_distinct_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-count sketches for the viewer
    and purchaser user sets, with the SET-INTERSECTION estimate HLL
    cannot give directly: est(|A|) = (k−1)/h₍ₖ₎ from the k-th
    smallest normalized hash, and est(|A∩B|) = ρ·est(|A∪B|) where ρ
    is the share of the union sketch present in both per-set
    sketches (Beyer et al. 2007). Deterministic end-to-end (md5
    order statistics — no RNG), so the sketch itself is
    hash-attested, and the exact distinct counts ride along as the
    accuracy readout.

    Scale: the sketch is MERGEABLE — each partition contributes its
    own ≤k smallest (groupBy over (set, partition-id) partials,
    state ≤ k·P rows), then one k-sized merge; the full hash set is
    never collected anywhere. Union/intersection run on three
    k-sized arrays.

    Exactness: hashes are exact 60-bit integers; order statistics
    and membership are integer operations; the only doubles are the
    three closed-form estimates, rounded."""
    ev = load(spark, sf_dir, "events")

    def kset(tp: str) -> DataFrame:
        h = (
            ev.filter(F.col("event_type") == tp)
            .select("user_id")
            .distinct()
            .select(
                F.conv(
                    F.substring(
                        F.md5(F.concat_ws(":", F.lit("kmv"), "user_id")), 1, 15
                    ),
                    16,
                    10,
                )
                .cast("bigint")
                .alias("h")
            )
        )
        # mergeable min-k: per-partition partials (<= k each), then one
        # k-sized merge — exact k smallest, no data-sized state
        part = h.groupBy(F.spark_partition_id().alias("p")).agg(
            F.slice(F.array_sort(F.collect_list("h")), 1, _KMV_K).alias("ks")
        )
        return part.select(F.explode("ks").alias("h")).agg(
            F.slice(F.array_sort(F.collect_list("h")), 1, _KMV_K).alias("ks"),
        ).crossJoin(
            F.broadcast(h.agg(F.count(F.lit(1)).cast("bigint").alias("n_exact")))
        )

    ka = kset("view").select(
        F.col("ks").alias("ks_a"), F.col("n_exact").alias("n_exact_a")
    )
    kb = kset("purchase").select(
        F.col("ks").alias("ks_b"), F.col("n_exact").alias("n_exact_b")
    )
    j = ka.crossJoin(F.broadcast(kb)).withColumn(
        "ks_u",
        F.slice(
            F.array_sort(F.array_distinct(F.concat("ks_a", "ks_b"))),
            1,
            _KMV_K,
        ),
    )
    two60 = 1152921504606846976.0  # 2^60 — hash normalization
    est = j.select(
        "n_exact_a",
        "n_exact_b",
        F.size("ks_a").cast("bigint").alias("k_a"),
        F.size("ks_b").cast("bigint").alias("k_b"),
        F.size("ks_u").cast("bigint").alias("k_u"),
        F.element_at("ks_a", -1).alias("hk_a"),
        F.element_at("ks_b", -1).alias("hk_b"),
        F.element_at("ks_u", -1).alias("hk_u"),
        F.size(
            F.filter(
                F.col("ks_u"),
                lambda x: F.array_contains(F.col("ks_a"), x)
                & F.array_contains(F.col("ks_b"), x),
            )
        )
        .cast("bigint")
        .alias("n_both"),
    )
    return est.select(
        "n_exact_a",
        "n_exact_b",
        F.round(
            (F.col("k_a") - 1) / (F.col("hk_a").cast("double") / two60), 4
        ).alias("est_a"),
        F.round(
            (F.col("k_b") - 1) / (F.col("hk_b").cast("double") / two60), 4
        ).alias("est_b"),
        F.round(
            F.col("n_both").cast("double")
            / F.col("k_u")
            * ((F.col("k_u") - 1) / (F.col("hk_u").cast("double") / two60)),
            4,
        ).alias("est_intersection"),
        F.round(F.col("n_both").cast("double") / F.col("k_u"), 6).alias(
            "est_jaccard"
        ),
    )


# ---------------------------------------------------------------------------
# Horvitz–Thompson sum estimation from a deterministic 10% sample (r13)
# ---------------------------------------------------------------------------

_HT_SQL = """
WITH t AS (
  SELECT l_extendedprice AS y,
         CAST(('0x' || substring(md5('ht13:' || CAST(l_orderkey AS VARCHAR)
                                  || '-' || CAST(l_linenumber AS VARCHAR)),
                                 1, 8)) AS BIGINT) % 10 AS b
  FROM lineitem
), s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_sample,
         CAST(ROUND(SUM(CAST(y AS DECIMAL(28,8))), 2) AS DOUBLE) AS sy,
         CAST(ROUND(SUM(CAST(y AS DECIMAL(28,8))
                        * CAST(y AS DECIMAL(28,8))), 2) AS DOUBLE) AS syy
  FROM t WHERE b = 0
), tr AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
         CAST(ROUND(SUM(CAST(y AS DECIMAL(28,8))), 2) AS DOUBLE) AS true_sum
  FROM t
), e AS (
  SELECT n_sample, n_total, true_sum,
         sy * 10.0 AS est,
         sqrt(syy * 0.9 * 100.0) AS se
  FROM s CROSS JOIN tr
)
SELECT n_sample, n_total,
       ROUND(est, 2) AS ht_estimate,
       ROUND(true_sum, 2) AS true_sum,
       ROUND(se, 2) AS se,
       ROUND((est - true_sum) / true_sum, 6) AS rel_error
FROM e
"""


@query("sketch_sample_sum_estimator", oracle=_HT_SQL)
def sketch_sample_sum_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Horvitz–Thompson total-revenue estimate from a DETERMINISTIC
    10% Bernoulli sample (md5 bucket on the row key — the
    train_split_three_way membership contract: stable across reruns,
    engines, partitioning, appends): θ̂ = Σ_sample y / p with the
    standard V̂ = (1−p)/p²·Σ_sample y² variance estimate — "query the
    sample, bound the error" is the cheapest approximate-aggregation
    scheme there is and the baseline any sketch must beat; true_sum
    rides along for attestation (the capture-recapture/randomized-
    response honesty pattern).

    Exactness: sample membership is a pure row function; both sums
    stay in the decimal domain (y·y exact at DECIMAL(38,16)→rounded);
    estimate/SE/relative error are one double chain.

    Scale: one pushed-filter scan for the sample aggregate + one full
    scan for the attestation column (dropped in production — the
    whole point is NOT computing the true sum)."""
    li = load(spark, sf_dir, "lineitem")
    from ibd_pipeline_spark.operators.sketches import md5_bucket

    key = F.concat_ws(
        "-",
        F.col("l_orderkey").cast("string"),
        F.col("l_linenumber").cast("string"),
    )
    t = li.select(
        F.col("l_extendedprice").alias("y"),
        md5_bucket(key, F.lit("ht13"), 10).alias("b"),
    )
    yd = F.col("y").cast("decimal(28,8)")
    s = t.filter(F.col("b") == 0).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sample"),
        F.round(F.sum(yd), 2).cast("double").alias("sy"),
        F.round(F.sum(yd * yd), 2).cast("double").alias("syy"),
    )
    tr = t.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_total"),
        F.round(F.sum(yd), 2).cast("double").alias("true_sum"),
    )
    e = s.crossJoin(F.broadcast(tr))
    est = F.col("sy") * F.lit(10.0)
    se = F.sqrt(F.col("syy") * F.lit(0.9) * F.lit(100.0))
    return e.select(
        "n_sample",
        "n_total",
        F.round(est, 2).alias("ht_estimate"),
        F.round(F.col("true_sum"), 2).alias("true_sum"),
        F.round(se, 2).alias("se"),
        F.round((est - F.col("true_sum")) / F.col("true_sum"), 6).alias(
            "rel_error"
        ),
    )


# ---------------------------------------------------------------------------
# (moved from round8.py in the r14 chronological->topic split;
# registry names, semantics, and oracles unchanged)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# Sketch-based audience overlap (inclusion–exclusion)
# ---------------------------------------------------------------------------

_AO_M = 65536
_AUDIENCE_OVERLAP_SQL = f"""
WITH ev AS (
  SELECT DISTINCT event_type AS t, user_id AS u,
         CAST(('0x' || substring(md5('0:' || CAST(user_id AS VARCHAR)), 1, 8))
              AS BIGINT) % {_AO_M} AS b
  FROM events
), types AS (
  SELECT DISTINCT t FROM ev
), spine AS (
  SELECT a.t AS type_a, c.t AS type_b
  FROM types a JOIN types c ON a.t < c.t
), occ AS (
  SELECT t, CAST(COUNT(DISTINCT b) AS BIGINT) AS occ FROM ev GROUP BY t
), uin AS (
  SELECT a.t AS type_a, c.t AS type_b,
         CAST(COUNT(DISTINCT a.u) AS BIGINT) AS exact_overlap
  FROM ev a JOIN ev c ON c.u = a.u AND a.t < c.t
  GROUP BY 1, 2
), tbkt AS (
  SELECT DISTINCT t, b FROM ev
), bin AS (
  SELECT a.t AS type_a, c.t AS type_b, CAST(COUNT(*) AS BIGINT) AS nb
  FROM tbkt a JOIN tbkt c ON c.b = a.b AND a.t < c.t
  GROUP BY 1, 2
)
SELECT s.type_a AS type_a, s.type_b AS type_b,
       COALESCE(u.exact_overlap, 0) AS exact_overlap,
       ROUND(
         (CASE WHEN oa.occ < {_AO_M} THEN {_AO_M}.0 * ln({_AO_M}.0 / ({_AO_M} - oa.occ)) END)
         + (CASE WHEN ob.occ < {_AO_M} THEN {_AO_M}.0 * ln({_AO_M}.0 / ({_AO_M} - ob.occ)) END)
         - (CASE WHEN oa.occ + ob.occ - COALESCE(b.nb, 0) < {_AO_M}
            THEN {_AO_M}.0 * ln({_AO_M}.0 / ({_AO_M} - (oa.occ + ob.occ - COALESCE(b.nb, 0)))) END),
         4) AS est_overlap,
       CASE WHEN COALESCE(u.exact_overlap, 0) = 0 THEN NULL
            ELSE ROUND(ABS(
              (CASE WHEN oa.occ < {_AO_M} THEN {_AO_M}.0 * ln({_AO_M}.0 / ({_AO_M} - oa.occ)) END)
              + (CASE WHEN ob.occ < {_AO_M} THEN {_AO_M}.0 * ln({_AO_M}.0 / ({_AO_M} - ob.occ)) END)
              - (CASE WHEN oa.occ + ob.occ - COALESCE(b.nb, 0) < {_AO_M}
                 THEN {_AO_M}.0 * ln({_AO_M}.0 / ({_AO_M} - (oa.occ + ob.occ - COALESCE(b.nb, 0)))) END)
              - u.exact_overlap) / u.exact_overlap, 4) END AS rel_err
FROM spine s
JOIN occ oa ON oa.t = s.type_a
JOIN occ ob ON ob.t = s.type_b
LEFT JOIN uin u ON u.type_a = s.type_a AND u.type_b = s.type_b
LEFT JOIN bin b ON b.type_a = s.type_a AND b.type_b = s.type_b
ORDER BY s.type_a, s.type_b
"""


@query("sketch_audience_overlap", oracle=_AUDIENCE_OVERLAP_SQL)
def sketch_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience overlap matrix by sketch inclusion–exclusion:
    |A ∩ B| ≈ lc(A) + lc(B) − lc(A ∪ B), where lc is the
    linear-counting estimate over each audience's occupied-bucket
    set and the union's occupancy comes from bucket-set algebra
    (occ_A + occ_B − shared buckets) — intersections are exactly
    what mergeable union-only sketches (HLL/LC) cannot answer
    directly, and inclusion–exclusion over THREE union estimates is
    the standard production answer ('how much do the click and
    purchase audiences overlap' without re-scanning raw events).
    The exact overlap rides alongside for the error readout.

    Hash-attested: the md5-portable bucket (the sketch_lc_weekly_union
    idiom) makes occupancy integers identical in both engines, and
    the lc formula is the same IEEE double expression — the whole
    matrix is exact under the 4-dp output rounding.

    Scale: one distinct-projection of (type, user) (map-side
    combined), then every join runs on user-count or bucket-count
    (≤ 65536/type) frames; the exact-overlap self-join exists for
    the error column and is the piece you DROP at 100 TB — the
    sketch branch never touches raw volume twice."""
    ev = (
        load(spark, sf_dir, "events")
        .select(
            F.col("event_type").alias("t"),
            F.col("user_id").alias("u"),
        )
        .distinct()
        .select("t", "u", F.pmod(
            F.conv(
                F.substring(
                    F.md5(F.concat_ws(":", F.lit("0"), F.col("u").cast("string"))),
                    1, 8,
                ), 16, 10,
            ).cast("bigint"), F.lit(_AO_M),
        ).alias("b"))
    )
    types = ev.select("t").distinct()
    ta, tc = types.alias("a"), types.alias("c")
    spine = ta.join(tc, F.col("a.t") < F.col("c.t")).select(
        F.col("a.t").alias("type_a"), F.col("c.t").alias("type_b")
    )
    occ = ev.groupBy("t").agg(F.countDistinct("b").cast("bigint").alias("occ"))
    ea, ec = ev.alias("a"), ev.alias("c")
    uin = (
        ea.join(ec, (F.col("c.u") == F.col("a.u")) & (F.col("a.t") < F.col("c.t")))
        .groupBy(F.col("a.t").alias("type_a"), F.col("c.t").alias("type_b"))
        .agg(F.countDistinct("a.u").cast("bigint").alias("exact_overlap"))
    )
    tbkt = ev.select("t", "b").distinct()
    ba, bc = tbkt.alias("a"), tbkt.alias("c")
    bin_ = (
        ba.join(bc, (F.col("c.b") == F.col("a.b")) & (F.col("a.t") < F.col("c.t")))
        .groupBy(F.col("a.t").alias("type_a"), F.col("c.t").alias("type_b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("nb"))
    )
    m = float(_AO_M)
    # Saturated occupancy (x == m) would be ln(m/0) = +inf — the
    # estimator is undefined there; NULL propagates through the
    # inclusion-exclusion sum exactly as in the SQL twin (ADVICE r8).
    lc = lambda x: F.when(  # noqa: E731
        x < _AO_M, F.lit(m) * F.log(F.lit(m) / (F.lit(_AO_M) - x))
    )
    est = (
        lc(F.col("occ_a"))
        + lc(F.col("occ_b"))
        - lc(F.col("occ_a") + F.col("occ_b") - F.coalesce(F.col("nb"), F.lit(0)))
    )
    exact = F.coalesce(F.col("exact_overlap"), F.lit(0))
    return (
        spine.join(
            F.broadcast(occ.withColumnsRenamed({"t": "type_a", "occ": "occ_a"})),
            "type_a",
        )
        .join(
            F.broadcast(occ.withColumnsRenamed({"t": "type_b", "occ": "occ_b"})),
            "type_b",
        )
        .join(F.broadcast(uin), ["type_a", "type_b"], "left")
        .join(F.broadcast(bin_), ["type_a", "type_b"], "left")
        .select(
            "type_a",
            "type_b",
            exact.alias("exact_overlap"),
            F.round(est, 4).alias("est_overlap"),
            F.when(exact == 0, F.lit(None).cast("double"))
            .otherwise(F.round(F.abs(est - exact) / exact, 4))
            .alias("rel_err"),
        )
        .orderBy("type_a", "type_b")
    )


# ---------------------------------------------------------------------------
# Sketch error CALIBRATION: predicted bound vs measured error (r15)
# ---------------------------------------------------------------------------

# the instruments' theoretical error constants — Python literals, the
# config-constant convention (no engine-side fractional pow)
_BLOOM_M, _BLOOM_K = 8192, 3
_HLL_RSE = round(1.04 / (32 ** 0.5), 6)  # 1.04/sqrt(m), m = 32


def _calibration_oracle() -> str:
    # Bloom predicted FPR = (1 - e^{-kn/m})^k (the standard uniform-
    # hashing expectation; the exact (1-(1-1/m)^{kn})^k differs by
    # O(kn/m^2), far inside the 3-sigma band)
    base = f"(1.0 - exp(-({_BLOOM_K}.0 * n_items) / {_BLOOM_M}.0))"
    bloom_pred = f"({base} * {base} * {base})"
    return f"""
WITH ev AS (
  SELECT CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS week,
         user_id,
         CAST(('0x' || substring(md5('hll:' || CAST(user_id AS VARCHAR)),
                                 1, 15)) AS BIGINT) AS h
  FROM events
), rho AS (
  SELECT week, user_id,
         h % {_HLL_M} AS b,
         CASE WHEN h // {_HLL_M} = 0 THEN {_HLL_RHO_MAX}
              ELSE CAST(ROUND(log2((h // {_HLL_M}) & (-(h // {_HLL_M}))), 0)
                        AS INT) + 1 END AS r
  FROM ev
), direct AS (
  SELECT week, b, MAX(r) AS reg FROM rho GROUP BY week, b
), est AS (
  SELECT week, CAST(COUNT(*) AS INT) AS n_nonempty,
         SUM(CAST(POWER(2.0, {_HLL_RHO_MAX} - reg) AS DECIMAL(38,0)))
           + CAST(({_HLL_M} - COUNT(*)) * {2 ** _HLL_RHO_MAX} AS DECIMAL(38,0))
           AS z
  FROM direct GROUP BY week
), meta AS (
  SELECT week, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users
  FROM ev GROUP BY week
), hll_rows AS (
  SELECT 'hll_w:' || strftime(m.week, '%Y-%m-%d') AS instrument,
         m.exact_users AS n_items,
         CAST(NULL AS BIGINT) AS n_probes,
         {_HLL_RSE} AS predicted_err,
         ABS(CASE WHEN {_HLL_C!r} / CAST(e.z AS DOUBLE) <= {2.5 * _HLL_M}
                       AND e.n_nonempty < {_HLL_M}
                  THEN {_HLL_M}.0 * ln({_HLL_M}.0 / ({_HLL_M} - e.n_nonempty))
                  ELSE {_HLL_C!r} / CAST(e.z AS DOUBLE) END
             - m.exact_users) / m.exact_users AS measured_err,
         ABS(CASE WHEN {_HLL_C!r} / CAST(e.z AS DOUBLE) <= {2.5 * _HLL_M}
                       AND e.n_nonempty < {_HLL_M}
                  THEN {_HLL_M}.0 * ln({_HLL_M}.0 / ({_HLL_M} - e.n_nonempty))
                  ELSE {_HLL_C!r} / CAST(e.z AS DOUBLE) END
             - m.exact_users) / m.exact_users <= 3.0 * {_HLL_RSE}
           AS within_3sigma
  FROM meta m JOIN est e USING (week)
), e AS (
  SELECT DISTINCT {_NORM} AS h FROM documents WHERE doc_id % 10 = 0
), eh AS (
  SELECT h,
         CAST(('0x' || substring(md5(h), 1, 8)) AS BIGINT) AS h1,
         2 * CAST(('0x' || substring(md5(h), 9, 8)) AS BIGINT) + 1 AS st
  FROM e
), bits AS (
  SELECT LIST(DISTINCT (h1 + j * st) % {_BLOOM_M}) AS bl
  FROM eh CROSS JOIN (VALUES (0), (1), (2)) s(j)
), nonmem AS (
  SELECT DISTINCT {_NORM} AS h FROM documents
  WHERE doc_id % 10 <> 0 AND {_NORM} NOT IN (SELECT h FROM e)
), np AS (
  SELECT h,
         CAST(('0x' || substring(md5(h), 1, 8)) AS BIGINT) AS h1,
         2 * CAST(('0x' || substring(md5(h), 9, 8)) AS BIGINT) + 1 AS st
  FROM nonmem
), bc AS (
  SELECT CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_items,
         CAST(COUNT(*) AS BIGINT) AS n_probes,
         CAST(COUNT(*) FILTER (
           list_contains((SELECT bl FROM bits), (h1 + 0 * st) % {_BLOOM_M})
           AND list_contains((SELECT bl FROM bits), (h1 + 1 * st) % {_BLOOM_M})
           AND list_contains((SELECT bl FROM bits), (h1 + 2 * st) % {_BLOOM_M}))
           AS BIGINT) AS fp
  FROM np
), bloom_row AS (
  SELECT 'bloom_fpr' AS instrument, n_items, n_probes,
         {bloom_pred} AS predicted_err,
         CAST(fp AS DOUBLE) / n_probes AS measured_err,
         ABS(CAST(fp AS DOUBLE) / n_probes - {bloom_pred})
           <= 3.0 * sqrt({bloom_pred} * (1.0 - {bloom_pred}) / n_probes)
           AS within_3sigma
  FROM bc
)
SELECT instrument, n_items, n_probes,
       ROUND(predicted_err, 6) AS predicted_err,
       ROUND(measured_err, 6) AS measured_err,
       within_3sigma
FROM (SELECT * FROM bloom_row UNION ALL SELECT * FROM hll_rows)
ORDER BY instrument
"""


@query("sketch_error_calibration", oracle=_calibration_oracle)
def sketch_error_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicted-vs-measured error for the approximate COUNTING
    machinery — the sketch-family twin of dedup_lsh_calibration
    (r13 measured, r14 planned, r15 calibrates): does the theory
    constant each sketch is deployed under actually describe its
    behavior on THIS data?

    - `bloom_fpr`: the 8192-bit/3-hash contamination gate's measured
      false-positive rate over DISTINCT non-member probe keys beside
      the uniform-hashing expectation (1 − e^{−kn/m})^k, with the
      Bernoulli sampling band 3·√(p(1−p)/n_probes) deciding
      within_3sigma — the md5 'randomness' is fixed, so this is the
      same fixed-family calibration argument the LSH row makes.
    - `hll_w:<week>`: the m = 32 portable HLL's per-week relative
      error beside the estimator's relative standard error 1.04/√m
      (a Python config literal, like the LSH thresholds), LC branch
      included.

    Exactness: every count is an exact integer both engines reproduce
    bit-for-bit (md5-derived positions/registers); the only doubles
    are the ln/exp/√ chains both engines evaluate identically (the
    Jarque–Bera/MI convention), verdict booleans compared on the
    UNROUNDED chain (the Dunn convention), displayed errors rounded
    at 6.

    Scale: the Bloom side re-runs the gate's build+probe (bitset
    broadcast, zero shuffle on the probe side); the HLL side is one
    register aggregate (m × weeks rows). The exact distinct counts
    ride along as the audit truth and are what you'd drop at 100 TB —
    after THIS row has told you the error model can be trusted."""
    from ibd_pipeline_spark.operators.sketches import (
        bloom_build,
        bloom_maybe_contains,
        hll_registers,
    )

    # --- HLL side (direct weekly registers, union-equal by the
    # attested merge algebra) ---
    ev = load(spark, sf_dir, "events").select(
        F.to_date(F.date_trunc("week", "ts")).alias("week"), "user_id"
    )
    rho = ev.select("week", "user_id", *hll_registers(F.col("user_id"), _HLL_M))
    direct = rho.groupBy("week", "b").agg(F.max("r").alias("reg"))
    est = direct.groupBy("week").agg(
        F.count(F.lit(1)).cast("int").alias("n_nonempty"),
        (
            F.sum(
                F.pow(F.lit(2.0), F.lit(_HLL_RHO_MAX) - F.col("reg")).cast(
                    "decimal(38,0)"
                )
            )
            + (
                (F.lit(_HLL_M) - F.count(F.lit(1)))
                * F.lit(2 ** _HLL_RHO_MAX)
            ).cast("decimal(38,0)")
        ).alias("z"),
    )
    meta = ev.groupBy("week").agg(
        F.countDistinct("user_id").cast("bigint").alias("exact_users")
    )
    raw = F.lit(_HLL_C) / F.col("z").cast("double")
    small = F.lit(float(_HLL_M)) * F.log(
        F.lit(float(_HLL_M)) / (F.lit(_HLL_M) - F.col("n_nonempty"))
    )
    e_hll = F.when(
        (raw <= F.lit(2.5 * _HLL_M)) & (F.col("n_nonempty") < _HLL_M), small
    ).otherwise(raw)
    h_err = F.abs(e_hll - F.col("exact_users")) / F.col("exact_users")
    hll_rows = (
        meta.join(est, "week")
        .select(
            F.concat(
                F.lit("hll_w:"), F.date_format("week", "yyyy-MM-dd")
            ).alias("instrument"),
            F.col("exact_users").alias("n_items"),
            F.lit(None).cast("bigint").alias("n_probes"),
            F.lit(_HLL_RSE).alias("predicted_err"),
            h_err.alias("measured_err"),
            (h_err <= F.lit(3.0 * _HLL_RSE)).alias("within_3sigma"),
        )
    )

    # --- Bloom side (distinct non-member probes) ---
    docs = load(spark, sf_dir, "documents")
    norm_h = F.md5(F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))))
    eval_h = (
        docs.filter(F.col("doc_id") % 10 == 0)
        .select(norm_h.alias("h"))
        .distinct()
    )
    bits = bloom_build(eval_h, "h")
    nonmem = (
        docs.filter(F.col("doc_id") % 10 != 0)
        .select(norm_h.alias("h"))
        .distinct()
        .join(eval_h, "h", "left_anti")
    )
    bc = (
        nonmem.crossJoin(F.broadcast(bits))
        .select(
            bloom_maybe_contains("bloom_words", F.col("h")).alias("flagged")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_probes"),
            F.count(F.when(F.col("flagged"), 1)).cast("bigint").alias("fp"),
        )
        .crossJoin(
            F.broadcast(
                eval_h.agg(F.count(F.lit(1)).cast("bigint").alias("n_items"))
            )
        )
    )
    base = F.lit(1.0) - F.exp(
        -(F.lit(float(_BLOOM_K)) * F.col("n_items")) / F.lit(float(_BLOOM_M))
    )
    b_pred = base * base * base
    b_meas = F.col("fp").cast("double") / F.col("n_probes")
    bloom_row = bc.select(
        F.lit("bloom_fpr").alias("instrument"),
        "n_items",
        "n_probes",
        b_pred.alias("predicted_err"),
        b_meas.alias("measured_err"),
        (
            F.abs(b_meas - b_pred)
            <= F.lit(3.0)
            * F.sqrt(b_pred * (F.lit(1.0) - b_pred) / F.col("n_probes"))
        ).alias("within_3sigma"),
    )

    return (
        bloom_row.unionByName(hll_rows)
        .select(
            "instrument",
            "n_items",
            "n_probes",
            F.round("predicted_err", 6).alias("predicted_err"),
            F.round("measured_err", 6).alias("measured_err"),
            "within_3sigma",
        )
        .orderBy("instrument")
    )
