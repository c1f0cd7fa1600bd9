"""Event-time windowing over the `events` table — the batch-checkable
mirror of the reference's streaming core (SURVEY.md §5.2).

The reference's one real query is: watermark → 5-minute tumbling
window → avg/max/stddev (spark_processor.py:149-164). Completed-window
semantics are batch-expressible, so each variant here is a batch
DataFrame query with a DuckDB time_bucket oracle; the true streaming
versions (update mode, watermark eviction, pluggable sink) live in
ibd_pipeline_spark.streaming and are smoke-tested separately.

Timestamp precision contract: the fixture's ts is parquet timestamp[ns];
Spark truncates to microseconds on read, so every oracle casts
ts to TIMESTAMP (µs) before bucketing/comparison.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window  # noqa: F401

from ibd_pipeline_spark.catalog import load
from ibd_pipeline_spark.queries import davg, query


def _daily_value_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(did, tot): per day index (days since 2024-01-01) the exact
    decimal sum of `value`, rounded at 4 in the decimal domain."""
    ev = load(spark, sf_dir, "events")
    return ev.groupBy(
        F.datediff(
            F.date_trunc("day", F.col("ts")).cast("date"),
            F.lit("2024-01-01").cast("date"),
        )
        .cast("bigint")
        .alias("did")
    ).agg(
        F.round(F.sum(F.col("value").cast("decimal(28,8)")), 4).alias("tot")
    )


def _asof_inputs(
    spark: SparkSession, sf_dir: str
) -> "tuple[DataFrame, DataFrame]":
    """(probes, events) of the as-of joins: the first 100 orders as
    (o_orderkey, order_ts, k = o_custkey % 50), and every event as
    (k = user_id, event_ts)."""
    probes = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 100)
        .select(
            "o_orderkey",
            F.col("o_orderdate").cast("timestamp").alias("order_ts"),
            (F.col("o_custkey") % 50).alias("k"),
        )
    )
    events = load(spark, sf_dir, "events").select(
        F.col("user_id").alias("k"), F.col("ts").alias("event_ts")
    )
    return probes, events


@query(
    "events_tumbling_window",
    oracle="""
SELECT time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)) AS window_start,
       event_type,
       COUNT(*)                       AS n_events,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(28,8))), 4) AS DOUBLE) / COUNT(value) AS avg_value,
       ROUND(MAX(value), 4)           AS max_value,
       ROUND(COALESCE(STDDEV_SAMP(value), 0.0), 4) AS stddev_value
FROM events
GROUP BY 1, 2
ORDER BY window_start, event_type
""",
)
def events_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling event-time window + the reference's aggregate trio.

    Mirrors spark_processor.py:150-164 (window → avg/max/stddev) as a
    batch query, keyed additionally by event_type. The stddev is
    coalesced to 0.0 for single-row windows — fixing the reference's
    float(None) sink crash (spark_processor.py:183) instead of
    reproducing it.

    Scale: window(ts) is just a computed grouping key — one shuffle,
    map-side partial aggregation applies. Streaming version adds a
    state store but the same partial-agg shape.
    """
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            davg(F.col("value"), 4).alias("avg_value"),
            F.round(F.max("value"), 4).alias("max_value"),
            F.round(F.coalesce(F.stddev("value"), F.lit(0.0)), 4).alias("stddev_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "avg_value",
            "max_value",
            "stddev_value",
        )
        .orderBy("window_start", "event_type")
    )


@query(
    "events_sliding_window",
    oracle="""
WITH expanded AS (
  SELECT unnest([time_bucket(INTERVAL 30 MINUTE, CAST(ts AS TIMESTAMP)),
                 time_bucket(INTERVAL 30 MINUTE, CAST(ts AS TIMESTAMP)) - INTERVAL 30 MINUTE])
           AS window_start,
         value
  FROM events
)
SELECT window_start,
       COUNT(*)             AS n_events,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(28,10))), 4) AS DOUBLE) AS sum_value
FROM expanded
GROUP BY window_start
ORDER BY window_start
""",
)
def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding window: 1-hour length, 30-minute slide — each event
    contributes to exactly 2 windows (window length / slide).

    The oracle reproduces the duplication with unnest of the two
    candidate window starts; Spark's window() does the same expansion
    internally (Expand node).
    """
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(28,10)")), 4).cast("double").alias("sum_value"),
        )
        .select(F.col("w.start").alias("window_start"), "n_events", "sum_value")
        .orderBy("window_start")
    )


@query(
    "events_session_window",
    oracle="""
WITH ordered AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value,
         CASE WHEN CAST(ts AS TIMESTAMP)
                   - LAG(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP))
                   > INTERVAL 6 HOUR
              OR LAG(ts) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP)) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
),
islands AS (
  SELECT user_id, ts, value,
         SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM ordered
)
SELECT user_id,
       MIN(ts)              AS session_start,
       COUNT(*)             AS n_events,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(28,10))), 4) AS DOUBLE) AS sum_value
FROM islands
GROUP BY user_id, session_id
ORDER BY user_id, session_start
""",
)
def events_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows per user with a 6-hour inactivity gap.

    Spark: F.session_window (native, state-store-backed in streaming).
    Oracle: classic gaps-and-islands SQL — LAG to mark session breaks,
    running SUM to number islands.

    Scale: session_window shuffles once on user_id; skewed users are
    the risk (one mega-user = one giant partition) — mitigate with
    AQE skew handling, or pre-split pathological keys.
    """
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "6 hours").alias("w"), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(28,10)")), 4).cast("double").alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
            "sum_value",
        )
        .orderBy("user_id", "session_start")
    )


@query(
    "events_weather_parity_agg",
    oracle="""
SELECT time_bucket(INTERVAL 5 MINUTE, CAST(ts AS TIMESTAMP)) AS window_start,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(28,8))), 4) AS DOUBLE) / COUNT(value) AS avg_temperature_c,
       ROUND(MAX(value), 4)                         AS max_wind_gust_kmph,
       ROUND(COALESCE(STDDEV_SAMP(value), 0.0), 4)  AS temperature_stddev,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(28,8))), 4) AS DOUBLE) / COUNT(value) AS total_precipitation_mm
FROM events
GROUP BY 1
ORDER BY window_start
""",
)
def events_weather_parity_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference-parity aggregate shape: 5-minute tumbling window with
    the exact output-name quirks of spark_processor.py:153-164 —
    including `total_precipitation_mm` being an AVG despite its name
    (spark_processor.py:163, documented in SURVEY §2 A4) and stddev
    coalesced to 0.0 (the reference would crash on NULL,
    spark_processor.py:183)."""
    e = load(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "5 minutes").alias("w"))
        .agg(
            davg(F.col("value"), 4).alias("avg_temperature_c"),
            F.round(F.max("value"), 4).alias("max_wind_gust_kmph"),
            F.round(F.coalesce(F.stddev("value"), F.lit(0.0)), 4).alias("temperature_stddev"),
            davg(F.col("value"), 4).alias("total_precipitation_mm"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "avg_temperature_c",
            "max_wind_gust_kmph",
            "temperature_stddev",
            "total_precipitation_mm",
        )
        .orderBy("window_start")
    )


@query(
    "events_dedup_exact",
    oracle="""
SELECT user_id, event_type, COUNT(*) AS n
FROM (
  SELECT DISTINCT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts
  FROM events
)
GROUP BY user_id, event_type
ORDER BY user_id, event_type
""",
)
def events_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicates on a key subset — batch analog of streaming
    dropDuplicatesWithinWatermark (SURVEY §2.2 'stateful ops')."""
    e = load(spark, sf_dir, "events")
    return (
        e.select("user_id", "event_type", "ts")
        .dropDuplicates(["user_id", "event_type", "ts"])
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("user_id", "event_type")
    )


@query(
    "events_asof_join",
    oracle="""
SELECT o.o_orderkey,
       CAST(o.o_orderdate AS TIMESTAMP) AS order_ts,
       e.last_event_ts
FROM orders o
LEFT JOIN LATERAL (
  SELECT MAX(CAST(ts AS TIMESTAMP)) AS last_event_ts
  FROM events
  WHERE CAST(ts AS TIMESTAMP) <= CAST(o.o_orderdate AS TIMESTAMP)
    AND user_id = o.o_custkey % 50
) e ON TRUE
WHERE o.o_orderkey < 100
ORDER BY o.o_orderkey
""",
)
def events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each order, the latest event (same synthetic
    key) at-or-before the order date.

    Spark lacks a native ASOF JOIN; the scalable composition is
    union-and-window (tag both streams, sort by time within key,
    last() of the event timestamp over a running frame) — one shuffle
    on the key, no range explosion. This beats the naive
    range-join-then-max formulation, which explodes to O(pairs) before
    aggregating.
    """
    from ibd_pipeline_spark.operators.joins import as_of_join

    probes, events = _asof_inputs(spark, sf_dir)
    return (
        as_of_join(probes, events, key="k", probe_time="order_ts", event_time="event_ts")
        .select(
            "o_orderkey",
            "order_ts",
            F.col("asof_event_ts").alias("last_event_ts"),
        )
        .orderBy("o_orderkey")
    )


@query(
    "events_rollup_cascade",
    oracle="""
SELECT time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)) AS hour_start,
       event_type,
       COUNT(*) AS n_events,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(28,8))), 4) AS DOUBLE) / COUNT(value)
         AS avg_value,
       ROUND(MAX(value), 4) AS max_value
FROM events
GROUP BY 1, 2
ORDER BY hour_start, event_type
""",
)
def events_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate cascade: a 5-minute
    rollup holds MERGEABLE partials (count, exact decimal sum, max) —
    never avg — and the 1-hour grain is computed FROM those partials
    (sum of counts, sum of sums, max of maxes), not from raw events.
    The oracle aggregates raw directly, proving the two-level merge is
    lossless.

    Scale design: this is how coarse grains stay cheap at 100 TB —
    the hourly/daily/monthly cascade re-reads only the 5-min rollup
    (~1/300th the rows), and each level is an ordinary map-side-
    combined groupBy. Storing avg instead of (sum, count) partials
    would make re-aggregation WRONG (avg of avgs weights windows
    equally); storing double sums instead of decimal would make it
    partition-order-dependent. The same partial schema is what a
    streaming materialization would checkpoint incrementally.
    """
    e = load(spark, sf_dir, "events")
    fine = (
        e.groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(28,8)")).alias("s"),
            F.max("value").alias("mx"),
        )
    )
    return (
        fine.groupBy(
            F.date_trunc("hour", F.col("w.start")).alias("hour_start"), "event_type"
        )
        .agg(
            F.sum("n").alias("n_events"),
            (F.round(F.sum("s"), 4).cast("double") / F.sum("n")).alias(
                "avg_value"
            ),
            F.round(F.max("mx"), 4).alias("max_value"),
        )
        .orderBy("hour_start", "event_type")
    )


# ---------------------------------------------------------------------------
# Binary-segmentation changepoint: best single split of daily volume
# ---------------------------------------------------------------------------

_BSEG_SQL = """
WITH dd AS (
  SELECT CAST(date_diff('day', DATE '2024-01-01',
                        CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE))
              AS BIGINT) AS di,
         CAST(COUNT(*) AS BIGINT) AS y
  FROM events GROUP BY 1
), cum AS (
  SELECT di, y,
         SUM(y) OVER (ORDER BY di) AS s1,
         CAST(ROW_NUMBER() OVER (ORDER BY di) AS BIGINT) AS rn,
         (SELECT CAST(SUM(y) AS BIGINT) FROM dd) AS st,
         (SELECT CAST(COUNT(*) AS BIGINT) FROM dd) AS n
  FROM dd
), cand AS (
  SELECT di, rn, n, s1, st,
         CAST(s1 AS DOUBLE) * s1 / rn
           + CAST(st - s1 AS DOUBLE) * (st - s1) / (n - rn)
           - CAST(st AS DOUBLE) * st / n AS gain
  FROM cum WHERE rn < n
), best AS (
  SELECT di, rn, n, s1, st, gain,
         ROW_NUMBER() OVER (ORDER BY gain DESC, di) AS pick
  FROM cand
)
SELECT CAST(n AS BIGINT) AS n_days,
       CAST(di AS BIGINT) AS split_di,
       CAST(rn AS BIGINT) AS n_left,
       ROUND(gain, 6) AS between_sse_gain,
       ROUND(CAST(s1 AS DOUBLE) / rn, 6) AS mean_left,
       ROUND(CAST(st - s1 AS DOUBLE) / (n - rn), 6) AS mean_right
FROM best WHERE pick = 1
"""


@query("events_best_split_sse", oracle=_BSEG_SQL)
def events_best_split_sse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One round of binary-segmentation changepoint detection on
    daily event volume: the split day maximizing the between-group
    sum-of-squares gain S₁²/n_L + S₂²/n_R − S²/N (equivalently,
    minimizing total within-segment SSE). The level-shift detector
    CUSUM approximates — this one is EXACT for a single shift, and
    the full binary-segmentation algorithm is this query applied
    recursively to each side.

    Exactness: cumulative and total sums are exact BIGINTs off the
    distributed prefix-sum spine (no unpartitioned window); the gain
    is identical double algebra per candidate; the argmax breaks
    ties on the EARLIEST day via a deterministic best-of struct.

    Scale: one day-key count shuffle + one range exchange; the
    candidate scan and argmax run on the days-sized frame
    (TakeOrdered-style 1-row reduce, no global sort)."""
    from ibd_pipeline_spark.operators.ranking import with_global_prefix_sums

    ev = load(spark, sf_dir, "events")
    dd = ev.groupBy(
        F.datediff(
            F.to_date(F.date_trunc("day", "ts")), F.lit("2024-01-01").cast("date")
        ).alias("di")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("y"))
    dd = dd.withColumn("one", F.lit(1).cast("bigint"))
    cum = with_global_prefix_sums(dd, ["di"], ["y", "one"])
    cand = cum.select(
        "di",
        F.col("_cum_one").alias("rn"),
        F.col("_tot_one").alias("n"),
        F.col("_cum_y").alias("s1"),
        F.col("_tot_y").alias("st"),
    ).filter(F.col("rn") < F.col("n"))
    gain = (
        F.col("s1").cast("double") * F.col("s1") / F.col("rn")
        + (F.col("st") - F.col("s1")).cast("double")
        * (F.col("st") - F.col("s1"))
        / (F.col("n") - F.col("rn"))
        - F.col("st").cast("double") * F.col("st") / F.col("n")
    )
    scored = cand.withColumn("gain", gain)
    # deterministic argmax: max over (gain, -di) struct — ties to the
    # EARLIEST day; a 1-row reduce, not a sort
    best = scored.agg(
        F.max(
            F.struct(
                F.col("gain"),
                (-F.col("di")).alias("ndi"),
                F.col("di"),
                F.col("rn"),
                F.col("n"),
                F.col("s1"),
                F.col("st"),
            )
        ).alias("b")
    ).select("b.*")
    return best.select(
        F.col("n").cast("bigint").alias("n_days"),
        F.col("di").cast("bigint").alias("split_di"),
        F.col("rn").cast("bigint").alias("n_left"),
        F.round("gain", 6).alias("between_sse_gain"),
        F.round(F.col("s1").cast("double") / F.col("rn"), 6).alias("mean_left"),
        F.round(
            (F.col("st") - F.col("s1")).cast("double")
            / (F.col("n") - F.col("rn")),
            6,
        ).alias("mean_right"),
    )


# ---------------------------------------------------------------------------
# Lo–MacKinlay variance-ratio test, q = 2, on the daily value series (r13)
# ---------------------------------------------------------------------------

_VR_SQL = """
WITH d AS (
  SELECT CAST(date_diff('day', DATE '2024-01-01',
                        CAST(date_trunc('day', CAST(ts AS TIMESTAMP))
                             AS DATE)) AS BIGINT) AS did,
         CAST(ROUND(SUM(CAST(value AS DECIMAL(28,8))), 4) AS DECIMAL(28,8))
           AS sd
  FROM events GROUP BY 1
), d1 AS (
  SELECT a.did, a.sd - b.sd AS inc1
  FROM d a JOIN d b ON b.did = a.did - 1
), d2 AS (
  SELECT a.did, a.sd - b.sd AS inc2
  FROM d a JOIN d b ON b.did = a.did - 2
), m1 AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS m,
         CAST(SUM(inc1) AS DOUBLE) AS s1,
         CAST(SUM(CAST(inc1 AS DECIMAL(38,8)) * inc1) AS DOUBLE) AS s2
  FROM d1
), m2 AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS m,
         CAST(SUM(inc2) AS DOUBLE) AS s1,
         CAST(SUM(CAST(inc2 AS DECIMAL(38,8)) * inc2) AS DOUBLE) AS s2
  FROM d2
), s AS (
  SELECT m1.m AS m1n, m2.m AS m2n,
         (m1.s2 - m1.s1 * m1.s1 / m1.m) / m1.m AS v1,
         (m2.s2 - m2.s1 * m2.s1 / m2.m) / m2.m AS v2
  FROM m1 CROSS JOIN m2
), vr AS (
  SELECT m1n, m2n, v1, v2, v2 / (2.0 * v1) AS vratio FROM s
)
SELECT m1n AS n_increments,
       ROUND(v1, 4) AS var_1period,
       ROUND(v2, 4) AS var_2period,
       ROUND(vratio, 6) AS variance_ratio,
       ROUND(sqrt(CAST(m1n AS DOUBLE)) * (vratio - 1.0), 6) AS z_stat
FROM vr
"""


@query("events_variance_ratio", oracle=_VR_SQL)
def events_variance_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lo–MacKinlay variance-ratio test (q = 2) on the daily value
    series: under a random walk, the variance of 2-day increments is
    exactly twice the 1-day variance, so VR = Var(2d)/(2·Var(1d))
    departs from 1 under mean reversion (< 1) or trending (> 1) —
    the econometric "is this series a random walk" companion to
    stats_ljung_box's autocorrelation portmanteau (VR(2) ≈ 1 + ρ₁,
    so the two cross-check).

    Exactness: daily totals are exact decimals; increments are exact
    decimal differences built by DAY-INDEX SELF-JOINS (no lag window
    anywhere — the day-grain frame stays distributed); raw moments
    Σd and Σd² sum in the decimal domain, and the MLE variances /
    ratio / z = √T·(VR−1) (the homoskedastic asymptotics, φ(2) = 1)
    run the identical double chain both engines.

    Scale: one map-side-combined day aggregate (≤ days rows forever),
    two metadata-sized equi-joins on day index, two one-row moment
    folds. Nothing is ever proportional to raw event volume except
    the first aggregate scan."""
    d = _daily_value_totals(spark, sf_dir).select(
        "did", F.col("tot").cast("decimal(28,8)").alias("sd")
    )
    a, b = d.alias("a"), d.alias("b")

    def increments(k: int, name: str) -> DataFrame:
        return a.join(
            b, F.col("b.did") == F.col("a.did") - F.lit(k)
        ).select((F.col("a.sd") - F.col("b.sd")).alias(name))

    m1 = increments(1, "inc1").agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum("inc1").cast("double").alias("s1"),
        F.sum(F.col("inc1").cast("decimal(38,8)") * F.col("inc1"))
        .cast("double")
        .alias("s2"),
    )
    m2 = increments(2, "inc2").agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum("inc2").cast("double").alias("s1"),
        F.sum(F.col("inc2").cast("decimal(38,8)") * F.col("inc2"))
        .cast("double")
        .alias("s2"),
    )
    s = m1.select(
        F.col("m").alias("m1n"),
        ((F.col("s2") - F.col("s1") * F.col("s1") / F.col("m")) / F.col("m"))
        .alias("v1"),
    ).crossJoin(
        F.broadcast(
            m2.select(
                F.col("m").alias("m2n"),
                (
                    (F.col("s2") - F.col("s1") * F.col("s1") / F.col("m"))
                    / F.col("m")
                ).alias("v2"),
            )
        )
    )
    vr = F.col("v2") / (F.lit(2.0) * F.col("v1"))
    return s.select(
        F.col("m1n").alias("n_increments"),
        F.round(F.col("v1"), 4).alias("var_1period"),
        F.round(F.col("v2"), 4).alias("var_2period"),
        F.round(vr, 6).alias("variance_ratio"),
        F.round(
            F.sqrt(F.col("m1n").cast("double")) * (vr - F.lit(1.0)), 6
        ).alias("z_stat"),
    )


# ---------------------------------------------------------------------------
# Seasonal strength via residue-class ANOVA (trig-free periodogram, r13)
# ---------------------------------------------------------------------------

_SEASONAL_SQL = """
WITH d AS (
  SELECT CAST(date_diff('day', DATE '2024-01-01',
                        CAST(date_trunc('day', CAST(ts AS TIMESTAMP))
                             AS DATE)) AS BIGINT) AS did,
         CAST(ROUND(SUM(CAST(value AS DECIMAL(28,8))), 4) AS DOUBLE) AS x
  FROM events GROUP BY 1
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(ROUND(SUM(CAST(x AS DECIMAL(28,8))), 4) AS DOUBLE) AS sx
  FROM d
), per AS (
  SELECT p FROM (VALUES (2), (3), (7)) AS t(p)
), cls AS (
  SELECT per.p, d.did % per.p AS r,
         CAST(COUNT(*) AS BIGINT) AS nr,
         CAST(ROUND(SUM(CAST(d.x AS DECIMAL(28,8))), 4) AS DOUBLE) AS sr
  FROM d CROSS JOIN per GROUP BY per.p, d.did % per.p
), ssb AS (
  SELECT cls.p,
         CAST(COUNT(*) AS BIGINT) AS k,
         CAST(ROUND(SUM(CAST(
           (sr / nr - sx / n) * (sr / nr - sx / n) * nr
           AS DECIMAL(38,8))), 4) AS DOUBLE) AS ss_between
  FROM cls CROSS JOIN tot GROUP BY cls.p
), sst AS (
  SELECT CAST(ROUND(SUM(CAST(
           (x - sx / n) * (x - sx / n) AS DECIMAL(38,8))), 4) AS DOUBLE)
           AS ss_total
  FROM d CROSS JOIN tot
)
SELECT p AS period, k AS n_classes,
       ROUND(ss_between, 4) AS ss_between,
       ROUND(ss_total, 4) AS ss_total,
       ROUND(ss_between / ss_total, 6) AS seasonal_strength,
       ROUND((ss_between / (k - 1))
             / ((ss_total - ss_between)
                / ((SELECT n FROM tot) - k)), 6) AS f_stat
FROM ssb CROSS JOIN sst
ORDER BY period
"""


@query("events_seasonal_strength_anova", oracle=_SEASONAL_SQL)
def events_seasonal_strength_anova(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-strength detector via residue-class ANOVA — a
    TRIG-FREE periodogram: for each candidate period p ∈ {2, 3, 7}
    (every class needs replication: k < n_days = 30 at all fixtures,
    so month-scale periods are out of scope by design),
    fold the daily series by day-index mod p and measure how much
    variance the p-class means explain (SSB/SST = the seasonal
    strength of the forecast literature; the F ratio tests it).
    The true weekly cycle shows up as the dominant p = 7 row without
    a single cos() call — which is the point: cross-engine trig is
    the one libm surface the float discipline can't pin, while this
    decomposition is exact decimal sums end to end.

    Exactness: daily totals and class sums are exact decimals; class
    means divide decimal-rounded doubles by integer counts; every
    squared-deviation term is decimal-quantized before folding.

    Scale: one day-grain aggregate (≤ days rows forever), one
    (period, residue) aggregate over day×3 rows — all metadata-sized
    after the first scan; no windows."""
    d = _daily_value_totals(spark, sf_dir).select(
        "did", F.col("tot").cast("double").alias("x")
    )
    tot = d.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(F.sum(F.col("x").cast("decimal(28,8)")), 4)
        .cast("double")
        .alias("sx"),
    )
    per = d.sparkSession.createDataFrame([(2,), (3,), (7,)], "p int")
    cls = (
        d.crossJoin(F.broadcast(per))
        .groupBy("p", (F.col("did") % F.col("p")).alias("r"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("nr"),
            F.round(F.sum(F.col("x").cast("decimal(28,8)")), 4)
            .cast("double")
            .alias("sr"),
        )
    )
    mu = F.col("sx") / F.col("n")
    ssb = (
        cls.crossJoin(F.broadcast(tot))
        .groupBy("p")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("k"),
            F.round(
                F.sum(
                    (
                        (F.col("sr") / F.col("nr") - mu)
                        * (F.col("sr") / F.col("nr") - mu)
                        * F.col("nr")
                    ).cast("decimal(38,8)")
                ),
                4,
            )
            .cast("double")
            .alias("ss_between"),
        )
    )
    sst = (
        d.crossJoin(F.broadcast(tot))
        .agg(
            F.round(
                F.sum(((F.col("x") - mu) * (F.col("x") - mu)).cast("decimal(38,8)")),
                4,
            )
            .cast("double")
            .alias("ss_total"),
        )
        .crossJoin(F.broadcast(tot.select("n")))
    )
    return (
        ssb.crossJoin(F.broadcast(sst))
        .select(
            F.col("p").alias("period"),
            F.col("k").alias("n_classes"),
            F.round(F.col("ss_between"), 4).alias("ss_between"),
            F.round(F.col("ss_total"), 4).alias("ss_total"),
            F.round(F.col("ss_between") / F.col("ss_total"), 6).alias(
                "seasonal_strength"
            ),
            F.round(
                (F.col("ss_between") / (F.col("k") - 1))
                / (
                    (F.col("ss_total") - F.col("ss_between"))
                    / (F.col("n") - F.col("k"))
                ),
                6,
            ).alias("f_stat"),
        )
        .orderBy("period")
    )


# ---------------------------------------------------------------------------
# Exponential-decay fit via log-linear OLS on the day frame (r13)
# ---------------------------------------------------------------------------

_DECAY_SQL = """
WITH d AS (
  SELECT CAST(date_diff('day', DATE '2024-01-01',
                        CAST(date_trunc('day', CAST(ts AS TIMESTAMP))
                             AS DATE)) AS BIGINT) AS t,
         CAST(ROUND(SUM(CAST(value AS DECIMAL(28,8))), 4) AS DOUBLE) AS y
  FROM events WHERE event_type = 'purchase' GROUP BY 1
), ly AS (
  SELECT t, ln(y) AS g FROM d WHERE y > 0
), m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(t) AS BIGINT) AS sx,
         CAST(SUM(t * t) AS BIGINT) AS sxx,
         CAST(ROUND(SUM(CAST(g AS DECIMAL(28,12))), 8) AS DOUBLE) AS sy,
         CAST(ROUND(SUM(CAST(t * g AS DECIMAL(28,12))), 8) AS DOUBLE) AS sxy
  FROM ly
), fit AS (
  SELECT n,
         (sxy - CAST(sx AS DOUBLE) * sy / n)
           / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n) AS slope,
         sy / n - (sxy - CAST(sx AS DOUBLE) * sy / n)
           / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n)
           * (CAST(sx AS DOUBLE) / n) AS intercept
  FROM m
)
SELECT n AS n_days,
       ROUND(intercept, 6) AS log_intercept,
       ROUND(slope, 8) AS decay_rate,
       CASE WHEN slope < 0 THEN ROUND(-ln(2.0) / slope, 4) END
         AS half_life_days,
       ROUND(exp(intercept), 4) AS fitted_day0
FROM fit
"""


@query("events_decay_halflife_fit", oracle=_DECAY_SQL)
def events_decay_halflife_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential-decay fit of daily purchase volume by LOG-LINEAR
    OLS: ln(y_t) = a + b·t, half-life = −ln2/b — the retention/decay
    primitive behind "how fast does this cohort/feature/campaign
    fade" (NULL half-life when the series isn't decaying, as a
    stationary fixture honestly reports). The closed-form OLS shares
    the stats_durbin_watson integer-moment discipline: Σt, Σt² are
    exact integers, ln(y) terms come from exact-decimal daily totals
    and are decimal-quantized before folding.

    Scale: one day-grain aggregate then a one-row closed-form fit —
    nothing beyond the first scan is data-sized; no windows."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    d = ev.groupBy(
        F.datediff(
            F.date_trunc("day", F.col("ts")).cast("date"),
            F.lit("2024-01-01").cast("date"),
        )
        .cast("bigint")
        .alias("t")
    ).agg(
        F.round(F.sum(F.col("value").cast("decimal(28,8)")), 4)
        .cast("double")
        .alias("y")
    )
    ly = d.filter(F.col("y") > 0).select("t", F.log("y").alias("g"))
    m = ly.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("t").cast("bigint").alias("sx"),
        F.sum(F.col("t") * F.col("t")).cast("bigint").alias("sxx"),
        F.round(F.sum(F.col("g").cast("decimal(28,12)")), 8)
        .cast("double")
        .alias("sy"),
        F.round(F.sum((F.col("t") * F.col("g")).cast("decimal(28,12)")), 8)
        .cast("double")
        .alias("sxy"),
    )
    sxd = F.col("sx").cast("double")
    slope = (F.col("sxy") - sxd * F.col("sy") / F.col("n")) / (
        F.col("sxx").cast("double") - sxd * F.col("sx") / F.col("n")
    )
    intercept = F.col("sy") / F.col("n") - slope * (sxd / F.col("n"))
    return m.select(
        F.col("n").alias("n_days"),
        F.round(intercept, 6).alias("log_intercept"),
        F.round(slope, 8).alias("decay_rate"),
        F.when(slope < 0, F.round(-F.log(F.lit(2.0)) / slope, 4)).alias(
            "half_life_days"
        ),
        F.round(F.exp(intercept), 4).alias("fitted_day0"),
    )


# ---------------------------------------------------------------------------
# (moved from round10_analytics.py in the r14 chronological->topic split;
# registry names, semantics, and oracles unchanged)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# Fano factor / burstiness of event arrivals
# ---------------------------------------------------------------------------

_FANO_SQL = """
WITH h AS (
  SELECT event_type,
         time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)) AS hour,
         CAST(COUNT(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
), m AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n_hours,
         CAST(SUM(c) AS BIGINT) AS s,
         CAST(SUM(c * c) AS BIGINT) AS q
  FROM h GROUP BY event_type
), d AS (
  SELECT event_type, n_hours, s,
         CAST(s AS DOUBLE) / n_hours AS mu,
         CASE WHEN n_hours > 1 THEN
           (CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * s / n_hours)
             / (n_hours - 1) END AS vr
  FROM m
)
SELECT event_type, n_hours, s AS n_events,
       ROUND(mu, 6) AS mean_per_hour,
       ROUND(vr / mu, 6) AS fano_factor,
       ROUND(vr / (mu * mu), 6) AS cv_squared,
       ROUND((sqrt(vr) - mu) / (sqrt(vr) + mu), 6) AS burstiness
FROM d ORDER BY event_type
"""


@query("events_fano_burstiness", oracle=_FANO_SQL)
def events_fano_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrival burstiness per event type from hourly bucket counts —
    the monitoring trio nothing else in the registry covers: Fano
    factor (var/mean; 1 = Poisson, >1 = overdispersed/bursty), CV²
    (var/mean² — the squared coefficient of variation queueing theory
    keys on), and the Goh–Barabási burstiness B = (σ−μ)/(σ+μ)
    ∈ (−1, 1). Bucket counts are exact BIGINTs, so the (n, Σc, Σc²)
    moments are integers and every statistic is fixed double algebra
    at output.

    Scale: one map-side-combined (type, hour) count — the grain is
    calendar-bounded — then a type-level moment aggregate; no window,
    no join."""
    from ibd_pipeline_spark.streaming.burstiness import fano_report

    ev = load(spark, sf_dir, "events")
    h = ev.groupBy(
        "event_type",
        F.date_trunc("hour", "ts").alias("hour"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    return fano_report(h).orderBy("event_type")


# ---------------------------------------------------------------------------
# (moved from round6.py in the r14 chronological->topic split;
# registry names, semantics, and oracles unchanged)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# Funnel conversion latency
# ---------------------------------------------------------------------------

_FUNNEL_LAT_SQL = """
WITH f AS (
  SELECT user_id,
         MIN(ts) FILTER (event_type = 'signup')   AS first_signup,
         MIN(ts) FILTER (event_type = 'purchase') AS first_purchase
  FROM events GROUP BY user_id
), lat AS (
  SELECT CAST(date_diff('second', first_signup, first_purchase) AS DOUBLE)
           AS lat_s
  FROM f
  WHERE first_signup IS NOT NULL AND first_purchase > first_signup
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
       ROUND(percentile_cont(0.5) WITHIN GROUP (ORDER BY lat_s), 4) AS p50_s,
       ROUND(percentile_cont(0.9) WITHIN GROUP (ORDER BY lat_s), 4) AS p90_s,
       CAST(MAX(lat_s) AS BIGINT) AS max_s
FROM lat
"""


@query("events_funnel_latency", oracle=_FUNNEL_LAT_SQL)
def events_funnel_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution for the signup→purchase funnel:
    exact p50/p90 latency in seconds across users whose first
    purchase follows their first signup. Same conditional-MIN
    per-user shape as funnel_signup_purchase (one shuffle, never a
    self-join); this query adds the LATENCY quantiles a funnel
    readout needs next to the conversion count.

    Latencies are integer second diffs cast to double, so the exact
    interpolated percentile is a sum of halves — binary-exact in
    both engines (the text_length_percentiles contract).

    Scale: groupBy user_id is the one event-volume shuffle; the
    quantile runs over the (users-sized) latency column — swap in
    approx_percentile when conversions alone exceed a buffer."""
    e = load(spark, sf_dir, "events")
    f = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("fs"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("fp"),
    )
    lat = f.filter(
        F.col("fs").isNotNull() & (F.col("fp") > F.col("fs"))
    ).select(
        (F.unix_timestamp("fp") - F.unix_timestamp("fs"))
        .cast("double")
        .alias("lat_s")
    )
    return lat.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_converted"),
        F.round(F.percentile("lat_s", F.lit(0.5)), 4).alias("p50_s"),
        F.round(F.percentile("lat_s", F.lit(0.9)), 4).alias("p90_s"),
        F.max("lat_s").cast("bigint").alias("max_s"),
    )


# ---------------------------------------------------------------------------
# Inter-arrival time statistics
# ---------------------------------------------------------------------------

_INTERARRIVAL_SQL = """
WITH s AS (
  SELECT event_type, user_id, ts,
         LAG(ts) OVER (PARTITION BY user_id, event_type
                       ORDER BY ts, event_id) AS prev_ts
  FROM events
), g AS (
  SELECT event_type,
         CAST(date_diff('second', prev_ts, ts) AS DOUBLE) AS gap_s
  FROM s WHERE prev_ts IS NOT NULL
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_gaps,
       ROUND(percentile_cont(0.5) WITHIN GROUP (ORDER BY gap_s), 4) AS p50_s,
       ROUND(percentile_cont(0.9) WITHIN GROUP (ORDER BY gap_s), 4) AS p90_s
FROM g
GROUP BY event_type
ORDER BY event_type
"""


@query("events_inter_arrival_stats", oracle=_INTERARRIVAL_SQL)
def events_inter_arrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type inter-arrival statistics: exact p50/p90 of the
    gap (seconds) between a user's consecutive events of the same
    type — the cadence profile that sizes session-gap thresholds and
    watermark horizons (events_sessionize_gaps picks its 30-min gap
    from exactly this readout). LAG over (user, type) with event_id
    tiebreak for determinism on equal timestamps.

    Scale: one shuffle on (user_id, event_type) for the window; gaps
    aggregate per type — tiny output. Integer-second diffs keep the
    interpolated percentile binary-exact cross-engine."""
    from pyspark.sql import Window

    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    s = e.select(
        "event_type",
        (
            F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
        )
        .cast("double")
        .alias("gap_s"),
    ).filter(F.col("gap_s").isNotNull())
    return (
        s.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_gaps"),
            F.round(F.percentile("gap_s", F.lit(0.5)), 4).alias("p50_s"),
            F.round(F.percentile("gap_s", F.lit(0.9)), 4).alias("p90_s"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Winsorized mean
# ---------------------------------------------------------------------------

_WINSOR_SQL = """
WITH b AS (
  SELECT event_type,
         percentile_cont(0.05) WITHIN GROUP (ORDER BY value) AS lo,
         percentile_cont(0.95) WITHIN GROUP (ORDER BY value) AS hi
  FROM events GROUP BY event_type
), c AS (
  SELECT e.event_type,
         LEAST(GREATEST(e.value, b.lo), b.hi) AS clipped
  FROM events e JOIN b ON e.event_type = b.event_type
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(ROUND(SUM(CAST(clipped AS DECIMAL(28,8))), 4) AS DOUBLE)
         / COUNT(*) AS winsor_mean
FROM c
GROUP BY event_type
ORDER BY event_type
"""


@query("events_value_winsorize", oracle=_WINSOR_SQL)
def events_value_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean of event value per type: clip at the exact
    p05/p95 group quantiles, then average — the outlier-robust KPI
    that stops one whale purchase from moving the daily number. The
    mean follows the davg contract (exact decimal sum rounded in the
    decimal domain, THEN divided) so the oracle hash is stable; the
    clip thresholds are interpolated percentiles computed identically
    in both engines.

    Scale: two passes over events sharing one event_type shuffle —
    quantiles per group, then clip+aggregate with the threshold row
    broadcast back. Swap approx_percentile in when a single group's
    values can't buffer (the stats_approx_percentiles trade)."""
    from ibd_pipeline_spark.queries import davg

    e = load(spark, sf_dir, "events")
    b = e.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.05)).alias("lo"),
        F.percentile("value", F.lit(0.95)).alias("hi"),
    )
    c = e.join(F.broadcast(b), "event_type").select(
        "event_type",
        F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi")).alias(
            "clipped"
        ),
    )
    return (
        c.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            davg(F.col("clipped"), 4).alias("winsor_mean"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# DAU/WAU stickiness
# ---------------------------------------------------------------------------

_STICKINESS_SQL = """
WITH d AS (
  SELECT CAST(date_trunc('week', ts) AS DATE) AS week,
         CAST(date_trunc('day', ts) AS DATE) AS day,
         user_id
  FROM events
), daily AS (
  SELECT week, day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau
  FROM d GROUP BY week, day
), weekly AS (
  SELECT week, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau
  FROM d GROUP BY week
)
SELECT w.week,
       CAST(SUM(dl.dau) AS BIGINT) AS sum_dau,
       w.wau,
       CAST(SUM(dl.dau) * 10000 // (COUNT(dl.day) * w.wau) AS BIGINT)
         AS stickiness_bp
FROM weekly w JOIN daily dl ON dl.week = w.week
GROUP BY w.week, w.wau
ORDER BY w.week
"""


@query("events_stickiness_ratio", oracle=_STICKINESS_SQL)
def events_stickiness_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly stickiness (avg DAU / WAU, the product-health ratio):
    per calendar week, the sum of daily distinct actives, the weekly
    distinct actives, and avgDAU/WAU in integer basis points
    (floor-div — exact oracle, no float rounding). Two COUNT
    DISTINCTs sharing one (week/day, user) pre-dedup shuffle.

    Scale: at event volume this is the one dedup shuffle; for the
    rolling/sketched form see events_rolling_active_users (HLL
    unions) — this query pins the exact values the sketches
    approximate."""
    e = load(spark, sf_dir, "events").select(
        F.to_date(F.date_trunc("week", "ts")).alias("week"),
        F.to_date(F.date_trunc("day", "ts")).alias("day"),
        "user_id",
    )
    daily = e.groupBy("week", "day").agg(
        F.countDistinct("user_id").cast("bigint").alias("dau")
    )
    weekly = e.groupBy("week").agg(
        F.countDistinct("user_id").cast("bigint").alias("wau")
    )
    return (
        weekly.join(daily, "week")
        .groupBy("week", "wau")
        .agg(
            F.sum("dau").cast("bigint").alias("sum_dau"),
            F.count("day").alias("n_days"),
        )
        .select(
            "week",
            "sum_dau",
            "wau",
            F.expr("sum_dau * 10000L div (n_days * wau)")
            .cast("bigint")
            .alias("stickiness_bp"),
        )
        .orderBy("week")
    )


# ---------------------------------------------------------------------------
# (moved from round11.py in the r14 chronological->topic split;
# registry names, semantics, and oracles unchanged)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# Interval-union activity coverage
# ---------------------------------------------------------------------------

_IVU_SQL = """
WITH iv AS (
  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS s,
         epoch_us(CAST(ts AS TIMESTAMP)) + 300000000 AS e
  FROM events WHERE user_id < 50
), marked AS (
  SELECT user_id, s, e,
         CASE WHEN s > COALESCE(MAX(e) OVER (
                PARTITION BY user_id ORDER BY s, e
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
              -9223372036854775808)
              THEN 1 ELSE 0 END AS new_island
  FROM iv
), isl AS (
  SELECT user_id, s, e,
         SUM(new_island) OVER (
           PARTITION BY user_id ORDER BY s, e
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island_id
  FROM marked
), g AS (
  SELECT user_id, island_id,
         MIN(s) AS is_, MAX(e) AS ie, CAST(COUNT(*) AS BIGINT) AS n
  FROM isl GROUP BY user_id, island_id
)
SELECT user_id,
       CAST(SUM(n) AS BIGINT) AS n_events,
       CAST(COUNT(*) AS BIGINT) AS n_islands,
       CAST(SUM(ie - is_) AS BIGINT) AS covered_us
FROM g GROUP BY user_id ORDER BY user_id
"""


@query("events_interval_union_time", oracle=_IVU_SQL)
def events_interval_union_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user TOTAL ACTIVE TIME as the union of overlapping
    activity intervals (each event opens a 5-minute window): the
    sweep-line island merge — an interval starts a new island iff its
    start exceeds the running max end of everything before it — done
    entirely with user-PARTITIONED windows and exact integer
    microseconds. The engagement-time primitive session counts
    under-measure (overlapping sessions double-count; this never
    does). Complements join_interval_overlap (pairwise) with the
    union/coverage aggregate.

    Scale: one user_id shuffle shared by both windows and the island
    aggregate — the sessionization shape; islands are
    monotone-mergeable so a streaming twin holds per-user
    (last_island_end) state only. user_id < 50 bounds the output,
    not the shape."""
    ev = load(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    iv = ev.select(
        "user_id", us.alias("s"), (us + F.lit(300_000_000)).alias("e")
    )
    w = Window.partitionBy("user_id").orderBy("s", "e")
    prev_max = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    marked = iv.select(
        "user_id",
        "s",
        "e",
        F.when(
            F.col("s") > F.coalesce(prev_max, F.lit(-(2**63))), 1
        ).otherwise(0).alias("new_island"),
    )
    isl = marked.select(
        "user_id",
        "s",
        "e",
        F.sum("new_island")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("island_id"),
    )
    g = isl.groupBy("user_id", "island_id").agg(
        F.min("s").alias("is_"),
        F.max("e").alias("ie"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    return (
        g.groupBy("user_id")
        .agg(
            F.sum("n").cast("bigint").alias("n_events"),
            F.count(F.lit(1)).cast("bigint").alias("n_islands"),
            F.sum(F.col("ie") - F.col("is_")).cast("bigint").alias("covered_us"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Brown's double exponential smoothing + 7-day forecast
# ---------------------------------------------------------------------------

_DS_W = [0.5 ** k for k in range(8)]  # dyadic EWMA weights, a = 0.5
_DS_A = 1.9921875  # sum of the 8 truncated weights (2 - 2^-7)


def _ewma_sql(col: str, lag_fmt: str) -> str:
    """value + 0.5*lag1 + ... over 7 lags, normalized — written once,
    instantiated for both engines with their lag spelling."""
    terms = [col] + [
        f"{w!r} * {lag_fmt.format(col=col, k=k)}"
        for k, w in enumerate(_DS_W[1:], start=1)
    ]
    return f"(({' + '.join(terms)}) / {_DS_A!r})"


_DS_SQL = f"""
WITH d AS (
  SELECT CAST(DATE_TRUNC('day', ts) AS DATE) AS day,
         CAST(ROUND(SUM(CAST(value AS DECIMAL(28,8))), 4) AS DOUBLE)
           / COUNT(value) AS x
  FROM events GROUP BY 1
), s1 AS (
  SELECT day, x,
         {_ewma_sql("x", "LAG({col}, {k}) OVER (ORDER BY day)")} AS sp,
         LAG(x, 14) OVER (ORDER BY day) AS x14
  FROM d
), s2 AS (
  SELECT day, x, sp, x14,
         {_ewma_sql("sp", "LAG({col}, {k}) OVER (ORDER BY day)")} AS spp
  FROM s1
)
SELECT day, ROUND(x, 4) AS day_avg,
       ROUND(2.0 * sp - spp, 6) AS level,
       ROUND(sp - spp, 6) AS trend,
       ROUND((2.0 * sp - spp) + 7.0 * (sp - spp), 6) AS forecast_7d
FROM s2 WHERE x14 IS NOT NULL
ORDER BY day
"""


@query("events_double_smoothing_forecast", oracle=_DS_SQL)
def events_double_smoothing_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown's double exponential smoothing of the daily mean event
    value with a 7-day-ahead forecast: S′ = EWMA(x), S″ = EWMA(S′),
    level = 2S′−S″, trend = S′−S″ (α = 0.5 makes Holt's two
    parameters collapse), ŷ(t+7) = level + 7·trend — the
    trend-aware forecaster events_ewma_daily (level only) and
    events_forecast_backtest feed on. Both smoothing stages use the
    8-term truncated dyadic window of the EWMA precedent, so every
    product is an exponent shift and the fixed-order sums are
    bit-identical across engines; only days with 14 full lags emit
    (every output is a full double window).

    Scale: one day-grain aggregate; both lag stages run
    MONTH-PARTITIONED over a 14-day-padded day frame
    (operators/calendar.py:with_month_padding — exact on the dense
    day grain)."""
    from ibd_pipeline_spark.operators.calendar import with_month_padding

    ev = load(spark, sf_dir, "events")
    d = ev.groupBy(F.to_date(F.date_trunc("day", "ts")).alias("day")).agg(
        (
            F.round(F.sum(F.col("value").cast("decimal(28,8)")), 4).cast("double")
            / F.count("value")
        ).alias("x")
    )
    padded = with_month_padding(d, "day", pad_before=14)
    w = Window.partitionBy("_m").orderBy("day")

    def ewma_of(col: str):
        e = F.col(col)
        for k, wt in enumerate(_DS_W[1:], start=1):
            e = e + F.lit(wt) * F.lag(col, k).over(w)
        return e / F.lit(_DS_A)

    s1 = padded.select(
        "day",
        "x",
        "_m",
        "_own",
        ewma_of("x").alias("sp"),
        F.lag("x", 14).over(w).alias("x14"),
    )
    s2 = s1.select(
        "day", "x", "x14", "_own", ewma_of("sp").alias("spp"), "sp"
    )
    level = 2.0 * F.col("sp") - F.col("spp")
    trend = F.col("sp") - F.col("spp")
    return (
        s2.filter(F.col("_own") & F.col("x14").isNotNull())
        .select(
            "day",
            F.round("x", 4).alias("day_avg"),
            F.round(level, 6).alias("level"),
            F.round(trend, 6).alias("trend"),
            F.round(level + 7.0 * trend, 6).alias("forecast_7d"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# Hurst exponent by rescaled-range (R/S) analysis
# ---------------------------------------------------------------------------

_HURST_NS = (8, 16, 32)

_HURST_SQL = f"""
WITH d AS (
  SELECT CAST(DATE_TRUNC('day', ts) AS DATE) AS day,
         CAST(COUNT(*) AS BIGINT) AS x
  FROM events GROUP BY 1
), idx AS (
  SELECT day, x, ROW_NUMBER() OVER (ORDER BY day) AS t FROM d
), blocks AS (
  SELECT n, (t - 1) // n AS blk, t, CAST(x AS DOUBLE) AS x
  FROM idx, UNNEST([{", ".join(str(n) for n in _HURST_NS)}]) u(n)
), full_blocks AS (
  SELECT n, blk FROM blocks GROUP BY n, blk HAVING COUNT(*) = n
), m AS (
  SELECT b.n, b.blk, b.t, b.x,
         CAST(SUM(b.x) OVER (PARTITION BY b.n, b.blk) AS DOUBLE) / b.n AS mu,
         CAST(SUM(b.x * b.x) OVER (PARTITION BY b.n, b.blk) AS DOUBLE) / b.n
           AS xx
  FROM blocks b SEMI JOIN full_blocks f ON f.n = b.n AND f.blk = b.blk
), cd AS (
  SELECT n, blk, mu, xx,
         SUM(x - mu) OVER (PARTITION BY n, blk ORDER BY t
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cdev
  FROM m
), rs AS (
  SELECT n, blk,
         CASE WHEN xx - mu * mu > 0 THEN
           CAST(ROUND((MAX(cdev) - MIN(cdev)) / sqrt(xx - mu * mu), 8)
                AS DECIMAL(28,8))
         END AS rsv
  FROM cd GROUP BY n, blk, mu, xx
), av AS (
  SELECT n, CAST(COUNT(rsv) AS BIGINT) AS n_blocks,
         CAST(SUM(rsv) AS DOUBLE) / COUNT(rsv) AS avg_rs
  FROM rs GROUP BY n HAVING COUNT(rsv) > 0
), pts AS (
  SELECT n, n_blocks, avg_rs,
         CAST(ROUND(ln(CAST(n AS DOUBLE)), 10) AS DECIMAL(28,10)) AS lx,
         CAST(ROUND(ln(avg_rs), 10) AS DECIMAL(28,10)) AS ly
  FROM av
), h AS (
  SELECT (CAST(COUNT(*) AS DOUBLE) * CAST(SUM(lx * ly) AS DOUBLE)
          - CAST(SUM(lx) AS DOUBLE) * CAST(SUM(ly) AS DOUBLE))
         / (CAST(COUNT(*) AS DOUBLE) * CAST(SUM(lx * lx) AS DOUBLE)
            - CAST(SUM(lx) AS DOUBLE) * CAST(SUM(lx) AS DOUBLE)) AS hurst
  FROM pts
)
SELECT CAST(p.n AS INT) AS block_size, p.n_blocks,
       ROUND(p.avg_rs, 6) AS avg_rs,
       ROUND(h.hurst, 4) AS hurst
FROM pts p CROSS JOIN h ORDER BY block_size
"""


@query("events_hurst_exponent", oracle=_HURST_SQL)
def events_hurst_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent of the daily event-count series by classical
    rescaled-range analysis: split the series into blocks of n ∈
    {8, 16, 32} days, per block R/S = (max−min of the mean-adjusted
    cumulative deviation) / population σ, and H = the log-log OLS
    slope of avg R/S against n — the long-memory diagnostic
    (H ≈ 0.5 random walk, > 0.5 persistent trends, < 0.5 mean
    reversion) that tells a capacity planner whether bursts cluster.
    Complements events_fano_burstiness (dispersion at ONE scale)
    with the ACROSS-scale signature, and
    stats_autocorrelation_daily (linear memory at fixed lags) with a
    scale-free summary.

    Exactness: day indices ride the integer month-stitch; block
    moments are exact integer sums; the within-block cumulative
    deviation is a sequential windowed sum over identical doubles
    (deterministic under the total order on both engines); per-block
    R/S rounds to decimal before the cross-block mean, and the
    ln-values round to decimal before the 3-point OLS (the ANOVA
    cancellation guard).

    Scale: one day-grain aggregate; blocks are day-frame-sized, all
    windows (n, blk)-partitioned."""
    from ibd_pipeline_spark.operators.calendar import month_stitched_cumsum

    ev = load(spark, sf_dir, "events")
    d = ev.groupBy(F.to_date(F.date_trunc("day", "ts")).alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("x")
    )
    idx = month_stitched_cumsum(
        d.withColumn("one", F.lit(1).cast("bigint")), "day", ["one"]
    ).select("day", "x", F.col("cum_one").alias("t"))
    ns = spark.range(len(_HURST_NS)).select(
        F.element_at(
            F.array(*[F.lit(n) for n in _HURST_NS]), (F.col("id") + 1).cast("int")
        ).alias("n")
    )
    blocks = idx.crossJoin(F.broadcast(ns)).select(
        "n",
        F.floor((F.col("t") - 1) / F.col("n")).alias("blk"),
        "t",
        F.col("x").cast("double").alias("x"),
    )
    full = blocks.groupBy("n", "blk").agg(
        F.count(F.lit(1)).alias("c")
    ).filter(F.col("c") == F.col("n")).select("n", "blk")
    b = blocks.join(full, ["n", "blk"], "left_semi")
    wb = Window.partitionBy("n", "blk")
    m = b.select(
        "n",
        "blk",
        "t",
        "x",
        (F.sum("x").over(wb).cast("double") / F.col("n")).alias("mu"),
        (F.sum(F.col("x") * F.col("x")).over(wb).cast("double") / F.col("n"))
        .alias("xx"),
    )
    wcd = (
        Window.partitionBy("n", "blk")
        .orderBy("t")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cd = m.select(
        "n", "blk", "mu", "xx",
        F.sum(F.col("x") - F.col("mu")).over(wcd).alias("cdev"),
    )
    rs = cd.groupBy("n", "blk", "mu", "xx").agg(
        F.when(
            F.col("xx") - F.col("mu") * F.col("mu") > 0,
            F.round(
                (F.max("cdev") - F.min("cdev"))
                / F.sqrt(F.col("xx") - F.col("mu") * F.col("mu")),
                8,
            ).cast("decimal(28,8)"),
        ).alias("rsv")
    )
    av = (
        rs.groupBy("n")
        .agg(
            F.count("rsv").cast("bigint").alias("n_blocks"),
            (F.sum("rsv").cast("double") / F.count("rsv")).alias("avg_rs"),
        )
        .filter(F.col("n_blocks") > 0)
    )
    pts = av.select(
        "n",
        "n_blocks",
        "avg_rs",
        F.round(F.log(F.col("n").cast("double")), 10)
        .cast("decimal(28,10)")
        .alias("lx"),
        F.round(F.log("avg_rs"), 10).cast("decimal(28,10)").alias("ly"),
    )
    hm = pts.agg(
        (
            (
                F.count(F.lit(1)).cast("double")
                * F.sum(F.col("lx") * F.col("ly")).cast("double")
                - F.sum("lx").cast("double") * F.sum("ly").cast("double")
            )
            / (
                F.count(F.lit(1)).cast("double")
                * F.sum(F.col("lx") * F.col("lx")).cast("double")
                - F.sum("lx").cast("double") * F.sum("lx").cast("double")
            )
        ).alias("hurst")
    )
    return (
        pts.crossJoin(F.broadcast(hm))
        .select(
            F.col("n").cast("int").alias("block_size"),
            "n_blocks",
            F.round("avg_rs", 6).alias("avg_rs"),
            F.round("hurst", 4).alias("hurst"),
        )
        .orderBy("block_size")
    )


# ---------------------------------------------------------------------------
# (moved from round8.py in the r14 chronological->topic split;
# registry names, semantics, and oracles unchanged)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# Seasonal-naive forecast backtest
# ---------------------------------------------------------------------------

_FORECAST_SQL = """
WITH daily AS (
  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
         CAST(COUNT(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1
), j AS (
  SELECT a.day, a.n_events AS actual, f.n_events AS forecast
  FROM daily a JOIN daily f ON f.day = a.day - INTERVAL 7 DAY
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_eval_days,
       ROUND(AVG(ABS(CAST(actual - forecast AS DOUBLE)) / actual), 6) AS mape,
       ROUND(AVG(2.0 * ABS(CAST(actual - forecast AS DOUBLE))
                 / (actual + forecast)), 6) AS smape,
       ROUND(AVG(CAST(forecast - actual AS DOUBLE)), 6) AS mean_bias
FROM j
"""


@query("events_forecast_backtest", oracle=_FORECAST_SQL)
def events_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest on daily event volume:
    forecast(d) = actual(d − 7 calendar days), scored with MAPE,
    sMAPE, and mean bias over every day that has a week-ago
    observation. The third leg of the monitoring trio —
    events_seasonal_decompose says what normal looks like,
    events_cusum_changepoint says where the level shifted, and this
    query says how predictable the series actually is (the baseline
    any fancier forecaster must beat before it earns a deploy).

    The forecast joins the day grain to itself on a CALENDAR offset
    (day − 7), never LAG(7)-over-rows: with gap days present a row
    lag silently compares against whatever happened to be 7 rows ago.
    Error metrics are identical IEEE double expressions in identical
    order on both engines; rounding (6 dp) applies only at the
    output.

    Scale: one shuffle to the day grain, then a day-count-sized
    self-join and a single-row aggregate — event-volume work is the
    first groupBy only."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.to_date(F.date_trunc("day", "ts")).alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
    a = daily.alias("a")
    f = daily.alias("f")
    j = a.join(
        f, F.col("f.day") == F.date_sub(F.col("a.day"), 7), "inner"
    ).select(
        F.col("a.n_events").alias("actual"),
        F.col("f.n_events").alias("forecast"),
    )
    diff = (F.col("actual") - F.col("forecast")).cast("double")
    return j.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_eval_days"),
        F.round(F.avg(F.abs(diff) / F.col("actual")), 6).alias("mape"),
        F.round(
            F.avg(
                F.lit(2.0) * F.abs(diff) / (F.col("actual") + F.col("forecast"))
            ),
            6,
        ).alias("smape"),
        F.round(
            F.avg((F.col("forecast") - F.col("actual")).cast("double")), 6
        ).alias("mean_bias"),
    )


# ---------------------------------------------------------------------------
# Behavioral path mining (top first-3-event journeys)
# ---------------------------------------------------------------------------

_TOP_PATHS_SQL = """
WITH r AS (
  SELECT user_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
  FROM events
), p AS (
  SELECT user_id, string_agg(event_type, ' > ' ORDER BY rn) AS path
  FROM r WHERE rn <= 3
  GROUP BY user_id
  HAVING COUNT(*) = 3
)
SELECT path, CAST(COUNT(*) AS BIGINT) AS n_users
FROM p GROUP BY path
ORDER BY n_users DESC, path
LIMIT 10
"""


@query("events_top_paths", oracle=_TOP_PATHS_SQL)
def events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral path mining: each user's first three events (by
    event time, event_id tiebreak — a total order) joined into a
    'a > b > c' journey string, ranked by user count — the top-10
    onboarding funnels actually taken, the relation behind every
    Sankey/flow diagram. events_transition_matrix gives the
    one-step Markov view; this gives the top full prefixes, which is
    what product questions ('what do users DO first?') actually ask.

    Users with fewer than three events are excluded (their journey
    isn't comparable to a 3-step path). Deterministic: the (ts,
    event_id) order is total, and the final top-10 breaks count ties
    on the path string.

    Scale: one shuffle to (user) for the per-user window (partitioned
    — never a global window), the rn ≤ 3 filter cuts the frame to
    ≤3 rows/user BEFORE the path aggregate, then a path-cardinality
    groupBy and a top-10 TakeOrdered."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    r = ev.select(
        "user_id", "event_type", F.row_number().over(w).alias("rn")
    ).filter(F.col("rn") <= 3)
    p = (
        r.groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("rn", "event_type"))),
                    lambda x: x.event_type,
                ),
                " > ",
            ).alias("path"),
            F.count(F.lit(1)).alias("n_steps"),
        )
        .filter(F.col("n_steps") == 3)
    )
    return (
        p.groupBy("path")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
        .orderBy(F.desc("n_users"), "path")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Time-weighted average (TWAP) per day
# ---------------------------------------------------------------------------

_TWAP_SQL = """
WITH e AS (
  SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
         CAST(ts AS TIMESTAMP) AS t, event_id, value
  FROM events
), d AS (
  SELECT day, value,
         CAST(date_diff('microsecond', t,
              LEAD(t) OVER (PARTITION BY day ORDER BY t, event_id))
           AS DOUBLE) AS w
  FROM e
), a AS (
  SELECT day,
         CAST(COUNT(*) AS BIGINT) AS n_weighted,
         SUM(value * w) / SUM(w) AS twap,
         AVG(value) AS plain_avg
  FROM d WHERE w IS NOT NULL
  GROUP BY day
  HAVING SUM(w) > 0
)
SELECT day, n_weighted, ROUND(twap, 4) AS twap,
       ROUND(plain_avg, 4) AS plain_avg
FROM a ORDER BY day
"""


@query("events_time_weighted_avg", oracle=_TWAP_SQL)
def events_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily time-weighted average of `value` (TWAP): each
    observation is weighted by how long it REMAINED the latest one
    (microseconds to the next event that day, total (ts, event_id)
    order), against the plain average for contrast — the standard
    correction when observations arrive irregularly and a burst of
    readings shouldn't dominate the day (the finance/metrics TWAP,
    and the right way to average gauge metrics sampled on change).
    The last event of each day carries no duration and is excluded
    from the weighted mean (it still counts in plain_avg's source
    rows via the w IS NOT NULL filter — both means run over the
    SAME weighted row set, so the two columns are comparable).

    Exactness: weights are exact integer microsecond differences
    cast to double; both aggregates are the same double sums in both
    engines, rounded at the output.

    Scale: one shuffle to (day) for the partitioned LEAD window —
    never a global window — then a day-grain aggregate."""
    from pyspark.sql import Window

    ev = load(spark, sf_dir, "events")
    e = ev.select(
        F.to_date(F.date_trunc("day", "ts")).alias("day"),
        F.col("ts").alias("t"),
        "event_id",
        "value",
    )
    w = Window.partitionBy("day").orderBy("t", "event_id")
    d = e.select(
        "day",
        "value",
        (
            F.unix_micros(F.lead("t").over(w)) - F.unix_micros("t")
        ).cast("double").alias("w"),
    ).filter(F.col("w").isNotNull())
    return (
        d.groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_weighted"),
            (F.sum(F.col("value") * F.col("w")) / F.sum("w")).alias("twap"),
            F.avg("value").alias("plain_avg"),
            F.sum("w").alias("_sw"),
        )
        .filter(F.col("_sw") > 0)
        .select(
            "day",
            "n_weighted",
            F.round("twap", 4).alias("twap"),
            F.round("plain_avg", 4).alias("plain_avg"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# Per-segment OLS trend (closed-form integer moments)
# ---------------------------------------------------------------------------

_TREND_SQL = """
WITH daily AS (
  SELECT event_type,
         CAST(CAST(ts AS TIMESTAMP) AS DATE) - DATE '1970-01-01' AS x,
         CAST(COUNT(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
), m AS (
  SELECT event_type,
         CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx,
         CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx
  FROM daily GROUP BY 1
)
SELECT event_type,
       n AS n_days,
       ROUND((n * sxy - sx * sy) * 1.0 / (n * sxx - sx * sx), 6)
         AS slope_per_day,
       ROUND((sy - (n * sxy - sx * sy) * 1.0 / (n * sxx - sx * sx) * sx) / n, 4)
         AS intercept
FROM m ORDER BY event_type
"""


@query("events_trend_per_type", oracle=_TREND_SQL)
def events_trend_per_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment OLS volume trend: daily counts per event type, then
    the closed-form least-squares slope/intercept from five exact
    integer moments (n, Σx, Σy, Σxy, Σx²) — 'which event types are
    growing and how fast', the grouped counterpart of
    agg_corr_regression's single global line and the parametric twin
    of stats_theil_sen_trend's robust median slope.

    Exactness: the moments are exact BIGINTs (epoch-day x ≈ 10⁴,
    day counts y — Σx·y over years of days stays far under 2⁶³);
    slope and intercept are single double expressions of those
    integers, identical on both engines, rounded at the output.

    Scale: one shuffle to (type, day), a per-type moment aggregate
    (map-side combined, output |types| rows) — the same two-level
    shape as profile_key_skew; nothing is day-count-serial, no
    window at all."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.unix_date(F.to_date(F.date_trunc("day", "ts"))).alias("x"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("y"))
    m = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) * F.lit(
        1.0
    ) / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
    return m.select(
        "event_type",
        F.col("n").alias("n_days"),
        F.round(slope, 6).alias("slope_per_day"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 4).alias(
            "intercept"
        ),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# (moved from round9.py in the r14 chronological->topic split;
# registry names, semantics, and oracles unchanged)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# Binned-PSI value drift (batch twin of streaming/drift.py)
# ---------------------------------------------------------------------------

_PSI_BINNED_SQL = """
WITH bounds AS (
  SELECT MIN(CAST(ts AS TIMESTAMP)) AS t0, MAX(CAST(ts AS TIMESTAMP)) AS t1
  FROM events
), binned AS (
  SELECT LEAST(GREATEST(CAST(FLOOR((value - 0.0) / 100.0 * 32) AS BIGINT),
                        0), 31) AS bin,
         CAST(ts AS TIMESTAMP) AS tts
  FROM events
), base AS (
  SELECT bin, CAST(COUNT(*) AS BIGINT) AS n FROM binned
  WHERE tts < (SELECT t0 + INTERVAL 7 DAY FROM bounds) GROUP BY bin
), cur AS (
  SELECT bin, CAST(COUNT(*) AS BIGINT) AS n FROM binned
  WHERE tts >= (SELECT t1 - INTERVAL 7 DAY FROM bounds) GROUP BY bin
), spine AS (
  SELECT CAST(UNNEST(range(0, 32)) AS BIGINT) AS bin
), j AS (
  SELECT s.bin,
         CAST(COALESCE(c.n, 0) AS DOUBLE) AS c,
         CAST(COALESCE(b.n, 0) AS DOUBLE) AS b
  FROM spine s LEFT JOIN cur c ON c.bin = s.bin
  LEFT JOIN base b ON b.bin = s.bin
), tot AS (
  SELECT SUM(c) AS ct, SUM(b) AS bt FROM j
)
SELECT CAST(t.ct AS BIGINT) AS n_current,
       CAST(t.bt AS BIGINT) AS n_baseline,
       CAST(ROUND(SUM(CAST(
         ((CASE WHEN j.c > 0.5 THEN j.c ELSE 0.5 END) / t.ct
          - (CASE WHEN j.b > 0.5 THEN j.b ELSE 0.5 END) / t.bt)
         * ln(((CASE WHEN j.c > 0.5 THEN j.c ELSE 0.5 END) / t.ct)
              / ((CASE WHEN j.b > 0.5 THEN j.b ELSE 0.5 END) / t.bt))
         AS DECIMAL(28,8))), 6) AS DOUBLE) AS psi,
       CAST(ROUND(SUM(CAST(
         ((CASE WHEN j.c > 0.5 THEN j.c ELSE 0.5 END) / t.ct
          - (CASE WHEN j.b > 0.5 THEN j.b ELSE 0.5 END) / t.bt)
         * ln(((CASE WHEN j.c > 0.5 THEN j.c ELSE 0.5 END) / t.ct)
              / ((CASE WHEN j.b > 0.5 THEN j.b ELSE 0.5 END) / t.bt))
         AS DECIMAL(28,8))), 6) AS DOUBLE) > 0.2 AS drift_alarm
FROM j CROSS JOIN tot t
GROUP BY t.ct, t.bt
"""


@query("events_value_psi_binned", oracle=_PSI_BINNED_SQL)
def events_value_psi_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned-PSI value drift, batch twin of the live monitor
    (streaming/drift.py — same value_bin / binned_histogram /
    psi_report code): the last calendar week's `value` distribution
    scored against the first week's over a fixed 32-bin histogram
    with 0.5-count smoothing and the industry 0.2 alarm. This query
    is the hash-attested face of the streaming operator — the stream
    path is proven stream-equals-batch against the SAME expressions
    in tests/test_streaming_drift.py, and this attests those
    expressions against DuckDB.

    Determinism: bin counts are exact integers; p/q are exact-integer
    ratios; one ln per bin on identical doubles; decimal-cast terms
    sum order-independently (dsum contract).

    Scale: two filtered count aggregates over 32 keys (map-side
    combined) + a 32-row spine join — the monitoring readout shape."""
    from ibd_pipeline_spark.streaming.drift import binned_histogram, psi_report

    ev = load(spark, sf_dir, "events")
    bounds = ev.agg(F.min("ts").alias("t0"), F.max("ts").alias("t1"))
    evb = ev.crossJoin(F.broadcast(bounds))
    base = binned_histogram(
        evb.filter(F.col("ts") < F.col("t0") + F.expr("INTERVAL 7 DAY")),
        "value",
    )
    cur = binned_histogram(
        evb.filter(F.col("ts") >= F.col("t1") - F.expr("INTERVAL 7 DAY")),
        "value",
    )
    return psi_report(cur, base)


# ---------------------------------------------------------------------------
# Sessionization gap-sensitivity curve (r14)
# ---------------------------------------------------------------------------

_GAP_HOURS = (1, 6, 24)


def _gap_sensitivity_oracle() -> str:
    flags = ",\n         ".join(
        f"CASE WHEN prev_us IS NULL OR us - prev_us > {h} * 3600000000 "
        f"THEN 1 ELSE 0 END AS s{h}"
        for h in _GAP_HOURS
    )
    rows = "\n  UNION ALL ".join(
        f"""SELECT {h} AS gap_hours,
         CAST(SUM(s{h}) AS BIGINT) AS n_sessions,
         CAST(COUNT(*) AS BIGINT) AS n_events,
         ROUND(CAST(COUNT(*) AS DOUBLE) / SUM(s{h}), 4)
           AS events_per_session,
         CAST(SUM(CASE WHEN s{h} = 1
                   AND COALESCE(next_s{h}, 1) = 1 THEN 1 ELSE 0 END)
              AS BIGINT) AS single_event_sessions
  FROM g"""
        for h in _GAP_HOURS
    )
    nexts = ",\n         ".join(
        f"LEAD(s{h}) OVER (PARTITION BY user_id ORDER BY us, event_id)"
        f" AS next_s{h}"
        for h in _GAP_HOURS
    )
    return f"""
WITH e AS (
  SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us
  FROM events
), l AS (
  SELECT user_id, event_id, us,
         LAG(us) OVER (PARTITION BY user_id ORDER BY us, event_id)
           AS prev_us
  FROM e
), f AS (
  SELECT user_id, event_id, us,
         {flags}
  FROM l
), g AS (
  SELECT *,
         {nexts}
  FROM f
)
{rows}
ORDER BY gap_hours
"""


@query("events_session_gap_sensitivity", oracle=_gap_sensitivity_oracle)
def events_session_gap_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization TUNING curve: session counts, events-per-session,
    and single-event-session counts at inactivity gaps of 1 h / 6 h /
    24 h — the sensitivity table that justifies (or indicts) the 6 h
    constant events_sessionize_gaps hardcodes, exactly as the r14
    nprobe/banding rows do for the ANN and LSH constants. A gap whose
    halving doubles the session count is cutting real sessions; one
    whose doubling changes nothing is wasted state in the streaming
    session window.

    Exactness: session count = Σ session-start flags (no session ids
    materialized); single-event sessions are starts whose NEXT event
    is also a start (or absent) — all exact integers off ONE lag/lead
    window pass shared by all three gaps; one division per row.

    Scale: one shuffle on user_id; the three gap flags and their
    leads ride the same sorted window — adding a gap costs two
    expressions, not a pass. At 100 TB this is the standard
    before-you-pick-the-watermark audit."""
    ev = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    e = ev.select(
        "user_id", "event_id", F.unix_micros("ts").alias("us")
    ).withColumn("prev_us", F.lag("us").over(w))
    for h in _GAP_HOURS:
        e = e.withColumn(
            f"s{h}",
            F.when(
                F.col("prev_us").isNull()
                | (F.col("us") - F.col("prev_us") > h * 3_600_000_000),
                1,
            ).otherwise(0),
        )
    for h in _GAP_HOURS:
        e = e.withColumn(f"next_s{h}", F.lead(f"s{h}").over(w))
    out = None
    for h in _GAP_HOURS:
        row = e.agg(
            F.lit(h).alias("gap_hours"),
            F.sum(f"s{h}").cast("bigint").alias("n_sessions"),
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.round(
                F.count(F.lit(1)).cast("double") / F.sum(f"s{h}"), 4
            ).alias("events_per_session"),
            F.sum(
                F.when(
                    (F.col(f"s{h}") == 1)
                    & (F.coalesce(F.col(f"next_s{h}"), F.lit(1)) == 1),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("single_event_sessions"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("gap_hours")
