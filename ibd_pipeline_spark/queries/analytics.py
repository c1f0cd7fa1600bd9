"""Product-analytics query patterns over the events stream table:
funnels, retention cohorts, top-k per user, try_-safe arithmetic,
deterministic sampling. These compose the window/join/agg primitives
into the multi-step shapes real event pipelines run daily.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ibd_pipeline_spark.catalog import load
from ibd_pipeline_spark.queries import query


@query(
    "funnel_signup_purchase",
    oracle="""
WITH firsts AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'signup' THEN CAST(ts AS TIMESTAMP) END)   AS first_signup,
         MIN(CASE WHEN event_type = 'purchase' THEN CAST(ts AS TIMESTAMP) END) AS first_purchase
  FROM events
  GROUP BY user_id
)
SELECT
  COUNT(*)                                                        AS n_users,
  CAST(COUNT(first_signup) AS BIGINT)                             AS n_signed_up,
  CAST(COUNT(CASE WHEN first_purchase > first_signup
                  THEN 1 END) AS BIGINT)                          AS n_converted,
  ROUND(CAST(COUNT(CASE WHEN first_purchase > first_signup THEN 1 END) AS DOUBLE)
        / COUNT(first_signup), 6)                                 AS conversion_rate
FROM firsts
""",
)
def funnel_signup_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-step funnel: users whose first purchase follows their first
    signup. Conditional-MIN per user (one shuffle) — NOT a self-join;
    the self-join formulation explodes on active users at scale."""
    e = load(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("first_signup"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "first_purchase"
        ),
    )
    converted = F.count(
        F.when(F.col("first_purchase") > F.col("first_signup"), F.lit(1))
    )
    return firsts.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("first_signup").alias("n_signed_up"),
        converted.alias("n_converted"),
        F.round(converted.cast("double") / F.count("first_signup"), 6).alias(
            "conversion_rate"
        ),
    )


@query(
    "retention_cohorts",
    oracle="""
WITH cohorts AS (
  SELECT user_id,
         CAST(date_trunc('week', MIN(CAST(ts AS TIMESTAMP))) AS TIMESTAMP) AS cohort_week
  FROM events GROUP BY user_id
),
activity AS (
  SELECT DISTINCT user_id,
         CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS active_week
  FROM events
)
SELECT c.cohort_week,
       CAST(date_diff('day', c.cohort_week, a.active_week) / 7 AS INT) AS weeks_since,
       CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS active_users
FROM cohorts c JOIN activity a ON c.user_id = a.user_id
GROUP BY 1, 2
ORDER BY cohort_week, weeks_since
""",
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention triangle: cohort = week of first event; count
    distinct users active N weeks later. Two shuffles (cohort agg +
    final rollup); the cohort relation is user-sized, not event-sized,
    so the join is dim-like and broadcastable at scale."""
    e = load(spark, sf_dir, "events")
    cohorts = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).alias("cohort_week")
    )
    activity = (
        e.select("user_id", F.date_trunc("week", F.col("ts")).alias("active_week"))
        .distinct()
    )
    return (
        activity.join(cohorts, "user_id")
        .groupBy("cohort_week",
                 (F.datediff("active_week", "cohort_week") / 7).cast("int").alias("weeks_since"))
        .agg(F.countDistinct("user_id").alias("active_users"))
        .orderBy("cohort_week", "weeks_since")
    )


@query(
    "topk_events_per_user",
    oracle="""
SELECT * FROM (
  SELECT user_id, event_id, ROUND(value, 4) AS value,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY value DESC, event_id) AS rn
  FROM events
) WHERE rn <= 3
ORDER BY user_id, rn
""",
)
def topk_events_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 events by value per user — the distributed top-k-per-key
    pattern on the stream table."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("value").desc(), F.col("event_id"))
    return (
        e.select(
            "user_id", "event_id", F.round("value", 4).alias("value"),
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") <= 3)
        .orderBy("user_id", "rn")
    )


@query(
    "try_safe_arithmetic",
    oracle="""
SELECT event_id,
       ROUND(COALESCE(TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE) / NULLIF(value, 0.0), -1.0), 6)
         AS k_per_value,
       TRY_CAST(event_type AS DOUBLE) AS type_as_num
FROM events
WHERE event_id < 300
ORDER BY event_id
""",
)
def try_safe_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """try_/NULLIF-guarded arithmetic: division that yields NULL (not
    an error) on zero denominators, try_cast on non-numeric strings —
    the ANSI-mode-safe vocabulary (Spark 4 runs ANSI by default, so
    unguarded div-by-zero/casts now *throw*; these are the idioms
    that keep 100 TB jobs from dying at hour 9)."""
    e = load(spark, sf_dir, "events").filter(F.col("event_id") < 300)
    return e.select(
        "event_id",
        F.round(
            F.coalesce(
                F.try_divide(
                    F.get_json_object("props", "$.k").try_cast("double"),
                    F.nullif(F.col("value"), F.lit(0.0)),
                ),
                F.lit(-1.0),
            ),
            6,
        ).alias("k_per_value"),
        F.col("event_type").try_cast("double").alias("type_as_num"),
    ).orderBy("event_id")


@query(
    "sample_deterministic",
    oracle="""
SELECT l_returnflag,
       COUNT(*) AS n,
       CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(28,8))), 4) AS DOUBLE) / COUNT(l_quantity) AS avg_qty
FROM lineitem
WHERE CAST(('0x' || SUBSTRING(md5(CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 10
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def sample_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-hash Bernoulli sample of lineitem (10%): keep a row iff
    the leading 32 bits of md5(orderkey-linenumber) mod 100 < 10.
    Unlike `.sample(seed=…)` (whose RNG stream depends on engine AND
    partitioning), the gate is a pure function of the data — identical
    across engines, partition counts, and reruns, which is what
    train/eval splits and profile-before-process passes need at 100 TB.
    Exact-oracle-checked: DuckDB computes the same md5 gate."""
    from ibd_pipeline_spark.queries import davg

    li = load(spark, sf_dir, "lineitem")
    gate = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "-",
                        F.col("l_orderkey").cast("string"),
                        F.col("l_linenumber").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 100
    )
    return (
        li.filter(gate < 10)
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"), davg(F.col("l_quantity"), 4).alias("avg_qty"))
        .orderBy("l_returnflag")
    )


@query(
    "text_winnowing_fingerprints",
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), g AS (
  SELECT doc_id,
         list_transform(range(0, greatest(len(w) - 4 + 1, 1)),
           i -> CAST(('0x' || substring(md5(
                  concat_ws(' ', w[i+1], w[i+2], w[i+3], w[i+4])), 1, 8))
                AS BIGINT)) AS hs
  FROM toks
), fp AS (
  SELECT doc_id, unnest(list_distinct(
           list_transform(range(0, greatest(len(hs) - 5 + 1, 1)),
             wi -> list_min(list_slice(hs, wi + 1, wi + 5))))) AS fp
  FROM g
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(COUNT(*) AS BIGINT) AS shared_fingerprints
FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
GROUP BY id_a, id_b
HAVING COUNT(*) >= 3
ORDER BY id_a, id_b
""",
)
def text_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (rolling-hash) fingerprint overlap, hash-attested:
    documents sharing ≥ 3 selected fingerprints with a lower-id
    document — substring-level near-dup detection (operators.text.
    winnowing_fingerprint_rows: md5-derived 32-bit gram hashes the
    DuckDB oracle replays exactly — grams, window minima, the
    self-join, everything). The window-min selection property and
    planted-overlap recovery stay tested in
    tests/test_skew_and_text.py.

    Fingerprint sets explode → self-join on fingerprint → pair count;
    candidate space bounded like every other block-verify op here.

    The explode-based winnowing_fingerprint_rows, not the
    column-expression winnowing_fingerprints: the nested-lambda form
    re-evaluated the gram array (and the token split) once per window
    element (Catalyst inlines the
    singly-referenced inner transform), turning 5,000 documents at
    sf0.1 into 745 s of interpreted re-hashing; the row form hashes
    each gram exactly once (2 s). Identity of the two forms is
    property-tested in tests/test_skew_and_text.py."""
    from ibd_pipeline_spark.operators.text import winnowing_fingerprint_rows

    from ibd_pipeline_spark.catalog import load_wide

    # load_wide (r12): the single-split documents file serialized the
    # per-gram hashing onto one core — widen the scan before the
    # per-row-heavy fingerprint build
    d = winnowing_fingerprint_rows(
        load_wide(spark, sf_dir, "documents").select("doc_id", "text")
    )
    a, b = d.alias("a"), d.alias("b")
    return (
        a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("shared_fingerprints"))
        .filter(F.col("shared_fingerprints") >= 3)
        .orderBy("id_a", "id_b")
    )


@query(
    "stratified_hash_sample",
    oracle="""
SELECT o_orderpriority, COUNT(*) AS n_sampled, MIN(o_orderkey) AS min_key
FROM orders
WHERE CAST(('0x' || SUBSTRING(md5(CAST(o_orderkey AS VARCHAR)), 1, 8)) AS BIGINT) % 100 < 10
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def stratified_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10% sample via content hashing (md5 of the key,
    first 8 hex digits mod 100) — unlike seeded Bernoulli sampling
    (sample_deterministic above), the selection is a pure function of
    the DATA, so it is identical across engines, partitionings, and
    reruns: the property train/eval splits and A/B holdouts need at
    100 TB. Oracle-checked because DuckDB computes the same md5."""
    o = load(spark, sf_dir, "orders")
    bucket = (
        F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 8), 16, 10)
        .cast("bigint") % 100
    )
    return (
        o.filter(bucket < 10)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_sampled"), F.min("o_orderkey").alias("min_key"))
        .orderBy("o_orderpriority")
    )
