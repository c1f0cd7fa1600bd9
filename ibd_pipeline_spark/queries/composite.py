"""Composite pipeline shapes: the multi-step patterns production
pipelines run daily, each expressed as a single declarative plan —
batch sessionization, CDC snapshots, SCD2 history, interval joins,
fixed-bin histograms, fuzzy (edit-distance) dedup, TF-IDF term
ranking, curriculum scheduling, and graph motif (triangle) counting.

All nine are DuckDB-oracle-checked: every one is pure relational
algebra + deterministic arithmetic, so the driver hash-compares them
end to end (SURVEY.md §5.1). Scale notes per query docstring.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ibd_pipeline_spark.catalog import load
from ibd_pipeline_spark.queries import dsum, query
from ibd_pipeline_spark.queries.text import _QUALITY_SQL

_GAP_US = 6 * 3600 * 1_000_000  # 6-hour inactivity gap, as exact µs


@query(
    "events_sessionize_gaps",
    oracle=f"""
WITH o AS (
  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
         epoch_us(CAST(ts AS TIMESTAMP))
           - LAG(epoch_us(CAST(ts AS TIMESTAMP)))
               OVER (PARTITION BY user_id
                     ORDER BY CAST(ts AS TIMESTAMP), event_id) AS gap_us
  FROM events
), s AS (
  SELECT *, SUM(CASE WHEN gap_us IS NULL OR gap_us > {_GAP_US}
                     THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM o
)
SELECT user_id, CAST(session_seq AS INT) AS session_seq,
       COUNT(*) AS n_events,
       MIN(ts) AS session_start, MAX(ts) AS session_end,
       epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS duration_us,
       CAST(ROUND(SUM(CAST(value AS DECIMAL(28,8))), 2) AS DOUBLE) AS sum_value
FROM s GROUP BY user_id, session_seq
ORDER BY user_id, session_seq
""",
)
def events_sessionize_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization via gap detection: a new session starts
    after >6 h of user inactivity; session id = running count of
    session-starts (lag → flag → cumulative sum — the classic batch
    twin of `session_window`, but it also yields stable per-user
    session *sequence numbers*, which the streaming op cannot).

    Scale: one shuffle on user_id; both window passes and the final
    aggregate reuse that partitioning (Catalyst plans a single
    Exchange). Gap arithmetic is exact integer µs, so the session
    boundaries are engine- and partitioning-independent."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # events.ts arrives as TIMESTAMP_NTZ from parquet (no UTC flag);
    # unix_micros requires TIMESTAMP. Session tz is pinned to UTC
    # (session.py), so the cast is value-preserving.
    ts_us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = ts_us - F.lag(ts_us).over(w)
    flagged = e.select(
        "user_id", "event_id", "ts", "value",
        F.when(gap.isNull() | (gap > _GAP_US), 1).otherwise(0).alias("is_new"),
    )
    sessions = flagged.select(
        "user_id", "ts", "value",
        F.sum("is_new")
        .over(
            Window.partitionBy("user_id")
            .orderBy("ts", "event_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        .cast("int")
        .alias("session_seq"),
    )
    return (
        sessions.groupBy("user_id", "session_seq")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            (
                F.unix_micros(F.max("ts").cast("timestamp"))
                - F.unix_micros(F.min("ts").cast("timestamp"))
            ).alias("duration_us"),
            dsum(F.col("value"), 2).alias("sum_value"),
        )
        .orderBy("user_id", "session_seq")
    )


@query(
    "events_cdc_latest_snapshot",
    oracle="""
SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts,
       ROUND(value, 4) AS value
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                               ORDER BY CAST(ts AS TIMESTAMP) DESC,
                                        event_id DESC) AS rn
  FROM events
) WHERE rn = 1
ORDER BY user_id, event_type
""",
)
def events_cdc_latest_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC snapshot compaction: latest record per (user, event_type)
    key — the change-log → current-state materialization every
    incremental pipeline runs. row_number DESC with a unique-id
    tiebreak; at 100 TB this is one shuffle on the key and the
    per-key sort is bounded by key cardinality, not table size
    (Spark plans a partial top-1 under AQE via WindowGroupLimit)."""
    e = load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        e.select(
            "user_id", "event_type", "event_id", "ts",
            F.round("value", 4).alias("value"),
            F.row_number().over(w).alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
        .orderBy("user_id", "event_type")
    )


@query(
    "events_scd2_history",
    oracle="""
WITH p AS (
  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value
  FROM events WHERE event_type = 'purchase'
)
SELECT user_id,
       ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id)
         AS version,
       ts AS valid_from,
       LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
         AS valid_to,
       (LEAD(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL)
         AS is_current,
       ROUND(value, 4) AS value
FROM p
ORDER BY user_id, version
""",
)
def events_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 interval construction from a change log: each
    purchase event becomes a version row with [valid_from, valid_to)
    from consecutive event times (LEAD), open-ended for the current
    version — the dimension-history build that feeds as-of joins.

    Scale: one shuffle on user_id; version numbering and interval
    close-out come from the same sort, so the whole history build is
    a single window pass (no self-join — the naive formulation)."""
    e = load(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.select(
            "user_id",
            F.row_number().over(w).alias("version"),
            F.col("ts").alias("valid_from"),
            F.lead("ts").over(w).alias("valid_to"),
            F.lead("ts").over(w).isNull().alias("is_current"),
            F.round("value", 4).alias("value"),
        )
        .orderBy("user_id", "version")
    )


@query(
    "join_interval_overlap",
    oracle="""
SELECT a.o_custkey AS custkey,
       COUNT(*) AS n_overlapping_pairs,
       MIN(ABS(date_diff('day', CAST(b.o_orderdate AS DATE),
                         CAST(a.o_orderdate AS DATE)))) AS min_gap_days
FROM orders a JOIN orders b
  ON a.o_custkey = b.o_custkey AND a.o_orderkey < b.o_orderkey
WHERE ABS(date_diff('day', CAST(b.o_orderdate AS DATE),
          CAST(a.o_orderdate AS DATE))) <= 30
GROUP BY a.o_custkey
ORDER BY custkey
""",
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval self-overlap join: pairs of orders by the same
    customer within 30 days of each other — the burst-detection /
    repeat-purchase shape. Equi-join on the customer key carries the
    range predicate as a post-join filter, so there is no cartesian
    anywhere; per-key fan-out is bounded by orders-per-customer
    (~10 in TPC-H regardless of SF, so the pair count scales
    linearly, not quadratically)."""
    o = load(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_orderdate")
    a, b = o.alias("a"), o.alias("b")
    gap = F.abs(F.datediff(F.col("a.o_orderdate"), F.col("b.o_orderdate")))
    return (
        a.join(
            b,
            (F.col("a.o_custkey") == F.col("b.o_custkey"))
            & (F.col("a.o_orderkey") < F.col("b.o_orderkey")),
        )
        .filter(gap <= 30)
        .groupBy(F.col("a.o_custkey").alias("custkey"))
        .agg(
            F.count(F.lit(1)).alias("n_overlapping_pairs"),
            F.min(gap).alias("min_gap_days"),
        )
        .orderBy("custkey")
    )


@query(
    "agg_histogram_bins",
    oracle="""
SELECT LEAST(CAST(FLOOR(o_totalprice / 50000) AS INT), 11) AS bin,
       COUNT(*) AS n_orders,
       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(28,8))), 2) AS DOUBLE)
         AS sum_price
FROM orders
GROUP BY bin
ORDER BY bin
""",
)
def agg_histogram_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram (12 bins of 50k, last bin open-ended)
    over order totals — the profiling primitive behind equi-width
    binning and quantile pre-checks. The bin expression is pure
    codegen arithmetic, so this is a map-side-combined single-shuffle
    aggregate with 12 output groups at any scale."""
    o = load(spark, sf_dir, "orders")
    bin_ = F.least(F.floor(F.col("o_totalprice") / 50000).cast("int"), F.lit(11))
    return (
        o.groupBy(bin_.alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum(F.col("o_totalprice"), 2).alias("sum_price"),
        )
        .orderBy("bin")
    )


@query(
    "dedup_fuzzy_edit_distance",
    oracle="""
WITH blocked AS (
  SELECT doc_id, substring(lower(text), 1, 12) AS blk,
         substring(text, 1, 48) AS probe
  FROM documents
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(levenshtein(a.probe, b.probe) AS INT) AS edit_distance
FROM blocked a JOIN blocked b ON a.blk = b.blk AND a.doc_id < b.doc_id
WHERE levenshtein(a.probe, b.probe) <= 12
ORDER BY id_a, id_b
""",
)
def dedup_fuzzy_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy near-dup pairs by edit distance with prefix blocking:
    block key = first 12 chars lowercased (equi-join — near-identical
    docs share prefixes), verify with Levenshtein ≤ 12 over a
    48-char probe window. Complements token-set methods (Jaccard,
    MinHash): edit distance catches character-level mutations that
    preserve little of the token set.

    Scale: the block join is an equi-join (never all-pairs) and the
    O(m·n) Levenshtein runs only inside blocks on fixed-width probes,
    bounding per-pair cost at 48×48 cells — all JVM codegen, no
    Python."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.substring(F.lower("text"), 1, 12).alias("blk"),
        F.substring("text", 1, 48).alias("probe"),
    )
    a, b = d.alias("a"), d.alias("b")
    dist = F.levenshtein(F.col("a.probe"), F.col("b.probe"))
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            dist.cast("int").alias("edit_distance"),
        )
        .filter(F.col("edit_distance") <= 12)
        .orderBy("id_a", "id_b")
    )


@query(
    "dedup_pair_triangles",
    oracle="""
WITH toksets AS (
  SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
  FROM documents WHERE doc_id < 150
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM toksets a JOIN toksets b ON a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.6
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles,
       CAST(COUNT(DISTINCT p1.id_a) AS BIGINT) AS n_apex_docs
FROM pairs p1
JOIN pairs p2 ON p2.id_a = p1.id_b
JOIN pairs p3 ON p3.id_a = p1.id_a AND p3.id_b = p2.id_b
""",
)
def dedup_pair_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count over the near-dup pair graph (same bounded
    Jaccard pairs as dedup_ngram_jaccard) — the standard motif-count
    used to measure how clique-like duplicate clusters are (high
    triangle density ⇒ transitive closure is safe; low ⇒ chaining
    through weak links, tighten the threshold before clustering).

    Scale: the a<b<c orientation makes each triangle counted exactly
    once and every join an equi-join on doc ids; with candidate pairs
    from LSH (never all-pairs) this is two hash joins over an
    edge-sized relation."""
    from ibd_pipeline_spark.queries.dedup import _token_jaccard_pairs

    pairs = (
        _token_jaccard_pairs(spark, sf_dir)
        .filter(F.col("jaccard") >= 0.6)
        .select("id_a", "id_b")
    )
    p1, p2, p3 = pairs.alias("p1"), pairs.alias("p2"), pairs.alias("p3")
    tri = p1.join(p2, F.col("p2.id_a") == F.col("p1.id_b")).join(
        p3,
        (F.col("p3.id_a") == F.col("p1.id_a"))
        & (F.col("p3.id_b") == F.col("p2.id_b")),
    )
    return tri.agg(
        F.count(F.lit(1)).alias("n_triangles"),
        F.countDistinct(F.col("p1.id_a")).alias("n_apex_docs"),
    )


@query(
    "text_tfidf_top_terms",
    oracle="""
WITH tokens AS (
  SELECT doc_id, lang, t.term
  FROM documents, UNNEST(string_split(text, ' ')) AS t(term)
  WHERE t.term <> ''
), tf AS (
  SELECT lang, term, COUNT(*) AS tf FROM tokens GROUP BY lang, term
), df AS (
  SELECT term, COUNT(DISTINCT doc_id) AS df FROM tokens GROUP BY term
), n AS (
  SELECT COUNT(*) AS n_docs FROM documents
), scored AS (
  SELECT tf.lang, tf.term, tf.tf, df.df,
         ROUND(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df), 6) AS tfidf
  FROM tf JOIN df USING (term) CROSS JOIN n
)
SELECT lang, term, tf, df, tfidf FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
                               ORDER BY tfidf DESC, term) AS rn
  FROM scored
) WHERE rn <= 5
ORDER BY lang, tfidf DESC, term
""",
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 terms per language by aggregate TF-IDF — the corpus
    term-weighting pass behind keyword extraction and topic drift
    monitoring. Ranking happens on the *rounded* score (round(·,6)
    then row_number) so cross-engine last-ulp noise in ln cannot
    reorder the top-k.

    Scale: explode → two hash aggregates (term-frequency per
    language, document-frequency per term) → broadcastable join on
    term (the term dictionary ≪ corpus) → per-language top-5. The
    corpus-size scalar rides a broadcast of a 1-row aggregate, never
    a driver collect. At 100 TB, df would switch to
    approx_count_distinct; exact here for the oracle."""
    d = load(spark, sf_dir, "documents")
    tokens = d.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("term")
    ).filter(F.col("term") != "")
    tf = tokens.groupBy("lang", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tokens.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "lang", "term", "tf", "df",
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("lang").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .drop("rn")
        .orderBy("lang", F.col("tfidf").desc(), "term")
    )


@query(
    "train_curriculum_schedule",
    oracle=f"""
WITH scored AS (
  SELECT doc_id, lang,
         {_QUALITY_SQL} AS quality
  FROM documents
), banded AS (
  SELECT doc_id, lang, quality,
         NTILE(4) OVER (PARTITION BY lang
                        ORDER BY quality DESC, doc_id) AS band
  FROM scored
)
SELECT ROW_NUMBER() OVER (ORDER BY band, md5(CAST(doc_id AS VARCHAR)), doc_id)
         AS position,
       doc_id, lang, band, quality
FROM banded
ORDER BY position
""",
)
def train_curriculum_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum ordering for training: quality quartile per language
    (NTILE over the deterministic quality score — highest quality =
    band 1), then a global schedule that walks bands easiest-first
    with an md5-hash shuffle *within* each band (deterministic,
    seed-free, partitioning-independent — the same content-hash trick
    as the sampling queries, so the "random" interleave is
    reproducible on any engine).

    Scale: NTILE needs per-language ordering (one shuffle); the
    global position is a distributed global row number
    (operators/ranking.py — range shuffle + per-partition offsets,
    never a single-partition sort of the whole corpus)."""
    from ibd_pipeline_spark.operators import text as T
    from ibd_pipeline_spark.operators.ranking import with_global_row_number

    d = load(spark, sf_dir, "documents")
    scored = d.select("doc_id", "lang", T.quality_score("text").alias("quality"))
    banded = scored.select(
        "doc_id", "lang", "quality",
        F.ntile(4)
        .over(Window.partitionBy("lang").orderBy(F.col("quality").desc(), "doc_id"))
        .alias("band"),
    ).withColumn("_shuf", F.md5(F.col("doc_id").cast("string")))
    return (
        with_global_row_number(banded, ["band", "_shuf", "doc_id"], rn_col="position")
        .select("position", "doc_id", "lang", "band", "quality")
        .orderBy("position")
    )


@query(
    "join_right_outer",
    oracle="""
SELECT n.n_name,
       COUNT(c.c_custkey) AS n_customers,
       CAST(ROUND(SUM(CAST(c.c_acctbal AS DECIMAL(28,8))), 2) AS DOUBLE)
         AS sum_balance
FROM customer c
RIGHT JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY n.n_name
ORDER BY n.n_name
""",
)
def join_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right outer join preserving nations with zero customers —
    completes the SURVEY §2.2 outer-join inventory (left and full
    already covered). Catalyst rewrites right-outer as left-outer
    with sides swapped and still broadcasts the small preserved side;
    COUNT(col) keeps SQL null semantics for unmatched rows."""
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    return (
        c.join(n, c.c_nationkey == n.n_nationkey, "right")
        .groupBy("n_name")
        .agg(
            F.count("c_custkey").alias("n_customers"),
            dsum(F.col("c_acctbal"), 2).alias("sum_balance"),
        )
        .orderBy("n_name")
    )


@query(
    "agg_count_if_bool",
    oracle="""
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(count_if(o_totalprice > 200000) AS BIGINT) AS n_large,
       bool_and(o_totalprice > 900)    AS all_above_floor,
       bool_or(o_totalprice > 500000)  AS any_jumbo
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def agg_count_if_bool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate aggregates: count_if / bool_and (every) / bool_or
    (any) per group — the boolean summarization vocabulary (data-
    quality assertions, SLA checks) in one map-side-combined pass."""
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.count_if(F.col("o_totalprice") > 200000).alias("n_large"),
            F.bool_and(F.col("o_totalprice") > 900).alias("all_above_floor"),
            F.bool_or(F.col("o_totalprice") > 500000).alias("any_jumbo"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "join_date_spine_gapfill",
    oracle="""
WITH spine AS (
  SELECT CAST(unnest(range(DATE '1995-01-01', DATE '1995-04-01',
                           INTERVAL 1 DAY)) AS DATE) AS d
), daily AS (
  SELECT CAST(o_orderdate AS DATE) AS d, COUNT(*) AS n_orders
  FROM orders
  WHERE o_orderdate >= DATE '1995-01-01' AND o_orderdate < DATE '1995-04-01'
  GROUP BY 1
)
SELECT CAST(s.d AS TIMESTAMP) AS day,
       COALESCE(dl.n_orders, 0) AS n_orders,
       (dl.d IS NULL) AS is_gap
FROM spine s LEFT JOIN daily dl ON s.d = dl.d
ORDER BY day
""",
)
def join_date_spine_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-spine gap fill: generate a continuous calendar with
    sequence(), left-join daily actuals, surface zero-activity days —
    the reporting primitive every time-series dashboard needs (a
    groupBy alone silently drops empty days).

    Scale: the spine is sequence()-generated (90 rows here; even a
    decade of days is broadcast-size), so the join is a broadcast of
    the spine against pre-aggregated daily counts — the fact table is
    touched once, by the aggregate."""
    o = load(spark, sf_dir, "orders")
    spine = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("1995-01-01").cast("date"),
                F.lit("1995-03-31").cast("date"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("d")
    )
    daily = (
        o.filter(
            (F.col("o_orderdate") >= F.lit("1995-01-01").cast("date"))
            & (F.col("o_orderdate") < F.lit("1995-04-01").cast("date"))
        )
        # o_orderdate is a timestamp in the fixtures — truncate to the
        # day grid explicitly so the spine join is date-to-date.
        .groupBy(F.col("o_orderdate").cast("date").alias("d"))
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    return (
        spine.join(daily, "d", "left")
        .select(
            # DATE → TIMESTAMP for the driver compare (pandas maps
            # Spark dates to objects, DuckDB dates to datetime64).
            F.col("d").cast("timestamp").alias("day"),
            F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
            F.col("n_orders").isNull().alias("is_gap"),
        )
        .orderBy("day")
    )


@query(
    "scalar_json_quarantine",
    oracle="""
WITH fed AS (
  SELECT event_id,
         CASE WHEN event_id % 7 = 0 THEN SUBSTRING(props, 1, 5)
              ELSE props END AS raw
  FROM events
), judged AS (
  SELECT event_id, raw,
         json_valid(raw) AS ok,
         CASE WHEN json_valid(raw)
              THEN TRY_CAST(json_extract_string(raw, '$.k') AS BIGINT) END AS k
  FROM fed
)
SELECT CAST(COUNT(*) AS BIGINT)                       AS n_records,
       CAST(count_if(NOT ok) AS BIGINT)               AS n_quarantined,
       CAST(SUM(k) AS BIGINT)                         AS sum_k,
       MIN(CASE WHEN NOT ok THEN event_id END)        AS first_bad_id,
       md5(string_agg(CASE WHEN NOT ok THEN raw END, '|'
                      ORDER BY event_id))             AS quarantine_digest
FROM judged
""",
)
def scalar_json_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrupt-record quarantine: a deterministic 1-in-7 slice of the
    JSON feed is truncated mid-token, then the parse splits the
    stream into parsed rows vs a quarantine — counts, the surviving
    aggregate, and an order-stable digest of the quarantined raw
    bytes (what you'd write to a dead-letter path). The
    PERMISSIVE-mode pattern of the reference's from_json
    (spark_processor.py:124: malformed → NULL struct, never a crash)
    made into an auditable first-class output.

    Spark detects corruption via the PERMISSIVE-mode corrupt-record
    column (from_json fills `_corrupt` with the raw input on parse
    failure — a bare NULL-struct check does NOT work: PERMISSIVE
    returns an all-null struct, not NULL); the oracle uses NOT
    json_valid — equivalent HERE because the corruption makes
    byte-level invalid JSON (objects truncated mid-token), never a
    valid-but-differently-shaped document.

    Scale: pure per-row parse + one global aggregate; the digest uses
    an explicitly ORDERED string_agg on both sides (aggregation order
    is partitioning-dependent otherwise)."""
    e = load(spark, sf_dir, "events")
    fed = e.select(
        "event_id",
        F.when(
            F.col("event_id") % 7 == 0, F.substring("props", 1, 5)
        ).otherwise(F.col("props")).alias("raw"),
    )
    judged = fed.select(
        "event_id",
        "raw",
        F.from_json(
            "raw",
            "k bigint, _corrupt string",
            {"columnNameOfCorruptRecord": "_corrupt"},
        ).alias("parsed"),
    ).select(
        "event_id",
        "raw",
        F.col("parsed._corrupt").isNull().alias("ok"),
        F.col("parsed.k").alias("k"),
    )
    return judged.agg(
        F.count(F.lit(1)).alias("n_records"),
        F.count_if(~F.col("ok")).alias("n_quarantined"),
        F.sum("k").alias("sum_k"),
        F.min(F.when(~F.col("ok"), F.col("event_id"))).alias("first_bad_id"),
        F.md5(
            F.concat_ws(
                "|",
                F.array_sort(
                    F.collect_list(
                        F.when(
                            ~F.col("ok"),
                            F.struct("event_id", "raw"),
                        )
                    )
                ).getField("raw"),
            )
        ).alias("quarantine_digest"),
    )


@query(
    "events_attribution_join",
    oracle="""
SELECT c.user_id,
       c.event_id AS click_id,
       CAST(c.ts AS TIMESTAMP) AS click_ts,
       p.event_id AS purchase_id,
       CAST(p.ts AS TIMESTAMP) AS purchase_ts,
       ROUND(p.value, 4) AS purchase_value
FROM (SELECT * FROM events WHERE event_type = 'click') c
LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON c.user_id = p.user_id
 AND CAST(p.ts AS TIMESTAMP) >= CAST(c.ts AS TIMESTAMP)
 AND CAST(p.ts AS TIMESTAMP) <= CAST(c.ts AS TIMESTAMP) + INTERVAL 30 MINUTE
ORDER BY c.user_id, click_id, purchase_id
""",
)
def events_attribution_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the streaming attribution join
    (streaming/joins.py attribution_join): every click left-joined to
    same-user purchases within the following 30 minutes — matched
    conversions plus NULL rows for unconverted clicks. The SAME
    builder powers the watermarked stream-stream join; registering
    the batch form puts the join semantics under the driver's
    hash-check while the streaming tests assert stream/batch
    equivalence.

    Scale: one shuffle per side on user_id; the time-range predicate
    is a post-join filter here and the state-TTL bound in streaming."""
    from ibd_pipeline_spark.streaming.joins import attribution_join

    e = load(spark, sf_dir, "events")
    out = attribution_join(
        e.filter(F.col("event_type") == "click"),
        e.filter(F.col("event_type") == "purchase"),
        horizon="30 minutes",
        how="left_outer",
        streaming=False,
    )
    return out.select(
        "user_id", "click_id", "click_ts", "purchase_id", "purchase_ts",
        F.round("purchase_value", 4).alias("purchase_value"),
    ).orderBy("user_id", "click_id", "purchase_id")


@query(
    "window_activity_streaks",
    oracle="""
WITH days AS (
  SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d
  FROM events
), islands AS (
  SELECT user_id, d,
         d - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d)
                  AS INTEGER) AS grp
  FROM days
), streaks AS (
  SELECT user_id, MIN(d) AS streak_start, MAX(d) AS streak_end,
         COUNT(*) AS streak_days
  FROM islands GROUP BY user_id, grp
)
SELECT user_id,
       CAST(streak_start AS TIMESTAMP) AS streak_start,
       CAST(streak_end AS TIMESTAMP)   AS streak_end,
       streak_days
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                               ORDER BY streak_days DESC, streak_start) AS rn
  FROM streaks
) WHERE rn = 1
ORDER BY user_id
""",
)
def window_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user — the
    gaps-and-islands ARITHMETIC trick: date minus row_number is
    constant exactly along a run of consecutive days, so the group
    key needs no lag/cumsum pass (one window + one aggregate instead
    of two windows; compare events_sessionize_gaps for the
    flag-and-sum formulation of the same family).

    Scale: distinct day-grid first (shrinks events to user×day before
    any window), then everything shares the user_id shuffle."""
    e = load(spark, sf_dir, "events")
    days = e.select("user_id", F.col("ts").cast("date").alias("d")).distinct()
    grp = F.date_sub(
        F.col("d"),
        F.row_number()
        .over(Window.partitionBy("user_id").orderBy("d"))
        .cast("int"),
    )
    streaks = (
        days.withColumn("grp", grp)
        .groupBy("user_id", "grp")
        .agg(
            F.min("d").alias("streak_start"),
            F.max("d").alias("streak_end"),
            F.count(F.lit(1)).alias("streak_days"),
        )
    )
    best = Window.partitionBy("user_id").orderBy(
        F.col("streak_days").desc(), F.col("streak_start")
    )
    return (
        streaks.withColumn("rn", F.row_number().over(best))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            # DATE → TIMESTAMP for the driver compare: pandas maps
            # Spark DateType to python-date objects but DuckDB DATE to
            # datetime64 — same values, different hash inputs.
            F.col("streak_start").cast("timestamp").alias("streak_start"),
            F.col("streak_end").cast("timestamp").alias("streak_end"),
            "streak_days",
        )
        .orderBy("user_id")
    )
