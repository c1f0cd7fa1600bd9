"""Third relational batch: the remaining classic TPC-H query shapes —
cross-filter volume analysis, conditional aggregation over joins,
disjunctive multi-column predicates, IN-lists, and subqueries in
HAVING. These stress join reordering, predicate normalization (CNF/
DNF pushdown), and nested aggregation — the optimizer paths the
earlier batches don't reach.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window  # noqa: F401

from ibd_pipeline_spark.catalog import load
from ibd_pipeline_spark.queries import dsum, query


@query(
    "q7_volume_shipping",
    oracle="""
SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
       CAST(YEAR(l.l_shipdate) AS INT) AS ship_year,
       CAST(ROUND(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(28,8))), 2) AS DOUBLE) AS volume
FROM lineitem l
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation cn  ON c.c_nationkey = cn.n_nationkey
JOIN nation sn  ON s.s_nationkey = sn.n_nationkey
WHERE cn.n_name <> sn.n_name AND l.l_shipdate >= TIMESTAMP '1997-01-01'
GROUP BY cn.n_name, sn.n_name, YEAR(l.l_shipdate)
ORDER BY cust_nation, supp_nation, ship_year
""",
)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: trade volume between distinct nation pairs.
    Exercises the same dim table joined twice under different roles
    (customer-nation vs supplier-nation) — both broadcast; the
    cross-nation inequality lands in the join graph, not a
    post-filter over a cross product."""
    l = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp")
    )
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    s = F.broadcast(load(spark, sf_dir, "supplier"))
    cn = F.broadcast(load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    ))
    sn = F.broadcast(load(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    ))
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, l.l_suppkey == s.s_suppkey)
        .join(cn, c.c_nationkey == F.col("cn_key"))
        .join(sn, s.s_nationkey == F.col("sn_key"))
        .filter(F.col("cust_nation") != F.col("supp_nation"))
        .groupBy("cust_nation", "supp_nation", F.year("l_shipdate").cast("int").alias("ship_year"))
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("volume"))
        .orderBy("cust_nation", "supp_nation", "ship_year")
    )


@query(
    "q12_shipmode_priority",
    oracle="""
SELECT l.l_linestatus,
       CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders o
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
GROUP BY l.l_linestatus
ORDER BY l.l_linestatus
""",
)
def q12_shipmode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: conditional counts (IN-list CASE) over a
    fact-fact join — the pivot-by-predicate pattern."""
    o = load(spark, sf_dir, "orders")
    l = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("bigint").alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


@query(
    "q14_promo_revenue",
    oracle="""
SELECT ROUND(100.0 * CAST(SUM(CAST(CASE WHEN p.p_type = 'PROMO'
                                   THEN l.l_extendedprice * (1 - l.l_discount)
                                   ELSE 0 END AS DECIMAL(28,8))) AS DOUBLE)
             / CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(28,8))) AS DOUBLE), 6) AS promo_revenue_pct
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1997-06-01'
  AND l.l_shipdate < TIMESTAMP '1997-08-01'
""",
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: ratio of conditional to total revenue in one
    aggregate pass (no second scan, no self-join)."""
    l = load(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-06-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-08-01").cast("timestamp"))
    )
    p = F.broadcast(load(spark, sf_dir, "part"))
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0).cast("decimal(28,8)")).cast("double")
                / F.sum(rev.cast("decimal(28,8)")).cast("double"),
                6,
            ).alias("promo_revenue_pct")
        )
    )


@query(
    "q18_large_orders",
    oracle="""
SELECT c.c_custkey, o.o_orderkey, ROUND(o.o_totalprice, 2) AS o_totalprice,
       ROUND(t.total_qty, 2) AS total_qty
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN (SELECT l_orderkey, SUM(l_quantity) AS total_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING SUM(l_quantity) > 150) t
  ON o.o_orderkey = t.l_orderkey
ORDER BY o.o_totalprice DESC, o.o_orderkey
LIMIT 20
""",
)
def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: aggregate-then-join (the HAVING subquery
    shrinks lineitem to qualifying orderkeys BEFORE joining —
    orders of magnitude less join input than join-then-aggregate)."""
    li = load(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 150)
    )
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    return (
        o.join(big, o.o_orderkey == big.l_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_custkey",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            F.round("total_qty", 2).alias("total_qty"),
        )
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(20)
    )


@query(
    "q19_disjunctive_predicates",
    oracle="""
SELECT CAST(ROUND(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(28,8))), 2) AS DOUBLE) AS revenue,
       COUNT(*) AS n_lines
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE (p.p_type = 'SMALL'  AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity >= 10)
   OR (p.p_type = 'MEDIUM' AND p.p_size BETWEEN 10 AND 30 AND l.l_quantity >= 20)
   OR (p.p_type = 'LARGE'  AND p.p_size BETWEEN 20 AND 50 AND l.l_quantity >= 30)
""",
)
def q19_disjunctive_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: three-branch disjunction mixing columns from
    both join sides. Catalyst extracts the common sub-predicates it
    can push (p_type/p_size terms to the part scan, l_quantity ≥ 10
    to lineitem) and evaluates the full disjunction at the join."""
    l = load(spark, sf_dir, "lineitem")
    p = F.broadcast(load(spark, sf_dir, "part"))
    cond = (
        ((F.col("p_type") == "SMALL") & F.col("p_size").between(1, 15) & (F.col("l_quantity") >= 10))
        | ((F.col("p_type") == "MEDIUM") & F.col("p_size").between(10, 30) & (F.col("l_quantity") >= 20))
        | ((F.col("p_type") == "LARGE") & F.col("p_size").between(20, 50) & (F.col("l_quantity") >= 30))
    )
    return (
        l.join(p, l.l_partkey == p.p_partkey)
        .filter(cond)
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "global_row_ids",
    oracle="""
SELECT o_orderkey,
       ROW_NUMBER() OVER (ORDER BY o_orderkey) AS global_id
FROM orders
WHERE o_orderkey < 500
ORDER BY o_orderkey
""",
)
def global_row_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global ID assignment via row_number over a total
    order. (monotonically_increasing_id is the shuffle-free
    alternative when IDs only need uniqueness, not density — but its
    values are partition-dependent, hence not oracle-checkable.)"""
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 500)
    from pyspark.sql import Window

    return o.select(
        "o_orderkey", F.row_number().over(Window.orderBy("o_orderkey")).alias("global_id")
    ).orderBy("o_orderkey")


# ---------------------------------------------------------------------------
# (moved from round10_analytics.py in the r14 chronological->topic split;
# registry names, semantics, and oracles unchanged)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# Nearest-as-of join (bidirectional, tolerance-bounded)
# ---------------------------------------------------------------------------

_ASOF_NEAREST_TOL = 7 * 24 * 3600  # 7 days

_ASOF_NEAREST_SQL = f"""
WITH p AS (
  SELECT o_orderkey, CAST(o_orderdate AS TIMESTAMP) AS order_ts,
         o_custkey % 50 AS k
  FROM orders WHERE o_orderkey < 100
), m AS (
  SELECT p.o_orderkey, p.order_ts, b.bwd, f.fwd,
         epoch_us(p.order_ts) - epoch_us(b.bwd) AS gb,
         epoch_us(f.fwd) - epoch_us(p.order_ts) AS gf
  FROM p
  LEFT JOIN LATERAL (
    SELECT MAX(CAST(ts AS TIMESTAMP)) AS bwd FROM events
    WHERE user_id = p.k AND CAST(ts AS TIMESTAMP) <= p.order_ts
  ) b ON TRUE
  LEFT JOIN LATERAL (
    SELECT MIN(CAST(ts AS TIMESTAMP)) AS fwd FROM events
    WHERE user_id = p.k AND CAST(ts AS TIMESTAMP) >= p.order_ts
  ) f ON TRUE
), g AS (
  SELECT o_orderkey, order_ts,
         CASE WHEN gb IS NOT NULL AND gb <= CAST({_ASOF_NEAREST_TOL} AS BIGINT) * 1000000
              THEN bwd END AS bwd,
         CASE WHEN gf IS NOT NULL AND gf <= CAST({_ASOF_NEAREST_TOL} AS BIGINT) * 1000000
              THEN fwd END AS fwd,
         gb, gf
  FROM m
)
SELECT o_orderkey, order_ts,
       CASE WHEN bwd IS NOT NULL AND (fwd IS NULL OR gb <= gf)
            THEN bwd ELSE fwd END AS nearest_ts,
       CAST(CASE WHEN bwd IS NOT NULL AND (fwd IS NULL OR gb <= gf)
                 THEN gb // 1000000
                 WHEN fwd IS NOT NULL THEN gf // 1000000
            END AS BIGINT) AS gap_seconds,
       CASE WHEN bwd IS NOT NULL AND (fwd IS NULL OR gb <= gf)
            THEN 'backward'
            WHEN fwd IS NOT NULL THEN 'forward' END AS direction
FROM g ORDER BY o_orderkey
"""


@query("join_asof_nearest_tolerance", oracle=_ASOF_NEAREST_SQL)
def join_asof_nearest_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST-as-of join with a 7-day tolerance — the bidirectional
    sibling of events_asof_join (backward-only): each order matches
    its closest event in EITHER direction on the same key, exact
    ties resolving backward, matches past the tolerance nulled (the
    pandas merge_asof `tolerance` contract) — the sensor/trade-quote
    alignment operator Spark lacks natively.

    Composition (operators/joins.py:asof_nearest_join): ONE
    union-and-sort shuffle on the key carries BOTH direction fills —
    a backward last() frame and a forward first() frame over the same
    sorted union — then the nearer side wins by MICROSECOND-exact
    gap comparison (unix_micros / epoch_us on the two engines); only
    the reported gap_seconds floors the true gap (ADVICE r10: the
    earlier per-side second-truncation mis-resolved sub-second
    ties). No range explosion, no second exchange."""
    from ibd_pipeline_spark.operators.joins import asof_nearest_join
    from ibd_pipeline_spark.queries.events import _asof_inputs

    probes, events = _asof_inputs(spark, sf_dir)
    return (
        asof_nearest_join(
            probes,
            events,
            key="k",
            probe_time="order_ts",
            event_time="event_ts",
            tolerance_seconds=_ASOF_NEAREST_TOL,
        )
        .select(
            "o_orderkey",
            "order_ts",
            F.col("nearest_event_ts").alias("nearest_ts"),
            "gap_seconds",
            "direction",
        )
        .orderBy("o_orderkey")
    )


# ---------------------------------------------------------------------------
# (moved from round9.py in the r14 chronological->topic split;
# registry names, semantics, and oracles unchanged)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# Banded range join (equi-key-less interval containment at scale)
# ---------------------------------------------------------------------------

_BANDED_SQL = """
WITH inc AS (
  SELECT event_id AS incident_id,
         CAST(ts AS TIMESTAMP) AS w_start,
         CAST(ts AS TIMESTAMP) + INTERVAL 1 HOUR AS w_end
  FROM events WHERE event_type = 'error' AND event_id % 97 = 0
)
SELECT i.incident_id,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT e.user_id) AS BIGINT) AS n_users,
       CAST(COUNT(*) FILTER (e.event_type = 'error') AS BIGINT)
         AS n_errors
FROM inc i JOIN events e
  ON CAST(e.ts AS TIMESTAMP) >= i.w_start
 AND CAST(e.ts AS TIMESTAMP) < i.w_end
GROUP BY i.incident_id
ORDER BY i.incident_id
"""


@query("join_banded_range", oracle=_BANDED_SQL)
def join_banded_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join WITHOUT an equi key — events falling inside
    incident windows ([error ts, +1 hour)) — made shuffle-joinable by
    BANDING: both sides tag hour-floor band numbers (a window of
    length ≤ band covers at most 2 bands, so the interval side
    explodes into ≤ 2 rows), the join runs as a plain EQUI join on
    the band, and the exact containment predicate filters after. The
    hand-rolled form of the range-join bin optimization — without it
    this shape is a BroadcastNestedLoopJoin (fine for a small
    interval side) or, worse, a cartesian.

    The oracle runs the plain theta join; banding is provably
    lossless because an event inside [start, start+1h) has its hour
    floor in {floor(start), floor(start)+1}, exactly the two exploded
    bands.

    Scale: shuffle on the band key distributes both sides; per-band
    work is (events in the hour) × (windows touching it) — bounded by
    incident density, never |events|²; skewed hot hours fall to AQE
    skew-split since the join is a plain exchange."""
    ev = load(spark, sf_dir, "events")
    inc = ev.filter(
        (F.col("event_type") == "error") & (F.col("event_id") % 97 == 0)
    ).select(
        F.col("event_id").alias("incident_id"),
        F.col("ts").alias("w_start"),
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("w_end"),
    )
    # interval side: ≤ 2 bands per 1-hour window (band == window size)
    inc_b = inc.select(
        "incident_id",
        "w_start",
        "w_end",
        F.explode(
            F.array_distinct(
                F.array(
                    F.floor(F.unix_timestamp("w_start") / 3600),
                    F.floor(F.unix_timestamp("w_end") / 3600),
                )
            )
        ).alias("band"),
    )
    ev_b = ev.select(
        "user_id",
        "event_type",
        "ts",
        F.floor(F.unix_timestamp("ts") / 3600).alias("band"),
    )
    joined = inc_b.join(ev_b, "band").filter(
        (F.col("ts") >= F.col("w_start")) & (F.col("ts") < F.col("w_end"))
    )
    return (
        joined.groupBy("incident_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            F.count(F.when(F.col("event_type") == "error", 1))
            .cast("bigint")
            .alias("n_errors"),
        )
        .orderBy("incident_id")
    )
