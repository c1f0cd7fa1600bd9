"""Second relational batch: TPC-H-style multi-join analytics, pivot/
unpivot, exploded arrays, ordered collections, statistical aggregates,
and subquery patterns. All oracle-checked.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ibd_pipeline_spark.catalog import load
from ibd_pipeline_spark.queries import dsum, query

# ---------------------------------------------------------------------------
# TPC-H-style multi-join analytics (join-reordering / broadcast showcase).
# ---------------------------------------------------------------------------


@query(
    "q3_shipping_priority",
    oracle="""
SELECT l.l_orderkey,
       CAST(ROUND(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(28,8))), 2) AS DOUBLE) AS revenue,
       CAST(o.o_orderdate AS DATE) AS o_orderdate
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-03-15'
  AND l.l_shipdate > TIMESTAMP '1998-03-15'
GROUP BY l.l_orderkey, o.o_orderdate
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
""",
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join, selective filters on both fact
    sides, grouped revenue, top-10.

    Scale: customer(filtered) is the smallest side — Catalyst/AQE
    broadcasts it into orders, then the orders×lineitem join shuffles
    on orderkey. Filters push to all three scans. LIMIT 10 over the
    sort is TakeOrdered — no global sort materialization.
    """
    c = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = load(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
        )
        .select(
            "l_orderkey", "revenue", F.to_date("o_orderdate").alias("o_orderdate")
        )
        .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@query(
    "q5_local_supplier_volume",
    oracle="""
SELECT n.n_name AS nation_name,
       CAST(ROUND(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(28,8))), 2) AS DOUBLE) AS revenue
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN nation n   ON s.s_nationkey = n.n_nationkey
JOIN region r   ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
GROUP BY n.n_name
ORDER BY revenue DESC, nation_name
""",
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-table join with a same-nation constraint.

    Scale: region/nation/supplier broadcast (fixed-size dims); the
    two fact joins shuffle on orderkey. The same-nation predicate is
    part of the supplier join condition, not a post-filter —
    evaluated during the hash probe.
    """
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    s = F.broadcast(load(spark, sf_dir, "supplier"))
    n = F.broadcast(load(spark, sf_dir, "nation"))
    r = F.broadcast(load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA"))
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(s, (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(n, s.s_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation_name"))
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), "nation_name")
    )


@query(
    "q10_returned_items",
    oracle="""
SELECT c.c_custkey, c.c_name,
       CAST(ROUND(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(28,8))), 2) AS DOUBLE) AS revenue,
       n.n_name AS nation_name
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN nation n   ON c.c_nationkey = n.n_nationkey
WHERE l.l_returnflag = 'R'
GROUP BY c.c_custkey, c.c_name, n.n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-item revenue per customer, top-20."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = F.broadcast(load(spark, sf_dir, "nation"))
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", F.col("n_name").alias("nation_name"))
        .agg(
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")
        )
        .select("c_custkey", "c_name", "revenue", "nation_name")
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Pivot / unpivot.
# ---------------------------------------------------------------------------


@query(
    "pivot_status_by_priority",
    oracle="""
SELECT o_orderpriority,
       CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS status_F,
       CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS status_O,
       CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS BIGINT) AS status_P
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT (wide counts per status). Explicit value list — at scale
    never let pivot() infer distinct values (extra job + unbounded
    width); the oracle is portable conditional aggregation."""
    o = load(spark, sf_dir, "orders")
    out = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
    )
    return (
        out.select(
            "o_orderpriority",
            F.coalesce(F.col("F"), F.lit(0)).alias("status_F"),
            F.coalesce(F.col("O"), F.lit(0)).alias("status_O"),
            F.coalesce(F.col("P"), F.lit(0)).alias("status_P"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "unpivot_measures",
    oracle="""
SELECT o_orderkey, measure, ROUND(val, 4) AS val
FROM (
  SELECT o_orderkey, 'totalprice' AS measure, o_totalprice AS val FROM orders
  UNION ALL
  SELECT o_orderkey, 'custkey', CAST(o_custkey AS DOUBLE) FROM orders
) WHERE o_orderkey < 100
ORDER BY o_orderkey, measure
""",
)
def unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt): wide → long over two measures."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 100)
    return (
        o.select(
            "o_orderkey",
            F.col("o_totalprice").alias("totalprice"),
            F.col("o_custkey").cast("double").alias("custkey"),
        )
        .unpivot("o_orderkey", ["totalprice", "custkey"], "measure", "v")
        .select("o_orderkey", "measure", F.round("v", 4).alias("val"))
        .orderBy("o_orderkey", "measure")
    )


# ---------------------------------------------------------------------------
# Explode / arrays / ordered collections.
# ---------------------------------------------------------------------------


@query(
    "explode_token_frequency",
    oracle="""
SELECT token, COUNT(*) AS freq
FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
GROUP BY token
ORDER BY freq DESC, token
LIMIT 20
""",
)
def explode_token_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token frequency top-20 via explode → count.

    Scale: explode multiplies rows (#tokens per doc); the groupBy
    map-side-combines to vocabulary size before the exchange, so the
    shuffle is O(vocab), not O(tokens)."""
    d = load(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), "token")
        .limit(20)
    )


@query(
    "collect_sorted_list",
    oracle="""
SELECT o_custkey,
       array_to_string(list_sort(list(o_orderkey)), ',') AS order_keys,
       string_agg(o_orderstatus, ',' ORDER BY o_orderkey) AS status_seq
FROM orders
WHERE o_custkey < 30
GROUP BY o_custkey
ORDER BY o_custkey
""",
)
def collect_sorted_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered collection aggregates: sorted key list + ordered
    string_agg. collect_list order is nondeterministic in a
    distributed engine — always sort (or aggregate over structs then
    sort) before comparing or emitting. The sorted list is emitted
    as a ','-joined string: the driver's canonicalizer hashes scalar
    columns only (raw array columns raise `unhashable type: 'list'`
    in pandas factorize)."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_custkey") < 30)
    return (
        o.groupBy("o_custkey")
        .agg(
            F.array_join(
                F.sort_array(F.collect_list("o_orderkey")).cast("array<string>"),
                ",",
            ).alias("order_keys"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("o_orderkey", "o_orderstatus"))
                    ),
                    lambda s: s["o_orderstatus"],
                ),
                ",",
            ).alias("status_seq"),
        )
        .orderBy("o_custkey")
    )


# ---------------------------------------------------------------------------
# Statistical aggregates.
# ---------------------------------------------------------------------------


@query(
    "stats_percentiles",
    oracle="""
SELECT l_returnflag,
       ROUND(quantile_cont(l_extendedprice, 0.5), 4)  AS median_price,
       ROUND(quantile_cont(l_extendedprice, 0.9), 4)  AS p90_price,
       ROUND(quantile_cont(l_extendedprice, 0.99), 4) AS p99_price
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
""",
)
def stats_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (median/p90/p99) — computed via
    the distributed prefix-sum scan, NOT `F.percentile` (r10; the
    r01–r09 form buffered every group's values on one task, the exact
    anti-pattern the ranking module exists to kill).

    How: with_grouped_prefix_sum with weight=1 turns the running
    count into the exact 1-based rank `cw` under the total order
    (price, orderkey, linenumber); `quantile_cont(q)` is then a pair
    of row-local rank thresholds per quantile — position
    p = 1 + q·(n−1), lower value = MIN(price WHERE cw ≥ ⌊p⌋), upper
    value = MIN(price WHERE cw ≥ ⌊p⌋+1), result = lo + frac·(hi−lo),
    the same IEEE double formula DuckDB's quantile_cont evaluates —
    so ONE range-exchange scan yields ALL THREE quantiles exactly,
    with bounded memory per task even when a group spans tasks.

    Scale: identical plan to stats_weighted_quartiles (range exchange
    + Arrow running sum + P-row offset broadcast,
    operators/ranking.py:with_grouped_prefix_sum); adding quantiles
    adds conditional aggregates, not passes."""
    from ibd_pipeline_spark.operators.ranking import with_grouped_prefix_sum

    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_extendedprice",
        "l_orderkey",
        "l_linenumber",
        F.lit(1).cast("bigint").alias("_one"),
    )
    ps = with_grouped_prefix_sum(
        li,
        ["l_returnflag"],
        ["l_extendedprice", "l_orderkey", "l_linenumber"],
        "_one",
    )
    price = F.col("l_extendedprice").cast("double")
    cw, n = F.col("_cw"), F.col("_tw")

    def qcont(q: float):
        p = F.lit(1.0) + F.lit(q) * (n - F.lit(1)).cast("double")
        lo_rank = F.floor(p)
        frac = p - lo_rank.cast("double")
        vlo = F.min(F.when(cw >= lo_rank, price))
        vhi = F.min(F.when(cw >= lo_rank + 1, price))
        return F.round(
            vlo + F.max(frac) * (F.coalesce(vhi, vlo) - vlo), 4
        )

    return (
        ps.groupBy("l_returnflag")
        .agg(
            qcont(0.5).alias("median_price"),
            qcont(0.9).alias("p90_price"),
            qcont(0.99).alias("p99_price"),
        )
        .orderBy("l_returnflag")
    )


_APPROX_PCT_SQL = """
SELECT l_returnflag,
       CAST(COUNT(l_extendedprice) AS BIGINT) AS n,
       TRUE AS approx_rank_ok
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


@query("stats_approx_percentiles", oracle=_APPROX_PCT_SQL)
def stats_approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile — the mergeable-sketch percentile for 100 TB
    groups — attested through its GUARANTEE rather than its raw
    estimate (r09; previously rows-only): the sketch value itself is
    engine-specific (DuckDB cannot replay Spark's Greenwald–Khanna
    internals), but its rank-error contract — the element returned
    for quantile q with accuracy a sits within ±n/a ranks of q·n —
    is exact integer arithmetic both engines CAN check. The query
    computes the approx median, joins it back to count rows ≤/< it
    (exact ranks), and emits the bound check `approx_rank_ok`
    (2× slack on the documented ε = 1/accuracy) next to the group
    count; the oracle replays n and asserts the guarantee as TRUE.
    A sketch regression that breaks the rank bound flips the driver
    hash.

    r10: the `median_exact` audit column is GONE from the production
    plan — it cost a per-group exact-percentile value buffer (the
    precise anti-pattern this approx query exists to avoid; the
    registry's only ≥1.5× vs_r01 bench entry in r09). The exact
    median lives in stats_percentiles, which now computes it via the
    bounded-memory prefix-sum scan; the rank-bound attestation here
    needs only the sketch agg + one broadcast-join count pass.

    Scale: the audit join broadcasts the 3-row group frame back over
    lineitem — one extra scan, no shuffle, no value buffer
    anywhere."""
    li = load(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    acc = 10000
    ap = li.groupBy("l_returnflag").agg(
        F.percentile_approx("l_extendedprice", 0.5, acc).alias("amed"),
        F.count("l_extendedprice").cast("bigint").alias("n"),
    )
    ranks = (
        li.join(F.broadcast(ap.select("l_returnflag", "amed")), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.sum(
                F.when(F.col("l_extendedprice") <= F.col("amed"), 1).otherwise(0)
            ).alias("n_le"),
            F.sum(
                F.when(F.col("l_extendedprice") < F.col("amed"), 1).otherwise(0)
            ).alias("n_lt"),
        )
    )
    slack = F.col("n") * 2 / F.lit(acc) + F.lit(1)
    target = F.col("n") * 0.5
    return (
        ap.join(F.broadcast(ranks), "l_returnflag")
        .select(
            "l_returnflag",
            "n",
            (
                (F.col("n_le") >= target - slack)
                & (F.col("n_lt") <= target + slack)
            ).alias("approx_rank_ok"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "stats_corr_covar",
    oracle="""
SELECT l_linestatus,
       ROUND(corr(l_quantity, l_extendedprice), 6)        AS qty_price_corr,
       ROUND(covar_samp(l_quantity, l_extendedprice), 4)  AS qty_price_covar,
       ROUND(var_samp(l_discount), 8)                     AS discount_var,
       ROUND(skewness(l_extendedprice), 6)                AS price_skew
FROM lineitem
GROUP BY l_linestatus
ORDER BY l_linestatus
""",
)
def stats_corr_covar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlation / covariance / variance / skewness per group —
    single-pass moment aggregates, all map-side combinable.

    Skewness convention: Spark returns population skewness (g1);
    DuckDB returns the bias-corrected sample statistic
    G1 = g1·√(n(n−1))/(n−2) — corrected here so both sides report G1.
    """
    li = load(spark, sf_dir, "lineitem")
    n = F.count(F.lit(1)).cast("double")
    g1_to_G1 = F.sqrt(n * (n - 1)) / (n - 2)
    return (
        li.groupBy("l_linestatus")
        .agg(
            F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("qty_price_corr"),
            F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias(
                "qty_price_covar"
            ),
            F.round(F.var_samp("l_discount"), 8).alias("discount_var"),
            F.round(F.skewness("l_extendedprice") * g1_to_G1, 6).alias("price_skew"),
        )
        .orderBy("l_linestatus")
    )


@query(
    "agg_min_max_by",
    oracle="""
SELECT o_orderstatus,
       min_by(o_orderkey, o_totalprice) AS cheapest_order,
       max_by(o_orderkey, o_totalprice) AS priciest_order,
       ROUND(MIN(o_totalprice), 2) AS min_price,
       ROUND(MAX(o_totalprice), 2) AS max_price
FROM orders
GROUP BY o_orderstatus
ORDER BY o_orderstatus
""",
)
def agg_min_max_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """min_by/max_by argmin/argmax aggregates (single-pass, no
    self-join — the naive formulation joins back on the min)."""
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.min_by("o_orderkey", "o_totalprice").alias("cheapest_order"),
            F.max_by("o_orderkey", "o_totalprice").alias("priciest_order"),
            F.round(F.min("o_totalprice"), 2).alias("min_price"),
            F.round(F.max("o_totalprice"), 2).alias("max_price"),
        )
        .orderBy("o_orderstatus")
    )


# ---------------------------------------------------------------------------
# Subquery patterns.
# ---------------------------------------------------------------------------


_SCALAR_SUBQUERY_ABOVE_AVG_SQL = """
SELECT o_orderkey, ROUND(o_totalprice, 2) AS o_totalprice
FROM orders
WHERE o_totalprice > (SELECT AVG(o_totalprice) * 1.8 FROM orders)
ORDER BY o_orderkey
"""


@query("scalar_subquery_above_avg", oracle=_SCALAR_SUBQUERY_ABOVE_AVG_SQL)
def scalar_subquery_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar subquery in a predicate: orders 1.8× above mean price.

    Scale: the subquery is a 1-row broadcast; the main scan stays a
    single pass with the threshold folded into the filter."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_SCALAR_SUBQUERY_ABOVE_AVG_SQL)


_CORRELATED_EXISTS_SUBQUERY_SQL = """
SELECT s_suppkey, s_name
FROM supplier s
WHERE EXISTS (
  SELECT 1 FROM lineitem l
  WHERE l.l_suppkey = s.s_suppkey AND l.l_quantity > 49
)
ORDER BY s_suppkey
"""


@query("correlated_exists_subquery", oracle=_CORRELATED_EXISTS_SUBQUERY_SQL)
def correlated_exists_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS — planned as a left-semi join by Catalyst
    (decorrelation is automatic; never hand-roll a per-row loop)."""
    for t in ("supplier", "lineitem"):
        load(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_CORRELATED_EXISTS_SUBQUERY_SQL)


@query(
    "groupby_having",
    oracle="""
SELECT l_suppkey, COUNT(*) AS n_lines, ROUND(SUM(l_quantity), 2) AS total_qty
FROM lineitem
GROUP BY l_suppkey
HAVING SUM(l_quantity) > 10000
ORDER BY l_suppkey
""",
)
def groupby_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ... HAVING (post-aggregation predicate)."""
    li = load(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.sum("l_quantity"), 2).alias("total_qty"),
        )
        .filter(F.sum("l_quantity").isNotNull() & (F.col("total_qty") > 10000))
        .orderBy("l_suppkey")
    )
