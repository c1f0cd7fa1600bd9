"""Graph queries, second file (round-12 split): global transitivity
and label propagation communities. Split out of the former
round12.py; names/semantics unchanged. No reference analog
(`spark_processor.py:153-164`); SURVEY §2.2 rows.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ibd_pipeline_spark.catalog import load
from ibd_pipeline_spark.queries import query

# ---------------------------------------------------------------------------
# The user co-activity graph every query here reads: an edge joins two
# users active in the same (event_type, hour) bucket.
# ---------------------------------------------------------------------------


def _coactivity_pairs(
    spark: SparkSession, sf_dir: str, max_user: "int | None"
) -> DataFrame:
    """(u, v) with u < v, one row per (event_type, hour) bucket the two
    users share. The `user_id < max_user` slice bounds the bench, not
    the shape; None keeps every user."""
    ev = load(spark, sf_dir, "events")
    if max_user is not None:
        ev = ev.filter(F.col("user_id") < max_user)
    b = ev.select(
        "event_type", F.date_trunc("hour", "ts").alias("h"), "user_id"
    ).distinct()
    a, c = b.alias("a"), b.alias("c")
    return a.join(
        c,
        (F.col("a.event_type") == F.col("c.event_type"))
        & (F.col("a.h") == F.col("c.h"))
        & (F.col("a.user_id") < F.col("c.user_id")),
    ).select(F.col("a.user_id").alias("u"), F.col("c.user_id").alias("v"))


def _coactivity_edges(
    spark: SparkSession, sf_dir: str, max_user: "int | None" = 100
) -> DataFrame:
    """The distinct edge list (u < v), checkpointed: every caller reads
    it more than once."""
    return (
        _coactivity_pairs(spark, sf_dir, max_user)
        .distinct()
        .localCheckpoint(eager=True)
    )


def _sym_deg(e: DataFrame) -> "tuple[DataFrame, DataFrame]":
    """(sym, deg): each edge in both directions, and each node n's
    degree."""
    sym = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = sym.groupBy(F.col("u").alias("n")).agg(
        F.count(F.lit(1)).cast("bigint").alias("deg")
    )
    return sym, deg


def _triangles(e: DataFrame) -> DataFrame:
    """Every triangle once, as (a, b, c) with a < b < c: the wedge at
    the smallest corner closed by the (b, c) edge."""
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    return (
        e1.join(
            e2,
            (F.col("e1.u") == F.col("e2.u")) & (F.col("e1.v") < F.col("e2.v")),
        )
        .join(
            e3,
            (F.col("e3.u") == F.col("e1.v")) & (F.col("e3.v") == F.col("e2.v")),
        )
        .select(
            F.col("e1.u").alias("a"),
            F.col("e1.v").alias("b"),
            F.col("e2.v").alias("c"),
        )
    )


def _edge_support(edges: DataFrame) -> DataFrame:
    """(u, v, support): the number of triangles each edge closes, 0 for
    an edge in none."""
    tri = _triangles(edges)
    edge_tri = (
        tri.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .unionAll(tri.select(F.col("a").alias("u"), F.col("c").alias("v")))
        .unionAll(tri.select(F.col("b").alias("u"), F.col("c").alias("v")))
    )
    return (
        edges.join(edge_tri.withColumn("hit", F.lit(1)), ["u", "v"], "left")
        .groupBy("u", "v")
        .agg(F.count("hit").cast("bigint").alias("support"))
    )


def _coactivity_sql(
    max_user: "int | None" = 100, edges: str = "SELECT DISTINCT u, v FROM p"
) -> str:
    """The oracle twin of the builders above: `WITH b, p, e, sym, deg`,
    where `edges` selects the edge list from the bucket pairs `p`."""
    where = "" if max_user is None else f" WHERE user_id < {max_user}"
    return f"""
WITH b AS (
  SELECT DISTINCT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
         user_id
  FROM events{where}
), p AS (
  SELECT a.user_id AS u, c.user_id AS v
  FROM b a JOIN b c
    ON a.event_type = c.event_type AND a.h = c.h AND a.user_id < c.user_id
), e AS MATERIALIZED (
  {edges}
), sym AS (
  SELECT u, v FROM e UNION ALL SELECT v, u FROM e
), deg AS (
  SELECT u AS n, CAST(COUNT(*) AS BIGINT) AS deg FROM sym GROUP BY u
)"""

# ---------------------------------------------------------------------------
# Global transitivity (triangles vs wedges) of the co-activity graph
# ---------------------------------------------------------------------------

_TRANS_SQL = _coactivity_sql() + """, tri AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_tri
  FROM e e1 JOIN e e2 ON e1.u = e2.u AND e1.v < e2.v
            JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v
), wed AS (
  SELECT CAST(SUM(deg * (deg - 1) / 2) AS BIGINT) AS n_wedges,
         CAST(COUNT(*) AS BIGINT) AS n_nodes
  FROM deg
)
SELECT n_nodes,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_edges,
       n_tri AS n_triangles, n_wedges,
       ROUND(3.0 * n_tri / n_wedges, 6) AS transitivity
FROM wed CROSS JOIN tri
"""


@query("graph_transitivity_global", oracle=_TRANS_SQL)
def graph_transitivity_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global transitivity (a.k.a. the global clustering coefficient)
    of the user co-activity graph: C = 3·triangles / wedges, where
    wedges = Σ_n C(deg n, 2). The one-number "how clique-like is
    this graph" summary — the graph-level companion of the per-node
    clustering coefficient (graph_clustering_coefficient reports
    WHERE the dense tissue is; this reports HOW MUCH there is, the
    number random-graph nulls are compared against).

    Exactness: pure integer counting (edge dedup, oriented-wedge
    triangle closure, exact degree binomials); one double division
    at output.

    Scale: identical bounds to the CC query — the oriented wedge
    join is Σ deg², probed linear under volume replication and
    quadratic-by-construction under density replication
    (SCALE.md round-12, the named degradation mode); the triangle
    closure is an edge-list equi-join. user_id < 100 bounds the
    bench, not the shape."""
    e = _coactivity_edges(spark, sf_dir)
    _sym, deg = _sym_deg(e)
    tri = _triangles(e).agg(F.count(F.lit(1)).cast("bigint").alias("n_tri"))
    wed = deg.agg(
        F.sum(F.expr("(deg * (deg - 1)) DIV 2"))
        .cast("bigint")
        .alias("n_wedges"),
        F.count(F.lit(1)).cast("bigint").alias("n_nodes"),
    )
    ecount = e.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    return (
        wed.crossJoin(F.broadcast(tri))
        .crossJoin(F.broadcast(ecount))
        .select(
            "n_nodes",
            "n_edges",
            F.col("n_tri").alias("n_triangles"),
            "n_wedges",
            F.round(3.0 * F.col("n_tri") / F.col("n_wedges"), 6).alias(
                "transitivity"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Synchronous label propagation (2 unrolled rounds, majority label)
# ---------------------------------------------------------------------------


def _lpa_oracle() -> str:
    """DuckDB CTE unroll of 2 synchronous LPA rounds (majority
    neighbor label, ties to the smallest label) over the co-activity
    graph — same unroll technique as the k-means/k-core oracles."""
    head = _coactivity_sql(
        edges="SELECT u, v FROM p GROUP BY u, v HAVING COUNT(*) >= 3"
    ) + """, l0 AS (
  SELECT DISTINCT u AS node, u AS label FROM sym
)"""
    rounds = []
    for r in range(1, 3):
        rounds.append(f""",
v{r} AS (
  SELECT s.u AS node, l.label, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM sym s JOIN l{r - 1} l ON l.node = s.v
  GROUP BY s.u, l.label
), l{r} AS (
  SELECT node, label FROM (
    SELECT node, label,
           ROW_NUMBER() OVER (PARTITION BY node
                              ORDER BY cnt DESC, label) AS rk
    FROM v{r}
  ) WHERE rk = 1
)""")
    tail = """
SELECT label AS community, CAST(COUNT(*) AS BIGINT) AS size
FROM l2 GROUP BY label ORDER BY size DESC, community LIMIT 20
"""
    return head + "".join(rounds) + tail


@query("graph_label_propagation", oracle=_lpa_oracle)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) over the
    user REPEATED-co-activity graph (an edge needs >= 3 shared
    (type, hour) buckets — one shared busy hour is noise, and the
    unthresholded graph is 70% dense, where every community
    algorithm rightly returns one block), 2 rounds: every node
    adopts its neighbors' MAJORITY label, ties to the smallest label —
    community detection where connected components is too coarse
    (components only finds disconnected islands; LPA splits a
    connected graph along density boundaries). Top-20 communities
    by size.

    Determinism contract: the classic async LPA is order-dependent;
    the SYNCHRONOUS variant with a total-order tie-break
    (count DESC, label ASC via one struct-max) is a pure function
    of the graph, so a DuckDB CTE unroll replays both rounds
    bit-for-bit (the k-means/k-core oracle technique). Fixed round
    count = fixed plan depth — the production form checkpoints per
    round via RoundCheckpointer like pagerank.

    Scale: each round is one (node, label) count shuffle + a
    per-node struct-max — Σ deg work per round, never quadratic;
    labels live on nodes (bounded state)."""
    e = (
        _coactivity_pairs(spark, sf_dir, 100)
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= 3)
        .select("u", "v")
    )
    sym = e.unionAll(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint(eager=True)  # reused by both rounds
    labels = sym.select(F.col("u").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    for _ in range(2):
        votes = (
            sym.join(
                labels.select(
                    F.col("node").alias("v"), F.col("label")
                ),
                "v",
            )
            .groupBy(F.col("u").alias("node"), "label")
            .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        )
        # majority with ties to the SMALLEST label: one struct-max
        labels = votes.groupBy("node").agg(
            F.max(
                F.struct(F.col("cnt"), (-F.col("label")).alias("nl"))
            ).alias("m")
        ).select("node", (-F.col("m.nl")).alias("label"))
    return (
        labels.groupBy(F.col("label").alias("community"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("size"))
        .orderBy(F.col("size").desc(), "community")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Jaccard link prediction over the co-activity graph (r13)
# ---------------------------------------------------------------------------

_JACCARD_LP_SQL = _coactivity_sql() + """, common AS (
  SELECT t1.v AS u, t2.v AS v, CAST(COUNT(*) AS BIGINT) AS cn
  FROM sym t1 JOIN sym t2 ON t1.u = t2.u AND t1.v < t2.v
  GROUP BY t1.v, t2.v
), nonadj AS (
  SELECT c.u, c.v, c.cn
  FROM common c LEFT JOIN e ON e.u = c.u AND e.v = c.v
  WHERE e.u IS NULL
), scored AS (
  SELECT n.u, n.v, n.cn,
         du.deg AS deg_u, dv.deg AS deg_v,
         ROUND(CAST(n.cn AS DOUBLE) / (du.deg + dv.deg - n.cn), 6)
           AS jaccard
  FROM nonadj n JOIN deg du ON du.n = n.u JOIN deg dv ON dv.n = n.v
)
SELECT u, v, cn AS common_neighbors, deg_u, deg_v, jaccard
FROM scored
ORDER BY jaccard DESC, u, v LIMIT 20
"""


@query("graph_jaccard_link_prediction", oracle=_JACCARD_LP_SQL)
def graph_jaccard_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard-coefficient link prediction over the user co-activity
    graph: for NON-ADJACENT wedge-connected pairs, J(u,v) =
    |N(u)∩N(v)| / |N(u)∪N(v)| — the normalized sibling of
    graph_adamic_adar (AA up-weights rare shared neighbors; Jaccard
    penalizes hub-heavy neighborhoods), top-20 missing links. The
    "who should be connected but isn't" primitive behind
    recommendation candidate generation.

    Exactness: common-neighbor counts and degrees are integers off
    the same oriented wedge join as the triangle family; union =
    deg(u)+deg(v)−common by inclusion-exclusion; one double division,
    total-order tiebreak (jaccard DESC, u, v).

    Scale: identical Σ deg² wedge bound as transitivity/AA
    (SCALE.md r13 probes: volume-linear, density-quadratic-by-
    construction with the same cap/salt mitigation); the non-adjacency
    check is one anti-join against the edge list."""
    e = _coactivity_edges(spark, sf_dir)
    sym, deg = _sym_deg(e)
    t1, t2 = sym.alias("t1"), sym.alias("t2")
    common = (
        t1.join(
            t2, (F.col("t1.u") == F.col("t2.u")) & (F.col("t1.v") < F.col("t2.v"))
        )
        .groupBy(F.col("t1.v").alias("u"), F.col("t2.v").alias("v"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cn"))
    )
    nonadj = common.join(e, ["u", "v"], "left_anti")
    du = deg.select(F.col("n").alias("u"), F.col("deg").alias("deg_u"))
    dv = deg.select(F.col("n").alias("v"), F.col("deg").alias("deg_v"))
    scored = (
        nonadj.join(F.broadcast(du), "u")
        .join(F.broadcast(dv), "v")
        .select(
            "u",
            "v",
            F.col("cn").alias("common_neighbors"),
            "deg_u",
            "deg_v",
            F.round(
                F.col("cn").cast("double")
                / (F.col("deg_u") + F.col("deg_v") - F.col("cn")),
                6,
            ).alias("jaccard"),
        )
    )
    return scored.orderBy(
        F.col("jaccard").desc(), "u", "v"
    ).limit(20)


# ---------------------------------------------------------------------------
# Rich-club coefficient of the co-activity graph (r13)
# ---------------------------------------------------------------------------

_RICH_CLUB_SQL = _coactivity_sql() + """, ks AS (
  SELECT k FROM (VALUES (10), (20), (40)) AS t(k)
), club AS (
  SELECT ks.k, CAST(COUNT(*) AS BIGINT) AS nk
  FROM ks JOIN deg ON deg.deg > ks.k GROUP BY ks.k
), ek AS (
  SELECT ks.k, CAST(COUNT(*) AS BIGINT) AS edges_k
  FROM ks JOIN e ON TRUE
  JOIN deg du ON du.n = e.u JOIN deg dv ON dv.n = e.v
  WHERE du.deg > ks.k AND dv.deg > ks.k
  GROUP BY ks.k
)
SELECT club.k AS k, club.nk AS n_club, COALESCE(ek.edges_k, 0) AS club_edges,
       CASE WHEN club.nk >= 2
            THEN ROUND(2.0 * COALESCE(ek.edges_k, 0)
                       / (CAST(club.nk AS DOUBLE) * (club.nk - 1)), 6)
       END AS rich_club_phi
FROM club LEFT JOIN ek ON ek.k = club.k
ORDER BY k
"""


@query("graph_rich_club_coefficient", oracle=_RICH_CLUB_SQL)
def graph_rich_club_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rich-club coefficient φ(k) = 2·E_k / (N_k·(N_k−1)) — the
    density of the subgraph induced by nodes of degree > k, for the
    ladder k ∈ {10, 20, 40}: do the most-connected users also connect
    to EACH OTHER (hub oligarchy) or only to the periphery
    (hub-and-spoke)? The graph-topology companion of
    analytics_hhi_concentration's market version, and the summary
    degree_assortativity can't give (assortativity is one global
    correlation; φ(k) localizes it to the top of the degree ladder).

    Exactness: degrees, club sizes, and club-internal edge counts are
    integers; one guarded double division per k (NULL below 2
    members, the honest degenerate report).

    Scale: degree frame is node-sized; the club-edge count joins the
    edge list against the (broadcast) degree frame twice and
    aggregates per k — O(|E|·|ks|) with catalog-sized k ladder; same
    co-activity edge bounds as the rest of the family (SCALE.md)."""
    e = _coactivity_edges(spark, sf_dir)
    _sym, deg = _sym_deg(e)
    ks = e.sparkSession.createDataFrame([(10,), (20,), (40,)], "k int")
    club = (
        F.broadcast(ks)
        .join(deg, deg["deg"] > ks["k"])
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("bigint").alias("nk"))
    )
    du = deg.select(F.col("n").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("n").alias("v"), F.col("deg").alias("dv"))
    ek = (
        e.join(F.broadcast(du), "u")
        .join(F.broadcast(dv), "v")
        .crossJoin(F.broadcast(ks))
        .filter((F.col("du") > F.col("k")) & (F.col("dv") > F.col("k")))
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("bigint").alias("edges_k"))
    )
    out = club.join(ek, "k", "left").select(
        "k",
        F.col("nk").alias("n_club"),
        F.coalesce(F.col("edges_k"), F.lit(0)).cast("bigint").alias(
            "club_edges"
        ),
        F.when(
            F.col("nk") >= 2,
            F.round(
                2.0
                * F.coalesce(F.col("edges_k"), F.lit(0))
                / (F.col("nk").cast("double") * (F.col("nk") - 1)),
                6,
            ),
        ).alias("rich_club_phi"),
    )
    return out.orderBy("k")


# ---------------------------------------------------------------------------
# (moved from round10_analytics.py in the r14 chronological->topic split;
# registry names, semantics, and oracles unchanged)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# k-core decomposition (bounded peel) of the user co-activity graph
# ---------------------------------------------------------------------------

_KCORE_K, _KCORE_ROUNDS = 3, 4


def _kcore_oracle() -> str:
    head = _coactivity_sql(max_user=None)
    body = ""
    prev = "e"
    for r in range(1, _KCORE_ROUNDS + 1):
        body += f""",
d{r} AS MATERIALIZED (
  SELECT n, CAST(SUM(c) AS BIGINT) AS deg FROM (
    SELECT u AS n, COUNT(*) AS c FROM {prev} GROUP BY u
    UNION ALL
    SELECT v AS n, COUNT(*) AS c FROM {prev} GROUP BY v
  ) GROUP BY n
), a{r} AS MATERIALIZED (
  SELECT n FROM d{r} WHERE deg >= {_KCORE_K}
), e{r} AS MATERIALIZED (
  SELECT e.u, e.v FROM {prev} e
  JOIN a{r} x ON x.n = e.u JOIN a{r} y ON y.n = e.v
)"""
        prev = f"e{r}"
    tail = f"""
SELECT d.n AS user_id, d.deg AS core_degree
FROM (
  SELECT n, CAST(SUM(c) AS BIGINT) AS deg FROM (
    SELECT u AS n, COUNT(*) AS c FROM {prev} GROUP BY u
    UNION ALL
    SELECT v AS n, COUNT(*) AS c FROM {prev} GROUP BY v
  ) GROUP BY n
) d
WHERE d.deg >= {_KCORE_K}
ORDER BY user_id
"""
    return head + body + tail


@query("graph_kcore_peel", oracle=_kcore_oracle)
def graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (k = 3, bounded 4-round peel) of the user
    CO-ACTIVITY graph — nodes are users, an edge joins two users
    active in the same (event_type, hour) bucket; the k-core (every
    member keeps ≥ k neighbors INSIDE the core) is the dense-cohort
    extractor behind fraud-ring mining, community seeding, and
    engaged-user carving that degree thresholds alone miss (a
    high-degree node hanging off a sparse fringe is NOT core).
    Each peel round drops nodes whose degree fell below k and
    restricts edges to survivors; like every fixpoint in
    operators/graph.py the round count is FIXED (4 — the peel is
    monotone, so round r output is the exact r-round peel and an
    upper bound on the true core) and the oracle unrolls the same
    rounds as a CTE chain.

    Scale: edge construction is the bucket self-join — co-activity
    buckets are (type × hour)-bounded, so pair fan-out is per-bucket
    quadratic, never user-quadratic (the same blocking argument as
    every dedup family); each peel round is one degree aggregate +
    one semi-join, edge-set-sized."""
    e = _coactivity_edges(spark, sf_dir, max_user=None)

    def degrees(edges: DataFrame) -> DataFrame:
        return (
            edges.select(F.col("u").alias("n"))
            .unionAll(edges.select(F.col("v").alias("n")))
            .groupBy("n")
            .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
        )

    # r15: fixpoint early-exit. Each round's edge set is a SUBSET of
    # the previous (semi-joins only remove), so an unchanged count ⟹
    # identical set ⟹ every later round is a no-op and the output is
    # bit-identical; the count runs over the just-checkpointed blocks
    # (~ms) and saves the remaining degree aggregates + semi-joins
    # whenever the peel converges before the round bound (at sf0.1 it
    # converges in round 1 — the 3-core IS the whole co-activity
    # graph).
    prev = e.count()
    for _ in range(_KCORE_ROUNDS):
        alive = degrees(e).filter(F.col("deg") >= _KCORE_K).select("n")
        e = (
            e.join(alive.withColumnRenamed("n", "u"), "u", "semi")
            .join(alive.withColumnRenamed("n", "v"), "v", "semi")
            .select("u", "v")
            .localCheckpoint(eager=True)  # next round reads it twice
        )
        cur = e.count()
        if cur == prev:
            break
        prev = cur
    return (
        degrees(e)
        .filter(F.col("deg") >= _KCORE_K)
        .select(F.col("n").alias("user_id"), F.col("deg").alias("core_degree"))
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# (moved from round11c.py in the r14 chronological->topic split;
# registry names, semantics, and oracles unchanged)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# Degree assortativity of the co-activity graph
# ---------------------------------------------------------------------------

_ASSORT_SQL = _coactivity_sql(max_user=150) + """, pairs AS (
  SELECT du.deg AS x, dv.deg AS y
  FROM sym JOIN deg du ON du.n = sym.u JOIN deg dv ON dv.n = sym.v
), s AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS md,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy,
         CAST(SUM(x * y) AS BIGINT) AS sxy
  FROM pairs
)
SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
       CAST(md // 2 AS BIGINT) AS n_edges,
       ROUND((CAST(md AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / (sqrt(CAST(md AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                * sqrt(CAST(md AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)),
             6) AS assortativity
FROM s
"""


@query("graph_degree_assortativity", oracle=_ASSORT_SQL)
def graph_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity coefficient (Newman 2002) of the user
    co-activity graph (same edge build as graph_kcore_peel /
    graph_adamic_adar: an edge joins two users active in the same
    (event_type, hour) bucket): the Pearson correlation of endpoint
    degrees over DIRECTED edge occurrences (each undirected edge
    counted both ways — the standard symmetrization). Positive =
    hubs attach to hubs (social nets); negative = hub-and-spoke
    (infrastructure). The one-number structure summary next to
    k-core's global peel and the local clustering coefficient.

    Exactness: every moment (Σx, Σx², Σxy over directed edges) is an
    exact BIGINT sum of bounded integers; the correlation is one
    closed-form double chain at output — bit-identical engines.

    Scale: degrees are one edge-key aggregate; the moment pass is two
    hash joins of the edge list against the (node, degree) table —
    broadcastable, since nodes ≪ edges in any dense graph. The
    user_id < 150 slice bounds the bench, not the shape."""
    sym, deg = _sym_deg(_coactivity_pairs(spark, sf_dir, 150).distinct())
    du = deg.select(F.col("n").alias("nu"), F.col("deg").alias("x"))
    dv = deg.select(F.col("n").alias("nv"), F.col("deg").alias("y"))
    pairs = sym.join(F.broadcast(du), F.col("u") == F.col("nu")).join(
        F.broadcast(dv), F.col("v") == F.col("nv")
    )
    s = pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("md"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    nn = deg.agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
    mdd = F.col("md").cast("double")
    num = mdd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy")
    den = F.sqrt(
        mdd * F.col("sxx") - F.col("sx").cast("double") * F.col("sx")
    ) * F.sqrt(mdd * F.col("syy") - F.col("sy").cast("double") * F.col("sy"))
    return nn.crossJoin(F.broadcast(s)).select(
        "n_nodes",
        (F.col("md") / 2).cast("bigint").alias("n_edges"),
        F.round(num / den, 6).alias("assortativity"),
    )


# ---------------------------------------------------------------------------
# (moved from round11.py in the r14 chronological->topic split;
# registry names, semantics, and oracles unchanged)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# Adamic–Adar link prediction over the co-activity graph
# ---------------------------------------------------------------------------

_AA_SQL = _coactivity_sql(max_user=150) + """, cn AS (
  SELECT t1.v AS u, t2.v AS v, t1.u AS w
  FROM sym t1 JOIN sym t2 ON t1.u = t2.u AND t1.v < t2.v
), nonedge AS (
  SELECT cn.u, cn.v, cn.w FROM cn
  LEFT JOIN e ON e.u = cn.u AND e.v = cn.v
  WHERE e.u IS NULL
), scored AS (
  SELECT ne.u, ne.v,
         CAST(COUNT(*) AS BIGINT) AS n_common,
         SUM(CAST(1.0 / ln(d.deg) AS DECIMAL(28,12))) AS aa
  FROM nonedge ne JOIN deg d ON d.n = ne.w
  GROUP BY ne.u, ne.v
)
SELECT u, v, n_common,
       CAST(ROUND(aa, 6) AS DOUBLE) AS aa_score
FROM scored
ORDER BY aa DESC, u, v
LIMIT 20
"""


@query("graph_adamic_adar", oracle=_AA_SQL)
def graph_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic–Adar link prediction over the user co-activity graph
    (same edge build as graph_kcore_peel: an edge joins two users
    active in the same (event_type, hour) bucket): for every
    NON-edge pair with ≥1 common neighbor, AA(u,v) = Σ_w 1/ln(deg w)
    over common neighbors — rare shared contacts score higher than
    hubs. The "who will co-occur next" primitive behind
    recommendation seeding and fraud-ring expansion. Top-20 by score.

    Exactness: per-term 1/ln(deg) quantized to DECIMAL(28,12) (the
    dsum pattern) so the per-pair sum is order-independent; a common
    neighbor has degree ≥ 2 by construction, so ln(deg) > 0 always.

    Scale: common-neighbor enumeration is the sym⋈sym self-join on
    the CENTER node — fan-out Σ_w deg(w)², the standard triangle/
    wedge bound, never user-quadratic; the user_id < 150 slice
    bounds the bench, not the shape. Top-20 is a TakeOrdered."""
    e = _coactivity_edges(spark, sf_dir, max_user=150)
    sym, deg = _sym_deg(e)
    t1, t2 = sym.alias("t1"), sym.alias("t2")
    cn = t1.join(
        t2, (F.col("t1.u") == F.col("t2.u")) & (F.col("t1.v") < F.col("t2.v"))
    ).select(
        F.col("t1.v").alias("u"), F.col("t2.v").alias("v"), F.col("t1.u").alias("w")
    )
    nonedge = cn.join(e, ["u", "v"], "left_anti")
    scored = (
        nonedge.join(deg.withColumnRenamed("n", "w"), "w")
        .groupBy("u", "v")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_common"),
            F.sum(
                (F.lit(1.0) / F.log(F.col("deg").cast("double"))).cast(
                    "decimal(28,12)"
                )
            ).alias("aa"),
        )
    )
    return (
        scored.orderBy(F.col("aa").desc(), "u", "v")
        .limit(20)
        .select(
            "u",
            "v",
            "n_common",
            F.round("aa", 6).cast("double").alias("aa_score"),
        )
    )


# ---------------------------------------------------------------------------
# Local clustering coefficient + global transitivity
# ---------------------------------------------------------------------------

_CC_SQL = _coactivity_sql() + """, tri AS (
  -- ordered triangles u < v < w: wedge (u<v, u<w with v<w) closed by (v,w)
  SELECT e1.u, e1.v, e2.v AS w
  FROM e e1 JOIN e e2 ON e1.u = e2.u AND e1.v < e2.v
  JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v
), pertri AS (
  SELECT u AS n FROM tri
  UNION ALL SELECT v AS n FROM tri
  UNION ALL SELECT w AS n FROM tri
), tcount AS (
  SELECT n, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM pertri GROUP BY n
)
SELECT d.n AS user_id, d.deg,
       CAST(COALESCE(t.n_triangles, 0) AS BIGINT) AS n_triangles,
       CASE WHEN d.deg >= 2 THEN
         ROUND(2.0 * COALESCE(t.n_triangles, 0) / (d.deg * (d.deg - 1)), 6)
       END AS clustering_coeff
FROM deg d LEFT JOIN tcount t ON t.n = d.n
ORDER BY user_id
"""


@query("graph_clustering_coefficient", oracle=_CC_SQL)
def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per node of the user co-activity
    graph: cc(n) = 2·triangles(n) / (deg(n)·(deg(n)−1)) — how close a
    user's neighborhood is to a clique. Triangles enumerate ONCE in
    canonical u < v < w order (wedge at the minimum vertex closed by
    the (v, w) edge — each triangle counted exactly once, then
    credited to all three corners), the standard oriented-wedge
    algorithm. With graph_kcore_peel (dense cores) and
    graph_adamic_adar (missing links) this completes the cohort-
    structure toolkit: cc says WHICH nodes sit in locally dense
    tissue.

    Exactness: pure integer counting until one final division.

    Scale: the wedge join's fan-out is Σ deg(u over its ordered
    neighbors)² and the closing probe is an equi-join against the
    edge list — the count-triangles-in-MapReduce bound; never
    node-quadratic. user_id < 100 bounds the bench, not the shape."""
    e = _coactivity_edges(spark, sf_dir)
    _sym, deg = _sym_deg(e)
    tri = _triangles(e)
    pertri = (
        tri.select(F.col("a").alias("n"))
        .unionAll(tri.select(F.col("b").alias("n")))
        .unionAll(tri.select(F.col("c").alias("n")))
    )
    tcount = pertri.groupBy("n").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_triangles")
    )
    out = deg.join(tcount, "n", "left").select(
        F.col("n").alias("user_id"),
        "deg",
        F.coalesce("n_triangles", F.lit(0)).cast("bigint").alias("n_triangles"),
        F.when(
            F.col("deg") >= 2,
            F.round(
                2.0
                * F.coalesce("n_triangles", F.lit(0))
                / (F.col("deg") * (F.col("deg") - 1)),
                6,
            ),
        ).alias("clustering_coeff"),
    )
    return out.orderBy("user_id")


# ---------------------------------------------------------------------------
# Edge triangle support (the k-truss building block) (r14)
# ---------------------------------------------------------------------------

_TRI_SUPPORT_SQL = _coactivity_sql() + """, tri AS (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM e e1 JOIN e e2 ON e1.u = e2.u AND e1.v < e2.v
            JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v
), edge_tri AS (
  SELECT a AS u, b AS v FROM tri
  UNION ALL SELECT a, c FROM tri
  UNION ALL SELECT b, c FROM tri
), sup AS (
  SELECT e.u, e.v, CAST(COUNT(t.u) AS BIGINT) AS support
  FROM e LEFT JOIN edge_tri t ON t.u = e.u AND t.v = e.v
  GROUP BY e.u, e.v
)
SELECT support,
       CAST(COUNT(*) AS BIGINT) AS n_edges,
       CAST(MIN(u) AS BIGINT) AS min_u,
       CAST(MIN(v) AS BIGINT) AS min_v
FROM sup GROUP BY support ORDER BY support
"""


@query("graph_edge_triangle_support", oracle=_TRI_SUPPORT_SQL)
def graph_edge_triangle_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-edge TRIANGLE SUPPORT over the user co-activity graph —
    the k-truss building block (an edge is in the k-truss iff its
    support ≥ k−2): each triangle (a<b<c) contributes one support
    unit to each of its three edges; edges in no triangle report 0
    via the left join. Output is the support histogram (support →
    edge count, plus per-class column-wise endpoint minima as
    spot-check anchors) — the "how load-bearing is each tie"
    readout between the node-level clustering coefficient and the
    k-core peel.

    Exactness: pure integer counting end to end — triangle closure
    is the same oriented wedge join the transitivity row measured
    (Σ deg² bound, SCALE.md), projections and the histogram are
    exact BIGINTs.

    Scale: one triangle enumeration (never all-pairs — wedge join on
    the oriented edge list), a 3-way projection union that is
    3·|triangles| rows, and a groupBy on the edge key; the histogram
    is support-domain-sized. The user_id < 100 slice bounds BENCH
    cost exactly like the sibling graph rows."""
    return (
        _edge_support(_coactivity_edges(spark, sf_dir))
        .groupBy("support")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_edges"),
            F.min("u").cast("bigint").alias("min_u"),
            F.min("v").cast("bigint").alias("min_v"),
        )
        .orderBy("support")
    )


# ---------------------------------------------------------------------------
# k-truss peel (bounded rounds) over the co-activity graph (r14)
# ---------------------------------------------------------------------------

_TRUSS_K = 4  # keep edges with support >= k-2 = 2
_TRUSS_ROUNDS = 3


def _ktruss_oracle() -> str:
    head = _coactivity_sql()
    body = ""
    prev = "e"
    for r in range(1, _TRUSS_ROUNDS + 1):
        body += f""",
t{r} AS MATERIALIZED (
  SELECT e1.u AS a, e1.v AS b, e2.v AS c
  FROM {prev} e1 JOIN {prev} e2 ON e1.u = e2.u AND e1.v < e2.v
                 JOIN {prev} e3 ON e3.u = e1.v AND e3.v = e2.v
), s{r} AS MATERIALIZED (
  SELECT e.u, e.v, CAST(COUNT(x.u) AS BIGINT) AS support
  FROM {prev} e LEFT JOIN (
    SELECT a AS u, b AS v FROM t{r}
    UNION ALL SELECT a, c FROM t{r}
    UNION ALL SELECT b, c FROM t{r}
  ) x ON x.u = e.u AND x.v = e.v
  GROUP BY e.u, e.v
), e{r} AS MATERIALIZED (
  SELECT u, v FROM s{r} WHERE support >= {_TRUSS_K - 2}
)"""
        prev = f"e{r}"
    tail = f"""
SELECT support,
       CAST(COUNT(*) AS BIGINT) AS n_edges,
       CAST(MIN(u) AS BIGINT) AS min_u,
       CAST(MIN(v) AS BIGINT) AS min_v
FROM s{_TRUSS_ROUNDS}
WHERE support >= {_TRUSS_K - 2}
GROUP BY support ORDER BY support
"""
    return head + body + tail


@query("graph_ktruss_peel", oracle=_ktruss_oracle)
def graph_ktruss_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded k-truss peel (k = 4): iteratively drop every edge in
    fewer than k−2 triangles, recompute support on the survivor
    graph, repeat for 3 monotone rounds — the EDGE-cohesion sibling
    of graph_kcore_peel (k-core keeps well-connected NODES; k-truss
    keeps ties that are themselves embedded in triangles, the
    standard community-core definition one notch stronger). Output is
    the survivor support histogram with endpoint-minima anchors, the
    graph_edge_triangle_support convention.

    Exactness: pure integer counting per round (the same oriented
    wedge join + 3-way projection union as the support row); the
    oracle unrolls the rounds as a MATERIALIZED CTE chain — the
    k-core precedent.

    Scale: each round is one triangle enumeration over the CURRENT
    survivor set (monotonically shrinking — peels only delete), with
    per-round localCheckpoint so Catalyst never replays earlier
    rounds; rounds are bounded (3), the production pattern for
    truss/core decompositions on a fixed compute budget."""
    e = _coactivity_edges(spark, sf_dir)

    # Fixpoint early-exit (same argument as graph_kcore_peel —
    # the survivor set only shrinks, so an unchanged count means the
    # remaining rounds recompute identical support tables; `sup` at
    # the break is already _edge_support(final e), so the returned rows
    # are bit-identical while the saved rounds skip the expensive
    # per-round triangle join).
    sup = None
    prev = e.count()
    for _ in range(_TRUSS_ROUNDS):
        sup = _edge_support(e)
        e = (
            sup.filter(F.col("support") >= _TRUSS_K - 2)
            .select("u", "v")
            .localCheckpoint(eager=True)
        )
        cur = e.count()
        if cur == prev:
            break
        prev = cur
    return (
        sup.filter(F.col("support") >= _TRUSS_K - 2)
        .groupBy("support")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_edges"),
            F.min("u").cast("bigint").alias("min_u"),
            F.min("v").cast("bigint").alias("min_v"),
        )
        .orderBy("support")
    )
