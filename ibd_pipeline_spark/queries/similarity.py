"""Similarity-search queries over `embeddings` (north-star set).

Brute-force cosine top-k is oracle-checked (DuckDB list_dot_product
reproduces the same double-precision arithmetic); the LSH-bucketed
ANN variant is approximate by design → rows-only check + recall test
in tests/test_similarity.py.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window  # noqa: F401

from ibd_pipeline_spark.catalog import load
from ibd_pipeline_spark.operators import similarity as S
from ibd_pipeline_spark.queries import query

def _embedding_slice(spark: SparkSession, sf_dir: str, n: int) -> DataFrame:
    """(vec_id, label, emb, nrm) for vec_id < n: the embedding cast to
    a double array and its L2 norm (an element-order fold, the same
    addition order DuckDB's oracles replay)."""
    return (
        load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < n)
        .select(
            "vec_id",
            "label",
            F.transform("embedding", lambda x: x.cast("double")).alias("emb"),
        )
        .select(
            "vec_id",
            "label",
            "emb",
            F.sqrt(
                F.aggregate(
                    F.transform("emb", lambda x: x * x),
                    F.lit(0.0),
                    lambda a, x: a + x,
                )
            ).alias("nrm"),
        )
    )


# The oracles' shared tail: top-5 of `scored` (qid, cid, cosine_sim)
# per query, ties to the smaller corpus id.
_TOP5_SQL = """, ranked AS (
  SELECT qid AS query_id, cid AS corpus_id, cosine_sim,
         ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY cosine_sim DESC, cid) AS rank
  FROM scored
)
SELECT query_id, corpus_id, cosine_sim, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
ORDER BY query_id, rank
"""


@query(
    "similarity_bruteforce_topk",
    oracle="""
WITH q AS (
  SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
  FROM embeddings WHERE vec_id < 10
),
c AS (
  SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
  FROM embeddings
),
scored AS (
  SELECT q.qid, c.cid,
         ROUND(list_dot_product(q.qv, c.cv)
               / (sqrt(list_dot_product(q.qv, q.qv))
                  * sqrt(list_dot_product(c.cv, c.cv))), 6) AS cosine_sim
  FROM q JOIN c ON q.qid <> c.cid
)"""
    + _TOP5_SQL,
)
def similarity_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 for 10 query vectors against the full
    corpus. Scoring via zip_with+aggregate (JVM), broadcast query
    side, TakeOrdered-style window top-k. The exactness baseline the
    ANN path is measured against."""
    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    out = S.brute_force_topk(
        q.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("vec")),
        emb.select(F.col("vec_id").alias("corpus_id"), F.col("embedding").alias("vec")),
        k=5,
    )
    return out.withColumn("rank", F.col("rank").cast("int")).orderBy("query_id", "rank")


def _axis_bucket_sql(t: int, bits: int = 6, stride: int = 8) -> str:
    terms = " + ".join(
        f"(CASE WHEN v[{t + stride * j + 1}] > 0 THEN {1 << j} ELSE 0 END)"
        for j in range(bits)
    )
    return f"({t} * 4294967296 + {terms})"


def _seq_dot(a: str, b: str, dim: int = 64) -> str:
    """Element-order left-associated dot product — the same addition
    order as Spark's F.aggregate fold, so the doubles are
    bit-identical across engines."""
    return " + ".join(f"{a}[{i + 1}] * {b}[{i + 1}]" for i in range(dim))


def _cos_sql(a: str, b: str) -> str:
    return (
        f"(({_seq_dot(a, b)}) / (sqrt({_seq_dot(a, a)})"
        f" * sqrt({_seq_dot(b, b)})))"
    )


_ANN_LSH_SQL = f"""
WITH v AS (
  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), keyed AS (
  SELECT id, v,
         unnest([{", ".join(_axis_bucket_sql(t) for t in range(8))}]) AS bkey
  FROM v
), cand AS (
  SELECT DISTINCT q.id AS qid, c.id AS cid
  FROM keyed q JOIN keyed c ON q.bkey = c.bkey AND q.id <> c.id
  WHERE q.id < 10
), scored AS (
  SELECT cand.qid, cand.cid,
         ROUND({_cos_sql("a.v", "b.v")}, 6) AS cosine_sim
  FROM cand JOIN v a ON a.id = cand.qid JOIN v b ON b.id = cand.cid
)""" + _TOP5_SQL


@query("similarity_ann_lsh", oracle=_ANN_LSH_SQL)
def similarity_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-5 via multi-table sign-LSH: candidates from any shared
    bucket, exact cosine re-rank. The scale path for large query
    sets; recall vs brute force asserted in tests on clustered data.

    HASH-ATTESTED: the operator buckets on axis-aligned sign bits
    (8 tables × 6 dims, pure CASE algebra), so the whole pipeline
    (bucket keys → candidate equi-join → exact cosine in the Spark
    fold's addition order → window top-5) is replayed by DuckDB
    bit-for-bit, the same portability trade dedup_embedding_cosine
    makes. Recall on clustered data is property-tested
    (tests/test_similarity.py).
    """
    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    out = S.lsh_bucketed_topk(
        q.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("vec")),
        emb.select(F.col("vec_id").alias("corpus_id"), F.col("embedding").alias("vec")),
        k=5,
        n_tables=8,
        bits_per_table=6,
        dim=64,
        # |Q| = 10 by construction — skip auto's sizing count job
        broadcast_queries=True,
    )
    return out.withColumn("rank", F.col("rank").cast("int")).orderBy("query_id", "rank")


# IVF over deterministic cells (the _IVF_CELLS lowest ids), shared by
# similarity_ann_ivf and IVF-PQ: `asgn` puts every vector in its
# most-similar cell, `probe` sends each of the 10 query vectors to its
# 4 best cells.
_IVF_CELLS = 16

_IVF_ASSIGN_SQL = f"""
WITH v AS (
  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), cents AS (
  SELECT id AS cent_id, v AS cv FROM v ORDER BY id LIMIT {_IVF_CELLS}
), sims AS (
  SELECT v.id, v.v, c.cent_id,
         {_cos_sql("v.v", "c.cv")} AS sim
  FROM v CROSS JOIN cents c
), asgn AS (
  SELECT id AS cid, v AS cv, cent_id AS cell_id
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY id
                                     ORDER BY sim DESC, cent_id) AS rn
        FROM sims)
  WHERE rn = 1
), probe AS (
  SELECT id AS qid, v AS qv, cent_id AS cell_id
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY id
                                     ORDER BY sim DESC, cent_id) AS rn
        FROM sims WHERE id < 10)
  WHERE rn <= 4
)"""


_ANN_IVF_SQL = _IVF_ASSIGN_SQL + f""", scored AS (
  SELECT p.qid, a.cid,
         ROUND({_cos_sql("p.qv", "a.cv")}, 6) AS cosine_sim
  FROM probe p JOIN asgn a ON p.cell_id = a.cell_id AND p.qid <> a.cid
)""" + _TOP5_SQL


@query("similarity_ann_ivf", oracle=_ANN_IVF_SQL)
def similarity_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-5 via IVF coarse quantization (16 deterministic
    centroids = lowest vec_ids, 4 probes): queries score only their
    probed Voronoi cells. The bucketed-layout scale path; recall vs
    brute force asserted in tests.

    HASH-ATTESTED (r10; previously rows-only): every IVF mechanism is
    deterministic — centroid choice (ORDER BY id LIMIT 16), cell
    assignment (max cosine, ties to the LOWEST cent_id — the r10
    struct-max fix in operators/similarity.py:ivf_topk; bare max_by
    left ties engine-ordered), probe ranking, and the final top-5 —
    and every cosine is the same left-associated double fold both
    engines evaluate identically, so DuckDB replays the full
    pipeline: assignment cross join × 16 centroids, probe top-4,
    cell-equi-join scoring, window top-5."""
    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    out = S.ivf_topk(
        q.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("vec")),
        emb.select(F.col("vec_id").alias("corpus_id"), F.col("embedding").alias("vec")),
        k=5,
        n_centroids=_IVF_CELLS,
        n_probe=4,
        # |Q| = 10 by construction — skip auto's sizing count job
        broadcast_queries=True,
    )
    return out.withColumn("rank", F.col("rank").cast("int")).orderBy("query_id", "rank")


_EMB_COSINE_SQL = f"""
WITH v AS (
  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), keyed AS (
  SELECT id, unnest([{", ".join(_axis_bucket_sql(t) for t in range(8))}]) AS bkey
  FROM v
), cand AS (
  SELECT DISTINCT l.id AS id_a, r.id AS id_b
  FROM keyed l JOIN keyed r ON l.bkey = r.bkey AND l.id < r.id
), scored AS (
  SELECT c.id_a, c.id_b,
         ROUND(({_seq_dot("a.v", "b.v")})
               / (sqrt({_seq_dot("a.v", "a.v")})
                  * sqrt({_seq_dot("b.v", "b.v")})), 6) AS cosine_sim
  FROM cand c JOIN v a ON a.id = c.id_a JOIN v b ON b.id = c.id_b
)
SELECT id_a, id_b, cosine_sim FROM scored
ORDER BY cosine_sim DESC, id_a, id_b
LIMIT 20
"""


@query("dedup_embedding_cosine", oracle=_EMB_COSINE_SQL)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate candidates via sign-LSH
    blocking + exact verification, hash-attested: the operator
    blocks on axis-aligned sign bits (8 tables × 6 dims — valid
    sign-LSH for centered embeddings, and plain CASE algebra DuckDB
    replays exactly; the oracle's dot products are written in the
    same left-associated element order as the Spark fold, so the
    doubles match bit-for-bit). Planted-pair recovery is
    property-tested in tests/test_similarity.py.

    The fixture corpus has no true semantic dups (max pairwise cosine
    ≈0.5), so rather than a high threshold that returns an empty
    frame, this emits the 20 most-similar blocked pairs — exercising
    the same block→verify→rank machinery with checkable output."""
    emb = load(spark, sf_dir, "embeddings")
    return (
        S.cosine_near_dup_pairs(emb, threshold=-1.0)
        .orderBy(F.col("cosine_sim").desc(), "id_a", "id_b")
        .limit(20)
    )


@query(
    "embedding_stats",
    oracle="""
SELECT label,
       COUNT(*) AS n_vectors,
       ROUND(AVG(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                       CAST(embedding AS DOUBLE[])))), 4)
         AS avg_l2_norm,
       ROUND(AVG(embedding[1]), 6) AS avg_first_dim,
       CAST(MIN(len(embedding)) AS INT) AS min_dim,
       CAST(MAX(len(embedding)) AS INT) AS max_dim
FROM embeddings
GROUP BY label
ORDER BY label
""",
)
def embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster vector statistics: norms, first-dim mean, dim
    bounds — the data-quality profile pass before any ANN build."""
    emb = load(spark, sf_dir, "embeddings")
    v = S.as_double_array("embedding")
    return (
        emb.select(
            "label",
            S.l2_norm(v).alias("nrm"),
            F.element_at("embedding", 1).cast("double").alias("d1"),
            F.size("embedding").alias("dim"),
        )
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.round(F.avg("nrm"), 4).alias("avg_l2_norm"),
            F.round(F.avg("d1"), 6).alias("avg_first_dim"),
            F.min("dim").cast("int").alias("min_dim"),
            F.max("dim").cast("int").alias("max_dim"),
        )
        .orderBy("label")
    )


@query(
    "similarity_centroid_per_label",
    oracle="""
WITH norms AS (
  SELECT label, vec_id,
         list_dot_product(CAST(embedding AS DOUBLE[]),
                          CAST(embedding AS DOUBLE[])) AS sq
  FROM embeddings
)
SELECT label,
       CAST(MIN(CASE WHEN sq = msq THEN vec_id END) AS BIGINT) AS medoid_vec_id,
       ROUND(sqrt(msq), 6) AS max_l2_norm
FROM (SELECT *, MAX(sq) OVER (PARTITION BY label) AS msq FROM norms)
GROUP BY label, msq
ORDER BY label
""",
)
def similarity_centroid_per_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label extremal vector (max L2 norm, min vec_id tiebreak) —
    exercises argmax-over-group on vector-derived scalars, the
    building block for IVF coarse-quantizer seeding."""
    emb = load(spark, sf_dir, "embeddings")
    sq = S.dot(S.as_double_array("embedding"), S.as_double_array("embedding"))
    from pyspark.sql import Window

    w = Window.partitionBy("label")
    d = emb.select("label", "vec_id", sq.alias("sq")).withColumn(
        "msq", F.max("sq").over(w)
    )
    return (
        d.groupBy("label", "msq")
        .agg(
            F.min(F.when(F.col("sq") == F.col("msq"), F.col("vec_id")))
            .cast("bigint")
            .alias("medoid_vec_id"),
            F.round(F.sqrt(F.col("msq")), 6).alias("max_l2_norm"),
        )
        .select("label", "medoid_vec_id", "max_l2_norm")
        .orderBy("label")
    )


_KM_K, _KM_ITERS, _KM_DIM = 8, 4, 64


def _km_dist(e: str, c: str) -> str:
    """DuckDB fixed-point squared distance between row alias `e`'s
    vector `v` and centroid alias `c`'s `cv`: the sum over dims of
    FLOOR(term·1e12) as BIGINT, the attested k-means distance."""
    return (
        f"(SELECT SUM(CAST(FLOOR(({e}.v[i]-{c}.cv[i])*({e}.v[i]-{c}.cv[i])"
        f" * 1000000000000.0) AS BIGINT))"
        f" FROM UNNEST(generate_series(1,{_KM_DIM})) t(i))"
    )


def _lloyd_sql() -> str:
    """DuckDB CTE unroll of the attested Lloyd fixpoint (k=8, 4 iters,
    lowest-id init): every round is assignment (fixed-point
    FLOOR(term·1e12) BIGINT distances, row_number tie-break) +
    fixed-point centroid update, exactly the arithmetic
    operators/similarity.py:kmeans_attested runs. Ends with `fb`: each
    vector's distance d to every final centroid, rn = 1 on its own."""
    parts = [f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
c0 AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INT) AS cent_id,
         v AS cv
  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        FROM embeddings ORDER BY vec_id LIMIT {_KM_K})
)"""]
    for r in range(1, _KM_ITERS + 1):
        parts.append(f""",
a{r} AS (
  SELECT e.vec_id, e.v, c.cent_id, {_km_dist('e', 'c')} AS d
  FROM e CROSS JOIN c{r - 1} c
), b{r} AS (
  SELECT vec_id, v, cent_id, d,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cent_id) AS rn
  FROM a{r}
), m{r} AS (
  SELECT cent_id, i AS pos,
         CAST(SUM(CAST(FLOOR(v[i] * 100000000.0) AS BIGINT)) AS DOUBLE)
           / (100000000.0 * COUNT(*)) AS m
  FROM b{r}, UNNEST(generate_series(1,{_KM_DIM})) t(i)
  WHERE rn = 1 GROUP BY cent_id, i
), c{r} AS (
  SELECT p.cent_id, COALESCE(n.cv, p.cv) AS cv
  FROM c{r - 1} p LEFT JOIN (
    SELECT cent_id, list(m ORDER BY pos) AS cv FROM m{r} GROUP BY cent_id
  ) n USING (cent_id)
)""")
    parts.append(f""",
fa AS (
  SELECT e.vec_id, c.cent_id, {_km_dist('e', 'c')} AS d
  FROM e CROSS JOIN c{_KM_ITERS} c
), fb AS (
  SELECT vec_id, cent_id, d,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cent_id) AS rn
  FROM fa
)""")
    return "".join(parts)


def _kmeans_oracle() -> str:
    """The Lloyd unroll's cluster sizes AND distance means, replayed
    bit-for-bit."""
    return _lloyd_sql() + """
SELECT cent_id AS cluster_id, CAST(COUNT(*) AS BIGINT) AS n_members,
       ROUND(CAST(SUM(d) AS DOUBLE) / (1000000000000.0 * COUNT(*)), 4)
         AS mean_sq_dist
FROM fb WHERE rn = 1 GROUP BY cent_id ORDER BY cent_id"""


@query("similarity_kmeans_clusters", oracle=_kmeans_oracle)
def similarity_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means clustering of the embedding corpus (k=8, 4 Lloyd
    iterations, deterministic lowest-id init): cluster sizes and mean
    squared distance to the final centroid. HASH-ATTESTED: the
    attested Lloyd variant (operators/similarity.py:kmeans_attested)
    quantizes every distance term by FLOOR(term·1e12) into exact
    BIGINT sums and runs fixed-point centroid updates, making all
    four rounds bit-deterministic — the oracle unrolls the identical
    fixpoint as CTEs (the graph_kcore_peel pattern). Its invariants
    and planted-cluster recovery are property-tested in
    tests/test_similarity.py.

    Scale: per round ONE corpus scan (centroids re-embedded as
    literals — zero joins) + a (k·dim)-row mean shuffle; centroid
    state is k·dim doubles on the driver, the model-state
    exception."""
    emb = load(spark, sf_dir, "embeddings")
    # session-cached: dedup_semantic_clusters consumes the identical
    # attested assignment — the fixpoint runs once per session
    from ibd_pipeline_spark.operators.dedup import _session_cached_state

    assigned = _session_cached_state(
        emb,
        ("kmeans_attested", _KM_K, _KM_ITERS),
        lambda: S.kmeans_attested(
            emb, k=_KM_K, iters=_KM_ITERS, id_col="vec_id", vec="embedding"
        ),
    )
    return (
        assigned.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_members"),
            F.round(
                F.sum("dist_fp").cast("double")
                / (F.lit(1e12) * F.count(F.lit(1))),
                4,
            ).alias("mean_sq_dist"),
        )
        .orderBy("cluster_id")
    )


@query(
    "similarity_centroid_dims",
    oracle="""
WITH e AS (
  SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), dims AS (
  SELECT label, i AS pos, v[i] AS x
  FROM e, UNNEST(generate_series(1, len(v))) t(i)
)
SELECT label, CAST(pos AS INT) AS pos,
       CAST(ROUND(SUM(CAST(x AS DECIMAL(28,8))), 6) AS DOUBLE) / COUNT(*)
         AS mean_val
FROM dims
GROUP BY label, pos
ORDER BY label, pos
""",
)
def similarity_centroid_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid as (label, pos, mean) rows — the dim-wise
    aggregation primitive under k-means' update step (operators.
    similarity.kmeans_attested) exposed as a standalone
    oracle-checked query.
    Emitting rows instead of re-assembled arrays keeps the oracle
    exact AND mirrors how the mean is actually computed: posexplode →
    hash aggregate on (label, pos), map-side combined, exact decimal
    sums.

    Scale: shuffle = labels × dims rows of partial sums — independent
    of vector count; the classic mergeable-state shape."""
    e = load(spark, sf_dir, "embeddings")
    dims = e.select(
        "label", F.posexplode(S.as_double_array("embedding")).alias("pos0", "x")
    ).select("label", (F.col("pos0") + 1).alias("pos"), "x")
    return (
        dims.groupBy("label", "pos")
        .agg(
            (
                F.round(F.sum(F.col("x").cast("decimal(28,8)")), 6).cast(
                    "double"
                )
                / F.count(F.lit(1))
            ).alias("mean_val")
        )
        .select("label", F.col("pos").cast("int"), "mean_val")
        .orderBy("label", "pos")
    )


# ---------------------------------------------------------------------------
# Leave-one-out kNN label-recovery evaluation (r13)
# ---------------------------------------------------------------------------


@query(
    "similarity_knn_label_eval",
    oracle="""
WITH q AS (
  SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv, label AS yt
  FROM embeddings WHERE vec_id % 10 = 0
), c AS (
  SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv, label AS yn
  FROM embeddings
), scored AS (
  SELECT q.qid, q.yt, c.cid, c.yn,
         ROUND(list_dot_product(q.qv, c.cv)
               / (sqrt(list_dot_product(q.qv, q.qv))
                  * sqrt(list_dot_product(c.cv, c.cv))), 6) AS cs
  FROM q JOIN c ON q.qid <> c.cid
), ranked AS (
  SELECT qid, yt, yn,
         ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY cs DESC, cid) AS rank
  FROM scored
), votes AS (
  SELECT qid, yt, yn, CAST(COUNT(*) AS BIGINT) AS cnt
  FROM ranked WHERE rank <= 5 GROUP BY qid, yt, yn
), pred AS (
  SELECT qid, yt, yn AS yp FROM (
    SELECT qid, yt, yn,
           ROW_NUMBER() OVER (PARTITION BY qid
                              ORDER BY cnt DESC, yn) AS rk
    FROM votes) WHERE rk = 1
)
SELECT yt AS true_label,
       CAST(COUNT(*) AS BIGINT) AS n_queries,
       CAST(SUM(CASE WHEN yp = yt THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
       ROUND(SUM(CASE WHEN yp = yt THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6)
         AS accuracy
FROM pred GROUP BY yt ORDER BY yt
""",
)
def similarity_knn_label_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out 5-NN label recovery over the embedding corpus
    (every 10th vector as a query): majority vote among the 5 exact
    cosine neighbors' labels, ties to the smallest label — the
    EMBEDDING-QUALITY probe (if nearest neighbors don't share labels,
    no ANN index will fix retrieval) and the evaluation sibling of
    similarity_ndcg_eval, measured per class so one dominant label
    can't hide a dead one.

    Exactness: rides brute_force_topk's determinism contract (rounded
    cosine, corpus-id tiebreak); the vote is integer counts with a
    total-order tiebreak (cnt DESC, label ASC via one struct-max, the
    LPA idiom); accuracies are single divisions of integers.

    Scale: O(|Q|·|C|) exact scoring with the query side broadcast —
    the offline eval shape (run it on a sample, exactly like this
    10% systematic sample); the production retrieval path stays
    LSH/IVF."""
    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % 10 == 0)
    top = S.brute_force_topk(
        q.select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("vec"),
        ),
        emb.select(
            F.col("vec_id").alias("corpus_id"),
            F.col("embedding").alias("vec"),
        ),
        k=5,
    )
    lab = emb.select("vec_id", "label")
    votes = (
        top.join(
            F.broadcast(
                lab.select(
                    F.col("vec_id").alias("corpus_id"),
                    F.col("label").alias("yn"),
                )
            ),
            "corpus_id",
        )
        .groupBy("query_id", "yn")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    pred = (
        votes.groupBy("query_id")
        .agg(
            F.max(
                F.struct(F.col("cnt"), (-F.col("yn")).alias("ny"))
            ).alias("m")
        )
        .select("query_id", (-F.col("m.ny")).cast("int").alias("yp"))
    )
    truth = lab.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("yt")
    )
    j = pred.join(F.broadcast(truth), "query_id")
    return (
        j.groupBy(F.col("yt").alias("true_label"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_queries"),
            F.sum(F.when(F.col("yp") == F.col("yt"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_correct"),
            F.round(
                F.sum(
                    F.when(F.col("yp") == F.col("yt"), 1).otherwise(0)
                )
                / F.count(F.lit(1)),
                6,
            ).alias("accuracy"),
        )
        .orderBy("true_label")
    )


# ---------------------------------------------------------------------------
# (moved from round10_similarity.py in the r14 chronological->topic split;
# registry names, semantics, and oracles unchanged)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# Product-quantization codes (memory-bounded vector layout)
# ---------------------------------------------------------------------------

_PQ_SUBS, _PQ_SUBDIM, _PQ_CENTS = 8, 8, 16


def _pq_l2_sql(s: int, lhs: str = "a.v", rhs: str = "c.cv") -> str:
    """Left-associated squared-L2 over subspace s — the same addition
    order as the Spark zip_with/aggregate fold."""
    return " + ".join(
        f"({lhs}[{s * _PQ_SUBDIM + j}] - {rhs}[{s * _PQ_SUBDIM + j}])"
        f" * ({lhs}[{s * _PQ_SUBDIM + j}] - {rhs}[{s * _PQ_SUBDIM + j}])"
        for j in range(1, _PQ_SUBDIM + 1)
    )


def _pq_oracle() -> str:
    dists = "\nUNION ALL\n".join(
        f"SELECT a.id, {s} AS s, c.cent_id, {_pq_l2_sql(s)} AS d "
        f"FROM v a CROSS JOIN cents c"
        for s in range(_PQ_SUBS)
    )
    codes = ",\n       ".join(
        f"CAST(MAX(CASE WHEN s = {s} THEN code END) AS INT) AS c{s}"
        for s in range(_PQ_SUBS)
    )
    err = " + ".join(
        f"MAX(CASE WHEN s = {s} THEN d END)" for s in range(_PQ_SUBS)
    )
    return f"""
WITH v AS (
  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), cents AS (
  SELECT id AS cent_id, v AS cv FROM v ORDER BY id LIMIT {_PQ_CENTS}
), dists AS (
{dists}
), best AS (
  SELECT id, s, cent_id AS code, d
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY id, s
                                     ORDER BY d, cent_id) AS rn
        FROM dists)
  WHERE rn = 1
)
SELECT id AS vec_id,
       {codes},
       ROUND({err}, 6) AS quant_err
FROM best GROUP BY id ORDER BY vec_id
"""


@query("similarity_pq_codes", oracle=_pq_oracle)
def similarity_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization — the memory-bounded vector layout behind
    billion-scale ANN (Jégou et al., PAMI'11): split the 64-dim
    embedding into 8 subspaces of 8 dims; quantize each subvector to
    its nearest of 16 per-subspace centroids; a vector compresses to
    8 one-byte codes (64× smaller than float32) and distances become
    table lookups. Every mechanism is deterministic — centroids are
    the 16 lowest vec_ids' subvectors (the similarity_ann_ivf
    precedent), assignment is min squared-L2 with ties to the LOWEST
    centroid id, and every distance is the same left-associated
    double fold both engines evaluate identically — so DuckDB
    replays codes AND total quantization error bit-for-bit. The
    error column sums the 8 per-subspace minima as a FIXED-ORDER
    expression over the pivoted aggregates (an agg-sum of doubles
    would be partial-order-dependent cross-engine).

    Scale: centroid table is 16 rows broadcast; assignment is one
    corpus scan × (8 subspaces × 16 centroids) of codegen column
    algebra — no shuffle until the 8-row-per-vector min aggregate,
    which map-side combines. The PQ-coded table is what you persist;
    IVF cells + PQ codes compose into the standard IVF-PQ layout."""
    from ibd_pipeline_spark.operators.similarity import as_double_array

    emb = load(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("id"), as_double_array("embedding").alias("v")
    )
    cents = (
        emb.orderBy("id")
        .limit(_PQ_CENTS)
        .select(F.col("id").alias("cent_id"), F.col("v").alias("cv"))
    )
    subs = spark.range(_PQ_SUBS).select(F.col("id").cast("int").alias("s"))
    cent_sub = cents.crossJoin(subs).select(
        "cent_id",
        "s",
        F.slice("cv", (F.col("s") * _PQ_SUBDIM + 1).cast("int"),
                F.lit(_PQ_SUBDIM)).alias("cslice"),
    )
    corp_sub = emb.crossJoin(subs).select(
        "id",
        "s",
        F.slice("v", (F.col("s") * _PQ_SUBDIM + 1).cast("int"),
                F.lit(_PQ_SUBDIM)).alias("vslice"),
    )
    dist = F.aggregate(
        F.zip_with("vslice", "cslice", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    best = (
        corp_sub.join(F.broadcast(cent_sub), "s")
        .select("id", "s", "cent_id", dist.alias("d"))
        .groupBy("id", "s")
        .agg(F.min(F.struct(F.col("d"), F.col("cent_id"))).alias("m"))
        .select("id", "s", F.col("m.cent_id").alias("code"),
                F.col("m.d").alias("d"))
    )
    code_cols = [
        F.max(F.when(F.col("s") == s, F.col("code")))
        .cast("int")
        .alias(f"c{s}")
        for s in range(_PQ_SUBS)
    ]
    dmax = [
        F.max(F.when(F.col("s") == s, F.col("d"))) for s in range(_PQ_SUBS)
    ]
    err = dmax[0]
    for t in dmax[1:]:
        err = err + t
    return (
        best.groupBy("id")
        .agg(*code_cols, F.round(err, 6).alias("quant_err"))
        .select(F.col("id").alias("vec_id"),
                *[f"c{s}" for s in range(_PQ_SUBS)], "quant_err")
        .orderBy("vec_id")
    )


# ---------------------------------------------------------------------------
# IVF-PQ composed ANN top-k (coarse cells + quantized-distance rerank)
# ---------------------------------------------------------------------------


def _ivfpq_oracle() -> str:
    pq_dists = "\nUNION ALL\n".join(
        f"SELECT a.id, {s} AS s, c.cent_id, {_pq_l2_sql(s)} AS d "
        f"FROM v a CROSS JOIN cents c"
        for s in range(_PQ_SUBS)
    )
    lut = "\nUNION ALL\n".join(
        f"SELECT q.id AS qid, {s} AS s, c.cent_id, "
        f"CAST(ROUND({_pq_l2_sql(s, 'q.v')}, 9) AS DECIMAL(28,9)) AS d "
        f"FROM v q CROSS JOIN cents c WHERE q.id < 10"
        for s in range(_PQ_SUBS)
    )
    return _IVF_ASSIGN_SQL + f""", pqd AS (
{pq_dists}
), codes AS (
  SELECT id, s, cent_id AS code
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY id, s
                                     ORDER BY d, cent_id) AS rn
        FROM pqd)
  WHERE rn = 1
), lut AS (
{lut}
), cand AS (
  SELECT DISTINCT p.qid, a.cid
  FROM probe p JOIN asgn a ON p.cell_id = a.cell_id AND p.qid <> a.cid
), adc AS (
  SELECT c.qid, c.cid, SUM(l.d) AS adc
  FROM cand c
  JOIN codes k ON k.id = c.cid
  JOIN lut l ON l.qid = c.qid AND l.s = k.s AND l.cent_id = k.code
  GROUP BY c.qid, c.cid
), short AS (
  SELECT qid, cid
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
                                     ORDER BY adc, cid) AS rn FROM adc)
  WHERE rn <= 20
), rer AS (
  SELECT s.qid AS query_id, s.cid AS corpus_id,
         ROUND({_cos_sql("q.v", "b.v")}, 6) AS cosine_sim
  FROM short s JOIN v q ON q.id = s.qid JOIN v b ON b.id = s.cid
), ranked AS (
  SELECT query_id, corpus_id, cosine_sim,
         ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY cosine_sim DESC, corpus_id) AS rank
  FROM rer
)
SELECT query_id, corpus_id, cosine_sim, CAST(rank AS INT) AS rank
FROM ranked WHERE rank <= 5
ORDER BY query_id, rank
"""


@query("similarity_ivfpq_topk", oracle=_ivfpq_oracle)
def similarity_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composed ANN top-5 — the standard billion-scale vector
    index layout, assembled from this repo's two attested halves:
    IVF coarse cells (operators/similarity.py:ivf_cells/ivf_probe —
    each query scores only its 4 probed Voronoi cells) and PQ codes
    (8 subspaces × 16 centroids), with the in-cell scan ranked by the
    ASYMMETRIC quantized distance: adc(q, x) = Σ_s ‖q_s −
    centroid(code_s(x))‖² looked up from a per-query 8×16 LUT — the
    PQ table-lookup trick that never touches the full corpus vector.
    The ADC shortlist (top-20 per query, ties to lowest id) is then
    EXACT-reranked by cosine to the final top-5 — the
    recall-restoring rerank every production IVF-PQ deploy runs.
    Every stage is deterministic and the per-subspace LUT distances
    ROUND→DECIMAL before the 8-term sum (agg order independence), so
    DuckDB replays shortlist AND rerank bit-for-bit.

    Scale: corpus-side work is the IVF assignment + PQ encoding (one
    scan each, both broadcast joins — this is the INDEX BUILD you
    persist); per query the scan cost is |cell|·n_probe LUT lookups
    of 8 decimal adds, plus 20 exact vectors — independent of corpus
    size. The LUT frame is queries × 128 rows, broadcast."""
    from ibd_pipeline_spark.operators.similarity import (
        as_double_array,
        cosine,
        ivf_cells,
        ivf_probe,
    )
    from pyspark.sql import Window

    emb = load(spark, sf_dir, "embeddings")
    q_raw = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("vec")
    )
    c_raw = emb.select(
        F.col("vec_id").alias("corpus_id"), F.col("embedding").alias("vec")
    )
    cents, cells = ivf_cells(c_raw, _IVF_CELLS)
    # the cell assignment is the PERSISTED INDEX: two consumers below
    # (PQ encoder + candidate join) must not re-run the 16-centroid
    # assignment scan each
    cells = cells.localCheckpoint(eager=True)
    probe = ivf_probe(q_raw, cents, 4)

    subs = spark.range(_PQ_SUBS).select(F.col("id").cast("int").alias("s"))
    cent_sub = cents.crossJoin(subs).select(
        "cent_id",
        "s",
        F.slice("cent_v", (F.col("s") * _PQ_SUBDIM + 1).cast("int"),
                F.lit(_PQ_SUBDIM)).alias("cslice"),
    )
    l2 = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    # PQ-encode the corpus (the persisted index): min-L2 code per
    # (vector, subspace), ties to the lowest centroid id
    codes = (
        cells.crossJoin(F.broadcast(subs))
        .select(
            "cid",
            "s",
            F.slice("cv", (F.col("s") * _PQ_SUBDIM + 1).cast("int"),
                    F.lit(_PQ_SUBDIM)).alias("vslice"),
        )
        .join(F.broadcast(cent_sub), "s")
        .select("cid", "s", "cent_id", l2(F.col("vslice"), F.col("cslice")).alias("d"))
        .groupBy("cid", "s")
        .agg(F.min(F.struct(F.col("d"), F.col("cent_id"))).alias("m"))
        .select("cid", "s", F.col("m.cent_id").alias("code"))
    )
    # per-query distance LUT: 8 subspaces × 16 centroids, decimal
    lut = (
        probe.select("qid", "qv")
        .distinct()
        .crossJoin(F.broadcast(subs))
        .select(
            "qid",
            "s",
            F.slice("qv", (F.col("s") * _PQ_SUBDIM + 1).cast("int"),
                    F.lit(_PQ_SUBDIM)).alias("qslice"),
        )
        .join(F.broadcast(cent_sub), "s")
        .select(
            "qid",
            "s",
            "cent_id",
            F.round(l2(F.col("qslice"), F.col("cslice")), 9)
            .cast("decimal(28,9)")
            .alias("d"),
        )
    )
    cand = (
        probe.select("qid", "cell_id")
        .join(cells.select("cid", "cell_id"), "cell_id")
        .filter(F.col("qid") != F.col("cid"))
        .select("qid", "cid")
        .distinct()
    )
    k = codes.select(
        F.col("cid").alias("kcid"), F.col("s").alias("ks"), "code"
    )
    lu = lut.select(
        F.col("qid").alias("lqid"),
        F.col("s").alias("ls"),
        F.col("cent_id").alias("lcent"),
        "d",
    )
    adc = (
        cand.join(k, F.col("cid") == F.col("kcid"))
        .join(
            F.broadcast(lu),
            (F.col("qid") == F.col("lqid"))
            & (F.col("ks") == F.col("ls"))
            & (F.col("code") == F.col("lcent")),
        )
        .groupBy("qid", "cid")
        .agg(F.sum("d").alias("adc"))
    )
    w20 = Window.partitionBy("qid").orderBy(F.col("adc").asc(), F.col("cid"))
    short = (
        adc.withColumn("rn", F.row_number().over(w20))
        .filter(F.col("rn") <= 20)
        .select("qid", "cid")
    )
    qv = emb.select(F.col("vec_id").alias("qid"), as_double_array("embedding").alias("qv"))
    bv = emb.select(F.col("vec_id").alias("cid"), as_double_array("embedding").alias("bv"))
    rer = (
        short.join(F.broadcast(qv.filter(F.col("qid") < 10)), "qid")
        .join(bv, "cid")
        .select(
            F.col("qid").alias("query_id"),
            F.col("cid").alias("corpus_id"),
            F.round(cosine(F.col("qv"), F.col("bv")), 6).alias("cosine_sim"),
        )
    )
    w5 = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("corpus_id")
    )
    return (
        rer.withColumn("rank", F.row_number().over(w5).cast("int"))
        .filter(F.col("rank") <= 5)
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------------
# (moved from round6.py in the r14 chronological->topic split;
# registry names, semantics, and oracles unchanged)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# Int8 embedding quantization audit
# ---------------------------------------------------------------------------

_QUANT_SQL = """
WITH v AS (
  SELECT label,
         list_aggregate(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))),
                        'max') AS amax,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings
), q AS (
  SELECT label,
         list_transform(emb, x -> FLOOR(x * 127.0 / amax + 0.5)) AS qs
  FROM v WHERE amax > 0
)
SELECT label,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(SUM(list_aggregate(qs, 'sum')) AS BIGINT) AS sum_q,
       CAST(SUM(len(list_filter(qs, x -> abs(x) = 127))) AS BIGINT)
         AS n_saturated
FROM q
GROUP BY label
ORDER BY label
"""


@query("similarity_quantize_int8", oracle=_QUANT_SQL)
def similarity_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization (q = round(x·127/max|x|),
    the faiss/sentence-transformers storage trick that cuts an
    embedding store 4×), audited per label: vector count, the exact
    sum of all quantized components, and how many components
    saturate at ±127.

    Rounding is FLOOR(x + 0.5), not round(): both engines floor the
    identical IEEE double, where Spark's round() would go through
    the shortest-string repr and diverge from DuckDB on half-points
    (the r05 davg lesson). Outputs are BIGINTs — exact oracle.

    Scale: pure per-row projection (higher-order transform, no
    shuffle until the label aggregate); the real store would write
    the int8 array + per-vector scale as columns — same plan minus
    the audit aggregate."""
    emb = load(spark, sf_dir, "embeddings").select(
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("emb"),
    )
    amax = F.array_max(F.transform("emb", lambda x: F.abs(x)))
    q = (
        emb.select("label", "emb", amax.alias("amax"))
        .filter(F.col("amax") > 0)
        .select(
            "label",
            F.transform(
                "emb",
                lambda x: F.floor(x * F.lit(127.0) / F.col("amax") + F.lit(0.5)),
            ).alias("qs"),
        )
    )
    return (
        q.groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            F.sum(F.aggregate("qs", F.lit(0).cast("long"), lambda a, x: a + x))
            .cast("bigint")
            .alias("sum_q"),
            F.sum(F.size(F.filter("qs", lambda x: F.abs(x) == 127)))
            .cast("bigint")
            .alias("n_saturated"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# kNN label confusion (embedding-space label coherence)
# ---------------------------------------------------------------------------

_KNN_CONFUSION_SQL = """
WITH v AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings WHERE vec_id < 200
), n AS (
  SELECT vec_id, label,
         sqrt(list_aggregate(list_transform(emb, x -> x * x), 'sum')) AS nrm,
         emb
  FROM v
), p AS (
  SELECT a.vec_id AS qid, a.label AS label_q, b.label AS label_n,
         ROW_NUMBER() OVER (
           PARTITION BY a.vec_id
           ORDER BY list_aggregate(
                      list_transform(range(1, len(a.emb) + 1),
                                     i -> a.emb[i] * b.emb[i]), 'sum')
                    / (a.nrm * b.nrm) DESC,
                    b.vec_id
         ) AS rk
  FROM n a JOIN n b ON a.vec_id <> b.vec_id
)
SELECT label_q, label_n, CAST(COUNT(*) AS BIGINT) AS n
FROM p WHERE rk = 1
GROUP BY label_q, label_n
ORDER BY label_q, label_n
"""


@query("similarity_knn_label_confusion", oracle=_KNN_CONFUSION_SQL)
def similarity_knn_label_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space label coherence: each vector's single nearest
    neighbor by cosine (excluding itself), aggregated into a label
    confusion matrix — the eval that tells you whether embedding
    clusters track labels before trusting embedding-based dedup or
    search. Deterministic: neighbor ties break on vec_id, and the
    dot product is the SAME sequential index-order fold in both
    engines (F.aggregate ↔ list_aggregate) so the doubles compare
    identically.

    Scale: the all-pairs form lives only inside the oracle-bounded
    200-vector slice; the corpus-scale path is the ANN variants
    (similarity_ann_lsh / similarity_ann_ivf) feeding the same
    confusion aggregate."""
    from pyspark.sql import Window

    v = _embedding_slice(spark, sf_dir, 200)
    a, b = v.alias("a"), v.alias("b")
    dot = F.aggregate(
        F.zip_with("a.emb", "b.emb", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cos = dot / (F.col("a.nrm") * F.col("b.nrm"))
    pairs = a.join(b, F.col("a.vec_id") != F.col("b.vec_id")).select(
        F.col("a.vec_id").alias("qid"),
        F.col("a.label").alias("label_q"),
        F.col("b.label").alias("label_n"),
        cos.alias("cos"),
        F.col("b.vec_id").alias("nid"),
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos").desc(), "nid")
    return (
        pairs.select("label_q", "label_n", F.row_number().over(w).alias("rk"))
        .filter(F.col("rk") == 1)
        .groupBy("label_q", "label_n")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy("label_q", "label_n")
    )


# ---------------------------------------------------------------------------
# (moved from round11b.py in the r14 chronological->topic split;
# registry names, semantics, and oracles unchanged)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# ANN quality evaluation: NDCG@10 + recall@10 of the JL-projected
# ranking against the exact-cosine ground truth
# ---------------------------------------------------------------------------

_NDCG_Q, _NDCG_TOPK = 10, 10


def _ndcg_oracle() -> str:
    d64 = " + ".join(
        f"q.v[{i}] * c.v[{i}]" for i in range(1, 65)
    )
    qn = " + ".join(f"q.v[{i}] * q.v[{i}]" for i in range(1, 65))
    cn = " + ".join(f"c.v[{i}] * c.v[{i}]" for i in range(1, 65))
    projs = ", ".join(
        f"{p} AS p{j}" for j, p in enumerate(_jl_proj_sql("v", True))
    )
    d16 = " + ".join(f"q.p{j} * c.p{j}" for j in range(16))
    qn16 = " + ".join(f"q.p{j} * q.p{j}" for j in range(16))
    cn16 = " + ".join(f"c.p{j} * c.p{j}" for j in range(16))
    return f"""
WITH v AS (
  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), p AS (
  SELECT id, v, {projs} FROM v
), s AS (
  SELECT q.id AS qid, c.id AS cid,
         ({d64}) / (sqrt({qn}) * sqrt({cn})) AS cos64,
         ({d16}) / (sqrt({qn16}) * sqrt({cn16})) AS cos16
  FROM p q JOIN p c ON c.id <> q.id
  WHERE q.id < {_NDCG_Q}
), r AS (
  SELECT qid, cid, cos64, cos16,
         ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY cos64 DESC, cid) AS re,
         ROW_NUMBER() OVER (PARTITION BY qid
                            ORDER BY cos16 DESC, cid) AS ra
  FROM s
), agg AS (
  SELECT qid,
         SUM(CASE WHEN ra <= {_NDCG_TOPK} THEN
           CAST(FLOOR(GREATEST(cos64, 0.0) / (ln(ra + 1) / ln(2.0)) * 1e9)
                AS BIGINT) ELSE 0 END) AS dcg_fp,
         SUM(CASE WHEN re <= {_NDCG_TOPK} THEN
           CAST(FLOOR(GREATEST(cos64, 0.0) / (ln(re + 1) / ln(2.0)) * 1e9)
                AS BIGINT) ELSE 0 END) AS idcg_fp,
         CAST(SUM(CASE WHEN ra <= {_NDCG_TOPK} AND re <= {_NDCG_TOPK}
                  THEN 1 ELSE 0 END) AS BIGINT) AS hits
  FROM r GROUP BY qid
)
SELECT qid AS query_id,
       ROUND(CAST(dcg_fp AS DOUBLE) / 1e9, 6) AS dcg10,
       ROUND(CAST(idcg_fp AS DOUBLE) / 1e9, 6) AS idcg10,
       ROUND(CAST(dcg_fp AS DOUBLE) / idcg_fp, 6) AS ndcg10,
       hits,
       ROUND(CAST(hits AS DOUBLE) / {_NDCG_TOPK}, 4) AS recall10
FROM agg ORDER BY query_id
"""


@query("similarity_ndcg_eval", oracle=_ndcg_oracle)
def similarity_ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-quality evaluation of an approximate retrieval path:
    NDCG@10 and recall@10 of the JL-projected 16-dim cosine ranking
    (similarity_jl_projection's sign matrix) against the exact
    64-dim cosine ground truth, per query — the metric pair every
    ANN deployment reports. Graded relevance = clamped exact cosine
    (monotone in the exact score, so the ideal ranking IS the exact
    ranking); discount = log2(rank+1).

    Exactness: both scores are fixed-order double chains (the JL
    matrix is embedded as literals in both engines); DCG terms
    quantize at 1e-9 and sum as exact integers, so the per-query
    aggregation never depends on float order.

    Scale: queries broadcast against the corpus scan (the eval runs
    on a query SAMPLE by design — cost is q·n, not n²); per-query
    ranks via qid-partitioned windows. At 100 TB the corpus side
    would come pre-filtered by the candidate generator under test.
    """
    emb = load(spark, sf_dir, "embeddings")
    projs = _jl_proj_sql("v", False)
    # materialize the projected corpus ONCE: the 16 JL projections are
    # 1024-node literal sums, and without a barrier Catalyst re-analyzes
    # (and codegen re-compiles) that tree on BOTH sides of the q×c join
    # — measured, the wall here was plan compilation, not arithmetic
    from ibd_pipeline_spark.operators.ckpt import literal_barrier

    # r16 (guide §1.2 driver overhead): every wide projection/chain in
    # this query is now ONE selectExpr of SQL strings — the per-Column
    # py4j form cost 12,134 gateway round-trips ≈ 2.3 s of driver
    # chatter per construction (r16 cProfile). Parsed trees are
    # node-identical (element_at, left-assoc `+` chains), so every
    # double is bit-unchanged.
    p = literal_barrier(
        emb.selectExpr(
            "vec_id AS id",
            "transform(embedding, x -> CAST(x AS DOUBLE)) AS v",
        ).selectExpr(
            "id", "v", *[f"{pp} AS p{j}" for j, pp in enumerate(projs)]
        )
    )
    q = p.filter(F.col("id") < _NDCG_Q).selectExpr(
        "id AS qid",
        "v AS qv",
        *[f"p{j} AS qp{j}" for j in range(16)],
    )
    c = p.selectExpr(
        "id AS cid",
        "v AS cv",
        *[f"p{j} AS cp{j}" for j in range(16)],
    )

    def chain(terms):
        return " + ".join(terms)

    d64 = chain(
        [f"element_at(qv, {i}) * element_at(cv, {i})" for i in range(1, 65)]
    )
    qn = chain(
        [f"element_at(qv, {i}) * element_at(qv, {i})" for i in range(1, 65)]
    )
    cn = chain(
        [f"element_at(cv, {i}) * element_at(cv, {i})" for i in range(1, 65)]
    )
    d16 = chain([f"qp{j} * cp{j}" for j in range(16)])
    qn16 = chain([f"qp{j} * qp{j}" for j in range(16)])
    cn16 = chain([f"cp{j} * cp{j}" for j in range(16)])
    s = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("cid") != F.col("qid"))
        .selectExpr(
            "qid",
            "cid",
            f"({d64}) / (SQRT({qn}) * SQRT({cn})) AS cos64",
            f"({d16}) / (SQRT({qn16}) * SQRT({cn16})) AS cos16",
        )
    )
    from pyspark.sql import Window as W

    we = W.partitionBy("qid").orderBy(F.col("cos64").desc(), "cid")
    wa = W.partitionBy("qid").orderBy(F.col("cos16").desc(), "cid")
    r = s.withColumn("re", F.row_number().over(we)).withColumn(
        "ra", F.row_number().over(wa)
    )
    gain = F.greatest(F.col("cos64"), F.lit(0.0))
    dterm_a = F.floor(
        gain / (F.log(F.col("ra") + 1) / F.log(F.lit(2.0))) * 1e9
    ).cast("bigint")
    dterm_e = F.floor(
        gain / (F.log(F.col("re") + 1) / F.log(F.lit(2.0))) * 1e9
    ).cast("bigint")
    agg = r.groupBy("qid").agg(
        F.sum(
            F.when(F.col("ra") <= _NDCG_TOPK, dterm_a).otherwise(F.lit(0))
        ).alias("dcg_fp"),
        F.sum(
            F.when(F.col("re") <= _NDCG_TOPK, dterm_e).otherwise(F.lit(0))
        ).alias("idcg_fp"),
        F.sum(
            (
                (F.col("ra") <= _NDCG_TOPK) & (F.col("re") <= _NDCG_TOPK)
            ).cast("int")
        )
        .cast("bigint")
        .alias("hits"),
    )
    return agg.select(
        F.col("qid").alias("query_id"),
        F.round(F.col("dcg_fp").cast("double") / 1e9, 6).alias("dcg10"),
        F.round(F.col("idcg_fp").cast("double") / 1e9, 6).alias("idcg10"),
        F.round(
            F.col("dcg_fp").cast("double") / F.col("idcg_fp"), 6
        ).alias("ndcg10"),
        "hits",
        F.round(F.col("hits").cast("double") / _NDCG_TOPK, 4).alias(
            "recall10"
        ),
    ).orderBy("query_id")


# ---------------------------------------------------------------------------
# (moved from round11.py in the r14 chronological->topic split;
# registry names, semantics, and oracles unchanged)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# Maximum-inner-product top-k
# ---------------------------------------------------------------------------


_MIPS_SQL = f"""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), q AS (
  SELECT vec_id AS qid, v AS qv,
         sqrt({_seq_dot('v', 'v')}) AS qn
  FROM v WHERE vec_id < 10
), m AS (
  SELECT MAX(sqrt({_seq_dot('v', 'v')})) AS mx FROM v
), s AS (
  SELECT q.qid, c.vec_id AS cid, q.qn,
         ({_seq_dot('q.qv', 'c.v')}) AS ip
  FROM q CROSS JOIN v c WHERE c.vec_id <> q.qid
), r AS (
  SELECT qid, cid, qn, ip,
         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY ip DESC, cid) AS rn
  FROM s
)
SELECT qid AS query_id, cid AS corpus_id, CAST(rn AS INT) AS rank,
       ROUND(ip, 6) AS inner_product,
       ROUND(ip / (qn * m.mx), 6) AS mips_cosine
FROM r, m WHERE rn <= 5
ORDER BY query_id, rank
"""


@query("similarity_mips_topk", oracle=_MIPS_SQL)
def similarity_mips_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum-inner-product top-k — the scoring mode of two-tower
    retrieval and recommendation (query·item, NOT cosine: a popular
    item's larger norm should win). Exact brute force over the
    corpus for 10 query vectors, with the norm-augmentation
    reduction attested alongside: appending sqrt(M²−‖c‖²) to each
    item (M = max corpus norm) turns MIPS into cosine search — the
    standard trick that unlocks the sign-LSH/IVF bucketing this repo
    already has for cosine — and the emitted `mips_cosine` =
    ip/(‖q‖·M) is exactly the augmented-space cosine, monotone in ip
    per query, so both rankings provably agree.

    Scale: 10 broadcast queries × corpus scan, one fold per pair,
    per-query top-5 via a qid-partitioned window; the LSH-bucketed
    path for large query sets is lsh_bucketed_topk over augmented
    vectors (same reduction). Cross-engine exactness: the dot is the
    left-associated fold both engines evaluate identically; ties
    break on corpus_id."""
    from ibd_pipeline_spark.operators.similarity import (
        as_double_array,
        dot,
        l2_norm,
    )

    emb = load(spark, sf_dir, "embeddings")
    v = emb.select(
        F.col("vec_id").alias("cid"), as_double_array("embedding").alias("cv")
    )
    q = (
        emb.filter(F.col("vec_id") < 10)
        .select(
            F.col("vec_id").alias("qid"),
            as_double_array("embedding").alias("qv"),
        )
        .withColumn("qn", l2_norm(F.col("qv")))
    )
    mx = v.agg(F.max(l2_norm(F.col("cv"))).alias("mx"))
    s = (
        v.crossJoin(F.broadcast(q))
        .filter(F.col("cid") != F.col("qid"))
        .select("qid", "cid", "qn", dot(F.col("qv"), F.col("cv")).alias("ip"))
    )
    w = Window.partitionBy("qid").orderBy(F.col("ip").desc(), "cid")
    return (
        s.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .crossJoin(F.broadcast(mx))
        .select(
            F.col("qid").alias("query_id"),
            F.col("cid").alias("corpus_id"),
            F.col("rn").cast("int").alias("rank"),
            F.round("ip", 6).alias("inner_product"),
            F.round(F.col("ip") / (F.col("qn") * F.col("mx")), 6).alias(
                "mips_cosine"
            ),
        )
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------------
# Johnson–Lindenstrauss sign projection + distortion audit
# ---------------------------------------------------------------------------

_JL_M, _JL_DIM, _JL_SQRT_M = 16, 64, 4.0


def _jl_signs() -> "list[list[float]]":
    """±1 sign matrix (m × dim) from md5 — deterministic public
    randomness, generated once here and embedded as LITERALS in both
    engines (Achlioptas 2003: ±1 entries satisfy the JL lemma)."""
    import hashlib

    return [
        [
            1.0
            if int(hashlib.md5(f"jl:{j}:{i}".encode()).hexdigest()[:2], 16) % 2
            == 0
            else -1.0
            for i in range(_JL_DIM)
        ]
        for j in range(_JL_M)
    ]


def _jl_proj_sql(vec: str, one_based: bool) -> "list[str]":
    off = 1 if one_based else 0
    return [
        "(("
        + " + ".join(
            f"{s!r} * {vec}[{i + off}]" for i, s in enumerate(row)
        )
        + f") / {_JL_SQRT_M!r})"
        for row in _jl_signs()
    ]


def _jl_oracle() -> str:
    projs = ", ".join(
        f"{p} AS p{j}" for j, p in enumerate(_jl_proj_sql("v", True))
    )
    d_orig = " + ".join(
        f"(a.v[{i + 1}] - b.v[{i + 1}]) * (a.v[{i + 1}] - b.v[{i + 1}])"
        for i in range(_JL_DIM)
    )
    d_proj = " + ".join(
        f"(a.p{j} - b.p{j}) * (a.p{j} - b.p{j})" for j in range(_JL_M)
    )
    return f"""
WITH v AS (
  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE vec_id < 20
), p AS (
  SELECT id, v, {projs} FROM v
)
SELECT a.id AS id_a, b.id AS id_b,
       ROUND({d_orig}, 6) AS d_orig,
       ROUND({d_proj}, 6) AS d_proj,
       ROUND(({d_proj}) / ({d_orig}), 4) AS distortion
FROM p a JOIN p b ON a.id < b.id
ORDER BY id_a, id_b
"""


@query("similarity_jl_projection", oracle=_jl_oracle)
def similarity_jl_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson–Lindenstrauss sign projection (64 → 16 dims) with a
    per-pair distortion audit: y = Rx/√m with R ∈ {±1}^{16×64} drawn
    from md5 (Achlioptas' database-friendly JL — no Gaussians
    needed), then every pair among 20 probe vectors reports original
    vs projected squared L2 and their ratio. The cheap OBLIVIOUS
    dimensionality reduction next to PCA (data-dependent, needs a
    pass) — the front end that shrinks ANN/clustering inputs 4× with
    E[distortion] = 1 and variance 2/m per pair.

    Exactness: the sign matrix is generated ONCE in Python from md5
    and embedded as literals in both engines; projections and
    distances are identical fixed-order double chains, so the audit
    replays bit-for-bit.

    Scale: projection is a per-row map (16 dot folds); the audit's
    pair join is probe-set-sized (190 pairs), broadcast."""
    emb = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 20)
    v = emb.selectExpr(
        "vec_id AS id", "transform(embedding, x -> CAST(x AS DOUBLE)) AS v"
    )
    from ibd_pipeline_spark.operators.ckpt import literal_barrier

    # r16 (guide §1.2 driver overhead): projections/renames/chains as
    # SQL strings — the per-Column py4j form cost ~8,000 gateway
    # round-trips ≈ 1.5 s of driver chatter per construction (r16
    # cProfile); parsed trees node-identical, doubles bit-unchanged.
    projs = _jl_proj_sql("v", False)
    p = literal_barrier(  # probe-set-sized; barrier stops re-projection
        v.selectExpr(
            "id", "v", *[f"{pp} AS p{j}" for j, pp in enumerate(projs)]
        )
    )
    a = p.selectExpr(
        "id AS id_a",
        "v AS va",
        *[f"p{j} AS pa{j}" for j in range(_JL_M)],
    )
    b = p.selectExpr(
        "id AS id_b",
        "v AS vb",
        *[f"p{j} AS pb{j}" for j in range(_JL_M)],
    )
    # left-assoc without a leading 0.0 to mirror the oracle's chain
    d_orig = " + ".join(
        f"(element_at(va, {i}) - element_at(vb, {i}))"
        f" * (element_at(va, {i}) - element_at(vb, {i}))"
        for i in range(1, _JL_DIM + 1)
    )
    d_proj = " + ".join(
        f"(pa{j} - pb{j}) * (pa{j} - pb{j})" for j in range(_JL_M)
    )
    return (
        a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
        .selectExpr(
            "id_a",
            "id_b",
            f"round({d_orig}, 6) AS d_orig",
            f"round({d_proj}, 6) AS d_proj",
            f"round(({d_proj}) / ({d_orig}), 4) AS distortion",
        )
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# (moved from round8.py in the r14 chronological->topic split;
# registry names, semantics, and oracles unchanged)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# Farthest-point (k-center) diverse subset selection
# ---------------------------------------------------------------------------

_KC_K = 5
_KC_SLICE = 200


def _kcenter_oracle() -> str:
    """Greedy farthest-point traversal unrolled to k CTE stages (the
    fixpoint-unrolling idiom proven on label propagation / PageRank):
    stage r picks the vector maximizing the min cosine distance to
    the r−1 already-selected, ties to the smaller vec_id."""
    dot = (
        "list_aggregate(list_transform(range(1, len(v.emb) + 1), "
        "i -> v.emb[i] * s.emb[i]), 'sum')"
    )
    sql = f"""
WITH v0 AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS emb
  FROM embeddings WHERE vec_id < {_KC_SLICE}
), n AS (
  SELECT vec_id, label, emb,
         sqrt(list_aggregate(list_transform(emb, x -> x * x), 'sum')) AS nrm
  FROM v0
), c1 AS (
  SELECT vec_id, label, 0.0 AS d FROM n ORDER BY vec_id LIMIT 1
), sel1 AS (SELECT vec_id FROM c1)"""
    for r in range(2, _KC_K + 1):
        sql += f""", m{r} AS (
  SELECT v.vec_id, v.label,
         MIN(1 - {dot} / (v.nrm * s.nrm)) AS d
  FROM n v, n s
  WHERE s.vec_id IN (SELECT vec_id FROM sel{r - 1})
    AND v.vec_id NOT IN (SELECT vec_id FROM sel{r - 1})
  GROUP BY v.vec_id, v.label
), c{r} AS (
  SELECT vec_id, label, d FROM m{r} ORDER BY d DESC, vec_id LIMIT 1
), sel{r} AS (
  SELECT vec_id FROM sel{r - 1} UNION ALL SELECT vec_id FROM c{r}
)"""
    sel = "\nUNION ALL ".join(
        f"SELECT CAST({r} AS INTEGER) AS sel_order, vec_id, label, "
        f"ROUND(d, 6) AS dist FROM c{r}"
        for r in range(1, _KC_K + 1)
    )
    return sql + "\n" + sel + "\nORDER BY sel_order"


@query("similarity_kcenter_diverse", oracle=_kcenter_oracle)
def similarity_kcenter_diverse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diverse subset selection by greedy farthest-point traversal
    (the 2-approximate k-center heuristic, Gonzalez 1985): seed with
    the smallest vec_id, then repeatedly take the vector with the
    LARGEST min-cosine-distance to everything already selected. The
    training-data use: pick maximally diverse exemplars (for eval
    sets, annotation batches, curriculum anchors) instead of k-means
    centroids, which over-sample dense regions. Output is the
    selection order with each pick's coverage distance — the dist
    column is the evolving k-center radius, monotonically
    non-increasing from pick 2 on.

    Hash-attested end-to-end: the greedy loop is DETERMINISTIC (seed
    = min id, argmax ties to smaller vec_id, dot product the same
    sequential fold in both engines — the knn-confusion idiom), so
    the k rounds unroll to a DuckDB CTE chain exactly like the graph
    fixpoints. Spark-side per-round state is ONE collected row (the
    new center) — model-state-sized, the kmeans-init precedent.

    Scale: each round is one broadcast of ≤k centers against the
    corpus + a top-1 TakeOrdered — k passes total, never all-pairs.
    The vec_id < 200 slice bounds the attestation, not the shape; at
    100 TB the same loop runs with the candidate argmax computed per
    partition then reduced (TakeOrdered already is that)."""
    v = _embedding_slice(spark, sf_dir, _KC_SLICE).localCheckpoint(
        eager=True
    )  # k tiny rounds re-read this slice
    first = v.orderBy("vec_id").limit(1).select("vec_id", "label").collect()[0]
    ids = [first.vec_id]
    rows = [(1, first.vec_id, first.label, 0.0)]
    for r in range(2, _KC_K + 1):
        s = v.filter(F.col("vec_id").isin(ids)).select(
            F.col("emb").alias("cemb"), F.col("nrm").alias("cnrm")
        )
        rem = v.filter(~F.col("vec_id").isin(ids))
        dot = F.aggregate(
            F.zip_with("emb", "cemb", lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        mind = (
            rem.crossJoin(F.broadcast(s))
            .groupBy("vec_id", "label")
            .agg(F.min(F.lit(1.0) - dot / (F.col("nrm") * F.col("cnrm"))).alias("d"))
        )
        top = mind.orderBy(F.desc("d"), "vec_id").limit(1).collect()[0]
        ids.append(top.vec_id)
        rows.append((r, top.vec_id, top.label, top.d))
    return (
        spark.createDataFrame(
            rows, "sel_order int, vec_id bigint, label int, dist double"
        )
        .select("sel_order", "vec_id", "label", F.round("dist", 6).alias("dist"))
        .orderBy("sel_order")
    )


# ---------------------------------------------------------------------------
# (moved from round9.py in the r14 chronological->topic split;
# registry names, semantics, and oracles unchanged)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# Inverted-index sparse cosine (document-term postings join)
# ---------------------------------------------------------------------------

_INVIDX_SQL = """
WITH toks AS (
  SELECT doc_id, UNNEST(string_split(text, ' ')) AS term
  FROM documents WHERE doc_id < 300
), post AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM toks GROUP BY 1, 2
), norms AS (
  SELECT doc_id, CAST(SUM(tf * tf) AS BIGINT) AS nrm FROM post GROUP BY 1
), dots AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(SUM(a.tf * b.tf) AS BIGINT) AS dot
  FROM post a JOIN post b ON b.term = a.term AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT d.id_a, d.id_b, d.dot, na.nrm AS norm_a, nb.nrm AS norm_b,
       ROUND(CAST(d.dot AS DOUBLE)
             / SQRT(CAST(na.nrm AS DOUBLE) * CAST(nb.nrm AS DOUBLE)), 6)
         AS cosine
FROM dots d
JOIN norms na ON na.doc_id = d.id_a
JOIN norms nb ON nb.doc_id = d.id_b
WHERE 100 * d.dot * d.dot > 81 * na.nrm * nb.nrm
ORDER BY d.id_a, d.id_b
"""


@query("similarity_inverted_index_cosine", oracle=_INVIDX_SQL)
def similarity_inverted_index_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse cosine similarity through an INVERTED-INDEX join — the
    scalable alternative to dense all-pairs for bag-of-words vectors:
    explode documents into (doc, term, tf) postings, join postings ON
    TERM (only documents sharing a term ever meet), hash-aggregate the
    products into dot products, attach norms, gate at cosine ≥ 0.9.

    Everything before the output rounding is exact integer algebra —
    dot products and squared norms are BIGINT tf sums, and the 0.9
    gate is the cross-multiplied 100·dot² > 81·‖a‖²·‖b‖², so the
    result-set boundary never touches a float; the cosine value is a
    final single-division-plus-sqrt on identical doubles.

    Scale: the postings join shuffles on TERM; per-term work is
    df(term)² — production prunes the head of the df distribution
    (stopword-like terms contribute no discrimination at quadratic
    cost). This synthetic corpus draws from a ~30-word vocabulary, so
    every term is a head term and df-pruning would empty the index;
    the oracle-bounded doc_id < 300 slice stands in for that prune
    (same role as dedup_minhash_jaccard_estimate's slice) while the
    plan — postings, term join, integer dots — is the production
    shape."""
    d = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 300)
        .select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    )
    post = d.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    norms = post.groupBy("doc_id").agg(
        F.sum(F.col("tf") * F.col("tf")).alias("nrm")
    )
    a, b = post.alias("a"), post.alias("b")
    dots = (
        a.join(
            b,
            (F.col("b.term") == F.col("a.term"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b")
        )
        .agg(F.sum(F.col("a.tf") * F.col("b.tf")).alias("dot"))
    )
    na = norms.select(
        F.col("doc_id").alias("id_a"), F.col("nrm").alias("norm_a")
    )
    nb = norms.select(
        F.col("doc_id").alias("id_b"), F.col("nrm").alias("norm_b")
    )
    out = (
        dots.join(F.broadcast(na), "id_a")
        .join(F.broadcast(nb), "id_b")
        .filter(
            F.lit(100) * F.col("dot") * F.col("dot")
            > F.lit(81) * F.col("norm_a") * F.col("norm_b")
        )
    )
    return out.select(
        "id_a",
        "id_b",
        F.col("dot").cast("bigint").alias("dot"),
        F.col("norm_a").cast("bigint").alias("norm_a"),
        F.col("norm_b").cast("bigint").alias("norm_b"),
        F.round(
            F.col("dot").cast("double")
            / F.sqrt(
                F.col("norm_a").cast("double") * F.col("norm_b").cast("double")
            ),
            6,
        ).alias("cosine"),
    ).orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# Silhouette score of the given label clustering (bounded audit slice)
# ---------------------------------------------------------------------------

_SIL_SQL = """
WITH e AS (
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings WHERE vec_id < 200
), p AS (
  SELECT a.vec_id AS i, a.label AS la, b.label AS lb,
         SQRT(CAST((
           SELECT SUM(CAST(FLOOR((a.v[k] - b.v[k]) * (a.v[k] - b.v[k]) * 1e12)
                            AS BIGINT))
           FROM UNNEST(range(1, len(a.v) + 1)) t(k)
         ) AS DOUBLE) / 1e12) AS dist
  FROM e a JOIN e b ON b.vec_id <> a.vec_id
), m AS (
  SELECT i, la, lb,
         CAST(ROUND(SUM(CAST(dist AS DECIMAL(28,8))), 8) AS DOUBLE)
           / COUNT(*) AS mean_d
  FROM p GROUP BY 1, 2, 3
), ab AS (
  SELECT i, la,
         MAX(CASE WHEN lb = la THEN mean_d END) AS a_i,
         MIN(CASE WHEN lb <> la THEN mean_d END) AS b_i
  FROM m GROUP BY 1, 2
), s AS (
  SELECT i, la,
         CASE WHEN a_i IS NULL THEN 0.0
              ELSE (b_i - a_i) / (CASE WHEN a_i > b_i THEN a_i ELSE b_i END)
         END AS sil
  FROM ab
)
SELECT la AS label, CAST(COUNT(*) AS BIGINT) AS n_points,
       CAST(ROUND(SUM(CAST(sil AS DECIMAL(28,8))), 6) AS DOUBLE) / COUNT(*)
         AS avg_silhouette
FROM s GROUP BY la ORDER BY la
"""


@query("similarity_silhouette_labels", oracle=_SIL_SQL)
def similarity_silhouette_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Silhouette quality of the embedding table's GIVEN label
    clustering on the vec_id < 200 audit slice: per point,
    s = (b−a)/max(a,b) with a = mean distance to own cluster and
    b = the nearest other cluster's mean distance — the
    cluster-separation readout you run after any clustering
    (k-means included; labels here play the assignment so the whole
    chain is SQL-attestable rather than rows-only).

    Cross-engine float discipline: elements cast float→double before
    any arithmetic (float ops round differently per engine's
    promotion rules); each squared difference lands as an exact
    integer via FLOOR(t·10¹²) so the 64-term distance sum is
    order-independent; per-pair distance is one sqrt on identical
    doubles; every mean uses the decimal-sum-then-divide (davg)
    idiom. Singleton clusters take silhouette 0 by convention.

    Scale: silhouette is inherently quadratic — the audit runs on a
    bounded sample (the universal practice; sklearn does the same via
    `sample_size`). The slice join broadcasts 200 rows; per-label
    means then reduce |slice|² pair rows in one hash aggregate."""
    e = (
        load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 200)
        .select(
            "vec_id",
            "label",
            F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        )
    )
    a, b = e.alias("a"), e.alias("b")
    d2_scaled = F.aggregate(
        F.zip_with(
            F.col("a.v"),
            F.col("b.v"),
            lambda x, y: F.floor((x - y) * (x - y) * F.lit(1e12)),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, t: acc + t,
    )
    p = a.join(
        F.broadcast(b), F.col("b.vec_id") != F.col("a.vec_id")
    ).select(
        F.col("a.vec_id").alias("i"),
        F.col("a.label").alias("la"),
        F.col("b.label").alias("lb"),
        F.sqrt(d2_scaled.cast("double") / F.lit(1e12)).alias("dist"),
    )
    m = p.groupBy("i", "la", "lb").agg(
        (
            F.round(F.sum(F.col("dist").cast("decimal(28,8)")), 8).cast(
                "double"
            )
            / F.count(F.lit(1))
        ).alias("mean_d")
    )
    ab = m.groupBy("i", "la").agg(
        F.max(F.when(F.col("lb") == F.col("la"), F.col("mean_d"))).alias(
            "a_i"
        ),
        F.min(F.when(F.col("lb") != F.col("la"), F.col("mean_d"))).alias(
            "b_i"
        ),
    )
    sil = F.when(F.col("a_i").isNull(), F.lit(0.0)).otherwise(
        (F.col("b_i") - F.col("a_i")) / F.greatest("a_i", "b_i")
    )
    return (
        ab.select(F.col("la").alias("label"), sil.alias("sil"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_points"),
            (
                F.round(F.sum(F.col("sil").cast("decimal(28,8)")), 6).cast(
                    "double"
                )
                / F.count(F.lit(1))
            ).alias("avg_silhouette"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# IVF recall-vs-nprobe curve against exact truth (r14)
# ---------------------------------------------------------------------------

_IVF_CURVE_PROBES = (1, 2, 4)
_IVF_CURVE_K = 10
_IVF_CURVE_CELLS = 16
_IVF_CURVE_NQ = 10


def _ivf_curve_oracle() -> str:
    branches = "\n  UNION ALL ".join(
        f"""SELECT {p} AS nprobe, p.qid, a.cid
  FROM (SELECT qid, cell_id FROM probes WHERE rn <= {p}) p
  JOIN asgn a ON a.cell_id = p.cell_id AND a.cid <> p.qid"""
        for p in _IVF_CURVE_PROBES
    )
    return f"""
WITH v AS (
  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
), cents AS (
  SELECT id AS cent_id, v AS cv FROM v ORDER BY id LIMIT {_IVF_CURVE_CELLS}
), sims AS (
  SELECT v.id, v.v, c.cent_id, {_cos_sql("v.v", "c.cv")} AS sim
  FROM v CROSS JOIN cents c
), asgn AS (
  SELECT id AS cid, cent_id AS cell_id
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY id
                                     ORDER BY sim DESC, cent_id) AS rn
        FROM sims)
  WHERE rn = 1
), probes AS (
  SELECT id AS qid, cent_id AS cell_id,
         ROW_NUMBER() OVER (PARTITION BY id
                            ORDER BY sim DESC, cent_id) AS rn
  FROM sims WHERE id < {_IVF_CURVE_NQ}
), truth AS (
  SELECT q.id AS qid, b.id AS cid
  FROM (SELECT q.id, b.id AS bid, {_cos_sql("q.v", "b.v")} AS cs
        FROM v q JOIN v b ON q.id < {_IVF_CURVE_NQ} AND b.id <> q.id)
       t(id, bid, cs)
  JOIN v q ON q.id = t.id JOIN v b ON b.id = t.bid
  QUALIFY ROW_NUMBER() OVER (PARTITION BY t.id
                             ORDER BY t.cs DESC, t.bid) <= {_IVF_CURVE_K}
), cand AS (
  {branches}
), hit AS (
  SELECT c.nprobe, c.qid, c.cid
  FROM cand c JOIN truth t ON t.qid = c.qid AND t.cid = c.cid
)
SELECT c.nprobe,
       CAST({_IVF_CURVE_NQ} AS BIGINT) AS n_queries,
       CAST(COUNT(*) AS BIGINT) AS n_candidates,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM hit h
         WHERE h.nprobe = c.nprobe) AS n_truth_found,
       ROUND((SELECT COUNT(*) FROM hit h WHERE h.nprobe = c.nprobe)
             * 1.0 / ({_IVF_CURVE_NQ} * {_IVF_CURVE_K}), 6)
         AS recall_at_{_IVF_CURVE_K}
FROM cand c GROUP BY c.nprobe ORDER BY c.nprobe
"""


@query("similarity_ivf_recall_curve", oracle=_ivf_curve_oracle)
def similarity_ivf_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF recall-vs-cost CURVE: recall@10 against the exact-cosine
    ground truth at nprobe ∈ {1, 2, 4}, with the candidate count
    (the scan cost) beside each point — the tuning table every IVF
    deployment reads before picking nprobe, completing the r13/r14
    evaluation layer (dedup_lsh_recall_eval measures the deployed
    banding; dedup_lsh_band_planning predicts alternatives; this does
    both for the IVF index, on its true cost axis). Centroids and
    assignment are the registry's deterministic IVF machinery
    (operators/similarity.py:ivf_cells/ivf_probe); truth is
    brute-force cosine top-10 with id tiebreaks.

    Exactness: recall is a ratio of exact integer counts (truth hits
    over 10·10 truth pairs); all ranking ties break by id; cosine is
    the shared fixed-order fold both engines evaluate identically.

    Scale: truth costs one |Q|·|C| broadcast scan (|Q| = 10 — the
    exact-verifier budget); each curve point scans only its probed
    cells, so the candidate column IS the per-query cost the curve
    trades against recall. At 100 TB the truth slice stays
    fixed-size while candidates grow with cell occupancy."""
    from ibd_pipeline_spark.operators.similarity import (
        brute_force_topk,
        ivf_cells,
    )

    emb = load(spark, sf_dir, "embeddings")
    q_raw = emb.filter(F.col("vec_id") < _IVF_CURVE_NQ).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("vec")
    )
    c_raw = emb.select(
        F.col("vec_id").alias("corpus_id"), F.col("embedding").alias("vec")
    )
    truth = (
        brute_force_topk(q_raw, c_raw, k=_IVF_CURVE_K)
        .select(F.col("query_id").alias("qid"), F.col("corpus_id").alias("cid"))
        .localCheckpoint(eager=True)  # joined once per curve point
    )
    cents, cells = ivf_cells(c_raw, _IVF_CURVE_CELLS)
    cells = cells.select("cid", "cell_id").localCheckpoint(eager=True)
    # one max-nprobe probe pass carrying the probe rank; each curve
    # point filters its rank prefix (same ordering as ivf_probe)
    from pyspark.sql import Window as _W

    cents_b = cents.select("cent_id", "cent_v")
    q = q_raw.select(
        F.col("query_id").alias("qid"),
        F.col("vec").alias("qv"),
    )
    from ibd_pipeline_spark.operators.similarity import as_double_array, cosine

    pw = _W.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("cent_id"))
    probes = (
        q.select("qid", as_double_array("qv").alias("qv"))
        .join(F.broadcast(cents_b))
        .select(
            "qid",
            "cent_id",
            cosine(F.col("qv"), F.col("cent_v")).alias("sim"),
        )
        .withColumn("rn", F.row_number().over(pw))
        .filter(F.col("rn") <= max(_IVF_CURVE_PROBES))
        .select("qid", F.col("cent_id").alias("cell_id"), "rn")
        .localCheckpoint(eager=True)
    )
    # r16 (guide §1.2): ONE probe⋈cells join + ONE conditional
    # aggregate produces all three curve points — the old per-point
    # loop re-ran the join and launched two counting jobs per point
    # (6 jobs total). Each (qid, cid) pair carries exactly one probe
    # rank (IVF assigns a vector to one cell), so the nprobe ≤ p
    # candidate sets are rank prefixes of the same frame and the
    # counts are conditional sums — identical integers.
    j = (
        probes.join(cells, "cell_id")
        .filter(F.col("cid") != F.col("qid"))
        .select("qid", "cid", "rn")
    )
    marked = j.join(
        truth.withColumn("_t", F.lit(1)), ["qid", "cid"], "left"
    )
    agg = marked.agg(
        *[
            F.sum(F.when(F.col("rn") <= p, 1).otherwise(0))
            .cast("bigint")
            .alias(f"nc{p}")
            for p in _IVF_CURVE_PROBES
        ],
        *[
            F.sum(
                F.when(
                    (F.col("rn") <= p) & F.col("_t").isNotNull(), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias(f"nt{p}")
            for p in _IVF_CURVE_PROBES
        ],
    )
    out = agg.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(p).alias("nprobe"),
                        F.col(f"nc{p}").alias("n_candidates"),
                        F.col(f"nt{p}").alias("n_truth_found"),
                    )
                    for p in _IVF_CURVE_PROBES
                ]
            )
        ).alias("_s")
    ).select(
        F.col("_s.nprobe").alias("nprobe"),
        F.lit(_IVF_CURVE_NQ).cast("bigint").alias("n_queries"),
        F.col("_s.n_candidates").alias("n_candidates"),
        F.col("_s.n_truth_found").alias("n_truth_found"),
        F.round(
            F.col("_s.n_truth_found")
            / F.lit(float(_IVF_CURVE_NQ * _IVF_CURVE_K)),
            6,
        ).alias(f"recall_at_{_IVF_CURVE_K}"),
    )
    return out.orderBy("nprobe")
