"""Embedding similarity search: brute-force cosine top-k (exact
baseline) and LSH-bucketed ANN (the scale path). North-star operator
set, SURVEY.md §2.2.

Vector math uses higher-order array functions (zip_with + aggregate)
— JVM-side, no Python in the scoring loop. At 100 TB the brute-force
path is the per-bucket verifier, never the global strategy.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window


def as_double_array(vec: Column | str) -> Column:
    v = F.col(vec) if isinstance(vec, str) else vec
    return F.transform(v, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ via zip_with + aggregate (sequential, deterministic)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0),
                              lambda acc, x: acc + x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def _parse_byte_size(conf: str, default: int = 134217728) -> int:
    """Parse a Spark byte-size config value (JavaUtils grammar subset:
    optional k/m/g/t/p suffix, optional trailing 'b', case-insensitive).
    A bare number is bytes. Unparseable input returns the default —
    this feeds a performance heuristic, never correctness."""
    s = conf.strip().lower()
    if s.endswith("b"):
        s = s[:-1]
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40, "p": 1 << 50}
    mult = 1
    if s and s[-1] in units:
        mult = units[s[-1]]
        s = s[:-1]
    try:
        return max(1, int(float(s)) * mult)
    except ValueError:
        return default


def _estimated_scan_splits(df: DataFrame) -> int:
    """Zero-job estimate of how many scan tasks a file-backed frame
    yields: Σ ceil(file_size / maxPartitionBytes) over its input
    files. Used to decide whether a corpus scan is narrower than the
    session's parallelism and worth widening with a repartition.
    (`df.rdd.getNumPartitions()` answers this exactly but launches a
    DataFrame→RDD conversion job — ~1 s of wall per call on Spark 4.)
    Non-local or non-file-backed inputs return a large sentinel so the
    caller leaves the scan untouched — at cluster scale the scan is
    already wide and widening would only add a shuffle."""
    import os

    files = df.inputFiles()
    if not files:
        return 1 << 30
    conf = df.sparkSession.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    max_bytes = _parse_byte_size(str(conf))
    splits = 0
    for f in files:
        if not f.startswith("file:"):
            return 1 << 30
        path = f[len("file:") :]
        try:
            size = os.path.getsize(path)
        except OSError:
            return 1 << 30
        splits += max(1, -(-size // max_bytes))
    return splits


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    query_id: str = "query_id",
    corpus_id: str = "corpus_id",
    vec: str = "vec",
) -> DataFrame:
    """Exact cosine top-k: broadcast the (small) query set against the
    corpus, score every pair, keep k per query via row_number.

    Returns (query_id, corpus_id, cosine_sim, rank). Self-matches are
    excluded. Ties broken by corpus id for determinism.

    Scale: O(|Q|·|C|) scoring but |Q| rides a broadcast — the corpus
    is scanned exactly once with no shuffle until the final top-k
    (which is a window over query_id). This is the exact-verification
    building block; use lsh_bucketed_topk for large |Q|.

    Norms are hoisted out of the pair loop: each side computes its
    own L2 norm once per ROW before the join, so the O(|Q|·|C|) inner
    loop is a single dot product per pair instead of dot + two norm
    re-derivations (3× less expression work and a much smaller
    codegen body). A corpus whose file scan is narrower than the
    session's parallelism (tiny file < one split) is widened first —
    at real scale the scan is already thousands of splits and the
    repartition is a no-op branch.
    """
    q = queries.select(
        F.col(query_id).alias("qid"), as_double_array(vec).alias("qv")
    ).withColumn("qnorm", l2_norm(F.col("qv")))
    c = corpus.select(
        F.col(corpus_id).alias("cid"), as_double_array(vec).alias("cv")
    )
    par = corpus.sparkSession.sparkContext.defaultParallelism
    if _estimated_scan_splits(corpus) < par:
        c = c.repartition(par)
    c = c.withColumn("cnorm", l2_norm(F.col("cv")))
    scored = (
        c.join(F.broadcast(q), F.col("qid") != F.col("cid"))
        .select(
            "qid",
            "cid",
            F.round(
                dot(F.col("qv"), F.col("cv")) / (F.col("qnorm") * F.col("cnorm")), 6
            ).alias("cosine_sim"),
        )
    )
    return _top_k(scored, k, query_id, corpus_id)


def _top_k(scored: DataFrame, k: int, query_id: str, corpus_id: str) -> DataFrame:
    """The k best (qid, cid, cosine_sim) rows per query, ties to the
    smaller cid, as (query_id, corpus_id, cosine_sim, rank)."""
    w = Window.partitionBy("qid").orderBy(F.col("cosine_sim").desc(), F.col("cid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("qid").alias(query_id),
            F.col("cid").alias(corpus_id),
            "cosine_sim",
            "rank",
        )
    )


def _maybe_broadcast(
    df: DataFrame,
    mode: bool | str,
    max_broadcast_rows: int,
    probe_df: DataFrame | None = None,
    fanout: int = 1,
) -> DataFrame:
    """Resolve the broadcast_queries knob for the probe side of an ANN
    join. True → force the broadcast hint (correct while |Q| is far
    smaller than executor memory). False → plain shuffle equi-join
    (the join key is already an equi-key, so only the hint changes).
    "auto" → size-check with a LIMIT-bounded count (CollectLimit
    short-circuits the scan) and broadcast only under the cap —
    a large query set then degrades to shuffle instead of failing on
    the broadcast size limit.

    The count runs against `probe_df` (the RAW query input) when
    given, with the cap divided by `fanout` (the deterministic
    bucket/cell explosion factor between probe_df and df): counting
    the raw relation keeps the sizing job a bare scan — counting
    `df` itself would run the bucket or cell projection and its
    explode just to make a yes/no decision."""
    if mode is True:
        return F.broadcast(df)
    if mode is False:
        return df
    cap = max(1, max_broadcast_rows // max(1, fanout))
    basis = probe_df if probe_df is not None else df
    n = basis.limit(cap + 1).count()
    return F.broadcast(df) if n <= cap else df


def ivf_cells(
    corpus: DataFrame,
    n_centroids: int = 16,
    corpus_id: str = "corpus_id",
    vec: str = "vec",
) -> "tuple[DataFrame, DataFrame]":
    """(centroids, corpus-cell assignment) — the reusable IVF layout
    step split out of ivf_topk (IVF-PQ composes it too):
    centroids are the n_centroids lowest-id corpus vectors; every
    corpus vector is assigned to its max-cosine centroid with ties to
    the LOWEST cent_id (deterministic struct-max). Returns
    (cents(cent_id, cent_v), cells(cid, cv, cell_id))."""
    par = corpus.sparkSession.sparkContext.defaultParallelism
    if _estimated_scan_splits(corpus) < par:
        corpus = corpus.repartition(par)
    c = corpus.select(F.col(corpus_id).alias("cid"), as_double_array(vec).alias("cv"))
    cents = c.orderBy("cid").limit(n_centroids).select(
        F.col("cid").alias("cent_id"), F.col("cv").alias("cent_v")
    )
    cells = (
        c.join(F.broadcast(cents))
        .select("cid", "cv", "cent_id", cosine(F.col("cv"), F.col("cent_v")).alias("sim"))
        .groupBy("cid")
        .agg(
            # deterministic tiebreak: max sim, then LOWEST cent_id
            # (bare max_by leaves equal-sim ties engine-ordered)
            F.max_by("cent_id", F.struct(F.col("sim"), -F.col("cent_id"))).alias(
                "cell_id"
            ),
            F.first("cv").alias("cv"),
        )
    )
    return cents, cells


def ivf_probe(
    queries: DataFrame,
    cents: DataFrame,
    n_probe: int = 4,
    query_id: str = "query_id",
    vec: str = "vec",
) -> DataFrame:
    """Each query's n_probe nearest cells (qid, qv, cell_id) — the
    probe half of the IVF layout (shared by ivf_topk / IVF-PQ)."""
    q = queries.select(F.col(query_id).alias("qid"), as_double_array(vec).alias("qv"))
    probe_w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col("cent_id"))
    return (
        q.join(F.broadcast(cents))
        .select("qid", "qv", "cent_id", cosine(F.col("qv"), F.col("cent_v")).alias("sim"))
        .withColumn("pr", F.row_number().over(probe_w))
        .filter(F.col("pr") <= n_probe)
        .select("qid", "qv", F.col("cent_id").alias("cell_id"))
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    query_id: str = "query_id",
    corpus_id: str = "corpus_id",
    vec: str = "vec",
    broadcast_queries: bool | str = "auto",
    max_broadcast_rows: int = 500_000,
) -> DataFrame:
    """IVF (inverted-file) ANN top-k: partition the corpus into
    Voronoi cells around coarse centroids; a query scores only the
    cells of its n_probe nearest centroids.

    Centroid selection is deterministic: the n_centroids corpus
    vectors with the lowest ids (a k-means iteration would sharpen
    cells; for ANN recall the assignment mechanics matter more than
    centroid quality, and determinism keeps runs reproducible).

    Scale: centroids are a broadcast (tiny); cell assignment is one
    scan of the corpus; the probe join fans each query to n_probe
    cells — the scored-pair count drops by ~n_centroids/n_probe vs
    brute force. This is the layout to persist: a corpus bucketed by
    cell_id makes the probe join shuffle-free on re-query.
    """
    # Widening + assignment + probe live in ivf_cells/ivf_probe (the
    # reusable IVF layout halves; IVF-PQ composes the same pieces).
    cents, corpus_cells = ivf_cells(
        corpus, n_centroids, corpus_id=corpus_id, vec=vec
    )
    query_cells = ivf_probe(queries, cents, n_probe, query_id=query_id, vec=vec)
    scored = (
        corpus_cells.join(
            _maybe_broadcast(
                query_cells,
                broadcast_queries,
                max_broadcast_rows,
                probe_df=queries,
                fanout=n_probe,
            ),
            ["cell_id"],
        )
        .filter(F.col("qid") != F.col("cid"))
        .select(
            "qid", "cid", F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cosine_sim")
        )
    )
    return _top_k(scored, k, query_id, corpus_id)


def required_portable_dim(
    n_tables: int = 8, bits_per_table: int = 6, stride: int = 8
) -> int:
    """Highest vector dim axis_sign_bucket_tables reads (1-based
    count): table n_tables−1, bit bits_per_table−1 touches index
    (n_tables−1) + stride·(bits_per_table−1), i.e. needs dim ≥
    n_tables + stride·(bits_per_table−1)."""
    return n_tables + stride * (bits_per_table - 1)


def check_portable_dim(
    dim: int, n_tables: int = 8, bits_per_table: int = 6, stride: int = 8
) -> None:
    """Fail LOUDLY when a sign-LSH caller's vectors are too short:
    element_at past the end returns NULL, which silently degrades
    bucket bits to 0 and hashes everything into degenerate
    buckets."""
    need = required_portable_dim(n_tables, bits_per_table, stride)
    if dim < need:
        raise ValueError(
            f"sign-LSH needs dim >= {need} "
            f"(n_tables={n_tables}, bits_per_table={bits_per_table}, "
            f"stride={stride}); got dim={dim}"
        )


def axis_sign_bucket_tables(
    vec_col: "Column | str",
    n_tables: int = 8,
    bits_per_table: int = 6,
    stride: int = 8,
) -> Column:
    """Engine-PORTABLE multi-table sign-LSH: table t's hyperplanes
    are the coordinate axes at dims {t, t+stride, t+2·stride, …} —
    bucket bit j is simply sign(v[t + j·stride]). Valid sign-LSH for
    CENTERED embeddings (each axis splits ~50/50); less uniform than
    random Gaussian hyperplanes on adversarial data, but exactly
    replayable as plain SQL CASE expressions, which makes the whole
    block→verify pipeline oracle-checkable. Pure codegen column
    algebra — no Python, no hyperplane state at all.

    Built as ONE `F.expr` SQL parse rather than ~n_tables·bits
    py4j Column calls: the per-call py4j chatter was ~0.3 s per side
    at bench scale, vs ~1 ms to parse the same tree JVM-side. Pass
    the vector column NAME when available (a bare
    Column falls back to its string form, which is correct for plain
    attribute references like F.col("v"))."""
    if isinstance(vec_col, str):
        name = vec_col
    else:
        # The string form of a classic-mode Column is only a valid SQL
        # fragment for plain attribute references (F.col("qv") → "qv");
        # composite expressions or Connect columns would splice garbage
        # into the F.expr below, so reject anything that isn't a bare
        # identifier and ask for the name instead.
        name = str(vec_col).replace("Column<'", "").rstrip("'>")
        if not name.replace("_", "a").isalnum():
            raise TypeError(
                "axis_sign_bucket_tables needs the vector column NAME "
                f"(str) for non-trivial columns; got {vec_col!r}"
            )
    keys = []
    for t in range(n_tables):
        bits = " + ".join(
            f"(CASE WHEN element_at({name}, {t + stride * j + 1}) > 0 "
            f"THEN {1 << j} ELSE 0 END)"
            for j in range(bits_per_table)
        )
        keys.append(f"CAST({t} * 4294967296 + {bits} AS BIGINT)")
    return F.expr("array({})".format(", ".join(keys)))


def cosine_near_dup_pairs(
    vectors: DataFrame,
    threshold: float = 0.9,
    n_tables: int = 8,
    bits_per_table: int = 6,
    dim: int = 64,
    id_col: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cos ≥ threshold) via
    multi-table sign-LSH blocking + exact verification — the
    embedding-space sibling of MinHash text dedup (semantic dups that
    share no n-grams).

    Blocking uses axis-aligned sign bits (axis_sign_bucket_tables), so
    every stage is SQL-replayable.

    Scale: identical shape to minhash_candidate_pairs — bucket
    equi-join candidates, exact cosine only within buckets. At high
    thresholds (≥0.9 → small angles) sign-LSH recall per table is
    high, so few tables suffice.
    """
    # Single-split inputs serialize the bucket projection and the
    # pairwise verification onto one core — widen first (no-op branch
    # on real multi-split corpora; see brute_force_topk).
    par = vectors.sparkSession.sparkContext.defaultParallelism
    if _estimated_scan_splits(vectors) < par:
        vectors = vectors.repartition(par)
    check_portable_dim(dim, n_tables, bits_per_table)
    # Per-vector state (double array + L2 norm) is materialized ONCE
    # behind a checkpoint barrier: norms are per-VECTOR
    # quantities — computing them inside the per-PAIR cosine paid two
    # HOF folds × |pairs| instead of × |vectors|, and the barrier
    # stops CollapseProject re-substituting the transform into every
    # element access (the prefix-jaccard trap). The arithmetic is
    # unchanged: the same sqrt(0.0 + Σx²) doubles, just computed in
    # the cheap place — so hash-attested consumers are unaffected.
    v = vectors.select(
        F.col(id_col).alias("id"), as_double_array(vec).alias("v")
    )
    # The checkpointed per-vector state also carries the vector
    # EXPANDED to `dim` real double columns. The verify dot over the
    # array form ran as an interpreted aggregate-over-zip_with per
    # pair (higher-order functions don't codegen); over real columns
    # it is a plain left-associated multiply-add chain that
    # whole-stage-codegen compiles (measured 2.9 → 1.7 s on the 236k
    # sf0.1 pairs). The adds happen in the IDENTICAL order
    # ((0 + x0·y0) + x1·y1) + …, so every double is bit-unchanged and
    # hash-attested consumers are unaffected. Assumes fixed-dim
    # vectors (the same `dim` contract the bucket tables already
    # hold).
    # The wide projections below are built as SQL STRINGS in ONE
    # selectExpr py4j call each — the per-Column py4j form cost ~9300
    # gateway round-trips ≈ 1.7 s of pure driver chatter per
    # construction at dim=64 (cProfile);
    # the parsed trees (GetArrayItem, left-assoc chains) are
    # node-identical, so every double is bit-unchanged.
    v = v.selectExpr(
        "id",
        "v",
        # same fold as l2_norm(): sqrt(aggregate(x², 0.0, +))
        "SQRT(aggregate(transform(v, x -> x * x), 0.0D,"
        " (acc, x) -> acc + x)) AS nrm",
        *[f"v[{k}] AS e{k}" for k in range(dim)],
        # Guard the fixed-dim contract ONCE per vector:
        # the expanded e0..e{dim-1} dot silently ignores elements past
        # `dim` (and ANSI-errors on shorter vectors); assert the size
        # here so a mismatched `dim` argument fails loudly at the
        # eager checkpoint instead of diverging downstream.
        f"assert_true(size(v) = {dim}, concat("
        f"'cosine_near_dup_pairs: expected dim={dim}, got ',"
        " CAST(size(v) AS STRING))) AS _dimck",
    ).localCheckpoint(eager=True)
    buckets = axis_sign_bucket_tables("v", n_tables, bits_per_table)
    keyed = v.withColumn("bkey", F.explode(buckets)).select("id", "bkey")
    l, r = keyed.alias("l"), keyed.alias("r")
    pairs = (
        l.join(r, (F.col("l.bkey") == F.col("r.bkey")) & (F.col("l.id") < F.col("r.id")))
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        # id-only candidate list, materialized: consumers that rank or
        # re-filter the scored pairs (top-k after verify) would
        # otherwise re-run the bucket join per action — candidates are
        # the standard persisted artifact of an LSH pipeline anyway
        .localCheckpoint(eager=True)
    )
    a = v.selectExpr(
        "id AS id_a",
        "nrm AS na",
        *[f"e{k} AS xa{k}" for k in range(dim)],
    )
    b = v.selectExpr(
        "id AS id_b",
        "nrm AS nb",
        *[f"e{k} AS xb{k}" for k in range(dim)],
    )
    # Verify = codegen dot ÷ precomputed norms over BROADCAST vector
    # sides (letting AQE pick sort-merge for the vector joins shuffled
    # 240 MB of arrays — 10 s vs 1.5 s broadcast at sf0.1). The
    # arithmetic is unchanged: same fold order, same
    # sqrt(0.0 + Σx²) norms, identical doubles — the SQL `+` chain
    # parses left-associated exactly like the old functools.reduce.
    dot_sql = "0.0D" + "".join(f" + xa{k} * xb{k}" for k in range(dim))
    return (
        pairs.join(F.broadcast(a), "id_a")
        .join(F.broadcast(b), "id_b")
        .selectExpr(
            "id_a",
            "id_b",
            f"round(({dot_sql}) / (na * nb), 6) AS cosine_sim",
        )
        .filter(F.col("cosine_sim") >= threshold)
    )


def lsh_bucketed_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_tables: int = 8,
    bits_per_table: int = 6,
    dim: int = 64,
    query_id: str = "query_id",
    corpus_id: str = "corpus_id",
    vec: str = "vec",
    broadcast_queries: bool | str = "auto",
    max_broadcast_rows: int = 500_000,
) -> DataFrame:
    """ANN top-k via multi-table sign-LSH: L independent hash tables
    of b hyperplane bits each; a corpus vector is a candidate for a
    query iff they share a bucket in ANY table. Score (exact cosine)
    only candidates, keep top-k.

    Recall for a neighbor at angle θ: 1-(1-p^b)^L with
    p = 1-θ/π — e.g. θ=45°, b=6, L=8 → ~74%; raise L for more
    recall at linear cost. On data with *no* angular structure
    (near-orthogonal pairs, p≈0.5) recall is honestly poor — LSH
    only buys what the geometry gives; recall is asserted on
    clustered data in tests/test_similarity.py.

    Buckets are axis-aligned sign bits (axis_sign_bucket_tables —
    pure codegen column algebra, no Python), so the ENTIRE top-k
    pipeline is SQL-replayable.

    Scale: explode(bucket_keys) → equi-join on the key replaces the
    cross product, and the dedup before scoring keeps each (query,
    candidate) pair scored once.
    """
    check_portable_dim(dim, n_tables, bits_per_table)

    # NOTE deliberately NOT widened (contrast brute_force_topk/ivf_topk).
    # The per-row bucket work is a JVM CASE bank over a few vector
    # elements, so a one-split corpus gains little from more tasks and
    # a repartition would add a shuffle; the cosine scoring after the
    # candidate join is already spread by the join's exchange. Whether
    # widening pays on this path is unmeasured.
    q = queries.select(
        F.col(query_id).alias("qid"), as_double_array(vec).alias("qv")
    ).withColumn(
        "bkey", F.explode(axis_sign_bucket_tables("qv", n_tables, bits_per_table))
    )
    c = corpus.select(
        F.col(corpus_id).alias("cid"), as_double_array(vec).alias("cv")
    ).withColumn(
        "bkey", F.explode(axis_sign_bucket_tables("cv", n_tables, bits_per_table))
    )
    candidates = (
        c.join(
            _maybe_broadcast(
                q,
                broadcast_queries,
                max_broadcast_rows,
                probe_df=queries,
                fanout=n_tables,
            ),
            ["bkey"],
        )
        .filter(F.col("qid") != F.col("cid"))
        .select("qid", "cid", "qv", "cv")
        .dropDuplicates(["qid", "cid"])
    )
    scored = candidates.select(
        "qid", "cid", F.round(cosine(F.col("qv"), F.col("cv")), 6).alias("cosine_sim")
    )
    return _top_k(scored, k, query_id, corpus_id)


def kmeans_attested(
    corpus: DataFrame,
    k: int = 8,
    iters: int = 4,
    id_col: str = "vec_id",
    vec: str = "embedding",
) -> DataFrame:
    """Lloyd's k-means whose EVERY float operation is cross-engine
    deterministic, so a DuckDB CTE unroll replays the fixpoint
    bit-for-bit (the same pattern as graph_kcore_peel's unrolled
    peel):

    - init: the k lowest-id vectors (no RNG);
    - distance: per-dim (x−c)² doubles quantized by
      FLOOR(term·10¹²) to BIGINT and summed exactly — integer sums
      are order-independent, FLOOR of a double is bit-identical on
      both engines (no round-half / shortest-repr hazard), and
      BIGINT never overflows here (≤ n·dim·4·10¹²);
    - argmin: least-struct over (d, cent_id) — integer compare, ties
      to the lowest centroid id;
    - update: per-(cluster, dim) means as
      SUM(FLOOR(x·10⁸)) / (10⁸ · count) — one exact integer sum, one
      IEEE division (the denominator is an exact double for any
      realistic count);
    - per-round state: k·dim means collected to the driver
      (model-sized, the operators/ml.py convention) and re-embedded
      as a literal (pos, c_0..c_{k-1}) lookup frame.

    Fixed-point BIGINT (not DECIMAL) is deliberate: SUM over
    DECIMAL(38,12) leaves the long-backed Decimal fast path and was
    measured 4.3× slower per round; integer sums stay inside
    whole-stage codegen.

    Returns (id_col, cluster_id INT, dist_fp BIGINT — squared L2 in
    10⁻¹² units) under the final centroids; the inertia is
    SUM(dist_fp) / 10¹². Replayability costs a per-round n-row
    shuffle.

    Scale: per round ONE n·dim explode broadcast-joined to a dim-row
    inline-VALUES centroid lookup, aggregated to n rows carrying k
    integer distance sums, plus a (k·dim)-row mean shuffle; centroid
    state is k·dim doubles on the driver. Each round is composed as
    ONE SQL string — building the ~600 centroid literals as Column
    objects costs ~1 s of py4j round-trips PER ROUND in this Spark
    version (measured: the Column form ran the whole loop 13 s, the
    SQL form ~2 s); a SQL string is one call and parses JVM-side in
    milliseconds.
    """
    spark = corpus.sparkSession
    c = corpus.select(
        F.col(id_col).alias("cid"), as_double_array(vec).alias("v")
    )
    init = c.orderBy("cid").limit(k).collect()
    cents: "list[list[float]]" = [list(r["v"]) for r in init]
    kk, dim = len(cents), len(cents[0])

    view = "__kmeans_attested_expl"
    c.select("cid", F.posexplode("v").alias("pos", "x")).createOrReplaceTempView(
        view
    )

    def assign_sql(cs: "list[list[float]]") -> str:
        vals = ", ".join(
            f"({p}, {', '.join(repr(float(cs[j][p])) + 'D' for j in range(kk))})"
            for p in range(dim)
        )
        cols = ", ".join(f"c{j}" for j in range(kk))
        sums = ", ".join(
            f"SUM(CAST(FLOOR((x - c{j}) * (x - c{j}) * 1e12) AS BIGINT))"
            f" AS d{j}"
            for j in range(kk)
        )
        structs = ", ".join(
            f"named_struct('d', d{j}, 'c', {j})" for j in range(kk)
        )
        return f"""
SELECT cid, least({structs}).c AS cl, least({structs}).d AS dist_fp
FROM (
  SELECT /*+ BROADCAST(t) */ cid, {sums}
  FROM {view} JOIN (VALUES {vals}) AS t(pos, {cols}) USING (pos)
  GROUP BY cid
)"""

    for _ in range(iters):
        means = spark.sql(
            f"""
SELECT a.cl, e.pos,
       CAST(SUM(CAST(FLOOR(e.x * 1e8) AS BIGINT)) AS DOUBLE)
         / (1e8 * COUNT(*)) AS m
FROM {view} e JOIN ({assign_sql(cents)}) a USING (cid)
GROUP BY a.cl, e.pos"""
        ).collect()  # ≤ k·dim rows — model state, not data
        by_cl: "dict[int, dict[int, float]]" = {}
        for r in means:
            by_cl.setdefault(r["cl"], {})[r["pos"]] = r["m"]
        cents = [
            [by_cl[j][p] for p in range(dim)]
            if j in by_cl
            else cents[j]  # empty cluster keeps its previous centroid
            for j in range(kk)
        ]

    return spark.sql(assign_sql(cents)).select(
        F.col("cid").alias(id_col),
        F.col("cl").cast("int").alias("cluster_id"),
        F.col("dist_fp"),
    )
