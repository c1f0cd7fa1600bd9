"""Round-5 LLM training-data operators: BPE-style pair statistics,
temperature-based source reweighting, deterministic three-way splits,
vocabulary/hapax statistics, exact length percentiles, duplicate-
cluster shape accounting, and round-robin source interleaving.

Like queries/llmdata.py these have no reference analog (SURVEY.md
§2.2 north-star families) — they are the corpus-curation operators a
100 TB pretraining pipeline runs between crawl and tokenizer. All
oracle-checked against DuckDB.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ibd_pipeline_spark.catalog import load, load_wide
from ibd_pipeline_spark.queries import query


@query(
    "train_bpe_pair_counts",
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), pairs AS (
  SELECT w[i] AS left_tok, w[i + 1] AS right_tok
  FROM toks, UNNEST(range(1, len(w))) t(i)
), c AS (
  SELECT left_tok, right_tok, COUNT(*) AS n
  FROM pairs GROUP BY left_tok, right_tok
), r AS (
  SELECT left_tok, right_tok, n,
         ROW_NUMBER() OVER (ORDER BY n DESC, left_tok, right_tok) AS rk
  FROM c
)
SELECT CAST(rk AS INT) AS rk, left_tok, right_tok, CAST(n AS BIGINT) AS n_pairs
FROM r WHERE rk <= 20
ORDER BY rk
""",
)
def train_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first BPE merge iteration at corpus scale: global counts of
    adjacent token pairs, top 20. The pair stream is built per row
    with zip_with(toks, toks[2:]) — one flat array traversal, no
    position explode — then exploded straight into a hash aggregate
    (map-side combined; the explode never shuffles raw pairs of one
    doc to two places).

    A full BPE trainer is this query in a loop: count → merge the
    argmax pair → re-tokenize. The loop's per-round plan is exactly
    this one, which is what makes the single round the right
    registry/bench unit.

    Scale: shuffle = distinct pair space (vocab²-bounded, Zipf-small
    in practice), never the corpus. The top-20 goes through
    orderBy+limit — TakeOrderedAndProject, per-task 20-row heaps
    merged on the driver — NOT a global row_number window, which
    would sort the whole pair space on one partition; ranks are then
    attached to the surviving 20 rows by a triangular count over the
    20-row broadcast (no window operator anywhere in the plan —
    came off the unpartitioned-window allow-list in r12)."""
    d = load_wide(spark, sf_dir, "documents")
    from ibd_pipeline_spark.queries.text import _bigram_counts

    c = _bigram_counts(d, "n")
    # the (-n, left, right) struct sorts exactly the (n DESC, left,
    # right) total order, so rank = count of rows at-or-before — a
    # 20×20 broadcast nested-loop, never a window
    key = F.struct(
        (-F.col("n")).alias("nn"),
        F.col("left_tok").alias("l"),
        F.col("right_tok").alias("r"),
    )
    top = (
        c.orderBy(F.col("n").desc(), "left_tok", "right_tok")
        .limit(20)
        .withColumn("_k", key)
    )
    o = top.select(F.col("_k").alias("_ko"))
    ranked = (
        top.join(F.broadcast(o), F.col("_ko") <= F.col("_k"))
        .groupBy("left_tok", "right_tok", "n")
        .agg(F.count(F.lit(1)).cast("int").alias("rk"))
    )
    return ranked.select(
        "rk",
        "left_tok",
        "right_tok",
        F.col("n").alias("n_pairs"),
    ).orderBy("rk")


@query(
    "train_source_temperature",
    oracle="""
WITH s AS (
  SELECT source, CAST(SUM(len(string_split(text, ' '))) AS DOUBLE) AS n_tokens
  FROM documents GROUP BY source
), p AS (
  SELECT source, n_tokens,
         n_tokens / SUM(n_tokens) OVER () AS p_raw,
         POW(n_tokens / SUM(n_tokens) OVER (), 0.7) AS p_temp
  FROM s
)
SELECT source,
       CAST(n_tokens AS BIGINT)               AS n_tokens,
       ROUND(p_raw, 6)                        AS p_raw,
       ROUND(p_temp / SUM(p_temp) OVER (), 6) AS p_sampled,
       ROUND((p_temp / SUM(p_temp) OVER ()) / p_raw, 4) AS upweight
FROM p
ORDER BY source
""",
)
def train_source_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based source reweighting (T = 0.7): the mixture
    rule that upsamples small high-quality sources and downsamples
    the crawl — p_sampled ∝ p_raw^0.7, renormalized. The standard
    pretraining-mixture knob reported per source with its effective
    upweight factor.

    Scale: one hash aggregate over the corpus (token counts), then
    window math over the ~dozens-of-sources relation — the global
    windows run on rows-per-source, not rows-per-doc."""
    d = load_wide(spark, sf_dir, "documents")
    s = d.groupBy("source").agg(
        F.sum(F.size(F.split("text", " "))).cast("double").alias("n_tokens")
    )
    wall = Window.partitionBy()
    p_raw = F.col("n_tokens") / F.sum("n_tokens").over(wall)
    p = s.select(
        "source",
        "n_tokens",
        p_raw.alias("p_raw"),
        F.pow(p_raw, 0.7).alias("p_temp"),
    )
    p_sampled = F.col("p_temp") / F.sum("p_temp").over(wall)
    return p.select(
        "source",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.round("p_raw", 6).alias("p_raw"),
        F.round(p_sampled, 6).alias("p_sampled"),
        F.round(p_sampled / F.col("p_raw"), 4).alias("upweight"),
    ).orderBy("source")


@query(
    "train_split_three_way",
    oracle="""
WITH t AS (
  SELECT source,
         CAST(('0x' || SUBSTRING(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
           % 100 AS bucket
  FROM documents
)
SELECT source,
       CASE WHEN bucket < 80 THEN 'train'
            WHEN bucket < 90 THEN 'val'
            ELSE 'test' END AS split,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM t
GROUP BY 1, 2
ORDER BY source, split
""",
)
def train_split_three_way(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test split by content-derived
    hash bucket (md5(doc_id) — the stratified_hash_sample contract):
    membership is a pure function of the ROW, so the split is stable
    across reruns, engines, partitioning, and appended data — the
    property rand(seed) does NOT give (rand is per-task-attempt) and
    the one that prevents eval-set leakage when the corpus is
    re-sharded.

    Scale: per-row hash + one hash aggregate on (source, split);
    no shuffle of document text, ever."""
    d = load(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("bigint") % 100
    )
    split = (
        F.when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")
    )
    return (
        d.select("source", split.alias("split"))
        .groupBy("source", "split")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("source", "split")
    )


@query(
    "text_vocab_hapax_stats",
    oracle="""
WITH words AS (
  SELECT source, w, COUNT(*) AS n
  FROM (SELECT source, UNNEST(string_split(text, ' ')) AS w FROM documents)
  GROUP BY source, w
)
SELECT source,
       CAST(COUNT(*) AS BIGINT)                           AS vocab_size,
       CAST(SUM(n) AS BIGINT)                             AS n_tokens,
       CAST(COUNT(*) FILTER (n = 1) AS BIGINT)            AS n_hapax,
       ROUND(COUNT(*) * 1.0 / SUM(n), 6)                  AS type_token_ratio,
       ROUND(COUNT(*) FILTER (n = 1) * 1.0 / COUNT(*), 6) AS hapax_ratio
FROM words
GROUP BY source
ORDER BY source
""",
)
def text_vocab_hapax_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source vocabulary statistics: vocabulary size, hapax
    legomena (words occurring once — the OCR-noise / boilerplate
    smell test), type-token ratio. Hapax-heavy sources are candidates
    for quality filtering; a COLLAPSING type-token ratio flags
    TEMPLATE/degenerate text.

    Two-level aggregation, both hash-based and map-side combined:
    (source, word) counts, then per-source rollup — the corpus text
    itself is exploded into words exactly once and never re-shuffled
    as raw text."""
    d = load_wide(spark, sf_dir, "documents")
    words = (
        d.select("source", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return (
        words.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("vocab_size"),
            F.sum("n").alias("n_tokens"),
            F.count_if(F.col("n") == 1).alias("n_hapax"),
            F.round(F.count(F.lit(1)) / F.sum("n"), 6).alias("type_token_ratio"),
            F.round(F.count_if(F.col("n") == 1) / F.count(F.lit(1)), 6).alias(
                "hapax_ratio"
            ),
        )
        .orderBy("source")
    )


@query(
    "text_length_percentiles",
    oracle="""
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       ROUND(percentile_cont(0.5)
         WITHIN GROUP (ORDER BY CAST(len(string_split(text,' ')) AS DOUBLE)), 4)
         AS p50_tokens,
       ROUND(percentile_cont(0.9)
         WITHIN GROUP (ORDER BY CAST(len(string_split(text,' ')) AS DOUBLE)), 4)
         AS p90_tokens,
       ROUND(percentile_cont(0.99)
         WITHIN GROUP (ORDER BY CAST(len(string_split(text,' ')) AS DOUBLE)), 4)
         AS p99_tokens
FROM documents
GROUP BY source
ORDER BY source
""",
)
def text_length_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated token-length percentiles (p50/p90/p99) per
    source — the dataset-card number. Exact percentile is the
    oracle-checkable contract here; the 100 TB form is
    approx_percentile (t-digest, mergeable, no per-group value
    buffering), already attested as stats_approx_percentiles — this
    query pins the VALUES the sketch approximates.

    Scale note (honest): exact percentile buffers each group's values
    in one aggregation buffer — bounded by docs-per-source. Run the
    sketch twin when a single source exceeds executor memory."""
    d = load_wide(spark, sf_dir, "documents")
    nt = F.size(F.split("text", " ")).cast("double")
    t = d.select("source", nt.alias("nt"))
    return (
        t.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.percentile("nt", F.lit(0.5)), 4).alias("p50_tokens"),
            F.round(F.percentile("nt", F.lit(0.9)), 4).alias("p90_tokens"),
            F.round(F.percentile("nt", F.lit(0.99)), 4).alias("p99_tokens"),
        )
        .orderBy("source")
    )


@query(
    "dedup_cluster_size_stats",
    oracle="""
WITH clusters AS (
  SELECT md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS digest,
         COUNT(*) AS sz
  FROM documents GROUP BY 1
)
SELECT CAST(sz AS BIGINT) AS cluster_size,
       CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(SUM(sz) AS BIGINT) AS n_docs,
       CAST(SUM(sz) - COUNT(*) AS BIGINT) AS n_removable
FROM clusters
GROUP BY sz
ORDER BY cluster_size
""",
)
def dedup_cluster_size_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster shape accounting: the size histogram of
    exact-dup clusters (normalized-text md5) plus how many docs
    dedup would remove at each size. THE first report of any dedup
    campaign — it tells you whether duplication is a few mega-
    clusters (boilerplate: handle by pattern) or a long tail of
    pairs (crawl overlap: handle by digest), and n_removable prices
    the storage win before you spend the shuffle.

    Scale: two hash aggregates, both on digests (text leaves the
    wire after the first projection); output is ~max-cluster-size
    rows."""
    d = load_wide(spark, sf_dir, "documents")
    digest = F.md5(F.lower(F.trim(F.regexp_replace("text", r"\s+", " "))))
    clusters = d.groupBy(digest.alias("digest")).agg(
        F.count(F.lit(1)).alias("sz")
    )
    return (
        clusters.groupBy(F.col("sz").alias("cluster_size"))
        .agg(
            F.count(F.lit(1)).alias("n_clusters"),
            F.sum("sz").alias("n_docs"),
            (F.sum("sz") - F.count(F.lit(1))).alias("n_removable"),
        )
        .orderBy("cluster_size")
    )


@query(
    "train_interleave_roundrobin",
    oracle="""
WITH r AS (
  SELECT doc_id, source,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
  FROM documents
), g AS (
  SELECT doc_id, source, rn,
         ROW_NUMBER() OVER (ORDER BY rn, source, doc_id) AS pos
  FROM r
)
SELECT CAST(pos AS BIGINT) AS pos, doc_id, source
FROM g WHERE pos <= 100
ORDER BY pos
""",
)
def train_interleave_roundrobin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic round-robin interleave across sources — the
    training-order schedule that prevents source-blocked gradient
    drift (a million crawl docs in a row before any code). Doc k of
    each source lands at global position ~k·n_sources: row_number per
    source, then a global order by (rn, source).

    Scale: the per-source numbering shuffles once on source. The
    global position window would otherwise sort the whole corpus on
    one partition, so candidates are pre-filtered to rn ≤ 100 FIRST —
    provably lossless (a row with rn > 100 has ≥ 100 same-source rows
    ordered before it, so its global pos > 100), which bounds the
    single-partition sort to ≤ 100 × n_sources rows. For the full
    100 TB schedule you'd skip the position column and write files
    range-sorted by (rn, source) — no global window at all."""
    d = load(spark, sf_dir, "documents")
    r = d.select(
        "doc_id",
        "source",
        F.row_number()
        .over(Window.partitionBy("source").orderBy("doc_id"))
        .alias("rn"),
    ).filter(F.col("rn") <= 100)
    g = r.select(
        "doc_id",
        "source",
        F.row_number()
        .over(Window.orderBy("rn", "source", "doc_id"))
        .alias("pos"),
    )
    return (
        g.filter(F.col("pos") <= 100)
        .select(F.col("pos").cast("bigint"), "doc_id", "source")
        .orderBy("pos")
    )


@query(
    "text_repeated_span_detection",
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), grams AS (
  SELECT doc_id,
         array_to_string(w[i:i+2], ' ') AS gram
  FROM toks, UNNEST(generate_series(1, len(w) - 2)) t(i)
  WHERE len(w) >= 3
), rep AS (
  SELECT doc_id, gram, COUNT(*) AS n
  FROM grams GROUP BY doc_id, gram
  HAVING COUNT(*) >= 2
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT)  AS n_repeated_3grams,
       CAST(MAX(n) AS BIGINT)    AS max_repeats,
       CAST(SUM(n) - COUNT(*) AS BIGINT) AS excess_occurrences
FROM rep
GROUP BY doc_id
ORDER BY doc_id
""",
)
def text_repeated_span_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITHIN-document repeated-span detection: 3-gram positions that
    occur ≥ 2 times in the same document — the memorization-risk /
    template-text report (a doc whose own content loops is both a
    quality smell and a verbatim-memorization amplifier when it
    repeats across the corpus too). Distinct from
    text_repetition_ratio (a per-doc scalar): this names the
    offending spans' multiplicity and excess mass.

    Scale: the 5-gram stream is per-row (zip_with fold, O(len)), the
    aggregate keys on (doc_id, gram) — co-partitioned with the doc,
    so the HAVING filter collapses everything before any cross-doc
    movement; output is only documents that actually loop."""
    d = load_wide(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    m = F.greatest(F.size(toks) - 2, F.lit(0))
    acc = F.slice(toks, 1, m)
    for j in range(1, 3):
        acc = F.zip_with(
            acc, F.slice(toks, j + 1, m), lambda a, b: F.concat(a, F.lit(" "), b)
        )
    grams = d.filter(F.size(toks) >= 3).select(
        "doc_id", F.explode(acc).alias("gram")
    )
    rep = (
        grams.groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
    )
    return (
        rep.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_repeated_3grams"),
            F.max("n").alias("max_repeats"),
            (F.sum("n") - F.count(F.lit(1))).alias("excess_occurrences"),
        )
        .orderBy("doc_id")
    )


def _near_dup_prune_oracle() -> str:
    """The complete pruning pipeline in SQL: md5-portable MinHash
    stages (shared builders from queries.dedup) + recursive-CTE
    connected components (the dedup_cluster_components precedent) +
    survivor accounting."""
    from ibd_pipeline_spark.queries.dedup import _mh_cte

    reps0 = """reps0 AS (
  SELECT doc_id, text, source FROM (
    SELECT doc_id, text, source,
           ROW_NUMBER() OVER (
             PARTITION BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
             ORDER BY doc_id, text, source) AS rn
    FROM documents) t
  WHERE rn = 1
), src AS (SELECT doc_id, text FROM reps0)"""
    return _mh_cte(reps0, recursive=True) + """, jpairs AS (
  SELECT id_a, id_b FROM verified WHERE jaccard >= 0.5
), edges AS (
  SELECT id_a AS a, id_b AS b FROM jpairs
  UNION SELECT id_b, id_a FROM jpairs
), reach AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
), comp AS (
  SELECT v.a AS vertex, LEAST(v.a, MIN(r.b)) AS component
  FROM (SELECT DISTINCT a FROM edges) v
  LEFT JOIN reach r ON r.a = v.a
  GROUP BY v.a
), keepers AS (
  SELECT MIN(vertex) AS doc_id FROM comp GROUP BY component
), survivors AS (
  SELECT r.doc_id, r.source FROM reps0 r
  LEFT JOIN comp c ON r.doc_id = c.vertex
  WHERE c.vertex IS NULL
  UNION ALL
  SELECT r.doc_id, r.source FROM reps0 r JOIN keepers k ON r.doc_id = k.doc_id
)
SELECT d.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(e.n_after_exact AS BIGINT) AS n_after_exact,
       CAST(s.n_after_near AS BIGINT) AS n_after_near,
       CAST(s.n_after_near AS DOUBLE) * 100.0 / COUNT(*) AS pct_kept
FROM documents d
JOIN (SELECT source, COUNT(*) AS n_after_exact FROM reps0 GROUP BY source) e
  ON e.source = d.source
JOIN (SELECT source, COUNT(*) AS n_after_near FROM survivors GROUP BY source) s
  ON s.source = d.source
GROUP BY d.source, e.n_after_exact, s.n_after_near
ORDER BY d.source
"""


@query("dedup_near_dup_prune", oracle=_near_dup_prune_oracle)
def dedup_near_dup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE near-dup removal pipeline as one plan: exact-dedup
    representatives → MinHash-LSH candidate pairs (J ≥ 0.5) →
    connected components → keep the min-id doc per cluster → per-
    source survivor accounting. This is the query a pretraining
    pipeline actually ships (the standalone registry entries are its
    stages); end-to-end it proves the stages compose without
    materializing anything between them.

    Scale: every stage is the attested scale shape — digest agg,
    banded bucket join (never all-pairs), edge-set label propagation
    (rounds = cluster diameter, checkpointed), broadcast-joinable
    survivor set. Hash-attested END-TO-END: the md5-portable MinHash
    mode + a recursive-CTE connected-components oracle replay the
    whole pipeline in DuckDB (stage-level evidence remains from
    dedup_exact, the minhash recall tests and
    dedup_cluster_components).

    Returns (source, n_docs, n_after_exact, n_after_near, pct_kept).
    """
    from ibd_pipeline_spark.operators import dedup as D
    from ibd_pipeline_spark.operators.graph import connected_components

    d = load(spark, sf_dir, "documents")
    # Keeper selection shuffles only (digest, doc_id) — never text —
    # and the survivor-accounting path below rides a text-free
    # (doc_id, source) frame, so document TEXT crosses the wire
    # exactly once: into minhash_candidate_pairs' internally cached
    # shingle state. (The previous min(struct(text…)) agg +
    # full-reps checkpoint shuffled and then wrote every byte of
    # text: 3.4 s of the query's 10.5 s at sf0.1.) min(doc_id) is
    # the same keeper the oracle's ROW_NUMBER(ORDER BY doc_id…)
    # picks — doc_id is unique, the struct tiebreak was dead weight.
    # Shared session-cached keeper set (r11): dedup_minhash_lsh
    # builds its representatives through the same object, so the
    # expensive minhash shingle state below is computed once per
    # session, not once per query.
    keeper_ids = D.exact_keeper_ids(d)
    reps_text = d.select("doc_id", "text").join(keeper_ids, "doc_id", "left_semi")
    meta = (
        d.select("doc_id", "source")
        .join(keeper_ids, "doc_id", "left_semi")
        .localCheckpoint(eager=True)  # (id, source): consumed 3×
    )
    try:
        cand = D.minhash_candidate_pairs(reps_text, "doc_id", "text")
        pairs = cand.filter(F.col("jaccard") >= 0.5).select(
            F.col("id_a").alias("src"), F.col("id_b").alias("dst")
        )
        comps = connected_components(pairs, "src", "dst")
        # keep the min doc_id of each near-dup cluster; docs in no
        # cluster keep themselves
        keep_in_cluster = comps.groupBy("component").agg(
            F.min("vertex").alias("doc_id")
        ).select("doc_id")
        clustered = comps.select(F.col("vertex").alias("doc_id"))
        survivors = (
            meta.join(clustered, "doc_id", "left_anti")
            .select("doc_id", "source")
            .unionByName(
                meta.join(keep_in_cluster, "doc_id").select("doc_id", "source")
            )
        )
        per_source = (
            d.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
            .join(
                meta.groupBy("source").agg(
                    F.count(F.lit(1)).alias("n_after_exact")
                ),
                "source",
            )
            .join(
                survivors.groupBy("source").agg(
                    F.count(F.lit(1)).alias("n_after_near")
                ),
                "source",
            )
            .select(
                "source",
                "n_docs",
                "n_after_exact",
                "n_after_near",
                # exact-IEEE form (int→double cast, ×100, one division)
                # — both engines produce the identical double, so no
                # rounding (and no HALF_UP-vs-binary divergence) at all
                (F.col("n_after_near").cast("double") * 100.0 / F.col("n_docs"))
                .alias("pct_kept"),
            )
            .orderBy("source")
        )
        out = per_source.localCheckpoint(eager=True)
    finally:
        D.release_state(cand)
    return out


@query(
    "text_bigram_logprob_score",
    oracle="""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), pairs AS (
  SELECT doc_id, w[i] AS l, w[i + 1] AS r
  FROM toks, UNNEST(range(1, len(w))) t(i)
), pc AS (
  SELECT l, r, COUNT(*) AS c_lr FROM pairs GROUP BY l, r
), lc AS (
  SELECT l, SUM(c_lr) AS c_l FROM pc GROUP BY l
)
SELECT p.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       CAST(ROUND(SUM(CAST(-log2(CAST(pc.c_lr AS DOUBLE) / lc.c_l)
                           AS DECIMAL(28,8))), 4) AS DOUBLE) / COUNT(*)
         AS bits_per_bigram
FROM pairs p
JOIN pc USING (l, r)
JOIN lc USING (l)
GROUP BY p.doc_id
ORDER BY p.doc_id
""",
)
def text_bigram_logprob_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram conditional surprisal per document: mean of
    −log₂ P(wᵢ | wᵢ₋₁) with P = c(prev,w) / c(prev,·) — one Markov
    order above `text_unigram_logprob_score`, and the better
    boilerplate detector (template text has near-deterministic
    transitions → bits collapse toward 0 even when its unigram
    distribution looks ordinary).

    Scale: the adjacent-pair stream is per-row (zip_with, no
    positional explode); pair and prefix counts are hash aggregates
    on the Zipf-small pair/vocab spaces (c(prev,·) derives FROM the
    pair counts — the corpus is never re-read); both count tables
    re-join broadcast (same size argument, and degrade-to-shuffle
    story, as the unigram scorer). The per-doc mean is an exact
    decimal sum — partial-agg order can't flip the rounded digit."""
    d = load_wide(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    m = F.greatest(F.size(toks) - 1, F.lit(0))
    pair = F.zip_with(
        F.slice(toks, 1, m),
        F.slice(toks, 2, m),
        lambda a, b: F.struct(a.alias("l"), b.alias("r")),
    )
    pairs = d.select("doc_id", F.explode(pair).alias("p")).select(
        "doc_id", F.col("p.l").alias("l"), F.col("p.r").alias("r")
    )
    pc = pairs.groupBy("l", "r").agg(F.count(F.lit(1)).alias("c_lr"))
    lc = pc.groupBy("l").agg(F.sum("c_lr").alias("c_l"))
    bits = -F.log2(F.col("c_lr").cast("double") / F.col("c_l"))
    return (
        pairs.join(F.broadcast(pc), ["l", "r"])
        .join(F.broadcast(lc), "l")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            (
                F.round(F.sum(bits.cast("decimal(28,8)")), 4).cast("double")
                / F.count(F.lit(1))
            ).alias("bits_per_bigram"),
        )
        .orderBy("doc_id")
    )
