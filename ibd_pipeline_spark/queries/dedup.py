"""Deduplication queries over `documents` (north-star set).

Every family here is oracle-checked: exact and unigram-Jaccard via
DuckDB's list set-algebra, and the MinHash-LSH / SimHash pipelines
via md5-PORTABLE hashing (operators/dedup.py — the
first-8-md5-hex-digits idiom) so DuckDB replays signatures, band
collisions, and the verify stage value-for-value. Precision against
exact Jaccard and planted-flip recovery are property-tested in
tests/test_dedup.py.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window  # noqa: F401

from ibd_pipeline_spark.catalog import load
from ibd_pipeline_spark.operators import dedup as D
from ibd_pipeline_spark.queries import query


@query(
    "dedup_exact",
    oracle="""
WITH hashed AS (
  SELECT doc_id,
         md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS digest
  FROM documents
)
SELECT digest, COUNT(*) AS n_copies, MIN(doc_id) AS keeper_doc_id
FROM hashed
GROUP BY digest
ORDER BY digest
""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-dedup digest groups: md5 over normalized text, lowest
    doc_id as the keeper per group. One shuffle on the digest; at
    100 TB this is the standard first dedup pass (hash-partition by
    digest, min-id winner, no text comparison at all).

    Emits every digest group (the fixture corpus has near-dups but no
    exact dups, so a >1-copies filter would be vacuously empty — the
    full histogram keeps the oracle check meaningful)."""
    d = load(spark, sf_dir, "documents")
    return (
        d.groupBy(D.content_digest("text").alias("digest"))
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
        .orderBy("digest")
    )


@query(
    "dedup_survivors",
    oracle="""
WITH hashed AS (
  SELECT doc_id, lang,
         md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS digest
  FROM documents
),
keepers AS (
  SELECT MIN(doc_id) AS doc_id FROM hashed GROUP BY digest
)
SELECT h.lang, COUNT(*) AS n_docs
FROM hashed h JOIN keepers k ON h.doc_id = k.doc_id
GROUP BY h.lang
ORDER BY h.lang
""",
)
def dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-dedup corpus composition: per-language doc counts after
    keeping one representative per exact-duplicate group — the
    deduped-corpus materialization pattern (window row_number = 1 is
    equivalent; min-id-join shown here because it map-side combines)."""
    d = load(spark, sf_dir, "documents").withColumn(
        "digest", D.content_digest("text")
    )
    keepers = d.groupBy("digest").agg(F.min("doc_id").alias("doc_id"))
    return (
        d.join(keepers, ["doc_id"], "left_semi")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang")
    )


def _token_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(id_a, id_b, jaccard) for every pair id_a < id_b of the first
    150 documents: the unrounded Jaccard of their distinct
    whitespace-token sets — all pairs, so bounded by the slice."""
    d = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 150)
        .select("doc_id", F.array_distinct(F.split("text", " ")).alias("toks"))
    )
    a, b = d.alias("a"), d.alias("b")
    jac = F.size(F.array_intersect("a.toks", "b.toks")).cast("double") / F.size(
        F.array_union("a.toks", "b.toks")
    )
    return a.join(b, F.col("a.doc_id") < F.col("b.doc_id")).select(
        F.col("a.doc_id").alias("id_a"),
        F.col("b.doc_id").alias("id_b"),
        jac.alias("jaccard"),
    )


@query(
    "dedup_ngram_jaccard",
    oracle="""
WITH toksets AS (
  SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
  FROM documents WHERE doc_id < 150
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       ROUND(CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
             / len(list_distinct(list_concat(a.toks, b.toks))), 6) AS jaccard
FROM toksets a JOIN toksets b ON a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
      / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.6
ORDER BY id_a, id_b
""",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact unigram-Jaccard near-dup pairs (J ≥ 0.6) on a bounded
    doc subset — the ground-truth verifier the approximate methods
    (MinHash, SimHash) are measured against in tests.

    Scale: deliberately bounded (doc_id < 150) because all-pairs
    Jaccard is O(n²); the unbounded scale path is minhash_lsh below.
    """
    return (
        _token_jaccard_pairs(spark, sf_dir)
        .select("id_a", "id_b", F.round("jaccard", 6).alias("jaccard"))
        .filter(F.col("jaccard") >= 0.6)
        .orderBy("id_a", "id_b")
    )


def _mh_mins() -> str:
    # the 32 md5-family minima of operators.dedup.minhash_candidate_
    # pairs: family i is 32-bit word (i mod 4) of
    # md5("<i//4>:h") — one digest feeds four families (the Spark
    # side materializes the 8 digests once per shingle row). Minima
    # are kept as 8-char hex strings: fixed-width lowercase hex
    # orders lexicographically == numerically in both engines, and
    # band buckets are string joins of them anyway.
    return ",\n         ".join(
        f"MIN(substring(md5('{i // 4}:' || CAST(h AS VARCHAR)),"
        f" {1 + 8 * (i % 4)}, 8)) AS m{i}"
        for i in range(32)
    )


def _mh_bands(num_bands: int = 8, rows: int = 4) -> str:
    entries = []
    for b in range(num_bands):
        cols = ", ".join(
            f"CAST(m{b * rows + r} AS VARCHAR)" for r in range(rows)
        )
        entries.append(f"{{'band': {b}, 'bucket': concat_ws(',', {cols})}}")
    return ",\n           ".join(entries)


def _mh_cte(source: str, pair_where: str = "", recursive: bool = False) -> str:
    """The md5-portable MinHash-LSH pipeline as a WITH-chain ending
    in `verified(id_a, id_b, jaccard)`; `source` must define
    `src(doc_id, text)`. Shared by every MinHash-backed oracle.
    recursive=True emits WITH RECURSIVE so callers can append
    recursive CTEs (connected components) to the chain."""
    return f"""
WITH {"RECURSIVE " if recursive else ""}{source}, toksets AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM src
), grams AS (
  SELECT doc_id, unnest(
    CASE WHEN len(w) >= 3
         THEN list_transform(range(0, len(w) - 2),
                             i -> concat_ws(' ', w[i+1], w[i+2], w[i+3]))
         ELSE [array_to_string(w, ' ')] END) AS g
  FROM toksets
), hashed AS (
  SELECT doc_id, substring(md5(g), 1, 8) AS h
  FROM grams
), state AS (
  SELECT doc_id,
         list_distinct(list(h)) AS hs,
         {_mh_mins()}
  FROM hashed GROUP BY doc_id
), banded AS (
  SELECT doc_id AS id,
         unnest([{_mh_bands()}]) AS bb
  FROM state
), bflat AS (
  SELECT id, bb.band AS band, bb.bucket AS bucket FROM banded
), cand AS (
  SELECT DISTINCT l.id AS id_a, r.id AS id_b
  FROM bflat l JOIN bflat r
    ON l.band = r.band AND l.bucket = r.bucket AND l.id < r.id
  {pair_where}
), verified AS (
  SELECT c.id_a, c.id_b,
         ROUND(len(list_intersect(a.hs, b.hs)) * 1.0
               / (len(a.hs) + len(b.hs) - len(list_intersect(a.hs, b.hs))),
               6) AS jaccard
  FROM cand c
  JOIN state a ON a.doc_id = c.id_a
  JOIN state b ON b.doc_id = c.id_b
)"""


def _minhash_sql(source: str, pair_where: str, threshold: str) -> str:
    """Complete pair-listing statement over _mh_cte — the full and
    incremental (Δ⋈all) query oracles."""
    return (
        _mh_cte(source, pair_where)
        + f"""
SELECT id_a, id_b, jaccard FROM verified
WHERE jaccard >= {threshold}
ORDER BY id_a, id_b
"""
    )



_REPS_SRC = """reps AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text,
           ROW_NUMBER() OVER (
             PARTITION BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
             ORDER BY doc_id, text) AS rn
    FROM documents) t
  WHERE rn = 1
), src AS (SELECT doc_id, text FROM reps)"""


@query("dedup_minhash_lsh", oracle=_minhash_sql(_REPS_SRC, "", "0.5"))
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs (J ≥ 0.5) via the staged 100 TB pipeline,
    hash-attested END-TO-END: exact-dedup first (one representative
    per identical-text group, so the quadratic stage never sees
    copies), then MinHash-LSH over representatives — 32 md5-portable
    hash-family signature over 3-gram shingles, 8 bands × 4 rows,
    bucket equi-join, exact-Jaccard verification of bucket collisions
    only. The DuckDB oracle replays the WHOLE pipeline — digest
    staging, shingle hashes, all 32 family minima, band collisions,
    verify — value-for-value (operators.dedup.minhash_candidate_pairs;
    its precision/recall stays property-tested in
    tests/test_dedup.py).

    Staging matters: the fixture (like real crawl corpora) is ~10×
    exact copies; LSH on raw docs wastes all its candidate budget on
    identical pairs the digest pass removes for free."""
    d = load(spark, sf_dir, "documents")
    # Representatives via the SHARED session-cached keeper set (r11):
    # dedup_near_dup_prune stages through the identical plan, so both
    # queries consume ONE minhash state frame. min(doc_id) per digest
    # is the same keeper the previous min(struct(doc_id, text)) agg
    # picked (ids are unique) and the same one the oracle's
    # ROW_NUMBER(ORDER BY doc_id, text) picks.
    reps = d.select("doc_id", "text").join(
        D.exact_keeper_ids(d), "doc_id", "left_semi"
    )
    pairs = D.minhash_candidate_pairs(reps, "doc_id", "text")
    # No release handle to forward: the minhash state is session-
    # cached (operators/dedup.py _SESSION_STATE_CACHE, r11).
    return pairs.filter(F.col("jaccard") >= 0.5).orderBy("id_a", "id_b")


_SH32_SUMS = ", ".join(
    f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
    for b in range(32)
)
_SH32_SIG = " + ".join(
    f"(CASE WHEN b{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(32)
)
# Portable 32-bit SimHash signatures in plain SQL — the exact twin of
# operators.dedup.simhash_signatures_md5 (word 2-gram shingles, first
# 8 md5 hex digits as the shingle hash, ±1 per-bit sums, sign rule).
_SIMHASH_SIGS_CTE = f"""
WITH toksets AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), grams AS (
  SELECT doc_id, unnest(list_distinct(
    CASE WHEN len(w) >= 2
         THEN list_transform(range(0, len(w) - 1),
                             i -> w[i+1] || ' ' || w[i+2])
         ELSE [array_to_string(w, ' ')] END)) AS g
  FROM toksets
), hashed AS (
  SELECT doc_id, CAST(('0x' || substring(md5(g), 1, 8)) AS BIGINT) AS h
  FROM grams
), sums AS (
  SELECT doc_id, {_SH32_SUMS} FROM hashed GROUP BY doc_id
), sigs AS (
  SELECT doc_id AS id, {_SH32_SIG} AS sig FROM sums
)"""


@query(
    "dedup_simhash",
    oracle=_SIMHASH_SIGS_CTE
    + """
, band AS (SELECT id, sig, sig & 255 AS blk FROM sigs)
SELECT l.id AS id_a, r.id AS id_b,
       CAST(bit_count(xor(l.sig, r.sig)) AS INT) AS hamming
FROM band l JOIN band r ON l.blk = r.blk AND l.id < r.id
WHERE bit_count(xor(l.sig, r.sig)) <= 4
ORDER BY id_a, id_b
""",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs — hash-attested end-to-end: 32-bit
    md5-portable signatures (operators.dedup.simhash_signatures_md5,
    the md5_bucket idiom from the MinHash estimator query), single
    8-bit chunk blocking, Hamming ≤ 4 verify — every stage exact
    integer algebra the DuckDB oracle replays bit-for-bit. The
    signature and pair operators are property-tested on planted flips
    in tests/test_dedup.py.

    Scale: one explode+hash-agg signature pass, block-bounded
    self-join (never all-pairs) — identical plan shape at either
    signature width. Pairs are materialized eagerly so the cached
    signature state releases before returning."""
    d = load(spark, sf_dir, "documents")
    sig = D.simhash_signatures_md5(d, "doc_id", "text")
    pairs = D.simhash32_pairs(sig, max_hamming=4, tables=1, chunk_bits=8)
    try:
        return pairs.orderBy("id_a", "id_b").localCheckpoint(eager=True)
    finally:
        D.release_state(pairs)


@query(
    "dedup_simhash_multitable",
    oracle=_SIMHASH_SIGS_CTE
    + """
, band AS (
  SELECT id, sig, t, (sig >> (8 * CAST(t AS INT))) & 255 AS blk
  FROM sigs CROSS JOIN (SELECT unnest(range(0, 4)) AS t) ts
), cand AS (
  SELECT DISTINCT l.id AS id_a, r.id AS id_b, l.sig AS sig_a, r.sig AS sig_b
  FROM band l JOIN band r ON l.t = r.t AND l.blk = r.blk AND l.id < r.id
)
SELECT CAST(bit_count(xor(sig_a, sig_b)) AS INT) AS hamming,
       CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM cand
WHERE bit_count(xor(sig_a, sig_b)) <= 4
GROUP BY hamming
ORDER BY hamming
""",
)
def dedup_simhash_multitable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table SimHash near-dup pairs, hash-attested: 4 disjoint
    8-bit chunks of the 32-bit md5-portable signature as band keys
    (operators.dedup.simhash32_pairs — the Manku rotate-and-reblock
    guarantee in join form: any pair within Hamming 3 agrees exactly
    on ≥ 1 chunk by pigeonhole), Hamming ≤ 4 verified once, output
    aggregated to (hamming, n_pairs). The DuckDB oracle replays the
    whole pipeline — signatures, banding, verify — exactly; the
    pigeonhole guarantee stays property-tested on planted bit flips
    (tests/test_dedup.py, tests/test_properties_r06.py).

    Scale: the band explode multiplies only the 16-byte (id, sig)
    table by 4, and each table's self-join is block-bounded exactly
    like LSH bands — never all-pairs."""
    d = load(spark, sf_dir, "documents")
    sig = D.simhash_signatures_md5(d, "doc_id", "text")
    pairs = D.simhash32_pairs(sig, max_hamming=4, tables=4, chunk_bits=8)
    try:
        return (
            pairs.groupBy("hamming")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
            .orderBy("hamming")
            .localCheckpoint(eager=True)
        )
    finally:
        D.release_state(pairs)


@query(
    "dedup_cluster_components",
    oracle="""
WITH RECURSIVE toksets AS (
  SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks
  FROM documents WHERE doc_id < 150
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM toksets a JOIN toksets b ON a.doc_id < b.doc_id
  WHERE CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE)
        / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.6
), edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION SELECT id_b, id_a FROM pairs
), reach AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
)
SELECT d.doc_id, LEAST(d.doc_id, COALESCE(MIN(r.b), d.doc_id)) AS component
FROM (SELECT doc_id FROM documents WHERE doc_id < 150) d
LEFT JOIN reach r ON r.a = d.doc_id
GROUP BY d.doc_id
ORDER BY d.doc_id
""",
)
def dedup_cluster_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive duplicate clusters: unigram-Jaccard pairs (J ≥ 0.6,
    same bounded subset as dedup_ngram_jaccard) resolved into
    connected components — a~b and b~c must cluster a, b, c together
    even though a~c was never emitted. Iterative min-label propagation
    (operators.graph.connected_components); the oracle is a DuckDB
    recursive CTE computing min-reachable-id per doc, so this
    fixpoint op is still hash-checked end-to-end.

    Scale: candidate pairs come from LSH banding (never all-pairs);
    CC rounds = cluster diameter (2-4 for copy-clusters), each round
    one join + one groupBy on the (tiny) edge set — the cluster
    resolution cost is negligible next to pair generation."""
    from ibd_pipeline_spark.operators.graph import connected_components

    pairs = (
        _token_jaccard_pairs(spark, sf_dir)
        .select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"), "jaccard")
        .filter(F.col("jaccard") >= 0.6)
    )
    comps = connected_components(pairs, "src", "dst")
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 150).select("doc_id")
    return (
        docs.join(comps, docs.doc_id == comps.vertex, "left")
        .select(
            "doc_id",
            F.coalesce("component", F.col("doc_id")).alias("component"),
        )
        .orderBy("doc_id")
    )


def _pagerank_canonical_oracle() -> str:
    """operators/graph.py:pagerank (6 rounds, d=0.85) + recursive-CTE
    connected components over the md5-portable MinHash pair graph,
    unrolled to SQL. Round CTEs are MATERIALIZED (each referenced
    twice downstream — the label-prop lesson). The damping rebase
    constant is written as the exact IEEE double Python's 1.0 - 0.85
    produces, so both engines iterate the identical recurrence; sum
    order still differs across engines (~1e-16 drift over 6 rounds),
    far inside the 4-dp output rounding and the within-component
    rank-gap scale."""
    rebase = repr(1.0 - 0.85)
    rounds = []
    for k in range(1, 7):
        prev = f"r{k - 1}"
        rounds.append(f"""r{k} AS MATERIALIZED (
  SELECT d0.u,
         {rebase} + 0.85 * COALESCE(inf.inflow, 0.0) AS rank
  FROM deg d0
  LEFT JOIN (
    SELECT e.v AS u, SUM(r.rank / d.deg) AS inflow
    FROM und e JOIN {prev} r ON r.u = e.u JOIN deg d ON d.u = e.u
    GROUP BY e.v
  ) inf ON inf.u = d0.u
)""")
    chain = ",\n".join(rounds)
    return (
        _mh_cte(
            "src AS (SELECT doc_id, text FROM documents WHERE doc_id < 150)",
            recursive=True,
        )
        + f""",
jp AS (
  SELECT id_a, id_b FROM verified WHERE jaccard >= 0.6
), und AS MATERIALIZED (
  SELECT DISTINCT u, v FROM (
    SELECT id_a AS u, id_b AS v FROM jp
    UNION ALL SELECT id_b, id_a FROM jp) x
), deg AS MATERIALIZED (
  SELECT u, COUNT(*) AS deg FROM und GROUP BY u
), r0 AS (
  SELECT u, 1.0 AS rank FROM deg
),
{chain},
reach AS (
  SELECT u AS a, v AS b FROM und
  UNION
  SELECT r.a, e.v FROM reach r JOIN und e ON r.b = e.u
), comp AS (
  SELECT v.u AS vertex, LEAST(v.u, MIN(r.b)) AS component
  FROM (SELECT DISTINCT u FROM und) v
  LEFT JOIN reach r ON r.a = v.u
  GROUP BY v.u
)
SELECT component, doc_id AS canonical_doc, ROUND(rank, 4) AS rank
FROM (
  SELECT c.component, r.u AS doc_id, r.rank,
         ROW_NUMBER() OVER (PARTITION BY c.component
                            ORDER BY r.rank DESC, r.u) AS rn
  FROM r6 r JOIN comp c ON c.vertex = r.u) t
WHERE rn = 1
ORDER BY component
"""
    )


@query("dedup_pagerank_canonical", oracle=_pagerank_canonical_oracle)
def dedup_pagerank_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-document selection by centrality: PageRank over the
    bounded Jaccard near-dup pair graph (same ≥0.6 pairs as
    dedup_ngram_jaccard), then per connected component keep the
    highest-ranked doc — "the most representative copy", the
    curation rule that beats keep-lowest-id when clusters chain
    through weak links. Hash-attested: both fixpoints unroll to SQL
    over the md5-portable pair graph (_pagerank_canonical_oracle —
    6 PageRank rounds as MATERIALIZED CTEs + recursive-CTE
    components); mass conservation and convergence stay
    property-tested in tests/test_graph.py.

    Scale: both iterations are one join + one aggregate per round on
    vertex-partitioned state; the pair graph is seeded from the
    MinHash-LSH bucketed band join (`minhash_candidate_pairs`) — the
    same O(n·bands) shuffle dedup_minhash_lsh rides, never an
    all-pairs product. The doc_id < 150 slice bounds the ITERATION
    cost for the bench, not the join shape."""
    from ibd_pipeline_spark.operators.dedup import (
        minhash_candidate_pairs,
        release_state,
    )
    from ibd_pipeline_spark.operators.graph import connected_components, pagerank

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    cand = minhash_candidate_pairs(d)
    pairs = (
        cand.filter(F.col("jaccard") >= 0.6)
        .select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )
    # Both fixpoint algorithms seed from the same pair graph; cache it
    # so the LSH band join runs once, not once per algorithm's first
    # checkpointed round.
    pairs = pairs.cache()
    from pyspark.sql import Window

    w = Window.partitionBy("component").orderBy(
        F.col("rank").desc(), F.col("doc_id")
    )
    try:
        ranks = pagerank(pairs, iters=6)
        comps = connected_components(pairs, src="src", dst="dst")
        out = (
            ranks.join(comps, ranks["vertex"] == comps["vertex"])
            .select(ranks["vertex"].alias("doc_id"), "component", "rank")
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(
                "component",
                F.col("doc_id").alias("canonical_doc"),
                F.round("rank", 4).alias("rank"),
            )
            .orderBy("component")
        )
        # Materialize before releasing the cached pair graph: the
        # checkpointed iteration state no longer references it.
        out = out.localCheckpoint(eager=True)
    finally:
        pairs.unpersist()
        release_state(cand)
    return out


def _label_prop_oracle() -> str:
    """operators/graph.py:label_propagation unrolled to SQL: 5 rounds
    of neighbor-majority voting (argmax by ROW_NUMBER over cnt DESC,
    label — the min(struct(-cnt, label)) tie rule), over the
    md5-portable MinHash pair graph. The loop's early exit compares
    the (v, lbl) state at truncation rounds 2 and 4 and returns the
    ROUND-4 state when they match (a fixpoint — or, in principle, a
    period-2 cycle) — reproduced exactly with an EXCEPT-based
    equality gate selecting state4 vs state5. The state CTEs are
    MATERIALIZED: each round references its predecessor twice (votes
    join + carry-forward LEFT JOIN), so letting DuckDB inline them
    doubles the plan per round — 2^5 copies of the whole MinHash
    pipeline, minutes instead of seconds."""
    rounds = []
    for k in range(1, 6):
        prev = f"s{k - 1}"
        rounds.append(f"""votes{k} AS (
  SELECT e.a AS v, s.lbl AS nl, COUNT(*) AS cnt
  FROM sym e JOIN {prev} s ON s.v = e.b
  WHERE s.lbl IS NOT NULL
  GROUP BY e.a, s.lbl
), best{k} AS (
  SELECT v, nl AS new_lbl FROM (
    SELECT v, nl,
           ROW_NUMBER() OVER (PARTITION BY v ORDER BY cnt DESC, nl) AS rn
    FROM votes{k}) x WHERE rn = 1
), s{k} AS MATERIALIZED (
  SELECT s.v,
         CASE WHEN s.is_seed THEN s.lbl
              ELSE COALESCE(b.new_lbl, s.lbl) END AS lbl,
         s.is_seed
  FROM {prev} s LEFT JOIN best{k} b ON b.v = s.v
)""")
    chain = ",\n".join(rounds)
    return (
        _mh_cte("src AS (SELECT doc_id, text FROM documents WHERE doc_id < 150)")
        + f""",
jpairs AS (
  SELECT id_a, id_b FROM verified WHERE jaccard >= 0.6
), sym AS MATERIALIZED (
  SELECT id_a AS a, id_b AS b FROM jpairs
  UNION ALL SELECT id_b, id_a FROM jpairs
), verts AS (
  SELECT DISTINCT a AS v FROM sym
), seeds AS (
  SELECT doc_id AS v, source AS lbl FROM documents
  WHERE doc_id < 150 AND doc_id % 3 = 0
), s0 AS MATERIALIZED (
  SELECT vt.v, sd.lbl, sd.lbl IS NOT NULL AS is_seed
  FROM verts vt LEFT JOIN seeds sd ON sd.v = vt.v
  UNION ALL
  SELECT sd.v, sd.lbl, TRUE AS is_seed
  FROM seeds sd LEFT JOIN verts vt ON vt.v = sd.v WHERE vt.v IS NULL
),
{chain},
diff24 AS (
  SELECT COUNT(*) AS n FROM (
    SELECT v, lbl FROM s4 EXCEPT SELECT v, lbl FROM s2) x
), final AS (
  SELECT * FROM s4 WHERE (SELECT n FROM diff24) = 0
  UNION ALL
  SELECT * FROM s5 WHERE (SELECT n FROM diff24) > 0
), truth AS (
  SELECT doc_id AS v, source FROM documents WHERE doc_id < 150
)
SELECT f.lbl AS label, f.is_seed,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(CASE WHEN f.lbl = t.source THEN 1 END) AS BIGINT) AS n_agree
FROM final f JOIN truth t ON t.v = f.v
GROUP BY f.lbl, f.is_seed
ORDER BY label NULLS FIRST, is_seed
"""
    )


@query("dedup_label_propagation", oracle=_label_prop_oracle)
def dedup_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised source attribution over the near-dup graph:
    seed every doc whose id is divisible by 3 with its `source` label,
    then propagate labels across the MinHash-LSH pair graph (5 rounds
    of neighbor-majority voting, ties lexicographic — see
    operators/graph.py:label_propagation). The curation use: an
    UNLABELED crawl shard inherits provenance/license labels from the
    near-duplicate copies that ARE labeled.

    Hash-attested: every step is exact integer/string algebra, so
    the 5 voting rounds (and the loop's state4-vs-state2 early-exit
    gate) unroll to a DuckDB oracle over the md5-portable pair graph
    (_label_prop_oracle); seed stability, two-clique separation, and
    tie determinism stay property-tested in tests/test_graph.py. Output: per reached
    vertex, the inferred label and whether it was a seed, plus the
    doc's true source for an agreement readout — aggregated to
    (label, is_seed, n_docs, n_agree) so the record is compact and
    partition-invariant.

    Scale: per round one join of vertex state (1 row/vertex) against
    the symmetrized pair list + a count/argmax aggregate; the LSH
    band join provides the edges — same shuffle budget as every
    near-dup query. The doc_id < 150 slice bounds bench iteration
    cost only."""
    from ibd_pipeline_spark.operators.dedup import minhash_candidate_pairs
    from ibd_pipeline_spark.operators.graph import label_propagation

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    pairs = (
        minhash_candidate_pairs(d)
        .filter(F.col("jaccard") >= 0.6)
        .select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )
    seeds = d.filter(F.col("doc_id") % 3 == 0).select(
        F.col("doc_id").alias("vertex"), F.col("source").alias("label")
    )
    labeled = label_propagation(pairs, seeds)
    truth = d.select(F.col("doc_id").alias("vertex"), "source")
    return (
        labeled.join(truth, "vertex")
        .groupBy("label", "is_seed")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.count(F.when(F.col("label") == F.col("source"), 1))
            .cast("bigint")
            .alias("n_agree"),
        )
        .orderBy("label", "is_seed")
    )


@query(
    "dedup_incremental_lsh",
    oracle=_minhash_sql(
        "src AS (SELECT doc_id, text FROM documents)",
        "WHERE l.id % 5 = 0 OR r.id % 5 = 0",
        "0.6",
    ),
)
def dedup_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup candidate generation, hash-attested: 20%
    of the corpus (doc_id % 5 == 0) arrives as an insert delta, and
    the band join runs in Δ⋈all mode — base×base pairs, already
    materialized by the previous run, are never re-enumerated
    (operators/dedup.py:minhash_candidate_pairs restrict_to). This is
    the LSH face of insert-only incremental view maintenance: daily
    dedup cost scales with the delta, not the corpus. With the
    md5-portable signature mode the DuckDB oracle replays the full
    Δ-touching pipeline (the Δ membership reduces to a pair
    predicate in SQL); the exact identity pairs(all) = pairs(base) ∪
    pairs(Δ-touching) stays property-tested in tests/test_dedup.py.

    Output: the Δ-touching verified pairs (id_a, id_b, jaccard ≥ 0.6)
    — what a production run would append to the pair store before
    re-resolving components.
    """
    from ibd_pipeline_spark.operators.dedup import (
        minhash_candidate_pairs,
        release_state,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    delta = docs.filter(F.col("doc_id") % 5 == 0).select("doc_id")
    cand = minhash_candidate_pairs(docs, restrict_to=delta)
    out = (
        cand.filter(F.col("jaccard") >= 0.6)
        .orderBy("id_a", "id_b")
    )
    # The minhash state is session-cached (r11) — nothing to forward.
    return out


def _source_overlap_oracle() -> str:
    """The md5-portable pair graph (doc_id < 400, J ≥ 0.5) joined to
    each side's `source`, collapsed to the unordered source pair."""
    return (
        _mh_cte("src AS (SELECT doc_id, text FROM documents WHERE doc_id < 400)")
        + """
SELECT LEAST(da.source, db.source) AS source_a,
       GREATEST(da.source, db.source) AS source_b,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       ROUND(AVG(v.jaccard), 6) AS avg_jaccard
FROM verified v
JOIN documents da ON da.doc_id = v.id_a
JOIN documents db ON db.doc_id = v.id_b
WHERE v.jaccard >= 0.5
GROUP BY 1, 2
ORDER BY source_a, source_b
"""
    )


@query("dedup_source_overlap_matrix", oracle=_source_overlap_oracle)
def dedup_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus contamination MATRIX: near-dup pairs (MinHash-LSH,
    J ≥ 0.5) rolled up to the unordered (source, source) pair with
    pair counts and mean Jaccard — the curation question "which of my
    corpora duplicate each other, and how badly" in one relation.
    Within-source rows (source_a == source_b) measure internal
    redundancy; off-diagonal rows are the cross-corpus leakage that
    train/eval splits must respect (dedup_cross_corpus_anti is the
    targeted two-corpus variant; this is the all-pairs overview).
    Hash-attested end-to-end via the md5-portable pair graph.

    Scale: pair generation is the attested banded-LSH shape (never
    all-pairs); the source lookup is two joins against the (doc_id,
    source) projection — at 100 TB, broadcast if the doc dimension
    fits, else it co-partitions with the pair list on doc id. The
    matrix itself is |sources|² bounded. The doc_id < 400 slice
    bounds BENCH cost, not the join shape."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 400)
    pairs = D.minhash_candidate_pairs(d).filter(
        F.col("jaccard") >= 0.5
    )
    src = d.select("doc_id", "source")
    out = (
        pairs.join(
            F.broadcast(src).withColumnsRenamed(
                {"doc_id": "id_a", "source": "src_a"}
            ),
            "id_a",
        )
        .join(
            F.broadcast(src).withColumnsRenamed(
                {"doc_id": "id_b", "source": "src_b"}
            ),
            "id_b",
        )
        .groupBy(
            F.least("src_a", "src_b").alias("source_a"),
            F.greatest("src_a", "src_b").alias("source_b"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.avg("jaccard"), 6).alias("avg_jaccard"),
        )
        .orderBy("source_a", "source_b")
    )
    out = out.localCheckpoint(eager=True)
    D.release_state(pairs)
    return out


# ---------------------------------------------------------------------------
# (moved from round10_similarity.py in the r14 chronological->topic split;
# registry names, semantics, and oracles unchanged)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# EXACT Jaccard similarity join via prefix filtering (PPJoin-style)
# ---------------------------------------------------------------------------

_PFJ_TAU_NUM, _PFJ_TAU_DEN = 3, 5  # tau = 0.6 as an exact fraction

_PREFIX_JACCARD_SQL = """
WITH raw AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), d AS (
  SELECT doc_id,
         list_distinct(
           CASE WHEN len(w) >= 3
                THEN list_transform(range(1, len(w) - 1),
                       i -> array_to_string(list_slice(w, i, i + 2), ' '))
                ELSE [array_to_string(w, ' ')] END) AS toks
  FROM raw
), tf AS (
  SELECT u.tok, CAST(COUNT(*) AS BIGINT) AS freq
  FROM d, unnest(d.toks) AS u(tok) GROUP BY u.tok
), st AS (
  SELECT doc_id, array_agg(tok ORDER BY freq, tok) AS stoks,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM (SELECT d.doc_id, u.tok, tf.freq
        FROM d, unnest(d.toks) AS u(tok) JOIN tf USING (tok))
  GROUP BY doc_id
), pref AS (
  SELECT doc_id, u.tok
  FROM st, unnest(list_slice(stoks, 1,
         CAST(n - CEIL(0.6 * n) + 1 AS BIGINT))) AS u(tok)
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM pref a JOIN pref b ON a.tok = b.tok AND a.doc_id < b.doc_id
)
SELECT c.id_a, c.id_b,
       CAST(len(list_intersect(x.toks, y.toks)) AS BIGINT) AS n_inter,
       CAST(len(list_distinct(list_concat(x.toks, y.toks))) AS BIGINT)
         AS n_union
FROM cand c JOIN d x ON x.doc_id = c.id_a JOIN d y ON y.doc_id = c.id_b
WHERE 5 * len(list_intersect(x.toks, y.toks))
      >= 3 * len(list_distinct(list_concat(x.toks, y.toks)))
ORDER BY id_a, id_b
"""


@query("dedup_prefix_filter_jaccard", oracle=_PREFIX_JACCARD_SQL)
def dedup_prefix_filter_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT Jaccard similarity join (J ≥ 0.6 on 3-gram shingle sets)
    via prefix filtering — the database-literature counterpart of the
    MinHash-LSH family (PPJoin lineage: Xiao et al., WWW'08): order
    every document's shingle set by ASCENDING GLOBAL FREQUENCY
    (rarest first, ties by shingle) and keep only the first
    n − ⌈τ·n⌉ + 1 shingles as its PREFIX; two sets with J ≥ τ MUST
    share a prefix element (pigeonhole on the τ-overlap), so the
    candidate join runs on prefix shingles only — rare by
    construction — and the exact |∩|/|∪| verification touches
    candidates, never all pairs. Unlike LSH this is EXACT: zero
    false negatives, no banding probability. The τ gate is the
    cross-multiplied integer comparison 5·|∩| ≥ 3·|∪|, outputs are
    BIGINTs — no float anywhere.

    Shingles, not word sets: over a small vocabulary nearly every
    pair of word SETS is Jaccard-similar (measured: 71k of 125k
    pairs at sf0.01), which guts the filter; 3-gram shingles are the
    same distinctive unit the MinHash family blocks on.

    Scale: shingle frequencies are one vocab-sized aggregate; the
    prefix join's fan-out is bounded by rare-shingle postings (the
    frequency ordering is exactly what keeps stop-shingles OUT of
    prefixes); verification is per-candidate set algebra. At 100 TB
    this is the exact-dedup sibling you run where LSH recall
    arguments don't fly (dedup_minhash_lsh stays the approximate
    scale path)."""
    par = spark.sparkContext.defaultParallelism
    # words MUST be PHYSICALLY materialized before the gram transform:
    # CollapseProject inlines a projected split(text) straight back
    # into the lambda (measured 30 split() copies in the executed
    # plan), so each gram re-splits the whole text — O(len²) per doc.
    # A projection barrier is not enough; the checkpoint is.
    w = F.col("w")
    nw = F.size(w)
    k = 3
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(w, i + j + 1) for j in range(k)]
    )
    sh = F.array_distinct(
        F.when(nw >= k, F.transform(F.sequence(F.lit(0), nw - k), gram))
        .otherwise(F.array(F.concat_ws(" ", w)))
    )
    d = (
        load(spark, sf_dir, "documents")
        .repartition(par)  # single-split corpus would serialize
        .select("doc_id", F.split("text", " ").alias("w"))
        .localCheckpoint(eager=True)  # split exactly once (see above)
        .select("doc_id", sh.alias("toks"))
        .localCheckpoint(eager=True)  # verify join reads it twice
    )
    tok = d.select("doc_id", F.explode("toks").alias("tok"))
    # r15: document frequency as ONE count-over-window keyed on tok
    # (clusters by tok once) instead of a groupBy(tok) aggregate +
    # join back (paid the tok-shuffle twice); freq values identical.
    from pyspark.sql import Window as _W

    wfreq = F.count(F.lit(1)).over(_W.partitionBy("tok")).cast("bigint")
    st = (
        tok.withColumn("freq", wfreq)
        .groupBy("doc_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("freq", "tok"))),
                lambda s: s["tok"],
            ).alias("stoks"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
    )
    plen = (F.col("n") - F.ceil(0.6 * F.col("n")) + 1).cast("int")
    pref = (
        st.select(
            "doc_id",
            "n",
            F.explode(F.slice("stoks", F.lit(1), plen)).alias("tok"),
        )
        .localCheckpoint(eager=True)  # self-join: evaluate ONCE
    )
    a, b = pref.alias("a"), pref.alias("b")
    cand = (
        a.join(b, (F.col("a.tok") == F.col("b.tok"))
               & (F.col("a.doc_id") < F.col("b.doc_id"))
               # r15 PPJoin length filter: J ≥ τ ⟹ τ·max(na,nb) ≤
               # min — prunes candidates at the join with zero false
               # negatives (J ≤ min/max), so the τ-gated output is
               # bit-identical
               & (F.lit(_PFJ_TAU_DEN) * F.col("a.n")
                  >= F.lit(_PFJ_TAU_NUM) * F.col("b.n"))
               & (F.lit(_PFJ_TAU_DEN) * F.col("b.n")
                  >= F.lit(_PFJ_TAU_NUM) * F.col("a.n")))
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
        # the candidate frame is BYTE-small but each row costs a full
        # shingle-set intersection below — repartition so AQE's
        # size-based coalesce doesn't serialize the verify onto 2
        # tasks (measured 8 s -> ~2 s at sf0.1)
        .repartition(par)
    )
    x = d.select(F.col("doc_id").alias("id_a"), F.col("toks").alias("ta"))
    y = d.select(F.col("doc_id").alias("id_b"), F.col("toks").alias("tb"))
    ni = F.size(F.array_intersect("ta", "tb")).cast("bigint")
    # |∪| = |A| + |B| − |∩| on distinct arrays — saves the second
    # per-pair array traversal (array_union) for identical integers
    nu = (F.size("ta") + F.size("tb")).cast("bigint") - ni
    return (
        cand.join(x, "id_a")
        .join(y, "id_b")
        .select("id_a", "id_b", ni.alias("n_inter"), nu.alias("n_union"))
        .filter(
            F.lit(_PFJ_TAU_DEN) * F.col("n_inter")
            >= F.lit(_PFJ_TAU_NUM) * F.col("n_union")
        )
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# (moved from round6.py in the r14 chronological->topic split;
# registry names, semantics, and oracles unchanged)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# MinHash Jaccard estimator, oracle-attested
# ---------------------------------------------------------------------------

_MINHASH_FAMILIES = 16
# Carter–Wegman universal-hash mixing: each family f maps the ONE
# md5 digest of a shingle to (a_f·h + b_f) mod p — md5 runs once per
# shingle instead of once per (shingle × family) (r10; the per-family
# md5 made this the registry's slowest query at 11 s). p = 2³¹−1 keeps
# a_f·h < 2⁶² (BIGINT-safe in both engines, DuckDB raises on overflow).
_MINHASH_P = 2147483647
_MINHASH_AB = [
    ((2654435761 * (f + 1)) % _MINHASH_P, (40503 * (f + 7)) % _MINHASH_P)
    for f in range(_MINHASH_FAMILIES)
]
_MINHASH_FAM_VALUES = ", ".join(
    f"({f}, {a}, {b})" for f, (a, b) in enumerate(_MINHASH_AB)
)

_MINHASH_EST_SQL = f"""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS toks
  FROM documents WHERE doc_id < 400
), s AS (
  SELECT doc_id,
         list_distinct(
           CASE WHEN len(toks) >= 3
                THEN list_transform(range(1, len(toks) - 1),
                       i -> array_to_string(list_slice(toks, i, i + 2), ' '))
                ELSE [array_to_string(toks, ' ')] END) AS sh
  FROM d
), sb AS (
  SELECT doc_id,
         CAST(('0x' || substring(md5(u.sh_e), 1, 15)) AS BIGINT)
           % {_MINHASH_P} AS hb
  FROM s, unnest(s.sh) AS u(sh_e)
), m AS (
  SELECT doc_id, f.f,
         MIN((f.a * hb + f.b) % {_MINHASH_P}) AS mh
  FROM sb CROSS JOIN (VALUES {_MINHASH_FAM_VALUES}) f(f, a, b)
  GROUP BY doc_id, f.f
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS n_inter,
         CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS BIGINT) AS n_union
  FROM s a JOIN s b ON a.doc_id < b.doc_id
  WHERE 10 * len(list_intersect(a.sh, b.sh))
        >= len(list_distinct(list_concat(a.sh, b.sh)))
)
SELECT p.id_a, p.id_b, p.n_inter, p.n_union,
       CAST(SUM(CASE WHEN ma.mh = mb.mh THEN 1 ELSE 0 END) AS BIGINT) AS n_match
FROM pairs p
JOIN m ma ON ma.doc_id = p.id_a
JOIN m mb ON mb.doc_id = p.id_b AND mb.f = ma.f
GROUP BY p.id_a, p.id_b, p.n_inter, p.n_union
ORDER BY p.id_a, p.id_b
"""


def _md5_shingle_base(sh: F.Column) -> F.Column:
    """ONE engine-portable hash per shingle: first 15 hex digits
    (60 bits, signed-BIGINT-safe) of md5(shingle), reduced mod p so
    every family mix below stays overflow-free. DuckDB twin inline in
    the oracle (`sb` CTE)."""
    return F.transform(
        sh,
        lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint")
        % _MINHASH_P,
    )


def _minhash_sig(hb: F.Column) -> F.Column:
    """16-component MinHash signature from the per-shingle base
    hashes: family f is min over shingles of (a_f·h + b_f) mod p —
    integer algebra both engines replay exactly; md5 itself ran once
    per shingle in _md5_shingle_base."""
    def fam(a: int, b: int):
        # closure factory, NOT default args: PySpark HOF lambdas are
        # arity-inspected, so extra defaulted params break binding
        return lambda x: (F.lit(a) * x + F.lit(b)) % _MINHASH_P

    return F.array(
        *[F.array_min(F.transform(hb, fam(a, b))) for a, b in _MINHASH_AB]
    )


@query("dedup_minhash_jaccard_estimate", oracle=_MINHASH_EST_SQL)
def dedup_minhash_jaccard_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash Jaccard ESTIMATION accuracy, hash-attested end-to-end:
    for every candidate pair (exact J ≥ 0.1 on the bounded doc_id <
    400 subset), the exact intersection/union sizes next to the
    number of agreeing MinHash components (16 families — ONE md5 per
    shingle, Carter–Wegman-mixed per family; E[n_match/16] = J, the
    estimator the MinHash LSH pipeline relies on).

    Everything integer: the J ≥ 0.1 gate is the cross-multiplied
    10·|∩| ≥ |∪|, outputs are (n_inter, n_union, n_match) BIGINTs —
    no float ever rounds, so the DuckDB comparison is exact, making
    this the oracle-attested face of the otherwise rows-only MinHash
    family.

    Scale: the all-pairs join exists ONLY inside the oracle-bounded
    subset (400 docs); at corpus scale pair enumeration is the LSH
    band join (dedup_minhash_lsh), and this query is the estimator-
    calibration audit you run on a sampled slice."""
    d = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 400)
        .select("doc_id", F.split("text", " ").alias("toks"))
    )
    n = F.size("toks")
    k = 3
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(F.col("toks"), i + j + 1) for j in range(k)]
    )
    sh = F.array_distinct(
        F.when(
            n >= k,
            F.transform(F.sequence(F.lit(0), n - k), gram),
        ).otherwise(F.array(F.concat_ws(" ", F.col("toks"))))
    )
    par = spark.sparkContext.defaultParallelism
    s = (
        # the 400-doc audit slice is ONE parquet split — widen first
        # or the signature build and the pair join serialize on one
        # core (r10: measured 9.9 s -> ~2 s)
        d.repartition(par)
        .select("doc_id", sh.alias("sh"))
        # materialize the per-shingle base hashes as a COLUMN so the
        # md5 runs once, not once per family transform below
        .withColumn("hb", _md5_shingle_base(F.col("sh")))
        .select("doc_id", "sh", _minhash_sig(F.col("hb")).alias("sig"))
        # materialize ONCE: the self-join would otherwise evaluate the
        # whole shingle+md5 subtree twice (once per side)
        .localCheckpoint(eager=True)
    )
    a, b = s.alias("a"), s.alias("b")
    n_inter = F.size(F.array_intersect("a.sh", "b.sh")).cast("bigint")
    n_union = F.size(F.array_union("a.sh", "b.sh")).cast("bigint")
    n_match = F.size(
        F.filter(
            F.zip_with("a.sig", "b.sig", lambda x, y: x == y),
            lambda m: m,
        )
    ).cast("bigint")
    return (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            n_inter.alias("n_inter"),
            n_union.alias("n_union"),
            n_match.alias("n_match"),
        )
        .filter(F.lit(10) * F.col("n_inter") >= F.col("n_union"))
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# Quality-aware exact-dedup survivorship
# ---------------------------------------------------------------------------

_SURVIVOR_SQL = """
WITH d AS (
  SELECT doc_id, source, n_chars,
         md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS digest
  FROM documents
), r AS (
  SELECT source, n_chars, doc_id,
         ROW_NUMBER() OVER (PARTITION BY digest
                            ORDER BY n_chars DESC, doc_id) AS rk
  FROM d
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(*) FILTER (rk = 1) AS BIGINT) AS n_survivors,
       CAST(COUNT(*) FILTER (rk > 1) AS BIGINT) AS n_dropped,
       CAST(SUM(n_chars) FILTER (rk = 1) AS BIGINT) AS survivor_chars
FROM r
GROUP BY source
ORDER BY source
"""


@query("dedup_quality_survivor", oracle=_SURVIVOR_SQL)
def dedup_quality_survivor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup with a SURVIVORSHIP RULE: group by normalized
    content digest (dedup_exact's md5 normalization), keep the
    longest copy, ties to the smallest doc_id — the 'best version
    wins' policy curation pipelines apply instead of arbitrary
    first-seen. Output per source: docs, survivors, dropped, and
    surviving chars — all BIGINT, exact oracle.

    Scale: ONE shuffle on the 128-bit digest (the window partition
    key); rank-1 selection is a streaming window, no second pass.
    The digest groupBy co-partitions with any later per-digest
    join."""
    from pyspark.sql import Window

    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        "n_chars",
        F.md5(
            F.lower(F.trim(F.regexp_replace("text", r"\s+", " ")))
        ).alias("digest"),
    )
    w = Window.partitionBy("digest").orderBy(F.col("n_chars").desc(), "doc_id")
    r = d.select("source", "n_chars", F.row_number().over(w).alias("rk"))
    return (
        r.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.count(F.when(F.col("rk") == 1, 1)).cast("bigint").alias("n_survivors"),
            F.count(F.when(F.col("rk") > 1, 1)).cast("bigint").alias("n_dropped"),
            F.sum(F.when(F.col("rk") == 1, F.col("n_chars")))
            .cast("bigint")
            .alias("survivor_chars"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# (moved from round11b.py in the r14 chronological->topic split;
# registry names, semantics, and oracles unchanged)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# Cross-document duplicated n-gram coverage (Lee et al. 2022)
# ---------------------------------------------------------------------------

_NGRAM_N = 10
_COV_SQL = f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
), sh AS (
  SELECT doc_id, unnest(list_distinct(
    CASE WHEN len(t) >= {_NGRAM_N} THEN
      list_transform(generate_series(1, len(t) - {_NGRAM_N - 1}),
                     i -> array_to_string(t[i:i+{_NGRAM_N - 1}], ' '))
    ELSE [] END)) AS gram
  FROM toks
), df AS (
  SELECT gram, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM sh GROUP BY gram
), cov AS (
  SELECT s.doc_id,
         CAST(COUNT(*) AS BIGINT) AS total_grams,
         CAST(SUM(CASE WHEN d.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS dup_grams
  FROM sh s JOIN df d USING (gram)
  GROUP BY s.doc_id
)
SELECT doc_id, total_grams, dup_grams,
       ROUND(CAST(dup_grams AS DOUBLE) / total_grams, 6) AS dup_coverage
FROM cov
ORDER BY dup_coverage DESC, doc_id
LIMIT 20
"""


@query("dedup_ngram_coverage", oracle=_COV_SQL)
def dedup_ngram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated n-gram coverage — the Lee et al.
    2022 ("Deduplicating Training Data Makes Language Models
    Better") corpus diagnostic: for each document, what fraction of
    its distinct 10-grams appears in at least one OTHER document?
    Near-1 coverage = the document is (almost) entirely duplicated
    text; the ranked head is the dedup worklist, and the corpus-
    level mass estimates how much of the training set is repeats.

    Scale: explode distinct grams per doc (one map pass), groupBy
    gram for document frequency (the one data-sized shuffle — gram
    keys hash-partition evenly), join postings back and reduce per
    doc. Never pairwise: cost is O(total grams), not O(docs²).
    Top-20 via TakeOrdered, ties broken by doc_id.
    """
    from ibd_pipeline_spark.catalog import load_wide
    from ibd_pipeline_spark.queries.llmdata import _shingles

    # load_wide (r12): single-split scan serialized the shingle build
    docs = load_wide(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                _shingles(F.split(F.col("text"), " "), _NGRAM_N)
            )
        ).alias("gram"),
    )
    df_counts = sh.groupBy("gram").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    cov = (
        sh.join(df_counts, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("total_grams"),
            F.sum((F.col("n_docs") >= 2).cast("int"))
            .cast("bigint")
            .alias("dup_grams"),
        )
    )
    return (
        cov.select(
            "doc_id",
            "total_grams",
            "dup_grams",
            F.round(
                F.col("dup_grams").cast("double") / F.col("total_grams"), 6
            ).alias("dup_coverage"),
        )
        .orderBy(F.col("dup_coverage").desc(), "doc_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# (moved from round11c.py in the r14 chronological->topic split;
# registry names, semantics, and oracles unchanged)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# SemDeDup: semantic near-dup pruning via k-means cluster blocking
# ---------------------------------------------------------------------------

_SEM_THETA = "0.30"  # cosine epsilon, calibrated to this corpus (p99)


def _semdedup_oracle() -> str:
    """DuckDB CTE unroll: the identical fixed-point Lloyd fixpoint as
    queries/similarity.py:_kmeans_oracle (k=8, 4 iters, FLOOR·1e12
    BIGINT distances, lowest-id init), extended past the final
    assignment with the within-cluster fixed-point cosine pair scan."""
    from ibd_pipeline_spark.queries.similarity import _KM_DIM, _lloyd_sql

    return _lloyd_sql() + f""", asg AS (
  SELECT vec_id, cent_id FROM fb WHERE rn = 1
), nf AS (
  SELECT e.vec_id,
         (SELECT SUM(CAST(FLOOR(e.v[i] * e.v[i] * 1000000000000.0)
                          AS BIGINT))
          FROM UNNEST(generate_series(1,{_KM_DIM})) t(i)) AS nfp
  FROM e
), pairs AS (
  SELECT aa.cent_id, aa.vec_id AS ia, ab.vec_id AS ib,
         ROUND(
           CAST((SELECT SUM(CAST(FLOOR(ea.v[i] * eb.v[i] * 1000000000000.0)
                                 AS BIGINT))
                 FROM UNNEST(generate_series(1,{_KM_DIM})) t(i)) AS DOUBLE)
           / sqrt(CAST(na.nfp AS DOUBLE) * CAST(nb.nfp AS DOUBLE)), 9)
           AS cs
  FROM asg aa JOIN asg ab
    ON aa.cent_id = ab.cent_id AND aa.vec_id < ab.vec_id
  JOIN e ea ON ea.vec_id = aa.vec_id
  JOIN e eb ON eb.vec_id = ab.vec_id
  JOIN nf na ON na.vec_id = aa.vec_id
  JOIN nf nb ON nb.vec_id = ab.vec_id
), pc AS (
  SELECT cent_id,
         CAST(COUNT(*) FILTER (cs >= {_SEM_THETA}) AS BIGINT) AS n_dup_pairs,
         CAST(COUNT(DISTINCT CASE WHEN cs >= {_SEM_THETA} THEN ib END)
              AS BIGINT) AS n_pruned,
         ROUND(MAX(cs), 6) AS max_cos
  FROM pairs GROUP BY cent_id
), mem AS (
  SELECT cent_id, CAST(COUNT(*) AS BIGINT) AS n_members FROM asg
  GROUP BY cent_id
)
SELECT mem.cent_id AS cluster_id, mem.n_members,
       COALESCE(pc.n_dup_pairs, 0) AS n_dup_pairs,
       COALESCE(pc.n_pruned, 0) AS n_pruned,
       mem.n_members - COALESCE(pc.n_pruned, 0) AS n_kept,
       pc.max_cos
FROM mem LEFT JOIN pc USING (cent_id)
ORDER BY cluster_id"""


@query("dedup_semantic_clusters", oracle=_semdedup_oracle)
def dedup_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic near-duplicate pruning
    with K-MEANS CLUSTER BLOCKING — assign every embedding to a
    centroid (the attested fixed-point Lloyd,
    operators/similarity.py:kmeans_attested — k=8, 4 iters, same
    fixpoint similarity_kmeans_clusters replays), then compare pairs
    ONLY within a cluster and prune any vector with a smaller-id
    neighbor at cosine ≥ ε (ε = 0.30, this corpus's p99). The
    published recipe that cut LAION/C4 30-50% with no quality loss —
    and the third dedup regime in the registry: exact (md5), lexical
    near-dup (MinHash/SimHash), SEMANTIC near-dup (embeddings catch
    paraphrases that share no n-grams).

    Exactness: cluster assignment is the bit-deterministic attested
    fixpoint; pair cosines quantize every dot/norm term by
    FLOOR(·10¹²) into BIGINT sums (order-independent), one double
    division + ROUND(·,9) per pair; the ε compare runs on the
    rounded value, so both engines keep identical pair sets.

    Scale: the cluster self-join bounds candidate pairs at
    Σ_c |c|²/2, never corpus-quadratic; the operator's DEFAULT
    (operators/dedup.py:semdedup_pairs, k=None) derives
    k = max(k_min, ceil(n/target_cluster_size)) — the published
    k ∝ n contract that keeps per-cluster work flat (probe-measured
    linear; fixed k measured quadratic). THIS query pins k = 8
    explicitly because its DuckDB oracle unrolls that exact
    fixpoint. The n·dim dot work stays JVM-side (zip_with/aggregate
    codegen, no UDF)."""
    from ibd_pipeline_spark.operators.dedup import semdedup_pairs
    from ibd_pipeline_spark.queries.similarity import _KM_ITERS, _KM_K

    emb = load(spark, sf_dir, "embeddings")
    # session-cached: shares the one attested Lloyd fixpoint with
    # similarity_kmeans_clusters (same key, same frame)
    pairs = semdedup_pairs(
        emb,
        epsilon=float(_SEM_THETA),
        k=_KM_K,
        iters=_KM_ITERS,
        cache_key=("kmeans_attested", _KM_K, _KM_ITERS),
    )
    assigned = pairs._assigned
    theta = float(_SEM_THETA)
    pc = pairs.groupBy("cluster_id").agg(
        F.count(F.when(F.col("cs") >= theta, 1))
        .cast("bigint")
        .alias("n_dup_pairs"),
        F.countDistinct(F.when(F.col("cs") >= theta, F.col("ib")))
        .cast("bigint")
        .alias("n_pruned"),
        F.round(F.max("cs"), 6).alias("max_cos"),
    )
    mem = assigned.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members")
    )
    return (
        mem.join(F.broadcast(pc), "cluster_id", "left")
        .select(
            "cluster_id",
            "n_members",
            F.coalesce("n_dup_pairs", F.lit(0)).alias("n_dup_pairs"),
            F.coalesce("n_pruned", F.lit(0)).alias("n_pruned"),
            (F.col("n_members") - F.coalesce("n_pruned", F.lit(0))).alias(
                "n_kept"
            ),
            "max_cos",
        )
        .orderBy("cluster_id")
    )


# ---------------------------------------------------------------------------
# (moved from round8.py in the r14 chronological->topic split;
# registry names, semantics, and oracles unchanged)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# Sorted-neighborhood dedup blocking (window-over-sort-key family)
# ---------------------------------------------------------------------------


def _sorted_neighborhood_oracle() -> str:
    """Sort by normalized text, candidate = pairs within 5 positions
    of the global sort order, verified by exact shingle-set Jaccard
    (reuses the _mh_cte state relation for the hs sets)."""
    from ibd_pipeline_spark.queries.dedup import _mh_cte

    return (
        _mh_cte("src AS (SELECT doc_id, text FROM documents WHERE doc_id < 300)")
        + r"""
, rn AS (
  SELECT doc_id,
         ROW_NUMBER() OVER (
           ORDER BY regexp_replace(lower(trim(text)), '\s+', ' ', 'g'),
                    doc_id) AS rn
  FROM src
), scand AS (
  SELECT LEAST(a.doc_id, b.doc_id) AS id_a,
         GREATEST(a.doc_id, b.doc_id) AS id_b
  FROM rn a JOIN rn b ON b.rn BETWEEN a.rn + 1 AND a.rn + 5
), sver AS (
  SELECT c.id_a, c.id_b,
         ROUND(len(list_intersect(x.hs, y.hs)) * 1.0
               / (len(x.hs) + len(y.hs) - len(list_intersect(x.hs, y.hs))),
               6) AS jaccard
  FROM scand c
  JOIN state x ON x.doc_id = c.id_a
  JOIN state y ON y.doc_id = c.id_b
)
SELECT id_a, id_b, jaccard FROM sver
WHERE jaccard >= 0.5
ORDER BY id_a, id_b
"""
    )


@query("dedup_sorted_neighborhood", oracle=_sorted_neighborhood_oracle)
def dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-neighborhood dedup blocking (Hernández–Stolfo): sort the
    corpus by a normalized key (lowercased whitespace-collapsed
    text), slide a w=5 window over the GLOBAL sort order, verify the
    in-window pairs by exact shingle-set Jaccard (J ≥ 0.5) — the
    third blocking family beside MinHash-LSH (set similarity) and
    SimHash (bit similarity): it catches prefix-edited near-copies
    that land adjacent under the sort even when band hashing splits
    them, and dedup_blocking_quality's metrics apply to it
    unchanged.

    The global sort position comes from
    operators/ranking.py:with_global_row_number — one range exchange
    + offset broadcast, never a single-partition window — and the
    window join is an equi-join on rn against an exploded offset
    sequence (1..w), so the candidate count is exactly w·n and the
    shuffle is on integer rn keys. Verification reuses the
    md5-portable shingle sets, so DuckDB replays sort, window, and
    verify end-to-end.

    Scale: sort = the one range exchange; candidates w·n (linear,
    vs LSH's collision-driven count); verify joins are
    candidate-sized. The classic production posture is multi-pass
    (several sort keys) — each pass is this same plan."""
    from ibd_pipeline_spark.operators.dedup import normalized_text, shingles
    from ibd_pipeline_spark.operators.ranking import with_global_row_number

    d = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 300)
        .select(
            "doc_id",
            normalized_text("text").alias("k"),
            F.array_distinct(
                F.transform(shingles("text"), lambda g: F.substring(F.md5(g), 1, 8))
            ).alias("hs"),
        )
    )
    rn = with_global_row_number(d, ["k", "doc_id"], rn_col="rn").select(
        "doc_id", "rn", "hs"
    )
    offs = rn.select(
        "rn",
        F.col("doc_id").alias("id_x"),
        F.col("hs").alias("hs_x"),
        F.explode(F.sequence(F.lit(1), F.lit(5))).alias("off"),
    ).select((F.col("rn") + F.col("off")).alias("rn_y"), "id_x", "hs_x")
    pairs = offs.join(
        rn.select(
            F.col("rn").alias("rn_y"),
            F.col("doc_id").alias("id_y"),
            F.col("hs").alias("hs_y"),
        ),
        "rn_y",
    )
    inter = F.size(F.array_intersect("hs_x", "hs_y"))
    union = F.size("hs_x") + F.size("hs_y") - inter
    return (
        pairs.select(
            F.least("id_x", "id_y").alias("id_a"),
            F.greatest("id_x", "id_y").alias("id_b"),
            F.round(inter * F.lit(1.0) / union, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.5)
        .orderBy("id_a", "id_b")
    )


# ---------------------------------------------------------------------------
# (moved from round9.py in the r14 chronological->topic split;
# registry names, semantics, and oracles unchanged)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# Fellegi–Sunter probabilistic record linkage scoring
# ---------------------------------------------------------------------------

_FS_SQL = """
WITH d AS (
  SELECT doc_id, lang, source, n_chars // 10 AS blk,
         string_split(text, ' ')[1] AS first_tok,
         string_split(text, ' ')[-1] AS last_tok
  FROM documents WHERE doc_id < 500
), n AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM d
), u AS (
  SELECT
    (SELECT CAST(SUM(c * c) AS BIGINT) FROM (
       SELECT COUNT(*) AS c FROM d GROUP BY lang)) AS u2_lang,
    (SELECT CAST(SUM(c * c) AS BIGINT) FROM (
       SELECT COUNT(*) AS c FROM d GROUP BY source)) AS u2_source,
    (SELECT CAST(SUM(c * c) AS BIGINT) FROM (
       SELECT COUNT(*) AS c FROM d GROUP BY first_tok)) AS u2_first,
    (SELECT CAST(SUM(c * c) AS BIGINT) FROM (
       SELECT COUNT(*) AS c FROM d GROUP BY last_tok)) AS u2_last,
    (SELECT n_docs FROM n) AS nd
), pairs AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(a.lang = b.lang AS INT) AS ag_lang,
         CAST(a.source = b.source AS INT) AS ag_source,
         CAST(a.first_tok = b.first_tok AS INT) AS ag_first,
         CAST(a.last_tok = b.last_tok AS INT) AS ag_last
  FROM d a JOIN d b ON b.blk = a.blk AND a.doc_id < b.doc_id
), scored AS (
  SELECT id_a, id_b,
         ag_lang + ag_source + ag_first + ag_last AS n_agree,
         (CASE WHEN ag_lang = 1
               THEN ln(0.95 * CAST(nd AS DOUBLE) * CAST(nd AS DOUBLE)
                       / CAST(u2_lang AS DOUBLE))
               ELSE ln(0.05 / (1.0 - CAST(u2_lang AS DOUBLE)
                               / (CAST(nd AS DOUBLE) * CAST(nd AS DOUBLE)))) END)
       + (CASE WHEN ag_source = 1
               THEN ln(0.95 * CAST(nd AS DOUBLE) * CAST(nd AS DOUBLE)
                       / CAST(u2_source AS DOUBLE))
               ELSE ln(0.05 / (1.0 - CAST(u2_source AS DOUBLE)
                               / (CAST(nd AS DOUBLE) * CAST(nd AS DOUBLE)))) END)
       + (CASE WHEN ag_first = 1
               THEN ln(0.95 * CAST(nd AS DOUBLE) * CAST(nd AS DOUBLE)
                       / CAST(u2_first AS DOUBLE))
               ELSE ln(0.05 / (1.0 - CAST(u2_first AS DOUBLE)
                               / (CAST(nd AS DOUBLE) * CAST(nd AS DOUBLE)))) END)
       + (CASE WHEN ag_last = 1
               THEN ln(0.95 * CAST(nd AS DOUBLE) * CAST(nd AS DOUBLE)
                       / CAST(u2_last AS DOUBLE))
               ELSE ln(0.05 / (1.0 - CAST(u2_last AS DOUBLE)
                               / (CAST(nd AS DOUBLE) * CAST(nd AS DOUBLE)))) END)
         AS score
  FROM pairs CROSS JOIN u
)
SELECT id_a, id_b, CAST(n_agree AS BIGINT) AS n_agree,
       ROUND(score, 6) AS fs_score
FROM scored
WHERE n_agree >= 3
ORDER BY id_a, id_b
"""


@query("dedup_fellegi_sunter_linkage", oracle=_FS_SQL)
def dedup_fellegi_sunter_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi–Sunter probabilistic record linkage: blocked candidate
    pairs scored by Σ_field ln(m/u) on agreement, ln((1−m)/(1−u)) on
    disagreement — the classical entity-resolution weight model on top
    of the dedup family's blocking machinery. m is the standard 0.95
    prior; each field's u-probability (chance agreement) is ESTIMATED
    FROM THE DATA as Σ_v c_v²/N² — kept as exact integers (Σc², N²)
    all the way into a single ln per field, so both engines compute
    bit-identical weights.

    Candidates come from n_chars÷10 length blocking (pairs only
    within a block — the sorted-neighborhood/LSH contract, never
    all-pairs); the emission gate is the exact integer n_agree ≥ 3,
    not a float score threshold.

    Scale: blocking bounds pair enumeration; the u-statistics are
    map-side-combined value-frequency aggregates broadcast into the
    pair scorer. The doc_id < 500 slice is the oracle-bounded
    calibration subset (jaccard-estimate precedent); production runs
    the same plan per block partition."""
    d = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 500)
        .select(
            "doc_id",
            "lang",
            "source",
            F.floor(F.col("n_chars") / 10).alias("blk"),
            F.element_at(F.split("text", " "), 1).alias("first_tok"),
            F.element_at(F.split("text", " "), -1).alias("last_tok"),
        )
    )
    fields = ["lang", "source", "first_tok", "last_tok"]
    u2 = [
        d.groupBy(f).agg(F.count(F.lit(1)).alias("c"))
        .agg(F.sum(F.col("c") * F.col("c")).alias(f"u2_{f}"))
        for f in fields
    ]
    nd = d.agg(F.count(F.lit(1)).alias("nd"))
    stats = nd
    for frame in u2:
        stats = stats.crossJoin(F.broadcast(frame))
    a, b = d.alias("a"), d.alias("b")
    pairs = a.join(
        b,
        (F.col("b.blk") == F.col("a.blk"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("id_a"),
        F.col("b.doc_id").alias("id_b"),
        *[
            (F.col(f"a.{f}") == F.col(f"b.{f}")).cast("int").alias(f"ag_{f}")
            for f in fields
        ],
    )
    scored = pairs.crossJoin(F.broadcast(stats))
    ndd = F.col("nd").cast("double")
    score = None
    for f in fields:
        u2d = F.col(f"u2_{f}").cast("double")
        w = F.when(
            F.col(f"ag_{f}") == 1,
            F.log(F.lit(0.95) * ndd * ndd / u2d),
        ).otherwise(F.log(F.lit(0.05) / (F.lit(1.0) - u2d / (ndd * ndd))))
        score = w if score is None else score + w
    n_agree = sum(F.col(f"ag_{f}") for f in fields)
    return (
        scored.select(
            "id_a",
            "id_b",
            n_agree.cast("bigint").alias("n_agree"),
            F.round(score, 6).alias("fs_score"),
        )
        .filter(F.col("n_agree") >= 3)
        .orderBy("id_a", "id_b")
    )
