"""Text-analysis queries over the `documents` table (north-star set).

Oracle-checked where SQL can express the semantics (token stats,
stopword ratios, fingerprints — DuckDB list functions mirror Spark's
higher-order array functions); heuristics whose value is the operator
shape (quality score, lang-id) are oracle-checked too since both
sides are deterministic arithmetic.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window  # noqa: F401

from ibd_pipeline_spark.catalog import load, load_wide
from ibd_pipeline_spark.operators import text as T
from ibd_pipeline_spark.queries import query

_STOP_SQL = "['" + "','".join(T.STOPWORDS) + "']"

# The oracle twin of the quality score (length, lexical-diversity and
# stopword-ratio terms averaged, clamped to [0, 1], rounded to 6).
_QUALITY_SQL = f"""ROUND(GREATEST(LEAST((
             LEAST(len(string_split(text, ' ')) / 50.0, 1.0)
           + CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
               / len(string_split(text, ' '))
           + GREATEST(1.0 - ABS(CAST(len(list_filter(string_split(text, ' '),
                         t -> list_contains({_STOP_SQL}, t))) AS DOUBLE)
                     / len(string_split(text, ' ')) - 0.06) * 4, 0.0)
         ) / 3, 1.0), 0.0), 6)"""



def _bigram_counts(d: DataFrame, n: str) -> DataFrame:
    """(left_tok, right_tok, n): how often each adjacent pair of
    whitespace tokens occurs in d.text (a map-side-combined hash
    aggregate; shuffle = distinct pair space)."""
    toks = F.split("text", " ")
    pairs = F.zip_with(
        F.slice(toks, 1, F.greatest(F.size(toks) - 1, F.lit(0))),
        F.slice(toks, 2, F.greatest(F.size(toks) - 1, F.lit(0))),
        lambda a, b: F.struct(a.alias("l"), b.alias("r")),
    )
    return (
        d.select(F.explode(pairs).alias("p"))
        .groupBy(
            F.col("p.l").alias("left_tok"), F.col("p.r").alias("right_tok")
        )
        .agg(F.count(F.lit(1)).alias(n))
    )


@query(
    "text_token_stats",
    oracle=f"""
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(len(string_split(text, ' '))) AS BIGINT)      AS total_tokens,
       ROUND(AVG(len(string_split(text, ' '))), 4)            AS avg_tokens,
       ROUND(AVG(len(list_distinct(string_split(text, ' ')))), 4) AS avg_distinct_tokens,
       ROUND(AVG(n_chars), 4)                                 AS avg_chars,
       ROUND(AVG(CAST(len(list_filter(string_split(text, ' '),
                     t -> list_contains({_STOP_SQL}, t))) AS DOUBLE)
                 / len(string_split(text, ' '))), 6)          AS avg_stopword_ratio
FROM documents
GROUP BY lang
ORDER BY lang
""",
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token statistics per language: counts, lexical
    diversity, stopword ratio. Pure higher-order array functions —
    single scan + 5-key aggregate; at 100 TB this is a map-side-
    combined one-shuffle query."""
    d = load(spark, sf_dir, "documents")
    toks = T.token_count("text")
    return (
        d.select(
            "lang",
            "n_chars",
            toks.alias("nt"),
            T.distinct_token_count("text").alias("ndt"),
            (T.stopword_count("text").cast("double") / toks).alias("stop_ratio"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nt").cast("bigint").alias("total_tokens"),
            F.round(F.avg("nt"), 4).alias("avg_tokens"),
            F.round(F.avg("ndt"), 4).alias("avg_distinct_tokens"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
            F.round(F.avg("stop_ratio"), 6).alias("avg_stopword_ratio"),
        )
        .orderBy("lang")
    )


@query(
    "text_quality_filter",
    oracle=f"""
WITH scored AS (
  SELECT doc_id, lang,
         len(string_split(text, ' ')) AS nt,
         {_QUALITY_SQL} AS quality
  FROM documents
)
SELECT doc_id, lang, nt AS n_tokens, quality
FROM scored
WHERE quality >= 0.5
ORDER BY doc_id
""",
)
def text_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-score gate: keep documents scoring ≥ 0.5 (Gopher-style
    arithmetic over token stats; ibd_pipeline_spark.operators.text).
    The filter is a codegen expression — at scale it gates the corpus
    before any expensive op, and pushes nothing to Python."""
    d = load(spark, sf_dir, "documents")
    return (
        d.select(
            "doc_id",
            "lang",
            T.token_count("text").alias("n_tokens"),
            T.quality_score("text").alias("quality"),
        )
        .filter(F.col("quality") >= 0.5)
        .orderBy("doc_id")
    )


@query(
    "text_fingerprint_clusters",
    oracle="""
SELECT md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' '))
         AS fp,
       COUNT(*)          AS cluster_size,
       MIN(doc_id)       AS keeper_doc_id
FROM documents
GROUP BY fp
HAVING COUNT(*) > 1
ORDER BY fp
""",
)
def text_fingerprint_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-fingerprint clustering: md5 of the sorted distinct
    token set groups docs that differ only in word order/multiplicity
    — a zero-false-negative candidate generator for bag-of-words
    near-dups. One shuffle on a 128-bit key."""
    d = load(spark, sf_dir, "documents")
    return (
        d.groupBy(T.fingerprint("text").alias("fp"))
        .agg(
            F.count(F.lit(1)).alias("cluster_size"),
            F.min("doc_id").alias("keeper_doc_id"),
        )
        .filter(F.col("cluster_size") > 1)
        .orderBy("fp")
    )


@query(
    "text_bpeish_token_count",
    oracle="""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n]'))
            AS INT) AS bpe_tokens,
       CAST(len(string_split(text, ' ')) AS INT) AS ws_tokens
FROM documents
WHERE doc_id < 100
ORDER BY doc_id
""",
)
def text_bpeish_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace vs BPE-ish regex token counts (cost-estimation
    primitive for training-data budgeting)."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return d.select(
        "doc_id",
        T.bpe_ish_token_count("text").cast("int").alias("bpe_tokens"),
        T.token_count("text").cast("int").alias("ws_tokens"),
    ).orderBy("doc_id")


@query(
    "text_lang_id",
    oracle="""
SELECT CASE WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
            WHEN regexp_matches(text, '[¿¡ñ]') THEN 'es'
            WHEN regexp_matches(text, '[àâçéèêëîïôùûœ]') THEN 'fr'
            WHEN regexp_matches(text, '[äöüß]') THEN 'de'
            ELSE 'en' END AS predicted_lang,
       COUNT(*) AS n_docs
FROM documents
GROUP BY predicted_lang
ORDER BY predicted_lang
""",
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-class language-ID heuristic distribution (see
    operators.text.lang_id — the fastText stand-in)."""
    d = load(spark, sf_dir, "documents")
    return (
        d.groupBy(T.lang_id("text").alias("predicted_lang"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("predicted_lang")
    )


@query(
    "text_pii_redaction",
    oracle="""
WITH enriched AS (
  SELECT doc_id,
         text || ' contact user' || CAST(doc_id AS VARCHAR)
              || '@example.com or +1-555-' || SUBSTRING(CAST(1000 + doc_id % 9000 AS VARCHAR), 1, 4) AS text
  FROM documents WHERE doc_id < 200
)
SELECT doc_id,
       LENGTH(text) - LENGTH(regexp_replace(regexp_replace(text,
           '[A-Za-z0-9._]+@[A-Za-z0-9.-]+', '<EMAIL>', 'g'),
           '\\+1-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g')) AS chars_removed,
       md5(regexp_replace(regexp_replace(text,
           '[A-Za-z0-9._]+@[A-Za-z0-9.-]+', '<EMAIL>', 'g'),
           '\\+1-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g')) AS redacted_digest
FROM enriched
ORDER BY doc_id
""",
)
def text_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing — email/phone patterns replaced with typed
    placeholder tokens, the standard pre-training privacy pass. The
    fixture corpus is PII-free, so deterministic synthetic PII is
    appended per doc first; output is hash-compared (digest of the
    redacted text + chars removed), so both the match positions and
    the replacement semantics are oracle-checked.

    Scale: pure per-row regexp in whole-stage codegen — embarrassingly
    parallel, no shuffle; patterns kept ASCII-anchored so Java and RE2
    regex dialects agree."""
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    enriched = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or +1-555-"),
            F.substring((1000 + F.col("doc_id") % 9000).cast("string"), 1, 4),
        ).alias("text"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.col("text"), r"[A-Za-z0-9._]+@[A-Za-z0-9.-]+", "<EMAIL>"
        ),
        r"\+1-[0-9]{3}-[0-9]{4}",
        "<PHONE>",
    )
    return enriched.select(
        "doc_id",
        (F.length("text") - F.length(redacted)).alias("chars_removed"),
        F.md5(redacted).alias("redacted_digest"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# MATTR moving-average type-token ratio (lexical diversity per doc)
# ---------------------------------------------------------------------------

_MATTR_W = 25

_MATTR_SQL = f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS l
  FROM documents
), w AS (
  SELECT doc_id, CAST(len(l) AS BIGINT) AS n_tokens,
         CASE WHEN len(l) >= {_MATTR_W} THEN
           [CAST(len(list_distinct(l[i:i+{_MATTR_W}-1])) AS BIGINT)
            FOR i IN range(1, len(l) - {_MATTR_W} + 2)]
         ELSE [CAST(len(list_distinct(l)) AS BIGINT)] END AS dts,
         CASE WHEN len(l) >= {_MATTR_W}
              THEN {_MATTR_W} ELSE len(l) END AS w_eff
  FROM toks
)
SELECT doc_id, n_tokens,
       CAST(len(dts) AS BIGINT) AS n_windows,
       ROUND(CAST(list_sum(dts) AS DOUBLE) / (len(dts) * w_eff), 6)
         AS mattr
FROM w ORDER BY doc_id
"""


@query("text_mattr_diversity", oracle=_MATTR_SQL)
def text_mattr_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATTR — moving-average type-token ratio (McCarthy & Jarvis
    2010): mean of (distinct tokens / w) over every w=25-token
    sliding window of each document. The lexical-diversity metric
    that fixes raw TTR's length bias (TTR mechanically falls with
    document length, so corpus-quality filters built on it
    systematically mis-rank long docs); short docs fall back to
    plain TTR over the whole token list. Belongs in the text-quality
    belt next to the repetition ratio and Zipf fit.

    Exactness: window distinct-counts are exact integers from array
    slices; the mean is an integer sum over one double division.

    Scale: per-document array work inside whole-stage codegen
    (transform/slice/array_distinct — no UDF, no shuffle at all
    beyond the scan); O(len·w) per doc with w fixed."""
    d = load_wide(spark, sf_dir, "documents")  # widen: per-row window scan
    toks = d.select(
        "doc_id",
        F.filter(F.split("text", " "), lambda t: t != "").alias("l"),
    )
    w = _MATTR_W
    n = F.size("l")
    dts_long = F.transform(
        F.sequence(F.lit(1), n - w + 1),
        lambda i: F.size(F.array_distinct(F.slice("l", i, w))).cast("bigint"),
    )
    dts_short = F.array(F.size(F.array_distinct("l")).cast("bigint"))
    out = toks.select(
        "doc_id",
        n.cast("bigint").alias("n_tokens"),
        F.when(n >= w, dts_long).otherwise(dts_short).alias("dts"),
        F.when(n >= w, F.lit(w)).otherwise(n).alias("w_eff"),
    )
    return out.select(
        "doc_id",
        "n_tokens",
        F.size("dts").cast("bigint").alias("n_windows"),
        F.round(
            F.aggregate(
                "dts", F.lit(0).cast("bigint"), lambda acc, x: acc + x
            ).cast("double")
            / (F.size("dts") * F.col("w_eff")),
            6,
        ).alias("mattr"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Yule's K + Simpson's D lexical concentration (r13)
# ---------------------------------------------------------------------------


@query(
    "text_yule_k_simpson",
    oracle="""
WITH words AS (
  SELECT source, w, CAST(COUNT(*) AS BIGINT) AS f
  FROM (SELECT source, UNNEST(string_split(text, ' ')) AS w FROM documents)
  GROUP BY source, w
), agg AS (
  SELECT source,
         CAST(SUM(f) AS BIGINT) AS n,
         CAST(COUNT(*) AS BIGINT) AS vocab,
         CAST(SUM(f * f) AS BIGINT) AS sf2,
         CAST(SUM(f * (f - 1)) AS BIGINT) AS sff1
  FROM words GROUP BY source
)
SELECT source, n AS n_tokens, vocab,
       ROUND(10000.0 * CAST(sf2 - n AS DOUBLE)
             / (CAST(n AS DOUBLE) * n), 6) AS yule_k,
       ROUND(CAST(sff1 AS DOUBLE)
             / (CAST(n AS DOUBLE) * (n - 1)), 8) AS simpson_d
FROM agg ORDER BY source
""",
)
def text_yule_k_simpson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Yule's K and Simpson's D lexical concentration per source —
    the REPETITIVENESS counterpart of the vocabulary-size family
    (vocab/hapax measure breadth; K and D measure how hard the
    frequency mass concentrates on few types, the template/boilerplate
    smell that survives a large vocabulary). K = 10⁴·(Σf² − N)/N²;
    D = Σf(f−1)/(N(N−1)) — D is exactly the probability two random
    tokens are the same type, and K = 10⁴·(N−1)/N·D + o(1), so the
    pair cross-checks itself.

    Exactness: both statistics are ratios of INTEGER frequency-
    spectrum sums (Σf, Σf², Σf(f−1)) — the same two-level
    (source, word) → source hash aggregation as text_vocab_hapax_stats
    (map-side combined, text exploded once, never reshuffled raw);
    one double division each at the end.

    Scale: frequency spectrum per source is vocabulary-sized, not
    corpus-sized; no windows, no sorts — the spectrum sums fold in the
    same aggregate that builds them."""
    d = load_wide(spark, sf_dir, "documents")
    words = (
        d.select("source", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("source", "w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("f"))
    )
    agg = words.groupBy("source").agg(
        F.sum("f").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("vocab"),
        F.sum(F.col("f") * F.col("f")).cast("bigint").alias("sf2"),
        F.sum(F.col("f") * (F.col("f") - 1)).cast("bigint").alias("sff1"),
    )
    nd = F.col("n").cast("double")
    return agg.select(
        "source",
        F.col("n").alias("n_tokens"),
        "vocab",
        F.round(
            F.lit(10000.0) * (F.col("sf2") - F.col("n")).cast("double")
            / (nd * F.col("n")),
            6,
        ).alias("yule_k"),
        F.round(
            F.col("sff1").cast("double") / (nd * (F.col("n") - 1)), 8
        ).alias("simpson_d"),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# Flesch reading ease from corpus-level integer counts (r13)
# ---------------------------------------------------------------------------


@query(
    "text_flesch_reading_ease",
    oracle="""
WITH c AS (
  SELECT lang,
         CAST(LEN(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT) AS w,
         CAST(LEN(regexp_extract_all(text, '[aeiouyAEIOUY]+')) AS BIGINT)
           AS y,
         CAST(LEN(regexp_extract_all(text, '[.!?]+')) AS BIGINT) AS s
  FROM documents
), agg AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(w) AS BIGINT) AS words,
         CAST(SUM(y) AS BIGINT) AS syllables,
         GREATEST(CAST(SUM(s) AS BIGINT), 1) AS sentences
  FROM c GROUP BY lang
)
SELECT lang, n_docs, words, syllables, sentences,
       ROUND(206.835
             - 1.015 * (CAST(words AS DOUBLE) / sentences)
             - 84.6 * (CAST(syllables AS DOUBLE) / words), 4)
         AS flesch_reading_ease
FROM agg ORDER BY lang
""",
)
def text_flesch_reading_ease(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading ease per language, computed from CORPUS-LEVEL
    integer counts (Σwords, Σvowel-group syllables, Σsentence
    terminators) rather than averaged per-doc scores — the readability
    quality signal used to bucket training text by difficulty. The
    syllable counter is the classic vowel-run heuristic ([aeiouy]+
    runs), exact-replayable by regex in any engine — a real syllable
    dictionary is a model asset, not an engine feature.

    Exactness: three regexp_count integers per document, summed
    exactly per language; the 206.835 − 1.015·W/S − 84.6·Y/W chain is
    two divisions of exact integers — bit-identical both engines.
    GREATEST(S, 1) guards punctuation-free corpora identically.

    Scale: per-row regex counting is codegen'd JVM work (no UDF), one
    map-side-combined aggregate on the (tiny) language key; document
    text is scanned once and never shuffled."""
    d = load_wide(spark, sf_dir, "documents")
    c = d.select(
        "lang",
        F.regexp_count("text", F.lit(r"[A-Za-z]+")).cast("bigint").alias("w"),
        F.regexp_count("text", F.lit(r"[aeiouyAEIOUY]+"))
        .cast("bigint")
        .alias("y"),
        F.regexp_count("text", F.lit(r"[.!?]+")).cast("bigint").alias("s"),
    )
    agg = c.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("w").cast("bigint").alias("words"),
        F.sum("y").cast("bigint").alias("syllables"),
        F.greatest(F.sum("s").cast("bigint"), F.lit(1).cast("bigint")).alias(
            "sentences"
        ),
    )
    return agg.select(
        "lang",
        "n_docs",
        "words",
        "syllables",
        "sentences",
        F.round(
            F.lit(206.835)
            - F.lit(1.015)
            * (F.col("words").cast("double") / F.col("sentences"))
            - F.lit(84.6)
            * (F.col("syllables").cast("double") / F.col("words")),
            4,
        ).alias("flesch_reading_ease"),
    ).orderBy("lang")


# ---------------------------------------------------------------------------
# Character-trigram entropy per language (r13)
# ---------------------------------------------------------------------------


@query(
    "text_char_trigram_entropy",
    oracle="""
WITH grams AS (
  SELECT lang, u.g
  FROM (SELECT lang, text,
               list_transform(
                 range(1, GREATEST(LEN(text) - 2, 1) + 1),
                 i -> substring(text, CAST(i AS INT), 3)) AS gs
        FROM documents) t, unnest(gs) AS u(g)
), freq AS (
  SELECT lang, g, CAST(COUNT(*) AS BIGINT) AS f FROM grams GROUP BY lang, g
), agg AS (
  SELECT lang,
         CAST(SUM(f) AS BIGINT) AS n,
         CAST(COUNT(*) AS BIGINT) AS vocab,
         CAST(ROUND(SUM(CAST(f * ln(CAST(f AS DOUBLE)) AS DECIMAL(28,8))), 6)
              AS DOUBLE) AS sfl
  FROM freq GROUP BY lang
)
SELECT lang, n AS n_grams, vocab,
       ROUND(ln(CAST(n AS DOUBLE)) - sfl / n, 6) AS entropy_nats,
       ROUND((ln(CAST(n AS DOUBLE)) - sfl / n)
             / ln(CAST(vocab AS DOUBLE)), 6) AS norm_entropy
FROM agg ORDER BY lang
""",
)
def text_char_trigram_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-trigram entropy per language: H = ln N − (Σ f·ln f)/N
    over the trigram frequency table, plus the vocabulary-normalized
    form H/ln V — the script-level degeneracy detector (repeated
    boilerplate, mojibake, and single-byte-padding text all collapse
    trigram entropy long before word-level stats notice; the
    character sibling of text_vocab_hapax_stats and the corpus-level
    counterpart of the per-image entropy gate).

    Exactness: integer trigram frequencies (substr sliding window,
    identical 1-based semantics both engines; short docs degrade to
    one whole-text gram); each f·ln f term decimal-quantized before
    the fold; two ln/÷ at the end on bit-identical inputs.

    Scale: the explode is 1 row per character of corpus — one
    map-side-combined (lang, gram) aggregate bounds it immediately;
    the per-language frequency table is vocabulary-sized (≤ charset³)
    and the rollup is catalog-sized. No windows, no UDFs."""
    d = load_wide(spark, sf_dir, "documents")
    grams = d.select(
        "lang",
        F.explode(
            F.transform(
                F.sequence(
                    F.lit(1), F.greatest(F.length("text") - 2, F.lit(1))
                ),
                lambda i: F.col("text").substr(i, F.lit(3)),
            )
        ).alias("g"),
    )
    freq = grams.groupBy("lang", "g").agg(
        F.count(F.lit(1)).cast("bigint").alias("f")
    )
    agg = freq.groupBy("lang").agg(
        F.sum("f").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("vocab"),
        F.round(
            F.sum(
                (F.col("f") * F.log(F.col("f").cast("double"))).cast(
                    "decimal(28,8)"
                )
            ),
            6,
        )
        .cast("double")
        .alias("sfl"),
    )
    h = F.log(F.col("n").cast("double")) - F.col("sfl") / F.col("n")
    return agg.select(
        "lang",
        F.col("n").alias("n_grams"),
        "vocab",
        F.round(h, 6).alias("entropy_nats"),
        F.round(h / F.log(F.col("vocab").cast("double")), 6).alias(
            "norm_entropy"
        ),
    ).orderBy("lang")


# ---------------------------------------------------------------------------
# (moved from round10_analytics.py in the r14 chronological->topic split;
# registry names, semantics, and oracles unchanged)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# Heaps-law vocabulary growth
# ---------------------------------------------------------------------------

_HEAPS_BUCKETS = 20

_HEAPS_SQL = f"""
WITH raw AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), docs AS (
  SELECT doc_id,
         CASE WHEN len(w) >= 3
              THEN list_transform(range(1, len(w) - 1),
                     i -> array_to_string(list_slice(w, i, i + 2), ' '))
              ELSE [array_to_string(w, ' ')] END AS toks
  FROM raw
), nd AS (
  SELECT CAST(MAX(doc_id) + 1 AS BIGINT) AS n_docs,
         CAST(COUNT(*) AS BIGINT) AS doc_cnt
  FROM docs
), tok AS (
  SELECT d.doc_id, u.tok FROM docs d, unnest(d.toks) AS u(tok)
), firsts AS (
  SELECT tok, MIN(doc_id) AS fd FROM tok GROUP BY tok
), vb AS (
  SELECT CAST(FLOOR(fd * {_HEAPS_BUCKETS} / nd.n_docs) AS BIGINT) AS b,
         CAST(COUNT(*) AS BIGINT) AS v
  FROM firsts, nd GROUP BY 1
), tb AS (
  SELECT CAST(FLOOR(doc_id * {_HEAPS_BUCKETS} / nd.n_docs) AS BIGINT) AS b,
         CAST(COUNT(*) AS BIGINT) AS t
  FROM tok, nd GROUP BY 1
), pts AS (
  SELECT tb.b,
         SUM(tb.t) OVER (ORDER BY tb.b) AS n_cum,
         SUM(COALESCE(vb.v, 0)) OVER (ORDER BY tb.b) AS v_cum
  FROM tb LEFT JOIN vb ON vb.b = tb.b
), lp AS (
  SELECT CAST(ROUND(ln(CAST(n_cum AS DOUBLE)), 9) AS DECIMAL(28,9)) AS x,
         CAST(ROUND(ln(CAST(v_cum AS DOUBLE)), 9) AS DECIMAL(28,9)) AS y
  FROM pts
), mm AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS k,
         SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * x) AS sxx, SUM(x * y) AS sxy, SUM(y * y) AS syy
  FROM lp
), fit AS (
  SELECT k,
         (k * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           / (k * CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS b,
         (k * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           * (k * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
           / ((k * CAST(sxx AS DOUBLE)
               - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
              * (k * CAST(syy AS DOUBLE)
                 - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS r2,
         CAST(sy AS DOUBLE) AS syd, CAST(sx AS DOUBLE) AS sxd
  FROM mm
), tots AS (
  SELECT CAST(MAX(n_cum) AS BIGINT) AS n_tokens,
         CAST(MAX(v_cum) AS BIGINT) AS vocab
  FROM pts
)
SELECT nd.doc_cnt AS n_docs, tots.n_tokens, tots.vocab,
       ROUND(fit.b, 4) AS heaps_b,
       ROUND((fit.syd - fit.b * fit.sxd) / fit.k, 4) AS heaps_logk,
       ROUND(fit.r2, 4) AS r_squared
FROM nd, tots, fit
"""


@query("text_heaps_law", oracle=_HEAPS_SQL)
def text_heaps_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary growth: V(N) ≈ k·N^b — the sublinear
    vocabulary scaling every tokenizer-budget and dedup-capacity
    plan leans on. Vocabulary unit = 3-GRAM SHINGLES (the corpus's
    word vocabulary is a closed 31-term set — flat V(N), r² undefined;
    shingle vocabulary genuinely grows). The curve is sampled at 20
    corpus prefixes WITHOUT any sequential scan: a shingle's
    FIRST-OCCURRENCE doc (one min aggregate) assigns it to the bucket
    where it enters the vocabulary, so cumulative (tokens, vocab) per
    bucket is a
    20-row prefix sum — computed here as conditional sums over the
    bucket frame, window-free. The log-log least-squares fit rounds
    ln-values to 9 decimals into DECIMALs BEFORE summing (a raw
    double sum over buckets would be partial-order-dependent
    cross-engine), then solves slope/intercept/R² in fixed double
    algebra.

    Scale: two corpus-scale aggregates (first-occurrence min per
    token — vocab-sized shuffle — and per-bucket token counts);
    everything else is 20-row algebra. doc_id density assumption:
    buckets are doc_id-ranged (FLOOR(id·B/max+1)); sparse ids skew
    bucket widths, not correctness."""
    # words PHYSICALLY materialized (localCheckpoint below): a merely
    # projected split(text) gets CollapseProject-inlined back into the
    # gram lambda and re-splits per gram — the Catalyst
    # nested-expression blowup (measured ~6 s -> ~1 s on 5000 docs)
    w = F.col("w")
    nw = F.size(w)
    gram3 = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(w, i + j + 1) for j in range(3)]
    )
    shingles = F.when(
        nw >= 3, F.transform(F.sequence(F.lit(0), nw - 3), gram3)
    ).otherwise(F.array(F.concat_ws(" ", w)))
    docs = (
        load(spark, sf_dir, "documents")
        # single-split corpus: widen before the shingle explode or
        # the whole vocab build runs on one task
        .repartition(spark.sparkContext.defaultParallelism)
        .select("doc_id", F.split("text", " ").alias("w"))
        .localCheckpoint(eager=True)  # split exactly once (see above)
        .select("doc_id", shingles.alias("toks"))
        # two consumers below (vocab firsts + bucket token counts):
        # materialize the shingle arrays once
        .localCheckpoint(eager=True)
    )
    nd = docs.agg(
        (F.max("doc_id") + 1).cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).cast("bigint").alias("doc_cnt"),
    )
    tok = docs.select("doc_id", F.explode("toks").alias("tok"))
    bkt = lambda c: F.floor(  # noqa: E731
        F.col(c) * _HEAPS_BUCKETS / F.col("n_docs")
    ).cast("bigint")
    firsts = tok.groupBy("tok").agg(F.min("doc_id").alias("fd"))
    vb = (
        firsts.crossJoin(F.broadcast(nd))
        .groupBy(bkt("fd").alias("b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("v"))
    )
    tb = (
        tok.crossJoin(F.broadcast(nd))
        .groupBy(bkt("doc_id").alias("b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("t"))
    )
    # 20-row cumulative sums via triangular self-join (window-free)
    base = tb.join(vb, "b", "left").select(
        "b", "t", F.coalesce("v", F.lit(0)).alias("v")
    )
    l, r = base.alias("l"), base.alias("r")
    pts = (
        l.join(r, F.col("r.b") <= F.col("l.b"))
        .groupBy(F.col("l.b").alias("b"))
        .agg(
            F.sum("r.t").alias("n_cum"),
            F.sum("r.v").alias("v_cum"),
        )
    )
    dec = "decimal(28,9)"
    lp = pts.select(
        F.round(F.log(F.col("n_cum").cast("double")), 9).cast(dec).alias("x"),
        F.round(F.log(F.col("v_cum").cast("double")), 9).cast(dec).alias("y"),
    )
    mm = lp.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    kd = F.col("k").cast("double")
    sxd, syd = F.col("sx").cast("double"), F.col("sy").cast("double")
    num = kd * F.col("sxy").cast("double") - sxd * syd
    dxx = kd * F.col("sxx").cast("double") - sxd * sxd
    dyy = kd * F.col("syy").cast("double") - syd * syd
    b = num / dxx
    tots = pts.agg(
        F.max("n_cum").cast("bigint").alias("n_tokens"),
        F.max("v_cum").cast("bigint").alias("vocab"),
    )
    fit = mm.select(
        F.round(b, 4).alias("heaps_b"),
        F.round((syd - b * sxd) / kd, 4).alias("heaps_logk"),
        F.round(num * num / (dxx * dyy), 4).alias("r_squared"),
    )
    return (
        nd.select("doc_cnt")
        .crossJoin(F.broadcast(tots))
        .crossJoin(F.broadcast(fit))
        .select(
            F.col("doc_cnt").alias("n_docs"),
            "n_tokens",
            "vocab",
            "heaps_b",
            "heaps_logk",
            "r_squared",
        )
    )


# ---------------------------------------------------------------------------
# (moved from round6.py in the r14 chronological->topic split;
# registry names, semantics, and oracles unchanged)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# BM25 ranking
# ---------------------------------------------------------------------------

_BM25_TERMS = ["table", "join", "spark"]
_BM25_K1 = 1.2
_BM25_B = 0.75

_BM25_SQL = f"""
WITH d AS (
  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
), t AS (
  SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl,
         {", ".join(
             f"CAST(len(list_filter(toks, x -> x = '{t}')) AS DOUBLE) AS tf{i}"
             for i, t in enumerate(_BM25_TERMS)
         )}
  FROM d
), g AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS n, AVG(dl) AS avgdl,
         {", ".join(
             f"CAST(COUNT(*) FILTER (tf{i} > 0) AS DOUBLE) AS df{i}"
             for i in range(len(_BM25_TERMS))
         )}
  FROM t
)
SELECT doc_id,
       ROUND(
         {" + ".join(
             f"ln(1 + (g.n - g.df{i} + 0.5) / (g.df{i} + 0.5))"
             f" * tf{i} * ({_BM25_K1} + 1)"
             f" / (tf{i} + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * t.dl / g.avgdl))"
             for i in range(len(_BM25_TERMS))
         )}, 4) AS bm25
FROM t, g
ORDER BY bm25 DESC, doc_id
LIMIT 10
"""


@query("text_bm25_ranking", oracle=_BM25_SQL)
def text_bm25_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 documents for a fixed conjunctive query (the
    Robertson/Spärck Jones Okapi weighting, k1=1.2 b=0.75, Lucene's
    ln(1 + (N-df+0.5)/(df+0.5)) idf) — relevance ranking as one
    Catalyst plan: per-doc term frequencies via higher-order
    list_filter (no explode), corpus stats (N, avgdl, per-term df)
    as ONE aggregate row broadcast back over the scan.

    Scale: two passes over the corpus — one tiny global aggregate,
    one scoring scan + top-k (takeOrdered, no global sort shuffle);
    term stats are O(|terms|) state. The cross join is 1-row
    broadcast, never data-sized."""
    docs = load(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("toks")
    )
    # NB: term must be closed over with a ONE-argument lambda factory —
    # a `lambda x, t=term:` default-arg capture makes Spark pass the
    # array INDEX as the second argument, shadowing the default (a
    # Hypothesis test once caught every MinHash family collapsing to
    # one function this way).
    def tf_of(term: str):
        return F.size(F.filter("toks", lambda x: x == F.lit(term))).cast("double")

    t = docs.select(
        "doc_id",
        F.size("toks").cast("double").alias("dl"),
        *[tf_of(t_).alias(f"tf{i}") for i, t_ in enumerate(_BM25_TERMS)],
    )
    g = t.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg("dl").alias("avgdl"),
        *[
            F.count(F.when(F.col(f"tf{i}") > 0, 1)).cast("double").alias(f"df{i}")
            for i in range(len(_BM25_TERMS))
        ],
    )
    score = None
    for i in range(len(_BM25_TERMS)):
        idf = F.log(
            F.lit(1.0) + (F.col("n") - F.col(f"df{i}") + F.lit(0.5)) / (F.col(f"df{i}") + F.lit(0.5))
        )
        term = (
            idf
            * F.col(f"tf{i}")
            * F.lit(_BM25_K1 + 1)
            / (
                F.col(f"tf{i}")
                + F.lit(_BM25_K1)
                * (F.lit(1 - _BM25_B) + F.lit(_BM25_B) * F.col("dl") / F.col("avgdl"))
            )
        )
        score = term if score is None else score + term
    return (
        t.crossJoin(F.broadcast(g))
        .select("doc_id", F.round(score, 4).alias("bm25"))
        .orderBy(F.col("bm25").desc(), "doc_id")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# (moved from round11c.py in the r14 chronological->topic split;
# registry names, semantics, and oracles unchanged)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# Good-Turing / Chao1 vocabulary richness report
# ---------------------------------------------------------------------------

_GT_SQL = """
WITH toks AS (
  SELECT t.term
  FROM documents, UNNEST(string_split(text, ' ')) AS t(term)
  WHERE t.term <> ''
), tc AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY term
), fof AS (
  SELECT c AS r, CAST(COUNT(*) AS BIGINT) AS n_r FROM tc GROUP BY c
), scal AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n_tokens,
         CAST(COUNT(*) AS BIGINT) AS vocab,
         CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2
  FROM tc
), spine AS (
  SELECT CAST(t.r AS BIGINT) AS r FROM UNNEST(range(1, 6)) t(r)
)
SELECT spine.r,
       COALESCE(f1.n_r, 0) AS n_r,
       COALESCE(f2.n_r, 0) AS n_r_next,
       CASE WHEN COALESCE(f1.n_r, 0) > 0 THEN
         ROUND((spine.r + 1) * CAST(COALESCE(f2.n_r, 0) AS DOUBLE)
               / COALESCE(f1.n_r, 0), 6)
       END AS gt_adjusted_count,
       s.vocab AS vocab_size,
       s.n_tokens AS total_tokens,
       ROUND(s.vocab + CAST(s.n1 AS DOUBLE) * (s.n1 - 1)
             / (2.0 * (s.n2 + 1)), 4) AS chao1_richness,
       ROUND(1.0 - CAST(s.n1 AS DOUBLE) / s.n_tokens, 6) AS gt_coverage
FROM spine
LEFT JOIN fof f1 ON f1.r = spine.r
LEFT JOIN fof f2 ON f2.r = spine.r + 1
CROSS JOIN scal s
ORDER BY spine.r
"""


@query("text_good_turing_vocab", oracle=_GT_SQL)
def text_good_turing_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good-Turing frequency smoothing + Chao1 species richness over
    the corpus vocabulary — the unseen-mass estimators beside
    text_heaps_law's growth curve and text_vocab_hapax_stats' raw
    counts: from the frequency-of-frequencies N_r, the GT adjusted
    count r* = (r+1)·N_{r+1}/N_r for r = 1..5, the missing-mass
    coverage estimate 1 − N_1/N (what fraction of the next token
    stream is already-seen vocabulary), and the bias-corrected Chao1
    total-vocabulary estimate V + N_1(N_1−1)/(2(N_2+1)). The
    "how much tail is left" report that decides whether more data
    still buys vocabulary.

    Exactness: N_r, V, N are exact integer aggregates; every derived
    statistic is one closed-form double chain at output.

    Scale: token explode → one term-key count (map-side combined) →
    a frequency-of-frequencies aggregate whose domain is tiny; the
    report joins a 5-row literal spine against it."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(F.explode(F.split("text", " ")).alias("term")).filter(
        F.col("term") != ""
    )
    tc = toks.groupBy("term").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    fof = tc.groupBy(F.col("c").alias("r")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_r")
    )
    scal = tc.agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("vocab"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n1"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0))
        .cast("bigint")
        .alias("n2"),
    )
    spine = d.sparkSession.range(1, 6).select(F.col("id").alias("r"))
    f1 = fof.select(F.col("r").alias("r1"), F.col("n_r").alias("nr1"))
    f2 = fof.select(F.col("r").alias("r2"), F.col("n_r").alias("nr2"))
    out = (
        spine.join(F.broadcast(f1), F.col("r1") == F.col("r"), "left")
        .join(F.broadcast(f2), F.col("r2") == F.col("r") + 1, "left")
        .crossJoin(F.broadcast(scal))
    )
    n_r = F.coalesce(F.col("nr1"), F.lit(0))
    n_rn = F.coalesce(F.col("nr2"), F.lit(0))
    return out.select(
        "r",
        n_r.alias("n_r"),
        n_rn.alias("n_r_next"),
        F.when(
            n_r > 0,
            F.round((F.col("r") + 1) * n_rn.cast("double") / n_r, 6),
        ).alias("gt_adjusted_count"),
        F.col("vocab").alias("vocab_size"),
        F.col("n_tokens").alias("total_tokens"),
        F.round(
            F.col("vocab")
            + F.col("n1").cast("double")
            * (F.col("n1") - 1)
            / (2.0 * (F.col("n2") + 1)),
            4,
        ).alias("chao1_richness"),
        F.round(
            F.lit(1.0) - F.col("n1").cast("double") / F.col("n_tokens"), 6
        ).alias("gt_coverage"),
    ).orderBy("r")


# ---------------------------------------------------------------------------
# (moved from round11.py in the r14 chronological->topic split;
# registry names, semantics, and oracles unchanged)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# RAKE keyphrase extraction
# ---------------------------------------------------------------------------

_RAKE_STOP = ("the", "a", "and", "of", "to", "in", "is", "on", "for", "with")

_RAKE_SQL = f"""
WITH toks AS (
  SELECT doc_id, i AS pos, w[i] AS word,
         w[i] IN ({", ".join(f"'{s}'" for s in _RAKE_STOP)}) AS is_stop
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
       UNNEST(generate_series(1, len(w))) t(i)
), seg AS (
  SELECT doc_id, pos, word, is_stop,
         SUM(CASE WHEN is_stop THEN 1 ELSE 0 END) OVER (
           PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg_id
  FROM toks
), nonstop AS (
  SELECT doc_id, pos, word, seg_id FROM seg WHERE NOT is_stop
), phr AS (
  SELECT doc_id, seg_id,
         string_agg(word, ' ' ORDER BY pos) AS phrase,
         CAST(COUNT(*) AS BIGINT) AS plen
  FROM nonstop GROUP BY doc_id, seg_id
), pw AS (
  SELECT p.doc_id, p.seg_id, p.phrase, p.plen, s.word
  FROM phr p JOIN nonstop s
    ON s.doc_id = p.doc_id AND s.seg_id = p.seg_id
), ws AS (
  SELECT word,
         CAST(COUNT(*) AS BIGINT) AS freq,
         CAST(SUM(plen) AS BIGINT) AS deg
  FROM pw GROUP BY word
), scored AS (
  SELECT pw.doc_id, pw.seg_id, pw.phrase,
         SUM(CAST(ROUND(CAST(ws.deg AS DOUBLE) / ws.freq, 8)
                  AS DECIMAL(28,8))) AS pscore
  FROM pw JOIN ws USING (word)
  GROUP BY pw.doc_id, pw.seg_id, pw.phrase
), uniq AS (
  SELECT phrase,
         CAST(COUNT(*) AS BIGINT) AS n_occurrences,
         MAX(pscore) AS score
  FROM scored GROUP BY phrase
)
SELECT phrase,
       CAST(len(string_split(phrase, ' ')) AS INT) AS n_words,
       n_occurrences,
       CAST(ROUND(score, 6) AS DOUBLE) AS score
FROM uniq
ORDER BY score DESC, phrase
LIMIT 20
"""

@query("text_rake_keyphrases", oracle=_RAKE_SQL)
def text_rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010) over the corpus:
    candidate phrases are maximal stopword-free word runs; each word
    scores deg/freq (deg = summed length of phrases containing it —
    co-occurrence degree; freq = raw count inside phrases), a phrase
    scores the sum of its words' scores, and the top 20 distinct
    phrases emit with occurrence counts — the zero-supervision
    keyword extractor next to tf-idf (corpus-relative) and PMI
    (pair-level) for corpus summarization and topic tagging.

    Exactness: per-word deg/freq ratios round to DECIMAL(28,8)
    before the phrase sum (order-independent); the phrase score is
    identical across occurrences by construction, so distinct-phrase
    aggregation is stable.

    Scale: tokenization explodes once; segment ids ride a
    doc-PARTITIONED running count; word scores are one vocab-sized
    aggregate joined back broadcast; top-20 is a TakeOrdered."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "word")
    ).withColumn("is_stop", F.col("word").isin(*_RAKE_STOP))
    wseg = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, 0
    )
    seg = toks.withColumn(
        "seg_id", F.sum(F.when(F.col("is_stop"), 1).otherwise(0)).over(wseg)
    ).filter(~F.col("is_stop"))
    phr = seg.groupBy("doc_id", "seg_id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "word"))),
                lambda s: s["word"],
            ),
        ).alias("phrase"),
        F.count(F.lit(1)).cast("bigint").alias("plen"),
    )
    pw = phr.join(
        seg.select("doc_id", "seg_id", "word"), ["doc_id", "seg_id"]
    )
    ws = pw.groupBy("word").agg(
        F.count(F.lit(1)).cast("bigint").alias("freq"),
        F.sum("plen").cast("bigint").alias("deg"),
    )
    scored = (
        pw.join(F.broadcast(ws), "word")
        .groupBy("doc_id", "seg_id", "phrase")
        .agg(
            F.sum(
                F.round(F.col("deg").cast("double") / F.col("freq"), 8).cast(
                    "decimal(28,8)"
                )
            ).alias("pscore")
        )
    )
    uniq = scored.groupBy("phrase").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
        F.max("pscore").alias("score"),  # identical across occurrences
    )
    return (
        uniq.select(
            "phrase",
            F.size(F.split("phrase", " ")).cast("int").alias("n_words"),
            "n_occurrences",
            F.round(F.col("score"), 6).cast("double").alias("score"),
        )
        .orderBy(F.col("score").desc(), "phrase")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# (moved from round8.py in the r14 chronological->topic split;
# registry names, semantics, and oracles unchanged)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# Distinctive terms per source (log-odds keyness)
# ---------------------------------------------------------------------------

_KEYNESS_SQL = """
WITH tok AS (
  SELECT source, unnest(string_split(lower(text), ' ')) AS w
  FROM documents
), filt AS (
  SELECT source, w FROM tok WHERE len(w) >= 3
), sw AS (
  SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c FROM filt GROUP BY 1, 2
), st AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM filt GROUP BY 1
), gw AS (
  SELECT w, CAST(COUNT(*) AS BIGINT) AS cg FROM filt GROUP BY 1
), tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM filt
), scored AS (
  SELECT sw.source, sw.w, sw.c,
         ln((sw.c + 1.0) / (st.n - sw.c + 1.0))
         - ln((gw.cg - sw.c + 1.0) / (tot.nn - st.n - (gw.cg - sw.c) + 1.0))
           AS lo
  FROM sw JOIN st ON st.source = sw.source
  JOIN gw ON gw.w = sw.w
  CROSS JOIN tot
), ranked AS (
  SELECT source, w, c, lo,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY lo DESC, w) AS rk
  FROM scored
)
SELECT source, w AS term, c AS n_occurrences, ROUND(lo, 6) AS log_odds
FROM ranked WHERE rk <= 3
ORDER BY source, log_odds DESC, term
"""


@query("text_distinctive_terms", oracle=_KEYNESS_SQL)
def text_distinctive_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinctive terms per source by smoothed log-odds keyness:
    for each (source, token), ln of the add-one-smoothed odds of the
    token INSIDE the source against its odds in the REST of the
    corpus — the corpus-comparison statistic ('what vocabulary makes
    this source itself') behind source fingerprinting, crawl-quality
    triage, and mixture-audit dashboards; tf-idf ranks within a
    document, keyness ranks a SOURCE against the rest. Top-3 terms
    per source.

    Exactness: every count is an exact BIGINT from two hash
    aggregates; the log-odds is the same IEEE double expression on
    both engines (identical parenthesization), ranked under a
    (lo DESC, token) total order and rounded only at the output.

    Scale: token work is one explode + (source, token) hash
    aggregate (map-side combined, shuffle O(vocab×sources) — never
    O(tokens)); the global-term and per-source totals re-join
    broadcast; the rank window runs per source over its vocab-sized
    slice."""
    from pyspark.sql import Window

    tok = (
        load(spark, sf_dir, "documents")
        .select(
            "source",
            F.explode(F.split(F.lower("text"), " ")).alias("w"),
        )
        .filter(F.length("w") >= 3)
    )
    sw = tok.groupBy("source", "w").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    st = tok.groupBy("source").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    gw = tok.groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("cg"))
    tot = tok.agg(F.count(F.lit(1)).cast("bigint").alias("nn"))
    lo = F.log((F.col("c") + 1.0) / (F.col("n") - F.col("c") + 1.0)) - F.log(
        (F.col("cg") - F.col("c") + 1.0)
        / (F.col("nn") - F.col("n") - (F.col("cg") - F.col("c")) + 1.0)
    )
    scored = (
        sw.join(F.broadcast(st), "source")
        .join(gw, "w")
        .crossJoin(F.broadcast(tot))
        .select("source", "w", "c", lo.alias("lo"))
    )
    rk = Window.partitionBy("source").orderBy(F.desc("lo"), "w")
    return (
        scored.withColumn("rk", F.row_number().over(rk))
        .filter(F.col("rk") <= 3)
        .select(
            "source",
            F.col("w").alias("term"),
            F.col("c").alias("n_occurrences"),
            F.round("lo", 6).alias("log_odds"),
        )
        .orderBy("source", F.desc("log_odds"), "term")
    )


# ---------------------------------------------------------------------------
# (moved from round9.py in the r14 chronological->topic split;
# registry names, semantics, and oracles unchanged)
# ---------------------------------------------------------------------------

# ---------------------------------------------------------------------------
# PMI collocations (pointwise mutual information over adjacent pairs)
# ---------------------------------------------------------------------------

_PMI_SQL = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
), pairs AS (
  SELECT w[i] AS left_tok, w[i + 1] AS right_tok
  FROM toks, UNNEST(range(1, len(w))) t(i)
), c AS (
  SELECT left_tok, right_tok, CAST(COUNT(*) AS BIGINT) AS n_pair
  FROM pairs GROUP BY 1, 2
), m AS (
  SELECT left_tok, right_tok, n_pair,
         SUM(n_pair) OVER (PARTITION BY left_tok) AS n_left,
         SUM(n_pair) OVER (PARTITION BY right_tok) AS n_right,
         SUM(n_pair) OVER () AS n_total
  FROM c
)
SELECT left_tok, right_tok, n_pair,
       CAST(n_left AS BIGINT) AS n_left,
       CAST(n_right AS BIGINT) AS n_right,
       ROUND(ln(CAST(n_pair AS DOUBLE) * CAST(n_total AS DOUBLE)
                / (CAST(n_left AS DOUBLE) * CAST(n_right AS DOUBLE))), 6)
         AS pmi
FROM m
WHERE n_pair >= 20 AND n_pair * n_total > n_left * n_right
ORDER BY left_tok, right_tok
"""


@query("text_pmi_collocations", oracle=_PMI_SQL)
def text_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining by pointwise mutual information over adjacent
    token pairs: PMI(a,b) = ln(c(a,b)·N / (c(a,·)·c(·,b))) — the
    classic 'which word pairs co-occur more than chance' readout a
    corpus-curation pipeline runs to find multiword expressions worth
    protecting from tokenization.

    The selection gate is EXACT INTEGER algebra — support c(a,b) ≥ 20
    and positive PMI as the cross-multiplied c·N > c_l·c_r — so the
    result-set boundary never depends on a float comparison; the PMI
    value itself is one ln on identical doubles, rounded at output.
    Output ordered by the pair, not by the float.

    Scale: pairs explode into a map-side-combined hash aggregate
    (shuffle = distinct pair space, Zipf-small); margins are two
    pair-frame windows PARTITIONED by token (vocab-sized groups) plus
    a broadcast total."""
    d = load(spark, sf_dir, "documents")
    c = _bigram_counts(d, "n_pair")
    nl = c.groupBy("left_tok").agg(F.sum("n_pair").alias("n_left"))
    nr = c.groupBy("right_tok").agg(F.sum("n_pair").alias("n_right"))
    nt = c.agg(F.sum("n_pair").alias("n_total"))
    m = (
        c.join(F.broadcast(nl), "left_tok")
        .join(F.broadcast(nr), "right_tok")
        .crossJoin(F.broadcast(nt))
    )
    pmi = F.log(
        F.col("n_pair").cast("double")
        * F.col("n_total").cast("double")
        / (F.col("n_left").cast("double") * F.col("n_right").cast("double"))
    )
    return (
        m.filter(
            (F.col("n_pair") >= 20)
            & (
                F.col("n_pair") * F.col("n_total")
                > F.col("n_left") * F.col("n_right")
            )
        )
        .select(
            "left_tok",
            "right_tok",
            F.col("n_pair").cast("bigint").alias("n_pair"),
            F.col("n_left").cast("bigint").alias("n_left"),
            F.col("n_right").cast("bigint").alias("n_right"),
            F.round(pmi, 6).alias("pmi"),
        )
        .orderBy("left_tok", "right_tok")
    )


# ---------------------------------------------------------------------------
# Jensen–Shannon divergence between source vocabularies
# ---------------------------------------------------------------------------

_JS_SQL = """
WITH toks AS (
  SELECT source, UNNEST(string_split(text, ' ')) AS tok
  FROM documents WHERE source IN ('src0', 'src1')
), c AS (
  SELECT tok,
         CAST(COUNT(*) FILTER (source = 'src0') AS BIGINT) AS c1,
         CAST(COUNT(*) FILTER (source = 'src1') AS BIGINT) AS c2
  FROM toks GROUP BY tok
), n AS (
  SELECT SUM(c1) AS n1, SUM(c2) AS n2,
         COUNT(*) AS vocab,
         COUNT(*) FILTER (c1 > 0 AND c2 > 0) AS vocab_shared
  FROM c
), terms AS (
  SELECT
    CASE WHEN c.c1 > 0 THEN
      CAST(c.c1 AS DOUBLE) / CAST(n.n1 AS DOUBLE)
      * ln((2.0 * CAST(c.c1 AS DOUBLE) * CAST(n.n2 AS DOUBLE))
           / (CAST(c.c1 AS DOUBLE) * CAST(n.n2 AS DOUBLE)
              + CAST(c.c2 AS DOUBLE) * CAST(n.n1 AS DOUBLE)))
    ELSE 0.0 END AS pterm,
    CASE WHEN c.c2 > 0 THEN
      CAST(c.c2 AS DOUBLE) / CAST(n.n2 AS DOUBLE)
      * ln((2.0 * CAST(c.c2 AS DOUBLE) * CAST(n.n1 AS DOUBLE))
           / (CAST(c.c1 AS DOUBLE) * CAST(n.n2 AS DOUBLE)
              + CAST(c.c2 AS DOUBLE) * CAST(n.n1 AS DOUBLE)))
    ELSE 0.0 END AS qterm
  FROM c CROSS JOIN n
)
SELECT CAST(n.n1 AS BIGINT) AS n1, CAST(n.n2 AS BIGINT) AS n2,
       CAST(n.vocab AS BIGINT) AS vocab,
       CAST(n.vocab_shared AS BIGINT) AS vocab_shared,
       (SELECT CAST(ROUND(SUM(CAST(0.5 * pterm + 0.5 * qterm
                AS DECIMAL(28,8))), 6) AS DOUBLE) FROM terms) AS js_nats
FROM n
"""


@query("text_jensen_shannon_sources", oracle=_JS_SQL)
def text_jensen_shannon_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen–Shannon divergence between the unigram vocabularies of
    two corpus sources (src0 vs src1) — the symmetric, bounded [0, ln2]
    distribution distance a mixture-curation pipeline uses to measure
    how different two ingest feeds actually are (KL is undefined the
    moment one source lacks a word; JS never is).

    Per-token terms use the cross-multiplied form
    p·ln(2·c1·n2 / (c1·n2 + c2·n1)) so every ln argument is a ratio of
    exact integers — one ln per (token, side), identical double chains
    in both engines, decimal-cast before the order-independent sum.

    Scale: one token-explode into a vocab-sized hash aggregate; the
    term fold runs on the vocab frame with a broadcast 1-row total."""
    d = load(spark, sf_dir, "documents").filter(
        F.col("source").isin("src0", "src1")
    )
    toks = d.select(
        "source", F.explode(F.split("text", " ")).alias("tok")
    )
    c = toks.groupBy("tok").agg(
        F.count(F.when(F.col("source") == "src0", 1)).alias("c1"),
        F.count(F.when(F.col("source") == "src1", 1)).alias("c2"),
    )
    n = c.agg(
        F.sum("c1").alias("n1"),
        F.sum("c2").alias("n2"),
        F.count(F.lit(1)).alias("vocab"),
        F.count(F.when((F.col("c1") > 0) & (F.col("c2") > 0), 1)).alias(
            "vocab_shared"
        ),
    )
    t = c.crossJoin(F.broadcast(n))
    c1d, c2d = F.col("c1").cast("double"), F.col("c2").cast("double")
    n1d, n2d = F.col("n1").cast("double"), F.col("n2").cast("double")
    denom = c1d * n2d + c2d * n1d
    pterm = F.when(
        F.col("c1") > 0,
        c1d / n1d * F.log(F.lit(2.0) * c1d * n2d / denom),
    ).otherwise(F.lit(0.0))
    qterm = F.when(
        F.col("c2") > 0,
        c2d / n2d * F.log(F.lit(2.0) * c2d * n1d / denom),
    ).otherwise(F.lit(0.0))
    return t.groupBy("n1", "n2", "vocab", "vocab_shared").agg(
        F.round(
            F.sum((F.lit(0.5) * pterm + F.lit(0.5) * qterm).cast("decimal(28,8)")),
            6,
        )
        .cast("double")
        .alias("js_nats"),
    ).select(
        F.col("n1").cast("bigint").alias("n1"),
        F.col("n2").cast("bigint").alias("n2"),
        F.col("vocab").cast("bigint").alias("vocab"),
        F.col("vocab_shared").cast("bigint").alias("vocab_shared"),
        "js_nats",
    )


# ---------------------------------------------------------------------------
# Mendenhall word-length characteristic curve (r14)
# ---------------------------------------------------------------------------

_MENDENHALL_SQL = """
WITH w AS (
  SELECT source, LEAST(CAST(strlen(u.tok) AS BIGINT), 13) AS wlen
  FROM documents, unnest(string_split(text, ' ')) AS u(tok)
  WHERE strlen(u.tok) > 0
), per AS (
  SELECT source, wlen, CAST(COUNT(*) AS BIGINT) AS n_words
  FROM w GROUP BY source, wlen
), tot AS (
  SELECT source, CAST(SUM(n_words) AS BIGINT) AS src_words FROM per
  GROUP BY source
)
SELECT p.source, p.wlen, p.n_words,
       ROUND(CAST(p.n_words AS DOUBLE) / t.src_words, 6) AS share
FROM per p JOIN tot t ON t.source = p.source
ORDER BY p.source, p.wlen
"""


@query("text_mendenhall_word_length", oracle=_MENDENHALL_SQL)
def text_mendenhall_word_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mendenhall's characteristic curve: the word-length spectrum per
    source (lengths capped at 13+ — the classic stylometry fingerprint
    from 1887, still the cheapest authorship/provenance screen a text
    pipeline runs; a source whose curve shifts between snapshots
    changed register, language mix, or generator). Counts are exact
    integers over the registry's single-space tokenizer; the share is
    one integer/integer division.

    Scale: one explode + map-side-combined groupBy on (source,
    length) — 13·|sources| output rows regardless of corpus size; the
    per-source totals join broadcasts."""
    d = load_wide(spark, sf_dir, "documents")
    w = d.select(
        "source", F.explode(F.split("text", " ")).alias("tok")
    ).filter(F.length("tok") > 0)
    per = w.groupBy(
        "source",
        F.least(F.length("tok").cast("bigint"), F.lit(13)).alias("wlen"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_words"))
    tot = per.groupBy("source").agg(
        F.sum("n_words").cast("bigint").alias("src_words")
    )
    return (
        per.join(F.broadcast(tot), "source")
        .select(
            "source",
            "wlen",
            "n_words",
            F.round(
                F.col("n_words").cast("double") / F.col("src_words"), 6
            ).alias("share"),
        )
        .orderBy("source", "wlen")
    )


# ---------------------------------------------------------------------------
# Burrows' Delta stylometric distance between sources (r14)
# ---------------------------------------------------------------------------

_BURROWS_TOPW = 20

_BURROWS_SQL = f"""
WITH w AS (
  SELECT source, u.tok
  FROM documents, unnest(string_split(text, ' ')) AS u(tok)
  WHERE strlen(u.tok) > 0
), topw AS (
  SELECT tok FROM (
    SELECT tok, CAST(COUNT(*) AS BIGINT) AS c FROM w GROUP BY tok
    ORDER BY c DESC, tok LIMIT {_BURROWS_TOPW}
  )
), stot AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS toks FROM w GROUP BY source
), f AS (
  SELECT s.source, t.tok,
         CAST(COALESCE(c.cnt, 0) * 1000000000 AS BIGINT) // s.toks AS f9
  FROM stot s CROSS JOIN topw t
  LEFT JOIN (SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS cnt
             FROM w GROUP BY source, tok) c
    ON c.source = s.source AND c.tok = t.tok
), mom AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS ns,
         CAST(SUM(f9) AS BIGINT) AS sf,
         CAST(SUM(f9 * f9) AS BIGINT) AS sf2
  FROM f GROUP BY tok
), z AS (
  SELECT f.source, f.tok,
         (CAST(f.f9 AS DOUBLE) - CAST(m.sf AS DOUBLE) / m.ns)
         / NULLIF(sqrt((CAST(m.ns AS DOUBLE) * m.sf2
                        - CAST(m.sf AS DOUBLE) * m.sf)
                       / (CAST(m.ns AS DOUBLE) * m.ns)), 0) AS zv
  FROM f JOIN mom m ON m.tok = f.tok
), pairs AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(ROUND(ABS(COALESCE(a.zv, 0) - COALESCE(b.zv, 0)), 9)
              AS DECIMAL(28,9)) AS term
  FROM z a JOIN z b ON a.tok = b.tok AND a.source < b.source
)
SELECT source_a, source_b,
       ROUND(CAST(SUM(term) AS DOUBLE) / {_BURROWS_TOPW}, 6)
         AS burrows_delta
FROM pairs GROUP BY source_a, source_b
ORDER BY source_a, source_b
"""


@query("text_burrows_delta", oracle=_BURROWS_SQL)
def text_burrows_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burrows' Delta (2002) — the standard stylometric distance
    between sources: z-score each source's relative frequency of the
    corpus's top-20 words (mean/std taken ACROSS
    sources, the Delta convention), then Δ(a,b) = mean |z_a − z_b|.
    The provenance screen that catches a corpus slice whose
    function-word profile doesn't match its label (different author
    pool, machine translation, template boilerplate).

    Exactness: relative frequencies are carried as the exact integer
    f9 = (count·10⁹) DIV source_tokens (integer floor division —
    identical both engines); cross-source moments are exact BIGINTs;
    z and the |z_a − z_b| terms are plain double algebra on identical
    inputs, ROUND→DECIMAL-quantized before the 20-term sum so the
    cross-engine aggregate is order-independent; one division at
    output. A zero-variance word (same f9 in every source)
    contributes 0 via the NULLIF/COALESCE guard on both sides.

    Scale: one wordcount shuffle + a |sources|×20 frame; everything
    after the two groupBys is catalog-sized. Pair join is
    |sources|² / 2 rows."""
    d = load_wide(spark, sf_dir, "documents")
    w = d.select(
        "source", F.explode(F.split("text", " ")).alias("tok")
    ).filter(F.length("tok") > 0)
    # r16 (guide §2.4 — one corpus pass, re-aggregate the rest): the
    # old form evaluated the corpus-wide explode THREE times (top-word
    # list, per-source totals, per-(source, tok) counts — 76 Exchange
    # nodes in plans/r16/text_burrows_delta_before.txt). Now ONE
    # (source, tok) count shuffle is materialized (vocab×sources-sized,
    # far below corpus scale) and both other aggregates are exact
    # integer re-aggregations of it: Σ cnt per tok == corpus tok count,
    # Σ cnt per source == source token total. Identical integers.
    cnt = (
        w.groupBy("source", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .localCheckpoint(eager=True)  # three consumers below
    )
    topw = (
        cnt.groupBy("tok")
        .agg(F.sum("cnt").cast("bigint").alias("c"))
        .orderBy(F.col("c").desc(), "tok")
        .limit(_BURROWS_TOPW)
        .select("tok")
    )
    stot = cnt.groupBy("source").agg(
        F.sum("cnt").cast("bigint").alias("toks")
    )
    f = (
        stot.crossJoin(F.broadcast(topw))
        .join(cnt, ["source", "tok"], "left")
        .select(
            "source",
            "tok",
            F.expr(
                "CAST(coalesce(cnt, 0) * 1000000000 AS BIGINT)"
                " DIV toks"
            ).alias("f9"),
        )
    )
    mom = f.groupBy("tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("ns"),
        F.sum("f9").cast("bigint").alias("sf"),
        F.sum(F.col("f9") * F.col("f9")).cast("bigint").alias("sf2"),
    )
    nsd = F.col("ns").cast("double")
    sd = F.sqrt(
        (nsd * F.col("sf2") - F.col("sf").cast("double") * F.col("sf"))
        / (nsd * F.col("ns"))
    )
    z = (
        f.join(F.broadcast(mom), "tok")
        .select(
            "source",
            "tok",
            (
                (
                    F.col("f9").cast("double")
                    - F.col("sf").cast("double") / F.col("ns")
                )
                / F.when(sd != 0, sd)
            ).alias("zv"),
        )
        # |sources|×20 rows; the a/b pair sides below are two
        # consumers — materialize once (r16)
        .localCheckpoint(eager=True)
    )
    za = z.select(
        F.col("source").alias("source_a"), "tok", F.col("zv").alias("zva")
    )
    zb = z.select(
        F.col("source").alias("source_b"),
        F.col("tok").alias("tok_b"),
        F.col("zv").alias("zvb"),
    )
    pairs = za.join(
        F.broadcast(zb),
        (F.col("source_a") < F.col("source_b"))
        & (F.col("tok") == F.col("tok_b")),
    ).select(
        "source_a",
        "source_b",
        F.round(
            F.abs(
                F.coalesce(F.col("zva"), F.lit(0.0))
                - F.coalesce(F.col("zvb"), F.lit(0.0))
            ),
            9,
        )
        .cast("decimal(28,9)")
        .alias("term"),
    )
    return (
        pairs.groupBy("source_a", "source_b")
        .agg(
            F.round(
                F.sum("term").cast("double") / F.lit(_BURROWS_TOPW), 6
            ).alias("burrows_delta")
        )
        .orderBy("source_a", "source_b")
    )


# ---------------------------------------------------------------------------
# Language-ID heuristic evaluated against the labeled lang column (r14)
# ---------------------------------------------------------------------------

_LANGID_CASE = """CASE WHEN regexp_matches(text, '[一-鿿]') THEN 'zh'
            WHEN regexp_matches(text, '[¿¡ñ]') THEN 'es'
            WHEN regexp_matches(text, '[àâçéèêëîïôùûœ]') THEN 'fr'
            WHEN regexp_matches(text, '[äöüß]') THEN 'de'
            ELSE 'en' END"""

_LANGID_EVAL_SQL = f"""
WITH p AS (
  SELECT lang AS labeled_lang, {_LANGID_CASE} AS predicted_lang
  FROM documents
), cell AS (
  SELECT labeled_lang, predicted_lang,
         CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM p GROUP BY 1, 2
), tot AS (
  SELECT labeled_lang, CAST(SUM(n_docs) AS BIGINT) AS n_labeled
  FROM cell GROUP BY labeled_lang
)
SELECT c.labeled_lang, c.predicted_lang, c.n_docs,
       c.labeled_lang = c.predicted_lang AS correct,
       ROUND(CAST(c.n_docs AS DOUBLE) / t.n_labeled, 6) AS row_share
FROM cell c JOIN tot t ON t.labeled_lang = c.labeled_lang
ORDER BY c.labeled_lang, c.predicted_lang
"""


@query("text_langid_confusion_eval", oracle=_LANGID_EVAL_SQL)
def text_langid_confusion_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the character-class language-ID heuristic
    (operators/text.py:lang_id) against the corpus's LABELED lang
    column — the eval row the r13/r14 evaluation layer owes the
    lang-ID gate: text_lang_id reports the predicted distribution;
    this measures whether the predictions are RIGHT. On the ASCII
    fixture the heuristic honestly collapses to 'en' (recall 1.0 for
    en, 0.0 elsewhere — the measured cost of the cheap gate);
    tests/test_round14.py plants real marker characters and pins the
    per-class recoveries.

    Exactness: exact integer cell counts, one division per row for
    the within-label share.

    Scale: per-row codegen regex + one map-side-combined groupBy on
    the ≤ |langs|² cell key."""
    d = load_wide(spark, sf_dir, "documents")
    cell = d.groupBy(
        F.col("lang").alias("labeled_lang"),
        T.lang_id("text").alias("predicted_lang"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    tot = cell.groupBy("labeled_lang").agg(
        F.sum("n_docs").cast("bigint").alias("n_labeled")
    )
    return (
        cell.join(F.broadcast(tot), "labeled_lang")
        .select(
            "labeled_lang",
            "predicted_lang",
            "n_docs",
            (F.col("labeled_lang") == F.col("predicted_lang")).alias(
                "correct"
            ),
            F.round(
                F.col("n_docs").cast("double") / F.col("n_labeled"), 6
            ).alias("row_share"),
        )
        .orderBy("labeled_lang", "predicted_lang")
    )
