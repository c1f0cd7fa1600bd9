"""Training-data assembly queries over the `documents` table: the
last-mile ops between a cleaned corpus and a tokenized training run —
sequence packing against a token budget, domain-mixture resampling,
and relative-quantile quality gating.

All three are pure DataFrame compositions (window functions + hash
arithmetic), so they are DuckDB-oracle-checked like the relational
suite. The reference pipeline has no analog (its only aggregation is
the 5-min weather window, spark_processor.py:150-164); these extend
the north-star LLM-data set alongside queries/text.py and
queries/dedup.py.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ibd_pipeline_spark.catalog import load
from ibd_pipeline_spark.operators import text as T
from ibd_pipeline_spark.queries import davg, query
from ibd_pipeline_spark.queries.text import _QUALITY_SQL

_N_SHARDS = 32
_TOKEN_BUDGET = 2048


def _md5_bucket(col: str, mod: int):
    """Deterministic data-derived bucket in [0, mod): first 8 hex
    digits of md5(key) mod `mod`. Identical in DuckDB (see
    stratified_hash_sample) — a pure function of the data, so results
    are invariant to partitioning, engine, and rerun."""
    return (
        F.conv(F.substring(F.md5(F.col(col).cast("string")), 1, 8), 16, 10)
        .cast("bigint") % mod
    )


@query(
    "train_pack_sequences",
    oracle=f"""
WITH t AS (
  SELECT doc_id,
         CAST(('0x' || SUBSTRING(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
           % {_N_SHARDS} AS shard,
         len(string_split(text, ' ')) AS nt
  FROM documents
), c AS (
  SELECT shard, doc_id, nt,
         SUM(nt) OVER (PARTITION BY shard ORDER BY doc_id
                       ROWS UNBOUNDED PRECEDING) AS cum
  FROM t
), p AS (
  SELECT shard,
         CAST(FLOOR((cum - nt) / {_TOKEN_BUDGET}.0) AS BIGINT) AS pack_id,
         nt
  FROM c
)
SELECT shard,
       COUNT(DISTINCT pack_id)      AS n_packs,
       COUNT(*)                     AS n_docs,
       CAST(SUM(nt) AS BIGINT)      AS total_tokens,
       ROUND(SUM(nt) / (COUNT(DISTINCT pack_id) * {_TOKEN_BUDGET}.0), 4)
         AS fill_ratio
FROM p
GROUP BY shard
ORDER BY shard
""",
)
def train_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for a {budget}-token training context: shard
    documents by content hash, concatenate each shard in deterministic
    (doc_id) order, and cut packs at every {budget}-token boundary of
    the running offset (pack_id = floor(start_offset / budget)).

    Scale design: ONE shuffle on the shard key + a per-shard sort —
    the window cumsum never materializes a pack; at 100 TB shards are
    independent so parallelism = shard count (raise _N_SHARDS to
    O(cluster cores)), and the per-shard sort spills via Tungsten
    rather than OOMing. The hash shard keeps pack contents stable
    under repartitioning, which training-data reproducibility needs.
    """
    d = load(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = (
        d.select(
            "doc_id",
            _md5_bucket("doc_id", _N_SHARDS).alias("shard"),
            T.token_count("text").alias("nt"),
        )
        .withColumn("cum", F.sum("nt").over(w))
        .withColumn(
            "pack_id",
            F.floor((F.col("cum") - F.col("nt")) / float(_TOKEN_BUDGET)).cast("bigint"),
        )
    )
    return (
        packed.groupBy("shard")
        .agg(
            F.countDistinct("pack_id").alias("n_packs"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("nt").cast("bigint").alias("total_tokens"),
            F.round(
                F.sum("nt") / (F.countDistinct("pack_id") * float(_TOKEN_BUDGET)), 4
            ).alias("fill_ratio"),
        )
        .orderBy("shard")
    )


@query(
    "train_domain_mix",
    oracle="""
WITH t AS (
  SELECT lang,
         CAST(('0x' || SUBSTRING(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
           % 100 AS bucket,
         CASE WHEN lang = 'en' THEN 100 WHEN lang = 'zh' THEN 60 ELSE 30 END AS rate,
         len(string_split(text, ' ')) AS nt
  FROM documents
)
SELECT lang,
       COUNT(*)                                        AS n_docs,
       COUNT(*) FILTER (WHERE bucket < rate)           AS n_kept,
       CAST(SUM(nt) FILTER (WHERE bucket < rate) AS BIGINT) AS kept_tokens,
       ROUND(COUNT(*) FILTER (WHERE bucket < rate) * 1.0 / COUNT(*), 4)
         AS keep_ratio
FROM t
GROUP BY lang
ORDER BY lang
""",
)
def train_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture resampling: hit a target language mix (en 100%,
    zh 60%, other 30%) with a DETERMINISTIC hash gate per document —
    the selection is a pure function of doc_id, so the mixture is
    reproducible across engines, reruns, and repartitionings (unlike
    seeded Bernoulli sampling, whose draw depends on partition order).

    Scale design: the gate is a codegen expression evaluated during
    the scan — zero shuffle for the sampling itself; the per-lang
    audit agg is a 5-group map-side-combined rollup. At 100 TB this is
    how you downsample a 50 B-doc crawl to a target mixture without a
    single wide operation."""
    d = load(spark, sf_dir, "documents")
    rate = (
        F.when(F.col("lang") == "en", 100)
        .when(F.col("lang") == "zh", 60)
        .otherwise(30)
    )
    kept = _md5_bucket("doc_id", 100) < rate
    return (
        d.select(
            "lang",
            kept.alias("kept"),
            T.token_count("text").alias("nt"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_if("kept").alias("n_kept"),
            F.sum(F.when(F.col("kept"), F.col("nt"))).cast("bigint").alias("kept_tokens"),
            F.round(F.count_if("kept") / F.count(F.lit(1)), 4).alias("keep_ratio"),
        )
        .orderBy("lang")
    )


@query(
    "train_quality_quantile_gate",
    oracle=f"""
WITH scored AS (
  SELECT doc_id, lang,
         {_QUALITY_SQL} AS quality
  FROM documents
), ranked AS (
  SELECT lang, quality,
         PERCENT_RANK() OVER (PARTITION BY lang ORDER BY quality) AS pr
  FROM scored
)
SELECT lang,
       COUNT(*)                              AS n_docs,
       COUNT(*) FILTER (WHERE pr >= 0.5)     AS n_kept,
       ROUND(MIN(CASE WHEN pr >= 0.5 THEN quality END), 6) AS cutoff_quality
FROM ranked
GROUP BY lang
ORDER BY lang
""",
)
def train_quality_quantile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative quality gating: keep each language's top half by
    quality score (percent_rank >= 0.5 within lang). Absolute
    thresholds (text_quality_filter) mis-gate languages whose score
    distributions differ; ranking within the stratum is the standard
    fix. percent_rank is tie-stable, so both engines agree exactly.

    Scale design: one shuffle on lang + per-partition sort. At 100 TB
    a single lang stratum can exceed one executor — swap percent_rank
    for a two-pass approx_percentile cutoff (constant-memory t-digest,
    stats_approx_percentiles shows the primitive) and keep this exact
    form for stratum sizes that fit (the plan is identical)."""
    d = load(spark, sf_dir, "documents")
    scored = d.select("doc_id", "lang", T.quality_score("text").alias("quality"))
    pr = F.percent_rank().over(Window.partitionBy("lang").orderBy("quality"))
    return (
        scored.withColumn("pr", pr)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count_if(F.col("pr") >= 0.5).alias("n_kept"),
            F.round(
                F.min(F.when(F.col("pr") >= 0.5, F.col("quality"))), 6
            ).alias("cutoff_quality"),
        )
        .orderBy("lang")
    )


@query(
    "train_embed_quantize_int8",
    oracle="""
WITH d AS (
  SELECT label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
), scaled AS (
  SELECT label,
         list_max(list_transform(v, x -> ABS(x))) / 127.0 AS scale,
         v
  FROM d
), err AS (
  SELECT label, scale,
         list_max(list_transform(v, x -> ABS(ROUND(x / scale)))) AS max_abs_q,
         list_sum(list_transform(v,
             x -> POW(x - ROUND(x / scale) * scale, 2))) / len(v) * 1e6 AS mse_ppm
  FROM scaled
  WHERE scale > 0
)
SELECT label,
       COUNT(*) AS n_vecs,
       CAST(ROUND(SUM(CAST(scale AS DECIMAL(28,8))), 6) AS DOUBLE) / COUNT(scale)
         AS avg_scale,
       CAST(ROUND(SUM(CAST(mse_ppm AS DECIMAL(28,8))), 4) AS DOUBLE) / COUNT(mse_ppm)
         AS avg_mse_ppm,
       CAST(MAX(max_abs_q) AS BIGINT) AS max_abs_q
FROM err
GROUP BY label
ORDER BY label
""",
)
def train_embed_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar quantization of the embedding column (per-vector
    symmetric scale = max|x|/127) with a reconstruction-error audit:
    mean squared error in ppm and the quantized range bound (≤ 127)
    per label group. The whole transform is higher-order array
    functions — zero Python, zero shuffle for the quantization
    itself; the audit is one map-side-combined aggregate.

    Scale design: this is the 4× storage/bandwidth cut applied before
    ANN indexing at 100 TB (float32 → int8 + one float scale per
    vector); keeping it as codegen expressions means it fuses with
    the ingest scan. Cross-engine determinism: float32 → double is
    exact, both engines fold the list in element order with IEEE
    doubles, and ROUND-half-away-from-zero agrees; group averages go
    through exact decimal sums (davg convention).
    """
    e = load(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    d = e.select("label", v.alias("v"))
    scale = F.array_max(F.transform(F.col("v"), lambda x: F.abs(x))) / 127.0
    scaled = d.select("label", scale.alias("scale"), "v").filter(F.col("scale") > 0)
    q = lambda x: F.round(x / F.col("scale"))  # noqa: E731
    err = scaled.select(
        "label",
        "scale",
        F.array_max(F.transform(F.col("v"), lambda x: F.abs(q(x)))).alias("max_abs_q"),
        (
            F.aggregate(
                F.transform(F.col("v"), lambda x: F.pow(x - q(x) * F.col("scale"), 2)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            / F.size(F.col("v"))
            * 1e6
        ).alias("mse_ppm"),
    )
    return (
        err.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            davg(F.col("scale"), 6).alias("avg_scale"),
            davg(F.col("mse_ppm"), 4).alias("avg_mse_ppm"),
            F.max("max_abs_q").cast("bigint").alias("max_abs_q"),
        )
        .orderBy("label")
    )
