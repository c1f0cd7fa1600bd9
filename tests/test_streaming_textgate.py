"""The LLM text-quality gates run unchanged on a STREAM.

Every gate in queries/llmdata.py's per-row family is a stateless
projection (higher-order array functions only — no agg, no window),
so the exact same Column expressions apply to a readStream DataFrame.
This test feeds the documents fixture through a file stream, applies
the repetition gate, and asserts the streaming survivors equal the
batch survivors — the micro-batch boundary must not change per-row
semantics.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from ibd_pipeline_spark.catalog import load
from ibd_pipeline_spark.queries.llmdata import _shingles


def _gate_cols(df):
    """The repetition gate as pure column expressions (the streaming-
    and batch-shared formulation of text_repetition_ratio's core)."""
    toks = F.split("text", " ")
    s3 = _shingles(toks, 3)
    counted = df.select(
        "doc_id",
        "text",
        F.size(toks).alias("nt"),
        F.size(F.array_distinct(toks)).alias("ut"),
        F.size(s3).alias("n3"),
        F.size(F.array_distinct(s3)).alias("u3"),
    )
    tri_rep = F.when(F.col("n3") == 0, F.lit(0.0)).otherwise(
        1.0 - F.col("u3").cast("double") / F.col("n3")
    )
    return counted.select("doc_id", tri_rep.alias("trigram_repetition")).filter(
        tri_rep <= 0.2
    )


def test_repetition_gate_stream_equals_batch(spark, sf_dir, tmp_path):
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    src = str(tmp_path / "docs_src")
    docs.coalesce(2).write.parquet(src)

    batch_ids = {r["doc_id"] for r in _gate_cols(spark.read.parquet(src)).collect()}

    stream = spark.readStream.schema("doc_id long, text string").option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q = (
        _gate_cols(stream)
        .writeStream.format("memory")
        .queryName("gated_docs")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    stream_ids = {r["doc_id"] for r in spark.sql("select * from gated_docs").collect()}

    assert stream_ids == batch_ids
    assert len(batch_ids) > 0


def test_stream_static_enrichment_equals_batch(spark, sf_dir, tmp_path):
    """Stream-static dim join (streaming/enrich.py): events streamed
    file-by-file, enriched with a static user->segment dim, aggregated
    per segment — totals must equal the batch join. No watermark or
    state store is involved (the static side re-executes per batch)."""
    from ibd_pipeline_spark.streaming.enrich import enrich_stream

    events = load(spark, sf_dir, "events").select("event_id", "user_id", "value")
    src = str(tmp_path / "ev_src")
    events.coalesce(3).write.parquet(src)

    dim = (
        events.select("user_id").distinct()
        .withColumn("segment", F.col("user_id") % 7)
    )

    batch = {
        r["segment"]: r["n"]
        for r in spark.read.parquet(src)
        .join(dim, "user_id")
        .groupBy("segment")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }

    stream = spark.readStream.schema("event_id long, user_id long, value double").option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q = (
        enrich_stream(stream, dim, on="user_id", how="inner")
        .writeStream.format("memory")
        .queryName("enriched_events")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = {
        r["segment"]: r["n"]
        for r in spark.sql(
            "select segment, count(*) as n from enriched_events group by segment"
        ).collect()
    }
    assert got == batch and len(got) > 0


def test_stream_static_right_outer_rejected(spark, sf_dir):
    import pytest

    from ibd_pipeline_spark.streaming.enrich import enrich_stream

    events = load(spark, sf_dir, "events")
    with pytest.raises(ValueError, match="unknowable"):
        enrich_stream(events, events.limit(1), on="user_id", how="right_outer")
