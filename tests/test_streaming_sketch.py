"""Streaming CMS (streaming/sketch_stream.py): the sketch built by a
micro-batched stream must equal the batch sketch over the same rows
(grouped sums commute with micro-batching), its state must be
structurally bounded, and probes against it must keep the CMS
one-sided guarantee.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from ibd_pipeline_spark.catalog import load
from ibd_pipeline_spark.operators.sketches import CMS_DEPTH, CMS_WIDTH, cms_build, cms_probe
from ibd_pipeline_spark.streaming.sketch_stream import cms_stream


def test_streaming_cms_equals_batch(spark, sf_dir, tmp_path):
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    src = str(tmp_path / "docs_src")
    docs.coalesce(3).write.parquet(src)

    tokens_batch = spark.read.parquet(src).select(
        F.explode(F.split("text", " ")).alias("tok")
    )
    counts = tokens_batch.groupBy("tok").agg(F.count(F.lit(1)).alias("w"))
    batch_sketch = {
        (r["seed"], r["bucket"]): r["cnt"]
        for r in cms_build(counts, "tok", "w").collect()
    }

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .select(F.explode(F.split("text", " ")).alias("tok"))
    )
    q = (
        cms_stream(stream, "tok")
        .writeStream.format("memory")
        .queryName("cms_counters")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck_cms"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    stream_sketch = {
        (r["seed"], r["bucket"]): r["cnt"]
        for r in spark.sql("select * from cms_counters").collect()
    }

    assert stream_sketch == batch_sketch
    assert len(stream_sketch) <= CMS_DEPTH * CMS_WIDTH

    # probing the STREAM-built sketch keeps the one-sided guarantee
    sketch_df = spark.sql("select * from cms_counters")
    probes = counts.orderBy(F.col("w").desc(), "tok").limit(10)
    est = {r["tok"]: r["cms_estimate"]
           for r in cms_probe(sketch_df, probes.select("tok"), "tok").collect()}
    for r in probes.collect():
        assert est[r["tok"]] >= r["w"]
