"""Streaming freshness monitor (streaming/monitor.py): the state
maintained across micro-batches must equal the batch aggregate over
the same rows, the state is bounded by the type space, and the
read-side SLA join classifies staleness correctly.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from ibd_pipeline_spark.catalog import load
from ibd_pipeline_spark.streaming.monitor import freshness_state, staleness_report


def test_streaming_freshness_equals_batch(spark, sf_dir, tmp_path):
    ev = load(spark, sf_dir, "events").select("event_type", "ts")
    src = str(tmp_path / "ev_src")
    ev.coalesce(3).write.parquet(src)

    batch = {
        r["event_type"]: (r["n_events"], r["last_ts"])
        for r in freshness_state(spark.read.parquet(src)).collect()
    }

    stream = (
        spark.readStream.schema("event_type string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        freshness_state(stream)
        .writeStream.format("memory")
        .queryName("freshness")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ck_fresh"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    streamed = {
        r["event_type"]: (r["n_events"], r["last_ts"])
        for r in spark.sql("select * from freshness").collect()
    }
    assert streamed == batch
    assert 0 < len(streamed) <= 10  # bounded by the type space

    # read-side SLA: against the stream's own horizon, a type whose
    # last event is older than its budget must flag
    state = spark.sql("select * from freshness")
    horizon = F.lit(max(v[1] for v in batch.values()) )
    sla = spark.createDataFrame(
        [(t, 0) for t in batch] ,  # zero-minute budget: stale unless AT horizon
        "event_type string, max_gap_minutes int",
    )
    rep = {r["event_type"]: r["breached"]
           for r in staleness_report(state, horizon, sla).collect()}
    freshest = max(batch, key=lambda t: batch[t][1])
    assert rep[freshest] is False
    assert any(rep.values()) or all(
        batch[t][1] == batch[freshest][1] for t in batch
    )
