"""Streaming burstiness monitor (streaming/burstiness.py): hourly
tumbling counts under a watermark + read-side Fano/CV²/B.

Three properties:
  * stream-equals-batch: the streamed hourly counts over a file
    source equal the batch expression over the same rows, and the
    read-side report equals the hash-attested batch twin
    (events_fano_burstiness) on the same parquet;
  * watermark eviction: feeding time-ordered batches shrinks live
    state below the total window count (the boundedness mechanism —
    contrast drift.py's fixed key space);
  * planted burstiness alarms: a bursty arrival pattern scores
    Fano ≫ 1 while a steady one scores ≈ 0.
"""

from __future__ import annotations

import datetime

import pyspark.sql.functions as F

from ibd_pipeline_spark.catalog import load
from ibd_pipeline_spark.streaming.burstiness import fano_report, hourly_counts


def _collect_latest(spark, table):
    """Update-mode memory sink: keep each key's LAST update (counts
    are monotone per key, so max(c) == final)."""
    rows = spark.sql(f"SELECT * FROM {table}").collect()
    out = {}
    for r in rows:
        k = (r["event_type"], r["w"]["start"])
        if k not in out or r["c"] > out[k]:
            out[k] = r["c"]
    return out


def test_streaming_hourly_counts_equal_batch(spark, sf_dir, tmp_path):
    ev = load(spark, sf_dir, "events").select("ts", "event_type")
    src = str(tmp_path / "src")
    ev.write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema("ts timestamp, event_type string").parquet(src)
    q = (
        hourly_counts(stream)
        .writeStream.format("memory")
        .queryName("burst_hourly")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    streamed = _collect_latest(spark, "burst_hourly")
    batch = {
        (r["event_type"], r["w"]["start"]): r["c"]
        for r in hourly_counts(ev).collect()
    }
    assert streamed == batch and batch

    # read-side report over the streamed counts == the hash-attested
    # batch twin on the same parquet dir
    import pandas as pd  # noqa: F401 (ensure pandas availability for sort)

    from ibd_pipeline_spark.queries import all_queries

    streamed_df = spark.sql("SELECT * FROM burst_hourly").groupBy(
        "event_type", "w"
    ).agg(F.max("c").alias("c"))
    got = {
        r["event_type"]: r for r in fano_report(streamed_df).collect()
    }
    twin_dir = str(tmp_path / "twin")
    (tmp_path / "twin").mkdir()
    load(spark, sf_dir, "events").write.parquet(twin_dir + "/events.parquet")
    want = {
        r["event_type"]: r
        for r in all_queries()["events_fano_burstiness"](spark, twin_dir).collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k]["fano_factor"] == want[k]["fano_factor"], (got[k], want[k])
        assert got[k]["burstiness"] == want[k]["burstiness"]


def test_watermark_evicts_closed_windows(spark, tmp_path):
    """Two time-ordered file batches: after the second trigger the
    state store holds FEWER rows than total windows — closed windows
    older than the watermark were evicted (the boundedness claim)."""
    t0 = datetime.datetime(2024, 5, 1, 0, 0, 0)
    rows_a = [(t0 + datetime.timedelta(hours=h, minutes=m), "a")
              for h in range(12) for m in (0, 30)]
    rows_b = [(t0 + datetime.timedelta(hours=h, minutes=m), "a")
              for h in range(12, 24) for m in (0, 30)]
    src = tmp_path / "src"
    src.mkdir()
    spark.createDataFrame(rows_a, "ts timestamp, event_type string").coalesce(
        1
    ).write.parquet(str(src / "b=0"))
    spark.createDataFrame(rows_b, "ts timestamp, event_type string").coalesce(
        1
    ).write.parquet(str(src / "b=1"))

    stream = (
        spark.readStream.schema("ts timestamp, event_type string")
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src / "b=*"))
    )
    q = (
        hourly_counts(stream, watermark="2 hours")
        .writeStream.format("memory")
        .queryName("burst_evict")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    prog = q.lastProgress
    state_rows = prog["stateOperators"][0]["numRowsTotal"]
    # 24 one-hour windows total; the watermark horizon (2h) keeps only
    # the tail live after the second trigger
    assert state_rows < 24, prog["stateOperators"][0]
    # every window still REPORTED exactly once with the right count
    got = _collect_latest(spark, "burst_evict")
    assert len(got) == 24 and all(c == 2 for c in got.values())


def test_planted_burstiness_scores(spark):
    t0 = datetime.datetime(2024, 3, 1)
    rows = []
    for h in range(48):
        for j in range(4):
            rows.append((t0 + datetime.timedelta(hours=h, minutes=j), "steady"))
    for j in range(40):
        rows.append((t0 + datetime.timedelta(minutes=j), "bursty"))
    for h in range(1, 40):
        rows.append((t0 + datetime.timedelta(hours=h), "bursty"))
    ev = spark.createDataFrame(rows, "ts timestamp, event_type string")
    out = {r["event_type"]: r for r in fano_report(hourly_counts(ev)).collect()}
    assert out["steady"]["fano_factor"] == 0.0
    assert out["bursty"]["fano_factor"] > 10
