"""Streaming Page–Hinkley monitor (streaming/ph.py): daily value
means under a watermark + read-side PH scoring.

Three properties:
  * stream-equals-batch: streamed day means over a file source equal
    the batch expression over the same rows, exactly (decimal state);
  * twin agreement: the read-side report's argmax row equals the
    hash-attested batch twin (stats_page_hinkley) on the same parquet;
  * planted drift alarms: a series whose mean steps up mid-stream
    fires the alarm after the step, and never before it.
"""

from __future__ import annotations

import datetime

import pyspark.sql.functions as F

from ibd_pipeline_spark.catalog import load
from ibd_pipeline_spark.streaming.ph import daily_value_means, ph_report


def test_streaming_daily_means_equal_batch(spark, sf_dir, tmp_path):
    ev = load(spark, sf_dir, "events").select("ts", "value")
    src = str(tmp_path / "src")
    ev.write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema("ts timestamp, value double").parquet(src)
    q = (
        daily_value_means(stream)
        .writeStream.format("memory")
        .queryName("ph_daily")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM ph_daily").collect()
    streamed = {}
    for r in rows:  # update mode: last (max-n) update per window wins
        k = str(r["w"]["start"])
        if k not in streamed or r["n"] > streamed[k][0]:
            streamed[k] = (r["n"], r["day_avg"])
    batch = {
        str(r["w"]["start"]): (r["n"], r["day_avg"])
        for r in daily_value_means(ev).collect()
    }
    assert streamed == batch and batch


def test_ph_report_matches_batch_twin(spark, sf_dir):
    """The read-side report's max row == the registry twin's single
    output row (same day, same statistic, same verdict)."""
    from ibd_pipeline_spark.queries.timeseries import stats_page_hinkley

    ev = load(spark, sf_dir, "events").select("ts", "value")
    rep = (
        ph_report(daily_value_means(ev))
        .orderBy(F.col("ph_stat").desc(), "day")
        .limit(1)
        .collect()[0]
    )
    twin = stats_page_hinkley(spark, sf_dir).collect()[0]
    assert rep["day"] == twin["changepoint_day"]
    assert abs(rep["ph_stat"] - twin["ph_stat"]) < 1e-9
    assert rep["alarm"] == twin["alarm"]


def test_ph_planted_drift_alarms(spark):
    """30 steady days at 10.0 then 15 drifted days at 11.0: the alarm
    fires only after the step (PH before the step stays ~0)."""
    t0 = datetime.datetime(2024, 4, 1)
    rows = []
    eid = 0
    for d in range(45):
        v = 10.0 if d < 30 else 11.0
        for j in range(4):
            rows.append((eid, t0 + datetime.timedelta(days=d, minutes=j), v))
            eid += 1
    ev = spark.createDataFrame(rows, "event_id long, ts timestamp, value double")
    rep = {r["day"]: r for r in ph_report(daily_value_means(ev)).collect()}
    days = sorted(rep)
    pre = [rep[d] for d in days[:30]]
    post = [rep[d] for d in days[-5:]]
    assert not any(r["alarm"] for r in pre), "alarm before the planted step"
    assert all(r["alarm"] for r in post), "no alarm after the planted step"
    # PH is monotone-increasing through the drifted run
    tail_vals = [rep[d]["ph_stat"] for d in days[30:]]
    assert tail_vals == sorted(tail_vals)
