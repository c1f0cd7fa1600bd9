"""Streaming continuous-aggregate materialization (streaming/rollup.py):
multi-micro-batch update-mode upserts into a parquet append log must
serve EXACTLY the same hourly grain as a one-shot batch aggregation
of the raw events — and compaction must preserve it.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from ibd_pipeline_spark.catalog import load
from ibd_pipeline_spark.streaming.rollup import (
    compact_rollup,
    hourly_from_rollup,
    read_rollup,
    run_rollup_materialization,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def materialized(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("rollup")
    src = str(base / "events_src")
    log = str(base / "rollup_log")
    ckpt = str(base / "ckpt")

    raw = load(spark, SF, "events").select("ts", "event_type", "value")
    # Round-robin into 4 files so the same 5-min window arrives across
    # several micro-batches — forcing genuine update-mode re-emissions.
    raw.repartition(4).write.parquet(src)

    stream = (
        spark.readStream.schema(raw.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    # Files are round-robin, not time-ordered: the replay needs a
    # watermark wider than the replayed span or cross-batch "late"
    # rows are dropped by design.
    q = run_rollup_materialization(stream, log, ckpt, watermark="60 days")
    assert q.awaitTermination(120)
    assert not q.isActive
    assert q.exception() is None
    return {"raw": raw, "log": log, "base": base}


def _hourly_expected(raw):
    return (
        raw.groupBy(
            F.date_trunc("hour", F.window("ts", "5 minutes").start).alias("hour_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(28,8)")).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("avg_value"),
            F.round(F.max("value"), 4).alias("max_value"),
        )
    )


def _as_sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_streaming_matches_batch(spark, materialized):
    served = hourly_from_rollup(read_rollup(spark, materialized["log"]))
    expected = _hourly_expected(materialized["raw"])
    assert _as_sorted_rows(served) == _as_sorted_rows(expected)


def test_upsert_path_exercised(spark, materialized):
    """The append log must hold >1 version for at least one window —
    otherwise this test ran as a single batch and proved nothing."""
    log = spark.read.parquet(materialized["log"])
    versions = log.groupBy("window_start", "event_type").count()
    assert versions.filter(F.col("count") > 1).count() > 0
    # and batch ids really spanned multiple triggers
    assert log.select("batch_id").distinct().count() > 1


def test_compaction_preserves_snapshot(spark, materialized):
    compacted_path = str(materialized["base"] / "rollup_compacted")
    compact_rollup(spark, materialized["log"], compacted_path)
    compacted = spark.read.parquet(compacted_path)
    # exactly one version per key after compaction
    assert (
        compacted.groupBy("window_start", "event_type")
        .count()
        .filter(F.col("count") > 1)
        .count()
        == 0
    )
    served = hourly_from_rollup(read_rollup(spark, compacted_path))
    expected = _hourly_expected(materialized["raw"])
    assert _as_sorted_rows(served) == _as_sorted_rows(expected)
