"""Streaming stateful-operator tests: dedup-within-watermark,
sliding/session windows in true streaming mode, and the
applyInPandasWithState custom operator — all via file source +
memory sink, no external services."""

from __future__ import annotations

import json
import time
from datetime import datetime, timedelta

import pytest

from ibd_pipeline_spark.streaming import stateful


def _write_events(path, rows):
    path.parent.mkdir(parents=True, exist_ok=True)
    with open(path, "w") as fh:
        for r in rows:
            fh.write(json.dumps(r) + "\n")


@pytest.fixture()
def event_stream(spark, tmp_path):
    """JSON-file event stream with schema (ts, user_id, value)."""
    t0 = datetime(2024, 6, 1, 12, 0, 0)
    rows = []
    for i in range(60):
        rows.append(
            {
                "ts": (t0 + timedelta(seconds=30 * i)).isoformat(),
                "user_id": i % 3,
                "value": float(i),
                "event_id": i,
            }
        )
    # duplicates of the first 10 event_ids
    for i in range(10):
        rows.append(
            {
                "ts": (t0 + timedelta(seconds=30 * i, milliseconds=1)).isoformat(),
                "user_id": i % 3,
                "value": float(i),
                "event_id": i,
            }
        )
    _write_events(tmp_path / "in" / "a.json", rows)

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("ts", StringType()),
            StructField("user_id", LongType()),
            StructField("value", DoubleType()),
            StructField("event_id", LongType()),
        ]
    )
    import pyspark.sql.functions as F

    raw = spark.readStream.schema(schema).json(str(tmp_path / "in"))
    return raw.withColumn("event_time", F.to_timestamp("ts")), tmp_path


def test_dedup_within_watermark_streaming(spark, event_stream):
    df, tmp = event_stream
    q = (
        stateful.dedup_within_watermark(df, ["event_id"], watermark="1 hour")
        .writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp / "ck_dedup"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    rows = spark.sql("select event_id, count(*) c from dedup_stream group by 1").collect()
    assert len(rows) == 60  # 70 inputs, 10 dups removed
    assert all(r.c == 1 for r in rows)


def test_session_window_streaming(spark, event_stream):
    df, tmp = event_stream
    q = (
        stateful.session_window_agg(df, "user_id", "value", gap="2 minutes")
        .writeStream.format("memory")
        .queryName("sess_stream")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp / "ck_sess"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    rows = spark.sql("select * from sess_stream").collect()
    # users appear every 90s < 2-min gap → one continuous session each
    assert len(rows) == 3
    assert {r.user_id for r in rows} == {0, 1, 2}


def test_sliding_window_streaming(spark, event_stream):
    df, tmp = event_stream
    q = (
        stateful.sliding_window_agg(df, "value", length="10 minutes", slide="5 minutes")
        .writeStream.format("memory")
        .queryName("slide_stream")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp / "ck_slide"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    rows = spark.sql("select * from slide_stream").collect()
    # 30 minutes of data / 5-min slide → 7 overlapping 10-min windows
    assert len(rows) == 7
    total = sum(r.n for r in rows)
    assert total == 140  # each of 70 events in exactly 2 windows


def test_apply_in_pandas_with_state(spark, event_stream):
    df, tmp = event_stream
    q = (
        stateful.running_user_stats(df.select("user_id", "event_time", "value").withColumnRenamed("event_time", "ts"))
        .writeStream.format("memory")
        .queryName("user_stats")
        .outputMode("update")
        .option("checkpointLocation", str(tmp / "ck_state"))
        .trigger(availableNow=True)
        .start()
    )
    # Processing-time timeouts keep an availableNow query planning
    # no-data batches, so it never ends by itself (and
    # processAllAvailable() never returns). A no-data batch runs only
    # once every available file is processed: wait for one, then stop.
    deadline = time.monotonic() + 120
    while not any(p["numInputRows"] == 0 for p in q.recentProgress):
        assert q.isActive and time.monotonic() < deadline, q.exception()
        time.sleep(0.1)
    q.stop()
    rows = spark.sql(
        "select user_id, max(events_seen) seen, max(value_sum) vs from user_stats group by 1"
    ).collect()
    got = {r.user_id: (r.seen, r.vs) for r in rows}
    # 70 events (60 + 10 dups — this operator counts raw arrivals)
    assert sum(v[0] for v in got.values()) == 70
    expected_sum = sum(float(i) for i in range(60)) + sum(float(i) for i in range(10))
    assert abs(sum(v[1] for v in got.values()) - expected_sum) < 1e-6


def _protobuf_usable() -> bool:
    # transformWithStateInPandas talks to a JVM-side state server over
    # a protobuf protocol; without a working google.protobuf the
    # streaming Python runner crashes at init.
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


@pytest.mark.skipif(
    not _protobuf_usable(),
    reason="transformWithStateInPandas needs google.protobuf (absent in this container)",
)
def test_transform_with_state_in_pandas(spark, event_stream):
    """Spark-4 transformWithStateInPandas: same running-stats machine
    as the GroupState version, typed ValueState + RocksDB provider."""
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        df, tmp = event_stream
        q = (
            stateful.running_user_stats_tws(df.select("user_id", "value"))
            .writeStream.format("memory")
            .queryName("user_stats_tws")
            .outputMode("update")
            .option("checkpointLocation", str(tmp / "ck_tws"))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)
        rows = spark.sql(
            "select user_id, max(events_seen) seen, max(value_sum) vs, max(value_max) vm "
            "from user_stats_tws group by 1"
        ).collect()
        got = {r.user_id: (r.seen, r.vs, r.vm) for r in rows}
        assert sum(v[0] for v in got.values()) == 70
        expected_sum = sum(float(i) for i in range(60)) + sum(float(i) for i in range(10))
        assert abs(sum(v[1] for v in got.values()) - expected_sum) < 1e-6
        # per-user max value: user k sees values k, k+3, ..., 57+? → max = 57+k offsets
        assert got[0][2] == 57.0 and got[1][2] == 58.0 and got[2][2] == 59.0
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")


@pytest.fixture()
def cusum_stream(spark, tmp_path):
    """Three JSON files (processed one per trigger, so state crosses
    micro-batches) with schema (ts, metric, value): metric 'stable'
    stays at 0-mean noise, metric 'shifted' jumps to +2 in the last
    file — the planted level shift the alarm must catch."""
    t0 = datetime(2024, 6, 1, 12, 0, 0)

    def val(metric, i, phase):
        if metric == "shifted" and phase == 2:
            return 2.0 + (i % 3) * 0.1
        return (-1.0 if i % 2 else 1.0) * 0.3  # zero-drift noise

    rows_by_phase = {0: [], 1: [], 2: []}
    i = 0
    for phase in range(3):
        for j in range(20):
            for metric in ("stable", "shifted"):
                rows_by_phase[phase].append(
                    {
                        "ts": (t0 + timedelta(seconds=i)).isoformat(),
                        "metric": metric,
                        "value": val(metric, j, phase),
                    }
                )
            i += 1
    for phase, rows in rows_by_phase.items():
        _write_events(tmp_path / "cin" / f"{chr(97 + phase)}.json", rows)

    from pyspark.sql.types import (
        DoubleType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("ts", StringType()),
            StructField("metric", StringType()),
            StructField("value", DoubleType()),
        ]
    )
    import pyspark.sql.functions as F

    def make(streaming: bool):
        if streaming:
            raw = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1)
                .json(str(tmp_path / "cin"))
            )
        else:
            raw = spark.read.schema(schema).json(str(tmp_path / "cin"))
        return raw.withColumn("event_time", F.to_timestamp("ts"))

    return make, tmp_path


def test_cusum_monitor_stream_equals_batch(spark, cusum_stream):
    """The streaming per-key CUSUM's FINAL update must equal the batch
    twin's fold over the full history, and the planted +2 level shift
    must alarm while the zero-drift key must not."""
    make, tmp = cusum_stream
    kwargs = dict(
        key_col="metric",
        value_col="value",
        ts_col="event_time",
        target=0.0,
        slack=0.5,
        threshold=5.0,
    )
    q = (
        stateful.cusum_monitor(make(streaming=True), **kwargs)
        .writeStream.format("memory")
        .queryName("cusum_stream")
        .outputMode("update")
        .option("checkpointLocation", str(tmp / "ck_cusum"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    # update mode emits one row per key per micro-batch that touched
    # it; the LAST emit per key is the final state.
    stream_rows = {
        r["key"]: r
        for r in sorted(
            spark.sql("SELECT * FROM cusum_stream").collect(),
            key=lambda r: r["n_seen"],
        )
    }
    batch_rows = {
        r["key"]: r
        for r in stateful.cusum_batch(make(streaming=False), **kwargs).collect()
    }
    assert set(stream_rows) == {"stable", "shifted"} == set(batch_rows)
    for k in batch_rows:
        s, b = stream_rows[k], batch_rows[k]
        assert s["n_seen"] == b["n_seen"] == 60
        assert s["n_alarms"] == b["n_alarms"]
        assert s["s_pos"] == pytest.approx(b["s_pos"], abs=1e-12)
    assert batch_rows["shifted"]["n_alarms"] >= 1
    assert batch_rows["stable"]["n_alarms"] == 0


def test_cusum_fold_reset_semantics():
    """Unit check of the recursion: drift accumulates, alarms reset."""
    s, n, alarms = stateful._cusum_fold(
        0.0, 0, 0, [2.0] * 5, target=0.0, slack=0.5, threshold=5.0
    )
    # s walks 1.5, 3.0, 4.5, 6.0 -> alarm+reset, then 1.5
    assert (n, alarms) == (5, 1)
    assert s == pytest.approx(1.5)
    s2, _, alarms2 = stateful._cusum_fold(
        0.0, 0, 0, [-1.0] * 50, target=0.0, slack=0.5, threshold=5.0
    )
    assert alarms2 == 0 and s2 == 0.0


def test_cusum_monitor_recovers_from_checkpoint(spark, cusum_stream, tmp_path):
    """Stop the stream after the first two files, restart on the SAME
    checkpoint with the third file present: the recovered state must
    carry through and the final per-key result must still equal the
    batch twin over the full history. (memory sink can't recover from
    a checkpoint, so a foreachBatch upsert captures the updates.)"""
    import shutil

    make, tmp = cusum_stream
    kwargs = dict(
        key_col="metric",
        value_col="value",
        ts_col="event_time",
        target=0.0,
        slack=0.5,
        threshold=5.0,
    )
    captured: dict = {}

    def upsert(batch_df, _bid):
        for r in batch_df.collect():
            prev = captured.get(r["key"])
            if prev is None or r["n_seen"] >= prev["n_seen"]:
                captured[r["key"]] = r.asDict()

    def run_once():
        q = (
            stateful.cusum_monitor(make(streaming=True), **kwargs)
            .writeStream.foreachBatch(upsert)
            .outputMode("update")
            .option("checkpointLocation", str(tmp / "ck_cusum_rec"))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(120)

    # phase 1: hide the last file, process what's there
    hidden = tmp_path / "hidden_c.json"
    shutil.move(str(tmp / "cin" / "c.json"), str(hidden))
    run_once()
    assert {k: v["n_seen"] for k, v in captured.items()} == {
        "stable": 40,
        "shifted": 40,
    }
    # phase 2: reveal the third file, restart on the same checkpoint
    shutil.move(str(hidden), str(tmp / "cin" / "c.json"))
    run_once()
    batch = {
        r["key"]: r
        for r in stateful.cusum_batch(make(streaming=False), **kwargs).collect()
    }
    for k in ("stable", "shifted"):
        assert captured[k]["n_seen"] == batch[k]["n_seen"] == 60
        assert captured[k]["n_alarms"] == batch[k]["n_alarms"]
        assert captured[k]["s_pos"] == pytest.approx(
            batch[k]["s_pos"], abs=1e-12
        )


def test_tws_gate_is_probe_not_marker():
    """SKIPS.md §2 pin: the transformWithStateInPandas gate must be a
    RUNTIME probe of google.protobuf (so it self-flips on when the
    dependency appears), and its current answer must agree with an
    independent import attempt of the exact blocking module chain
    (pyspark.sql.streaming.proto.StateMessage_pb2 -> google.protobuf)."""
    try:
        import pyspark.sql.streaming.proto.StateMessage_pb2  # noqa: F401

        chain_imports = True
    except ImportError:
        chain_imports = False
    assert _protobuf_usable() == chain_imports
