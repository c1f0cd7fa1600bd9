"""Checkpoint recovery: a streaming query stopped and restarted from
its checkpoint must process new data exactly once — no reprocessing
of already-committed micro-batches, no lost windows. This is the
property the reference relies on implicitly (its checkpointLocation,
spark_processor.py:206) but never tests."""

from __future__ import annotations

import json
from collections import defaultdict

import pyspark.sql.functions as F

from ibd_pipeline_spark.sources.weather_sim import generate_messages
from ibd_pipeline_spark.streaming.runner import file_json_source, run_weather_query


def test_checkpoint_restart_exactly_once(spark, tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    sink_dir = tmp_path / "out"
    sink_dir.mkdir()
    ckpt = str(tmp_path / "ckpt")

    emitted: list = []  # (run, batch_id, window_start, sample_count)

    def make_handler(run_tag):
        def handle(batch_df, batch_id):
            rows = batch_df.select(
                F.col("window.start").alias("ws"), "sample_count"
            ).collect()
            out = [(run_tag, batch_id, str(r.ws), r.sample_count) for r in rows]
            # persist to files so assertions survive the JVM boundary
            p = sink_dir / f"{run_tag}-{batch_id}.json"
            p.write_text(json.dumps(out))

        return handle

    msgs = generate_messages(600)  # two complete 5-min windows

    # Run 1: first half of the data.
    (src / "a.txt").write_text("\n".join(msgs[:300]) + "\n")
    q1 = run_weather_query(
        file_json_source(spark, str(src)),
        checkpoint_dir=ckpt,
        foreach_batch=make_handler("run1"),
        trigger_available_now=True,
    )
    assert q1.awaitTermination(120)

    # Run 2: second half arrives while the query is down; restart
    # from the same checkpoint.
    (src / "b.txt").write_text("\n".join(msgs[300:]) + "\n")
    q2 = run_weather_query(
        file_json_source(spark, str(src)),
        checkpoint_dir=ckpt,
        foreach_batch=make_handler("run2"),
        trigger_available_now=True,
    )
    assert q2.awaitTermination(120)

    for f in sink_dir.glob("*.json"):
        emitted.extend(tuple(x) for x in json.loads(f.read_text()))

    run1 = [e for e in emitted if e[0] == "run1"]
    run2 = [e for e in emitted if e[0] == "run2"]
    assert run1 and run2
    # Run 2 must NOT re-read file a.txt: its total processed sample
    # counts cover only the 300 new messages.
    run2_samples = sum(e[3] for e in run2)
    assert run2_samples == 300, f"restart reprocessed data: {run2_samples}"
    # Final state across runs covers all 600 messages exactly once:
    # the last emission per window in update mode is the full count.
    last_per_window = {}
    for run_tag, batch_id, ws, n in sorted(emitted, key=lambda e: (e[0], e[1])):
        last_per_window[ws] = n
    assert sum(last_per_window.values()) == 600
    assert len(last_per_window) == 2


def test_sink_replay_idempotent_after_midbatch_crash(spark, tmp_path):
    """Sink-side half of exactly-once (VERDICT r10 #6): the recovery
    test above proves restart-from-checkpoint; this pins the SINK
    contract the update-mode-upsert design depends on. A micro-batch
    whose line-protocol write SUCCEEDED but whose checkpoint commit
    did NOT (crash between write and commit — simulated by a writer
    that raises after writing) is REPLAYED on restart: the raw
    capture must contain duplicate points, and the Influx upsert key
    (measurement, tags, timestamp) must collapse them to exactly the
    batch-computed truth."""
    import glob

    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from ibd_pipeline_spark.streaming.sinks import (
        file_line_writer,
        influx_foreach_batch,
        to_line_protocol,
    )
    from ibd_pipeline_spark.streaming.weather import weather_pipeline

    src = tmp_path / "in"
    src.mkdir()
    out_dir = str(tmp_path / "lp")
    ckpt = str(tmp_path / "ckpt")
    fields = ["avg_temperature_c", "max_wind_gust_kmph", "sample_count"]
    meas, tags = "weather_metrics_5m", {"location": "Bucharest"}

    def healthy():
        return influx_foreach_batch(
            meas, tags, fields, lambda: file_line_writer(out_dir)
        )

    def poisoned():
        def factory():
            inner = file_line_writer(out_dir)

            def write(pid, lines):
                inner(pid, lines)  # bytes reach the sink...
                raise RuntimeError("sink crashed before commit")

            return write

        return influx_foreach_batch(meas, tags, fields, factory)

    msgs = generate_messages(600)  # two complete 5-min windows

    # Run 1 (healthy): first window's data commits normally.
    (src / "a.txt").write_text("\n".join(msgs[:300]) + "\n")
    q1 = run_weather_query(
        file_json_source(spark, str(src)),
        checkpoint_dir=ckpt,
        foreach_batch=healthy(),
        trigger_available_now=True,
    )
    assert q1.awaitTermination(120)

    # Run 2 (poisoned): the second window's lines are WRITTEN but the
    # batch never commits — the query dies mid-batch.
    (src / "b.txt").write_text("\n".join(msgs[300:]) + "\n")
    q2 = run_weather_query(
        file_json_source(spark, str(src)),
        checkpoint_dir=ckpt,
        foreach_batch=poisoned(),
        trigger_available_now=True,
    )
    with pytest.raises(StreamingQueryException):
        q2.awaitTermination(120)

    # Run 3 (healthy): restart replays the uncommitted batch.
    q3 = run_weather_query(
        file_json_source(spark, str(src)),
        checkpoint_dir=ckpt,
        foreach_batch=healthy(),
        trigger_available_now=True,
    )
    assert q3.awaitTermination(120)

    lines: list[str] = []
    for p in glob.glob(out_dir + "/*.lp"):
        lines += open(p).read().splitlines()

    # The crash-then-replay MUST have produced duplicate raw points —
    # otherwise this test isn't exercising the at-least-once path.
    from collections import Counter

    raw_counts = Counter(lines)
    assert any(c > 1 for c in raw_counts.values()), "no replayed points"

    # Influx upsert semantics: last write per (measurement, tags, ts)
    # wins. Replayed points carry identical values (deterministic
    # aggregate over the same window), so the reduced state must equal
    # the batch twin over ALL the data, exactly once per window.
    reduced: dict[tuple, str] = {}
    for ln in lines:
        head, ts = ln.rsplit(" ", 1)
        series = head.split(" ", 1)[0]  # measurement,tag=... key
        reduced[(series, ts)] = ln

    batch_raw = spark.createDataFrame([(m,) for m in msgs], "value string").select(
        F.col("value").cast("binary").alias("value")
    )
    agg = weather_pipeline(batch_raw)
    flat = agg.select(F.col("window.end").alias("window_end"), *fields)
    truth_lines = {
        r["line"]
        for r in to_line_protocol(flat, meas, tags, fields, "window_end").collect()
    }

    def parse(ln: str) -> tuple:
        head, ts = ln.rsplit(" ", 1)
        series, fieldstr = head.split(" ", 1)
        vals = dict(kv.split("=") for kv in fieldstr.split(","))
        return (series, ts), vals

    truth = dict(parse(ln) for ln in truth_lines)
    got = dict(parse(ln) for ln in reduced.values())
    assert got.keys() == truth.keys()
    for key, tv in truth.items():
        gv = got[key]
        # counts are exact; avg/max floats may differ in the last ulp
        # between the streaming state fold and batch partial
        # aggregation (summation order) — that is float noise, not a
        # replay defect
        assert float(gv["sample_count"]) == float(tv["sample_count"]), key
        for f in ("avg_temperature_c", "max_wind_gust_kmph"):
            a, b = float(gv[f]), float(tv[f])
            assert abs(a - b) <= 1e-9 * max(1.0, abs(b)), (key, f, a, b)
    assert len(reduced) == 2  # two 5-minute windows, one point each
