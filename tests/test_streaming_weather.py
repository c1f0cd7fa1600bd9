"""Reference-parity tests for the weather pipeline (SURVEY.md §5.2-5.3):
golden batch aggregates, malformed-JSON permissiveness, the
stddev-null fix, true streaming with file source + memory sink
(update mode), late-data watermark behavior, and the line-protocol
sink path.
"""

from __future__ import annotations

import json
import math
import statistics

import pyspark.sql.functions as F
import pytest

from ibd_pipeline_spark.sources.weather_sim import generate_messages, weather_message
from ibd_pipeline_spark.streaming.weather import (
    parse_weather_json,
    weather_pipeline,
    windowed_aggregate,
)

N_MSG = 900  # 15 minutes at 1 msg/s → 3 complete 5-min windows


@pytest.fixture(scope="module")
def raw_batch(spark):
    msgs = generate_messages(N_MSG)
    return spark.createDataFrame([(m,) for m in msgs], ["value"]), msgs


def test_parse_schema_and_projection(spark, raw_batch):
    raw, _ = raw_batch
    parsed = parse_weather_json(raw)
    assert parsed.columns == [
        "event_time",
        "lat",
        "lon",
        "temperature_c",
        "apparent_temperature_c",
        "humidity_pct",
        "wind_speed_kmph",
        "wind_gust_kmph",
        "wind_direction_deg",
        "pressure_hpa",
        "cloud_cover_pct",
        "precipitation_mm",
    ]
    rows = parsed.collect()
    assert len(rows) == N_MSG
    assert all(r.event_time is not None for r in rows)


def test_golden_window_aggregates(spark, raw_batch):
    """Hand-computed per-window aggregates must match the pipeline
    (golden test per SURVEY §5.3)."""
    raw, msgs = raw_batch
    out = {r["window"]["start"].minute: r for r in weather_pipeline(raw).collect()}

    docs = [json.loads(m) for m in msgs]
    # Window the docs by 5-minute buckets of their ISO timestamps.
    by_window: dict[int, list[dict]] = {}
    for d in docs:
        minute = int(d["timestamp"][14:16])
        by_window.setdefault((minute // 5) * 5, []).append(d)

    assert set(out) == set(by_window)
    for wstart, group in by_window.items():
        temps = [d["current_conditions"]["temperature"]["value"] for d in group]
        gusts = [d["current_conditions"]["wind"]["gusts"] for d in group]
        precs = [d["current_conditions"]["precipitation"]["total"] for d in group]
        row = out[wstart]
        assert math.isclose(row.avg_temperature_c, statistics.fmean(temps), rel_tol=1e-9)
        assert math.isclose(row.max_wind_gust_kmph, max(gusts), rel_tol=1e-9)
        assert math.isclose(row.temperature_stddev, statistics.stdev(temps), rel_tol=1e-9)
        # Reference quirk: total_precipitation_mm is an AVG
        # (spark_processor.py:163); the _sum sibling is the fix.
        assert math.isclose(row.total_precipitation_mm, statistics.fmean(precs), rel_tol=1e-9)
        assert math.isclose(row.total_precipitation_mm_sum, sum(precs), rel_tol=1e-9)
        assert row.sample_count == len(group)


def test_malformed_json_permissive(spark):
    """Malformed JSON → null struct → null columns, no crash
    (PERMISSIVE from_json, spark_processor.py:124)."""
    raw = spark.createDataFrame(
        [("{not json",), ("",), (json.dumps({"timestamp": "2024-06-01T00:00:00"}),)],
        ["value"],
    )
    rows = parse_weather_json(raw).collect()
    assert len(rows) == 3
    assert rows[0].temperature_c is None
    assert rows[2].event_time is not None


def test_stddev_single_row_window_is_zero(spark):
    """Single-sample windows: the reference crashed on float(None)
    (spark_processor.py:183); we emit 0.0."""
    import random

    msg = json.dumps(weather_message(__import__("datetime").datetime(2024, 6, 1), 0, random.Random(1)))
    raw = spark.createDataFrame([(msg,)], ["value"])
    row = weather_pipeline(raw).collect()[0]
    assert row.temperature_stddev == 0.0
    assert row.sample_count == 1


def test_streaming_file_source_update_mode(spark, tmp_path):
    """True streaming smoke test: file source → update mode → memory
    sink; results equal the batch computation (SURVEY §5.2)."""
    src = tmp_path / "stream-in"
    src.mkdir()
    msgs = generate_messages(600)  # two 5-min windows
    (src / "batch0.txt").write_text("\n".join(msgs[:300]) + "\n")
    (src / "batch1.txt").write_text("\n".join(msgs[300:]) + "\n")

    from ibd_pipeline_spark.streaming.runner import file_json_source, run_weather_query

    raw = file_json_source(spark, str(src))
    q = run_weather_query(
        raw,
        checkpoint_dir=str(tmp_path / "ckpt"),
        sink="memory",
        query_name="weather_test",
        trigger_available_now=True,
    )
    assert q.awaitTermination(120)

    got = {
        r["window"]["start"]: r
        for r in spark.sql("select * from weather_test").collect()
    }
    batch = weather_pipeline(
        spark.createDataFrame([(m,) for m in msgs], ["value"])
    ).collect()
    assert len(got) == len(batch) == 2
    for b in batch:
        g = got[b["window"]["start"]]
        assert g.sample_count == b.sample_count
        assert math.isclose(g.avg_temperature_c, b.avg_temperature_c, rel_tol=1e-9)
        assert math.isclose(g.max_wind_gust_kmph, b.max_wind_gust_kmph, rel_tol=1e-9)


def test_streaming_late_data_dropped(spark, tmp_path):
    """Rows later than the 2-min watermark behind max event time are
    dropped from already-finalized windows in append semantics; in
    update mode with availableNow they fold in per-batch. Here we
    assert the watermark path executes and the query completes with
    both windows present (eviction itself is a multi-trigger
    property; the semantics oracle is events_tumbling_window)."""
    src = tmp_path / "late-in"
    src.mkdir()
    msgs = generate_messages(300)
    late = generate_messages(5, start=__import__("datetime").datetime(2024, 6, 1, 11, 0, 0))
    (src / "b0.txt").write_text("\n".join(msgs) + "\n")
    (src / "b1.txt").write_text("\n".join(late) + "\n")

    from ibd_pipeline_spark.streaming.runner import file_json_source, run_weather_query

    q = run_weather_query(
        file_json_source(spark, str(src), max_files_per_trigger=1),
        checkpoint_dir=str(tmp_path / "ckpt2"),
        sink="memory",
        query_name="weather_late",
        trigger_available_now=True,
    )
    assert q.awaitTermination(120)
    rows = spark.sql("select * from weather_late").collect()
    assert len(rows) >= 1


def test_influx_line_protocol_sink(spark, tmp_path, raw_batch):
    """foreachBatch → line-protocol writer (one bounded collect());
    mirrors the reference sink fields (spark_processor.py:177-190)."""
    from ibd_pipeline_spark.streaming.sinks import (
        file_line_writer,
        influx_foreach_batch,
        to_line_protocol,
    )

    raw, _ = raw_batch
    agg = weather_pipeline(raw)
    fields = [
        "avg_temperature_c",
        "avg_apparent_temperature_c",
        "temperature_stddev",
        "avg_wind_speed_kmph",
        "max_wind_gust_kmph",
        "avg_pressure_hpa",
        "avg_humidity_pct",
        "total_precipitation_mm",
    ]
    out_dir = str(tmp_path / "lp")
    handler = influx_foreach_batch(
        "weather_metrics_5m",
        {"location": "Bucharest", "window": "5m"},
        fields,
        lambda: file_line_writer(out_dir),
    )
    handler(agg, 0)

    import glob

    lines = []
    for p in glob.glob(out_dir + "/*.lp"):
        lines += open(p).read().splitlines()
    assert len(lines) == 3  # one per 5-min window
    assert all(l.startswith("weather_metrics_5m,location=Bucharest,window=5m ") for l in lines)
    assert all("avg_temperature_c=" in l for l in lines)
    # ns-precision epoch timestamp at the end (spark_processor.py:189)
    assert all(int(l.rsplit(" ", 1)[1]) % 1_000_000 == 0 for l in lines)


def _one_row(spark, sql: str):
    return spark.sql(f"SELECT TIMESTAMP'2024-06-01 10:05:00' AS window_end, {sql}")


def test_line_protocol_golden_point(spark):
    """Doubles render through Spark's double-to-string cast (a count
    reads 3.0) and the window end becomes an epoch-ns timestamp."""
    from ibd_pipeline_spark.streaming.sinks import to_line_protocol

    df = _one_row(spark, "21.25D AS avg_temperature_c, 3L AS sample_count")
    line = to_line_protocol(
        df, "weather", {"location": "bucharest"}, ["avg_temperature_c", "sample_count"]
    ).first()["line"]
    assert line == (
        "weather,location=bucharest avg_temperature_c=21.25,sample_count=3.0 "
        "1717236300000000000"
    )


def test_line_protocol_escapes_names_and_tag_values(spark):
    """Line protocol escapes `,` and space in the measurement and `,`,
    `=` and space in tag keys, tag values and field keys; the builder
    escapes them once, in Python, and quotes them for Spark's parser."""
    from ibd_pipeline_spark.streaming.sinks import to_line_protocol

    df = _one_row(spark, "1.5D AS `temp c`, 2.0D AS `a=b`")
    line = to_line_protocol(
        df,
        "weather metrics,v2",
        {"location": "New York, NY", "k=ey": "it's"},
        ["temp c", "a=b"],
    ).first()["line"]
    assert line == (
        "weather\\ metrics\\,v2,k\\=ey=it's,location=New\\ York\\,\\ NY "
        "temp\\ c=1.5,a\\=b=2.0 1717236300000000000"
    )


def test_drain_sends_few_gateway_commands(spark, tmp_path, monkeypatch):
    """The pipeline's expressions and the sink's line are SQL text, and
    the sink builds its line expression once: building the query and
    one availableNow drain of two files (three micro-batches) send about
    160 py4j commands. Column trees, with the sink's rebuilt per batch,
    sent 1,128 here (about 2,700 for the benchmark's eleven fields)."""
    import py4j.clientserver as cs

    from ibd_pipeline_spark.streaming.runner import file_json_source, run_weather_query
    from ibd_pipeline_spark.streaming.sinks import file_line_writer, influx_foreach_batch

    src = tmp_path / "in"
    src.mkdir()
    msgs = generate_messages(600)
    (src / "b0.txt").write_text("\n".join(msgs[:300]) + "\n")
    (src / "b1.txt").write_text("\n".join(msgs[300:]) + "\n")
    out_dir = str(tmp_path / "lp")
    orig = cs.ClientServerConnection.send_command
    sent = []

    def send_command(conn, command, *args, **kwargs):
        if not command.startswith("m\nd\n"):  # object-release notices
            sent.append(command)
        return orig(conn, command, *args, **kwargs)

    monkeypatch.setattr(cs.ClientServerConnection, "send_command", send_command)
    handler = influx_foreach_batch(
        "weather",
        {"location": "bucharest"},
        ["avg_temperature_c", "sample_count"],
        lambda: file_line_writer(out_dir),
    )
    q = run_weather_query(
        file_json_source(spark, str(src), max_files_per_trigger=1),
        checkpoint_dir=str(tmp_path / "ckpt"),
        foreach_batch=handler,
        trigger_available_now=True,
    )
    assert q.awaitTermination(120)
    monkeypatch.undo()
    assert q.exception() is None
    assert len(q.recentProgress) >= 2
    assert len(sent) < 300, len(sent)
    assert len(open(f"{out_dir}/part-00000.lp").read().splitlines()) >= 2
