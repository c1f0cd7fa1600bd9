"""InfluxDB v2 HTTP writer: chunking, auth, retry, failure policy.

Network-free — the transport is injected (the same deterministic-twin
pattern as tests/test_rest_feeder.py). The production default is the
stdlib urllib POST in streaming/sinks.py:_urllib_transport; reference
behavior being rebuilt: spark_processor.py:194-197 (driver-side
write_api.write of Python-built points) → line protocol rendered in
the JVM, collected once per batch and POSTed in chunks.
"""

from __future__ import annotations

import math
import os

import pytest

from ibd_pipeline_spark.streaming.sinks import InfluxHTTPConfig, http_line_writer


class FakeTransport:
    """Records every POST and the process it came from; replies from a
    scripted status queue (then 204s forever)."""

    def __init__(self, statuses: list[int] | None = None):
        self.calls: list[tuple[str, dict, bytes]] = []
        self.pids: list[int] = []
        self.statuses = list(statuses or [])

    def __call__(self, url: str, headers: dict, body: bytes) -> int:
        self.calls.append((url, dict(headers), body))
        self.pids.append(os.getpid())
        return self.statuses.pop(0) if self.statuses else 204


def _cfg(**kw) -> InfluxHTTPConfig:
    base = dict(
        url="http://influx.example:8086",
        org="my org",
        bucket="metrics",
        batch_lines=3,
        max_retries=2,
    )
    base.update(kw)
    return InfluxHTTPConfig(**base)


def test_chunking_and_url_shape():
    t = FakeTransport()
    write = http_line_writer(_cfg(), transport=t)
    write(0, [f"m v={i} {i}" for i in range(7)])  # 7 lines, batch=3 → 3 POSTs
    assert len(t.calls) == 3
    url = t.calls[0][0]
    assert url.startswith("http://influx.example:8086/api/v2/write?")
    assert "org=my%20org" in url and "bucket=metrics" in url and "precision=ns" in url
    bodies = [c[2].decode().splitlines() for c in t.calls]
    assert [len(b) for b in bodies] == [3, 3, 1]
    assert bodies[0][0] == "m v=0 0"


def test_token_from_env_never_in_closure(monkeypatch):
    monkeypatch.setenv("MY_INFLUX_TOKEN", "s3cret")
    t = FakeTransport()
    write = http_line_writer(_cfg(token_env="MY_INFLUX_TOKEN"), transport=t)
    write(0, ["m v=1 1"])
    assert t.calls[0][1]["Authorization"] == "Token s3cret"
    # unset env → empty token, not a crash (the server rejects instead)
    monkeypatch.delenv("MY_INFLUX_TOKEN")
    write(0, ["m v=1 1"])
    assert t.calls[1][1]["Authorization"] == "Token "


def test_retry_then_success_on_5xx():
    t = FakeTransport(statuses=[503, 500, 204])
    write = http_line_writer(_cfg(), transport=t)
    write(0, ["m v=1 1"])  # two failures then success, within max_retries=2
    assert len(t.calls) == 3
    assert all(c[2] == t.calls[0][2] for c in t.calls)  # same body re-posted


def test_retries_exhausted_raises():
    t = FakeTransport(statuses=[503, 503, 503])
    write = http_line_writer(_cfg(), transport=t)
    with pytest.raises(RuntimeError, match="after 3 tries"):
        write(7, ["m v=1 1"])


def test_client_error_fails_immediately():
    t = FakeTransport(statuses=[401])
    write = http_line_writer(_cfg(), transport=t)
    with pytest.raises(RuntimeError, match="rejected"):
        write(0, ["m v=1 1"])
    assert len(t.calls) == 1  # no retry on auth/validation errors


def test_empty_partition_posts_nothing():
    t = FakeTransport()
    http_line_writer(_cfg(), transport=t)(0, [])
    assert t.calls == []


def _weather_handler(transport, batch_lines: int):
    from ibd_pipeline_spark.streaming.sinks import influx_foreach_batch

    cfg = InfluxHTTPConfig(
        url="http://influx.example:8086", org="o", bucket="b", batch_lines=batch_lines
    )
    return influx_foreach_batch(
        "weather_metrics_5m",
        {"location": "Bucharest"},
        ["avg_temperature_c"],
        lambda: http_line_writer(cfg, transport),
    )


@pytest.fixture(scope="module")
def weather_batch(spark):
    """A weather aggregate materialized like a micro-batch's frame: its
    collect() is one job with no exchange left to plan."""
    from ibd_pipeline_spark.sources.weather_synth import synth_weather_json
    from ibd_pipeline_spark.streaming.weather import weather_pipeline

    return weather_pipeline(synth_weather_json(spark, 3000)).localCheckpoint()


def test_foreach_batch_wiring_with_http_writer(weather_batch):
    """End-to-end: foreachBatch handler → HTTP writer. The batch is
    written from the driver, so an in-memory transport sees every POST,
    all from this process, chunked to `batch_lines`."""
    t = FakeTransport()
    _weather_handler(t, batch_lines=4)(weather_batch, 0)
    lines = [line for c in t.calls for line in c[2].decode().splitlines()]
    assert len(lines) == weather_batch.count() > 4
    assert all(
        line.startswith("weather_metrics_5m,location=Bucharest ") for line in lines
    )
    assert t.pids and set(t.pids) == {os.getpid()}
    assert len(t.calls) == math.ceil(len(lines) / 4)


def test_foreach_batch_runs_one_job(spark, weather_batch):
    t = FakeTransport()
    handler = _weather_handler(t, batch_lines=100)
    sc = spark.sparkContext
    sc.setJobGroup("influx-sink", "one micro-batch through the sink")
    try:
        handler(weather_batch, 0)
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description"):
            sc.setLocalProperty(key, None)
    assert len(sc.statusTracker().getJobIdsForGroup("influx-sink")) == 1
    assert len(t.calls) == 1


def test_empty_batch_posts_nothing(weather_batch):
    """The watermark's no-data batch reaches the handler as an empty
    frame: nothing to write, so no POST."""
    t = FakeTransport()
    _weather_handler(t, batch_lines=100)(weather_batch.limit(0), 1)
    assert t.calls == []
