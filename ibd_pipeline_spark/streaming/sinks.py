"""Pluggable streaming sinks.

The reference sink collect()s every micro-batch to the driver and
writes InfluxDB points one HTTP client call per batch
(spark_processor.py:167-197), building each point in Python.

InfluxDB itself isn't in this container, so the Influx adapter
formats line protocol (the public wire format) in one Spark SQL
expression, built once per handler, and hands a batch's lines to a
writer callback — file-backed by default, chunked HTTP POSTs in
production. A windowed aggregate's micro-batch output is bounded by
the windows the batch touched, not by the input rate, so the adapter
writes it from the driver in one job; the Kafka sink below writes
from the executors.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Iterable
from dataclasses import dataclass, field

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ibd_pipeline_spark.sqltext import ident, string_literal


def _lp_escape(text: str, specials: str) -> str:
    """Backslash-escape each of `specials` in a line-protocol name."""
    for ch in specials:
        text = text.replace(ch, "\\" + ch)
    return text


def line_protocol_sql(
    measurement: str, tags: dict[str, str], field_cols: list[str], time_sql: str
) -> str:
    """One Spark SQL expression rendering a row as an InfluxDB line
    protocol point: measurement, tags, the `field_cols` as doubles, and
    `time_sql` (an expression castable to timestamp) as an epoch-ns
    timestamp — the shape the reference writes via Point()
    (spark_processor.py:177-190).

    The constant parts are escaped here, as the line protocol requires:
    `,` and space in the measurement; `,`, `=` and space in tag keys,
    tag values and field keys. Tags are written in key order."""
    head = _lp_escape(measurement, ", ") + "".join(
        f",{_lp_escape(k, ',= ')}={_lp_escape(v, ',= ')}"
        for k, v in sorted(tags.items())
    )
    fields = ", ".join(
        f"concat({string_literal(_lp_escape(c, ',= ') + '=')}, "
        f"CAST(CAST({ident(c)} AS DOUBLE) AS STRING))"
        for c in field_cols
    )
    ts_ns = f"CAST(unix_micros(CAST({time_sql} AS TIMESTAMP)) * 1000 AS STRING)"
    return f"concat({string_literal(head + ' ')}, concat_ws(',', {fields}), ' ', {ts_ns})"


def to_line_protocol(
    df: DataFrame,
    measurement: str,
    tags: dict[str, str],
    field_cols: list[str],
    time_col: str = "window_end",
) -> DataFrame:
    """`df` rendered as line protocol (`line_protocol_sql`) in one
    `line` column, timestamped with `time_col`. Rendering runs
    distributed, in codegen, not on the driver."""
    sql = line_protocol_sql(measurement, tags, field_cols, ident(time_col))
    return df.selectExpr(f"{sql} AS line")


def file_line_writer(directory: str) -> Callable[[int, Iterable[str]], None]:
    """Writer that appends lines to one file per partition id — the
    test stand-in for an HTTP POST to /api/v2/write."""

    def write(partition_id: int, lines: Iterable[str]) -> None:
        os.makedirs(directory, exist_ok=True)
        path = os.path.join(directory, f"part-{partition_id:05d}.lp")
        with open(path, "a", encoding="utf-8") as fh:
            for line in lines:
                fh.write(line + "\n")

    return write


@dataclass
class InfluxHTTPConfig:
    """Connection shape for InfluxDB's public v2 write API.

    The token is sourced from the environment of the writing process
    (the driver, for `influx_foreach_batch`) at write time
    (`token_env`), never embedded in the plan or the closure — the
    reference hard-codes url/token/org in source
    (spark_processor.py:15-18,30-33), which this deliberately refuses
    to reproduce."""

    url: str
    org: str
    bucket: str
    token_env: str = "INFLUXDB_TOKEN"
    precision: str = "ns"
    batch_lines: int = 5000
    timeout_s: float = 10.0
    max_retries: int = 3

    def write_url(self) -> str:
        from urllib.parse import quote

        return (
            f"{self.url.rstrip('/')}/api/v2/write"
            f"?org={quote(self.org)}&bucket={quote(self.bucket)}"
            f"&precision={self.precision}"
        )


def _urllib_transport(timeout_s: float) -> Callable[[str, dict, bytes], int]:
    """Default HTTP transport: stdlib urllib POST (no extra deps).
    Returns the response status; HTTP errors surface as their status
    code so the retry policy can distinguish 429/5xx from 4xx."""

    def send(url: str, headers: dict, body: bytes) -> int:
        import urllib.error
        import urllib.request

        req = urllib.request.Request(url, data=body, headers=headers, method="POST")
        try:
            with urllib.request.urlopen(req, timeout=timeout_s) as resp:
                return int(resp.status)
        except urllib.error.HTTPError as ex:
            return int(ex.code)

    return send


def http_line_writer(
    cfg: InfluxHTTPConfig,
    transport: Callable[[str, dict, bytes], int] | None = None,
) -> Callable[[int, Iterable[str]], None]:
    """Writer that POSTs line-protocol chunks of `batch_lines` to the
    Influx v2 write endpoint — the production counterpart of
    `file_line_writer`.

    `transport(url, headers, body) -> status` is injectable (the
    deterministic-twin pattern of sources/rest_feeder.py:87-130) so
    the chunking / auth / retry policy is testable with no server.
    Retryable statuses (429, 5xx) back off exponentially up to
    `max_retries`; other non-2xx statuses fail the write immediately —
    the micro-batch then fails and is replayed from the checkpoint,
    and Influx write idempotence (same measurement+tags+timestamp ⇒
    upsert) makes the replay safe."""
    import itertools
    import time

    def write(partition_id: int, lines: Iterable[str]) -> None:
        send = transport or _urllib_transport(cfg.timeout_s)
        token = os.environ.get(cfg.token_env, "")
        headers = {
            "Authorization": f"Token {token}",
            "Content-Type": "text/plain; charset=utf-8",
        }
        url = cfg.write_url()
        it = iter(lines)
        while True:
            chunk = list(itertools.islice(it, cfg.batch_lines))
            if not chunk:
                return
            body = "\n".join(chunk).encode("utf-8")
            for attempt in range(cfg.max_retries + 1):
                status = send(url, headers, body)
                if status < 300:
                    break
                if status in (429,) or status >= 500:
                    if attempt == cfg.max_retries:
                        raise RuntimeError(
                            f"influx write failed after {attempt + 1} tries "
                            f"(partition {partition_id}, status {status})"
                        )
                    time.sleep(min(2.0**attempt * 0.1, 5.0))
                else:
                    raise RuntimeError(
                        f"influx write rejected (partition {partition_id}, "
                        f"status {status})"
                    )

    return write


# ---------------------------------------------------------------------------
# W4 — Kafka producer sink (SURVEY.md §2.1 W4; weather-producer.py:19-28,
# 224-225). The reference serializes a dict to JSON and producer.send()s it
# one message at a time with a flush() per message. The Spark-native rebuild
# is the built-in Kafka writer: project the frame to the (key, value) record
# contract and hand it to format("kafka") — batched, partition-parallel
# produces from the executors, no per-message flush, no driver involvement.
# The broker/connector jar is absent in this container, so tests validate
# the record projection and the writer configuration (the only code that is
# ours); the format("kafka") hand-off is Spark's own tested surface.
# ---------------------------------------------------------------------------


@dataclass
class KafkaSinkConfig:
    """Writer options mirroring KafkaSourceConfig (runner.py:29-37).

    Auth options (SASL_SSL / SCRAM-SHA-256, spark_processor.py:54-66)
    go in extra_options with values sourced from the environment or a
    secret store — never hard-coded (the reference embeds credentials,
    weather-producer.py:22-27)."""

    bootstrap_servers: str
    topic: str = "sensor_data"
    extra_options: dict[str, str] = field(default_factory=dict)

    def writer_options(self) -> dict[str, str]:
        return {
            "kafka.bootstrap.servers": self.bootstrap_servers,
            "topic": self.topic,
            **self.extra_options,
        }


def to_kafka_records(
    df: DataFrame, key_col: str | None = None, value_cols: list[str] | None = None
) -> DataFrame:
    """Project a DataFrame to the Kafka writer's record contract:
    `value` = JSON document of `value_cols` (default: every non-key
    column), optional `key` = key_col cast to string.

    JSON rendering is F.to_json over a struct — pure codegen, executed
    distributed; this is the engine-side twin of the reference
    producer's json.dumps value_serializer (weather-producer.py:21)."""
    cols = value_cols or [c for c in df.columns if c != key_col]
    record = [F.to_json(F.struct(*[F.col(c) for c in cols])).alias("value")]
    if key_col is not None:
        record.insert(0, F.col(key_col).cast("string").alias("key"))
    return df.select(*record)


def write_kafka_batch(
    df: DataFrame, cfg: KafkaSinkConfig, key_col: str | None = None
) -> None:
    """Batch produce: df.write.format("kafka") — e.g. replaying a
    corrected table back into a topic. Executors produce in parallel;
    contrast the reference's 1 msg/s single-threaded send loop."""
    writer = to_kafka_records(df, key_col=key_col).write.format("kafka")
    for k, v in cfg.writer_options().items():
        writer = writer.option(k, v)
    writer.save()


def kafka_stream_writer(
    df: DataFrame,
    cfg: KafkaSinkConfig,
    checkpoint_dir: str,
    key_col: str | None = None,
    output_mode: str = "update",
):
    """Streaming produce: writeStream.format("kafka") with exactly-once
    bookkeeping via the checkpoint (the reference producer has no
    delivery guarantee at all). Returns the configured DataStreamWriter;
    callers .start() it (kept separate so tests can inspect the plan
    without a broker)."""
    writer = (
        to_kafka_records(df, key_col=key_col)
        .writeStream.format("kafka")
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
    )
    for k, v in cfg.writer_options().items():
        writer = writer.option(k, v)
    return writer


def influx_foreach_batch(
    measurement: str,
    tags: dict[str, str],
    field_cols: list[str],
    writer_factory: Callable[[], Callable[[int, Iterable[str]], None]],
):
    """Build a foreachBatch function that renders a micro-batch of a
    windowed aggregate as line protocol, each point timestamped with
    its window's end, and writes it from the driver:
    one collect() job, then one `writer_factory()` writer called with
    partition id 0. The line expression is SQL text built here, once;
    a batch sends only its `selectExpr` and `collect()` through the
    gateway.

    Bound: a batch's output is at most one row per window the batch
    touched (update mode), whatever the input rate — on the benchmark,
    35 and 34 lines for its two 10k-message files (~2.8 h of events
    each), none for the watermark's no-data batch, 69 a drain. The
    reference (spark_processor.py:167-197) also collects on the driver
    but builds every point in Python. Update-mode re-emissions
    of the same window overwrite the same series point (same
    measurement+tags+timestamp ⇒ Influx upsert), which is what makes
    update mode correct for this sink."""

    sql = line_protocol_sql(measurement, tags, field_cols, "`window`.`end`")
    line_sql = f"{sql} AS line"

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        lines = batch_df.selectExpr(line_sql).collect()
        writer_factory()(0, [row.line for row in lines])

    return handle
