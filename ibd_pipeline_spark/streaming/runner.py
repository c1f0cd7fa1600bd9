"""Streaming runner: source → weather pipeline → sink, with every
piece swappable (SURVEY.md §7.3).

Sources:
  * kafka_source — the production source, reproducing the reference's
    reader config (spark_processor.py:47-69) including SASL_SSL
    auth options, behind a config object (no secrets in code — the
    reference hard-codes credentials, spark_processor.py:30-33).
    Not exercisable in this container (no broker, no connector jar);
    constructed lazily so importing this module never needs Kafka.
  * file_json_source — a drop-in file-based stream with the same
    downstream schema (`value` string column), used by tests.

Sinks: memory (tests/debug — the reference's basic_consumer.py
analog), console, or any foreachBatch handler (sinks.py).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ibd_pipeline_spark.streaming.weather import weather_pipeline


@dataclass
class KafkaSourceConfig:
    """Reader options mirroring spark_processor.py:47-69."""

    bootstrap_servers: str
    topic: str = "sensor_data"
    starting_offsets: str = "latest"
    # Auth options (SASL_SSL / SCRAM-SHA-256, spark_processor.py:54-66).
    # Values come from the environment/secret store, never source.
    extra_options: dict[str, str] = field(default_factory=dict)


def kafka_source(spark: SparkSession, cfg: KafkaSourceConfig) -> DataFrame:
    """Kafka readStream with the reference's reader semantics.

    LIVE-PATH RUNBOOK (this sandbox has no broker, no connector jar,
    and no network — the path below is config-parity code exercised
    through the file-source twin and record-shaping unit tests; run
    this checklist before first production use):

    1. Ship the connector at spark-submit time (version must match
       the installed Spark/Scala — for Spark 4.1.x / Scala 2.13):
         --packages org.apache.spark:spark-sql-kafka-0-10_2.13:4.1.2
       (or place the jar + its kafka-clients/commons-pool2 deps on
       the driver/executor classpath).
    2. Point a broker at it. Local smoke: `docker run -p 9092:9092
       apache/kafka` (KRaft single node), create `sensor_data`,
       produce a few reference-shaped JSON records
       (weather-producer.py:109-235 shape), then run
       run_weather_pipeline(kafka_source(spark, cfg), ...) with a
       memory sink and assert rows arrive.
    3. For SASL_SSL parity with the reference (spark_processor.py:
       54-66), set cfg.extra_options from the secret store:
         kafka.security.protocol=SASL_SSL
         kafka.sasl.mechanism=SCRAM-SHA-256
         kafka.sasl.jaas.config=...ScramLoginModule required
           username="$KAFKA_USER" password="$KAFKA_PASS";
    4. Checkpoint location must be durable storage (not /tmp) —
       offsets live there; see run_weather_pipeline.
    """
    reader = spark.readStream.format("kafka")
    for k, v in kafka_reader_options(cfg).items():
        reader = reader.option(k, v)
    return reader.load()


def kafka_reader_options(cfg: KafkaSourceConfig) -> dict[str, str]:
    """The exact option map kafka_source hands to the reader —
    split out so the S1 auth plumbing is pinnable by unit test
    without a broker or connector jar (the one reference surface a
    sandbox can't execute live)."""
    return {
        "kafka.bootstrap.servers": cfg.bootstrap_servers,
        "subscribe": cfg.topic,
        "startingOffsets": cfg.starting_offsets,
        **cfg.extra_options,
    }


def scram_auth_options(
    username: str, password: str, truststore_pem: str
) -> dict[str, str]:
    """The reference's SASL_SSL / SCRAM-SHA-256 auth option set
    (spark_processor.py:54-66), credential values parameterized (the
    reference hardcodes them in source; here they come from the
    caller's secret store). PEM truststore + https endpoint
    identification exactly as the reference configures.

    Credentials are escaped into the JAAS string (backslash, then
    double quote — JAAS values are Java-string-literal-quoted): an
    unescaped quote in a password would truncate the config, and a
    crafted value could inject extra JAAS options (ADVICE r9)."""

    def jaas_quote(v: str) -> str:
        return v.replace("\\", "\\\\").replace('"', '\\"')

    jaas = (
        "org.apache.kafka.common.security.scram.ScramLoginModule required "
        f'username="{jaas_quote(username)}" password="{jaas_quote(password)}";'
    )
    return {
        "kafka.security.protocol": "SASL_SSL",
        "kafka.sasl.mechanism": "SCRAM-SHA-256",
        "kafka.sasl.jaas.config": jaas,
        "kafka.ssl.truststore.type": "PEM",
        "kafka.ssl.truststore.location": truststore_pem,
        "kafka.ssl.endpoint.identification.algorithm": "https",
    }


def file_json_source(
    spark: SparkSession, directory: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File stream of raw JSON lines exposed as a `value` string
    column — the same downstream contract as the Kafka source, so
    the full pipeline is testable without a broker."""
    reader = spark.readStream.format("text")
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.load(directory)


def run_weather_query(
    raw: DataFrame,
    checkpoint_dir: str,
    sink: str = "memory",
    query_name: str = "weather_metrics",
    output_mode: str = "update",
    foreach_batch=None,
    trigger_available_now: bool = False,
    window_duration: str = "5 minutes",
    watermark: str = "2 minutes",
    kafka_sink_cfg=None,
) -> StreamingQuery:
    """Start the streaming weather query (W1 of the reference,
    spark_processor.py:201-210): update mode by default (only changed
    windows re-emitted per micro-batch), checkpointed.

    trigger_available_now=True processes all available input then
    stops — the batch-like mode tests use; production leaves the
    default ASAP micro-batch trigger like the reference.

    sink="kafka" (with kafka_sink_cfg=KafkaSinkConfig(...)) produces
    the aggregate stream back into a topic — the engine-side W4
    (weather-producer.py:224-225) via sinks.kafka_stream_writer."""
    agg = weather_pipeline(
        raw, window_duration=window_duration, watermark=watermark, streaming=True
    )
    if sink == "kafka":
        from ibd_pipeline_spark.streaming.sinks import kafka_stream_writer

        if kafka_sink_cfg is None:
            raise ValueError("sink='kafka' requires kafka_sink_cfg")
        flat = agg.select(
            F.col("window.start").cast("string").alias("window_start"),
            *[c for c in agg.columns if c != "window"],
        )
        writer = kafka_stream_writer(
            flat,
            kafka_sink_cfg,
            checkpoint_dir,
            key_col="window_start",
            output_mode=output_mode,
        ).queryName(query_name)
        if trigger_available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()
    writer = agg.writeStream.outputMode(output_mode).option(
        "checkpointLocation", checkpoint_dir
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    if foreach_batch is not None:
        writer = writer.foreachBatch(foreach_batch)
    else:
        writer = writer.format(sink).queryName(query_name)
    return writer.start()
