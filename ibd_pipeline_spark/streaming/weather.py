"""Weather pipeline: the reference's one real query, rebuilt.

Reference behavior (Processing&Storing/spark_processor.py):
  * Kafka JSON → explicit nested StructType via from_json (:71-119,124)
  * project 12 leaves to flat snake_case columns (:125-144)
  * watermark 2 min (:149) → 5-min tumbling window (:150-152)
  * aggregates: 6× avg, max(wind_gust), stddev(temperature) (:153-164)
  * output names preserved verbatim — including the reference's
    `total_precipitation_mm`, which is an AVG despite the name (:163).

Deliberate fixes over the reference (SURVEY.md §4 anti-patterns):
  * stddev coalesced to 0.0 — the reference sink crashes with
    float(None) on single-row windows (spark_processor.py:183);
  * no collect() of unbounded data — the sink's per-batch window
    output is the one bounded driver-side write (streaming/sinks.py);
  * all transforms are source-agnostic: the same functions compose
    over a batch DataFrame (for oracle tests) or a streaming one.

Every expression but from_json's schema is Spark SQL text
(`selectExpr` / `F.expr`, quoted by `sqltext`): building the pipeline
costs a gateway round-trip per expression, not one per Column node,
and Catalyst gets the same plan.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    StringType,
    StructField,
    StructType,
)

from ibd_pipeline_spark.sqltext import ident, literal, string_literal

# Exact reader schema of the reference (spark_processor.py:71-119):
# 3-level nested struct; every leaf nullable; numerics widened to
# double (JSON numbers — weather-producer.py emits ints for
# weather_code/iteration, the reader declares Double).


def _s(*fields: StructField) -> StructType:
    return StructType(list(fields))


WEATHER_SCHEMA: StructType = _s(
    StructField("timestamp", StringType()),
    StructField(
        "location",
        _s(
            StructField("latitude", DoubleType()),
            StructField("longitude", DoubleType()),
            StructField("timezone", StringType()),
            StructField("timezone_abbreviation", StringType()),
        ),
    ),
    StructField(
        "current_conditions",
        _s(
            StructField(
                "temperature",
                _s(
                    StructField("value", DoubleType()),
                    StructField("unit", StringType()),
                    StructField("apparent", DoubleType()),
                ),
            ),
            StructField(
                "humidity",
                _s(
                    StructField("value", DoubleType()),
                    StructField("unit", StringType()),
                ),
            ),
            StructField(
                "wind",
                _s(
                    StructField("speed", DoubleType()),
                    StructField("direction", DoubleType()),
                    StructField("gusts", DoubleType()),
                    StructField("unit", StringType()),
                ),
            ),
            StructField(
                "precipitation",
                _s(
                    StructField("total", DoubleType()),
                    StructField("rain", DoubleType()),
                    StructField("showers", DoubleType()),
                    StructField("snowfall", DoubleType()),
                    StructField("unit", StringType()),
                ),
            ),
            StructField(
                "atmosphere",
                _s(
                    StructField("cloud_cover", DoubleType()),
                    StructField("pressure_msl", DoubleType()),
                    StructField("surface_pressure", DoubleType()),
                    StructField("unit_pressure", StringType()),
                ),
            ),
            StructField("weather_code", DoubleType()),
            StructField("is_day", BooleanType()),
        ),
    ),
    StructField(
        "metadata",
        _s(
            StructField("iteration", DoubleType()),
            StructField("last_api_update", StringType()),
            StructField("simulation_mode", StringType()),
        ),
    ),
)


# The reference's projection (spark_processor.py:125-144).
_FLATTEN_SQL = (
    "to_timestamp(data.`timestamp`) AS event_time",
    "data.location.latitude AS lat",
    "data.location.longitude AS lon",
    "data.current_conditions.temperature.value AS temperature_c",
    "data.current_conditions.temperature.apparent AS apparent_temperature_c",
    "data.current_conditions.humidity.value AS humidity_pct",
    "data.current_conditions.wind.speed AS wind_speed_kmph",
    "data.current_conditions.wind.gusts AS wind_gust_kmph",
    "data.current_conditions.wind.direction AS wind_direction_deg",
    "data.current_conditions.atmosphere.pressure_msl AS pressure_hpa",
    "data.current_conditions.atmosphere.cloud_cover AS cloud_cover_pct",
    "data.current_conditions.precipitation.total AS precipitation_mm",
)
# The reference's aggregates under its output names
# (spark_processor.py:153-164), then the corrected sum and the count.
_AGGREGATES_SQL = (
    "avg(temperature_c) AS avg_temperature_c",
    "avg(apparent_temperature_c) AS avg_apparent_temperature_c",
    f"coalesce(stddev(temperature_c), {literal(0.0, 'double')}) AS temperature_stddev",
    "avg(wind_speed_kmph) AS avg_wind_speed_kmph",
    "max(wind_gust_kmph) AS max_wind_gust_kmph",
    "avg(pressure_hpa) AS avg_pressure_hpa",
    "avg(humidity_pct) AS avg_humidity_pct",
    "avg(precipitation_mm) AS total_precipitation_mm",
    "sum(precipitation_mm) AS total_precipitation_mm_sum",
    "count(1) AS sample_count",
)


def parse_weather_json(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """P1+P2+P3+P4 of the reference pipeline: binary/string → JSON
    struct (PERMISSIVE: malformed → null struct) → event_time +
    11 flat snake_case columns (spark_processor.py:121-145).

    The projection is one `selectExpr` of SQL text, so building the
    frame costs a few gateway round-trips, not one per Column node.
    `from_json` takes `WEATHER_SCHEMA` as a DataType (sent as JSON): as
    a DDL string it would go through Spark's SQL parser, whose DFA
    cache, kept for the JVM's life, grows by about 0.8 MB for this
    schema. Catalyst prunes the unreferenced JSON subtrees
    (units, metadata.*, rain/showers/snowfall, …) out of the from_json
    parse — the discarded-data map of SURVEY.md §2.3 is enforced by
    the optimizer, not by hand.
    """
    json_str = F.expr(f"CAST({ident(value_col)} AS STRING)")
    return raw.select(F.from_json(json_str, WEATHER_SCHEMA).alias("data")).selectExpr(
        *_FLATTEN_SQL
    )


def windowed_aggregate(
    parsed: DataFrame,
    window_duration: str = "5 minutes",
    watermark: str = "2 minutes",
    streaming: bool | None = None,
) -> DataFrame:
    """P5+P6+A1-A4: watermark → tumbling window → the reference's 8
    aggregates with verbatim output names (spark_processor.py:147-165),
    each written as one SQL expression.

    `total_precipitation_mm` is avg(precipitation_mm) — reproducing
    the reference's name-vs-computation quirk for parity
    (spark_processor.py:163); `total_precipitation_mm_sum` is the
    corrected sibling. stddev is coalesced to 0.0 (single-row windows
    made the reference sink crash, spark_processor.py:183).

    Works on batch DataFrames too (watermark is a no-op there), which
    is what makes the semantics oracle-checkable in DuckDB.
    """
    if streaming is None:
        streaming = parsed.isStreaming
    src = parsed.withWatermark("event_time", watermark) if streaming else parsed
    window = F.expr(f"window(event_time, {string_literal(window_duration)}) AS window")
    return src.groupBy(window).agg(*map(F.expr, _AGGREGATES_SQL))


def weather_pipeline(raw: DataFrame, **agg_kwargs) -> DataFrame:
    """Full P1→A4 composition over any raw source with a `value` column."""
    return windowed_aggregate(parse_weather_json(raw), **agg_kwargs)
