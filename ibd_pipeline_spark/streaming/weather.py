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


def parse_weather_json(raw: DataFrame, value_col: str = "value") -> DataFrame:
    """P1+P2+P3+P4 of the reference pipeline: binary/string → JSON
    struct (PERMISSIVE: malformed → null struct) → event_time +
    12 flat snake_case columns (spark_processor.py:121-145).

    Catalyst prunes the unreferenced JSON subtrees (units,
    metadata.*, rain/showers/snowfall, …) out of the from_json
    parse — the discarded-data map of SURVEY.md §2.3 is enforced by
    the optimizer, not by hand.
    """
    return (
        raw.select(F.col(value_col).cast("string").alias("json_str"))
        .select(F.from_json("json_str", WEATHER_SCHEMA).alias("data"))
        .select(
            F.to_timestamp(F.col("data.timestamp")).alias("event_time"),
            F.col("data.location.latitude").alias("lat"),
            F.col("data.location.longitude").alias("lon"),
            F.col("data.current_conditions.temperature.value").alias("temperature_c"),
            F.col("data.current_conditions.temperature.apparent").alias(
                "apparent_temperature_c"
            ),
            F.col("data.current_conditions.humidity.value").alias("humidity_pct"),
            F.col("data.current_conditions.wind.speed").alias("wind_speed_kmph"),
            F.col("data.current_conditions.wind.gusts").alias("wind_gust_kmph"),
            F.col("data.current_conditions.wind.direction").alias("wind_direction_deg"),
            F.col("data.current_conditions.atmosphere.pressure_msl").alias("pressure_hpa"),
            F.col("data.current_conditions.atmosphere.cloud_cover").alias(
                "cloud_cover_pct"
            ),
            F.col("data.current_conditions.precipitation.total").alias(
                "precipitation_mm"
            ),
        )
    )


def windowed_aggregate(
    parsed: DataFrame,
    window_duration: str = "5 minutes",
    watermark: str = "2 minutes",
    streaming: bool | None = None,
) -> DataFrame:
    """P5+P6+A1-A4: watermark → tumbling window → the reference's 8
    aggregates with verbatim output names (spark_processor.py:147-165).

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
    return src.groupBy(F.window("event_time", window_duration).alias("window")).agg(
        F.avg("temperature_c").alias("avg_temperature_c"),
        F.avg("apparent_temperature_c").alias("avg_apparent_temperature_c"),
        F.coalesce(F.stddev("temperature_c"), F.lit(0.0)).alias("temperature_stddev"),
        F.avg("wind_speed_kmph").alias("avg_wind_speed_kmph"),
        F.max("wind_gust_kmph").alias("max_wind_gust_kmph"),
        F.avg("pressure_hpa").alias("avg_pressure_hpa"),
        F.avg("humidity_pct").alias("avg_humidity_pct"),
        F.avg("precipitation_mm").alias("total_precipitation_mm"),
        F.sum("precipitation_mm").alias("total_precipitation_mm_sum"),
        F.count(F.lit(1)).alias("sample_count"),
    )


def weather_pipeline(raw: DataFrame, **agg_kwargs) -> DataFrame:
    """Full P1→A4 composition over any raw source with a `value` column."""
    return windowed_aggregate(parse_weather_json(raw), **agg_kwargs)
