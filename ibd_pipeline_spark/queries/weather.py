"""Registry entries for the reference-parity weather pipeline.

The weather stream is not one of the fixture tables, so these queries
synthesize the reference producer's nested JSON documents
(weather-producer.py:176-221) *from the events parquet table* with
deterministic column arithmetic, then run the real P1→P4 (and P5-P6,
A1-A4) pipeline from streaming/weather.py over the synthesized
messages. Deriving the payload from a parquet view is what makes the
pipeline oracle-checkable: DuckDB computes the same derived values
directly (JSON round-trip is the identity on doubles), so the driver
can hash-compare the full parse→flatten→window→aggregate semantics.

Value-level parity against hand-computed aggregates over the *actual*
producer message shape (seeded Python twin of weather-producer.py) is
covered separately by tests/test_streaming_weather.py's golden tests.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ibd_pipeline_spark.catalog import load, load_wide
from ibd_pipeline_spark.queries import dsum, query
from ibd_pipeline_spark.sources.weather_sim import generate_messages
from ibd_pipeline_spark.streaming.weather import parse_weather_json, weather_pipeline

# Deterministic derivation of the producer's measurement fields from
# events columns. Every expression uses only IEEE-754 double ops and
# integer modulo, which evaluate bit-identically in Spark and DuckDB.
# The SQL twin of each expression appears in _DERIVED_SQL below.
_LAT = 44.4274689  # Bucharest, weather-producer.py:36
_LON = 26.1028208


def _derived_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → one reference-shaped JSON document per row (P1 input).

    Builds the 3-level nested payload of weather-producer.py:176-221
    with F.to_json(F.struct(...)); the weather reader's from_json then
    re-parses it, exercising the real decode path end-to-end.
    """
    # load_wide: the events table is physically one split at bench
    # scale, which serialized the ENTIRE to_json+from_json round-trip
    # (the per-row-heaviest path in the repo) onto one core —
    # measured 2.7 s → 1.3 s warm at sf0.1 with the widened scan
    e = load_wide(spark, sf_dir, "events")
    doc = F.struct(
        F.col("ts").cast("string").alias("timestamp"),
        F.struct(
            F.lit(_LAT).alias("latitude"),
            F.lit(_LON).alias("longitude"),
            F.lit("Europe/Bucharest").alias("timezone"),
            F.lit("EET").alias("timezone_abbreviation"),
        ).alias("location"),
        F.struct(
            F.struct(
                F.col("value").alias("value"),
                F.lit("°C").alias("unit"),
                (F.col("value") - F.lit(2.5)).alias("apparent"),
            ).alias("temperature"),
            F.struct(
                (F.col("user_id") % 101).cast("double").alias("value"),
                F.lit("%").alias("unit"),
            ).alias("humidity"),
            F.struct(
                (F.col("value") * F.lit(1.5)).alias("speed"),
                (F.col("event_id") % 360).cast("double").alias("direction"),
                (F.col("value") * F.lit(2.0)).alias("gusts"),
                F.lit("km/h").alias("unit"),
            ).alias("wind"),
            F.struct(
                (F.col("value") / F.lit(10.0)).alias("total"),
                F.lit(0.0).alias("rain"),
                F.lit(0.0).alias("showers"),
                F.lit(0.0).alias("snowfall"),
                F.lit("mm").alias("unit"),
            ).alias("precipitation"),
            F.struct(
                (F.col("event_id") % 101).cast("double").alias("cloud_cover"),
                (F.lit(1000.0) + (F.col("event_id") % 50).cast("double")).alias(
                    "pressure_msl"
                ),
                F.lit(1000.0).alias("surface_pressure"),
                F.lit("hPa").alias("unit_pressure"),
            ).alias("atmosphere"),
            F.lit(0.0).alias("weather_code"),
            F.lit(True).alias("is_day"),
        ).alias("current_conditions"),
        F.struct(
            F.col("event_id").cast("double").alias("iteration"),
            F.col("ts").cast("string").alias("last_api_update"),
            F.lit("events-derived").alias("simulation_mode"),
        ).alias("metadata"),
    )
    return e.select(F.to_json(doc).alias("value"))


# SQL twins of the derived measurement expressions (DuckDB dialect).
_D = {
    "temperature_c": "value",
    "apparent_temperature_c": "(value - 2.5)",
    "humidity_pct": "CAST(user_id % 101 AS DOUBLE)",
    "wind_speed_kmph": "(value * 1.5)",
    "wind_gust_kmph": "(value * 2.0)",
    "wind_direction_deg": "CAST(event_id % 360 AS DOUBLE)",
    "pressure_hpa": "(1000.0 + CAST(event_id % 50 AS DOUBLE))",
    "cloud_cover_pct": "CAST(event_id % 101 AS DOUBLE)",
    "precipitation_mm": "(value / 10.0)",
}


@query(
    "weather_parse_flatten",
    oracle=f"""
SELECT CAST(ts AS TIMESTAMP)          AS event_time,
       {_LAT!r}                       AS lat,
       {_LON!r}                       AS lon,
       {_D['temperature_c']}          AS temperature_c,
       {_D['apparent_temperature_c']} AS apparent_temperature_c,
       {_D['humidity_pct']}           AS humidity_pct,
       {_D['wind_speed_kmph']}        AS wind_speed_kmph,
       {_D['wind_gust_kmph']}         AS wind_gust_kmph,
       {_D['wind_direction_deg']}     AS wind_direction_deg,
       {_D['pressure_hpa']}           AS pressure_hpa,
       {_D['cloud_cover_pct']}        AS cloud_cover_pct,
       {_D['precipitation_mm']}       AS precipitation_mm
FROM events
ORDER BY event_time
""",
)
def weather_parse_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1→P4 end-to-end (decode → from_json against the exact reader
    StructType → flatten to the 12-column frame, spark_processor.py:
    121-145) over events-derived producer documents. The oracle
    recomputes the flattened values directly from the events columns —
    valid because to_json→from_json is the identity on doubles (JSON
    shortest-repr round-trip) and the derived expressions are the same
    IEEE-754 ops in both engines, so the comparison is bit-exact with
    NO rounding: a parse/projection bug on any leaf flips the hash."""
    return parse_weather_json(_derived_raw(spark, sf_dir)).orderBy("event_time")


def _avg_rsd(col, scale: int = 4):
    """Round-sum-then-divide average: exact decimal sum (order
    independent), HALF_UP-rounded at `scale` in the decimal domain,
    cast to double, divided by the count. Unlike rounding the
    *quotient* (davg), no rounding ever happens after the division —
    both engines divide bit-identical doubles by the same integer, so
    the comparison is exact even when the true average lands on a
    rounding half-point (which value-derived inputs hit readily; plain
    davg diverged on 9 of 5944 windows here). SQL twin:
    ``CAST(ROUND(SUM(CAST(x AS DECIMAL(28,8))), scale) AS DOUBLE) / COUNT(x)``."""
    return F.round(F.sum(col.cast("decimal(28,8)")), scale).cast("double") / F.count(col)


def _avg_rsd_sql(expr: str, scale: int = 4) -> str:
    return f"CAST(ROUND(SUM(CAST({expr} AS DECIMAL(28,8))), {scale}) AS DOUBLE) / COUNT({expr})"


@query(
    "weather_pipeline_5min",
    oracle=f"""
WITH derived AS (
  SELECT CAST(ts AS TIMESTAMP) AS event_time,
         {_D['temperature_c']}          AS temperature_c,
         {_D['apparent_temperature_c']} AS apparent_temperature_c,
         {_D['wind_speed_kmph']}        AS wind_speed_kmph,
         {_D['wind_gust_kmph']}         AS wind_gust_kmph,
         {_D['pressure_hpa']}           AS pressure_hpa,
         {_D['humidity_pct']}           AS humidity_pct,
         {_D['precipitation_mm']}       AS precipitation_mm
  FROM events
)
SELECT time_bucket(INTERVAL 5 MINUTE, event_time) AS window_start,
       {_avg_rsd_sql('temperature_c')} AS avg_temperature_c,
       {_avg_rsd_sql('apparent_temperature_c')} AS avg_apparent_temperature_c,
       ROUND(COALESCE(STDDEV_SAMP(temperature_c), 0.0), 4) AS temperature_stddev,
       {_avg_rsd_sql('wind_speed_kmph')} AS avg_wind_speed_kmph,
       MAX(wind_gust_kmph) AS max_wind_gust_kmph,
       {_avg_rsd_sql('pressure_hpa')} AS avg_pressure_hpa,
       {_avg_rsd_sql('humidity_pct')} AS avg_humidity_pct,
       {_avg_rsd_sql('precipitation_mm')} AS total_precipitation_mm,
       CAST(ROUND(SUM(CAST(precipitation_mm AS DECIMAL(28,8))), 4) AS DOUBLE) AS total_precipitation_mm_sum,
       COUNT(*) AS sample_count
FROM derived
GROUP BY 1
ORDER BY window_start
""",
)
def weather_pipeline_5min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's full query shape (spark_processor.py:121-165)
    oracle-checked end-to-end: events-derived producer JSON → real
    parse_weather_json (P1-P4) → 5-min tumbling window → the 8
    reference aggregates with verbatim output names, including the
    avg-named-total quirk (spark_processor.py:163) and null-safe
    stddev (reference crash, spark_processor.py:183).

    Determinism contract: averages are round-sum-then-divide
    (_avg_rsd — no rounding after the division, so half-point
    quotients can't flip the driver's value hash); max is emitted raw
    (bit-identical doubles in both engines). windowed_aggregate itself
    (the plain-avg production path) is value-tested by the golden
    tests in tests/test_streaming_weather.py."""
    parsed = parse_weather_json(_derived_raw(spark, sf_dir))
    return (
        parsed.groupBy(F.window("event_time", "5 minutes").alias("w"))
        .agg(
            _avg_rsd(F.col("temperature_c")).alias("avg_temperature_c"),
            _avg_rsd(F.col("apparent_temperature_c")).alias("avg_apparent_temperature_c"),
            F.round(F.coalesce(F.stddev("temperature_c"), F.lit(0.0)), 4).alias(
                "temperature_stddev"
            ),
            _avg_rsd(F.col("wind_speed_kmph")).alias("avg_wind_speed_kmph"),
            F.max("wind_gust_kmph").alias("max_wind_gust_kmph"),
            _avg_rsd(F.col("pressure_hpa")).alias("avg_pressure_hpa"),
            _avg_rsd(F.col("humidity_pct")).alias("avg_humidity_pct"),
            _avg_rsd(F.col("precipitation_mm")).alias("total_precipitation_mm"),
            dsum(F.col("precipitation_mm"), 4).alias("total_precipitation_mm_sum"),
            F.count(F.lit(1)).alias("sample_count"),
        )
        .select(F.col("w.start").alias("window_start"), "*")
        .drop("w")
        .orderBy("window_start")
    )


_SYNTH_N = 1_000_000

_SYNTH_THROUGHPUT_SQL = f"""
WITH r AS (
  SELECT i FROM range(0, {_SYNTH_N}) t(i)
), w AS (
  SELECT TIMESTAMP '2024-06-01 12:00:00'
           + (i // 300) * 300 * INTERVAL 1 SECOND AS window_start,
         CAST(0.1 AS DOUBLE) * (i % 3) AS prec
  FROM r
)
SELECT window_start,
       CAST(COUNT(*) AS BIGINT) AS sample_count,
       CAST(ROUND(SUM(CAST(prec AS DECIMAL(28,8))), 4) AS DOUBLE)
         AS total_precipitation_mm_sum,
       TRUE AS all_aggs_finite
FROM w GROUP BY window_start ORDER BY window_start
"""


@query("weather_synth_throughput", oracle=_SYNTH_THROUGHPUT_SQL)
def weather_synth_throughput(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume variant of the reference pipeline: 1,000,000 messages
    synthesized JVM-side (sources.weather_synth — spark.range +
    to_json, zero driver involvement) pushed through the full
    parse→window→aggregate path. Benchmarked in bench.py; the fixed
    1 msg/s producer of the reference (weather-producer.py:17) maps
    to ~11.5 days of simulated stream.

    ATTESTATION ENVELOPE (a seeded generator's output can still be
    oracle-checked where it is deterministic): the generator is seeded, so its
    DETERMINISTIC projections are replayed exactly by DuckDB —
    per-window timestamps (start + i·1 s, 5-min aligned), sample
    counts (300/window, 100 in the 3334th), and the precipitation
    sum (0.1·(i mod 3) is rand-free double algebra; dsum quantizes
    per row so the window sums are bit-identical). The rand(seed)
    noise aggregates CANNOT cross engines, but they are forced
    through the plan by `all_aggs_finite` — a conjunction of
    null/NaN checks over every noisy aggregate — so Catalyst can't
    prune the full aggregate workload this query exists to time,
    while every emitted value stays oracle-checkable."""
    from ibd_pipeline_spark.sources.weather_synth import synth_weather_json

    raw = synth_weather_json(spark, _SYNTH_N)
    agg = weather_pipeline(raw)
    noisy = [
        c
        for c in agg.columns
        if c.startswith(("avg_", "max_", "temperature_"))
    ]
    finite = F.lit(True)
    for c in noisy:
        finite = finite & F.col(c).isNotNull() & ~F.isnan(F.col(c))
    return agg.select(
        F.col("window.start").alias("window_start"),
        F.col("sample_count").cast("bigint").alias("sample_count"),
        "total_precipitation_mm_sum",
        finite.alias("all_aggs_finite"),
    ).orderBy("window_start")


def _sim_golden_oracle(n: int = 300) -> str:
    """Materialize the seeded simulator's expected flattened rows as a
    VALUES table — the golden-test technique elevated to a driver
    oracle. The generator is pure seeded Python (no Spark), so the
    exact expected output of P1→P4 over its stream is computable here
    at registration time; Python `repr` float literals round-trip
    bit-exactly through both DuckDB's parser and Spark's from_json
    (shortest-repr), so the comparison needs NO rounding: any parse or
    projection drift on any leaf flips the driver hash."""
    import json as _json

    rows = []
    for m in generate_messages(n):
        d = _json.loads(m)
        cc = d["current_conditions"]
        ts = d["timestamp"].replace("T", " ")
        # CAST every literal to DOUBLE: DuckDB types a bare decimal
        # literal as DECIMAL, which would surface as full-precision
        # Decimal objects (and a different driver hash dtype).
        vals = [f"CAST('{ts}' AS TIMESTAMP)"] + [
            f"CAST({repr(v)} AS DOUBLE)"
            for v in (
                d["location"]["latitude"],
                d["location"]["longitude"],
                cc["temperature"]["value"],
                cc["temperature"]["apparent"],
                cc["humidity"]["value"],
                cc["wind"]["speed"],
                cc["wind"]["gusts"],
                cc["wind"]["direction"],
                cc["atmosphere"]["pressure_msl"],
                cc["atmosphere"]["cloud_cover"],
                cc["precipitation"]["total"],
            )
        ]
        rows.append("(" + ", ".join(vals) + ")")
    cols = (
        "event_time, lat, lon, temperature_c, apparent_temperature_c, "
        "humidity_pct, wind_speed_kmph, wind_gust_kmph, wind_direction_deg, "
        "pressure_hpa, cloud_cover_pct, precipitation_mm"
    )
    body = ",\n".join(rows)
    return f"SELECT * FROM (VALUES\n{body}\n) AS t({cols})\nORDER BY event_time"


@query("weather_sim_golden", oracle=_sim_golden_oracle())
def weather_sim_golden(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The original seeded producer-twin path (weather_sim.generate_
    messages, the faithful Python re-expression of weather-producer.py
    :109-221) through P1→P4. The oracle is the generator's expected
    flattened output materialized as a VALUES literal table at
    registration time (see _sim_golden_oracle) — the simulator's
    math.sin + random.Random(42) stream has no SQL twin, but its
    OUTPUT is a deterministic constant, and constants are the one
    thing every engine agrees on bit-for-bit."""
    raw = spark.createDataFrame([(m,) for m in generate_messages(300)], ["value"])
    return parse_weather_json(raw).orderBy("event_time")
