"""Streaming arrival-burstiness monitor: per-type hourly event counts
maintained live by a WATERMARK-BOUNDED tumbling-window aggregation,
scored read-side with the Fano / CV² / Goh–Barabási statistics.

Boundedness mechanism — deliberately DIFFERENT from the drift
monitor's (streaming/drift.py): drift bounds state by a FIXED KEY
SPACE (values bucketed into ≤ bins keys forever); here the hour grain
grows with stream lifetime, so state is bounded by the WATERMARK
HORIZON instead — closed windows older than the watermark are evicted
by the state store, keeping live state ≤ types × (horizon / 1 hour)
rows no matter how long the stream runs. Together the two modules
demonstrate both of Structured Streaming's bounded-state idioms.

The burstiness score is computed READ-SIDE from the emitted hourly
counts (the same counts-only state / derived-score separation as
PSI): Fano = var/mean of hourly counts (1 = Poisson, >1 = bursty),
CV² = var/mean², B = (σ−μ)/(σ+μ). The hash-attested batch query
(queries/events.py:events_fano_burstiness) calls the same fano_report,
so stream-equals-batch holds by construction; tests/test_streaming_burstiness.py pins the streaming
runtime and the watermark eviction.

Reference parity note: the reference pipeline aggregates fixed 5-min
windows but has no overdispersion readout — a sensor that silently
switches from steady to bursty reporting (batch uploads, retry
storms) looks identical in per-window averages. This is that alarm.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def hourly_counts(
    events: DataFrame,
    ts_col: str = "ts",
    type_col: str = "event_type",
    watermark: str = "2 hours",
) -> DataFrame:
    """(event_type, window, c): tumbling 1-hour event-time counts.
    On a stream, the watermark bounds state: windows that closed more
    than `watermark` before the max observed event time are finalized
    and evicted. Batch input runs the identical expression (the
    watermark is a no-op there)."""
    src = events
    if events.isStreaming:
        src = events.withWatermark(ts_col, watermark)
    return src.groupBy(
        F.col(type_col).alias("event_type"),
        F.window(ts_col, "1 hour").alias("w"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))


def fano_report(hourly: DataFrame) -> DataFrame:
    """Read-side burstiness from (event_type, ..., c) hourly counts,
    shared with the batch query events_fano_burstiness: one row per
    type with n_hours, n_events, mean, Fano, CV², and Goh–Barabási B.
    The (n, Σc, Σc²) moments are integers, so every statistic is
    fixed double algebra."""
    m = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hours"),
        F.sum("c").cast("bigint").alias("s"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("q"),
    )
    mu = F.col("s").cast("double") / F.col("n_hours")
    # single-hour types have no sample variance: 0/0 would be NaN,
    # not NULL — guard so downstream stats are NULL (ADVICE r10)
    vr = F.when(
        F.col("n_hours") > 1,
        (
            F.col("q").cast("double")
            - F.col("s").cast("double") * F.col("s") / F.col("n_hours")
        )
        / (F.col("n_hours") - 1),
    )
    sd = F.sqrt(vr)
    return m.select(
        "event_type",
        "n_hours",
        F.col("s").alias("n_events"),
        F.round(mu, 6).alias("mean_per_hour"),
        F.round(vr / mu, 6).alias("fano_factor"),
        F.round(vr / (mu * mu), 6).alias("cv_squared"),
        F.round((sd - mu) / (sd + mu), 6).alias("burstiness"),
    )
