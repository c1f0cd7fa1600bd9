"""Streaming Page–Hinkley drift monitor: daily mean event values
maintained live by a WATERMARK-BOUNDED tumbling-window aggregation,
scored read-side with the Page–Hinkley statistic.

Same bounded-state idiom as the burstiness monitor
(streaming/burstiness.py): the day grain grows with stream lifetime,
so state is bounded by the WATERMARK HORIZON — closed day windows
older than the watermark are evicted by the state store. State per
live window is (count, decimal sum): the davg decimal contract's
mergeable half, so the streamed day means are bit-identical to the
batch expression over the same rows.

The PH score is computed READ-SIDE from the emitted day means (the
counts-only state / derived-score separation every monitor here
uses): mₜ = Σ(x̄ᵢ − μ − δ) over decimal-quantized deviations,
PHₜ = mₜ − min_{k≤t} mₖ, alarm when PHₜ > λ. The algebra is
identical to the hash-attested batch twin
(queries/timeseries.py:stats_page_hinkley) — both call ph_running —
so stream-equals-batch holds by construction;
tests/test_streaming_ph.py pins the runtime and a planted drift.

Reference parity note: the reference pipeline has no drift alarm at
all — a sensor whose mean slowly walks away from baseline looks fine
in every individual 5-min window. This is that alarm, as a LIVE
monitor next to the offline changepoint queries (CUSUM localizes
after the fact; PH fires while it happens).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def daily_value_means(
    events: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    watermark: str = "2 days",
) -> DataFrame:
    """(w, n, day_avg): tumbling 1-day event-time mean of `value_col`
    under the davg decimal contract (exact decimal sum rounded at
    scale 4, cast to double, divided by the count — mergeable state,
    engine-portable result). On a stream the watermark bounds state;
    batch input runs the identical expression."""
    src = events
    if events.isStreaming:
        src = events.withWatermark(ts_col, watermark)
    return src.groupBy(F.window(ts_col, "1 day").alias("w")).agg(
        F.count(value_col).cast("bigint").alias("n"),
        (
            F.round(F.sum(F.col(value_col).cast("decimal(28,8)")), 4).cast(
                "double"
            )
            / F.count(value_col)
        ).alias("day_avg"),
    )


def ph_running(d: DataFrame, delta: float) -> DataFrame:
    """(day, day_avg, gmean, ph) over (day, day_avg) rows: the grand
    mean of the day means, and PH = m − running min(m), where m is the
    stitched cumulative sum of the decimal-quantized deviations
    day_avg − gmean − delta. Shared by ph_report and the batch
    query stats_page_hinkley, which reports only the argmax row."""
    from ibd_pipeline_spark.operators.calendar import (
        month_stitched_cumsum,
        month_stitched_running_extreme,
    )

    g = d.agg(
        (
            F.round(F.sum(F.col("day_avg").cast("decimal(28,8)")), 8).cast(
                "double"
            )
            / F.count(F.lit(1))
        ).alias("gmean")
    )
    t = d.crossJoin(F.broadcast(g)).select(
        "day",
        "day_avg",
        "gmean",
        F.round(F.col("day_avg") - F.col("gmean") - F.lit(delta), 8)
        .cast("decimal(28,8)")
        .alias("dev"),
    )
    c = month_stitched_cumsum(t, "day", ["dev"])
    c = month_stitched_running_extreme(c, "day", "cum_dev", "runmin", kind="min")
    return c.select(
        "day", "day_avg", "gmean", (F.col("cum_dev") - F.col("runmin")).alias("ph")
    )


def ph_report(
    daily: DataFrame, delta: float = 0.1, lam: float = 5.0
) -> DataFrame:
    """Read-side Page–Hinkley over (day, day_avg) rows — one row per
    day with the running statistic and alarm verdict (ph_running).
    Input may carry either a `day` date column or the streaming `w`
    window struct."""
    d = daily
    if "day" not in d.columns:
        d = d.withColumn("day", F.to_date(F.col("w.start")))
    c = ph_running(d.select("day", "day_avg"), delta)
    return c.select(
        "day",
        "day_avg",
        F.round("gmean", 6).alias("gmean"),
        F.round("ph", 6).cast("double").alias("ph_stat"),
        (F.col("ph") > F.lit(lam)).alias("alarm"),
    )
