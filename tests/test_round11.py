"""Round-11 ADVICE-fix pins: microsecond-exact nearest-as-of gaps,
single-hour Fano NULL (not NaN) and the portable sign-LSH dim guard."""

from __future__ import annotations

import datetime
import math

import pyspark.sql.functions as F


def test_asof_nearest_subsecond_resolution(spark):
    """ADVICE r10 (operators/joins.py): probe 10.9s with a backward
    event at 10.1s (true gap 0.8s) and a forward event at 11.0s
    (true gap 0.1s) must pick FORWARD. The old per-side
    truncate-to-seconds arithmetic read bgap=0, fgap=1 and picked
    the farther backward match."""
    from ibd_pipeline_spark.operators.joins import asof_nearest_join

    t0 = datetime.datetime(2024, 1, 10, 12, 0, 0)

    def us(sec: float):
        return t0 + datetime.timedelta(microseconds=int(sec * 1_000_000))

    probes = spark.createDataFrame(
        [(1, us(10.9), 1), (2, us(10.5), 2)],
        "pid int, pt timestamp, k int",
    )
    events = spark.createDataFrame(
        [
            (1, us(10.1)), (1, us(11.0)),
            # probe 2: exact sub-second tie (0.4s both ways) -> backward
            (2, us(10.1)), (2, us(10.9)),
        ],
        "k int, et timestamp",
    )
    out = {
        r["pid"]: r
        for r in asof_nearest_join(
            probes, events, key="k", probe_time="pt", event_time="et"
        ).collect()
    }
    assert out[1]["direction"] == "forward"
    assert out[1]["gap_seconds"] == 0  # floor(0.1s)
    assert out[2]["direction"] == "backward"
    assert out[2]["gap_seconds"] == 0  # floor(0.4s)


def test_asof_nearest_subsecond_tolerance(spark):
    """Tolerance compares the TRUE gap: an event 1.5s away with
    tolerance_seconds=1 must be nulled, even though per-side second
    truncation would have read the gap as 1."""
    from ibd_pipeline_spark.operators.joins import asof_nearest_join

    t0 = datetime.datetime(2024, 1, 10, 12, 0, 0)
    probes = spark.createDataFrame(
        [(1, t0 + datetime.timedelta(microseconds=1_900_000), 1)],
        "pid int, pt timestamp, k int",
    )
    events = spark.createDataFrame(
        [(1, t0 + datetime.timedelta(microseconds=400_000))],
        "k int, et timestamp",
    )
    row = asof_nearest_join(
        probes, events, key="k", probe_time="pt", event_time="et",
        tolerance_seconds=1,
    ).collect()[0]
    assert row["nearest_et"] is None and row["gap_seconds"] is None


def test_fano_single_hour_null_not_nan(spark):
    """ADVICE r10 (streaming/burstiness.py + the batch twin): a type
    with exactly one observed hour has no sample variance — fano /
    cv² / burstiness must be NULL, never NaN."""
    from ibd_pipeline_spark.streaming.burstiness import (
        fano_report,
        hourly_counts,
    )

    t0 = datetime.datetime(2024, 3, 1)
    rows = [
        # 'once': 5 events inside a single hour
        *[(i, t0 + datetime.timedelta(minutes=i), 1, "once", 1.0, "{}")
          for i in range(5)],
        # 'multi': 2 hours of data -> finite stats
        (10, t0, 2, "multi", 1.0, "{}"),
        (11, t0 + datetime.timedelta(hours=1), 2, "multi", 1.0, "{}"),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string",
    )
    out = {r["event_type"]: r for r in fano_report(hourly_counts(ev)).collect()}
    once = out["once"]
    assert once["n_hours"] == 1 and once["n_events"] == 5
    for c in ("fano_factor", "cv_squared", "burstiness"):
        assert once[c] is None, f"{c} should be NULL, got {once[c]}"
    multi = out["multi"]
    assert multi["fano_factor"] is not None
    assert not math.isnan(multi["fano_factor"])


def test_portable_lsh_dim_guard(spark):
    """Axis-aligned sign-LSH (operators/similarity.py) with vectors
    shorter than the highest read axis must fail loudly, not hash
    everything into degenerate buckets."""
    import pytest

    from ibd_pipeline_spark.operators import similarity as S

    assert S.required_portable_dim(8, 6, 8) == 48
    # dim 16 < 48 -> loud error from both entry points
    df = spark.createDataFrame(
        [(1, [0.1] * 16), (2, [0.2] * 16)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="dim >= 48"):
        S.cosine_near_dup_pairs(df, dim=16)
    q = df.selectExpr("vec_id as query_id", "embedding as vec")
    c = df.selectExpr("vec_id as corpus_id", "embedding as vec")
    with pytest.raises(ValueError, match="dim >= 48"):
        S.lsh_bucketed_topk(q, c, dim=16)
    # dim exactly at the bound is accepted (no raise at plan time)
    ok = spark.createDataFrame(
        [(1, [0.1] * 48), (2, [-0.2] * 48)],
        "vec_id long, embedding array<double>",
    )
    S.cosine_near_dup_pairs(ok, dim=48)
