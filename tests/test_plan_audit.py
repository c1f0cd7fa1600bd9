"""Whole-registry plan audit: structural red-flag scan over every
registered query's plan.

Three invariants across the entire inventory:
  * no row-at-a-time Python (`BatchEvalPython`) — Python only enters
    through Arrow (`ArrowEvalPython`/`MapInPandas`/`FlatMapGroupsIn
    Pandas`), per the UDF policy;
  * no non-broadcast CartesianProduct — intentional small-side
    cross-products (brute-force scoring, bounded pair generation)
    must ride a broadcast (BroadcastNestedLoopJoin), never a
    partitioned cartesian shuffle;
  * no unpartitioned Window over data-sized input — an empty
    partition spec serializes the whole frame onto ONE task (Spark's
    own `WindowExec: No Partition Defined` warning). The only
    exemptions are the queries in ALLOWED_UNPARTITIONED_WINDOW, each
    with a stated bound on the frame the window actually sees.
    Data-sized global ordering belongs on operators/ranking.py, whose
    global kernels run no window at all.
"""

from __future__ import annotations

import pytest

from ibd_pipeline_spark.queries import all_queries

QUERIES = all_queries()

# Query → why its unpartitioned window input is provably bounded.
# Adding a query here requires a bound argument, not a test edit
# elsewhere: the frame must be metadata/dimension/aggregate-sized —
# NEVER proportional to fact-table rows.
ALLOWED_UNPARTITIONED_WINDOW = {
    # per-calendar-day frames (≤ days in the dataset). FIVE of this
    # family came OFF the list in r11 via the shared month-stitch
    # helpers (operators/calendar.py: month_stitched_cumsum for
    # prefix quantities, with_month_padding for bounded lag/MA
    # frames): events_ewma_daily, events_seasonal_decompose,
    # events_cusum_changepoint, events_anomaly_rolling_zscore,
    # events_period_over_period. events_rolling_active_users came
    # off in r10 (linear-counting coverage explode, no window).
    # events_linear_interpolate_gaps and stats_kaplan_meier came OFF
    # in r11 too: the interpolate edge fills run month-partitioned
    # with a triangular struct-extreme carry, and KM's three prefix
    # quantities ride the block-stitched cumsum/running-extreme
    # helpers over the integer duration spine.
    # THREE more came off in r12: stats_chi_square_independence
    # (margins-broadcast form, the stats_mutual_information pattern),
    # train_bpe_pair_counts (triangular rank over the 20-row
    # TakeOrdered survivors — no window at all), text_zipf_fit
    # (rank-from-prefix-sum over the vocab frame under the
    # (freq DESC, tok) total order — the Spearman/KS/MWU pattern).
    "train_neyman_allocation": "one row per source (largest-remainder rank)",
    # tiny enumerations
    "quality_benford_digits": "9 rows (leading digits 1-9)",
    "train_source_temperature": "one row per source",
    "train_epoch_waterfill": "one row per source",
    "maintenance_compaction_plan": "one row per file/partition plan entry",
    "train_interleave_roundrobin": (
        "≤ 100 × n_sources rows — rn ≤ 100 pre-filter, provably lossless"
    ),
    "global_row_ids": "≤ 500 rows (o_orderkey < 500 filter)",
    # deliberate semantics exercise on the part dimension, flagged in
    # its own docstring
    "window_range_frame": "part dimension; kept as RANGE-frame exercise",
}


def _walk(jnode):
    stack = [jnode]
    while stack:
        n = stack.pop()
        yield n
        ch = n.children()
        for i in range(ch.size()):
            stack.append(ch.apply(i))


def _unpartitioned_windows(df):
    """Logical-plan Window nodes with an empty partitionSpec."""
    lp = df._jdf.queryExecution().optimizedPlan()
    out = []
    for n in _walk(lp):
        if n.getClass().getSimpleName() != "Window":
            continue
        if not n.partitionSpec().isEmpty():
            continue
        out.append(n.toString().splitlines()[0])
    return out


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_no_plan_red_flags(name, spark, sf_dir):
    df = QUERIES[name](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan, (
        f"{name}: row-at-a-time Python UDF in plan — use pandas_udf/mapInPandas"
    )
    assert "CartesianProduct" not in plan, (
        f"{name}: partitioned cartesian product — broadcast the small side"
    )
    windows = _unpartitioned_windows(df)
    if windows and name not in ALLOWED_UNPARTITIONED_WINDOW:
        raise AssertionError(
            f"{name}: unpartitioned Window over possibly data-sized input "
            f"— use operators/ranking.py or allowlist with a bound: {windows}"
        )
