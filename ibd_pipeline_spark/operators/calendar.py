"""Month-partitioned calendar-window helpers: day-grain windows without
the single-task `No Partition Defined` fallback.

Day-grain frames (one row per calendar day) are tiny at any realistic
corpus size, but an UNPARTITIONED window over them still serializes
onto one task and trips Spark's `WindowExec: No Partition Defined`
warning — and at planetary scale (decades of days × thousands of
groups) the single task is a real bottleneck. These helpers implement
the documented escape every day-grain query's docstring pointed at
("partition by month + stitch") exactly once:

- `month_stitched_cumsum` — EXACT unbounded prefix sums: within-month
  running totals (window PARTITIONED by month) plus month offsets
  from a months-sized triangular self-join, broadcast back. Sums are
  a monoid, so the stitch is exact for any input, integer sums stay
  order-independent, and no unpartitioned window ever exists in the
  plan.

- `with_month_padding` — BOUNDED frames (lag k / ROWS ±k / RANGE ±k
  days): rows within `pad` days of a month edge are duplicated into
  the neighbor month's partition, the caller runs its bounded window
  PARTITIONED by `_m`, and `_own` filters the duplicates out of the
  output. RANGE-on-days frames are exactly correct for any input;
  ROWS/lag frames are exact whenever the day grain is DENSE inside
  the pad horizon (true of any production event stream and of the
  fixtures — for sparse grains densify with join_date_spine_gapfill
  first, at which point ROWS == RANGE).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


def month_stitched_cumsum(
    df: DataFrame,
    day_col: str,
    weight_cols: "list[str]",
    group_cols: "tuple[str, ...] | list[str]" = (),
    prefix: str = "cum_",
    block=None,
) -> DataFrame:
    """df + inclusive running totals ``<prefix><w>`` of each weight
    column under the (group, day) order, with NO unpartitioned
    window: within-block cumsum + broadcast block offsets. The
    default block is the calendar month of `day_col`; pass `block`
    (a Column) for non-date order keys — any coarsening whose blocks
    sort the same way as the order column works (e.g.
    ``F.floor(F.col("t") / 32)`` for integer spines).

    The offset join is triangular over the blocks-sized aggregate
    (≤ blocks × groups rows — metadata-sized), so the whole plan is
    window-partitioned + one broadcast hash join. Exact for any
    input: addition is associative, and integer/decimal weights make
    the result bit-identical to a global windowed SUM.

    Decimal-domain contract: for a decimal(p,s) weight the running
    total must stay below 10^(37-s) in absolute value (the addends
    are re-bounded to decimal(37,s) so the stitch add cannot shed a
    scale digit). Exceeding the bound raises a per-row error rather
    than silently NULLing the cumsum."""
    group_cols = list(group_cols)
    if block is None:
        block = F.date_trunc("month", F.col(day_col))
    # Materialize once: the stitch consumes `base` TWICE (within-block
    # window + block totals). Without a barrier, CHAINED stitch stages
    # recompute their whole upstream 2^stages times (measured: the
    # 3-stage Kaplan-Meier chain went 0.35 s -> 2.6 s) — the DataFrame
    # analog of DuckDB's CTE-inlining blowup. The frame is day/
    # duration-grain (metadata-sized), so the eager checkpoint is
    # cheap and makes chained cost additive.
    base = df.withColumn("_m", block).localCheckpoint(eager=True)
    win = (
        Window.partitionBy(*group_cols, "_m")
        .orderBy(day_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = base.select(
        "*", *[F.sum(w).over(win).alias(f"_mc_{w}") for w in weight_cols]
    )
    mt = base.groupBy(*group_cols, "_m").agg(
        *[F.sum(w).alias(f"_s_{w}") for w in weight_cols]
    )
    a, b = mt.alias("a"), mt.alias("b")
    cond = F.col("b._m") < F.col("a._m")
    for g in group_cols:
        cond = cond & (F.col(f"a.{g}") == F.col(f"b.{g}"))
    off = (
        a.join(b, cond, "left")
        .groupBy(
            *[F.col(f"a.{g}").alias(g) for g in group_cols],
            F.col("a._m").alias("_m"),
        )
        .agg(
            *[
                F.coalesce(F.sum(F.col(f"b._s_{w}")), F.lit(0)).alias(
                    f"_off_{w}"
                )
                for w in weight_cols
            ]
        )
    )
    out = within.join(F.broadcast(off), [*group_cols, "_m"])
    # Decimal weights: SUM() promotes (p,s) -> (38,s); adding the two
    # (38,s) sums would need precision 39, and Spark's cap resolves
    # that by SHEDDING A SCALE DIGIT (38,s) + (38,s) -> (38,s-1) —
    # silently truncating the cumsum's last decimal place (caught at
    # r11 sf0.1: an 8-dp hazard cumsum came back 7-dp, flipping a
    # downstream round across the half). Re-bound both addends to
    # precision 37 first (day/duration-grain partials never approach
    # 29 integer digits), so the add lands on (38,s) losslessly.
    from pyspark.sql.types import DecimalType

    scales = {
        f.name: f.dataType.scale
        for f in df.schema.fields
        if isinstance(f.dataType, DecimalType)
    }
    # Contract: running totals must stay under 10^(37-s) in absolute
    # value. Out-of-domain callers get a LOUD per-row error (ANSI mode
    # raises on the cast itself; non-ANSI returns NULL, which the
    # raise_error guard below converts into the same failure) instead
    # of a silent NULL mid-series (ADVICE r11).
    for w in weight_cols:
        lhs, rhs = F.col(f"_off_{w}"), F.col(f"_mc_{w}")
        if w in scales:
            t = DecimalType(37, scales[w])

            def _checked(c, t=t, w=w):
                cc = c.cast(t)
                return F.when(
                    c.isNotNull() & cc.isNull(),
                    F.raise_error(
                        F.lit(
                            f"with_stitched_cumsum: partial sum of '{w}' "
                            f"overflows decimal({t.precision},{t.scale}); "
                            "running totals must stay below "
                            f"10^{t.precision - t.scale}"
                        )
                    ).cast(t),
                ).otherwise(cc)

            lhs, rhs = _checked(lhs), _checked(rhs)
        out = out.withColumn(f"{prefix}{w}", lhs + rhs)
    return out.drop(
        "_m",
        *[f"_mc_{w}" for w in weight_cols],
        *[f"_off_{w}" for w in weight_cols],
    )


def with_month_padding(
    df: DataFrame,
    day_col: str,
    pad_before: int = 0,
    pad_after: int = 0,
) -> DataFrame:
    """df unioned with boundary duplicates so BOUNDED day-grain
    windows can run month-partitioned: returns df + `_m` (the
    partition key) + `_own` (true on original rows). Run your window
    over ``Window.partitionBy("_m").orderBy(<day>)`` (rows or
    range frames up to the pads), then ``filter("_own")`` and drop
    the two helper columns.

    A row in the last `pad_before` days of its month is copied into
    the NEXT month's partition (it sits inside next-month rows'
    trailing frames); a row in the first `pad_after` days is copied
    into the PREVIOUS month's partition (leading frames). Copies are
    `_own = false`: they contribute to frames, never to output."""
    mstart = F.date_trunc("month", F.col(day_col))
    nstart = F.add_months(mstart, 1)
    own = df.withColumn("_m", mstart).withColumn("_own", F.lit(True))
    parts = [own]
    if pad_before:
        parts.append(
            df.filter(
                F.datediff(nstart, F.col(day_col).cast("date")) <= pad_before
            )
            .withColumn("_m", nstart)
            .withColumn("_own", F.lit(False))
        )
    if pad_after:
        parts.append(
            df.filter(
                F.datediff(F.col(day_col).cast("date"), mstart.cast("date"))
                < pad_after
            )
            .withColumn("_m", F.add_months(mstart, -1))
            .withColumn("_own", F.lit(False))
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def month_stitched_running_extreme(
    df: DataFrame,
    day_col: str,
    value_col: str,
    out_col: str,
    kind: str = "min",
    group_cols: "tuple[str, ...] | list[str]" = (),
    block=None,
) -> DataFrame:
    """df + inclusive running MIN/MAX of `value_col` under the
    (group, day) order — the other monoid the stitch supports (CUSUM
    / Page–Hinkley track a running min of a cumulative statistic;
    mSPRT tracks a running max of a likelihood ratio). Same shape as
    month_stitched_cumsum: within-block running extreme (window
    PARTITIONED by block) + prior-block extremes from a blocks-sized
    triangular self-join, combined with least/greatest (which skip
    the NULL produced by the first block's empty prior set). Exact
    for any input: min/max are associative and idempotent."""
    if kind not in ("min", "max"):
        raise ValueError(f"kind must be min|max, got {kind!r}")
    group_cols = list(group_cols)
    if block is None:
        block = F.date_trunc("month", F.col(day_col))
    agg_fn = F.min if kind == "min" else F.max
    comb = F.least if kind == "min" else F.greatest
    # same double-consumption barrier as month_stitched_cumsum
    base = df.withColumn("_m", block).localCheckpoint(eager=True)
    win = (
        Window.partitionBy(*group_cols, "_m")
        .orderBy(day_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = base.withColumn("_wx", agg_fn(value_col).over(win))
    mt = base.groupBy(*group_cols, "_m").agg(agg_fn(value_col).alias("_bx"))
    a, b = mt.alias("a"), mt.alias("b")
    cond = F.col("b._m") < F.col("a._m")
    for g in group_cols:
        cond = cond & (F.col(f"a.{g}") == F.col(f"b.{g}"))
    prior = (
        a.join(b, cond, "left")
        .groupBy(
            *[F.col(f"a.{g}").alias(g) for g in group_cols],
            F.col("a._m").alias("_m"),
        )
        .agg(agg_fn(F.col("b._bx")).alias("_px"))
    )
    return (
        within.join(F.broadcast(prior), [*group_cols, "_m"])
        .withColumn(out_col, comb(F.col("_wx"), F.col("_px")))
        .drop("_m", "_wx", "_px")
    )
