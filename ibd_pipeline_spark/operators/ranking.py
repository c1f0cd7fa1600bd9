"""Distributed global ranking: row numbers / NTILE / PERCENT_RANK /
CUME_DIST over a TOTAL order without a single-partition WindowExec.

An empty-partition window (`Window.orderBy(...)` with no partitionBy)
moves the whole input to ONE task — Spark's own `WindowExec: No
Partition Defined` warning. Fine for a vocab-sized frame, a
scale-killer on a fact table. This module is the scale-safe
replacement, the RDD `zipWithIndex` design re-expressed in DataFrame
ops:

  1. `repartitionByRange(P, order_cols)` — the same range exchange a
     distributed sort pays; every partition holds a contiguous key
     range, partition id order == global order.
  2. `sortWithinPartitions(order_cols)` then
     `monotonically_increasing_id()` — mid packs (partition id <<33 |
     consecutive record number), so `mid - min(mid per partition)` is
     the within-partition row index with NO window and NO second
     full-data shuffle. mid is nondeterministic-flagged, which pins
     the projection above the sort (Catalyst won't reorder it).
  3. `localCheckpoint(eager=True)` — materialize the ranged frame
     EXACTLY ONCE. The per-partition aggregate below and the row-level
     projection are two consumers of this subtree; without the
     checkpoint they are two physical evaluations, and
     `repartitionByRange` re-samples its range boundaries per
     evaluation (the sampler seeds from the RDD lineage id), so the
     same row can land in different partitions in the two jobs and
     `offset + (_mid - _mid0)` silently misaligns. Checkpointing pins
     both consumers to the same physical rows — this also makes the
     operator safe over nondeterministic upstreams (sample(),
     rand-derived columns).
  4. per-partition (count, min(mid)) — a ≤ P-row aggregate (one row
     per non-empty partition, bounded by the partition count, never
     by data), `collect()`ed to the driver, where the running offsets
     are summed in partition-id order.
  5. one row-local projection: the offsets go back as an array
     literal indexed by partition id, `element_at(array(…), _pid + 1)`,
     and global rn = `_mid` + that partition's (offset − min(mid) + 1).
     No join, no broadcast exchange, no window.

Cost: one range shuffle of the data (what any global ordering costs)
materialized once to executor-local storage, and one collected ≤ P-row
aggregate. Nothing ever lands on a single task. NTILE /
PERCENT_RANK / CUME_DIST are then pure row-level formulas of (rn, n).
The grouped variants broadcast-join their offsets instead: that frame
has ≤ P × groups rows, which no partition count bounds.

REQUIRES the order columns to be a total order (append a unique
tiebreaker): ties that straddle a range-partition boundary would
otherwise make mid assignment non-deterministic, and the SQL
functions themselves are only well-defined up to ties.
"""

from __future__ import annotations

from decimal import localcontext

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from ibd_pipeline_spark.sqltext import element_at_bank, ident, literal


def _partition_offsets(ranged: DataFrame, aggs: "list[Column]") -> dict:
    """Collect the per-`_pid` aggregates `aggs` of a checkpointed ranged
    frame (≤ P rows, one per non-empty partition: the bound the old
    broadcast offset frame had) and fold them on the driver in `_pid`
    order. Returns {alias: (dtype, per_pid, offsets, total)}, lists
    indexed by `_pid` (None for an empty partition): offsets[p] is the
    SUM of the aggregates before p (0 before any; NULLs skipped, so
    DOUBLE offsets are the running float sum in `_pid` order), total
    the SUM of all (NULL only if every one is NULL). DECIMAL sums run
    in an 80-digit context, so they stay exact."""
    t = ranged.groupBy("_pid").agg(*aggs)
    rows = {r["_pid"]: r for r in t.collect()}
    out = {}
    with localcontext() as ctx:
        ctx.prec = 80
        for f in t.schema.fields[1:]:
            per_pid = [
                rows[p][f.name] if p in rows else None
                for p in range(max(rows, default=-1) + 1)
            ]
            offsets, acc = [], None
            for v in per_pid:
                offsets.append(0 if acc is None else acc)
                if v is not None:
                    acc = v if acc is None else acc + v
            out[f.name] = (f.dataType.simpleString(), per_pid, offsets, acc)
    return out


def with_global_row_number(
    df: DataFrame,
    order_cols: "list[str | Column]",
    rn_col: str = "_rn",
    total_col: str = "_n",
    num_partitions: int | None = None,
) -> DataFrame:
    """df + 1-based global row number (`rn_col`) and total row count
    (`total_col`) under the total order `order_cols`. Module steps
    1-5: `rn_col` = `_mid` + (offset − min(mid) + 1) of the row's
    partition, looked up by `_pid` in an array literal; `total_col` is
    a BIGINT literal. Exact for n < 2⁵³."""
    cols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    # No explicit partition count unless the caller pins one: AQE then
    # sizes the range exchange from the data (coalescing tiny frames
    # to few tasks, fanning out big ones). AQE only ever MERGES
    # ADJACENT range partitions, so partition-id order still equals
    # global order.
    parts = [num_partitions] if num_partitions else []
    ranged = (
        df.repartitionByRange(*parts, *cols)
        .sortWithinPartitions(*cols)
        .withColumn("_mid", F.monotonically_increasing_id())
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)  # single evaluation: module step 3
    )
    agg = _partition_offsets(
        ranged, [F.count(F.lit(1)).alias("cnt"), F.min("_mid").alias("mid0")]
    )
    _, _, offsets, n = agg["cnt"]
    base = [0 if m is None else o - m + 1 for o, m in zip(offsets, agg["mid0"][1])]
    return ranged.selectExpr(
        *map(ident, ranged.columns[:-2]),
        f"{literal(n or 0, 'bigint')} AS {ident(total_col)}",
        f"_mid + {element_at_bank(base, 'bigint', '_pid + 1')} AS {ident(rn_col)}",
    )


def with_grouped_row_number(
    df: DataFrame,
    group_cols: "list[str]",
    order_cols: "list[str | Column]",
    rn_col: str = "_rn",
    total_col: str = "_n",
    num_partitions: int | None = None,
) -> DataFrame:
    """df + 1-based row number (`rn_col`) and row count (`total_col`)
    PER GROUP under the total order `order_cols` — the scale-safe
    form of `row_number().over(Window.partitionBy(groups).orderBy(
    order))` when single groups are too large for one task.

    Same design as with_global_row_number, with the group columns
    prepended to the range-partitioning key: each group occupies a
    contiguous run of partitions (large groups SPLIT across many
    tasks — the whole point), rows are sorted (group, order) within
    each partition so a group's slice is contiguous and
    `mid − min(mid per (partition, group))` is its within-slice
    index. The offsets frame has ≤ P × n_groups rows; its prefix-sum
    windows are partitioned BY GROUP (never empty-spec over data).
    Checkpointed once for the same single-evaluation guarantee.

    REQUIRES group_cols + order_cols to be a total order (append a
    unique tiebreaker)."""
    ocols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    keys = [F.col(g) for g in group_cols] + ocols
    parts = [num_partitions] if num_partitions else []  # AQE-sized otherwise
    ranged = (
        df.repartitionByRange(*parts, *keys)
        .sortWithinPartitions(*keys)
        .withColumn("_mid", F.monotonically_increasing_id())
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)  # single evaluation: see above
    )
    counts = ranged.groupBy("_pid", *group_cols).agg(
        F.count(F.lit(1)).alias("_cnt"), F.min("_mid").alias("_mid0")
    )
    w_prefix = (
        Window.partitionBy(*group_cols)
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_all = Window.partitionBy(*group_cols).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    offsets = counts.select(
        "_pid",
        *group_cols,
        "_mid0",
        F.coalesce(F.sum("_cnt").over(w_prefix), F.lit(0)).alias("_off"),
        F.sum("_cnt").over(w_all).alias(total_col),
    )
    return (
        ranged.join(F.broadcast(offsets), ["_pid", *group_cols])
        .withColumn(
            rn_col, F.col("_off") + (F.col("_mid") - F.col("_mid0")) + F.lit(1)
        )
        .drop("_pid", "_mid", "_off", "_mid0")
    )


def _cdiv(a: Column, b: Column) -> Column:
    """ceil(a/b) for positive longs (exact below 2⁵³)."""
    return F.floor((a + b - F.lit(1)) / b).cast("long")


def ntile_from_row_number(rn: Column, n: Column, k: int) -> Column:
    """SQL NTILE(k) as a formula of (global row number, total count):
    the first n mod k buckets take ceil(n/k) rows, the rest take
    floor(n/k) — byte-for-byte the WindowExec semantics, evaluated
    row-locally with no window at all."""
    kk = F.lit(k).cast("long")
    q = F.floor(n / kk).cast("long")
    rem = n % kk
    big = rem * (q + F.lit(1))  # rows covered by the ceil-sized buckets
    return F.when(rn <= big, _cdiv(rn, q + F.lit(1))).otherwise(
        # q ≥ 1 whenever any row falls past the ceil-sized buckets,
        # so greatest() only guards the unreachable q=0 branch from
        # an eager-eval division by zero.
        rem + _cdiv(rn - big, F.greatest(q, F.lit(1)))
    )


def percent_rank_from_row_number(rn: Column, n: Column) -> Column:
    """PERCENT_RANK = (rank−1)/(n−1) under a TOTAL order (rank == rn
    because ties are impossible); 0.0 for a single row."""
    return F.when(n > 1, (rn - F.lit(1)) / (n - F.lit(1))).otherwise(F.lit(0.0))


def cume_dist_from_row_number(rn: Column, n: Column) -> Column:
    """CUME_DIST = rn/n under a TOTAL order (no ties ⇒ the ≤-count is
    the row number itself)."""
    return rn / n


def with_grouped_prefix_sum(
    df: DataFrame,
    group_cols: "list[str]",
    order_cols: "list[str | Column]",
    weight_col: str,
    cum_col: str = "_cw",
    total_col: str = "_tw",
    num_partitions: int | None = None,
) -> DataFrame:
    """df + inclusive running total of `weight_col` (`cum_col`) and
    group total (`total_col`) PER GROUP under the total order
    `order_cols` — the distributed SCAN (prefix sum) sibling of
    with_grouped_row_number, for when the running quantity is a
    weight rather than a row count (weighted medians/quantiles,
    capacity packing, budget exhaustion points).

    Same skeleton: one range exchange on (group, order) so each
    group occupies a contiguous partition run (oversized groups
    SPLIT across tasks), sort within partitions, materialize once
    (single-evaluation guarantee). The within-partition running sum
    — which no monotonically_increasing_id trick can derive — runs
    as a mapInPandas cumulative sum with a per-group carry across
    Arrow batches: a narrow transformation, so no further exchange
    and partition order is preserved. Per-(partition, group) weight
    totals (≤ P × groups rows) prefix-sum into offsets exactly as
    in with_grouped_row_number, broadcast back, and
    cum = offset + within-partition running sum.

    EXACTNESS: pass an integer (or exact-decimal-scaled-to-integer)
    weight when cross-engine determinism matters — integer sums are
    order-independent, so the result is bit-identical to any SQL
    engine's windowed SUM under the same total order. Float weights
    work but accumulate in partition order.

    NULL weights count as 0 (documented divergence from SQL
    SUM-over-window, which stays NULL until the first non-null value;
    thereafter the two agree because SUM ignores NULLs). Without this,
    a null row's pandas cumsum turns the per-group carry into NaN and
    silently poisons every later row in the group.

    REQUIRES group_cols + order_cols to be a total order (append a
    unique tiebreaker)."""
    import pandas as pd

    ocols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    keys = [F.col(g) for g in group_cols] + ocols
    parts = [num_partitions] if num_partitions else []
    ranged = (
        df.repartitionByRange(*parts, *keys)
        .sortWithinPartitions(*keys)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)  # single evaluation: see module doc
    )
    wtype = ranged.schema[weight_col].dataType.simpleString()
    out_schema = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}" for f in ranged.schema.fields]
        + [f"_cin {wtype}"]
    )

    def cumsum(batches):
        carry: dict = {}
        for pdf in batches:
            if len(pdf) == 0:
                out = pdf.copy()
                out["_cin"] = pdf[weight_col]
                yield out
                continue
            cs = (
                pdf[weight_col]
                .fillna(0)  # null weight == 0: see docstring contract
                .groupby([pdf[g] for g in group_cols], sort=False)
                .cumsum()
            )
            gkeys = list(
                pdf[group_cols].itertuples(index=False, name=None)
            )
            base = pd.Series(
                [carry.get(k, 0) for k in gkeys], index=pdf.index
            )
            cin = cs + base
            last: dict = {}
            for i, k in enumerate(gkeys):
                last[k] = i
            for k, i in last.items():
                carry[k] = cin.iloc[i]
            out = pdf.copy()
            out["_cin"] = cin
            yield out

    scanned = ranged.mapInPandas(cumsum, schema=out_schema)
    totals = ranged.groupBy("_pid", *group_cols).agg(
        F.sum(weight_col).alias("_wsum")
    )
    w_prefix = (
        Window.partitionBy(*group_cols)
        .orderBy("_pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_all = Window.partitionBy(*group_cols).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    offsets = totals.select(
        "_pid",
        *group_cols,
        F.coalesce(F.sum("_wsum").over(w_prefix), F.lit(0)).alias("_off"),
        F.sum("_wsum").over(w_all).alias(total_col),
    )
    return (
        scanned.join(F.broadcast(offsets), ["_pid", *group_cols])
        .withColumn(cum_col, F.col("_off") + F.col("_cin"))
        .drop("_pid", "_cin", "_off")
    )


def with_global_prefix_sums(
    df: DataFrame,
    order_cols: "list[str | Column]",
    weight_cols: "list[str]",
    num_partitions: int | None = None,
) -> DataFrame:
    """df + inclusive running totals ``_cum_<w>`` and grand totals
    ``_tot_<w>`` for EACH weight column, under the GLOBAL total order
    `order_cols` — the multi-weight scan that de-serializes ECDF-style
    statistics (two-sample KS needs cum1 AND cum2 under one order;
    Mann–Whitney needs the pooled tie-count scan). One range exchange
    covers every weight: N weights cost the same shuffle as one.

    Same skeleton as with_grouped_prefix_sum with no group key: range
    exchange on order_cols (partition-id order == global order), sort
    within partitions, materialize once (single-evaluation guarantee
    — see module doc), a narrow mapInPandas cumulative sum with one
    scalar carry per weight. The ≤ P per-partition totals are
    collected and prefix-summed on the driver in `_pid` order (module
    steps 4-5), and one projection adds them back row-locally:
    ``_cum_<w> = _cin_<w> + element_at(array(<offsets>), _pid + 1)``,
    ``_tot_<w>`` a literal typed like SUM(w) (BIGINT, DOUBLE or
    DECIMAL). No join, no window, no second exchange.

    NULL weights count as 0 (same contract as with_grouped_prefix_sum).
    Integer weights make the running totals order-independent and
    bit-identical to any SQL engine's windowed SUM under the same
    total order.

    REQUIRES order_cols to be a total order (append a unique
    tiebreaker): ties straddling a range boundary would make the scan
    order — and therefore every float cumulative — nondeterministic.
    """
    ocols = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    parts = [num_partitions] if num_partitions else []
    ranged = (
        df.repartitionByRange(*parts, *ocols)
        .sortWithinPartitions(*ocols)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)  # single evaluation: see module doc
    )
    wtypes = {
        w: ranged.schema[w].dataType.simpleString() for w in weight_cols
    }
    out_schema = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}" for f in ranged.schema.fields]
        + [f"_cin_{w} {wtypes[w]}" for w in weight_cols]
    )

    def cumsum(batches):
        carry = {w: 0 for w in weight_cols}
        for pdf in batches:
            out = pdf.copy()
            for w in weight_cols:
                cs = pdf[w].fillna(0).cumsum() + carry[w]
                if len(pdf):
                    carry[w] = cs.iloc[-1]
                out[f"_cin_{w}"] = cs
            yield out

    scanned = ranged.mapInPandas(cumsum, schema=out_schema)
    agg = _partition_offsets(ranged, [F.sum(w).alias(w) for w in weight_cols])
    return scanned.selectExpr(
        *map(ident, ranged.columns[:-1]),
        *[
            f"{literal(agg[w][3], agg[w][0])} AS {ident('_tot_' + w)}"
            for w in weight_cols
        ],
        *[
            f"{ident('_cin_' + w)} + {element_at_bank(agg[w][2], agg[w][0], '_pid + 1')}"
            f" AS {ident('_cum_' + w)}"
            for w in weight_cols
        ],
    )
