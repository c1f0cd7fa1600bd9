"""operators/ranking.py unit + property tests.

The module is correctness-critical: three oracle-attested queries
(window_ntile_percent, customer_rfm_segments, zorder_rowgroup_skipping)
ride it. Two failure classes are exercised directly:

  * the double-evaluation race — with_global_row_number branches its
    ranged subtree into a counts aggregate AND a join probe; before
    the localCheckpoint fix, repartitionByRange re-sampled boundaries
    per evaluation and the two sides could disagree, yielding row
    numbers that are NOT a permutation of 1..n. Exposed by consuming
    the result under groupBy (the shape that corrupted
    zorder_rowgroup_skipping) across repeated fresh evaluations.
  * formula parity — ntile/percent_rank/cume_dist formulas must equal
    the WindowExec builtins row-for-row on multi-partition frames,
    including n < k, k not dividing n, single row, and ties broken
    only by the tiebreaker.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from pyspark.sql import Window

from ibd_pipeline_spark.operators.ranking import (
    cume_dist_from_row_number,
    ntile_from_row_number,
    percent_rank_from_row_number,
    with_global_row_number,
    with_grouped_row_number,
)


def _frame(spark, n, parts=7):
    """n rows spread over `parts` partitions with a non-monotonic key:
    key = (i * 37) % n collides with nothing (37 coprime to most n we
    pick) but arrives thoroughly shuffled, so range partitioning has
    real work to do."""
    return (
        spark.range(0, n, 1, parts)
        .withColumn("key", (F.col("id") * 37) % n)
        .withColumn("grp", F.col("id") % 5)
    )


def test_rn_is_permutation_small(spark):
    df = _frame(spark, 100)
    r = with_global_row_number(df, ["key", "id"])
    rows = r.select("_rn", "_n").collect()
    assert all(x["_n"] == 100 for x in rows)
    assert sorted(x["_rn"] for x in rows) == list(range(1, 101))


def test_rn_matches_row_number_builtin(spark):
    df = _frame(spark, 500)
    r = with_global_row_number(df, ["key", "id"])
    w = Window.orderBy("key", "id")
    expected = df.select("id", F.row_number().over(w).alias("rn"))
    got = r.select("id", F.col("_rn").alias("rn"))
    assert got.exceptAll(expected).count() == 0
    assert expected.exceptAll(got).count() == 0


def test_rn_permutation_under_groupby_repeated(spark):
    """The race regression shape: fresh evaluation each round, result
    consumed through a groupBy (two consumers of the ranged subtree
    run as separate jobs). Before the localCheckpoint fix this
    intermittently produced duplicate/missing row numbers."""
    for _ in range(20):
        df = _frame(spark, 1000, parts=11)
        r = with_global_row_number(df, ["key", "id"])
        agg = (
            r.withColumn("bucket", ntile_from_row_number(F.col("_rn"), F.col("_n"), 64))
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("c"))
            .collect()
        )
        sizes = sorted(x["c"] for x in agg)
        # NTILE(64) of 1000 = 40 buckets of 16 + 24 buckets of 15
        assert len(agg) == 64
        assert sizes == [15] * 24 + [16] * 40


def test_rn_nondeterministic_upstream(spark):
    """A rand-derived order column: without single-evaluation
    semantics the counts side and probe side would each draw their
    own rand() and misalign arbitrarily."""
    df = spark.range(0, 300, 1, 6).withColumn("r", F.rand(seed=7))
    out = with_global_row_number(df, ["r", "id"])
    rows = out.select("_rn").collect()
    assert sorted(x["_rn"] for x in rows) == list(range(1, 301))


@pytest.mark.parametrize("n,k", [(1, 4), (3, 5), (5, 5), (7, 3), (64, 64), (1000, 64), (97, 10)])
def test_ntile_formula_matches_builtin(spark, n, k):
    df = _frame(spark, n, parts=min(5, n))
    w = Window.orderBy("key", "id")
    expected = df.select("id", F.ntile(k).over(w).alias("t"))
    r = with_global_row_number(df, ["key", "id"])
    got = r.select(
        "id", ntile_from_row_number(F.col("_rn"), F.col("_n"), k).cast("int").alias("t")
    )
    assert {(x["id"], x["t"]) for x in got.collect()} == {
        (x["id"], x["t"]) for x in expected.collect()
    }


def test_percent_rank_cume_dist_match_builtin(spark):
    df = _frame(spark, 211, parts=6)
    w = Window.orderBy("key", "id")
    expected = {
        (x["id"], round(x["p"], 9), round(x["c"], 9))
        for x in df.select(
            "id",
            F.percent_rank().over(w).alias("p"),
            F.cume_dist().over(w).alias("c"),
        ).collect()
    }
    r = with_global_row_number(df, ["key", "id"])
    got = {
        (x["id"], round(x["p"], 9), round(x["c"], 9))
        for x in r.select(
            "id",
            percent_rank_from_row_number(F.col("_rn"), F.col("_n")).alias("p"),
            cume_dist_from_row_number(F.col("_rn"), F.col("_n")).alias("c"),
        ).collect()
    }
    assert got == expected


def test_percent_rank_single_row(spark):
    df = spark.range(1).withColumn("key", F.lit(0))
    r = with_global_row_number(df, ["key", "id"])
    row = r.select(
        percent_rank_from_row_number(F.col("_rn"), F.col("_n")).alias("p"),
        cume_dist_from_row_number(F.col("_rn"), F.col("_n")).alias("c"),
    ).collect()[0]
    assert row["p"] == 0.0 and row["c"] == 1.0


def test_ties_broken_by_tiebreaker_only(spark):
    """All order-key values identical: the tiebreaker alone must
    define the total order, exactly as the builtins do."""
    df = spark.range(0, 50, 1, 5).withColumn("key", F.lit(1))
    r = with_global_row_number(df, ["key", "id"])
    rows = {(x["id"], x["_rn"]) for x in r.collect()}
    assert rows == {(i, i + 1) for i in range(50)}


def test_empty_frame(spark):
    df = spark.range(0).withColumn("key", F.col("id"))
    r = with_global_row_number(df, ["key", "id"])
    assert r.count() == 0


def test_grouped_rn_matches_partitioned_window(spark):
    """with_grouped_row_number == row_number().over(partitionBy(grp)
    .orderBy(key, id)) — including per-group totals — on a frame with
    unevenly sized groups spread over many input partitions."""
    df = _frame(spark, 700, parts=9).withColumn("grp", F.col("id") % 4)
    got = with_grouped_row_number(df, ["grp"], ["key", "id"])
    w = Window.partitionBy("grp").orderBy("key", "id")
    wn = Window.partitionBy("grp")
    expected = df.select(
        "id",
        "grp",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    e = {(x["id"], x["grp"], x["rn"], x["n"]) for x in expected.collect()}
    g = {
        (x["id"], x["grp"], x["_rn"], x["_n"])
        for x in got.select("id", "grp", "_rn", "_n").collect()
    }
    assert g == e


def test_grouped_rn_permutation_per_group_repeated(spark):
    """Race-regression shape for the grouped variant: per-group row
    numbers must each be a permutation of 1..group_size across
    repeated fresh evaluations consumed through a groupBy."""
    for _ in range(10):
        df = _frame(spark, 600, parts=7).withColumn("grp", F.col("id") % 3)
        r = with_grouped_row_number(df, ["grp"], ["key", "id"])
        agg = (
            r.groupBy("grp")
            .agg(
                F.count(F.lit(1)).alias("c"),
                F.min("_rn").alias("lo"),
                F.max("_rn").alias("hi"),
                F.countDistinct("_rn").alias("d"),
                F.max("_n").alias("n"),
            )
            .collect()
        )
        assert len(agg) == 3
        for x in agg:
            assert x["c"] == 200 and x["lo"] == 1 and x["hi"] == 200
            assert x["d"] == 200 and x["n"] == 200


def test_grouped_single_group_matches_global(spark):
    df = _frame(spark, 150, parts=5).withColumn("g", F.lit("a"))
    grouped = with_grouped_row_number(df, ["g"], ["key", "id"])
    glob = with_global_row_number(df.drop("g"), ["key", "id"])
    a = {(x["id"], x["_rn"], x["_n"]) for x in grouped.select("id", "_rn", "_n").collect()}
    b = {(x["id"], x["_rn"], x["_n"]) for x in glob.select("id", "_rn", "_n").collect()}
    assert a == b


def test_grouped_prefix_sum_matches_window(spark):
    """with_grouped_prefix_sum == SUM(w) OVER (PARTITION BY g ORDER BY
    o ROWS UNBOUNDED PRECEDING) on a multi-partition frame with
    integer weights (order-independent, so exact)."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from ibd_pipeline_spark.operators.ranking import with_grouped_prefix_sum

    df = (
        spark.range(0, 500)
        .select(
            (F.col("id") % 7).alias("g"),
            ((F.col("id") * 37) % 101).alias("o"),
            F.col("id").alias("tie"),
            ((F.col("id") * 13) % 9 + 1).cast("bigint").alias("w"),
        )
        .repartition(11)
    )
    got = with_grouped_prefix_sum(df, ["g"], ["o", "tie"], "w")
    w_ref = (
        Window.partitionBy("g")
        .orderBy("o", "tie")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_tot = Window.partitionBy("g").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ref = df.select(
        "g",
        "o",
        "tie",
        F.sum("w").over(w_ref).alias("_cw"),
        F.sum("w").over(w_tot).alias("_tw"),
    )
    got_rows = {
        (r["g"], r["o"], r["tie"]): (r["_cw"], r["_tw"])
        for r in got.collect()
    }
    ref_rows = {
        (r["g"], r["o"], r["tie"]): (r["_cw"], r["_tw"])
        for r in ref.collect()
    }
    assert got_rows == ref_rows


def test_grouped_prefix_sum_repeated_evaluation(spark):
    """The cumulative column is stable under repeated evaluation and
    downstream groupBy consumption (the shape that exposed the
    ranking race)."""
    import pyspark.sql.functions as F

    from ibd_pipeline_spark.operators.ranking import with_grouped_prefix_sum

    df = (
        spark.range(0, 300)
        .select(
            (F.col("id") % 3).alias("g"),
            F.col("id").alias("o"),
            F.lit(1).cast("bigint").alias("w"),
        )
        .repartition(9)
    )
    ps = with_grouped_prefix_sum(df, ["g"], ["o"], "w")
    # with unit weights the prefix sum IS the per-group row number:
    # per group, the _cw multiset must be exactly 1..n on every
    # evaluation, including under a groupBy.
    for _ in range(3):
        agg = (
            ps.groupBy("g")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("_cw").alias("s"),
                F.min("_cw").alias("mn"),
                F.max("_cw").alias("mx"),
            )
            .collect()
        )
        for r in agg:
            n = r["n"]
            assert (r["mn"], r["mx"]) == (1, n)
            assert r["s"] == n * (n + 1) // 2


def test_grouped_prefix_sum_empty_frame(spark):
    import pyspark.sql.functions as F

    from ibd_pipeline_spark.operators.ranking import with_grouped_prefix_sum

    df = spark.range(0).select(
        (F.col("id") % 3).alias("g"),
        F.col("id").alias("o"),
        F.lit(1).cast("bigint").alias("w"),
    )
    assert with_grouped_prefix_sum(df, ["g"], ["o"], "w").count() == 0


def test_global_prefix_sums_matches_window(spark):
    """with_global_prefix_sums == SUM(w) OVER (ORDER BY o) per weight,
    with grand totals, on a shuffled multi-partition frame — the KS/MWU
    shape (two integer weights under one global order)."""
    from ibd_pipeline_spark.operators.ranking import with_global_prefix_sums

    df = (
        spark.range(0, 400)
        .select(
            ((F.col("id") * 37) % 400).alias("o"),
            (F.col("id") % 7).cast("bigint").alias("a"),
            (F.col("id") % 3).cast("bigint").alias("b"),
        )
        .repartition(11)
    )
    got = with_global_prefix_sums(df, ["o"], ["a", "b"]).select(
        "o", "_cum_a", "_cum_b", "_tot_a", "_tot_b"
    )
    w = Window.orderBy("o").rowsBetween(Window.unboundedPreceding, 0)
    exp = df.select(
        "o",
        F.sum("a").over(w).alias("_cum_a"),
        F.sum("b").over(w).alias("_cum_b"),
        F.sum("a").over(Window.partitionBy()).alias("_tot_a"),
        F.sum("b").over(Window.partitionBy()).alias("_tot_b"),
    )
    assert got.exceptAll(exp).count() == 0
    assert exp.exceptAll(got).count() == 0


def test_global_prefix_sums_null_weight_counts_as_zero(spark):
    """NULL weights must not poison the carry (ADVICE r8: pandas cumsum
    NaN propagation): null == 0, later rows keep accumulating."""
    from ibd_pipeline_spark.operators.ranking import with_global_prefix_sums

    df = spark.createDataFrame(
        [(1, 10), (2, None), (3, 5), (4, None), (5, 7)], "o int, w bigint"
    ).repartition(3)
    got = {
        r["o"]: r["_cum_w"]
        for r in with_global_prefix_sums(df, ["o"], ["w"]).collect()
    }
    assert got == {1: 10, 2: 10, 3: 15, 4: 15, 5: 22}


def test_grouped_prefix_sum_null_weight_counts_as_zero(spark):
    """Same null==0 contract for the grouped variant: a null row's
    carry must not become NaN for the rest of its group."""
    from ibd_pipeline_spark.operators.ranking import with_grouped_prefix_sum

    df = spark.createDataFrame(
        [("g1", 1, 3.0), ("g1", 2, None), ("g1", 3, 4.0),
         ("g2", 1, None), ("g2", 2, 2.0)],
        "g string, o int, w double",
    ).repartition(3)
    got = {
        (r["g"], r["o"]): r["_cw"]
        for r in with_grouped_prefix_sum(df, ["g"], ["o"], "w").collect()
    }
    assert got == {
        ("g1", 1): 3.0, ("g1", 2): 3.0, ("g1", 3): 7.0,
        ("g2", 1): 0.0, ("g2", 2): 2.0,
    }


# -- global kernels: driver-side partition offsets ---------------------------


def _clock_keyed(spark, n):
    """n rows keyed by a nondeterministic clock UDF. The range
    exchange samples its bounds in a job before the shuffle evaluates
    the keys again, so every shuffled key is later than every bound:
    all rows land in the LAST range partition and the others are
    empty (the kernels' checkpoint then pins the shuffled values)."""
    import time

    clock = F.udf(lambda _: time.monotonic_ns(), "bigint").asNondeterministic()
    return spark.range(0, n, 1, 2).select(
        clock("id").alias("o"),
        "id",
        F.when(F.col("id") % 5 == 0, None).otherwise(F.col("id") % 7).alias("w"),
    )


def _shuffled_frame(spark, n):
    return spark.range(0, n, 1, 3).select(
        ((F.col("id") * 37) % n).alias("o"),
        "id",
        F.when(F.col("id") % 5 == 0, None).otherwise(F.col("id") % 7).alias("w"),
    )


@pytest.mark.parametrize("make", [_shuffled_frame, _clock_keyed])
def test_global_kernels_match_sql_window_with_forced_partitions(spark, make):
    """Both global kernels at num_partitions=4 equal SQL SUM / ROW_NUMBER
    / COUNT ... OVER (ORDER BY o, id), evaluated over the kernel's own
    output rows, including when three of the four range partitions are
    empty (the offsets bank must index by `_pid`, not by rank)."""
    from ibd_pipeline_spark.operators.ranking import with_global_prefix_sums

    df = make(spark, 400)
    if make is _clock_keyed:
        sizes = df.repartitionByRange(4, "o", "id").rdd.glom().map(len).collect()
        assert sizes.count(0) == 3, sizes
    ps = with_global_prefix_sums(df, ["o", "id"], ["w"], num_partitions=4)
    rn = with_global_row_number(df, ["o", "id"], num_partitions=4)
    bad_ps = ps.selectExpr(
        "_cum_w",
        "_tot_w",
        "SUM(COALESCE(w, 0)) OVER (ORDER BY o, id) AS ref_cum",
        "SUM(w) OVER () AS ref_tot",
    ).filter("_cum_w <> ref_cum OR _tot_w <> ref_tot")
    bad_rn = rn.selectExpr(
        "_rn",
        "_n",
        "ROW_NUMBER() OVER (ORDER BY o, id) AS ref_rn",
        "COUNT(1) OVER () AS ref_n",
    ).filter("_rn <> ref_rn OR _n <> ref_n")
    assert bad_ps.count() == 0 and bad_rn.count() == 0
    assert ps.count() == rn.count() == 400


def test_global_prefix_sums_null_partition_and_null_column(spark):
    """NULL weights count as 0 in `_cum_*`; a range partition whose
    weights are all NULL adds nothing to the later offsets; `_tot_*` is
    SQL SUM, so an all-NULL weight column totals NULL."""
    from ibd_pipeline_spark.operators.ranking import with_global_prefix_sums

    w = [1, 2, None, None, 3, None, 4, None]
    df = spark.createDataFrame(
        [(o, v, None) for o, v in enumerate(w)], "o int, w bigint, z bigint"
    )
    got = with_global_prefix_sums(df, ["o"], ["w", "z"], num_partitions=4)
    rows = sorted(got.collect())
    assert [r["_cum_w"] for r in rows] == [1, 3, 3, 3, 6, 6, 10, 10]
    assert {r["_tot_w"] for r in rows} == {10}
    assert [r["_cum_z"] for r in rows] == [0] * 8
    assert {r["_tot_z"] for r in rows} == {None}


def test_global_prefix_sums_double_offsets_are_running_float_sum(spark):
    """DOUBLE weights: each partition's offset is Python's running float
    sum of the partition totals in `_pid` order, and `_cum` adds the
    sequential within-partition running sum to it. The weights span 15
    orders of magnitude, so a different summation order shows."""
    import itertools
    import random

    from ibd_pipeline_spark.operators.ranking import with_global_prefix_sums

    rng = random.Random(7)
    ws = [rng.uniform(-1, 1) * 10.0 ** rng.randint(-3, 12) for _ in range(40)]
    df = spark.createDataFrame(list(enumerate(ws)), "o int, w double").coalesce(1)
    # 40 rows in one input partition: the range sampler sees every row,
    # so the bounds (and each row's partition) are reproducible here.
    pid = {
        r["o"]: r["p"]
        for r in df.repartitionByRange(4, "o")
        .select("o", F.spark_partition_id().alias("p"))
        .collect()
    }
    assert sorted(set(pid.values())) == [0, 1, 2, 3]
    parts = [[w for o, w in enumerate(ws) if pid[o] == p] for p in range(4)]
    offsets = [0.0] + list(itertools.accumulate(sum(p) for p in parts))
    expected = {}
    for p, part in enumerate(parts):
        for i, c in enumerate(itertools.accumulate(part)):
            expected[i + sum(len(q) for q in parts[:p])] = offsets[p] + c
    got = with_global_prefix_sums(df, ["o"], ["w"], num_partitions=4).collect()
    assert {r["o"]: r["_cum_w"] for r in got} == expected
    assert {r["_tot_w"] for r in got} == {offsets[4]}


def test_global_kernel_plans_have_no_join_or_window(spark):
    """The offsets return as literals: neither global kernel's plan
    carries a broadcast join or a window over `_pid`."""
    from ibd_pipeline_spark.operators.ranking import with_global_prefix_sums

    df = _shuffled_frame(spark, 200)
    for out in (
        with_global_prefix_sums(df, ["o", "id"], ["w"]),
        with_global_row_number(df, ["o", "id"]),
    ):
        qe = out._jdf.queryExecution()
        physical = qe.executedPlan().toString()
        logical = qe.optimizedPlan().toString()
        assert "BroadcastHashJoin" not in physical, physical
        assert "Window" not in logical and "Join" not in logical, logical


def test_jonckheere_terpstra_builds_in_few_gateway_commands(
    spark, sf_dir, monkeypatch
):
    """stats_jonckheere_terpstra is SQL text: building it (the eager
    checkpoint and offsets collect included) sends fewer than 400 py4j
    commands; the Column-tree build sent about 3,400."""
    import py4j.clientserver as cs

    from ibd_pipeline_spark.queries import all_queries

    build = all_queries()["stats_jonckheere_terpstra"]
    orig = cs.ClientServerConnection.send_command
    sent = []

    def send_command(conn, command, *args, **kwargs):
        if not command.startswith("m\nd\n"):  # object-release notices
            sent.append(command)
        return orig(conn, command, *args, **kwargs)

    monkeypatch.setattr(cs.ClientServerConnection, "send_command", send_command)
    build(spark, sf_dir)
    monkeypatch.undo()
    assert len(sent) < 400, len(sent)
