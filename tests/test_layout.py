"""Z-order layout operators (operators/layout.py)."""

from __future__ import annotations

import pyspark.sql.functions as F

from ibd_pipeline_spark.operators.layout import rank_bucket, zvalue


def test_zvalue_interleaves_bits(spark):
    """Known bit patterns: z(0b101, 0b011) with 3 bits must place col0
    bits at even positions and col1 bits at odd ones."""
    df = spark.range(1).select(
        zvalue([F.lit(0b101), F.lit(0b011)], bits=3).alias("z"),
        zvalue([F.lit(0), F.lit(0)], bits=3).alias("z0"),
        zvalue([F.lit(7), F.lit(7)], bits=3).alias("zmax"),
    )
    r = df.collect()[0]
    # col0=101 -> bits 0,4 ; col1=011 -> bits 1,3  => 0b011011 = 27
    assert r.z == 0b011011 == 27
    assert r.z0 == 0 and r.zmax == 0b111111


def test_rank_bucket_clamps_and_floors(spark):
    df = spark.range(1).select(
        rank_bucket(F.lit(-5.0), 0.0, 100.0, 8).alias("lo"),
        rank_bucket(F.lit(1000.0), 0.0, 100.0, 8).alias("hi"),
        rank_bucket(F.lit(50.0), 0.0, 100.0, 8).alias("mid"),
    )
    r = df.collect()[0]
    assert r.lo == 0 and r.hi == 255
    assert r.mid == int(50.0 / 100.0 * 255)


def test_zorder_beats_single_column_sort_on_second_dim(spark, sf_dir):
    """The measurable claim: one z-ordered layout gives BOTH columns
    row-group skipping, while a single-column sort gives the other
    column essentially none."""
    from pyspark.sql import Window

    from ibd_pipeline_spark.catalog import load

    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )
    n_groups = 32

    def skip_fractions(ordered):
        rg = F.ntile(n_groups).over(
            Window.orderBy("_ord", "l_orderkey", "l_linenumber")
        )
        stats = (
            ordered.withColumn("rg", rg)
            .groupBy("rg")
            .agg(
                F.min("l_quantity").alias("mnq"),
                F.max("l_quantity").alias("mxq"),
                F.min("l_extendedprice").alias("mnp"),
                F.max("l_extendedprice").alias("mxp"),
            )
            .collect()
        )
        skip_q = sum(1 for r in stats if r.mxq < 10 or r.mnq > 20) / n_groups
        skip_p = sum(1 for r in stats if r.mxp < 20000 or r.mnp > 40000) / n_groups
        return skip_q, skip_p

    z = zvalue(
        [
            rank_bucket(F.col("l_quantity"), 0.0, 50.0, 8),
            rank_bucket(F.col("l_extendedprice"), 900.0, 120000.0, 8),
        ],
        8,
    )
    zq, zp = skip_fractions(li.withColumn("_ord", z))
    sq, sp = skip_fractions(li.withColumn("_ord", F.col("l_quantity")))

    # z-layout: both predicates skip a solid share of groups
    assert zq >= 0.4 and zp >= 0.4, (zq, zp)
    # quantity-sorted layout: quantity skips almost everything,
    # price skips (near) nothing — the one-dimensional failure mode
    assert sq >= zq
    assert sp <= 0.1, sp
    assert zp > sp

