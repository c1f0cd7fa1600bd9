"""Round-16 ADVICE fixes: loud dim guard on the codegen cosine dot,
NULL-excluding exact distinct, catalog cache invalidation fingerprint."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_cosine_dim_mismatch_fails_loudly(spark):
    """ADVICE r15 (operators/similarity.py): the expanded e0..e{dim-1}
    codegen dot silently truncated vectors LONGER than `dim`; the
    checkpointed per-vector frame now asserts size(v) == dim, so a
    mismatched dim argument fails at materialization instead of
    returning silently different cosines."""
    from ibd_pipeline_spark.operators import similarity as S

    df = spark.createDataFrame(
        [(i, [0.1 * (i + 1)] * 64) for i in range(4)],
        "vec_id long, embedding array<double>",
    )
    # 64-element vectors with dim=48 passes the portable bit-range
    # check (48 axes read) but violates the fixed-dim dot contract.
    with pytest.raises(Exception, match="expected dim=48"):
        S.cosine_near_dup_pairs(df, portable=True, dim=48)


def test_exact_distinct_excludes_null_keys(spark):
    """ADVICE r15 (queries/relational.py): the two-level exact-distinct
    rewrite must keep COUNT(DISTINCT col) semantics — the NULL-key
    group of the distinct frame does not count."""
    df = spark.createDataFrame(
        [("A", 1), ("A", 1), ("A", None), ("B", None)],
        "g string, k int",
    )
    got = {
        r["g"]: r["n"]
        for r in (
            df.groupBy("g", "k")
            .agg(F.lit(1))
            .groupBy("g")
            .agg(F.count(F.col("k")).cast("bigint").alias("n"))
        ).collect()
    }
    # A: distinct non-null {1} -> 1; B: only NULL -> 0
    assert got == {"A": 1, "B": 0}


def test_catalog_cache_invalidates_on_rewrite(spark, tmp_path):
    """ADVICE r15 (catalog.py): rewriting a fixture table bumps the
    directory mtime, so the lazy-plan cache misses and re-lists
    instead of serving the stale file listing."""
    import os
    import time

    from ibd_pipeline_spark import catalog

    sf = str(tmp_path)
    p = catalog.table_path(sf, "region")
    spark.createDataFrame([(1, "a")], "r_regionkey int, r_name string").write.parquet(
        p
    )
    assert catalog.load(spark, sf, "region").count() == 1
    # rewrite with different contents; ensure the mtime moves even on
    # coarse-grained filesystems
    time.sleep(0.05)
    spark.createDataFrame(
        [(1, "a"), (2, "b")], "r_regionkey int, r_name string"
    ).write.mode("overwrite").parquet(p)
    os.utime(p)
    assert catalog.load(spark, sf, "region").count() == 2

