"""Tests for the salted-join skew pattern and winnowing fingerprints."""

from __future__ import annotations

import pyspark.sql.functions as F

from ibd_pipeline_spark.catalog import load
from ibd_pipeline_spark.operators.skew import salted_join
from ibd_pipeline_spark.operators.text import winnowing_fingerprints


def test_salted_join_equals_plain_join(spark, sf_dir):
    li = load(spark, sf_dir, "lineitem")
    sup = load(spark, sf_dir, "supplier")
    plain = (
        li.join(sup, li.l_suppkey == sup.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("l_quantity"), 2).alias("q"))
    )
    salted = (
        salted_join(li, sup, "l_suppkey", "s_suppkey", salt_factor=4)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("l_quantity"), 2).alias("q"))
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_left_join_preserves_unmatched(spark):
    big = spark.createDataFrame([(1, "a"), (2, "b"), (99, "c")], ["k", "v"])
    small = spark.createDataFrame([(1, "x"), (2, "y")], ["k2", "w"])
    out = salted_join(big, small, "k", "k2", salt_factor=3, how="left").collect()
    assert len(out) == 3
    unmatched = [r for r in out if r.k == 99]
    assert len(unmatched) == 1 and unmatched[0].w is None


def test_winnowing_shared_substring_guarantee(spark):
    """Docs sharing a long run of words must share ≥1 fingerprint;
    unrelated docs share none."""
    common = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (0, common + " tail one two three"),
        (1, "prefix words here " + common),
        (2, "totally different vocabulary without any overlap at all today"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    fps = {
        r.doc_id: set(r.fp)
        for r in df.select("doc_id", winnowing_fingerprints("text").alias("fp")).collect()
    }
    assert fps[0] & fps[1], "shared 10-word substring must produce a shared fingerprint"
    assert not (fps[0] & fps[2])
    assert not (fps[1] & fps[2])


def test_winnowing_deterministic(spark):
    df = spark.createDataFrame([(0, "a b c d e f g h i j k l")], ["doc_id", "text"])
    a = df.select(winnowing_fingerprints("text").alias("fp")).collect()[0].fp
    b = df.select(winnowing_fingerprints("text").alias("fp")).collect()[0].fp
    assert a == b and len(a) >= 1


def test_winnowing_rows_equals_column_form(spark):
    """The explode-based scale path must select the IDENTICAL
    fingerprint set as the column-expression form, including the
    short-document (< k tokens, < window grams) edge cases."""
    from ibd_pipeline_spark.operators.text import winnowing_fingerprint_rows

    rows = [
        (1, "a b c d e f g h i j k l m n"),
        (2, "a b c d e f g h i j k l m n"),
        (3, "one two three"),          # fewer than k tokens
        (4, "x y z w v u t"),          # exactly k..k+window-1 grams
        (5, " ".join(f"t{i % 7}" for i in range(40))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    col_form = {
        (r["doc_id"], fp)
        for r in df.select(
            "doc_id", winnowing_fingerprints("text").alias("fps")
        ).collect()
        for fp in r["fps"]
    }
    row_form = {
        (r["doc_id"], r["fp"]) for r in winnowing_fingerprint_rows(df).collect()
    }
    assert row_form == col_form


def test_good_turing_identities(spark, sf_dir):
    """Good-Turing internal identities: N_r sums and the coverage/
    Chao1 bounds (coverage in (0,1); Chao1 >= observed vocabulary)."""
    from ibd_pipeline_spark.queries.text import text_good_turing_vocab

    rows = text_good_turing_vocab(spark, sf_dir).collect()
    assert [r["r"] for r in rows] == [1, 2, 3, 4, 5]
    r0 = rows[0]
    # sf0.001 has no hapax terms at all -> coverage exactly 1.0
    assert 0.0 < r0["gt_coverage"] <= 1.0
    assert r0["chao1_richness"] >= r0["vocab_size"]
    for a, b in zip(rows, rows[1:]):
        assert a["n_r_next"] == b["n_r"]
