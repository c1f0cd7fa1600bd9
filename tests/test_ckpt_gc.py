"""Reliable-checkpoint GC (operators/ckpt.py): iterative operators
must not leak one rdd-* directory per round. Spark never deletes
reliable checkpoint files on its own (cleanCheckpoints is off by
default and driver-GC-timed at best), so RoundCheckpointer deletes
round N−1's files once round N is materialized — after an operator
returns, at most its LIVE slots' directories remain, and the result
must still be fully readable (i.e. we deleted the right files)."""

from __future__ import annotations

import glob
import os

import pyspark.sql.functions as F
import pytest

from ibd_pipeline_spark.operators.ckpt import RoundCheckpointer


def _rdd_dirs(d: str) -> list[str]:
    return glob.glob(os.path.join(d, "*", "rdd-*"))


def test_round_checkpointer_gc_and_slots(spark, tmp_path):
    d = str(tmp_path / "ck")
    ck = RoundCheckpointer(spark, d)
    inv = ck(spark.range(10), "invariant")
    state = ck(spark.range(5), "state")
    assert len(_rdd_dirs(d)) == 2
    for i in range(4):
        state = ck(state.withColumn("x", F.lit(i)).drop("x"), "state")
        # superseded state rounds deleted; invariant slot untouched
        assert len(_rdd_dirs(d)) == 2
    assert inv.count() == 10 and state.count() == 5
    ck.release("invariant")
    assert len(_rdd_dirs(d)) == 1
    assert state.count() == 5  # live slot unaffected by the release


def test_connected_components_gc(spark, tmp_path):
    from ibd_pipeline_spark.operators.graph import connected_components

    d = str(tmp_path / "cc")
    # 12-vertex path graph: needs several label-propagation rounds,
    # so multiple checkpoints per slot happen.
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(11)], "src long, dst long"
    )
    out = connected_components(edges, checkpoint_dir=d)
    rows = out.collect()
    assert len(rows) == 12
    assert {r["component"] for r in rows} == {0}
    # sym released, superseded label rounds GC'd → only the final
    # labels checkpoint may remain
    assert len(_rdd_dirs(d)) <= 1
    # the surviving files are the RIGHT ones: result re-collectable
    assert out.count() == 12


def test_pagerank_gc(spark, tmp_path):
    from ibd_pipeline_spark.operators.graph import pagerank

    d = str(tmp_path / "pr")
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 0), (0, 2)], "src long, dst long"
    )
    out = pagerank(edges, iters=6, checkpoint_dir=d)
    ranks = out.collect()
    assert len(ranks) == 4
    assert abs(sum(r["rank"] for r in ranks) - 4.0) < 1e-6
    assert len(_rdd_dirs(d)) <= 1  # und/degrees released, old ranks GC'd
    assert out.count() == 4


def test_markov_stationary_gc(spark, tmp_path):
    from ibd_pipeline_spark.operators.graph import markov_stationary

    d = str(tmp_path / "mk")
    t = spark.createDataFrame(
        [("a", "a", 0.5), ("a", "b", 0.5), ("b", "a", 0.9), ("b", "b", 0.1)],
        "src string, dst string, p double",
    )
    # max_driver_edges=0: a chain this small would otherwise be solved
    # on the driver, which writes no checkpoint at all
    out = markov_stationary(t, iters=12, checkpoint_dir=d, max_driver_edges=0)
    pis = {r["state"]: r["p"] for r in out.collect()}
    assert abs(sum(pis.values()) - 1.0) < 1e-9
    # alternating pi slots: at most 2 live directories (t/sources
    # released), and the final pi's at least
    assert 1 <= len(_rdd_dirs(d)) <= 2
    assert out.count() == 2


def test_bpe_learn_gc(spark, tmp_path):
    from ibd_pipeline_spark.operators.bpe import bpe_learn

    d = str(tmp_path / "bpe")
    sample = spark.createDataFrame(
        [("a b a b c d",), ("a b c d a b",), ("c d c d",)], "text string"
    )
    out = bpe_learn(sample, n_merges=4, checkpoint_dir=d)
    rows = out.collect()
    assert 1 <= len(rows) <= 4
    # corpus slot released; per-rank best rows (result) remain — one
    # tiny 1-row dir per learned merge, but no per-round CORPUS dirs:
    assert len(_rdd_dirs(d)) <= len(rows)
    assert out.count() == len(rows)


def test_foreign_checkpoints_never_misattributed(spark, tmp_path):
    """ADVICE r8 (ckpt.py GC attribution): a plain df.checkpoint() —
    or a second RoundCheckpointer — running between a slot's rounds
    must NOT have its rdd-* directory attributed to the slot and
    deleted when the slot is superseded. Attribution now comes from
    the checkpointed RDD's own getCheckpointFile, not a dir diff."""
    d = str(tmp_path / "fx")
    ck = RoundCheckpointer(spark, d)
    state = ck(spark.range(5), "state")
    # Foreign checkpoint activity in the same context + directory:
    foreign = spark.range(100, 120).checkpoint()
    other = RoundCheckpointer(spark, d)
    other_state = other(spark.range(200, 207), "s2")
    assert len(_rdd_dirs(d)) == 3
    # Supersede "state" twice: only ITS old dir may be deleted.
    for i in range(2):
        state = ck(state.withColumn("x", F.lit(i)).drop("x"), "state")
    assert len(_rdd_dirs(d)) == 3  # foreign + other + live state
    assert foreign.count() == 20          # files intact, readable
    assert other_state.count() == 7
    assert state.count() == 5
