"""Per-round lineage truncation with deterministic checkpoint GC.

Iterative operators (connected_components, pagerank, label
propagation, k-means, GD training, BPE) truncate lineage every
round or two so plans don't grow with iteration count. Two modes,
same call site:

  * local (default): `localCheckpoint()` — executor-block storage.
    Superseded rounds are `unpersist()`ed so blocks don't
    accumulate across a long run.
  * reliable (`checkpoint_dir` set): `checkpoint()` into the
    directory (survives executor loss — the 100 TB posture). Spark
    does NOT delete those rdd-* directories unless
    `spark.cleaner.referenceTracking.cleanCheckpoints=true` (off by
    default, and even then only on driver GC), so a long run leaks
    one directory per round. RoundCheckpointer deletes round N−1's
    files as soon as round N's checkpoint has materialized.

Slots: one checkpointer manages several independent state frames
(e.g. pagerank's loop-invariant `und`/`degrees` next to the
per-round `ranks`). Files are GC'd per SLOT — checkpointing `ranks`
must never delete `und`'s files, which every later round still
reads. A superseded frame is safe to delete because `checkpoint()`
is eager: by the time round N's call returns, its result is fully
materialized in its OWN files and never reads round N−1 again.

The final frame of each slot is deliberately left checkpointed —
it is (or feeds) the operator's result. Callers release loop-only
slots (e.g. the symmetrized edge list) via `release(slot)` once the
result no longer depends on recomputing them — which for
checkpointed frames is immediately after the last round, since the
files ARE the data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


class RoundCheckpointer:
    """Eager lineage truncation + GC of superseded rounds.

    ckpt = RoundCheckpointer(spark, checkpoint_dir)
    state = ckpt(state0, slot="state")      # round 0
    state = ckpt(new_state, slot="state")   # round 1 — round 0's
                                            # files/blocks released
    ckpt.release("edges")                   # drop a loop-only slot
    """

    def __init__(self, spark: SparkSession, checkpoint_dir: str | None = None):
        self.spark = spark
        self.reliable = checkpoint_dir is not None
        self._dir = checkpoint_dir
        if self.reliable:
            spark.sparkContext.setCheckpointDir(checkpoint_dir)
        self._files: dict[str, set[str]] = {}
        self._frames: dict[str, DataFrame] = {}

    # -- hadoop fs plumbing (works for file://, hdfs://, s3a://...) --
    def _fs(self):
        jvm = self.spark.sparkContext._jvm
        path = jvm.org.apache.hadoop.fs.Path(self._dir)
        conf = self.spark.sparkContext._jsc.hadoopConfiguration()
        return path.getFileSystem(conf), jvm.org.apache.hadoop.fs.Path

    @staticmethod
    def _checkpoint_path(df: DataFrame) -> str | None:
        """The EXACT rdd-<id> directory holding df's checkpoint files,
        read off the LogicalRDD that the eager checkpoint() returned
        (its internal RDD's getCheckpointFile). Never inferred from a
        before/after listing of the shared checkpoint_dir — any other
        checkpoint activity in the same SparkContext during that
        window (a second RoundCheckpointer, a concurrent query
        thread, a plain df.checkpoint()) would be mis-attributed to
        this slot and deleted while still live (ADVICE r8)."""
        try:
            opt = df._jdf.queryExecution().analyzed().rdd().getCheckpointFile()
            return opt.get() if opt.isDefined() else None
        except Exception:
            return None

    def _delete(self, paths: set[str]) -> None:
        if not paths:
            return
        fs, Path = self._fs()
        for p in paths:
            fs.delete(Path(p), True)

    def __call__(self, df: DataFrame, slot: str = "state") -> DataFrame:
        if not self.reliable:
            out = df.localCheckpoint()  # eager
            prev = self._frames.get(slot)
            if prev is not None:
                prev.unpersist()
            self._frames[slot] = out
            return out
        out = df.checkpoint()  # eager: fully materialized on return
        path = self._checkpoint_path(out)
        if path is None:
            # Can't attribute files (internals changed / checkpoint
            # skipped): keep the slot's prior files on disk rather
            # than risk deleting something `out` still reads. Leaks
            # one round, never corrupts.
            return out
        self._delete(self._files.get(slot, set()))
        self._files[slot] = {path}
        return out

    def release(self, slot: str) -> None:
        """Free a slot's blocks/files. Only call once nothing will
        read the slot's LAST frame again."""
        if self.reliable:
            self._delete(self._files.pop(slot, set()))
        else:
            prev = self._frames.pop(slot, None)
            if prev is not None:
                prev.unpersist()


def literal_barrier(df: DataFrame) -> DataFrame:
    """Eager materialization barrier for frames whose projection embeds
    LARGE LITERAL EXPRESSION TREES (public-randomness JL projections,
    hashed-gram lambda chains, wide CASE banks).

    Why a named helper: two independent fixes were the same move, so
    the move exists once —

      * similarity_ndcg_eval checkpointed the JL-projected corpus so
        Catalyst stops re-analyzing (and codegen stops re-compiling)
        the 1024-node projection tree on BOTH sides of the q×c join
        (9.6 s → 7.8 s cold, 4.9 s → 3.2 s warm at sf0.1);
      * train_dsir_importance checkpointed the tokenized and hashed
        gram frames so CollapseProject can't inline split(text) into
        the slice/zip_with lambdas and re-split per gram
        (2.3 s → 0.6 s on the sf0.1 gram build).

    The mechanism is Spark's CollapseProject + per-consumer
    re-analysis: a merely-projected frame is INLINED into every
    consumer, so an expensive literal tree is analyzed, optimized and
    whole-stage-codegen-compiled once PER CONSUMER (and doubled again
    by self-joins). An eager localCheckpoint truncates the lineage at
    the computed columns, making downstream plans reference plain
    attributes.

    Use ONLY when the frame is small enough to pin to executor-local
    storage (probe sets, per-doc int columns, projected corpora at
    eval scale) — this is a plan-compilation fix, not a caching
    strategy. For iterative state, use RoundCheckpointer (GC); for
    100-TB-reliable persistence, use checkpoint_dir."""
    return df.localCheckpoint(eager=True)
