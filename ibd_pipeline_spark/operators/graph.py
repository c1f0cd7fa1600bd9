"""Iterative graph operators the dedup pipeline needs — currently
connected components, used to resolve near-duplicate candidate PAIRS
into transitive duplicate CLUSTERS (a~b and b~c must land a, b, c in
one cluster even when a~c was never emitted as a candidate).

North-star surface (SURVEY.md §2.2 dedup row): pair generation
(MinHash/SimHash/Jaccard, operators.dedup) finds edges; this module
finds the clusters. Not SQL-expressible in one query — it is a
fixpoint iteration — so the registry entry carries a DuckDB
*recursive-CTE* oracle instead of plain ANSI SQL.

Algorithm: minimum-label propagation. Every vertex starts labeled
with its own id; each round replaces a vertex's label with the min of
its own and its neighbors' labels; converged when no label changes.
Rounds needed = graph diameter, and near-dup clusters are
shallow (copies of a common ancestor — diameters of 2-4), so this
beats the O(log²n)-round large-star/small-star alternation in
practice while using only groupBy/join primitives. Each round is one
shuffle-join plus one aggregation; lineage is truncated per round
so the plan doesn't grow with the iteration count (the classic
iterative-DataFrame failure mode at scale).

Fault tolerance: by default rounds truncate lineage with
localCheckpoint() — executor-memory/disk resident, fastest, but a
lost executor mid-iteration fails the job. For long-running 100 TB
runs pass `checkpoint_dir`: rounds then use reliable checkpoint()
against that directory (HDFS/object store) and survive executor loss
at the cost of a write per round.
"""

from __future__ import annotations

import warnings

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


class ConvergenceWarning(UserWarning):
    """Raised (as a warning) when an iterative operator exhausts
    max_iter without reaching its fixpoint."""


def _checkpointer(df: DataFrame, checkpoint_dir: "str | None"):
    """One RoundCheckpointer per operator invocation: truncates
    lineage per round AND deletes the superseded round's checkpoint
    files/blocks (see operators/ckpt.py — Spark never deletes
    reliable rdd-* directories on its own)."""
    from ibd_pipeline_spark.operators.ckpt import RoundCheckpointer

    return RoundCheckpointer(df.sparkSession, checkpoint_dir)


def _driver_rows(df: DataFrame, max_rows: int) -> "list | None":
    """The rows of `df` when there are at most `max_rows` of them,
    else None — the size probe of the driver solves below, one job
    that reads at most max_rows + 1 rows."""
    rows = df.limit(max_rows + 1).collect()
    return rows if len(rows) <= max_rows else None


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    checkpoint_dir: str | None = None,
    strict: bool = False,
) -> DataFrame:
    """Resolve undirected `edges` into components.

    Returns (vertex, component) for every vertex appearing in an
    edge; component = the minimum vertex id reachable from it.
    Deterministic (min is order-independent). Vertices with no edges
    simply don't appear — callers union isolated vertices back with
    component = own id (see dedup_cluster_components).

    checkpoint_dir: when set, per-round lineage truncation uses
    reliable checkpoint() into this directory (survives executor
    loss; required posture for 100 TB runs). Default localCheckpoint
    is the single-node/test fast path. Superseded rounds are GC'd
    either way (operators/ckpt.py): blocks unpersisted in local
    mode, rdd-* directories deleted in reliable mode — at most the
    live round's files remain on disk (asserted in
    tests/test_graph.py).

    If the label sum has not stabilized after max_iter rounds the
    result is NOT a fixpoint (components of diameter > max_iter would
    be split): a ConvergenceWarning is emitted, or ValueError raised
    when strict=True.
    """
    ckpt = _checkpointer(edges, checkpoint_dir)
    sym = ckpt(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct(),
        "sym",
    )
    # Empty edge set → empty result, exactly what the fixpoint would
    # produce after max_iter no-op rounds. Probed on the CHECKPOINTED
    # frame (a limit-1 read of materialized blocks — free), never on
    # the caller's lazy lineage, so the non-empty case pays nothing.
    # Real case: a near-dup pair graph at a high threshold
    # legitimately comes up empty.
    if sym.isEmpty():
        ckpt.release("sym")
        return edges.sparkSession.createDataFrame(
            [], f"vertex {edges.schema[src].dataType.simpleString()}, "
                f"component {edges.schema[src].dataType.simpleString()}"
        )
    labels = ckpt(
        sym.select(F.col("a").alias("vertex"))
        .distinct()
        .select("vertex", F.col("vertex").alias("component")),
        "labels",
    )
    prev_sum = None
    converged = False
    try:
        for _ in range(max_iter):
            nbr_min = (
                sym.join(labels, sym.b == labels.vertex)
                .groupBy("a")
                .agg(F.min("component").alias("nbr_component"))
            )
            new_labels = ckpt(
                labels.join(nbr_min, labels.vertex == nbr_min.a, "left").select(
                    "vertex",
                    F.least(
                        F.col("component"),
                        F.coalesce("nbr_component", F.col("component")),
                    ).alias("component"),
                ),
                "labels",
            )
            # Convergence check without a join: labels are monotone
            # non-increasing, so the exact integer sum is a fixpoint
            # witness — unchanged sum ⟺ no label changed. One
            # reduce over the label table per round instead of a
            # self-join + count.
            new_sum = new_labels.agg(
                F.sum(F.col("component").cast("decimal(38,0)"))
            ).first()[0]
            labels = new_labels  # previous round GC'd by ckpt above
            if new_sum == prev_sum:
                converged = True
                break
            prev_sum = new_sum
    finally:
        ckpt.release("sym")
    if not converged:
        msg = (
            f"connected_components hit max_iter={max_iter} before the "
            "label sum stabilized — components wider than max_iter hops "
            "are split; raise max_iter"
        )
        if strict:
            raise ValueError(msg)
        warnings.warn(msg, ConvergenceWarning, stacklevel=2)
    # The final labels stay checkpointed: they ARE the result (one
    # small (vertex, component) table); every intermediate round's
    # blocks were released above.
    return labels


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 10,
    damping: float = 0.85,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """PageRank over an undirected graph (each edge contributes both
    directions), all-DataFrame: per iteration, every vertex splits its
    rank over its neighbors (contribution join), contributions
    hash-aggregate per target, and the damping rebase closes the
    round. Fixed `iters` rounds — power iteration converges
    geometrically at rate `damping`, so 10 rounds ≈ rank movements
    below 0.2 of starting mass.

    Scale: the per-round cost is one join of the rank vector against
    the edge list (both partitioned on vertex id — Catalyst reuses
    the exchange) plus one hash-aggregate; rank state is 2 columns ×
    |V|, never driver-side. Per-round lineage truncation follows the
    connected_components contract: reliable checkpoint() with
    `checkpoint_dir` (100 TB posture), localCheckpoint otherwise.

    Returns (vertex, rank) with Σ rank = |V| (the random-surfer mass
    conservation — asserted in tests).
    """
    if iters < 1:
        # iters=0 would return a frame whose lineage still reads
        # slots released below (files deleted / blocks unpersisted)
        # and fail on first action — reject up front (ADVICE r8).
        raise ValueError(f"iters must be >= 1, got {iters}")

    ckpt = _checkpointer(edges, checkpoint_dir)
    # Materialize the loop-invariant state ONCE: every checkpoint job
    # re-executes the rank frame's whole un-truncated lineage, so if
    # und/degrees stay lazy they are recomputed inside every round's
    # job. (Measured on local[8]: this + the cadence below takes a
    # 6-round run from 5.7 s to 3.6 s of pure scheduler cost.)
    und = ckpt(
        edges.selectExpr(f"{src} AS u", f"{dst} AS v")
        .unionByName(edges.selectExpr(f"{dst} AS u", f"{src} AS v"))
        .distinct(),
        "und",
    )
    # Empty edge set → empty rank vector (the vertex set derives from
    # the edges); probed on the checkpointed frame — free for the
    # non-empty case — and skips the whole iteration when it fires.
    if und.isEmpty():
        ckpt.release("und")
        return edges.sparkSession.createDataFrame(
            [], f"vertex {edges.schema[src].dataType.simpleString()}, rank double"
        )
    degrees = ckpt(
        und.groupBy("u").agg(F.count(F.lit(1)).alias("deg")), "degrees"
    )
    vertices = degrees.select("u")

    ranks = degrees.select("u", F.lit(1.0).alias("rank"))
    for i in range(iters):
        contrib = (
            und.join(ranks.join(degrees, "u"), "u")
            .select(F.col("v").alias("u"), (F.col("rank") / F.col("deg")).alias("c"))
            .groupBy("u")
            .agg(F.sum("c").alias("inflow"))
        )
        ranks = (
            vertices.join(contrib, "u", "left")
            .select(
                "u",
                (
                    F.lit(1.0 - damping)
                    + F.lit(damping) * F.coalesce("inflow", F.lit(0.0))
                ).alias("rank"),
            )
        )
        # Truncate lineage every 2nd round (and on the last). AQE
        # splits each shuffle of the un-truncated plan into its own
        # job, so checkpoint cost grows superlinearly with lineage
        # depth: every-3 was MEASURED slower than every-1 on a tiny
        # graph (5.7 s vs 3.8 s for 6 rounds); every-2 balances the
        # per-checkpoint job count against rounds-per-checkpoint
        # (3.6 s) and at cluster scale halves the materialized-state
        # writes of every-1.
        if (i + 1) % 2 == 0 or i == iters - 1:
            ranks = ckpt(ranks, "ranks")
    ckpt.release("und")
    ckpt.release("degrees")
    return ranks.select(F.col("u").alias("vertex"), "rank")


def label_propagation(
    edges: DataFrame,
    seeds: DataFrame,
    src: str = "src",
    dst: str = "dst",
    vertex: str = "vertex",
    label: str = "label",
    max_iter: int = 5,
    checkpoint_dir: str | None = None,
    max_driver_edges: int = 65536,
) -> DataFrame:
    """Semi-supervised label propagation over undirected `edges`:
    seed vertices keep their label forever; every other vertex takes,
    each round, the most common label among its labeled neighbors
    (ties broken by lexicographically smallest label — deterministic,
    partition-invariant). Unreached vertices stay NULL.

    Same iterative contract as connected_components/pagerank: per
    round one join of the (vertex, label) state against the
    symmetrized edge list + one count aggregate + one argmax via
    MIN(struct(-cnt, label)); lineage truncated every 2nd round and
    on the last (pagerank's measured optimum — reliable checkpoint
    when `checkpoint_dir` is set, localCheckpoint in tests). At each
    truncation a fixpoint witness — the exact integer sum of
    xxhash64(vertex, label) over the state — is compared against the
    previous truncation's; an unchanged sum means (up to a ~2^-64
    hash-sum collision) no label changed in the last two rounds, and
    the loop exits early. State is one row per vertex; the
    corpus-sized edge relation is never mutated, so each round's
    shuffle is O(|edges|) partials combining down to O(|vertices|).

    Returns (vertex, label, is_seed) for every vertex in the edge
    set (plus seed vertices even if isolated).
    """
    if max_iter < 1:
        # iters=0 would return a frame whose lineage still reads
        # slots released below (files deleted / blocks unpersisted)
        # and fail on first action — reject up front (ADVICE r8).
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")

    # DRIVER SOLVE (for graphs up to max_driver_edges — the
    # markov_stationary / absorption_probability doctrine verbatim):
    # when the edge list AND the seed list fit under max_driver_edges,
    # the voting rounds run as plain Python over the collected pairs —
    # the distributed work is the caller's edge construction (for the
    # near-dup queries, the full MinHash band join), while each voting
    # round on a bounded graph cost ~0.4 s of pure job scheduling for
    # microseconds of arithmetic. Semantics are replicated exactly:
    # symmetrized-distinct edges, seeds keep their label, non-seeds
    # take the most common labeled-neighbor label with ties to the
    # lexicographically smallest (Python str comparison == Spark
    # UTF8String order — UTF-8 byte order is code-point order), and
    # the loop exits early on an unchanged state, which can only skip
    # no-op rounds. Above max_driver_edges the distributed loop below
    # runs.
    erows = _driver_rows(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b")),
        max_driver_edges,
    )
    if erows is not None:
        srows = _driver_rows(
            seeds.select(F.col(vertex).alias("v"), F.col(label).alias("lbl")),
            max_driver_edges,
        )
        if srows is not None:
            sym_set: set = set()
            for r in erows:
                sym_set.add((r["a"], r["b"]))
                sym_set.add((r["b"], r["a"]))
            adj: dict = {}
            for a_, b_ in sorted(
                sym_set, key=lambda t: (str(t[0]), str(t[1]))
            ):
                adj.setdefault(a_, []).append(b_)
            seed_lbl = {
                r["v"]: r["lbl"]
                for r in sorted(srows, key=lambda r: str(r["v"]))
            }
            lbl = {v: seed_lbl.get(v) for v in adj}
            lbl.update(
                {v: l for v, l in seed_lbl.items() if v not in adj}
            )
            is_seed = {v: v in seed_lbl for v in lbl}
            # Early exit replicates the distributed loop's
            # fingerprint gate EXACTLY: the state is compared at
            # every 2nd round (and the last) against the previous
            # comparison point, so a period-2 oscillation exits at
            # the same round with the same labels the DataFrame
            # loop (and the unrolled oracle) produce — comparing
            # every round would converge to the OTHER phase.
            prev_check = None
            for i in range(max_iter):
                new = {}
                for v in lbl:
                    if is_seed[v]:
                        new[v] = lbl[v]
                        continue
                    cnt: dict = {}
                    for b_ in adj.get(v, ()):
                        nl = lbl.get(b_)
                        if nl is not None:
                            cnt[nl] = cnt.get(nl, 0) + 1
                    if cnt:
                        new[v] = min(
                            cnt, key=lambda l: (-cnt[l], l)
                        )
                    else:
                        new[v] = lbl[v]
                lbl = new
                if (i + 1) % 2 == 0 or i == max_iter - 1:
                    if lbl == prev_check:
                        break
                    prev_check = lbl
            from pyspark.sql.types import (
                BooleanType,
                StructField,
                StructType,
            )

            schema = StructType(
                [
                    StructField(
                        vertex, edges.schema[src].dataType, True
                    ),
                    StructField(
                        label, seeds.schema[label].dataType, True
                    ),
                    StructField("is_seed", BooleanType(), False),
                ]
            )
            return edges.sparkSession.createDataFrame(
                [
                    (v, lbl[v], is_seed[v])
                    for v in sorted(lbl, key=str)
                ],
                schema,
            )
    # fall through to the distributed loop

    ckpt = _checkpointer(edges, checkpoint_dir)
    # Materialize the loop-invariant symmetrized edge list ONCE.
    # Without this every round's job re-executes the caller's whole
    # edge lineage (for the near-dup queries that is the full
    # MinHash band join + jaccard verify) — the pagerank und/degrees
    # lesson applied here.
    sym = ckpt(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionAll(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct(),
        "sym",
    )
    verts = sym.select(F.col("a").alias("v")).distinct()
    seed_state = seeds.select(
        F.col(vertex).alias("v"), F.col(label).alias("lbl"), F.lit(True).alias("is_seed")
    )
    state = (
        verts.join(seed_state, "v", "left")
        .select("v", "lbl", F.coalesce("is_seed", F.lit(False)).alias("is_seed"))
        .unionByName(
            seed_state.join(verts, "v", "left_anti").select(
                "v", "lbl", F.lit(True).alias("is_seed")
            )
        )
    )
    prev_fp = None
    for i in range(max_iter):
        votes = (
            sym.join(
                state.filter(F.col("lbl").isNotNull()).select(
                    F.col("v").alias("b"), F.col("lbl").alias("nl")
                ),
                "b",
            )
            .groupBy(F.col("a").alias("v"), F.col("nl"))
            .agg(F.count(F.lit(1)).alias("cnt"))
            .groupBy("v")
            .agg(
                F.min(F.struct((-F.col("cnt")).alias("neg"), F.col("nl").alias("l")))[
                    "l"
                ].alias("new_lbl")
            )
        )
        state = (
            state.join(votes, "v", "left")
            .select(
                "v",
                F.when(F.col("is_seed"), F.col("lbl"))
                .otherwise(F.coalesce("new_lbl", "lbl"))
                .alias("lbl"),
                "is_seed",
            )
        )
        # Truncate every 2nd round and on the last (pagerank's measured
        # cadence — see pagerank() for the every-1/2/3 timings); at each
        # truncation check the hash-sum fixpoint witness and exit early.
        if (i + 1) % 2 == 0 or i == max_iter - 1:
            state = ckpt(state, "state")
            fp = state.agg(
                F.sum(
                    F.xxhash64("v", F.coalesce("lbl", F.lit("\x00∅"))).cast(
                        "decimal(38,0)"
                    )
                )
            ).first()[0]
            if fp == prev_fp:
                break
            prev_fp = fp
    ckpt.release("sym")
    return state.select(
        F.col("v").alias(vertex), F.col("lbl").alias(label), "is_seed"
    )


def _chain_rows(
    transitions: DataFrame,
    src: str,
    dst: str,
    prob: str,
    iters: int,
    max_driver_edges: int,
) -> "list | None":
    """The shared prelude of the Markov-chain solvers: reject iters < 1
    (iters=0 would return a frame whose lineage still reads
    checkpoint slots the loop releases — files deleted, blocks
    unpersisted — and fail on its first action), then probe for the
    (s, d, w) transition triples the driver solve needs: all of them
    when at most max_driver_edges, else None."""
    if iters < 1:
        raise ValueError(f"iters must be >= 1, got {iters}")
    return _driver_rows(
        transitions.select(
            F.col(src).alias("s"),
            F.col(dst).alias("d"),
            F.col(prob).cast("double").alias("w"),
        ),
        max_driver_edges,
    )


def markov_stationary(
    transitions: DataFrame,
    src: str = "src",
    dst: str = "dst",
    prob: str = "p",
    iters: int = 16,
    checkpoint_dir: str | None = None,
    max_driver_edges: int = 65536,
) -> DataFrame:
    """Stationary distribution of a (row-stochastic) Markov chain by
    power iteration: π ← πP until fixpoint, all-DataFrame. The state
    is one row per chain state; each round is one join of state
    against the transition triples + one sum aggregate on the
    destination — the pagerank recurrence without damping (pagerank
    IS this chain with teleportation; kept separate because the
    transition weights here come from data, not link structure).

    Start vector is uniform over the states appearing as sources.
    States P doesn't reach keep probability 0; for a reducible chain
    the result depends on reachability, as mathematically expected —
    callers wanting ergodicity add damping (use pagerank). Absorbing
    states (appearing only as destinations, no outgoing row) hold
    their mass — an implicit self-loop — so Σp is conserved even for
    sub-stochastic inputs rather than silently decaying.

    Lineage is truncated every 2nd round and on the last (pagerank's
    measured cadence); at each truncation the L∞ delta between the
    current and previous truncated π is checked with one tiny
    state-space-sized join, and the loop exits once it drops below
    1e-12 (power iteration has converged to double precision).

    Returns (state, p) — p sums to 1 whenever each SOURCE state's
    outgoing weights sum to 1 (conservation is property-tested).
    """
    # DRIVER SOLVE for chains up to max_driver_edges — same contract
    # and rationale as absorption_probability: the chain is
    # model-state-sized, the distributed work is the caller's
    # transition-count aggregation, and the per-round DataFrame
    # join+checkpoint loop is pure scheduling overhead at this size.
    rows = _chain_rows(transitions, src, dst, prob, iters, max_driver_edges)
    if rows is not None:
        edges = sorted(
            ((r["s"], r["d"], r["w"]) for r in rows),
            key=lambda e: (str(e[1]), str(e[0])),
        )
        src_set = sorted({s for s, _, _ in edges})
        srcs = set(src_set)
        n = len(src_set)
        pi = {s: 1.0 / n for s in src_set}
        prev_pi = None
        for i in range(iters):
            out: dict = {}
            for s, d, w in edges:
                if s in pi:
                    out[d] = out.get(d, 0.0) + pi[s] * w
            for st in sorted(pi):
                if st not in srcs:
                    out[st] = out.get(st, 0.0) + pi[st]
            pi = out
            if (i + 1) % 2 == 0 or i == iters - 1:
                if prev_pi is not None:
                    keys = set(pi) | set(prev_pi)
                    delta = max(
                        abs(pi.get(k, 0.0) - prev_pi.get(k, 0.0))
                        for k in keys
                    )
                    if delta < 1e-12:
                        break
                prev_pi = dict(pi)
        from pyspark.sql.types import DoubleType, StructField, StructType

        schema = StructType(
            [
                StructField(
                    "state",
                    transitions.schema[src].dataType,
                    True,
                ),
                StructField("p", DoubleType(), True),
            ]
        )
        return transitions.sparkSession.createDataFrame(
            sorted(
                ((k, float(v)) for k, v in pi.items()),
                key=lambda kv: str(kv[0]),
            ),
            schema,
        )
    # fall through to the distributed loop

    ckpt = _checkpointer(transitions, checkpoint_dir)
    # Materialize the loop-invariant transition triples ONCE — every
    # round joins against them, and without truncation each round's
    # job re-executes the caller's upstream aggregation.
    t = ckpt(
        transitions.select(
            F.col(src).alias("s"), F.col(dst).alias("d"), F.col(prob).alias("w")
        ),
        "t",
    )
    sources = ckpt(t.select("s").distinct(), "sources")
    states = sources.select(F.col("s").alias("state"))
    # uniform start without a driver action: 1/n from a window count
    # over the (tiny, state-space-sized) state frame
    from pyspark.sql import Window

    pi = states.select(
        "state",
        (F.lit(1.0) / F.count(F.lit(1)).over(Window.partitionBy())).alias("p"),
    )
    prev = None
    for i in range(iters):
        flow = (
            t.join(pi.withColumnRenamed("state", "s"), "s")
            .groupBy(F.col("d").alias("state"))
            .agg(F.sum(F.col("p") * F.col("w")).alias("p"))
        )
        # Absorbing states (no outgoing transitions) would vanish from
        # the inner join above, silently leaking Σp: self-loop their
        # mass back in instead.
        held = pi.join(sources, pi.state == sources.s, "left_anti")
        pi = (
            flow.unionByName(held.select("state", "p"))
            .groupBy("state")
            .agg(F.sum("p").alias("p"))
        )
        if (i + 1) % 2 == 0 or i == iters - 1:
            # Alternating slots: the L∞ delta below still READS the
            # previous truncated π, so its files must survive one
            # extra truncation — each slot's GC only ever deletes the
            # round before last.
            pi = ckpt(pi, f"pi{(i // 2) % 2}")
            if prev is not None:
                delta = (
                    pi.join(
                        prev.select(
                            F.col("state"), F.col("p").alias("p_prev")
                        ),
                        "state",
                        "full",
                    )
                    .agg(
                        F.max(
                            F.abs(
                                F.coalesce("p", F.lit(0.0))
                                - F.coalesce("p_prev", F.lit(0.0))
                            )
                        )
                    )
                    .first()[0]
                )
                if delta is not None and delta < 1e-12:
                    break
            prev = pi
    ckpt.release("t")
    ckpt.release("sources")
    return pi


def absorption_probability(
    transitions: DataFrame,
    targets: DataFrame,
    src: str = "src",
    dst: str = "dst",
    prob: str = "p",
    iters: int = 16,
    checkpoint_dir: str | None = None,
    max_driver_edges: int = 65536,
) -> DataFrame:
    """Absorption probability of a Markov chain: for every TRANSIENT
    state s (one with outgoing transitions), the probability that a
    walk from s eventually reaches one of the `targets` (absorbing
    states, single column ``state``), computed by value iteration
    a ← P·a with a(target) ≡ 1 and a(non-target sink) ≡ 0 — the
    fundamental-matrix quantity (I−Q)⁻¹·R·1 without materializing a
    matrix inverse. The engine behind Markov attribution (removal
    effects), funnel completion odds, and absorbing-chain reach.

    Per round: one join of the transient a-vector against the
    transition triples + one sum aggregate — state-space-sized frames
    only (the corpus-scale work is the caller's transition-count
    aggregation). Same RoundCheckpointer lineage contract as
    markov_stationary; value iteration contracts geometrically at the
    per-step absorption rate, so fixed `iters` rounds land within
    double noise of the fixpoint for any chain that absorbs at all.

    Returns (state, a) over transient states PLUS the targets with
    a = 1.0. A target that ALSO appears as a transition source is
    absorbing by definition — it is anti-joined out of the transient
    vector so it emits exactly ONE row (a = 1.0), not a second
    'transient' row computed from its outgoing edges (ADVICE r9).

    DRIVER SOLVE (for chains up to max_driver_edges): the chain is
    model-state-sized BY CONSTRUCTION — states are channels/funnel
    steps, never data — so when the edge list fits under
    `max_driver_edges` the 16-round fixpoint runs as plain Python on
    the collected triples (the k-means driver-update precedent:
    distributed work = the caller's corpus-scale transition counts;
    the solve is model state). Measured: the per-round
    join+aggregate+checkpoint DataFrame loop cost ~8 s of pure job
    scheduling for a 30-state chain whose arithmetic takes
    microseconds. Per-state sums run in sorted (src, dst) order —
    deterministic; double noise is ~1e-16 against outputs rounded at
    6. Above max_driver_edges the distributed loop runs."""
    rows = _chain_rows(transitions, src, dst, prob, iters, max_driver_edges)
    if rows is not None:
        tgt_set = {r["state"] for r in targets.collect()}
        edges: dict[str, list] = {}
        for r in sorted(rows, key=lambda r: (str(r["s"]), str(r["d"]))):
            edges.setdefault(r["s"], []).append((r["d"], r["w"]))
        states = sorted(edges)
        a = {s: 0.0 for s in states}
        for _ in range(iters):
            a = {
                s: sum(
                    w * (1.0 if d in tgt_set else a.get(d, 0.0))
                    for d, w in edges[s]
                )
                for s in states
            }
        out_rows = [
            (s, float(a[s])) for s in states if s not in tgt_set
        ] + [(t, 1.0) for t in sorted(tgt_set, key=str)]
        from pyspark.sql.types import DoubleType, StructField, StructType

        schema = StructType(
            [
                StructField(
                    "state", transitions.schema[src].dataType, True
                ),
                StructField("a", DoubleType(), True),
            ]
        )
        return transitions.sparkSession.createDataFrame(
            out_rows, schema
        )
    # fall through to the distributed loop

    ckpt = _checkpointer(transitions, checkpoint_dir)
    t = ckpt(
        transitions.select(
            F.col(src).alias("s"), F.col(dst).alias("d"), F.col(prob).alias("w")
        ),
        "t",
    )
    tgt = ckpt(targets.select(F.col("state").alias("tgt")), "tgt")
    a = t.select(F.col("s").alias("state")).distinct().withColumn(
        "a", F.lit(0.0)
    )
    for i in range(iters):
        looked = (
            t.join(tgt, t.d == tgt.tgt, "left")
            .join(
                a.select(F.col("state").alias("d2"), F.col("a").alias("ad")),
                F.col("d") == F.col("d2"),
                "left",
            )
            .select(
                "s",
                "w",
                F.when(F.col("tgt").isNotNull(), F.lit(1.0))
                .otherwise(F.coalesce("ad", F.lit(0.0)))
                .alias("aval"),
            )
        )
        a = looked.groupBy(F.col("s").alias("state")).agg(
            F.sum(F.col("w") * F.col("aval")).alias("a")
        )
        if (i + 1) % 2 == 0 or i == iters - 1:
            a = ckpt(a, f"a{(i // 2) % 2}")
    out = a.join(tgt, a.state == tgt.tgt, "left_anti").unionByName(
        tgt.select(F.col("tgt").alias("state"), F.lit(1.0).alias("a"))
    )
    final = out.localCheckpoint(eager=True)
    ckpt.release("t")
    ckpt.release("tgt")
    ckpt.release("a0")
    ckpt.release("a1")
    return final
