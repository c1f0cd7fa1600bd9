"""Connected-components operator: known-graph and invariant tests."""

import pyspark.sql.functions as F
import pytest

from ibd_pipeline_spark.operators.graph import connected_components


def test_cc_known_graph(spark):
    # Components: {1,2,3,4} (chain), {10,11}, {20,21,22} (triangle).
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        ["src", "dst"],
    )
    got = {
        r.vertex: r.component for r in connected_components(edges).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_cc_chain_diameter_beyond_one_round(spark):
    # A 12-vertex chain needs multiple propagation rounds; the label
    # must still collapse to the global minimum.
    n = 12
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], ["src", "dst"]
    )
    comps = connected_components(edges).collect()
    assert {r.component for r in comps} == {0}
    assert len(comps) == n + 1


def test_cc_direction_invariance(spark):
    # Undirected semantics: reversing every edge changes nothing.
    fwd = spark.createDataFrame([(5, 1), (2, 5), (7, 8)], ["src", "dst"])
    rev = fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    a = {(r.vertex, r.component) for r in connected_components(fwd).collect()}
    b = {(r.vertex, r.component) for r in connected_components(rev).collect()}
    assert a == b == {(1, 1), (2, 1), (5, 1), (7, 7), (8, 7)}


def test_cc_reliable_checkpoint_path(spark, tmp_path):
    """checkpoint_dir switches per-round truncation to reliable
    checkpoint(); results identical to the localCheckpoint default."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        ["src", "dst"],
    )
    got = {
        r.vertex: r.component
        for r in connected_components(
            edges, checkpoint_dir=str(tmp_path / "cc_ckpt")
        ).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}
    import os
    assert os.listdir(tmp_path / "cc_ckpt")  # checkpoint blocks were written


def test_cc_max_iter_exhaustion_warns_and_strict_raises(spark):
    import pytest
    from ibd_pipeline_spark.operators.graph import ConvergenceWarning

    n = 12  # diameter 12 chain cannot converge in 2 rounds
    edges = spark.createDataFrame([(i, i + 1) for i in range(n)], ["src", "dst"])
    with pytest.warns(ConvergenceWarning):
        connected_components(edges, max_iter=2).collect()
    with pytest.raises(ValueError, match="max_iter"):
        connected_components(edges, max_iter=2, strict=True)


def test_pagerank_mass_conservation_and_centrality(spark):
    """Σ rank == |V| (mass conservation) and the hub of a star graph
    outranks every leaf; deterministic across input partitioning."""
    import pyspark.sql.functions as F

    from ibd_pipeline_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(0, i) for i in range(1, 8)] + [(8, 9)], "src long, dst long"
    )
    r = pagerank(edges, iters=12)
    rows = {row["vertex"]: row["rank"] for row in r.collect()}
    assert abs(sum(rows.values()) - len(rows)) < 1e-6
    hub = rows[0]
    assert all(hub > rows[i] for i in range(1, 8))
    # partitioning invariance (ranks are join+agg over the same graph)
    r2 = {row["vertex"]: row["rank"] for row in pagerank(edges.repartition(5), iters=12).collect()}
    assert all(abs(rows[k] - r2[k]) < 1e-9 for k in rows)


def test_pagerank_reliable_checkpoint_branch(spark, tmp_path):
    from ibd_pipeline_spark.operators.graph import pagerank

    edges = spark.createDataFrame([(0, 1), (1, 2)], "src long, dst long")
    r = pagerank(edges, iters=3, checkpoint_dir=str(tmp_path / "ck"))
    assert r.count() == 3


def test_label_propagation_two_cliques(spark):
    """Disjoint cliques with one seed each: every member inherits its
    clique's seed label; seeds never change; a vertex in neither
    clique and with no labeled path stays NULL."""
    from ibd_pipeline_spark.operators.graph import label_propagation

    edges = spark.createDataFrame(
        # clique A: 1-2-3 (path), clique B: 10-11-12, isolated pair 20-21
        [(1, 2), (2, 3), (10, 11), (11, 12), (20, 21)],
        "src bigint, dst bigint",
    )
    seeds = spark.createDataFrame(
        [(1, "alpha"), (10, "beta")], "vertex bigint, label string"
    )
    out = {r["vertex"]: (r["label"], r["is_seed"])
           for r in label_propagation(edges, seeds, max_iter=4).collect()}
    assert out[1] == ("alpha", True) and out[10] == ("beta", True)
    assert out[2][0] == "alpha" and out[3][0] == "alpha"
    assert out[11][0] == "beta" and out[12][0] == "beta"
    assert out[20][0] is None and out[21][0] is None
    assert len(out) == 8


def test_label_propagation_tie_breaks_lexicographically(spark):
    from ibd_pipeline_spark.operators.graph import label_propagation

    # vertex 5 has two labeled neighbors with equal vote counts
    edges = spark.createDataFrame([(1, 5), (2, 5)], "src bigint, dst bigint")
    seeds = spark.createDataFrame(
        [(1, "zed"), (2, "ant")], "vertex bigint, label string"
    )
    out = {r["vertex"]: r["label"]
           for r in label_propagation(edges, seeds, max_iter=2).collect()}
    assert out[5] == "ant"


def test_label_propagation_seed_overrides_neighbors(spark):
    """A seed surrounded by differently-labeled neighbors keeps its
    own label (seeds are clamped, the semi-supervised contract)."""
    from ibd_pipeline_spark.operators.graph import label_propagation

    edges = spark.createDataFrame(
        [(1, 9), (2, 9), (3, 9)], "src bigint, dst bigint"
    )
    seeds = spark.createDataFrame(
        [(1, "x"), (2, "x"), (3, "x"), (9, "y")], "vertex bigint, label string"
    )
    out = {r["vertex"]: r["label"]
           for r in label_propagation(edges, seeds, max_iter=3).collect()}
    assert out[9] == "y"


def test_markov_stationary_two_state_exact(spark):
    """P = [[0.9, 0.1], [0.5, 0.5]] has stationary π = (5/6, 1/6)."""
    from ibd_pipeline_spark.operators.graph import markov_stationary

    t = spark.createDataFrame(
        [("a", "a", 0.9), ("a", "b", 0.1), ("b", "a", 0.5), ("b", "b", 0.5)],
        "src string, dst string, p double",
    )
    pi = {r["state"]: r["p"] for r in markov_stationary(t, iters=40).collect()}
    assert abs(pi["a"] - 5 / 6) < 1e-7 and abs(pi["b"] - 1 / 6) < 1e-9
    assert abs(sum(pi.values()) - 1.0) < 1e-12


def test_markov_stationary_conserves_and_fixes(spark):
    """Row-stochastic chain: Σπ = 1 and π is a fixpoint (πP ≈ π)."""
    from ibd_pipeline_spark.operators.graph import markov_stationary

    rows = [
        ("v", "v", 0.2), ("v", "c", 0.5), ("v", "p", 0.3),
        ("c", "v", 0.6), ("c", "p", 0.4),
        ("p", "v", 1.0),
    ]
    t = spark.createDataFrame(rows, "src string, dst string, p double")
    pi = {r["state"]: r["p"] for r in markov_stationary(t, iters=60).collect()}
    assert abs(sum(pi.values()) - 1.0) < 1e-12
    P = {}
    for s, d, p in rows:
        P.setdefault(s, {})[d] = p
    for d in pi:
        nxt = sum(pi[s] * P[s].get(d, 0.0) for s in pi)
        assert abs(nxt - pi[d]) < 1e-9, (d, nxt, pi[d])


def test_markov_stationary_absorbing_state_holds_mass(spark):
    """A state with no outgoing transitions self-loops its mass
    instead of leaking it (the r05 ADVICE defect: the inner join on
    source dropped absorbing states, so Σπ decayed). Chain a→b→sink:
    all mass ends in the sink and Σπ stays exactly 1."""
    from ibd_pipeline_spark.operators.graph import markov_stationary

    t = spark.createDataFrame(
        [("a", "b", 1.0), ("b", "sink", 1.0)],
        "src string, dst string, p double",
    )
    pi = {r["state"]: r["p"] for r in markov_stationary(t, iters=30).collect()}
    assert abs(sum(pi.values()) - 1.0) < 1e-12
    assert abs(pi["sink"] - 1.0) < 1e-12


def test_markov_stationary_early_exit_matches_long_run(spark):
    """The L-infinity early-exit leaves the converged values identical
    to a much longer fixed-iteration run (the exit only fires at
    double-precision fixpoint)."""
    from ibd_pipeline_spark.operators.graph import markov_stationary

    t = spark.createDataFrame(
        [("a", "a", 0.9), ("a", "b", 0.1), ("b", "a", 0.5), ("b", "b", 0.5)],
        "src string, dst string, p double",
    )
    short = {r["state"]: r["p"] for r in markov_stationary(t, iters=400).collect()}
    assert abs(short["a"] - 5 / 6) < 1e-12 and abs(short["b"] - 1 / 6) < 1e-12


def test_label_propagation_early_exit_stable(spark):
    """max_iter far beyond the diameter: the hash-sum witness exits
    early and the labels still match the small-max_iter run."""
    from ibd_pipeline_spark.operators.graph import label_propagation

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (11, 12)], "src bigint, dst bigint"
    )
    seeds = spark.createDataFrame(
        [(1, "alpha"), (10, "beta")], "vertex bigint, label string"
    )
    out = {r["vertex"]: r["label"]
           for r in label_propagation(edges, seeds, max_iter=40).collect()}
    assert out[3] == "alpha" and out[12] == "beta"


def test_markov_and_labelprop_reliable_checkpoint_mode(spark, tmp_path):
    """checkpoint_dir set → the reliable checkpoint() branch of the
    r06 cadence/early-exit code runs end to end (production posture);
    results match localCheckpoint mode."""
    from ibd_pipeline_spark.operators.graph import label_propagation, markov_stationary

    t = spark.createDataFrame(
        [("a", "a", 0.9), ("a", "b", 0.1), ("b", "a", 0.5), ("b", "b", 0.5)],
        "src string, dst string, p double",
    )
    pi = {
        r["state"]: r["p"]
        for r in markov_stationary(t, iters=40, checkpoint_dir=str(tmp_path / "m")).collect()
    }
    assert abs(pi["a"] - 5 / 6) < 1e-7

    edges = spark.createDataFrame([(1, 2), (2, 3)], "src bigint, dst bigint")
    seeds = spark.createDataFrame([(1, "x")], "vertex bigint, label string")
    out = {
        r["vertex"]: r["label"]
        for r in label_propagation(
            edges, seeds, max_iter=6, checkpoint_dir=str(tmp_path / "l")
        ).collect()
    }
    assert out[3] == "x"


def test_degenerate_iteration_counts_rejected(spark):
    """ADVICE r8: iters=0 / max_iter=0 would release loop-invariant
    checkpoint slots while the returned (never-checkpointed) state
    still reads them — reject up front instead of failing on first
    action."""
    from ibd_pipeline_spark.operators.graph import (
        label_propagation,
        markov_stationary,
        pagerank,
    )

    edges = spark.createDataFrame([(0, 1)], "src long, dst long")
    seeds = spark.createDataFrame([(0, "a")], "vertex long, label string")
    t = spark.createDataFrame([("a", "a", 1.0)], "src string, dst string, p double")
    with pytest.raises(ValueError, match=">= 1"):
        pagerank(edges, iters=0)
    with pytest.raises(ValueError, match=">= 1"):
        label_propagation(edges, seeds, max_iter=0)
    with pytest.raises(ValueError, match=">= 1"):
        markov_stationary(t, iters=0)


def test_absorption_probability_simple_chain(spark):
    """a(s) = P(reach target): A -> B (.5) / DEAD (.5); B -> C (1.0);
    target C => a(B) = 1, a(A) = 0.5; target row carries a = 1."""
    from ibd_pipeline_spark.operators.graph import absorption_probability

    t = spark.createDataFrame(
        [("A", "B", 0.5), ("A", "DEAD", 0.5), ("B", "C", 1.0)],
        "src string, dst string, p double",
    )
    tgt = spark.createDataFrame([("C",)], "state string")
    got = {r["state"]: r["a"] for r in absorption_probability(t, tgt).collect()}
    assert got["C"] == 1.0
    assert abs(got["B"] - 1.0) < 1e-12
    assert abs(got["A"] - 0.5) < 1e-12


def test_absorption_probability_target_with_outgoing_edges(spark):
    """A target that ALSO appears as a transition source is absorbing
    by definition: exactly ONE row, a = 1.0 — not a second 'transient'
    row computed from its outgoing edges (ADVICE r9)."""
    from ibd_pipeline_spark.operators.graph import absorption_probability

    t = spark.createDataFrame(
        # C is a target but has an outgoing edge C -> DEAD
        [("A", "C", 0.5), ("A", "DEAD", 0.5), ("C", "DEAD", 1.0)],
        "src string, dst string, p double",
    )
    tgt = spark.createDataFrame([("C",)], "state string")
    rows = absorption_probability(t, tgt).collect()
    c_rows = [r for r in rows if r["state"] == "C"]
    assert len(c_rows) == 1 and c_rows[0]["a"] == 1.0
    got = {r["state"]: r["a"] for r in rows}
    assert abs(got["A"] - 0.5) < 1e-12


def test_absorption_probability_rejects_zero_iters(spark):
    from ibd_pipeline_spark.operators.graph import absorption_probability

    t = spark.createDataFrame([("A", "B", 1.0)], "src string, dst string, p double")
    tgt = spark.createDataFrame([("B",)], "state string")
    with pytest.raises(ValueError, match=">= 1"):
        absorption_probability(t, tgt, iters=0)


def _label_propagation_case(spark, **kw):
    from ibd_pipeline_spark.operators.graph import label_propagation

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (5, 6), (7, 8), (8, 9), (2, 4)],
        "src long, dst long",
    )
    seeds = spark.createDataFrame(
        [(1, "a"), (4, "b"), (5, "c"), (99, "z")],
        "vertex long, label string",
    )
    out = {
        r["vertex"]: (r["label"], r["is_seed"])
        for r in label_propagation(edges, seeds, max_iter=5, **kw).collect()
    }
    assert out[99] == ("z", True)  # isolated seed kept
    assert out[7][0] is None  # unreached component stays NULL
    return out


def _markov_stationary_case(spark, **kw):
    from ibd_pipeline_spark.operators.graph import markov_stationary

    # a cycle that leaks into an absorbing sink: the held-mass path
    # runs in both solvers
    t = spark.createDataFrame(
        [
            ("v", "v", 0.2), ("v", "c", 0.5), ("v", "p", 0.3),
            ("c", "v", 0.6), ("c", "p", 0.3), ("c", "sink", 0.1),
            ("p", "v", 1.0),
        ],
        "src string, dst string, p double",
    )
    return {
        r["state"]: r["p"]
        for r in markov_stationary(t, iters=12, **kw).collect()
    }


def _absorption_probability_case(spark, **kw):
    from ibd_pipeline_spark.operators.graph import absorption_probability

    # a self-loop, a back edge, a dead end and a target with an
    # outgoing edge
    t = spark.createDataFrame(
        [
            ("A", "A", 0.2), ("A", "B", 0.5), ("A", "DEAD", 0.3),
            ("B", "A", 0.3), ("B", "C", 0.7), ("C", "DEAD", 1.0),
        ],
        "src string, dst string, p double",
    )
    tgt = spark.createDataFrame([("C",)], "state string")
    return {
        r["state"]: r["a"]
        for r in absorption_probability(t, tgt, **kw).collect()
    }


@pytest.mark.parametrize(
    "case",
    [
        _label_propagation_case,
        _markov_stationary_case,
        _absorption_probability_case,
    ],
    ids=["label_propagation", "markov_stationary", "absorption_probability"],
)
def test_driver_solve_matches_distributed(spark, case):
    """Each solver's small-input driver solve agrees with its
    distributed loop: same rows, values within double noise."""
    driver = case(spark)
    assert driver == pytest.approx(case(spark, max_driver_edges=0), abs=1e-9)


def test_assortativity_in_range(spark, sf_dir):
    """Assortativity is a correlation: must land in [-1, 1]."""
    from ibd_pipeline_spark.queries.graph2 import (
        graph_degree_assortativity,
    )

    r = graph_degree_assortativity(spark, sf_dir).collect()[0]
    assert -1.0 <= r["assortativity"] <= 1.0
    assert r["n_nodes"] > 0 and r["n_edges"] > 0
