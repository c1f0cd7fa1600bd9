"""Round-13 semantic pins that the oracle can't express: algebraic
identities and planted-structure recoveries for the wave queries,
pure-Python where possible (the Spark-vs-oracle agreement is already
hash-gated in test_oracle_parity.py).
"""

from __future__ import annotations

import math


def test_page_l_bounds_and_moments():
    """For k treatments over b blocks, L is bounded by the reversed
    and forward orderings, and the closed-form moments match a
    brute-force enumeration over all block permutations at k=3."""
    import itertools

    k, b = 3, 4
    perms = list(itertools.permutations(range(1, k + 1)))
    # enumerate all assignments of one permutation per block
    ls = []
    for combo in itertools.product(perms, repeat=b):
        l = sum(
            (j + 1) * sum(p[j] for p in combo) for j in range(k)
        )
        ls.append(l)
    n = len(ls)
    mean = sum(ls) / n
    var = sum((x - mean) ** 2 for x in ls) / n
    e_closed = b * k * (k + 1) ** 2 / 4.0
    v_closed = b * k * k * (k + 1) * (k * k - 1) / 144.0
    assert abs(mean - e_closed) < 1e-9
    assert abs(var - v_closed) < 1e-9
    lo = b * sum((j + 1) * (k - j) for j in range(k))  # reversed order
    hi = b * sum((j + 1) * (j + 1) for j in range(k))  # perfect trend
    assert min(ls) == lo and max(ls) == hi


def test_chapman_is_exact_on_full_overlap():
    """When both occasions capture everyone, N̂ must equal the truth
    exactly and the SE must be 0 (n1 = n2 = m = N)."""
    for n in (1, 7, 100):
        nhat = (n + 1) * (n + 1) / (n + 1) - 1
        assert nhat == n
        var = (n + 1) * (n + 1) * (n - n) * (n - n) / (
            (n + 1) ** 2 * (n + 2)
        )
        assert var == 0


def test_gpd_moments_roundtrip():
    """The Hosking–Wallis MOM inversion is exact: GPD(ξ, β) has
    μ = β/(1−ξ) and σ² = β²/((1−ξ)²(1−2ξ)) for ξ < ½ — pushing the
    analytic moments through the estimator recovers (ξ, β)."""
    for xi, beta in ((-0.3, 2.0), (0.0, 1.5), (0.2, 4.0)):
        mu = beta / (1 - xi)
        var = beta * beta / ((1 - xi) ** 2 * (1 - 2 * xi))
        xi_hat = 0.5 * (1.0 - mu * mu / var)
        beta_hat = 0.5 * mu * (1.0 + mu * mu / var)
        assert abs(xi_hat - xi) < 1e-12, (xi, xi_hat)
        assert abs(beta_hat - beta) < 1e-12, (beta, beta_hat)


def test_fisher_index_between_laspeyres_and_paasche():
    """Fisher is the geometric mean, so it always lies between L and
    P; on a no-price-change basket all three are exactly 1."""
    cases = [
        ({"a": (2.0, 10.0), "b": (3.0, 5.0)}, {"a": (2.5, 8.0), "b": (2.7, 7.0)}),
        ({"a": (1.0, 1.0)}, {"a": (1.0, 9.0)}),
    ]
    for base, cur in cases:
        l_num = sum(cur[k][0] * base[k][1] for k in base)
        l_den = sum(base[k][0] * base[k][1] for k in base)
        p_num = sum(cur[k][0] * cur[k][1] for k in base)
        p_den = sum(base[k][0] * cur[k][1] for k in base)
        lasp, paas = l_num / l_den, p_num / p_den
        fisher = math.sqrt(lasp * paas)
        assert min(lasp, paas) - 1e-12 <= fisher <= max(lasp, paas) + 1e-12
    # identity case
    assert math.sqrt(1.0 * 1.0) == 1.0


def test_theil_decomposition_additivity():
    """T_total computed directly over the pooled population equals
    T_between + Σ s_g·T_g exactly (up to float) on a toy two-group
    economy."""
    groups = {"g1": [1.0, 2.0, 3.0], "g2": [10.0, 10.0, 40.0]}
    xs = [x for g in groups.values() for x in g]
    n, xt = len(xs), sum(xs)
    mu = xt / n
    t_total = sum((x / xt) * math.log(x / mu) for x in xs)
    t_between = 0.0
    t_within_w = 0.0
    for g in groups.values():
        ng, xg = len(g), sum(g)
        sg, pg = xg / xt, ng / n
        t_between += sg * math.log(sg / pg)
        tg = sum((x / xg) * math.log(x * ng / xg) for x in g)
        t_within_w += sg * tg
    assert abs(t_total - (t_between + t_within_w)) < 1e-12


def test_ess_bounds_and_extremes():
    """Kish ESS is n for equal weights and →1 as one weight
    dominates; ESS ≤ n always (Cauchy–Schwarz)."""
    def ess(ws):
        return sum(ws) ** 2 / sum(w * w for w in ws)

    assert abs(ess([5] * 40) - 40) < 1e-12
    assert ess([1000000, 1, 1, 1]) < 1.01
    for ws in ([1, 2, 3], [9, 9, 1], [4]):
        assert ess(ws) <= len(ws) + 1e-12


def test_rayleigh_trig_table_is_unit_circle():
    """The shared trig table rows are exact unit vectors and sum to
    the zero vector (uniform hours ⇒ R̄ = 0 by construction)."""
    from ibd_pipeline_spark.queries.stats4 import _hour_trig_rows

    rows = _hour_trig_rows()
    assert len(rows) == 24
    for _h, c, s in rows:
        assert abs(c * c + s * s - 1.0) < 1e-12
    assert abs(sum(c for _h, c, _s in rows)) < 1e-9
    assert abs(sum(s for _h, _c, s in rows)) < 1e-9


def test_rendezvous_minimal_churn(spark, sf_dir):
    """Adding a 9th shard must re-route roughly 1/9 of documents and
    NEVER move a document between two pre-existing shards — the HRW
    property hash-mod-n lacks (mod-9 vs mod-8 moves ~8/9)."""
    import pyspark.sql.functions as F

    from ibd_pipeline_spark.catalog import load

    d = load(spark, sf_dir, "documents").select("doc_id")

    def assign(n_shards: int):
        shards = spark.createDataFrame(
            [(i,) for i in range(n_shards)], "shard int"
        )
        wt = F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.lit("hrw13"),
                        F.col("shard").cast("string"),
                        F.col("doc_id").cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint")
        return (
            d.crossJoin(F.broadcast(shards))
            .select("doc_id", "shard", wt.alias("wt"))
            .groupBy("doc_id")
            .agg(
                F.max(
                    F.struct(F.col("wt"), (-F.col("shard")).alias("ns"))
                ).alias("m")
            )
            .select("doc_id", (-F.col("m.ns")).cast("int").alias("shard"))
        )

    a8 = {r["doc_id"]: r["shard"] for r in assign(8).collect()}
    a9 = {r["doc_id"]: r["shard"] for r in assign(9).collect()}
    moved = {k for k in a8 if a8[k] != a9[k]}
    # every move must land ON the new shard, never re-balance old ones
    assert all(a9[k] == 8 for k in moved), "HRW moved a key between old shards"
    frac = len(moved) / len(a8)
    assert 0.02 <= frac <= 0.25, f"expected ~1/9 churn, got {frac:.3f}"
