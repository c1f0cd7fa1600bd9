"""Property tests for the approximate dedup operators (no SQL oracle
— SURVEY.md §5.4): MinHash precision against exact Jaccard, SimHash
invariants, and candidate-generation sanity."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from ibd_pipeline_spark.operators import dedup as D


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away today"
    rows = [
        (0, base),
        (1, base),  # exact duplicate of 0
        (2, base.replace("quick", "slow")),  # near-dup of 0
        (3, "completely different text about spark dataframes and shuffles here"),
        (4, base + " with a small suffix appended"),  # near-dup
        (5, "another unrelated document mentioning parquet files and row groups"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_exact_digest_groups_duplicates(spark, docs):
    d = docs.withColumn("digest", D.content_digest("text"))
    groups = d.groupBy("digest").count().filter("count > 1").collect()
    assert len(groups) == 1 and groups[0]["count"] == 2


def test_minhash_identical_docs_always_candidates(spark, docs):
    pairs = D.minhash_candidate_pairs(docs).collect()
    by_pair = {(r.id_a, r.id_b): r.jaccard for r in pairs}
    assert by_pair.get((0, 1)) == 1.0  # identical docs: J=1, all bands collide
    # near-dups should surface as candidates with high jaccard
    assert any(j >= 0.5 for (a, b), j in by_pair.items() if {a, b} & {2, 4})
    # verified jaccard values must be exact (checked against python)
    def jac(x, y):
        def sh(t):
            w = t.split()
            return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}
        a, b = sh(x), sh(y)
        return len(a & b) / len(a | b)

    texts = {r.doc_id: r.text for r in docs.collect()}
    for (a, b), j in by_pair.items():
        assert abs(j - jac(texts[a], texts[b])) < 1e-6


def test_minhash_no_false_negatives_on_fixture(spark, sf_dir):
    """Every high-Jaccard pair (J≥0.7) found by brute force on a
    150-doc slice must be recovered by the LSH path (8 bands × 4 rows
    → P[miss at J=0.7] = (1-0.7⁴)^8 ≈ 10%; assert ≥80% recall to
    keep the test robust)."""
    from ibd_pipeline_spark.catalog import load

    docs = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 150)
        .select("doc_id", "text")
    )
    sh = docs.select("doc_id", D.shingles("text", 3).alias("sh"))
    a, b = sh.alias("a"), sh.alias("b")
    jac = F.size(F.array_intersect("a.sh", "b.sh")).cast("double") / F.size(
        F.array_union("a.sh", "b.sh")
    )
    truth = {
        (r.id_a, r.id_b)
        for r in a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            jac.alias("j"),
        )
        .filter("j >= 0.7")
        .collect()
    }
    found = {
        (r.id_a, r.id_b)
        for r in D.minhash_candidate_pairs(docs).filter("jaccard >= 0.7").collect()
    }
    if truth:
        recall = len(truth & found) / len(truth)
        assert recall >= 0.8, f"LSH recall {recall:.2f} over {len(truth)} true pairs"


def test_simhash_invariants(spark, docs):
    sigs = {r.id: r.sig for r in D.simhash_signatures_md5(docs).collect()}
    assert sigs[0] == sigs[1]  # identical text → identical signature
    h = lambda a, b: bin((sigs[a] ^ sigs[b]) & (2**64 - 1)).count("1")  # noqa: E731
    assert h(0, 2) <= 16  # near-dup → small hamming distance
    assert h(0, 3) > h(0, 2)  # unrelated doc is farther than near-dup


def test_simhash_pairs_find_near_dups(spark, docs):
    pairs = {
        (r.id_a, r.id_b): r.hamming
        for r in D.simhash32_pairs(D.simhash_signatures_md5(docs)).collect()
    }
    assert (0, 1) in pairs and pairs[(0, 1)] == 0


def test_near_dup_prune_invariants(spark, sf_dir):
    """End-to-end prune pipeline: survivor counts are monotone
    (near ≤ exact ≤ total), every source survives with ≥ 1 doc, and
    the totals reconcile with the standalone exact-dedup stage."""
    import pyspark.sql.functions as F

    from ibd_pipeline_spark.catalog import load
    from ibd_pipeline_spark.operators import dedup as D
    from ibd_pipeline_spark.queries import all_queries

    out = {
        r["source"]: r
        for r in all_queries()["dedup_near_dup_prune"](spark, sf_dir).collect()
    }
    assert out, "no sources"
    for r in out.values():
        assert r["n_after_near"] <= r["n_after_exact"] <= r["n_docs"]
        assert r["n_after_near"] >= 1

    d = load(spark, sf_dir, "documents")
    n_exact_total = (
        d.select(D.content_digest("text").alias("h")).distinct().count()
    )
    assert sum(r["n_after_exact"] for r in out.values()) == n_exact_total


def test_incremental_lsh_identity(spark, sf_dir):
    """Insert-only incremental LSH: pairs over the full corpus must
    equal base-only pairs ∪ delta-touching pairs — the IVM identity
    for candidate generation. Any banding drift between the two modes
    (a changed seed, a missed band) breaks this exactly."""
    import pyspark.sql.functions as F

    from ibd_pipeline_spark.catalog import load
    from ibd_pipeline_spark.operators.dedup import (
        minhash_candidate_pairs,
        release_state,
    )

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    gate = F.col("doc_id") % 5 == 0
    base, delta = docs.filter(~gate), docs.filter(gate)

    full = minhash_candidate_pairs(docs)
    base_only = minhash_candidate_pairs(base)
    incr = minhash_candidate_pairs(docs, restrict_to=delta.select("doc_id"))
    try:
        full_p = {(r["id_a"], r["id_b"]) for r in full.collect()}
        base_p = {(r["id_a"], r["id_b"]) for r in base_only.collect()}
        incr_p = {(r["id_a"], r["id_b"]) for r in incr.collect()}
        assert base_p | incr_p == full_p
        assert base_p.isdisjoint(incr_p)
        # every incremental pair touches the delta
        delta_ids = {r["doc_id"] for r in delta.select("doc_id").collect()}
        for a, b in incr_p:
            assert a in delta_ids or b in delta_ids
    finally:
        for df in (full, base_only, incr):
            release_state(df)


def test_simhash_multitable_pigeonhole_guarantee(spark):
    """4 tables x 8-bit chunks cover the 4 disjoint chunks of the
    32-bit signature: ANY pair within Hamming 3 agrees exactly on >=1
    chunk and MUST be found. Plant flips in the TOP prefix bits —
    exactly where single-prefix blocking goes blind."""
    base = 0x5A5A_C3C3

    rows = [(0, base)]
    # flips at bits 31, 30, 15, 5 (the first two inside single-table
    # 12-bit prefix territory), spread across ids 1..3 with hamming
    # 1, 2, 3 from base
    rows.append((1, base ^ (1 << 31)))
    rows.append((2, base ^ (1 << 31) ^ (1 << 30)))
    rows.append((3, base ^ (1 << 31) ^ (1 << 15) ^ (1 << 5)))
    sig = spark.createDataFrame(rows, "id bigint, sig bigint")
    found = {
        (r.id_a, r.id_b): r.hamming
        for r in D.simhash32_pairs(
            sig, max_hamming=8, tables=4, chunk_bits=8
        ).collect()
    }
    # every base-vs-flipped pair has hamming <= 3 -> guaranteed found
    assert found[(0, 1)] == 1
    assert found[(0, 2)] == 2
    assert found[(0, 3)] == 3
    # and the single 12-bit-prefix form misses every base-vs-flipped
    # pair (the flip at bit 31 lands inside the prefix, so the blocks
    # differ), demonstrating the recall gap the multi-table scheme
    # closes
    blk = sig.selectExpr("id", "sig", "shiftrightunsigned(sig, 20) AS blk")
    single = {
        (r.id_a, r.id_b)
        for r in blk.alias("l")
        .join(
            blk.alias("r"),
            (F.col("l.blk") == F.col("r.blk")) & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .collect()
    }
    assert all(a != 0 for a, _ in single)


def test_simhash_multitable_recall_at_least_single_table(spark, docs):
    """On the text fixture the multi-table pass finds every pair the
    single-table pass finds (same Hamming cutoff, four chances to
    collide instead of one)."""
    sig = D.simhash_signatures_md5(docs)
    single = {(r.id_a, r.id_b) for r in D.simhash32_pairs(sig, tables=1).collect()}
    multi = {(r.id_a, r.id_b) for r in D.simhash32_pairs(sig, tables=4).collect()}
    assert single <= multi


# LSH calibration against a PLANTED density corpus: pairs at graded
# Jaccard straddling the 8x4 s-curve's steep region, so predicted
# E[recall] and measured recall must agree within the Bernoulli
# sampling bound — the s-curve model is calibrated for this hash
# family, not just present.


def _planted_density_docs():
    """300 near-dup pairs: variant = base + appended extras, so on
    3-gram shingles J = (n-2)/(n-2+m) exactly. Five 60-pair strata at
    J = {0.500, 0.606, 0.690, 0.800, 0.909} (base 22 words, extras
    m = 20/13/9/5/2) put 180 pairs in the s-curve's steep region
    (P(hit) ≈ 0.40/0.69/0.87) where calibration can actually fail,
    and 120 near the saturated top. Tokens are unique per pair, so
    truth = exactly the planted pairs and the prefix-filter join
    never crosses pairs."""
    rows = []
    strata = [(20, "J500"), (13, "J606"), (9, "J690"), (5, "J800"), (2, "J909")]
    doc_id = 0
    for s_i, (m, tag) in enumerate(strata):
        for p in range(60):
            base = [f"{tag}p{p}w{j}" for j in range(22)]
            extra = [f"{tag}p{p}x{j}" for j in range(m)]
            rows.append(
                (doc_id, " ".join(base), "en", f"src{s_i}",
                 len(" ".join(base)))
            )
            rows.append(
                (doc_id + 1, " ".join(base + extra), "en", f"src{s_i}",
                 len(" ".join(base + extra)))
            )
            doc_id += 2
    return rows


def test_lsh_calibration_planted_density(spark, tmp_path):
    from ibd_pipeline_spark.queries import all_queries

    df = spark.createDataFrame(
        _planted_density_docs(),
        "doc_id bigint, text string, lang string, source string, "
        "n_chars bigint",
    )
    df.coalesce(1).write.parquet(f"{tmp_path}/documents.parquet")
    (r,) = all_queries()["dedup_lsh_calibration"](
        spark, str(tmp_path)
    ).collect()
    got = dict(zip(r.__fields__, r))
    assert got["bands"] == 8 and got["rows_per_band"] == 4
    # truth must be exactly the 300 planted pairs (token-disjoint
    # corpus: the prefix-filter join cannot invent cross-pair truth)
    assert got["n_true_pairs"] == 300
    assert 0 < got["n_found"] <= 300
    assert 0.0 < got["measured_recall"] <= 1.0
    # the steep-region strata keep the prediction away from the
    # saturated top — if predicted ~ 1.0 the test is vacuous
    assert got["predicted_recall"] < 0.95
    assert got["predicted_recall"] > 0.5
    # Sampling bound: measured recall is the mean of 300 fixed-family
    # Bernoulli(p_i) realizations with p_i from the planted J strata
    # (60 each at P(hit) ~ 0.403/0.686/0.872/0.985/0.9999);
    # sigma_mean = sqrt(sum p_i(1-p_i))/300 ~ 0.020, so 4.5 sigma
    # ~ 0.09. A gap beyond that means the s-curve model is WRONG for
    # the md5-salted family, not unlucky.
    assert got["calibration_gap"] <= 0.09, got
    assert (
        abs(
            got["calibration_gap"]
            - abs(got["predicted_recall"] - got["measured_recall"])
        )
        < 1e-9
    )


def test_lsh_calibration_oracle_on_planted(spark, tmp_path):
    """Engine parity on the PLANTED corpus too (the driver only ever
    replays oracles on the clean fixtures, where measured recall is
    typically saturated): Spark row == DuckDB row value-for-value."""
    from ibd_pipeline_spark.queries import all_oracles, all_queries
    from tests.test_round14 import _oracle_on

    df = spark.createDataFrame(
        _planted_density_docs(),
        "doc_id bigint, text string, lang string, source string, "
        "n_chars bigint",
    )
    df.coalesce(1).write.parquet(f"{tmp_path}/documents.parquet")
    (r,) = all_queries()["dedup_lsh_calibration"](
        spark, str(tmp_path)
    ).collect()
    cols, rows = _oracle_on(
        tmp_path, all_oracles()["dedup_lsh_calibration"]
    )
    assert len(rows) == 1
    want = dict(zip(cols, rows[0]))
    got = dict(zip(r.__fields__, r))
    for k in got:
        assert float(got[k]) == float(want[k]), (k, got[k], want[k])


def test_session_state_cache_evicts_least_recently_used(spark, monkeypatch):
    """A cache hit refreshes its entry: with room for two states, build
    A, build B, hit A, build C — A (just used) survives and B (least
    recently used) is evicted."""
    from collections import OrderedDict

    monkeypatch.setattr(D, "_SESSION_STATE_CAP", 2)
    monkeypatch.setattr(D, "_SESSION_STATE_CACHE", OrderedDict())
    frames = {n: spark.range(i + 1) for i, n in enumerate("abc")}

    def state(n):
        return D._session_cached_state(frames[n], ("lru",), lambda: frames[n])

    a, b = state("a"), state("b")
    assert state("a") is a
    state("c")
    assert len(D._SESSION_STATE_CACHE) == 2
    assert state("a") is a
    assert state("b") is not b


def test_semdedup_prune_counts_consistent(spark, sf_dir):
    """SemDeDup structural invariants: kept + pruned = members per
    cluster; a cluster with zero dup pairs prunes nothing; pruned
    can never exceed members − 1 (the lowest id always survives)."""
    from ibd_pipeline_spark.queries.dedup import dedup_semantic_clusters

    rows = dedup_semantic_clusters(spark, sf_dir).collect()
    assert rows, "kmeans must produce clusters"
    assert sum(r["n_members"] for r in rows) > 0
    for r in rows:
        assert r["n_kept"] + r["n_pruned"] == r["n_members"]
        if r["n_dup_pairs"] == 0:
            assert r["n_pruned"] == 0
        assert r["n_pruned"] <= r["n_dup_pairs"]  # each prune needs a pair
        if r["n_members"] > 0:
            assert r["n_pruned"] <= r["n_members"] - 1


def test_semdedup_derived_k_default(spark, sf_dir):
    """semdedup_pairs' DEFAULT must be the k ∝ n
    contract — k=None derives max(k_min, ceil(n/target_cluster_size))
    and produces the identical pair set as passing that k explicitly
    (kmeans_attested is RNG-free, so the derivation is replayable)."""
    import math

    from ibd_pipeline_spark.catalog import load
    from ibd_pipeline_spark.operators.dedup import semdedup_pairs

    emb = load(spark, sf_dir, "embeddings")
    n = emb.count()
    tcs, kmin = 100, 2
    k_expected = max(kmin, math.ceil(n / tcs))
    assert k_expected > kmin  # the derivation, not the floor, decides

    auto = semdedup_pairs(
        emb, k=None, iters=1, target_cluster_size=tcs, k_min=kmin
    )
    explicit = semdedup_pairs(emb, k=k_expected, iters=1)
    got_k = auto._assigned.select("cluster_id").distinct().count()
    assert got_k <= k_expected
    a = {tuple(r) for r in auto.collect()}
    b = {tuple(r) for r in explicit.collect()}
    assert a == b and len(a) > 0
