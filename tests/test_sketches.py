"""Property tests for the sketch structures (operators/sketches.py).

The CMS and Bloom queries are ALSO exact-oracle-checked in
test_oracle_parity.py (their md5 hashing is engine-portable); the
tests here assert the *sketch-theoretic* guarantees that must hold on
any input — the properties a refactor could silently break while the
fixture-specific oracle still happened to pass.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from ibd_pipeline_spark.catalog import load
from ibd_pipeline_spark.operators.sketches import (
    CMS_DEPTH,
    CMS_WIDTH,
    bloom_build,
    bloom_maybe_contains,
    cms_build,
    cms_probe,
)


def test_cms_one_sided_and_bounded(spark, sf_dir):
    """CMS estimates are never below the truth (one-sided error), and
    the overestimate is bounded by the colliding mass: total weight /
    width is the expected collision load per counter; 8× that is a
    generous deterministic ceiling for depth=4."""
    docs = load(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
    )
    total = counts.agg(F.sum("w")).collect()[0][0]
    cms = cms_build(counts, "tok", "w")

    # sketch is structurally bounded
    n_counters = cms.count()
    assert n_counters <= CMS_DEPTH * CMS_WIDTH

    # conservation: every depth row sums to the total mass
    per_seed = {r["seed"]: r["s"] for r in
                cms.groupBy("seed").agg(F.sum("cnt").alias("s")).collect()}
    assert set(per_seed) == set(range(CMS_DEPTH))
    assert all(v == total for v in per_seed.values())

    probes = counts.orderBy(F.col("w").desc(), "tok").limit(25)
    est = cms_probe(cms, probes.select("tok"), "tok")
    joined = probes.join(est, "tok").collect()
    assert len(joined) == 25
    ceiling = 8 * total / CMS_WIDTH
    for r in joined:
        assert r["cms_estimate"] >= r["w"], r
        assert r["cms_estimate"] - r["w"] <= ceiling, r


def test_bloom_no_false_negatives_and_fp_bounded(spark, sf_dir):
    """Every inserted key must probe positive (no false negatives —
    the Bloom hard guarantee); non-member false positives stay under
    the loose analytic bound for the observed bit load."""
    docs = load(spark, sf_dir, "documents")
    members = docs.filter(F.col("doc_id") % 10 == 0).select(
        F.md5("text").alias("h")
    ).distinct()
    others = docs.filter(F.col("doc_id") % 10 != 0).select(
        F.md5("text").alias("h")
    ).distinct().join(members, "h", "left_anti")

    bits = bloom_build(members, "h")
    n_bits = bits.select(F.size("bloom_bits")).collect()[0][0]

    n_members = members.count()
    missed = (
        members.crossJoin(F.broadcast(bits))
        .filter(~bloom_maybe_contains("bloom_words", F.col("h")))
        .count()
    )
    assert missed == 0, "Bloom filter produced a false negative"

    n_others = others.count()
    fp = (
        others.crossJoin(F.broadcast(bits))
        .filter(bloom_maybe_contains("bloom_words", F.col("h")))
        .count()
    )
    # fp rate ≈ (set bits / m)^k; allow 4× headroom + integer slack
    expected = (n_bits / 8192.0) ** 3
    assert fp <= max(5, 4 * expected * n_others), (fp, n_others, n_bits, n_members)


def test_portable_hll_both_branches(spark):
    """The r11 md5-portable HLL: LC branch on a tiny week (E ≤ 2.5m),
    raw-HLL branch on a large one; union estimate == direct estimate
    on every row (register MAX is associative); both estimates within
    35% of exact at m=32 (1.04/√32 ≈ 18% one-sigma)."""
    import datetime

    from ibd_pipeline_spark.queries.sketches import (
        _HLL_M,
        sketch_hll_daily_union,
    )

    t0 = datetime.datetime(2024, 6, 3)  # a Monday
    rows = []
    eid = 0
    # week 1: 10 users (small-range / LC branch: E well under 2.5m=80)
    for u in range(10):
        rows.append((eid, t0 + datetime.timedelta(hours=u), u, "view", 1.0, "{}"))
        eid += 1
    # week 2: 500 users spread over 3 days (raw HLL branch)
    for u in range(500):
        rows.append(
            (eid, t0 + datetime.timedelta(days=7 + u % 3, minutes=u), 1000 + u,
             "view", 1.0, "{}"))
        eid += 1
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, "
        "event_type string, value double, props string",
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        ev.write.parquet(f"{d}/events.parquet")
        out = sketch_hll_daily_union(spark, d).collect()
    assert len(out) == 2
    for r in out:
        assert r["hll_union_est"] == r["hll_direct_est"], r
        assert abs(r["hll_union_est"] - r["exact_users"]) <= max(
            3, 0.35 * r["exact_users"]
        ), r
    small, big = out[0], out[1]
    assert small["exact_users"] == 10 and big["exact_users"] == 500
    # big week must have left the LC regime: most registers occupied
    assert big["n_registers"] == _HLL_M


def test_rolling_active_users_monotone_and_accurate(spark, sf_dir):
    """DAU ≤ WAU ≤ 14-day actives per day, and the windowed-union
    estimates sit within 5% of the exact rolling distinct count."""
    import pyspark.sql.functions as F

    from ibd_pipeline_spark.catalog import load
    from ibd_pipeline_spark.queries.sketches import events_rolling_active_users

    rows = events_rolling_active_users(spark, sf_dir).collect()
    assert rows
    for r in rows:
        # occupancy of nested sets is exactly monotone; the LC
        # estimator is monotone in occupancy
        assert r["n_occ_7d"] <= r["n_occ_14d"]
        assert r["wau_est"] <= r["active_14d_est"]
        assert r["dau_exact"] <= r["wau_est"] or (
            # estimation noise only — allow 5% crossover, never more
            r["wau_est"] >= 0.95 * r["dau_exact"]
        )
    # exact rolling 7-day distinct via (day, user) self-expansion
    ev = load(spark, sf_dir, "events")
    du = ev.select(
        F.to_date(F.date_trunc("day", "ts")).alias("day"), "user_id"
    ).distinct()
    days = du.select("day").distinct().alias("d")
    exact7 = {
        r["day"]: r["n"]
        for r in days.join(
            du.alias("u"),
            (F.col("u.day") <= F.col("d.day"))
            & (F.col("u.day") >= F.date_sub(F.col("d.day"), 6)),
        )
        .groupBy("d.day")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    for r in rows:
        # sketch day-frames use ROWS(-6), exact uses date range: they
        # agree because the fixture has no missing days; tolerance 5%
        want = exact7[r["day"]]
        assert abs(r["wau_est"] - want) <= max(2, 0.05 * want), (r, want)


def test_cms_probe_missing_key_estimates_zero(spark):
    """A probe key never inserted in the sketch must still yield a
    row, with estimate 0 when any of its buckets was untouched —
    the left-join semantics (r05 ADVICE: the old inner join dropped
    the key or inflated the min over the surviving buckets)."""
    import pyspark.sql.functions as F

    from ibd_pipeline_spark.operators.sketches import cms_build, cms_probe

    counts = spark.createDataFrame(
        [("alpha", 5), ("beta", 3)], "tok string, n bigint"
    )
    cms = cms_build(counts, "tok", "n")
    probes = spark.createDataFrame(
        [("alpha",), ("never_inserted_token_xyz",)], "tok string"
    )
    out = {r["tok"]: r["cms_estimate"] for r in cms_probe(cms, probes, "tok").collect()}
    assert out["alpha"] >= 5  # one-sided: never underestimates
    assert "never_inserted_token_xyz" in out
    # with 2 inserted keys over 4x512 counters, at least one of the 4
    # probe buckets is certainly empty -> estimate exactly 0
    assert out["never_inserted_token_xyz"] == 0


def test_rolling_active_users_range_frame_spans_calendar_days(spark, tmp_path):
    """With a gap day in the data, the trailing-7-day frame must NOT
    reach back past 7 calendar days (the old rowsBetween frame spanned
    7 OBSERVED days). Construct days 1..3 and 20: day 20's WAU must
    count only day 20's users."""
    import datetime

    import pyspark.sql.functions as F

    from ibd_pipeline_spark.queries import all_queries

    rows = []
    for d, uid in [(1, 100), (2, 200), (3, 300), (20, 999)]:
        rows.append((datetime.datetime(2024, 1, d, 12, 0, 0), uid))
    df = spark.createDataFrame(rows, "ts timestamp, user_id bigint")
    sf = tmp_path / "sf"
    sf.mkdir()
    df.write.parquet(str(sf / "events.parquet"))
    out = {
        str(r["day"]): r
        for r in all_queries()["events_rolling_active_users"](
            spark, str(sf)
        ).collect()
    }
    # day 3 sees days 1-3 (3 users within 7 calendar days); the LC
    # estimate of 3 occupied buckets is 3 + O(1/m)
    assert out["2024-01-03"]["n_occ_7d"] == 3
    assert abs(out["2024-01-03"]["wau_est"] - 3) < 0.01
    # day 20 is >7 calendar days after day 3: only its own user
    assert out["2024-01-20"]["n_occ_7d"] == 1
    assert abs(out["2024-01-20"]["wau_est"] - 1) < 0.01
    assert out["2024-01-20"]["n_occ_14d"] == 1
