"""Hypothesis property tests (SURVEY §5.4): randomized inputs against
brute-force Python oracles for the composite operators — as-of join,
salted join, winnowing guarantee.

Each example builds a small DataFrame; examples are capped (Spark
round-trips are ~100 ms each) but the strategies cover the edge
geometry unit tests miss: empty sides, ties, single elements,
duplicate timestamps.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

SET = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

keys = st.integers(min_value=0, max_value=3)
times = st.integers(min_value=0, max_value=50)


@st.composite
def asof_inputs(draw):
    events = draw(
        st.lists(st.tuples(keys, times, st.integers(0, 999)), min_size=0, max_size=25)
    )
    probes = draw(st.lists(st.tuples(keys, times), min_size=1, max_size=15))
    # unique probe identity so rows can be matched back
    probes = [(i, k, t) for i, (k, t) in enumerate(probes)]
    return events, probes


@given(asof_inputs())
@SET
def test_asof_join_matches_bruteforce(spark, data):
    from ibd_pipeline_spark.operators.joins import as_of_join

    events, probes = data
    edf = spark.createDataFrame(events, "k long, t long, v long")
    pdf = spark.createDataFrame(probes, ["pid", "k", "t"])
    out = {
        r.pid: (r.asof_t, r.asof_v)
        for r in as_of_join(pdf, edf, key="k", probe_time="t", event_time="t",
                            value_cols=["v"]).collect()
    }
    for pid, k, t in probes:
        cands = [(et, v) for (ek, et, v) in events if ek == k and et <= t]
        if cands:
            best_t = max(c[0] for c in cands)
            # ties on event time: last() takes the latest row in sort
            # order — value must be one of the tied events' values
            tied = [v for (et, v) in cands if et == best_t]
            got_t, got_v = out[pid]
            assert got_t == best_t and got_v in tied, (pid, out[pid], cands)
        else:
            assert out[pid] == (None, None)


@given(
    st.lists(st.tuples(keys, st.integers(0, 99)), min_size=0, max_size=30),
    st.lists(st.tuples(keys, st.text("ab", min_size=1, max_size=3)), min_size=0, max_size=8),
    st.integers(min_value=2, max_value=5),
)
@SET
def test_salted_join_property(spark, big_rows, small_rows, salt):
    from ibd_pipeline_spark.operators.skew import salted_join

    big = spark.createDataFrame(big_rows, "k long, v long")
    small = spark.createDataFrame(small_rows, "k2 long, w string")
    got = sorted(
        map(tuple, salted_join(big, small, "k", "k2", salt_factor=salt).collect())
    )
    expected = sorted(
        (bk, bv, sk, sw)
        for (bk, bv) in big_rows
        for (sk, sw) in small_rows
        if bk == sk
    )
    assert got == expected


@given(
    st.lists(st.sampled_from(["w%d" % i for i in range(30)]), min_size=8, max_size=12, unique=True),
    st.lists(st.sampled_from(["x%d" % i for i in range(30)]), min_size=0, max_size=6),
    st.lists(st.sampled_from(["y%d" % i for i in range(30)]), min_size=0, max_size=6),
)
@SET
def test_winnowing_shared_run_guarantee(spark, shared, pre, post):
    """Any two docs sharing a ≥ k+window-1 = 8-word run share ≥ 1
    winnowing fingerprint (k=4, window=5)."""
    from ibd_pipeline_spark.operators.text import winnowing_fingerprints

    d1 = " ".join(pre + shared)
    d2 = " ".join(shared + post)
    df = spark.createDataFrame([(1, d1), (2, d2)], ["id", "text"])
    fps = {
        r.id: set(r.fp)
        for r in df.select("id", winnowing_fingerprints("text").alias("fp")).collect()
    }
    assert fps[1] & fps[2], (d1, d2)


def test_sessionize_agrees_with_session_window(spark):
    """Cross-operator consistency: the lag/cumsum batch sessionization
    (events_sessionize_gaps) and the native F.session_window query
    (events_session_window) use the same 6-hour gap — on the same
    fixture they must produce the identical session set
    (user, session_start, n_events)."""
    from ibd_pipeline_spark.queries import all_queries

    Q = all_queries()
    sf = "/root/testdata/sf0.001"
    a = {
        (r.user_id, r.session_start, r.n_events)
        for r in Q["events_session_window"](spark, sf).collect()
    }
    b = {
        (r.user_id, r.session_start, r.n_events)
        for r in Q["events_sessionize_gaps"](spark, sf).collect()
    }
    assert a == b


@st.composite
def session_inputs(draw):
    # (user, t) event stream; t in minutes, gap threshold = 60 min
    return draw(
        st.lists(
            st.tuples(st.integers(0, 2), st.integers(0, 600)),
            min_size=1,
            max_size=30,
        )
    )


@given(session_inputs())
@SET
def test_sessionize_invariants(spark, data):
    """Gap sessionization invariants against a Python reference:
    sessions partition the events; intra-session consecutive gaps are
    ≤ threshold; the gap BETWEEN consecutive sessions is > threshold;
    session_seq is 1..n_sessions per user."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    GAP = 60
    rows = [(i, u, t) for i, (u, t) in enumerate(data)]
    df = spark.createDataFrame(rows, "event_id long, user_id long, t long")
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    gap = F.col("t") - F.lag("t").over(w)
    out = (
        df.select(
            "event_id", "user_id", "t",
            F.sum(F.when(gap.isNull() | (gap > GAP), 1).otherwise(0))
            .over(
                Window.partitionBy("user_id")
                .orderBy("t", "event_id")
                .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            )
            .alias("session_seq"),
        )
        .collect()
    )
    by_user: dict[int, list] = {}
    for r in sorted(out, key=lambda r: (r.user_id, r.t, r.event_id)):
        by_user.setdefault(r.user_id, []).append(r)
    assert len(out) == len(rows)  # partition: every event in a session
    for _u, rs in by_user.items():
        seqs = [r.session_seq for r in rs]
        assert seqs[0] == 1 and max(seqs) == seqs[-1]
        for prev, cur in zip(rs, rs[1:]):
            if cur.session_seq == prev.session_seq:
                assert cur.t - prev.t <= GAP
            else:
                assert cur.session_seq == prev.session_seq + 1
                assert cur.t - prev.t > GAP
