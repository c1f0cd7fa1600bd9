"""Hypothesis property tests for the round-6 primitives: randomized
inputs vs brute-force Python oracles — the multi-table SimHash
pigeonhole guarantee on random ≤3-bit flips, the regex BPE apply vs
the Python greedy reference on arbitrary symbol streams, and the
md5-MinHash estimator's exact component-match count vs a Python
recomputation. The DuckDB oracles pin these on the fixtures; these
cover the input geometry fixtures can't."""

from __future__ import annotations

import hashlib

import pyspark.sql.functions as F
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

SET = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


@SET
@given(
    base=st.integers(min_value=0, max_value=(1 << 32) - 1),
    flips=st.lists(
        st.integers(min_value=0, max_value=31), min_size=1, max_size=3, unique=True
    ),
)
def test_simhash_multi_finds_every_hamming3_pair(spark, base, flips):
    """ANY 32-bit signature pair within Hamming 3 collides in at least
    one of the 4 disjoint 8-bit chunks (pigeonhole) — randomized over
    base signatures and flip positions."""
    from ibd_pipeline_spark.operators.dedup import simhash32_pairs

    other = base
    for b in flips:
        other ^= 1 << b
    sig = spark.createDataFrame([(0, base), (1, other)], "id bigint, sig bigint")
    pairs = simhash32_pairs(sig, max_hamming=8, tables=4, chunk_bits=8)
    try:
        found = {(r.id_a, r.id_b): r.hamming for r in pairs.collect()}
    finally:
        from ibd_pipeline_spark.operators.dedup import release_state

        release_state(pairs)
    assert found.get((0, 1)) == len(flips)


_sym = st.sampled_from(["a", "b", "aa", "x.y", "$", "\\", "q\\E"])


@SET
@given(
    toks=st.lists(_sym, min_size=1, max_size=10),
    merge=st.tuples(_sym, _sym),
)
def test_bpe_regex_apply_matches_python_greedy(spark, toks, merge):
    """The regex merge pass equals the Python left-to-right greedy
    reference on arbitrary symbol streams, including metacharacter
    symbols and self-merges (a,a)."""
    from ibd_pipeline_spark.operators.bpe import MERGE_SEP, bpe_apply

    a, b = merge
    docs = spark.createDataFrame([(" ".join(toks),)], "text string")
    merges = spark.createDataFrame([(1, a, b)], "rank int, left string, right string")
    got = bpe_apply(docs, merges).collect()[0]["bpe_syms"]

    ref = []
    for x in toks:
        if ref and ref[-1] == a and x == b:
            ref[-1] = f"{a}{MERGE_SEP}{b}"
        else:
            ref.append(x)
    assert got == ref, (toks, merge)


@SET
@given(
    words_a=st.sets(st.sampled_from("abcdefgh"), min_size=3, max_size=8),
    words_b=st.sets(st.sampled_from("abcdefgh"), min_size=3, max_size=8),
)
def test_md5_minhash_component_match_exact(spark, words_a, words_b):
    """The engine's per-pair n_match equals a direct Python md5
    recomputation of the 16 MinHash components — the estimator's hash
    algebra (one md5 per shingle + Carter–Wegman family mixing) is
    engine-portable bit for bit. Single-token docs exercise the
    whole-text shingle fallback."""
    from ibd_pipeline_spark.queries.dedup import (
        _MINHASH_AB,
        _MINHASH_P,
        _md5_shingle_base,
        _minhash_sig,
    )

    text_a = " ".join(sorted(words_a))
    text_b = " ".join(sorted(words_b))

    def py_minhash(text):
        toks = text.split(" ")
        if len(toks) >= 3:
            sh = {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}
        else:
            sh = {text}
        bases = [
            int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % _MINHASH_P
            for s in sh
        ]
        return [min((a * h + b) % _MINHASH_P for h in bases) for a, b in _MINHASH_AB]

    expected = sum(
        1 for x, y in zip(py_minhash(text_a), py_minhash(text_b)) if x == y
    )
    df = spark.createDataFrame([(text_a,), (text_b,)], "text string").select(
        F.split("text", " ").alias("toks")
    )
    n = F.size("toks")
    k = 3
    gram = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(F.col("toks"), i + j + 1) for j in range(k)]
    )
    sh = F.array_distinct(
        F.when(n >= k, F.transform(F.sequence(F.lit(0), n - k), gram)).otherwise(
            F.array(F.concat_ws(" ", F.col("toks")))
        )
    )
    sigs = [
        r["sig"]
        for r in df.select(sh.alias("sh"))
        .withColumn("hb", _md5_shingle_base(F.col("sh")))
        .select(_minhash_sig(F.col("hb")).alias("sig"))
        .collect()
    ]
    got = sum(1 for x, y in zip(sigs[0], sigs[1]) if x == y)
    assert got == expected
