"""Distributed sketch structures built from first principles on the
DataFrame API: a Count-Min sketch and a Bloom
filter whose hash functions are the engine-portable md5 idiom, plus
the md5-portable HyperLogLog registers for mergeable rollups.

Why hand-built sketches when Spark has `approx_count_distinct` and a
(JVM-internal) BloomFilter? Because the md5-derived forms are pure
functions of the data — identical in any engine, partitioning, and
rerun — which makes them (a) DuckDB-oracle-checkable exactly, and
(b) safe to persist and probe from a different system later (a CMS
table written by this engine can be probed by anything that can md5).

Scale notes per structure are on each builder.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

CMS_DEPTH = 4
CMS_WIDTH = 512

BLOOM_BITS = 8192
BLOOM_HASHES = 3


def md5_bucket(col: Column, seed: Column | int, mod: int) -> Column:
    """Engine-portable hash bucket: first 8 hex digits of
    md5(seed:value) mod `mod`. DuckDB twin:
    ``('0x' || substring(md5(seed || ':' || v), 1, 8))::BIGINT % mod``.
    """
    seed_c = F.lit(seed) if isinstance(seed, int) else seed
    keyed = F.concat_ws(":", seed_c.cast("string"), col.cast("string"))
    return (
        F.conv(F.substring(F.md5(keyed), 1, 8), 16, 10).cast("bigint") % mod
    )


def hll_registers(
    col: Column, m: int = 32, seed: str = "hll", rho_max: int = 56
) -> "list[Column]":
    """Engine-portable HyperLogLog register coordinates for one key:
    ``[b, r]`` where h is the 60-bit md5 prefix (15 hex chars — both
    engines parse it the same), b = h mod m is the register index and
    r = (trailing zeros of h div m) + 1 is the rank (geometric:
    P(r = k) = 2^-k via lowest-set-bit), capped at rho_max when the
    remainder is all zeros. Registers merge by MAX — mergeable
    partials, same algebra as DataSketches sketches.

    DuckDB twin (m = 32): ``h % 32`` and
    ``CASE WHEN h//32 = 0 THEN 56 ELSE
      CAST(ROUND(log2((h//32) & (-(h//32))), 0) AS INT) + 1 END``
    — log2 of an exact power of two is exact in both engines, so the
    rank is integer-deterministic. m must be a power of two (the div
    is a shift, exact on 60-bit values where a double division is
    not)."""
    bits = m.bit_length() - 1
    if m != 1 << bits:
        raise ValueError(f"m must be a power of two, got {m}")
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit(seed + ":"), col.cast("string"))), 1, 15),
        16,
        10,
    ).cast("bigint")
    w = F.shiftright(h, bits)
    r = (
        F.when(w == 0, F.lit(rho_max))
        .otherwise(F.round(F.log2(w.bitwiseAND(-w)), 0).cast("int") + 1)
        .alias("r")
    )
    return [(h % m).alias("b"), r]


def cms_build(counts: DataFrame, key: str, weight: str) -> DataFrame:
    """Count-Min sketch as a (seed, bucket, cnt) DataFrame, built from
    an already-aggregated (key, weight) frame. depth=4 rows of
    width=512 counters; every counter is the sum of the weights whose
    key hashes into it under that row's seed.

    Scale: the input aggregate is the only row-count-proportional
    shuffle; the sketch build explodes DEPTH rows per *distinct* key
    (not per occurrence) and reduces to at most DEPTH×WIDTH = 2048
    counters — the output is fixed-size no matter the corpus, which is
    the entire point of a sketch. Counters are exact sums, so the
    classic CMS guarantee holds deterministically: estimate ≥ truth,
    and overestimate ≤ colliding mass.
    """
    seeds = F.explode(F.sequence(F.lit(0), F.lit(CMS_DEPTH - 1))).alias("seed")
    return (
        counts.select(F.col(key), F.col(weight), seeds)
        .select(
            "seed",
            md5_bucket(F.col(key), F.col("seed"), CMS_WIDTH).alias("bucket"),
            F.col(weight),
        )
        .groupBy("seed", "bucket")
        .agg(F.sum(weight).cast("bigint").alias("cnt"))
    )


def cms_probe(cms: DataFrame, probes: DataFrame, key: str) -> DataFrame:
    """Estimate each probe key's count: min over the DEPTH rows of the
    counter its hash lands in. A bucket the build never touched holds
    an implicit 0, so the probe LEFT-joins the sketch and coalesces
    missing counters to 0 — a key absent from the sketch estimates 0
    (and still yields a row) instead of disappearing or taking the
    min over fewer, inflated rows (the r05 ADVICE defect; keys that
    WERE inserted are unaffected — all their buckets are non-empty).

    The sketch side is at most DEPTH×WIDTH rows by construction, so
    it is broadcast and the join never shuffles anything data-sized;
    the probe frame may be any size.
    """
    seeds = F.explode(F.sequence(F.lit(0), F.lit(CMS_DEPTH - 1))).alias("seed")
    probe_buckets = probes.select(
        F.col(key), seeds
    ).select(
        F.col(key),
        F.col("seed"),
        md5_bucket(F.col(key), F.col("seed"), CMS_WIDTH).alias("bucket"),
    )
    return (
        probe_buckets.join(F.broadcast(cms), ["seed", "bucket"], "left")
        .groupBy(key)
        .agg(
            F.min(F.coalesce("cnt", F.lit(0)))
            .cast("bigint")
            .alias("cms_estimate")
        )
    )


def bloom_positions(col: Column) -> list[Column]:
    """The BLOOM_HASHES bit positions of a key via Kirsch–Mitzenmacher
    double hashing: ONE md5 yields two 32-bit halves h1, h2, and
    position j is (h1 + j·(2·h2+1)) mod BLOOM_BITS — asymptotically as
    good as k independent hashes (Kirsch & Mitzenmacher 2006) at a
    third of the per-row hashing cost, which matters because the probe
    runs per FACT ROW in the pre-join gate (measured: 3 independent
    md5s were the dominant cost of the 600k-row probe scan). The
    2·h2+1 keeps the stride odd, so the k positions are distinct mod
    the power-of-two bit space.

    DuckDB twin of position j:
    ``(CAST(('0x'||substring(md5(v),1,8)) AS BIGINT)
       + j*(2*CAST(('0x'||substring(md5(v),9,8)) AS BIGINT)+1)) % 8192``
    """
    h = F.md5(col.cast("string"))
    h1 = F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint")
    h2 = F.conv(F.substring(h, 9, 8), 16, 10).cast("bigint")
    stride = h2 * 2 + 1
    return [
        ((h1 + F.lit(j) * stride) % BLOOM_BITS).alias(f"pos{j}")
        for j in range(BLOOM_HASHES)
    ]


BLOOM_WORD_BITS = 32
BLOOM_WORDS = BLOOM_BITS // BLOOM_WORD_BITS


def bloom_build(keys: DataFrame, key: str) -> DataFrame:
    """Bloom filter over a (small) key set as a ONE-ROW DataFrame:
    `bloom_bits` is the sorted distinct set-bit positions (the
    readable/testable form) and `bloom_words` is the same filter
    packed into a dense 256-word × 32-bit bitset — the form the probe
    uses, because membership against the packed word is ONE
    element_at + AND per hash (O(1)), where array_contains over the
    position list is a linear scan per probe (measured: the O(n)
    probe made a 600k-row fact scan 10× slower than the join it was
    supposed to protect). Intended for broadcast; the aggregation
    never touches the driver.

    At 100 TB the filter side must stay broadcast-sized (an eval set,
    a blocklist); for a big filter side you'd shard the bit space and
    turn the probe into a bucketed join on position-shard — same
    algebra, noted here for the scale path.
    """
    exploded = keys.select(
        F.explode(F.array(*bloom_positions(F.col(key)))).alias("pos")
    )
    bits = exploded.agg(F.sort_array(F.collect_set("pos")).alias("bloom_bits"))
    return bits.select(
        "bloom_bits",
        F.transform(
            F.sequence(F.lit(0), F.lit(BLOOM_WORDS - 1)),
            lambda w: F.aggregate(
                F.filter(
                    F.col("bloom_bits"),
                    lambda p: (p / BLOOM_WORD_BITS).cast("int") == w,
                ),
                F.lit(0).cast("bigint"),
                # shiftleft() needs a literal shift; pow(2, bit) is
                # exact in doubles for bit < 32, so the mask is exact.
                lambda acc, p: acc.bitwiseOR(
                    F.pow(F.lit(2.0), (p % BLOOM_WORD_BITS).cast("int")).cast(
                        "bigint"
                    )
                ),
            ),
        ).alias("bloom_words"),
    )


def bloom_maybe_contains(words_col: str, key: Column) -> Column:
    """Membership probe against the packed bitset: all k bits set ⇒
    'maybe present' (false positives possible, false negatives
    impossible). Each hash costs one element_at + shift + AND —
    constant work per row, whole-stage codegen."""
    cond = F.lit(True)
    for pos in bloom_positions(key):
        word = F.element_at(
            F.col(words_col), (pos / BLOOM_WORD_BITS).cast("int") + 1
        )
        mask = F.pow(F.lit(2.0), (pos % BLOOM_WORD_BITS).cast("int")).cast(
            "bigint"
        )
        cond = cond & (word.bitwiseAND(mask) != 0)
    return cond
