"""Physical-layout operators: multi-dimensional clustering for data
skipping (the Z-order pattern Delta/Iceberg expose as OPTIMIZE
ZORDER BY), as plain column algebra over plain parquet.

Why it matters at 100 TB: parquet readers prune row groups with
min/max statistics. Sorting by one column gives perfect pruning on
that column and none on others; interleaving the bits of several
rank-normalized columns (a Z-/Morton curve) gives every interleaved
column locality, so a predicate on ANY of them skips most row groups.
The whole thing is one range-partitioned sort before the write — a
layout decision, not an engine feature.

Everything here is deterministic integer arithmetic in whole-stage
codegen (rank → fixed-width bucket → bit interleave), which also
makes it exactly reproducible in the DuckDB oracle.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column


def zvalue(cols: list[Column], bits: int = 16) -> Column:
    """Interleave the low `bits` bits of each (already bucketed,
    non-negative) column into one Morton code: output bit
    i*len(cols)+j takes bit i of column j. 2 cols × 16 bits → 32-bit
    code in a long; supports up to 4 cols × 16 bits.

    Built as a sum of shifted single-bit masks — O(bits × cols)
    integer expressions, all codegen; no UDF, no loop at runtime."""
    n = len(cols)
    assert 1 <= n <= 4 and bits * n <= 63, "z-code must fit a signed long"
    z = F.lit(0).cast("long")
    for i in range(bits):
        for j, c in enumerate(cols):
            src = c.cast("long")
            bit = F.shiftright(src, i).bitwiseAND(F.lit(1))
            z = z + F.shiftleft(bit, i * n + j)
    return z


def rank_bucket(c: Column, lo: float, hi: float, bits: int = 16) -> Column:
    """Normalize a numeric column into [0, 2^bits) with fixed bounds —
    the value→grid mapping for zvalue(). Fixed (lo, hi) rather than a
    computed min/max keeps the code a pure row function (no extra
    pass, engine-independent); clamp handles outliers."""
    span = hi - lo
    # explicit floor: CAST(float AS BIGINT) truncates in Spark but
    # ROUNDS in DuckDB — floor-then-cast is identical in both.
    scaled = F.floor((c - F.lit(lo)) / F.lit(span) * F.lit((1 << bits) - 1)).cast(
        "long"
    )
    return F.greatest(F.lit(0).cast("long"), F.least(scaled, F.lit((1 << bits) - 1)))

