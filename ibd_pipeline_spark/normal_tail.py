"""Shared normal-tail machinery for the statistics queries and the
streaming monitors: one SQL form for the DuckDB oracles and SQL-text
builders, one Column form for DataFrame builders.

Zelen & Severo 26.2.17 polynomial for the standard normal CDF — plain
double algebra (exp + one polynomial) that Spark and DuckDB evaluate
bit-identically; |error| < 7.5e-8, far inside every caller's
ROUND(…, 8)."""

from __future__ import annotations

import pyspark.sql.functions as F

_PHI_B = (0.319381530, -0.356563782, 1.781477937, -1.821255978, 1.330274429)


def _phi_tail_sql(z: str) -> str:
    """SQL for P(Z > z), z ≥ 0 (upper tail)."""
    k = f"(1.0 / (1.0 + 0.2316419 * {z}))"
    poly = (
        f"((((({_PHI_B[4]} * {k} + {_PHI_B[3]}) * {k} + {_PHI_B[2]}) * {k}"
        f" + {_PHI_B[1]}) * {k} + {_PHI_B[0]}) * {k})"
    )
    return (
        f"(0.3989422804014327 * exp(-0.5 * {z} * {z}) * {poly})"
    )


def _phi_tail_col(az):
    """Spark twin of _phi_tail_sql: P(Z > az) for az >= 0 — the same
    double algebra, bit-identical across engines."""
    k = F.lit(1.0) / (F.lit(1.0) + F.lit(0.2316419) * az)
    poly = (
        (
            (
                (F.lit(_PHI_B[4]) * k + F.lit(_PHI_B[3])) * k
                + F.lit(_PHI_B[2])
            )
            * k
            + F.lit(_PHI_B[1])
        )
        * k
        + F.lit(_PHI_B[0])
    ) * k
    return F.lit(0.3989422804014327) * F.exp(F.lit(-0.5) * az * az) * poly
