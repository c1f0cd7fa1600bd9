"""Query registry: the engine's public query inventory.

Each query is registered with a decorator; the driver contract
(``__spark_entry__.py``) exposes exactly this registry. Queries are
callables ``(spark, sf_dir) -> DataFrame``; each also carries an
equivalent ANSI-SQL oracle string that DuckDB runs on the same parquet
tables for differential correctness (SURVEY.md §5.1).
tests/test_oracle_parity.py checks that no query lacks one.

Column-name contract: every computed column is aliased identically in
the Spark code and the oracle SQL — the driver sorts columns by name
before hashing values.

Float contract: double-valued aggregates round in the EXACT DECIMAL
domain before any division (dsum/davg below) — never round a computed
double quotient: Spark's round() goes through the double's shortest
string repr (BigDecimal.valueOf) while DuckDB rounds the exact binary
expansion, and the two diverge on shortest-repr half-points. The
sf0.1 scale-parity pass (tests/test_oracle_parity.py, -k at_scale)
is the canary for this class.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

_QUERIES: dict[str, QueryFn] = {}
_ORACLES: dict[str, str] = {}


def dsum(col, scale: int = 2):
    """Order-independent SUM for cross-engine value comparison: cast
    each double term to DECIMAL(28,8) (deterministic per-row), sum
    exactly (decimal addition commutes — no partial-aggregation-order
    noise), return double rounded to `scale`.

    Plain SUM(double) differs between engines (and between runs with
    different partitioning) in the last ulps; when the true value
    sits near a rounding boundary the rounded outputs diverge and the
    driver's value-hash flips. The SQL twin is
    ``CAST(ROUND(SUM(CAST(x AS DECIMAL(28,8))), scale) AS DOUBLE)`` —
    rounding happens in the exact decimal domain on both sides (HALF_UP
    away from zero) because decimal-structured data lands sums exactly
    on half-points, where double-rounding conventions diverge.
    """
    import pyspark.sql.functions as F

    return F.round(F.sum(col.cast("decimal(28,8)")), scale).cast("double")


def davg(col, scale: int = 4):
    """Partitioning- AND engine-independent AVG: exact decimal sum
    (order-independent), HALF_UP-rounded at `scale` IN THE DECIMAL
    DOMAIN, cast to double, divided by the non-null count. No rounding
    ever happens after the division — both engines divide bit-identical
    doubles by the same integer, so the comparison is exact.

    The earlier form (round the double *quotient*) was the r05 scale-
    parity lesson: Spark's round() goes through Java's
    BigDecimal.valueOf — i.e. the double's SHORTEST string repr —
    while DuckDB rounds the exact binary expansion; a quotient whose
    shortest repr lands on a half-point (47.25375 printing for
    47.253749999…97) rounds UP in Spark and DOWN in DuckDB. Rounding
    before the division keeps every rounding step in exact decimal,
    where both engines agree. SQL twin:
    ``CAST(ROUND(SUM(CAST(x AS DECIMAL(28,8))), scale) AS DOUBLE) /
    COUNT(x)`` (= weather.py's _avg_rsd, now the one true form)."""
    import pyspark.sql.functions as F

    return F.round(F.sum(col.cast("decimal(28,8)")), scale).cast(
        "double"
    ) / F.count(col)


def davg_sql(expr: str, scale: int = 4) -> str:
    return (
        f"CAST(ROUND(SUM(CAST({expr} AS DECIMAL(28,8))), {scale}) AS DOUBLE)"
        f" / COUNT({expr})"
    )


def dsum_sql(expr: str, scale: int = 2) -> str:
    return f"CAST(ROUND(SUM(CAST({expr} AS DECIMAL(28,8))), {scale}) AS DOUBLE)"


def query(
    name: str, oracle: "str | Callable[[], str] | None" = None
) -> Callable[[QueryFn], QueryFn]:
    """Register a query (and optionally its DuckDB oracle SQL).

    `oracle` may be a zero-arg callable returning the SQL — resolved
    lazily (and cached) on the first all_oracles() call. Used by the
    VALUES-literal oracles whose expected rows take real compute to
    generate (e.g. the pure-Python PNG decode twin): import stays
    fast; only oracle consumers pay."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in _QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        _QUERIES[name] = fn
        if oracle is not None:
            _ORACLES[name] = oracle
        return fn

    return deco


def all_queries() -> dict[str, QueryFn]:
    """Every registered query, in sorted-name order."""
    _ensure_loaded()
    return {n: _QUERIES[n] for n in sorted(_QUERIES)}


def all_oracles() -> dict[str, str]:
    """Oracle SQL of every query that has one, in sorted-name order."""
    _ensure_loaded()
    out: dict[str, str] = {}
    for n in sorted(_QUERIES):
        if n not in _ORACLES:
            continue
        o = _ORACLES[n]
        if callable(o):
            o = o()
            _ORACLES[n] = o  # resolve once, cache for the session
        out[n] = o
    return out


_LOADED = False


def _ensure_loaded() -> None:
    """Import every query module exactly once (registration side
    effects). DISCOVERY-DRIVEN since r11: every non-underscore module
    in this package is imported in sorted-name order, so a new themed
    module registers itself just by existing — no god-file import
    list to grow. Registration order doesn't matter: all_queries()
    and all_oracles() return sorted-name order. Duplicate names still
    fail loudly in query()."""
    global _LOADED
    if _LOADED:
        return
    import importlib
    import pkgutil

    pkg = __name__  # ibd_pipeline_spark.queries
    for m in sorted(
        info.name
        for info in pkgutil.iter_modules(__path__)
        if not info.name.startswith("_")
    ):
        importlib.import_module(f"{pkg}.{m}")

    _LOADED = True
