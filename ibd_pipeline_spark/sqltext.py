"""SQL-text expression builders.

A derived column written as one Spark SQL string (`selectExpr` /
`F.expr`) costs one gateway round-trip to build; the same expression
written as a tree of `Column` calls costs one round-trip per node,
and every repeated sub-tree is rebuilt (and re-walked by each AQE
re-optimization) as often as it is inlined. Builders here return SQL
text only; they never touch a session.
"""

from __future__ import annotations

import math
from collections.abc import Iterable
from decimal import Decimal


def string_literal(text: str) -> str:
    """`text` as a quoted Spark SQL string literal. Spark's parser reads
    ``\\`` as an escape inside quotes (unless
    ``spark.sql.parser.escapedStringLiterals`` is set), so backslashes
    are doubled before quotes are escaped; every other character,
    non-ASCII included, stands for itself."""
    return "'" + text.replace("\\", "\\\\").replace("'", "\\'") + "'"


def ident(name: str) -> str:
    """`name` as one backtick-quoted identifier (embedded backticks
    doubled): dots, spaces and keywords stay part of the name."""
    return "`" + name.replace("`", "``") + "`"


def sum_chain(terms: Iterable[str]) -> str:
    """Left-associative ``(t1) + (t2) + …``: the evaluation order of
    folding the terms with ``+`` one at a time, which is what a
    mirrored-order IEEE contract with another engine pins."""
    return " + ".join(f"({t})" for t in terms)


def literal(value, dtype: str) -> str:
    """`value` as a Spark SQL literal of type `dtype` (a Spark
    ``simpleString``: ``bigint``, ``double``, ``decimal(p,s)``, …).

    Typed on purpose: a bare ``1.5`` parses as DECIMAL(2,1) and a bare
    ``7`` as INT, so BIGINT gets the ``L`` suffix, DOUBLE an exact
    ``repr`` with the ``D`` suffix (non-finite values through a string
    cast), and everything else, DECIMAL included, a CAST of its exact
    string form."""
    if value is None:
        return f"CAST(NULL AS {dtype})"
    if dtype == "bigint":
        return f"{int(value)}L"
    if dtype == "double":
        v = float(value)
        return f"{v!r}D" if math.isfinite(v) else f"CAST('{v!r}' AS DOUBLE)"
    text = format(value, "f") if isinstance(value, Decimal) else str(value)
    return f"CAST({string_literal(text)} AS {dtype})"


def element_at_bank(values: list, dtype: str, index_sql: str) -> str:
    """``element_at(<array literal>, <index_sql>)``: a 1-based lookup
    into a constant bank of `dtype` values. One array literal, not a
    CASE chain, so it stays one folded constant however long the bank
    is (the CAST also types an empty bank)."""
    items = ", ".join(literal(v, dtype) for v in values)
    return f"element_at(CAST(array({items}) AS array<{dtype}>), {index_sql})"
