"""ibd_pipeline_spark/sqltext.py: typed and string literals, identifiers,
constant banks."""

from __future__ import annotations

import math
from decimal import Decimal

from ibd_pipeline_spark.sqltext import (
    element_at_bank,
    ident,
    literal,
    string_literal,
    sum_chain,
)


def test_literals_round_trip_exactly_with_their_type(spark):
    cases = [
        (2**62 + 1, "bigint"),
        (-7, "bigint"),
        (0.1, "double"),
        (1e20, "double"),
        (-1.2345678901234567e-05, "double"),
        (float("inf"), "double"),
        (Decimal("12345678901234567890123456789.12345678"), "decimal(38,8)"),
        (None, "double"),
    ]
    row = spark.sql(
        "SELECT " + ", ".join(f"{literal(v, t)} AS c{i}" for i, (v, t) in enumerate(cases))
    )
    assert [f.dataType.simpleString() for f in row.schema.fields] == [t for _, t in cases]
    assert list(row.first()) == [v for v, _ in cases]
    nan = spark.sql(f"SELECT {literal(float('nan'), 'double')} AS x").first()["x"]
    assert math.isnan(nan)


def test_element_at_bank_and_sum_chain(spark):
    bank = element_at_bank([5, None, 7], "bigint", "CAST(id AS INT) + 1")
    got = spark.range(3).selectExpr(f"{bank} AS b").collect()
    assert [r["b"] for r in got] == [5, None, 7]
    empty = spark.range(0).selectExpr(f"{element_at_bank([], 'double', '1')} AS b")
    assert empty.schema["b"].dataType.simpleString() == "double"
    assert sum_chain(["a", "b * 2", "c"]) == "(a) + (b * 2) + (c)"


STRINGS = [
    "plain",
    "it's",
    "back\\slash",
    "trailing\\",
    "\\'",
    "''",
    "New York, NY",
    "Bucureşti — Zürich ☀ 東京",
    "tab\tnew\nline",
    "",
]


def test_string_literals_round_trip(spark):
    row = spark.sql(
        "SELECT " + ", ".join(f"{string_literal(v)} AS c{i}" for i, v in enumerate(STRINGS))
    ).first()
    assert list(row) == STRINGS
    assert literal("it's", "string") == "CAST('it\\'s' AS string)"
    got = spark.sql(f"SELECT {literal(STRINGS[2], 'string')} AS s").first()["s"]
    assert got == STRINGS[2]


def test_ident_quotes_any_column_name(spark):
    names = ["a.b", "with space", "back`tick", "select", "Zürich"]
    df = spark.sql(
        "SELECT " + ", ".join(f"{i} AS {ident(n)}" for i, n in enumerate(names))
    )
    assert df.columns == names
    got = df.selectExpr(*[f"{ident(n)} + 10 AS {ident(n)}" for n in names]).first()
    assert list(got) == [10 + i for i in range(len(names))]
