"""ibd_pipeline_spark/sqltext.py: typed literals and constant banks."""

from __future__ import annotations

import math
from decimal import Decimal

from ibd_pipeline_spark.sqltext import element_at_bank, literal, sum_chain


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
