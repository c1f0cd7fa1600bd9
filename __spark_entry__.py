"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)  — flagship pricing-summary query at sf0.001.
queries()     — full registry from ibd_pipeline_spark.queries.
oracle_sql()  — DuckDB oracles for every query.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, str(Path(__file__).resolve().parent))

SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    The flagship is the composed training-data preprocessing pass
    (quality gate → benchmark decontamination → cross-corpus dedup →
    chunking as ONE Catalyst plan, queries/llmdata.py:
    train_e2e_pipeline) — the query that states what this engine IS;
    oracle-attested like every other stage of it."""
    from ibd_pipeline_spark.queries import all_queries

    return all_queries()["train_e2e_pipeline"](spark, SF0001)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, in
    sorted-name order."""
    from ibd_pipeline_spark.queries import all_queries

    return all_queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query, in sorted-name order; every
    query has one (tests/test_oracle_parity.py)."""
    from ibd_pipeline_spark.queries import all_oracles

    return all_oracles()
