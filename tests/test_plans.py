"""Physical-plan shape assertions: the scale contract.

Correct rows aren't enough — these tests pin the plan properties that
make the queries survive 100× data: filters reaching the parquet
scan, pruned read schemas, broadcast joins for dims, TakeOrdered for
top-k, partial aggregation, and sketch-accuracy bounds for the
approximate operators.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from ibd_pipeline_spark.catalog import load
from ibd_pipeline_spark.queries import all_queries

QUERIES = all_queries()


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    df = QUERIES["filter_project"](spark, sf_dir)
    plan = _plan(df)
    assert "PushedFilters: [" in plan
    assert "l_quantity" in plan.split("PushedFilters:")[1][:400]
    # Projection pruning: the scan must not read the unused columns.
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_tax" not in read_schema and "l_partkey" not in read_schema


def test_star_join_broadcasts_dims(spark, sf_dir):
    plan = _plan(QUERIES["join_star_broadcast"](spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 2, plan[:2000]
    assert "SortMergeJoin" not in plan


def test_topk_plans_as_take_ordered(spark, sf_dir):
    plan = _plan(QUERIES["sort_limit_topk"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_q1_partial_aggregation(spark, sf_dir):
    plan = _plan(QUERIES["q1_pricing_summary"](spark, sf_dir))
    # partial + final hash aggregate around the exchange
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_semi_join_is_semi_in_plan(spark, sf_dir):
    plan = _plan(QUERIES["join_semi"](spark, sf_dir))
    assert "LeftSemi" in plan


def test_whole_stage_codegen_covers_q1(spark, sf_dir):
    df = QUERIES["q1_pricing_summary"](spark, sf_dir)
    df.collect()  # AQE finalizes (and codegen-annotates) only on execution
    plan = _plan(df)
    assert "isFinalPlan=true" in plan
    # '*(n)' prefixes mark WholeStageCodegen spans in the plan string.
    assert "*(" in plan


def test_approx_count_distinct_error_bound(spark, sf_dir):
    # r09: the 5% bound is emitted BY the query (driver-attested
    # against a TRUE-literal oracle); assert it holds here too.
    rows = QUERIES["agg_approx_distinct"](spark, sf_dir).collect()
    assert rows and all(r.hll_within_5pct for r in rows)
    # and the exact columns really are the exact counts
    li = load(spark, sf_dir, "lineitem")
    exact = {
        r.l_returnflag: r.d
        for r in li.groupBy("l_returnflag")
        .agg(F.countDistinct("l_suppkey").alias("d"))
        .collect()
    }
    for r in rows:
        assert r.exact_suppliers == exact[r.l_returnflag]


def test_exact_distinct_excludes_null_keys(spark):
    """agg_approx_distinct's two-level exact distinct keeps
    COUNT(DISTINCT col) semantics: the NULL-col group of the distinct
    frame does not count."""
    from ibd_pipeline_spark.queries.relational import exact_distinct_count

    df = spark.createDataFrame(
        [("A", 1), ("A", 1), ("A", None), ("B", None)],
        "g string, k int",
    )
    rows = exact_distinct_count(df, "g", "k", "n").collect()
    got = {r["g"]: r["n"] for r in rows}
    # A: distinct non-null {1} -> 1; B: only NULL -> 0
    assert got == {"A": 1, "B": 0}


def test_approx_percentile_error_bound(spark, sf_dir):
    # r09: the GK rank guarantee is emitted BY the query
    # (driver-attested against a TRUE-literal oracle). r10: the
    # median_exact audit column is GONE from the production plan (it
    # cost a per-group value buffer); the plan must stay free of the
    # exact-percentile aggregate, and the counts anchor the bound.
    df = QUERIES["stats_approx_percentiles"](spark, sf_dir)
    rows = df.collect()
    assert rows and all(r.approx_rank_ok for r in rows)
    assert df.columns == ["l_returnflag", "n", "approx_rank_ok"]
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "percentile(" not in plan, "exact-percentile buffer crept back"
    li = load(spark, sf_dir, "lineitem")
    counts = {
        r.l_returnflag: r.c
        for r in li.groupBy("l_returnflag").agg(F.count("*").alias("c")).collect()
    }
    for r in rows:
        assert r.n == counts[r.l_returnflag]


def _formatted_plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_python_stage_queries_have_no_sort_above_python(spark, sf_dir):
    """Perf regression guard: a global orderBy above a Python stage
    makes the range-sort sample its child — executing the Python
    stage twice. The grouped-map queries must not reintroduce it
    (the correctness compare is order-insensitive)."""
    plan = _formatted_plan(QUERIES["apply_in_pandas_zscore"](spark, sf_dir))
    assert "FlatMapGroupsInPandas" in plan or "FlatMapGroupsInArrow" in plan
    assert "Sort" not in plan.split("FlatMapGroupsIn")[0], (
        "global sort above the Python stage re-executes it via range sampling"
    )


def test_simhash_signature_agg_is_codegen(spark, sf_dir):
    """Perf regression guard: the SimHash signature build must stay a
    plan (explode + hash aggregate inside WholeStageCodegen), never
    an interpreted per-bit mega-expression over the shingle array."""
    from ibd_pipeline_spark.operators.dedup import simhash_signatures_md5

    docs = load(spark, sf_dir, "documents")
    plan = _formatted_plan(simhash_signatures_md5(docs))
    # exactly one explode (one tokenize+hash pass, not 64)
    assert plan.count("(explode(") == 1 or plan.count("Generate") >= 1
    assert len([l for l in plan.splitlines() if ") Generate" in l]) == 1
    # partial+final hash aggregation around one exchange
    assert "partial_sum" in plan and "HashAggregate" in plan
    # the interpreted form's signature: per-bit aggregate() lambdas
    # over the shingle array — must not appear anywhere; each shingle
    # is hashed once, after the explode
    assert "aggregate(transform" not in plan and "md5(" in plan


def test_ann_auto_probe_reads_raw_relation(spark, sf_dir):
    """The broadcast-size probe must be a pure JVM CollectLimit over
    the raw query relation — not an execution of the bucket pandas
    UDF. Guarded by checking the probe's plan directly."""
    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    probe_plan = _formatted_plan(q.limit(100))
    assert "ArrowEvalPython" not in probe_plan
    assert "CollectLimit" in probe_plan or "GlobalLimit" in probe_plan


def test_bm25_no_shuffle_take_ordered(spark, sf_dir):
    """BM25's only wide ops are the 1-row corpus-stat reduce (an
    Exchange SinglePartition shipping ONE partial row per task — not
    data-sized) and its broadcast back: the top-10 must be
    TakeOrderedAndProject and the plan must contain zero hash/range
    (data-sized) shuffle exchanges."""
    plan = _plan(QUERIES["text_bm25_ranking"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    import re

    shuffles = [
        ln for ln in plan.splitlines()
        if re.search(r"\bExchange (hash|range)partitioning", ln)
    ]
    assert not shuffles, shuffles


def test_key_skew_two_level_aggregate(spark, sf_dir):
    """The skew probe is two aggregate levels (map-side-combined
    (type,key) counts, per-type reduce) — 4 HashAggregates (partial +
    final per level), no join anywhere."""
    plan = _plan(QUERIES["profile_key_skew"](spark, sf_dir))
    assert plan.count("HashAggregate") >= 4
    assert "Join" not in plan


def test_referential_orphans_broadcast_anti(spark, sf_dir):
    """Dim-side orphan audits plan as broadcast anti joins (nation and
    customer fit any threshold); no cartesian anywhere."""
    plan = _plan(QUERIES["quality_referential_orphans"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_survivor_single_digest_exchange(spark, sf_dir):
    """Survivorship dedup: the digest window and the source rollup
    must not multiply exchanges — at most 2 shuffle exchanges total
    (digest partition + the 20-group source agg)."""
    plan = _plan(QUERIES["dedup_quality_survivor"](spark, sf_dir))
    import re

    shuffles = [
        ln for ln in plan.splitlines()
        if re.search(r"\bExchange (hash|range|SinglePartition)", ln)
    ]
    assert len(shuffles) <= 3, shuffles
