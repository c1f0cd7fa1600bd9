#!/usr/bin/env python
"""Empirical scaling probe: measure wall time of representative
operators as input volume grows (1x / 4x / 16x) at $SPARK_GRAFT_SF_DIR
(default sf0.1), on the default session. The point is the SHAPE of the
curve — near-linear scan/agg, sub-linear candidate growth for LSH vs
quadratic for brute force — not the absolute numbers. Every case runs;
each timing is the best of 2 through bench.py's timing core. Results
land in SCALE.md §Measured scaling.

    python tools/scale_probe.py
"""

from __future__ import annotations

import inspect
import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import pyspark.sql.functions as F  # noqa: E402

from bench import SF_DIR, time_noop, warm  # noqa: E402


def timed(df) -> float:
    return min(time_noop(lambda: df, 2))


def replicate(df, times: int, id_cols: dict[str, int]):
    """Union `times` shifted copies so keys stay distinct per copy."""
    out = None
    for i in range(times):
        c = df
        for col, stride in id_cols.items():
            c = c.withColumn(col, F.col(col) + F.lit(i * stride))
        out = c if out is None else out.unionByName(c)
    return out


def main() -> None:
    from ibd_pipeline_spark.catalog import load
    from ibd_pipeline_spark.operators import dedup as D
    from ibd_pipeline_spark.operators.similarity import brute_force_topk, lsh_bucketed_topk
    from ibd_pipeline_spark.queries import all_queries
    from ibd_pipeline_spark.session import get_spark
    from ibd_pipeline_spark.sources.weather_synth import synth_weather_json
    from ibd_pipeline_spark.streaming.weather import weather_pipeline

    spark = get_spark()
    warm(spark, all_queries())
    results: dict[str, dict] = {}

    # 1. streaming-parity pipeline throughput: parse → window → agg
    for n in (1_000_000, 4_000_000, 16_000_000):
        results.setdefault("weather_pipeline_msgs", {})[str(n)] = timed(
            weather_pipeline(synth_weather_json(spark, n))
        )

    # 2. scan+filter+groupBy (q1 shape) over replicated lineitem
    li = load(spark, SF_DIR, "lineitem")
    for k in (1, 4, 16):
        fact = replicate(li, k, {"l_orderkey": 10_000_000})
        agg = (
            fact.filter(F.col("l_shipdate") <= F.lit("1998-09-01").cast("timestamp"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.sum("l_quantity").alias("sum_qty"),
                F.avg("l_extendedprice").alias("avg_price"),
                F.count(F.lit(1)).alias("n"),
            )
        )
        results.setdefault("scan_agg_lineitem_x", {})[str(k)] = timed(agg)

    # 3. fact-fact shuffle join over replicated orders ⋈ lineitem
    o = load(spark, SF_DIR, "orders")
    for k in (1, 4, 8):
        fact_l = replicate(li, k, {"l_orderkey": 10_000_000})
        fact_o = replicate(o, k, {"o_orderkey": 10_000_000})
        j = fact_o.join(fact_l, fact_o.o_orderkey == fact_l.l_orderkey).groupBy(
            "o_orderpriority"
        ).agg(F.count(F.lit(1)).alias("n"))
        results.setdefault("shuffle_join_x", {})[str(k)] = timed(j)

    # 4. ANN: brute force vs LSH as the corpus replicates
    emb = load(spark, SF_DIR, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("vec")
    )
    for k in (1, 4):
        corpus = replicate(emb, k, {"vec_id": 10_000_000}).select(
            F.col("vec_id").alias("corpus_id"), F.col("embedding").alias("vec")
        )
        results.setdefault("ann_bruteforce_x", {})[str(k)] = timed(
            brute_force_topk(q, corpus, k=5)
        )
        results.setdefault("ann_lsh_x", {})[str(k)] = timed(
            lsh_bucketed_topk(q, corpus, k=5, n_tables=8, bits_per_table=6, dim=64)
        )

    # 5. minhash LSH dedup as the corpus replicates (candidate growth)
    docs = load(spark, SF_DIR, "documents")
    for k in (1, 4):
        corpus = replicate(docs, k, {"doc_id": 10_000_000})
        reps = (
            corpus.groupBy(D.content_digest("text").alias("digest"))
            .agg(F.min(F.struct("doc_id", "text")).alias("rep"))
            .select(F.col("rep.doc_id").alias("doc_id"), F.col("rep.text").alias("text"))
        )
        pairs = D.minhash_candidate_pairs(reps, "doc_id", "text").filter(
            F.col("jaccard") >= 0.5
        )
        results.setdefault("minhash_lsh_x", {})[str(k)] = timed(pairs)

    # 5b. simhash signature build (explode + 32-sum hash-agg over md5
    # shingle hashes) as the corpus replicates — must stay linear in
    # corpus tokens.
    for k in (1, 4):
        corpus = replicate(docs, k, {"doc_id": 10_000_000})
        results.setdefault("simhash_signatures_x", {})[str(k)] = timed(
            D.simhash_signatures_md5(corpus)
        )

    # 5e. multi-table SimHash pair generation: 4 disjoint 8-bit chunk
    # tables must keep candidate growth bounded by block occupancy —
    # flat-to-linear in corpus, like the MinHash blockers, never
    # quadratic.
    for k in (1, 4):
        corpus = replicate(docs, k, {"doc_id": 10_000_000})
        pairs = D.simhash32_pairs(D.simhash_signatures_md5(corpus), tables=4)
        results.setdefault("simhash_multitable_x", {})[str(k)] = timed(pairs)
        D.release_state(pairs)

    # 5d. BPE regex apply (r06 form: K compiled regexp passes over the
    # joined symbol string) as the corpus replicates — the claim is
    # LINEAR in corpus bytes; the old array-fold form was quadratic in
    # per-doc symbols.
    from ibd_pipeline_spark.operators.bpe import bpe_apply, bpe_learn

    bpe_merges = bpe_learn(docs.filter(F.col("doc_id") % 20 == 0), n_merges=6)
    for k in (1, 4, 16):
        corpus = replicate(docs, k, {"doc_id": 10_000_000})
        results.setdefault("bpe_apply_x", {})[str(k)] = timed(
            bpe_apply(corpus, bpe_merges).groupBy().agg(
                F.sum("n_syms_after").alias("n")
            )
        )

    # 5c. gap sessionization + stream-stream attribution join (batch
    # form) as the events stream replicates — both single-shuffle-per-
    # side shapes that must stay linear.
    from ibd_pipeline_spark.streaming.joins import attribution_join

    ev = load(spark, SF_DIR, "events")
    for k in (1, 4):
        str_ev = replicate(ev, k, {"event_id": 10_000_000, "user_id": 10_000_000})
        # same plan shape as the events_sessionize_gaps registry query
        from pyspark.sql import Window

        w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        gap = F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
        sess = (
            str_ev.select(
                "user_id", "ts", "value",
                F.sum(
                    F.when(gap.isNull() | (gap > 6 * 3600 * 1_000_000), 1).otherwise(0)
                )
                .over(
                    Window.partitionBy("user_id")
                    .orderBy("ts", "event_id")
                    .rowsBetween(Window.unboundedPreceding, Window.currentRow)
                )
                .alias("session_seq"),
            )
            .groupBy("user_id", "session_seq")
            .agg(F.count(F.lit(1)).alias("n"), F.min("ts").alias("s"))
        )
        results.setdefault("sessionize_x", {})[str(k)] = timed(sess)
        results.setdefault("stream_join_batch_x", {})[str(k)] = timed(
            attribution_join(
                str_ev.filter(F.col("event_type") == "click"),
                str_ev.filter(F.col("event_type") == "purchase"),
                streaming=False,
            ).groupBy().agg(F.count(F.lit(1)).alias("n"))
        )

    # 6. skew: one key holding 90% of a 2.4M-row fact, joined to a
    # non-broadcastable dim — plain SMJ vs AQE skew-split vs salting.
    from ibd_pipeline_spark.operators.skew import salted_join

    fact = replicate(li, 4, {"l_orderkey": 10_000_000}).select(
        F.when(F.rand(1) < 0.9, F.lit(0))
        .otherwise(F.col("l_orderkey") % 10_000)
        .alias("k"),
        "l_quantity",
    )
    dim = spark.range(10_000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("dim_val")
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try:
        agg = lambda j: j.agg(  # noqa: E731
            F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("s")
        )
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        results.setdefault("skew_join", {})["plain_smj"] = timed(
            agg(fact.join(dim, "k"))
        )
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        results["skew_join"]["aqe_skew_split"] = timed(agg(fact.join(dim, "k")))
        results["skew_join"]["salted_8"] = timed(
            agg(salted_join(fact, dim, "k", "k", salt_factor=8))
        )
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")

    # 7. label propagation past the driver-solve bound: 100 chains of
    # 1000 vertices (99,900 edges), one seed at each chain's head. The
    # edge frame is over max_driver_edges, so the size probe declines
    # and the distributed loop runs — the path a large graph takes.
    from ibd_pipeline_spark.operators import graph as G

    bound = (
        inspect.signature(G.label_propagation)
        .parameters["max_driver_edges"]
        .default
    )
    edges = (
        spark.range(100_000)
        .filter(F.col("id") % 1000 != 999)
        .select(F.col("id").alias("src"), (F.col("id") + 1).alias("dst"))
    )
    seeds = spark.range(0, 100_000, 1000).select(
        F.col("id").alias("vertex"),
        F.concat(F.lit("c"), (F.col("id") / 1000).cast("int")).alias("label"),
    )
    if G._driver_rows(edges, bound) is not None:
        raise RuntimeError("the edge frame fits the driver solve")
    # Built inside the timed span: the loop runs its rounds' jobs while
    # constructing the result frame.
    lp_runs = time_noop(lambda: G.label_propagation(edges, seeds), 2)
    results["label_propagation"] = {
        "edges": edges.count(),
        "max_driver_edges": bound,
        "path": "distributed",
        "wall_s": min(lp_runs),
    }

    print(json.dumps(results, indent=2))
    spark.stop()


if __name__ == "__main__":
    main()
