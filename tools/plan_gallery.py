#!/usr/bin/env python
"""Regenerate PLANS.md: formatted physical plans for a curated set of
headline queries, with the scale-relevant features extracted (pushed
filters, pruned schemas, join strategies, exchange count, codegen
spans). Run from the repo root:

    python tools/plan_gallery.py [sf_dir]
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from bench import plan_text  # noqa: E402

CURATED = {
    "analytics_skyline_pareto": "2-D skyline: distinct-revenue spine + "
    "block-stitched exclusive prefix max + one broadcast join back — no "
    "pairwise dominance join, no unpartitioned window.",
    "search_mmr_rerank": "5-step MMR greedy unroll: pool-sized broadcast "
    "joins + struct-max argmax per step; candidate generation is the only "
    "corpus-sized stage.",
    "train_bigram_perplexity": "gram-postings shape: bigram table build "
    "(vocab²-bounded shuffle) left-joined onto the held-out gram stream; "
    "decimal-quantized per-source fold.",
    "sketch_kmv_distinct_intersect": "mergeable min-k: per-partition "
    "partial k-smallest then one k-sized merge — never a data-sized "
    "collect; estimates on three k-arrays.",
    "stats_mood_median": "exact grand median off the distributed "
    "prefix-sum spine, broadcast back; 2×k cells fold decimal-quantized.",
    "q1_pricing_summary": "scan-filter-aggregate: date filter and 7-column "
    "projection pushed to parquet; partial+final hash aggregate on a 6-group key.",
    "q6_forecast_revenue": "pure pushdown showcase: all four predicates reach "
    "the scan, no join, single-row aggregate.",
    "q3_shipping_priority": "fact-fact shuffle join with AQE; filtered customer "
    "side becomes a runtime broadcast.",
    "q8_market_share": "7-table star: every dimension broadcast, single fact "
    "shuffle, conditional/total ratio in one aggregation pass.",
    "q18_large_orders": "aggregate-then-join: HAVING subquery shrinks lineitem "
    "before the orders join.",
    "q21_waiting_supplier": "EXISTS + NOT EXISTS on one fact table: planned as "
    "semi + anti joins sharing the orderkey shuffle.",
    "events_asof_join": "as-of join via union + last() window: one shuffle on "
    "the key, no range explosion.",
    "dedup_minhash_lsh": "staged dedup: digest groupBy, banded LSH equi-join, "
    "in-bucket exact verification — never all-pairs.",
    "similarity_bruteforce_topk": "broadcast query set against corpus scan; "
    "top-k via per-group window; Arrow only at the boundary.",
    "window_rank_topk_per_group": "single shuffle on the partition key; "
    "rank filter applied during sort output.",
    "events_rollup_cascade": "continuous-aggregate cascade: hourly grain "
    "re-aggregates 5-minute mergeable partials — raw events are read once.",
    "train_pack_sequences": "sequence packing: hash-shard shuffle + one "
    "per-shard sort window; pack assignment never materializes packs.",
    "merge_upsert_dimension": "MERGE as full-outer join + COALESCE; change "
    "batch derived in-scan, AQE broadcasts the small update side.",
    "events_sessionize_gaps": "gap sessionization: lag, cumulative-sum "
    "session ids, and the session aggregate all reuse ONE shuffle on user_id.",
    "events_cdc_latest_snapshot": "change-log compaction: row_number DESC "
    "with WindowGroupLimit pushing the top-1 into the sort.",
    "dedup_simhash": "explode+hash-agg signature build (64 per-bit sums in "
    "one map-side-combined aggregate), prefix-block self-join, Hamming verify.",
    "dedup_fuzzy_edit_distance": "prefix-block equi-join bounds Levenshtein "
    "to in-block pairs on fixed-width probes — no all-pairs, all codegen.",
    "text_tfidf_top_terms": "explode → two hash aggregates (tf, df) → "
    "broadcastable term join → per-language top-k window.",
    "join_interval_overlap": "interval self-overlap as equi-join on the "
    "customer key + range filter; fan-out bounded by per-key order count.",
    "dedup_lsh_recall_eval": "eval row costing one run of each audited "
    "machine: prefix-filter truth join (rare-postings bounded) + banded "
    "LSH candidates, integer-gated verifies, three one-row counts.",
    "similarity_knn_label_eval": "broadcast 10%-sample query side against "
    "one corpus scan; vote and accuracy folds are integer aggregates, "
    "top-k the only window (partitioned).",
    "stats_jonckheere_terpstra": "distinct-value frame + ONE multi-weight "
    "range-exchange prefix scan (two weights share the shuffle); the "
    "pairwise fold is 3 expressions, not a join.",
    "train_rendezvous_sharding": "|docs|×8 HRW weights fold map-side in a "
    "struct-max aggregate — the weight relation never materializes.",
    "train_curriculum_schedule": "per-language NTILE banding, then the global "
    "position via distributed ranking (range exchange + P-row offset "
    "broadcast) — no single-partition window survives (r8).",
    "customer_rfm_segments": "three NTILE axes melted to long form and ranked "
    "in ONE grouped range shuffle (operators/ranking.py); scores are "
    "row-local formulas, reassembled by a pivot aggregate.",
    "events_cusum_changepoint": "one shuffle to the day grain; rn/cumsum "
    "windows over the day-count frame, grand mean a 1-row broadcast, argmax "
    "a LIMIT-1 TakeOrdered.",
    "profile_join_size_estimate": "per-key count once; exact and key-sampled "
    "Σn² as two scalar aggregates cross-joined broadcast — the 10% branch "
    "is the production probe.",
    "similarity_kcenter_diverse": "k rounds of broadcast-centers + "
    "per-partition argmax reduced by top-1 TakeOrdered; corpus never "
    "self-joins.",
    "text_decontaminate_ngram_overlap": "zip_with-fold shingling in one "
    "projection, eval shingle set broadcast against the train explode — the "
    "train corpus never shuffles; contamination counts map-side-combine.",
    "text_unigram_logprob_score": "two-pass scoring: vocab hash-aggregate "
    "(shuffle O(vocab), not O(tokens)), corpus total as a broadcast 1-row "
    "aggregate, count re-join broadcast back onto the token explode.",
    "text_repetition_ratio": "widened single-split scan; shingle + distinct "
    "counts materialized once in an inner projection (CollapseProject keeps "
    "multi-referenced non-cheap expressions), ratios from scalars.",
    "dedup_cross_corpus_anti": "both corpora reduced to 128-bit digests "
    "before a single hash join; survivors and drops counted in one pass "
    "via FILTER aggregates instead of a second anti-join scan.",
    "quality_expectations_audit": "four constraint rules fused into ONE "
    "aggregate over one scan + an anti-join referential check; stack() "
    "unpivot emits the rule rows shuffle-free.",
    "similarity_kmeans_clusters": "Lloyd's via Arrow partial aggregation "
    "(r06): per round one mapInPandas pass of per-batch centroid sums "
    "(k·dim model state), driver update; printed plan = the aggregate "
    "over the materialized final assignment (iteration happens before).",
    "train_e2e_pipeline": "the FLAGSHIP: gate → decontaminate → dedup → "
    "chunk composed into one tree — filters fused into the scan, both "
    "anti-joins broadcast their small sides, zero intermediate "
    "materialization between stages.",
    # --- round 5 ---
    "train_bpe_pair_counts": "BPE merge step: zip_with pair stream (no "
    "positional explode), hash aggregate on the Zipf-small pair space, "
    "top-20 window over the aggregated result only.",
    "text_bigram_logprob_score": "bigram LM: pair + prefix counts are two "
    "chained hash aggregates off ONE corpus read; both re-join broadcast; "
    "exact-decimal per-doc mean.",
    "events_bounce_rate": "two window functions + the session-size "
    "aggregate share a single user_id exchange — same partition key and "
    "ordering collapse to one sort.",
    "events_anomaly_rolling_zscore": "aggregate-then-window: the trailing "
    "7-day frame sees one row per day; bounded ROWS frame = 7 values of "
    "state regardless of corpus size.",
    "quality_mad_outliers": "two grouped-percentile passes; each per-group "
    "constant (median, MAD) returns as a 5-row broadcast, so the fact "
    "table streams through both joins unshuffled.",
    "similarity_centroid_dims": "the k-means update step standalone: "
    "posexplode to (label, pos) rows, map-side-combined decimal mean — "
    "shuffle is labels × dims, independent of vector count.",
    "dedup_near_dup_prune": "the composed prune pipeline: digest agg → "
    "banded LSH join → label-propagation components → survivor anti/semi "
    "joins — every stage the attested scale shape, nothing materialized "
    "between them except the checkpointed reps relation.",
    # round-5 wave 3
    "recursive_cte_supplier_tree": "Spark 4 recursive CTE: the UnionLoop "
    "materializes each tree level; every step is a bounded join of "
    "supplier against the previous level's keys.",
    "join_lateral_topn_per_nation": "correlated LATERAL with ORDER BY + "
    "LIMIT: decorrelated into a per-nation rank window — no per-outer-row "
    "re-execution survives into the physical plan.",
    "stats_ks_two_sample": "distributed ECDF (r9): per-value count "
    "aggregate, then BOTH cumulative counts in one multi-weight "
    "distributed prefix-sum scan (range exchange + narrow Arrow cumsum, "
    "offsets over partition metadata) — no single-task WindowExec; "
    "statistic carried as exact integers to the final division.",
    "stats_wasserstein_drift": "earth-mover drift (r9): the same "
    "prefix-sum scan carrying THREE weights (c1, c2, unit rn), adjacent "
    "support gap via an rn equi-self-join of the once-checkpointed scan, "
    "decimal-domain segment sum.",
    "text_winnowing_fingerprints": "explode-based winnowing (r9 rewrite): "
    "grams to rows, bounded fan-out to their sliding windows, one "
    "(doc, window) min aggregate — each gram hashed exactly once (the "
    "nested-lambda column form re-hashed the whole gram array per window "
    "element: 745 s -> ~6 s at sf0.1).",
    "analytics_markov_attribution": "variant-tagged absorbing chain: "
    "corpus-scale journey windows + counts once, then a 16-round value "
    "iteration over a (channels+2)x(variants) frame — fixed cost "
    "regardless of event volume.",
    "join_banded_range": "equi-key-less range join via banding: hour "
    "bands on both sides (interval side explodes to <= 2 rows), plain "
    "shuffle equi-join on the band, exact containment filter after — "
    "never BNLJ, never cartesian.",
    "stats_bootstrap_ci": "Poisson bootstrap (r9): repartition BEFORE the "
    "B-draw explode (the compact-parquet fan-out lesson), per-resample "
    "partials map-side-combine — shuffle is B partials per partition, "
    "never B× the data.",
    "similarity_inverted_index_cosine": "sparse cosine via postings "
    "join on term (the scalable sparse form): per-term partial dot "
    "products hash-aggregate; norms broadcast back; candidate volume "
    "bounded by postings co-occurrence, never all-pairs.",
    # --- round 10 ---
    "stats_percentiles": "exact interpolated percentiles WITHOUT a "
    "per-group value buffer (r10): weight-1 grouped prefix-sum turns the "
    "running count into the exact rank; quantile_cont's interpolation is "
    "two rank-threshold conditional aggregates per quantile over ONE "
    "range-exchange scan.",
    "events_rolling_active_users": "rolling distinct actives as a "
    "14-offset coverage explode over per-day occupied-bucket partials "
    "(bounded by m×days, never 14× events) + linear-counting estimate — "
    "no COUNT(DISTINCT) OVER frame, no unpartitioned window (r10).",
    "similarity_ann_ivf": "IVF ANN: 16-centroid broadcast assignment "
    "scan, deterministic struct-max cell pick, probe fan-out ≤ 4 cells "
    "per query, cell equi-join scoring — scored pairs drop by "
    "n_centroids/n_probe vs brute force (r10: fully SQL-replayable).",
    "dedup_prefix_filter_jaccard": "EXACT Jaccard join via prefix "
    "filtering (PPJoin): vocab-sized frequency aggregate, "
    "rarest-prefix explode → candidate equi-join (postings-bounded, "
    "never all-pairs), exact set verify widened past AQE's size-based "
    "coalesce; words checkpointed so split() runs once, not per gram.",
    "similarity_ivfpq_topk": "IVF-PQ composed: checkpointed cell "
    "assignment (the persisted index) + PQ codes + per-query 8×16 "
    "decimal LUT; ADC shortlist top-20 then exact cosine rerank — "
    "per-query cost independent of corpus size.",
    "analytics_shapley_attribution": "corpus-scale journey windows "
    "collapse to a 16-row mask-count frame; coalition values and the "
    "integer-24ths Shapley sum are broadcast joins over literal "
    "spines — exponential in channels, constant in data.",
    "join_asof_nearest_tolerance": "nearest-as-of: ONE union-and-sort "
    "shuffle carries both direction fills (backward last + forward "
    "first over the same sorted union); integer second-gap pick, no "
    "range explosion, no second exchange.",
    "sketch_cms_heavy_hitters": "wordcount aggregate → 4-seed explode on "
    "the DISTINCT-token frame → ≤2048-row sketch; probe side broadcast — "
    "output size is fixed regardless of corpus.",
    "join_bloom_prefiltered": "hand-rolled runtime filter: one-row bloom "
    "bitset broadcast into the fact scan, one md5 + 3 O(1) word probes per row in "
    "codegen, then the exact broadcast join over survivors only.",
    "similarity_pca_top_component": "PCA by fixed-point power iteration: "
    "the mean and covariance are two exact BIGINT aggregates collected as "
    "model state, the rounds run on the driver; printed plan = the scan "
    "of the inlined d-row result VALUES.",
    "train_weighted_sample_ares": "A-Res weighted sampling: md5-uniform "
    "score per row, one per-source rank window — a weighted draw without "
    "replacement in a single shuffle, no rejection loop.",
    # --- round 11 ---
    "train_dsir_importance": "DSIR hash-trick importance weights: "
    "checkpointed token arrays (split once, not per gram), gram explode "
    "→ 256-bucket count aggregate (map-side combined), 256-row decimal "
    "log-ratio table broadcast back onto the checkpointed gram stream, "
    "one doc-key sum — feature state bounded at B buckets at any corpus "
    "size.",
    "dedup_semantic_clusters": "SemDeDup: session-shared attested "
    "k-means assignment (one fixpoint per session, shared with "
    "similarity_kmeans_clusters) + within-cluster pair join — candidates "
    "bounded Σ|c|²/2, fixed-point BIGINT dots via zip_with/aggregate "
    "inside codegen, no UDF, never corpus-quadratic.",
    "stats_logrank_test": "log-rank: one user-key shuffle builds "
    "time-to-first-purchase lifetimes (struct-MIN first-touch cohort in "
    "the same pass); at-risk via block-stitched cumsum; E/V decimal "
    "terms fold on the day-span-bounded duration frame — no "
    "unpartitioned window, corpus touched once.",
    # --- round 6 ---
    "text_bm25_ranking": "BM25: per-doc tf via higher-order list_filter "
    "(no explode), corpus stats as ONE 1-row broadcast aggregate, global "
    "top-10 as TakeOrderedAndProject — no full sort shuffle.",
    "profile_key_skew": "skew probe: two-level aggregate — map-side-"
    "combined (type, key) counts, then the per-type reduce; all integer "
    "floor-div outputs, O(|types|) result.",
    "quality_order_reconciliation": "rollup-vs-detail audit: the lineitem "
    "cents-exact decimal aggregate shares its orderkey shuffle with the "
    "left join; equal/over/under as FILTER-style conditional counts.",
    "quality_referential_orphans": "three FK orphan audits as independent "
    "anti-join branches of one union plan — dims broadcast, the "
    "orders⋈lineitem anti under AQE.",
    "events_stickiness_ratio": "avgDAU/WAU: daily and weekly COUNT "
    "DISTINCT share the (week, day, user) pre-dedup aggregate; ratio as "
    "integer basis points.",
    "similarity_quantize_int8": "int8 quantization audit: pure per-row "
    "higher-order transform (scale computed once per vector in an inner "
    "projection), then one label aggregate — no shuffle before the agg.",
    "dedup_quality_survivor": "survivorship dedup: ONE shuffle on the "
    "128-bit digest feeds the rank-1 window and the per-source rollup.",
    "dedup_minhash_jaccard_estimate": "estimator calibration on the "
    "oracle-bounded slice: shingle arrays + 16 md5 minhash components "
    "computed once per doc, all-pairs join exists only inside the "
    "400-doc bound; integer cross-multiplied gate.",
    "io_avro_payload_roundtrip": "Kafka-payload codec path: Confluent "
    "framing/unframing is pure codegen concat/substring; the Avro codec is "
    "one Arrow batch round-trip per partition (JVM expressions when "
    "spark-avro is deployed); map-side-combined event_type aggregate.",
    "multimodal_video_quality_gates": "binary-column gate shape: blobs stay "
    "in executor Arrow batches through ONE mapInPandas (real ISO-BMFF "
    "sample-table decode), output metadata-sized; no shuffle before the "
    "orderBy.",
    "dedup_lsh_band_planning": "one run of the prefix-filter truth side "
    "(rare-postings bounded, r14 probe) + four repeated-squaring s-curve "
    "expressions per pair folded map-side; output is |configs| rows.",
    "similarity_ivf_recall_curve": "per-curve-point cost = probed-cell "
    "candidates only (the cost axis it reports); truth is one broadcast "
    "|Q|x|C| scan shared across points via localCheckpoint.",
    "stats_cliffs_delta": "distinct-value frame + one multi-weight range "
    "exchange; the n_a*n_b pair space never materializes — dominance "
    "counts are 2 expressions over prefix sums.",
    "graph_ktruss_peel": "3 monotone peel rounds, each one oriented wedge "
    "join over the shrinking survivor set with per-round localCheckpoint "
    "so Catalyst never replays earlier rounds.",
    "dedup_lsh_calibration": "ONE run of the prefix-filter truth side + ONE "
    "banded-LSH run (shared session-cached minhash state), one s-curve "
    "codegen expression per true pair; predicted and measured recall meet "
    "in a single-row decimal subtraction.",
    "io_proto_payload_roundtrip": "proto-payload codec path: Confluent "
    "proto framing (6-byte literal concat) is pure codegen; the wire codec "
    "is one Arrow batch round-trip per partition (JVM expressions when "
    "spark-protobuf is deployed); map-side-combined event_type aggregate "
    "attests sizes against first-principles varint SQL.",
    "io_avro_logical_roundtrip": "logical-types payload path: decimal/date/"
    "timestamp encode-decode in one Arrow batch per partition, framing "
    "codegen; decimal sums stay exact through the decoded DecimalType "
    "column (dsum rule), 3-group map-side-combined aggregate.",
    "io_proto_embedding_roundtrip": "packed-vector transport: array<float> "
    "through one Arrow-batched codec round-trip per partition; the "
    "norm^2 fold is a codegen higher-order aggregate over the decoded "
    "array (decimal-quantized per element), 10-key map-side-combined.",
    "sketch_error_calibration": "two sketches re-run at their deployed "
    "configs: Bloom build+probe with a broadcast one-row bitset (zero "
    "shuffle on the probe side) and one m x weeks HLL register "
    "aggregate; the theory bounds are literals, output |instruments| "
    "rows.",
}


def features(plan: str) -> list[str]:
    out = []
    pushed = sorted(set(re.findall(r"PushedFilters: \[([^\]]*)\]", plan)))
    pushed = [p for p in pushed if p.strip()]
    if pushed:
        out.append(f"pushed filters: {len(pushed)} scan(s) with predicates")
    # Count operators via their detail-section headers "(N) OpName"
    # so the tree rendering doesn't double-count.
    ops = re.findall(r"^\(\d+\) (\w+)", plan, re.MULTILINE)
    for label in ("BroadcastHashJoin", "SortMergeJoin", "BroadcastNestedLoopJoin"):
        n = sum(1 for o in ops if o == label)
        if n:
            out.append(f"{label} ×{n}")
    shuffles = len(
        re.findall(
            r"^\(\d+\) Exchange\n(?:.*\n)*?Arguments: (?:hash|range)partitioning",
            plan,
            re.MULTILINE,
        )
    )
    out.append(f"shuffle exchanges: {shuffles}")
    if "ArrowEvalPython" in plan or "MapInPandas" in plan:
        out.append("Python via Arrow batches only")
    return out


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from ibd_pipeline_spark.queries import all_queries
    from ibd_pipeline_spark.session import DEFAULT_CPUS, get_spark

    spark = get_spark()
    qs = all_queries()
    lines = [
        "# PLANS — physical-plan gallery (generated by tools/plan_gallery.py)",
        "",
        f"Formatted plans at `{sf_dir}`, local[{DEFAULT_CPUS}]/AQE. "
        "Regenerate after planner-",
        "relevant changes. Each entry: why this plan shape is the one that",
        "survives a 100 TB scale-up (see SCALE.md for the full argument).",
        "",
        "## literal-barrier pattern (operators/ckpt.py:literal_barrier, r12)",
        "",
        "Frames whose projection embeds large literal expression trees",
        "(JL projections = 1024-node sums, hashed-gram lambda chains, wide",
        "CASE banks) are eagerly localCheckpointed behind ONE named helper:",
        "CollapseProject otherwise inlines the tree into every consumer, so",
        "Catalyst re-analyzes and codegen re-compiles it once per consumer",
        "(doubled by self-joins). Measured: similarity_ndcg_eval 9.6->7.8 s",
        "cold / 4.9->3.2 s warm (sf0.1) from checkpointing the projected",
        "corpus; train_dsir_importance gram build 2.3->0.6 s; the sibling",
        "fix for plan-CONSTRUCTION cost (r12) builds wide CASE banks as one",
        "F.expr parse instead of hundreds of py4j Column calls, taking",
        "similarity_ann_lsh ~2.0 s -> ~0.93 s warm (axis_sign_bucket_tables).",
        "Call sites: similarity_ndcg_eval, similarity_jl_projection,",
        "train_dsir_importance (x2).",
        "",
    ]
    for name, why in CURATED.items():
        formatted = plan_text(qs[name](spark, sf_dir))
        lines += [
            f"## {name}",
            "",
            why,
            "",
            "Extracted features: " + "; ".join(features(formatted)),
            "",
            "```",
            formatted.strip()[:6000],
            "```",
            "",
        ]
    Path("PLANS.md").write_text("\n".join(lines))
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
