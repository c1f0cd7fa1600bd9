#!/usr/bin/env python
"""Benchmark harness: runs EVERY registered query at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
the default session (local[$SPARK_GRAFT_CPUS], else every core this
process may run on) and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Two parts: the curated HEADLINE list (volume-doing queries, the r01
set first and best-of-3, the rest best-of-2; their sum is the printed
"value") plus the full-registry tail (everything else, one timed run
each) so no query is regression-blind; tail alarms use wider
thresholds since both sides of a tail ratio are single runs.

Each query is forced end-to-end with the noop sink (full computation,
no driver collect — the reference's collect() bottleneck,
spark_processor.py:168, is exactly what we avoid measuring).

Round-over-round regression tracking: the full per-query detail —
all three raw runs per query (the variance evidence), "vs_r01" AND
"vs_prev" ratios over EVERY query (vs the previous round's recorded
timings, so a blowup in any post-r01 query trips the alarm too), and
the merged "regressions" list — is written to BENCH_FULL.json next to
this script. The PRINTED line is kept compact (r01-era per-query map
+ totals + regression summary) because the driver records only the
last 2000 bytes of stdout: the r02–r04 60-query lines overflowed that
window and landed as parsed=null. Previous-round timings are loaded
from BENCH_COMMITTED.json (else a leftover BENCH_FULL.json) when its
scale factor matches the run's.

The timing core — `time_noop`, `warm` and `plan_text` — is shared by
the tools in tools/ (opt_measure, scale_probe, plan_gallery), so every
harness times and plans a frame the same way.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
R01_PATH = Path(__file__).resolve().parent / "BENCH_r01.json"

# Round-1 headline set — kept intact and first, in the same order, so
# BENCH_r02+ is 1:1 comparable against BENCH_r01 per query.
HEADLINE_R01 = [
    "q1_pricing_summary",
    "join_shuffle_orders_lineitem",
    "join_star_broadcast",
    "agg_distinct",
    "window_rank_topk_per_group",
    "window_running_agg",
    "events_tumbling_window",
    "events_session_window",
    "events_asof_join",
    "dedup_exact",
    "dedup_minhash_lsh",
    "similarity_bruteforce_topk",
    "similarity_ann_lsh",
    "text_token_stats",
    "text_quality_filter",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    # widest joins + correlated-subquery decorrelation in the suite
    "q9_product_profit",
    "q21_waiting_supplier",
    # iterative fixpoint op (connected components over near-dup pairs)
    "dedup_cluster_components",
    # approx (t-digest) percentiles, not exact: exact percentile's
    # per-group value buffering is the anti-scale path (3 groups →
    # 3 giant single-task sorts); the sketch is the one you'd run.
    "stats_approx_percentiles",
    # continuous-aggregate cascade + sequence packing + MERGE upsert
    "events_rollup_cascade",
    "train_pack_sequences",
    "train_embed_quantize_int8",
    "merge_upsert_dimension",
    "weather_synth_throughput",
]

# The rest of the timed headline: queries that do real volume work.
# Input-bounded coverage queries (scalar_* samples, the oracle-bounded
# calibration and audit slices) stay out — they measure task-launch
# overhead, not the engine — and ride the full-registry tail instead.
HEADLINE = HEADLINE_R01 + [
    # analytic windows: the value-based frame variants
    "window_time_range_frame",
    # UDF family: Arrow scalar + grouped-map paths at volume
    "pandas_udf_scalar",
    "apply_in_pandas_zscore",
    # product analytics (conditional-agg funnel, cohort triangle)
    "funnel_signup_purchase",
    "retention_cohorts",
    # semi-structured: VARIANT parse + aggregate over events.props
    "variant_json_stats",
    # deterministic content-hash sampling
    "stratified_hash_sample",
    # similarity: the IVF ANN path (LSH ANN is already above)
    "similarity_ann_ivf",
    # dedup: bit-algebra SimHash + the new prefix-blocked Levenshtein
    "dedup_simhash",
    "dedup_fuzzy_edit_distance",
    # composite pipeline shapes (round 2)
    "events_sessionize_gaps",
    "events_cdc_latest_snapshot",
    "join_interval_overlap",
    "agg_histogram_bins",
    "text_tfidf_top_terms",
    "train_curriculum_schedule",
    # TPC-H: pure scan-filter-agg + the agg-then-join heavy hitter
    "q6_forecast_revenue",
    "q18_large_orders",
    # multimodal Arrow plumbing at volume (stub codec, real batching)
    "multimodal_feature_extract",
    # real-codec audio decode over Arrow batches
    "multimodal_audio_features",
    # stream-stream attribution join, batch twin
    "events_attribution_join",
    # Z-order layout audit (global-sort + stats — the layout pass)
    "zorder_rowgroup_skipping",
    # gaps-and-islands streaks + corrupt-record quarantine
    "window_activity_streaks",
    "scalar_json_quarantine",
    # shingle explode → broadcast overlap join (decontamination)
    "text_decontaminate_ngram_overlap",
    # two-pass token scoring (vocab agg + broadcast re-join)
    "text_unigram_logprob_score",
    # per-row higher-order array ops at volume
    "text_repetition_ratio",
    # hash-reduce cross-corpus anti dedup
    "dedup_cross_corpus_anti",
    # ordered per-group assembly (collect_list + struct sort)
    "train_conversation_assembly",
    # iterative Lloyd's (4 rounds, centroid re-broadcast)
    "similarity_kmeans_clusters",
    # fused constraint audit (one aggregate + anti-join) and the
    # temporal probe-vs-history join
    "quality_expectations_audit",
    "join_point_in_time_scd2",
    # the composed preprocessing pass: gate → decontaminate → dedup →
    # chunk as ONE Catalyst tree
    "train_e2e_pipeline",
    # second iterative op (power iteration + label propagation)
    "dedup_pagerank_canonical",
    # adjacent-pair explode → hash agg (the BPE merge-step plan)
    "train_bpe_pair_counts",
    # word explode → two-level agg
    "text_vocab_hapax_stats",
    # per-user window lead + pair agg
    "events_transition_matrix",
    # agg + 3 global ntile windows
    "customer_rfm_segments",
    # exact grouped percentiles (the sketch's value oracle)
    "text_length_percentiles",
    # digest agg → histogram agg
    "dedup_cluster_size_stats",
    # posexplode dim-wise mean (k-means update primitive)
    "similarity_centroid_dims",
    # two grouped-percentile passes + broadcast joins
    "quality_mad_outliers",
    # per-row interval arithmetic + agg
    "events_late_arrival_audit",
    # double window (per-source + global) interleave
    "train_interleave_roundrobin",
    # shared-shuffle double window + session-size agg
    "events_bounce_rate",
    # positional n-gram explode → co-partitioned (doc, gram) agg
    "text_repeated_span_detection",
    # pair + prefix hash-aggs, broadcast re-join (bigram LM)
    "text_bigram_logprob_score",
    # aggregate-then-window trailing-frame anomaly scan
    "events_anomaly_rolling_zscore",
    # two-decimal-accumulator weighted mean
    "agg_weighted_stats",
    # global cumulative-ECDF window over the distinct-value frame
    "stats_ks_two_sample",
    # global rank window over the pooled sample (tie-corrected U)
    "stats_mann_whitney_u",
    # contingency count agg + margins on the cell frame
    "stats_chi_square_independence",
    # day-grain decimal agg + fixed-horizon lag smoothing
    "events_ewma_daily",
    # wordcount + 4-seed sketch reduce + broadcast probe
    "sketch_cms_heavy_hitters",
    # per-row triple md5 probe against a broadcast bit set
    "sketch_bloom_contamination_gate",
    # per-day HLL partials + weekly union vs direct vs exact
    "sketch_hll_daily_union",
    # shingle explode → broadcast containment join + pair agg
    "train_contamination_containment",
    # segment document-frequency join (boilerplate pass)
    "text_boilerplate_sentences",
    # full-orders broadcast VALUES join + decimal agg
    "join_values_inline_dim",
    # full-lineitem try-family expressions + agg
    "scalar_try_safe_arithmetic",
    # iterative covariance-action power iteration (8 rounds)
    "similarity_pca_top_component",
    # iterative full-batch GD (12 rounds, broadcast weights)
    "train_logreg_quality_gate",
    # bitset bloom probe inside the fact scan + exact join
    "join_bloom_prefiltered",
    # md5-scored weighted draw (one per-source rank window)
    "train_weighted_sample_ares",
    # per-source cumulative-mass cut (shared-window pair)
    "train_nucleus_topp_per_source",
    # null-safe full-outer reconciliation diff
    "quality_snapshot_diff",
    # iterative merge learning (sample) + one-scan K-fold apply
    "train_bpe_learn_apply",
    # chained MIN-anchor ordered funnel (user-co-partitioned)
    "events_funnel_ordered_steps",
    # LSH-pair label propagation (iterative, vertex state)
    "dedup_label_propagation",
    # spine restore + IGNORE NULLS edge windows + line fill
    "events_linear_interpolate_gaps",
    # per-type freshness agg + broadcast SLA dim
    "quality_freshness_sla",
    # wordcount → vocab rank window → decimal moment fit
    "text_zipf_fit",
    # shared-shuffle double edge windows (nearest as-of)
    "events_asof_nearest",
    # first-seen join + day rollup (growth accounting)
    "events_new_vs_returning",
    # per-basket quadratic pair join + lift gate
    "analytics_market_basket_pairs",
    # per-user agg + one global rank window (concentration)
    "quality_activity_gini",
    # corpus bigram agg + state-space fixpoint (16 rounds)
    "events_markov_stationary",
    # per-source agg + closed-form waterfill windows
    "train_epoch_waterfill",
    # the four-term IVM identity (full-join oracle)
    "maintenance_incremental_join_view",
    # metadata-frame bin-packing (small-files planner)
    "maintenance_compaction_plan",
    # two-table blocked perceptual pair search
    "multimodal_phash_near_dup",
    # count-frame entropy fold (partition-key profiling)
    "quality_column_entropy",
    # shingle first-seen join (novelty curve)
    "text_ngram_novelty",
    # delta-restricted band join + verification
    "dedup_incremental_lsh",
    # one-scan Expand aggregate + exact percentiles (dataset card)
    "train_dataset_card",
    # per-day sketch agg + windowed HLL unions (rolling actives)
    "events_rolling_active_users",
    # 4-rotation banded self-join + Hamming verify
    "dedup_simhash_multitable",
    # corpus-stat broadcast + per-doc higher-order tf scoring + top-k
    "text_bm25_ranking",
    # two-level key-count aggregate (skew probe)
    "profile_key_skew",
    # conditional-MIN funnel + exact latency percentiles
    "events_funnel_latency",
    # per-row higher-order quantize + label agg
    "similarity_quantize_int8",
    # digest window rank-1 survivorship
    "dedup_quality_survivor",
    # decimal rollup join reconciliation
    "quality_order_reconciliation",
    # (user,type) lag window + grouped exact percentiles
    "events_inter_arrival_stats",
    # grouped percentile pass + broadcast clip + decimal mean
    "events_value_winsorize",
    # three concurrent anti-join audits in one union plan
    "quality_referential_orphans",
    # shared pre-dedup shuffle double COUNT DISTINCT
    "events_stickiness_ratio",
    # k x power-iteration with deflation — previously unbenchmarked;
    # surfaced at 22 s, now 7 s after the r06 cadence/early-exit fix
    "similarity_pca_top_k",
    # day-grain MA/seasonal windows over the daily aggregate
    "events_seasonal_decompose",
    # md5-portable LSH (bounded slice) + two-sided source rollup
    "dedup_source_overlap_matrix",
    # max-|CUSUM| level-shift: day-grain rn/cumsum + 1-row broadcast
    "events_cusum_changepoint",
    # per-key counts + md5-portable 10% key sample, all-integer outputs
    "profile_join_size_estimate",
    # day-grain calendar self-join + single-row error aggregate
    "events_forecast_backtest",
    # banded-LSH candidates vs exact shingle-join truth (bounded slice)
    "dedup_blocking_quality",
    # greedy farthest-point: k rounds of broadcast + top-1 TakeOrdered
    "similarity_kcenter_diverse",
    # per-user window, rn<=3 prefilter, path groupBy + top-10
    "events_top_paths",
    # day-grain pairwise slopes (day-count bounded) + exact medians
    "stats_theil_sen_trend",
    # distinct (type,user) projection + bucket-set algebra + lc formula
    "sketch_audience_overlap",
    # one conditional aggregate + broadcast dim join + 1-row total
    "analytics_mix_shift_decompose",
    # partitioned LEAD window + day-grain weighted aggregate
    "events_time_weighted_avg",
    # 4 rules x two-level (det,dep) aggregates on a pruned projection
    "profile_functional_dependencies",
    # distributed prefix sum: range exchange + Arrow cumsum + offsets
    "stats_weighted_median",
    # global-sort window blocking: rn equi-join on exploded offsets
    "dedup_sorted_neighborhood",
    # two range exchanges (grouped + global rank) + integer rank join
    "train_quantile_normalize",
    # explode + vocab-sized hash aggregates + broadcast totals
    "text_distinctive_terms",
    # (type, day) aggregate -> per-type integer moments, no window
    "events_trend_per_type",
    # two year-pruned aggregates + one join + 128-bit moment aggregate
    "ab_cuped_variance_reduction",
    # one prefix-sum scan -> all quartiles as integer thresholds
    "stats_weighted_quartiles",
    # one customer aggregate + one 128-bit moment row, no window
    "ab_ratio_metric_delta",
    # (dedup_near_dup_prune is deliberately NOT here: the end-to-end
    # pipeline runs the portable-hash attestation mode over the full
    # corpus + an iterative CC — ~10 s of mostly fixed per-round
    # scheduler cost at sf0.1. Its stages are benchmarked separately:
    # dedup_minhash_lsh, dedup_cluster_components.)
    # one 3-weight prefix-sum scan + rn self-join (earth mover drift)
    "stats_wasserstein_drift",
    # contingency agg + broadcast margins (MI + Cramér's V)
    "stats_mutual_information",
    # user-lifetime agg + day-bounded product-limit windows
    "stats_kaplan_meier",
    # journey windows + variant-tagged absorption fixpoint (16 rounds)
    "analytics_markov_attribution",
    # band-exploded equi join + containment filter (range join)
    "join_banded_range",
    # pair explode → vocab-keyed aggregates + integer PMI gate
    "text_pmi_collocations",
    # per-file tombstone aggregate (merge-on-read planner)
    "maintenance_deletion_vectors",
    # QI group-size aggregates (privacy audits share one scan shape)
    "quality_k_anonymity",
    # frequency-ordered prefix join + exact set verify (PPJoin)
    "dedup_prefix_filter_jaccard",
    # broadcast 128-row centroid fan-out + struct-min codes (PQ)
    "similarity_pq_codes",
    # two distinct-value prefix-sum scans + rank re-joins (Spearman)
    "stats_spearman_corr",
    # first-occurrence vocab buckets + window-free cumsum (Heaps)
    "text_heaps_law",
]


def time_noop(build, runs: int) -> list[float]:
    """Wall seconds (3 decimals) of `runs` executions of `build()`,
    each forced end-to-end through the noop sink: full computation, no
    driver collect. Building the frame is inside the timed span, since
    construction costs py4j round-trips and, for many builders, eager
    jobs."""
    out = []
    for _ in range(runs):
        t0 = time.perf_counter()
        build().write.format("noop").mode("overwrite").save()
        out.append(round(time.perf_counter() - t0, 3))
    return out


def plan_text(df) -> str:
    """`df`'s formatted plan: the text of `explain("formatted")`."""
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def warm(spark, registry) -> None:
    """Warm the JVM once: q1 plus the codegen-heavy weather pipeline at
    small N (same plan shape as the timed 1M run). Warming *every* plan
    was tried and measured slower overall: tens of generated classes
    churn the JIT enough that the timed runs lose their compiled code
    again."""
    from ibd_pipeline_spark.sources.weather_synth import synth_weather_json
    from ibd_pipeline_spark.streaming.weather import weather_pipeline

    time_noop(lambda: registry["q1_pricing_summary"](spark, SF_DIR), 1)
    time_noop(lambda: weather_pipeline(synth_weather_json(spark, 10_000)), 1)


def main() -> None:
    from ibd_pipeline_spark.queries import all_queries
    from ibd_pipeline_spark.session import get_spark

    spark = get_spark(app_name="ibd-pipeline-bench")
    registry = all_queries()
    warm(spark, registry)

    def runs_of(name: str, n: int) -> list[float]:
        return time_noop(lambda: registry[name](spark, SF_DIR), n)

    # Best-of-3 per query: the first execution of a plan at volume
    # pays JIT tier-up on the hot loops (measured 3-15× noise on
    # otherwise-identical runs), and this box shows multi-second
    # scheduling jitter on the wide-join queries run-to-run; the
    # minimum is the steady-state number a long-lived cluster job
    # sees.
    prev = _load_prev_timings()

    # Contention canary (r10, VERDICT r9 #4): time one fixed scan-agg
    # query FIRST and compare to its committed timing. On a loaded box
    # every query inflates together (driver r9 rerun: 11/11 "regression"
    # flags were 2-4× contention noise on unchanged code); scaling the
    # alarm thresholds by canary_now/canary_committed makes the
    # regression list survive a loaded box while a genuinely changed
    # query still trips it (its inflation exceeds the canary's).
    CANARY = "q6_forecast_revenue"  # pure scan-agg, no shuffle, stable
    # r15 measurement fix: one UNTIMED warm run first. The canary is
    # the first execution of ITS plan in the session, so run 1 paid
    # plan compile + JIT tier-up (measured 1.18 s vs 0.61 s steady on
    # an idle box) and inflated load_factor — which scales every
    # regression threshold. The warm run makes the canary measure the
    # box, not the JIT.
    runs_of(CANARY, 1)
    canary_runs = runs_of(CANARY, 3)
    canary_now = min(canary_runs)
    canary_prev = prev.get(CANARY, 0.0)
    load_factor = (
        max(1.0, round(canary_now / canary_prev, 3)) if canary_prev > 0 else 1.0
    )

    timings: dict[str, float] = {}
    runs: dict[str, list[float]] = {}
    r01_set = set(HEADLINE_R01)
    for name in HEADLINE:
        # r01 set keeps best-of-3 (the round-1-comparable record);
        # the rest of the headline runs best-of-2 — with ~150 headline
        # queries the third run was pure wall-clock (r09: total bench
        # wall was approaching 20 min), and the adaptive re-measure
        # below still grows the sample whenever the result looks like
        # contention.
        rs = runs_of(name, 3 if name in r01_set else 2)
        # Adaptive re-measure: this box shows multi-second contention
        # stretches that outlast best-of-3 (r04 retention_cohorts ran
        # 10 s × 3 on unchanged code; isolated steady state 0.77 s).
        # When the whole triple is ≥1.5× the previous round's minimum
        # for identical code, take up to 2 extra runs — re-running the
        # same plan is better measurement, and the full triple still
        # lands in BENCH_FULL.json as the contention evidence.
        base = prev.get(name)
        extra = 0
        while base and min(rs) > 1.5 * base and extra < 2:
            rs += runs_of(name, 1)
            extra += 1
        runs[name] = rs
        timings[name] = min(rs)
    total = round(sum(timings.values()), 3)

    # Full-registry tail (r09, VERDICT r8 #4): every registered query
    # not in the curated headline set gets ONE timed run, so no query
    # is ever regression-blind. Most are input-bounded coverage
    # queries (sub-second); single-run noise is handled by a wider
    # alarm threshold below. A tail failure is recorded, not fatal —
    # the bench line must always print.
    tail = [n for n in registry if n not in set(HEADLINE)]
    tail_errors: dict[str, str] = {}
    for name in tail:
        try:
            rs = runs_of(name, 1)
        except Exception as e:  # noqa: BLE001 — record and continue
            tail_errors[name] = repr(e)[:200]
            continue
        # Min-of-2 for the slow tail (r11 VERDICT #2): single-run
        # timings on >1.5 s queries produced regression flags that
        # were pure first-run plan-compile/contention noise
        # (analytics_shapley_attribution 2.75× vs_prev with zero code
        # change). A second run costs seconds across the whole tail
        # and makes the regression list mean something. Trigger on
        # EITHER this run or the committed time being slow, so a
        # contention-inflated run gets its re-measure too.
        if rs[0] > 1.5 or prev.get(name, 0.0) > 1.5:
            # The re-measure stays non-fatal (same contract as the
            # first run): a transient failure here keeps the first
            # timing and records the error instead of aborting bench.
            try:
                rs += runs_of(name, 1)
            except Exception as e:  # noqa: BLE001 — keep first timing
                tail_errors[name] = "rerun: " + repr(e)[:190]
        runs[name] = rs
        timings[name] = min(rs)
    out = {
        "metric": "headline_query_wall_time",
        "value": total,  # headline subtotal: round-comparable
        "unit": "sec",
        "queries": timings,
        "runs": runs,
        "sf": _sf(),
        "n_queries": len(HEADLINE),
        "r01_subtotal": round(sum(timings[n] for n in HEADLINE_R01), 3),
        "n_tail": len(tail),
        "tail_total": round(
            sum(timings[n] for n in tail if n in timings), 3
        ),
        "tail_errors": tail_errors,
        "canary": {
            "query": CANARY,
            "runs": canary_runs,
            "now": canary_now,
            "committed": canary_prev,
            "load_factor": load_factor,
        },
    }
    # Alarm thresholds scale with the measured box load: ratio
    # tripwires multiply by load_factor, absolute floors likewise —
    # a quiet box keeps the committed thresholds exactly.
    r01 = _load_r01_timings()
    vs = {
        n: round(timings[n] / r01[n], 3)
        for n in HEADLINE_R01
        if n in r01 and r01[n] > 0
    }
    out["vs_r01"] = vs
    vs_prev: dict = {}
    if prev:
        vs_prev = {
            n: round(timings[n] / prev[n], 3)
            for n in timings
            if n in prev and prev[n] > 0
        }
        out["vs_prev"] = vs_prev

    def _regressions(lf: float) -> list[str]:
        flagged: set[str] = set()
        # Ratio tripwire plus an ABSOLUTE floor: sub-second queries
        # swing ±0.25 s on pure scheduling jitter, so a 0.4 → 0.64 s
        # "1.6×" is noise, not a regression — require the delta to
        # also exceed 0.5 s before alarming (r06: two phantom flags
        # were exactly this class; their 5-run evidence stays in
        # `runs`).
        flagged |= {
            n
            for n, r in vs.items()
            if r > 1.5 * lf and timings[n] - r01[n] > 0.5 * lf
        }
        # Previous-round minimum-of-3 under ±8% box noise: a >1.5×
        # best-of-3 is a real change or sustained contention, either
        # way worth a row in the alarm list — but only past the same
        # 0.5 s absolute floor as vs_r01 (sub-second jitter class).
        # Tail queries are single-run (both sides), so their alarm
        # needs 2× AND a 1 s delta before it means anything.
        headline_set = set(HEADLINE)
        flagged |= {
            n
            for n, r in vs_prev.items()
            if (
                n in headline_set
                and r > 1.5 * lf
                and timings[n] - prev[n] > 0.5 * lf
            )
            or (
                n not in headline_set
                and r > 2.0 * lf
                and timings[n] - prev[n] > 1.0 * lf
            )
        }
        return sorted(flagged)

    out["regressions"] = _regressions(load_factor)
    # The UNSCALED list too (ADVICE r10): load-factor scaling can mask
    # a genuine regression whose inflation sits at or below ambient
    # contention; a loaded-box run still surfaces those candidates
    # here for manual re-check on a quiet box. On an idle box the two
    # lists are identical.
    out["regressions_unscaled"] = _regressions(1.0)

    FULL_PATH.write_text(json.dumps(out, indent=1))

    # Printed line: the driver records only the last ~2000 bytes of
    # stdout, so keep this parseable — r01-era per-query map (the 1:1
    # baseline-comparable set) + totals; full detail in BENCH_FULL.json.
    compact = {
        "metric": out["metric"],
        "value": total,
        "unit": "sec",
        "queries": {n: timings[n] for n in HEADLINE_R01},
        "sf": out["sf"],
        "n_queries": len(HEADLINE),
        "n_total": len(timings),
        "r01_subtotal": out["r01_subtotal"],
        "load_factor": load_factor,
        "regressions": out["regressions"],
        "tail_errors": sorted(tail_errors),
        "detail": "BENCH_FULL.json",
    }
    print(json.dumps(compact))
    spark.stop()


# Every bench run (driver reruns included) writes BENCH_FULL.json —
# gitignored since r10 so a driver rerun never dirties the working
# tree. The COMMITTED quiet-run reference lives in BENCH_COMMITTED.json
# (copied from a quiet BENCH_FULL at commit time) and is what the
# canary + vs_prev ratios compare against.
FULL_PATH = Path(__file__).resolve().parent / "BENCH_FULL.json"
COMMITTED_PATH = Path(__file__).resolve().parent / "BENCH_COMMITTED.json"


def _sf() -> float | str:
    """The scale factor SF_DIR names (`.../sf0.1` → 0.1), else SF_DIR."""
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    return float(sf) if sf.replace(".", "").isdigit() else SF_DIR


def _load_r01_timings() -> dict[str, float]:
    """BENCH_r01.json's per-query timings when it was run at this
    scale factor, else none: a ratio across scale factors measures
    the data volume, not the code."""
    if not R01_PATH.exists():
        return {}
    r01 = json.loads(R01_PATH.read_text())
    if r01.get("sf") != _sf():
        return {}
    return (r01.get("parsed") or {}).get("queries", {})


def _load_prev_timings() -> dict[str, float]:
    """Previous-round per-query timings at this scale factor: the
    committed quiet-run reference (BENCH_COMMITTED.json) when present,
    else a leftover BENCH_FULL.json, else none."""
    sf = _sf()
    for path in (COMMITTED_PATH, FULL_PATH):
        if not path.exists():
            continue
        try:
            full = json.loads(path.read_text())
            q = full.get("queries", {})
            # Only comparable at the same scale factor: a record
            # left behind by an sf0.01 smoke run must not become the
            # baseline for an sf0.1 run (every ratio would inflate).
            if q and full.get("sf") == sf:
                return {k: float(v) for k, v in q.items()}
        except (ValueError, TypeError):
            pass
    return {}


if __name__ == "__main__":
    main()
