"""Benchmark harness — runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is executed to completion (count() the materialized result — the
driver-side equivalent of a full action) after a warm-up of the session.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from admira_etl_project_prueba_spark.plans.catalog import CATALOG
from admira_etl_project_prueba_spark.session import get_spark

#: headline set: reference pipeline + heaviest generic + data-pipeline ops
BENCH_QUERIES = [
    "ingest_consolidate",
    "metrics_by_channel_page1",
    "export_day",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_revenue_forecast",
    "q10_returned_items",
    "events_daily_stats",
    "events_sessionize",
    "top_users_by_value",
    "dedup_exact",
    "simhash_fingerprints",
    "minhash_signatures",
    "lsh_near_dup_pairs",
    "text_quality_scores",
    "ann_cosine_topk",
    "ann_cosine_topk_batch",
    "multimodal_features",
    "events_rollup",
    "q14_promo_revenue",
    "asof_spend_enrichment",
    "q8_market_share",
    "q13_customer_distribution",
    "q18_large_volume_customers",
    "events_cube",
    "events_moving_avg",
    "token_frequencies",
    "corpus_quality_filter",
    "ann_ivf_topk",
    # ann_ivf_topk_indexed is correctness-gated but not benched: at sf0.1
    # (2000 vectors) the indexed probe's fixed costs (file listing, DPP
    # subquery) exceed the trivial recompute it avoids; the index pays off
    # when assignment is corpus-scale.
    "events_in_spike_windows",
    "simhash_near_dup_pairs",
    "containment_pairs",
    "lsh_incremental_pairs",
    "text_repetition_scores",
    "decontaminate",
    "build_training_corpus",
    "redact_pii",
    "line_dedup_stats",
    "q21_late_sole_suppliers",
    "events_trailing_window_load",
    "token_typo_pairs",
    "q16_supplier_part_counts",
    "events_latest_per_user",
    # round-4 additions: the rest of the heavy TPC-H set and the new
    # LLM-pipeline operators (span-level dedup, k-means, semantic dedup,
    # deterministic mixture sampling)
    "q2_min_cost_supplier",
    "q9_product_profit",
    "q12_priority_shipping",
    "q17_small_quantity_revenue",
    "q20_promotable_suppliers",
    "repeated_ngram_spans",
    "remove_repeated_spans",
    "kmeans_centroids",
    "semantic_dedup_survivors",
    "mixture_sample",
    "contamination_scores",
    "prefix_jaccard_pairs",
    "sorted_neighborhood_pairs",
    "events_type_transitions",
    "embeddings_random_projection",
    "events_zorder_keys",
    "trade_pagerank",
    "cms_stopword_counts",
    "events_session_funnel",
    "events_anomaly_mad",
    "fk_integrity_audit",
    "corpus_diff",
    # round-4 (this session): sketches, graph, retrieval, SCD2
    "events_hll_merge_days",
    "cosupply_triangles",
    "bm25_search",
    "pps_sample",
    "scd2_point_in_time",
    "events_cohort_retention",
    "bloom_dedup_prefilter",
    "hybrid_search_rrf",
    "events_linear_attribution",
    "events_daily_autocorr",
    "scd2_user_status",
    "events_aqp_daily_totals",
    "contrastive_negative_samples",
    # round-5 additions
    "dsir_importance_weights",
    "lm_cross_entropy_scores",
    "source_token_kl",
    "source_overlap_matrix",
    "lsh_recall_report",
    "phrase_search",
    "cosupply_communities",
    "dup_cluster_profile",
    "quality_calibrated",
    "quality_calibrated_sampled",
    "ngram_novelty_scores",
    "forget_propagation",
    "bpe_merge_candidates",
    "curriculum_stages",
    "curriculum_stages_sampled",
    "tokenizer_fertility",
    "lang_source_mismatch",
    "knn_label_accuracy",
    "events_quantiles_histogram",
    "events_value_psi",
    "leakage_safe_split",
    "oov_rate",
    "mixture_plan",
    "packing_stats",
    "corpus_health_report",
    "kwic_spark",
    "embedding_drift",
    "cosupply_kcore",
    "events_anomaly_dow",
    "user_rfm_segments",
    "user_rfm_segments_sampled",
    "user_value_quartiles_sampled",
    "supplier_revenue_distribution_sampled",
    "ivf_split_occupancy",
    "events_position_attribution",
    "basket_part_lift",
    "events_decay_attribution",
    "events_session_paths",
    "cohort_ltv",
    "supplier_lead_time",
    # round-10 additions: product quantization (self-computing forms;
    # ann_ivfpq_topk_indexed is correctness-gated but not benched for the
    # same fixed-cost reason as ann_ivf_topk_indexed above)
    "ann_pq_topk",
    "ann_ivfpq_topk",
    "bpe_learned_merges",
    "bpe_encode_stats",
    "bpe_learned_merges_deep",
    "ann_ivfpq_topk_batch",
    # round-12 additions: bulk k-NN join over the persisted store, the
    # clustered-fixture recall/integrity pair, real stdlib media decode,
    # and the frozen-artifact BPE encode path
    "knn_join_bulk",
    "clustered_nn_integrity",
    "clustered_pq_recall",
    "media_decode_features",
    "bpe_encode_from_artifact_deep",
    # round-13: the bulk rerank tier (ADC shortlist -> exact cosine)
    "knn_join_rerank",
    # round-13: codec-free MP4 box-walk metadata decode + frame plan
    "video_container_features",
    "video_frame_sample",
    # round-14: timed IVF-PQ store BUILD (fresh scratch per rep) — keeps
    # the serving family's once-per-ingest build cost measured now that
    # the content-keyed index cache works (round-13 verdict task)
    "ivfpq_index_build",
]

#: Final-line report set, PINNED (round 14).  The final JSON line used to
#: carry "slowest queries that fit the budget", which churned round over
#: round: queries that got FAST fell out of the window and queries that
#: drifted slow fell in, so cross-round per-query comparisons were biased
#: toward regressions by construction.  Pinning the round-13 reported set
#: (plus room for genuinely slow newcomers, appended after the pins) makes
#: the final line a stable comparison set.  Additions-only: every query
#: reported in round 13 stays reported.
PINNED_REPORT = [
    "ann_ivfpq_topk", "ann_ivfpq_topk_batch", "ann_pq_topk",
    "basket_part_lift", "bpe_encode_stats", "build_training_corpus",
    "clustered_nn_integrity", "clustered_pq_recall", "containment_pairs",
    "contamination_scores", "corpus_health_report", "cosupply_communities",
    "cosupply_kcore", "cosupply_triangles", "decontaminate",
    "dsir_importance_weights", "fk_integrity_audit", "ingest_consolidate",
    "ivf_split_occupancy", "kmeans_centroids", "knn_join_bulk",
    "knn_join_rerank", "knn_label_accuracy", "leakage_safe_split",
    "lm_cross_entropy_scores", "lsh_incremental_pairs", "lsh_near_dup_pairs",
    "lsh_recall_report", "ngram_novelty_scores", "prefix_jaccard_pairs",
    "q18_large_volume_customers", "q1_pricing_summary",
    "q21_late_sole_suppliers", "q2_min_cost_supplier",
    "q5_local_supplier_volume", "remove_repeated_spans",
    "semantic_dedup_survivors", "simhash_fingerprints",
    "simhash_near_dup_pairs", "supplier_lead_time", "trade_pagerank",
]


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(
        app_name="admira-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus) if cpus.isdigit() else 32,
    )
    spark.sparkContext.setLogLevel("ERROR")

    # warm up the JVM / parquet footers so per-query numbers measure the
    # queries, not session startup.
    spark.range(1000).selectExpr("sum(id)").collect()

    # best-of-5 baseline: round-over-round per-query deltas at best-of-2
    # showed ±31% noise on identical code — too coarse to attribute a real
    # regression
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "5")))
    names = [n for n in BENCH_QUERIES if n in CATALOG]
    # SPARK_GRAFT_BENCH_ONLY=a,b,c: targeted re-timing for regression
    # triage.  The detail file is NOT rewritten on subset runs — partial
    # maps must never shadow a full suite's record.
    only = os.environ.get("SPARK_GRAFT_BENCH_ONLY")
    if only:
        wanted = {n.strip() for n in only.split(",") if n.strip()}
        names = [n for n in names if n in wanted]

    def run_once(fn):
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        # noop sink: forces full evaluation of EVERY output column with
        # no driver collect.  count() would let Catalyst prune unread
        # columns, timing projection-style queries (fingerprints,
        # redaction, quality scores) as little more than a row count.
        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def target_reps(best: float) -> int:
        # reps scale inversely with runtime: sub-second queries sit inside
        # a ±30-40% per-rep noise band at sf0.1 (docs/SCALE.md "noise
        # floor"), so only a deeper sample makes their best-3 window tight
        # enough (<20% spread) for 1.3× triage to mean anything.  Slow
        # queries are individually stable and each rep is expensive.
        if best < 0.5:
            return 15
        if best < 1.0:
            return 9
        if best < 3.0:
            return max(reps, 5)
        if best > 10.0:
            # tens-of-seconds queries (deep BPE training): individually
            # very stable, and 5 reps would dominate the whole suite's
            # wall clock — two reps bound the cost
            return min(reps, 2)
        return reps

    timings: dict[str, float] = {}
    medians: dict[str, float] = {}
    best3s: dict[str, float] = {}
    spreads: dict[str, float] = {}
    total = 0.0
    total_best3 = 0.0
    for name in names:
        fn = CATALOG[name].fn
        # one probe rep first, then extend to the runtime-scaled target:
        # identical totals to the old fixed-initial-5 for every tier that
        # targets >= reps, but tens-of-seconds queries (deep BPE, high-sf
        # subset runs) stop at their 2-rep cap instead of paying 5
        times = [run_once(fn)]
        while len(times) < target_reps(min(times)):
            times.append(run_once(fn))
        best = min(times)
        # steady-state reps only: the FIRST rep pays per-query plan
        # compilation (codegen) and would inflate the noise band with a
        # one-off cost that cross-round best-time compares never see
        steady = times[1:] if len(times) > 1 else times
        med = statistics.median(steady)
        # trimmed best-3 mean: the headline per-query statistic.  The three
        # fastest reps bound the query's intrinsic cost from above while
        # averaging out single-rep jitter; GC pauses and sandbox stalls land
        # in the slow tail and are trimmed away entirely.
        low3 = sorted(times)[:3]
        best3 = sum(low3) / len(low3)
        n = fn(spark, sf_dir).count()  # rows reported, outside the timing
        timings[name] = round(best, 4)
        medians[name] = round(med, 4)
        best3s[name] = round(best3, 4)
        # relative spread of the best-3 window: (3rd best - best)/best.
        # This is the noise band the best-3 mean actually carries —
        # cross-round best3 deltas inside either round's band are
        # unattributable.  Requires ≥3 samples (always true: reps ≥ 5).
        if len(times) >= 3:
            spreads[name] = round((low3[-1] - low3[0]) / low3[0], 3)
        total += best
        total_best3 += best3
        print(
            f"# {name}: best {best:.3f}s  best3 {best3:.3f}s  median "
            f"{med:.3f}s  spread {spreads.get(name, float('nan')):.0%}  "
            f"({n} rows, {len(times)} reps)",
            file=sys.stderr,
        )

    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    headline = {
        "metric": "headline-suite wall time, sequential, local[%s]" % cpus,
        "value": round(total, 3),
        # sum of per-query trimmed best-3 means: the robust twin of the
        # best-of-N headline — cross-round judgments should compare
        # value_best3 first (tight window, outlier-trimmed), with
        # value_median as the conservative fallback; bare best-of-N sits
        # inside the ±1.08× sandbox drift band (docs/SCALE.md)
        "value_best3": round(total_best3, 3),
        "value_median": round(sum(medians.values()), 3),
        "unit": "sec",
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "n_queries": len(timings),
    }

    # Full per-query map: written to BENCH_DETAIL.json and printed as a
    # PRECEDING stdout line.  The driver's tail capture is 2000 chars; with
    # 78+ queries the full map alone exceeds that, which left round 4 with
    # parsed=null.  The FINAL line must stay comfortably under the window.
    detail = dict(headline, queries=timings, best3=best3s, median=medians, spread=spreads)
    if only:
        print(json.dumps(detail))
        return
    detail_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json")
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)
    print(json.dumps(detail))

    # Final line: headline + the PINNED report set (every query round 13
    # reported — stable cross-round comparison window), then as many of
    # the remaining slowest queries as still fit the char budget (the
    # driver's stdout tail capture is ~2000 chars; the final line must
    # stay comfortably inside it).  Values at 3 decimals here to buy
    # budget room — BENCH_DETAIL.json keeps the 4-decimal record.
    pinned = [n for n in PINNED_REPORT if n in timings]
    rest = sorted(
        (kv for kv in timings.items() if kv[0] not in set(pinned)),
        key=lambda kv: -kv[1],
    )
    final = dict(headline, detail_file="BENCH_DETAIL.json", queries={})
    final["queries"] = {n: round(timings[n], 3) for n in pinned}
    # the pinned set alone must fit: an overflow fails here instead of
    # truncating the line the harness parses
    assert len(json.dumps(final)) <= 1800, "pinned report exceeds 1800 chars"
    for name, secs in rest:
        candidate = dict(final)
        candidate["queries"] = dict(final["queries"], **{name: round(secs, 3)})
        if len(json.dumps(candidate)) > 1800:
            break
        final = candidate
    print(json.dumps(final))


if __name__ == "__main__":
    main()
