"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Output contract (r6): stdout's FINAL line is ONE compact JSON summary —
guaranteed well under the driver's 2000-char tail capture (BENCH_r04/r05
both recorded ``"parsed": null`` because the per-query map outgrew that
window).  The full per-query map (warm / cold / plan / plan_actions_s /
spread) is written to $SPARK_GRAFT_BENCH_OUT (default
``BENCH_local_latest.json``) instead of stdout.

Accounting (r6): queries whose *construction* runs Spark jobs eagerly
(the star-contraction CC family: x_dbscan, x_dedup_corpus_cc,
x_embedding_clusters, x_cluster_purity) are charged for that work — the
``fn(spark, sf_dir)`` call runs under a per-query job group, and any
jobs observed in that group mark the query with ``plan_actions_s`` (the
measured construction time).  ``cold`` has always been plan + first
action, so it already includes this; the point is that the warm number
alone no longer *hides* it (r5 verdict: x_dbscan reported 0.4-0.6 s warm
while doing ~14 s of CC rounds at plan time).
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from gmall_flink_230422_spark.io import query_scope
from gmall_flink_230422_spark.plans import registry
from gmall_flink_230422_spark.session import get_spark

HEADLINE = [
    "q1_pricing_summary",
    "q3_top_orders",
    "q5_local_supplier",
    "q6_forecast_revenue",
    "q9_product_profit",
    "q13_cust_distribution",
    "q18_large_volume",
    "e_sliding_window",
    "x_ann_ivf",
    "j4_double_alias_join",
    "a1_tumble_keyed",
    "t3_daily_uv",
    "t5_bounce_detect",
    "s8_upsert_latest",
    "u1_keyword_count",
    "x_minhash_lsh",
    "x_cosine_topk",
    # round-2 additions: the most expensive newly driver-checked queries, so
    # per-query regressions stay visible (VERDICT r1 §next-8). The total is
    # therefore not comparable to BENCH_r01's 17-query total; compare
    # per-query times.
    "a2_tumble_multimetric",
    "x_dedup_corpus",
    "j6_dwd_order_detail",
    # round-2 training-pipeline ops (contamination is the heaviest: double
    # shingle pass + broadcast probe)
    "x_contamination",
    "x_repetition_filter",
    "x_curate_corpus",
    "x_curate_funnel",
    # round-2 batch 2: union-find dedup clustering + vocab/order-statistics
    "x_dedup_corpus_cc",
    "e_quantiles",
    "x_vocab_topk",
    # round-2 batch 3: time-series joins + deterministic sketches
    "e_asof_join",
    "e_range_join",
    "e_bloom_join",
    "e_hll_distinct",
    "x_cms_heavy_hitters",
    # round-2 batch 4: relevance scoring, passage dedup, event analytics
    "x_tfidf_topk",
    "x_lm_score",
    "x_bm25_rank",
    "x_chunk_dedup",
    "e_funnel",
    "e_cohort_retention",
    "e_salted_join",
    "x_domain_mix",
    "x_bpe_train",
    "x_ann_recall",
    "x_lsh_recall",
    "e_changelog_retract",
    "e_gap_fill",
    # round-3 additions: data-selection + semantic dedup + sketch + LSH tuning
    "x_dsir_resample",
    "x_semdedup",
    "x_lsh_tune",
    "e_hist_quantile",
    "x_signal_windows",
    # round-3 batch 2: compressed ANN, substring-dedup signal, JL projection,
    # layout pruning, cluster profiling
    "x_pq_ann",
    "x_dup_ngram_rate",
    "x_rp_project",
    "e_zorder_prune",
    "x_cluster_stats",
    # round-3 batch 3: iterative graph, index build, containment dedup,
    # robust aggregation (x_ccnet_bucket / x_index_intersect excluded: their
    # windows run over bounded value-histogram/vocab axes, which compiles to
    # a single-partition exchange by design — documented in PLANS.md)
    "x_pagerank",
    "x_inverted_index",
    "x_containment",
    "e_winsorize",
    # round-3 batch 4: PIT features, robust stats, VAD segments
    # (e_data_profile excluded: a global aggregate's final stage is a
    # single-partition exchange by construction)
    "e_pit_features",
    "e_mad_outliers",
    "x_energy_segments",
    # round-3 batch 5: basket mining, transition matrix, RAG chunking
    "e_basket_rules",
    "e_markov_transitions",
    "x_rag_chunks",
    "x_bpe_apply",
    "x_ngram_diversity",
    "x_select_pipeline",
    # round-4 additions: substring-span excision + incremental delta dedup
    "x_dup_spans",
    "x_dedup_incremental",
    # round-4 batch 2: drift monitor, boilerplate flags, MMR diverse rerank
    "x_embedding_drift",
    "x_boilerplate",
    "x_mmr_rerank",
    "x_knn_graph",
    "x_reservoir_sample",
    "x_ann_multiprobe",
    # round-4 batch 3: triangle counting, soft dedup, held-out backoff LM,
    # curriculum phases, dyadic EWMA
    "x_triangle_count",
    "x_soft_dedup",
    "x_backoff_lm",
    "x_curriculum_order",
    "e_ewma",
    # round-4 batch 4: evaluation statistics, sketch algebra, density
    # clustering, training-target generation
    "x_classifier_auc",
    "x_chi2_terms",
    "e_ks_test",
    "e_gini",
    "e_skyline",
    "e_hll_intersect",
    "e_record_linkage",
    "x_wilson_rank",
    "x_dbscan",
    "x_span_corruption",
    "e_bootstrap_ci",
    # round-5 additions: evaluation statistics (kappa/ECE/Benford/Pearson/
    # CUSUM), corpus statistics (Gopher funnel, Heaps growth, dim variance,
    # k-anonymity), link prediction, RFM segmentation
    "x_gopher_rules",
    "x_vocab_growth",
    "x_dim_variance",
    "x_k_anonymity",
    "x_link_predict",
    "x_router_kappa",
    "x_ece",
    "e_benford",
    "e_corr_pairs",
    "e_rfm_segments",
    "e_cusum_changepoint",
    "e_seasonal_profile",
    "x_dataset_card",
    "x_centroid_outliers",
    "e_survival_curve",
    "x_quality_vs_dup",
    "x_embedding_cov",
    "x_pca_power",
    "x_spectral_ratio",
    "x_whiten_outliers",
    # round-6 additions: local fingerprinting, mixture planning,
    # distribution audits
    "x_winnowing",
    "x_source_divergence",
    "x_mix_waterfill",
    "x_coverage_curve",
    "e_holt_winters",
    "e_lorenz",
    "x_safety_screen",
    "x_winnow_pairs",
    "x_entropy_filter",
    "x_prefix_templates",
    "x_dedup_f1",
    "x_ngram_novelty",
    "x_dup_inflation",
    "x_hard_negatives",
    "x_cluster_size_hist",
    "e_theil",
    "e_funnel_latency",
    "e_sequential_pattern",
    "e_dau_wau",
    "x_dedup_threshold_curve",
    # round-8 additions: graph-structure probes over the near-dup graph,
    # weighted verify, pigeonhole hamming-2, canonical 13-gram decontam,
    # dedup savings rollup, tokenizer-fit and LSH-health dashboards
    "x_bfs_layers",
    "x_bridge_edges",
    "x_weighted_jaccard",
    "x_simhash_radius2",
    "x_contam_13gram",
    "x_dedup_savings",
    "x_bpe_compression",
    "x_lsh_band_health",
    # round-8 batches 6-7: rank-eval + robust-stats + privacy + selection
    # (heaviest of the batch: NDCG rides the broadcast brute-force scorer,
    # k-center makes 4 corpus passes, label prop joins the kNN graph twice,
    # Mann-Whitney pays one distributed cumsum over the cent grid)
    "x_ndcg_labels",
    "x_kcenter_coreset",
    "x_label_prop_seeds",
    "e_mann_whitney",
    "x_graph_modularity",
    "x_degree_assortativity",
    # round-8 batch 9: greedy coverage (3 anti-join rounds over the
    # (source, token) set), top-weighted rank overlap (two quality scans
    # + TakeOrdered(50) arms)
    "x_coverage_max",
    "x_rbo_rankings",
    # round-9 additions: composition/fertility profiles (one corpus hash
    # agg each), positional contamination runs (the islands window over
    # hit positions), the portable-hash bloom FPR audit (bit_or bitset +
    # broadcast probe join), the mutual-kNN global clustering coefficient
    # (O(m^1.5) oriented wedge join), trimmed mean (value histogram +
    # keyed cumsum), and the two streaming twins of r8 heavies
    "x_char_class_mix",
    "x_token_len_profile",
    "x_contam_runs",
    "x_bloom_fpr",
    "x_clustering_coeff",
    "e_trimmed_mean",
    "s_stream_contam_13gram",
    "s_stream_band_health",
    # round-9 batches 4-5: byte-flatness (per-byte fan-out, the heaviest
    # r9 plan), MinHash estimator accuracy (signature match join over
    # candidates), Mann-Kendall (calendar-bounded pair join)
    "x_frame_byte_flatness",
    "x_minhash_accuracy",
    "e_mann_kendall",
    # round-9 batch 6: rare-token detector (df join), decile audit sample
    # (full LSH chain + keyed min-by window)
    "x_rare_token_docs",
    "x_dedup_audit_sample",
    # round-10: the persisted-index ANN contract (build-if-absent index +
    # partition-pruned probe; the streaming twin probes the same artifact)
    # and the index lifecycle (census, incremental upsert)
    "x_ann_ivf_persisted",
    "s_stream_ann_ivf_persisted",
    "x_ann_index_stats",
    "s_stream_ann_index_upsert",
    # round-11: the standing-artifact contract generalized (persisted LSH
    # band store, BPE vocab, bigram-LM model — probes against atomic
    # fingerprint-addressed artifacts; the streaming twin serves from the
    # shared LSH store)
    "x_lsh_persisted",
    "s_stream_lsh_persisted",
    "x_bpe_persisted",
    "x_lm_persisted",
    "x_ann_index_compact",
    "x_lsh_persisted_health",
    "s_stream_lsh_store_upsert",
    "x_lsh_store_compact",
    "x_ingest_gate",
    "s_stream_ingest_gate",
]

# Noise-robust protocol (r9 verdict item 2): a fixed 10-query CANARY set —
# cheap, plan-stable queries untouched since r7 or earlier — is re-timed at
# the START, MIDDLE and END of the run on DataFrames built once up front.
# The median of the three canary totals is the run's session-speed ANCHOR:
# cross-round common-set ratios divide by the anchor ratio to cancel
# uniform session drift (the 0.81x/1.34x r8/r9 artifacts), and end/start is
# the measured within-run drift. Membership is pinned; changing it breaks
# anchor comparability and requires a BENCHNOTES note.
CANARY = [
    "q1_pricing_summary",
    "q6_forecast_revenue",
    "a1_tumble_keyed",
    "t3_daily_uv",
    "u1_keyword_count",
    "x_cosine_topk",
    "e_hll_distinct",
    "x_vocab_topk",
    "e_gini",
    "e_theil",
]

# r10 verdict item 1/3: the ten light canaries are all sub-0.5 s
# plan-stable queries, and the r10 driver-vs-final pair showed session
# pressure lands disproportionately on the 1-2 s class (anchors 2.343 vs
# 2.336 while the heavy tail moved ~16%). Three MID-WEIGHT canaries make
# the anchor total duration-weighted toward the pressure-sensitive class;
# the anchor is the median of start/middle/end totals over ALL thirteen.
# Membership change documented in BENCHNOTES r11 — anchor_s is NOT
# directly comparable to r10's (light_total_s is, and is emitted for
# exactly that bridge).
CANARY_MID = [
    "x_curate_corpus",
    "x_pq_ann",
    "x_contam_13gram",
]
CANARY_ALL = CANARY + CANARY_MID


def _action_s(df) -> float:
    """Seconds one full action on ``df`` (a ``noop`` write) takes."""
    t0 = time.time()
    df.write.format("noop").mode("overwrite").save()
    return time.time() - t0


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_path = os.environ.get("SPARK_GRAFT_BENCH_OUT", "BENCH_local_latest.json")
    spark = get_spark("gmall-bench")
    sc = spark.sparkContext
    specs = registry()

    # optional subset (comma-separated names) for drift analysis /
    # apples-to-apples reruns of an earlier round's headline set
    names = HEADLINE
    subset = os.environ.get("SPARK_GRAFT_QUERIES")
    if subset:
        names = [n.strip() for n in subset.split(",") if n.strip()]

    # warm the JVM + parquet footers once so timings measure the queries
    with query_scope(spark):
        specs["q1_pricing_summary"].fn(spark, sf_dir).count()

    # ---- canary anchors (r9 verdict item 2): time each canary warm
    # best-of-3 at three session positions. Every pass builds each canary
    # in its own query_scope and runs one untimed action first (codegen,
    # cache materialization), so a pass holds no state from the last one.
    def canary_pass() -> dict[str, float]:
        out = {}
        for n in CANARY_ALL:
            with query_scope(spark):
                df = specs[n].fn(spark, sf_dir)
                _action_s(df)
                out[n] = round(min(_action_s(df) for _ in range(3)), 3)
        return out

    canary_at: dict[str, dict[str, float]] = {"start": canary_pass()}

    # Methodology (r3, amended r6): the DataFrame is built ONCE per query;
    # cold = plan build + first action (codegen, cache materialization, and
    # any jobs the builder runs eagerly), warm = best-of-3 repeat actions on
    # the SAME DataFrame — steady-state execution cost without re-paying
    # Catalyst analysis of the (for the capstones, very large) logical plan
    # per repetition. Construction runs under a per-query job group; jobs
    # observed there mark the query with plan_actions_s (r6 fix: eager CC
    # rounds no longer hide in the plan phase). Build, cold and warm runs
    # share one query_scope, so warm repeats reuse the query's own caches
    # and the next query starts from none. A System.gc() between
    # queries paces the session so GC pressure from a ~110-query run
    # doesn't bleed into later timings (the r2 1.21x common-set drift).
    times: dict[str, float] = {}
    cold: dict[str, float] = {}
    plan: dict[str, float] = {}
    plan_actions: dict[str, float] = {}
    plan_jobs: dict[str, int] = {}
    spread: dict[str, float] = {}
    jvm_system = sc._jvm.System
    tracker = sc.statusTracker()

    for qi, name in enumerate(names):
        if qi == len(names) // 2:
            canary_at["middle"] = canary_pass()
        group = f"plan:{name}"
        with query_scope(spark):
            sc.setJobGroup(group, f"construction of {name}")
            t0 = time.time()
            df = specs[name].fn(spark, sf_dir)
            plan[name] = round(time.time() - t0, 3)
            n_jobs = len(tracker.getJobIdsForGroup(group))
            plan_jobs[name] = n_jobs
            if n_jobs >= 1:
                # construction executed real Spark jobs (eager checkpoints /
                # convergence loops): charge the whole construction time to
                # the query, visibly. Parquet reads take their schema from
                # the footer (io.read_parquet), so building a plain plan
                # runs no job at all.
                plan_actions[name] = plan[name]
            sc.setJobGroup(f"exec:{name}", f"execution of {name}")
            cold[name] = round(plan[name] + _action_s(df), 3)
            reps = sorted(_action_s(df) for _ in range(3))
        times[name] = round(reps[0], 3)
        # per-query relative spread of the warm repetitions: how much of a
        # cross-round delta is just run-to-run noise (r4 verdict: ±10%
        # session variance confounded the round comparison; this makes the
        # noise floor part of the artifact instead of folklore)
        spread[name] = round((reps[-1] - reps[0]) / max(reps[0], 1e-9), 3)
        jvm_system.gc()

    canary_at["end"] = canary_pass()
    canary_totals = {
        pos: round(sum(m.values()), 3) for pos, m in canary_at.items()
    }
    # r10→r11 anchor bridge: the r10-comparable light-10 subtotal alongside
    # the new duration-weighted 13-query anchor
    canary_light_totals = {
        pos: round(sum(v for k, v in m.items() if k in CANARY), 3)
        for pos, m in canary_at.items()
    }
    _ct = sorted(canary_totals.values())
    canary_anchor = _ct[len(_ct) // 2]
    within_run_drift = round(
        canary_totals["end"] / max(canary_totals["start"], 1e-9), 3
    )

    # r9 verdict item 6: streaming twins run whole foreachBatch index builds
    # at construction BY DESIGN — split their construction cost out so the
    # batch plan_actions headline stays comparable round-over-round
    pa_stream = {n: v for n, v in plan_actions.items() if n.startswith("s_stream")}
    pa_batch = {n: v for n, v in plan_actions.items() if not n.startswith("s_stream")}

    sp = sorted(spread.values())
    full = {
        "metric": "headline_queries_total",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "queries": times,
        "cold_total": round(sum(cold.values()), 3),
        "plan_total": round(sum(plan.values()), 3),
        "cold": cold,
        "plan": plan,
        "plan_actions_s": plan_actions,
        "plan_jobs": plan_jobs,
        "canary": {
            "per_query": canary_at,
            "totals": canary_totals,
            "light_totals": canary_light_totals,
            "anchor_s": canary_anchor,
            "within_run_drift": within_run_drift,
            "note": "anchor_s = median of start/middle/end totals over the "
            "13 canaries (10 light + 3 mid-weight, r11); light_totals is "
            "the r10-comparable 10-query subtotal. Cross-round common-set "
            "ratios should be divided by the anchor ratio to cancel "
            "session drift (BENCHNOTES.md)",
        },
        "cold_non_canary_total": round(
            sum(v for k, v in cold.items() if k not in CANARY_ALL), 3
        ),
        "method": "same-plan warm best-of-3; one query_scope per query "
        "(its caches, checkpoints and scratch dirs released after its warm "
        "runs); gc pacing between queries; "
        "construction under a job group so eager plan-time actions are "
        "charged to their query (plan_actions_s); fixed 13-query canary "
        "(10 light + 3 mid-weight) re-timed at start/middle/end as the "
        "session-speed anchor, each canary rebuilt in its own scope per "
        "pass. NOTE: "
        "the start canary pass compiles the 13 canary plans before the main "
        "loop, so those queries' cold/plan values are codegen-warm-biased "
        "— compare cold across rounds via cold_non_canary_total",
        "variance": {
            "per_query_rel_spread": spread,
            "median_rel_spread": round(sp[len(sp) // 2], 3) if sp else None,
            "p90_rel_spread": round(sp[int(0.9 * (len(sp) - 1))], 3) if sp else None,
            "note": "rel spread = (slowest-fastest)/fastest over the 3 warm "
            "reps; treat cross-round per-query deltas inside ~2x the p90 "
            "spread as session noise (BENCHNOTES.md)",
        },
        "sf": sf_dir,
    }
    with open(out_path, "w") as f:
        json.dump(full, f, indent=1, sort_keys=True)

    # Compact driver-facing summary, printed as the FINAL stdout line. The
    # driver's tail capture is ~2000 chars; the full per-query map outgrew
    # it at r4 (BENCH_r04/r05: "parsed": null) so the per-query detail now
    # lives only in the file above. "queries" here is the 10 slowest warm
    # queries — keeps the documented {"metric","value","unit","queries",
    # "sf"} shape while staying far under the capture window.
    slowest = dict(sorted(times.items(), key=lambda kv: -kv[1])[:10])
    compact = {
        "metric": "headline_queries_total",
        "value": full["value"],
        "unit": "sec",
        "queries": slowest,
        "n_queries": len(times),
        "cold_total": full["cold_total"],
        "plan_total": full["plan_total"],
        "plan_actions_total": round(sum(plan_actions.values()), 3),
        "plan_actions_batch_total": round(sum(pa_batch.values()), 3),
        "plan_actions_stream_total": round(sum(pa_stream.values()), 3),
        "canary_anchor_s": canary_anchor,
        "canary_drift": within_run_drift,
        "median_rel_spread": full["variance"]["median_rel_spread"],
        "p90_rel_spread": full["variance"]["p90_rel_spread"],
        "sf": sf_dir,
        "detail": out_path,
    }
    line = json.dumps(compact)
    if len(line) > 1900:  # belt and braces: never outgrow the tail capture
        compact.pop("queries")
        line = json.dumps(compact)
    print(line)


if __name__ == "__main__":
    main()
