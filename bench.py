"""Benchmark harness (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...}, "sf": ...}

Headline set (BASELINE.md): the reference's de-facto benchmark
aggregate (weblog shape) plus one per operator family, and the
north-star extensions (dedup / similarity / text) that dominate
cost at 100 TB.

Each query is timed over a full materialization (count of the result)
after a warm-up of the session (JVM + parquet footer caches are
session-level; the driver compares revisions, so self-consistency is
what matters).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from vega_spark import registry  # noqa: E402
from vega_spark.session import get_session  # noqa: E402

BENCH_QUERIES = [
    "weblog_agg",          # reference's de-facto perf query (group-avg pair)
    "join_inner",          # orders ⋈ lineitem + agg
    "distinct",            # set ops family
    "intersection",
    "top_k",               # TakeOrderedAndProject
    "agg_sweep",           # TPC-H Q1-style full agg sweep
    "window_topk_per_group",
    "dedup_exact",
    "dedup_minhash_lsh",
    "text_features",
    "ann_cosine_topk",
    # round-1 widening (first recorded in BASELINE.md alongside the
    # original eleven — per-query comparison, not just the total):
    "tpch_q3_shipping",    # multi-join, broadcast dimensions
    "tpch_q5_local_supplier",
    "asof_join",           # single-shuffle windowed as-of
    "range_join",          # bucketed interval equi-join
    "sessionize_gap",      # session_window aggregation
    "skew_salted_join",    # salting overhead vs plain join
    "streaming_windowed_counts",  # full readStream->sink drain
    "pipeline_clean_corpus",      # quality gate + exact dedup pipeline
    "tpch_q1_pricing_summary",    # canonical scan-heavy aggregate
    "tpch_q9_profit_by_nation",   # 4-way join, filtered broadcast dims
    # full TPC-H shape sweep (adapted to the slimmed schema):
    "tpch_q6_forecast_revenue",   # pure pushed-filter scan
    "tpch_q8_market_share",       # 7-join, all dims broadcast
    "tpch_q13_customer_distribution",  # two-level aggregate
    "tpch_q17_small_qty_revenue",      # correlated avg → window, 1 shuffle
    "tpch_q21_waiting_suppliers",      # double-correlation → 1 window pass
    "tpch_q22_global_sales_opportunity",  # scalar subquery + anti join
    "merge_upsert_orders",        # MERGE INTO: broadcast update + anti insert
    "kmeans_clusters",            # iterative broadcast-iterate loop
    "tfidf_top_terms",            # corpus-wide TF-IDF + per-doc top-k
    "funnel_view_click_purchase",  # single-exchange funnel windows
    # round-1 late widening:
    "decontaminate_against_eval",  # broadcast eval-ngram contamination scan
    "scd2_user_state",             # CDC SCD2 build, one keyed sort
    "rolling_hour_value",          # RANGE-frame trailing-hour window
    "bucketed_join_priority_revenue",  # exchange-free SMJ over bucketed tables
    "pack_sequences_manifest",     # token-budget sequence packing
    # round-1 final widening (one per new operator family):
    "pagerank_part_affinity",      # iterative graph, 3 supersteps
    "dedup_incremental_bloom",     # bloom runtime-filter + verify join
    "drift_psi_event_values",      # distribution drift monitor
    "udtf_sentences",              # LATERAL Python UDTF path
    "encode_docs_vocab1k",         # vocab build + narrow encode
    "partitioned_scan_prune",      # hive-partition directory pruning
    "table_diff_orders",           # digest-reduced version diff
    "asof_join_forward_tolerance",  # forward as-of with tolerance
    # round-2 widening: newly driver-visible §2 actions/sources
    "is_empty_flags",              # take(1)-style emptiness probes
    "save_text_roundtrip",         # text sink + schema'd re-read
    "save_parquet_partitioned_roundtrip",  # partitioned writer round-trip
    "take_sample_contract",        # seeded driver-side sample invariants
    "for_each_observe_metrics",    # observe() accumulator side channel
    "cache_reuse_scan_count",      # r5: measured cache re-use multiples
    "read_whole_files_dir",        # binaryFile whole-file source
    "zip",                         # scalable positional zip (r02 plan fix)
    "streaming_stream_static_join",  # broadcast enrich + drain
    "streaming_dedup_exact",       # stateful dedup, duplicated arrivals
    # round-2 capability widening (one per new operator family):
    "kmv_distinct_jaccard",        # bottom-k sketch set relations
    "ann_pq_topk",                 # PQ codes + ADC scan + rerank
    "ann_ivfpq_topk",              # IVF-PQ residual codes, probe-join ADC (r9)
    "semantic_dedup_flags",        # SemDeDup cluster-wise marking
    "web_url_dedup_pipeline",      # URL parse/blocklist/keep-best
    "web_line_filter",             # line-wise quality cleaning
    "web_line_dedup_corpus",       # corpus-level boilerplate line dedup (r9)
    "triangle_count_parts",        # degree-oriented triangles
    "bpe_encode_docs",             # BPE train (bounded head) + encode
    "ewma_user_values",            # bounded-frame EWMA fold per key
    "key_skew_report_parts",       # shuffle-skew diagnostic head
    "fuzzy_match_suppliers",       # q-gram blocked edit-distance link
    "pivot_unpivot_roundtrip",     # wide reshape + melt
    "array_hof_sweep",             # lambda-expression surface
    "attribution_first_last_touch",  # single-exchange touch windows
    "label_propagation_parts",     # 2-superstep communities
    "compact_small_files",         # atomic small-file compaction
    "stratified_sample_langs",     # deterministic hash sampleBy
    "streaming_kmv_rollup",        # incremental sketch maintenance
    "window_function_sweep",       # 7 window fns, one exchange
    "null_safe_join_custkeys",     # <=> null-matching equi-join
    "audio_frame_energy_vad",      # framed energy + VAD gate
    "cdc_apply_changes_orders",    # changefeed collapse + apply
    "mv_incremental_refresh",      # additive view maintenance
    "inverted_index_search",       # posting-table AND search
    "bitmap_distinct_rollup",      # exact mergeable distinct
    "ab_test_event_values",        # Welch z per experiment group
    "hist_quantile_rollup",        # mergeable quantile summaries
    "retention_cohorts_daily",     # cohort x offset matrix
    "top_event_paths",             # ordered n-gram path mining
    "resolve_supplier_entities",   # ER capstone: block+CC+survive
    # round-2 final widening: anomaly / rules / BFS / forecast
    "anomalies_event_values",      # median/MAD outlier screen
    "spikes_event_hours",          # hourly burst z-scores
    "assoc_rules_parts",           # support/confidence/lift rules
    "item_neighbors_parts",        # item-item cosine top-k
    "bfs_parts_distance",          # frontier BFS, 4 hops
    "forecast_backtest_events",    # seasonal-naive MAE backtest
    "dsir_select_en",              # DSIR hashed-unigram importance weights
    "sssp_parts_weighted",         # Bellman-Ford bounded relaxation
    "jackknife_event_means",       # delete-one-fold error bars
    "streaming_anomaly_flags",     # stream-static robust scoring drain
    "trend_event_hours",           # exact-integer OLS activity trend
    "mi_event_type_value",         # mutual-information dependence screen
    "kcore_parts",                 # bounded k-core peeling
    "chi2_event_type_value",       # chi-squared independence
    "weighted_sample_docs",        # A-Res weighted sampling head
    "diversity_by_source",         # Shannon/Simpson corpus composition
    "benford_event_values",        # first-digit data-quality screen
    "weighted_sample_docs_by_lang",  # stratified A-Res quota sampler
    # round-2 continuation: model-eval / privacy statistics layer
    "roc_auc_purchase_value",      # binned Mann-Whitney AUC, no global sort
    "ks_drift_purchase_view",      # fixed-grid two-sample KS drift test
    "dp_noisy_event_counts",       # seeded Laplace ε-DP release
    "k_anonymity_docs",            # quasi-identifier risk audit
    # ML feature-prep layer
    "feature_vector_events",       # z/minmax/one-hot/hashed features
    "target_encode_orders_priority",  # smoothed mean encoding table
    "naive_bayes_lang_confusion",  # in-engine NB train + score
    "holt_forecast_hourly",        # Holt level+trend fold per key
    "html_extract_docs",           # boilerplate strip, narrow regex pipeline
    "ols_price_qty_discount",      # closed-form 2-feature OLS, one pass
    "stump_return_price",          # best Gini split over fixed grid
    "markov_next_event",           # per-user transition matrix
    "calibration_value_purchase",  # reliability table, fixed bins
    "decile_lift_purchase",        # gains/lift tiers, no global sort
    "readability_docs",            # Flesch regex counts, narrow
    "profile_orders",              # exact per-column profiling census
    "bigram_lm_docs",              # order-aware bigram LM scoring
    "image_header_decode",         # real PNG header parse, mapInPandas
    "versioned_time_travel_orders",  # snapshot commits + time travel
    # round-2 continuation: survival / time-series / graph-cohesion
    "acf_hourly_events",           # exact-integer lag autocorrelation
    "cusum_changepoint_hours",     # CUSUM mean-shift + argmax hour
    "kaplan_meier_conversion",     # KM curve via bounded risk-set fold
    "logreg_purchase_value",       # 2-step logistic GD, broadcast weights
    "l_diversity_docs",            # sensitive-diversity privacy audit
    "clustering_coeff_parts",      # avg local cc, oriented wedges
    # geospatial grid family
    "geo_cell_density_customers",  # bounded cell counts + TakeOrdered head
    "geo_neighbor_pairs_customers",  # 3x3 neighbor-cell radius join
    "geo_nearest_hub_nations",     # broadcast hubs, keyed argmin
    "streaming_session_windows",   # merging session-window state, full drain
    "pmi_collocations_docs",       # in-row bigram PMI, bounded ln head
    "gini_event_values",           # rank-form Gini, one exchange
    "woe_iv_purchase_value",       # WOE/IV contingency screen
    "user_growth_daily",           # first-seen + bounded cumsum fold
    "scd2_temporal_purchases",     # point-in-time SCD2 enrichment join
    "rfm_user_segments",           # fixed-threshold RFM grid
    "active_time_per_user",        # interval-union engagement coverage
    "embedding_truncation_recall",  # Matryoshka dim-ablation recall
    "sparse_cosine_doc_pairs",     # TF-IDF postings term-join similarity
    "streaming_interval_join_pairs",  # stream-stream watermarked join drain
    "read_merge_schema_evolution",  # mergeSchema across parquet generations
    "geo_trajectory_users",        # keyed window path fold, quantized steps
    "geo_copresence_users",        # (cell, hour) bucket contact pairs
    "funnel_time_boxed_1h_24h",    # deadline funnel, one exchange
    "dau_wau_stickiness",          # rolling exact distinct via vote fan-out
    "corr_qty_discount_by_flag",   # per-group Pearson, exact sufficient stats
    "activity_heatmap_dow_hour",   # 168-cell weekly seasonality fingerprint
    "session_depth_bounce",        # session depth distribution + bounce
    "attribution_time_decay",      # exp-decay multi-touch credit
    "dod_wow_event_changes",       # calendar-safe delta self-joins
    "fulfillment_lag_by_priority",  # cross-table day arithmetic
    "user_feature_mart",           # churn/LTV features, one exchange
    "custom_sink_jsonl_roundtrip",  # Python DataSource writer, 2-phase commit
    "versioned_data_skipping_orders",  # manifest min/max file pruning
    "pareto_customer_frontier",    # two-phase distributed skyline
    "pca_covariance_lineitem",     # exact covariance, one agg pass
    "cv_stump_orders_priority",    # k-fold CV on the cell frame
    "streaming_watermark_drops",   # 3-batch late-data drop contract
    "quality_suite_orders",        # Deequ-style one-pass constraint gate
    "jl_projection_embeddings",    # JL Rademacher projection, narrow codegen
    "conformal_orders_price",      # split-conformal grid-quantile intervals
    "als_recommend_parts",         # rank-4 ALS, JVM Cholesky solves
    "stl_decompose_hourly",        # dense-grid STL-lite decomposition
    "kmeans_silhouette",           # O(k)-per-point cluster quality
    "versioned_bloom_point_lookup",  # per-file Bloom index point skip
    "versioned_change_feed_orders",  # CDF between snapshot versions
    "streaming_left_outer_interval_join",  # 3-batch outer null emission
    "versioned_zorder_2d_skipping",  # Morton layout, 2-D file pruning
    "contrastive_negatives_docs",  # md5 negative sampling, index join
    "versioned_delete_keys_orders",  # copy-on-write targeted delete
    # round-2 continuation: ranked-retrieval + sequence-mining tier
    "bm25_rank_docs",              # BM25 postings-pruned micro-exact scoring
    "hybrid_search_rrf",           # BM25 + cosine lists fused via RRF
    "retrieval_mrr_ndcg_trunc",    # MRR/nDCG eval of truncated index
    "seq_pairs_events",            # gapped sequential 2-patterns
    # round-2 continuation: codec-free real pixel decode
    "png_pixel_decode_stats",      # stdlib inflate+unfilter luma census
    "png_resize_roundtrip",        # decode→nearest resize→re-encode→decode
    "image_dhash_census",          # real-decode dHash/aHash signatures
    "image_near_dup_hamming",      # pigeonhole hamming near-dup blocking
    "mine_repeated_ngrams",        # duplicated 3-gram boilerplate census
    "audio_zcr_fingerprint",       # real WAV decode ZCR/amplitude frames
    "mine_duplicate_spans",        # sliding-window exact-substring dedup
    "maxsim_late_interaction",     # ColBERT MaxSim token-level retrieval
    "parquet_footer_census",       # metadata-only row-group stats census
    "mmr_diverse_rerank",          # greedy diversity re-rank of BM25 head
    "streaming_versioned_rollup",  # per-epoch snapshot commits + time travel
    "ppr_part_affinity",           # seeded-restart personalized PageRank
    "theil_sen_event_trend",       # robust median-of-slopes daily trend
    "image_curation_pipeline",     # header gate → decode → dedup → census
    "diff_in_diff_purchases",      # 2x2 causal cell means + DiD estimate
    "trimmed_mean_event_values",   # exact two-sided trimmed mean per group
    "cuped_event_values",          # CUPED variance-reduced experiment readout
    "oov_rate_by_lang",            # vocab coverage diagnostic per language
    "write_size_targeted_roundtrip",  # block-size-targeted file sizing
    "approx_accuracy_contract",    # sketch error bounds enforced by oracle
    "optimize_table_orders",       # OPTIMIZE: recluster + stats + skip contract
    "incremental_join_view_orders",  # delta-algebra join-view refresh
    "join_view_signed_retractions",  # bilinear delete propagation
    "secure_view_customers",       # RLS/CLS masked-view aggregate
    "stl_residual_anomalies",      # seasonality-aware MAD burst screen
    "winsorized_mean_event_values",  # clamp-to-order-statistic robust mean
    # round-4 widening: the remaining NONTRIVIAL queries that had no
    # bench row — several cost 8-14s at sf0.1 (exact-truth-set dedup
    # contracts, the embedding near-dup witness), and hiding them
    # outside the benched set would misstate the engine's real cost
    # profile. Totals rise accordingly; per-query rows are the signal.
    "embedding_near_dup",          # LSH-blocked cosine near-dup + witness
    "dedup_simhash",               # simhash + exact-truth recall contract
    "dedup_ngram_jaccard",         # exact shingle-Jaccard pairs (guarded)
    "dedup_components",            # connected components over near-dup pairs
    "dedup_keep_representatives",  # components -> canonical survivors
    "ann_lsh_topk",                # LSH-bucketed ANN top-k
    "ann_ivf_topk",                # IVF-partitioned ANN top-k
    "near_dup_incremental_lsh",    # persistable LSH index + batch probe
    "pipeline_corpus_stats",       # corpus gate->dedup->stats composite
    "unpivot_lineitem_measures",   # wide->long melt
    "corr_matrix",                 # pairwise Pearson via single agg pass
    "custom_source_events",        # Spark-4 Python DataSource scan
    "tpch_q18_large_orders",       # large-order semi-join aggregate
    "sql_exists_subquery",         # correlated EXISTS decorrelation
    # round-9 widening: the scale escape hatches (each a distinct
    # shipped configuration with its own contract; first rows land
    # in BASELINE.md from this round's idle bench)
    "fuzzy_match_suppliers_banded",  # ∝df gram pair budget + verify
    "dedup_simhash_collapsed",       # fp-equality collapse + closure pin
]


def drift_probe(spark) -> float:
    """Fixed-work host-speed reference (VERDICT r7 #8): a constant
    pure-JVM job — 400M-element range sum+mod across 32 splits, no
    data dependence, no shuffle — timed min-of-3. Recorded before AND
    after the bench so cross-round drift adjudications ("the host got
    uniformly slower") rest on a measured constant-work number
    instead of the per-query median inference three rounds running.
    Min-of-3 discards scheduler warm-up; the job is ~1s on an idle
    32-thread host."""
    # one untimed call first: the probe's codegen unit JITs on its
    # first execution (measured 0.44s pre vs 0.11s post on an idle
    # host before this warm call — that delta was JIT, not drift)
    spark.range(0, 400_000_000, 1, 32).selectExpr(
        "sum(id % 7) AS s").collect()
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        spark.range(0, 400_000_000, 1, 32).selectExpr(
            "sum(id % 7) AS s").collect()
        best = min(best, time.perf_counter() - t0)
    return round(best, 3)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_session("vega-bench", cpus=cpus)

    # warm the session: JVM classloading on a trivial job, then one
    # pass of every query at the smallest SF so whole-stage-codegen
    # units are JIT-compiled before timing. The timed numbers then
    # measure steady-state throughput (the 100 TB-relevant quantity)
    # instead of first-call JIT latency, and run-to-run variance
    # drops ~5x for the expression-heavy queries.
    spark.range(1000).count()
    probe_pre = drift_probe(spark)
    print(f"# drift_probe pre: {probe_pre:.3f}s", file=sys.stderr)
    warm_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir
    for name in BENCH_QUERIES:
        try:
            registry.QUERIES[name](spark, warm_dir).count()
        except Exception as exc:  # never let warm-up sink the bench
            print(f"# warmup {name} failed: {exc}", file=sys.stderr)

    # Steady-state measurement: one timed run per query; queries whose
    # first timing exceeds RETIME_S get a second run and report the
    # MIN. The sf0.001 warm-up compiles the small-plan codegen units,
    # but AQE picks different physical shapes at sf0.1, so heavy
    # queries pay first-run JIT + broadcast-build there — measured
    # ~1.6x on iterative/streaming queries (e.g. ALS 8.3s first run,
    # 5.2s steady). The re-run bound keeps total bench wall-clock
    # within ~1.3x of single-pass.
    RETIME_S = 1.2
    timings: dict[str, float] = {}
    first_run: dict[str, float] = {}   # un-retimed first measurements
    for name in BENCH_QUERIES:
        fn = registry.QUERIES[name]
        t0 = time.perf_counter()
        n = fn(spark, sf_dir).count()
        t1 = round(time.perf_counter() - t0, 3)
        first_run[name] = t1
        if t1 > RETIME_S:
            t0 = time.perf_counter()
            fn(spark, sf_dir).count()
            t1 = min(t1, round(time.perf_counter() - t0, 3))
        timings[name] = t1
        print(f"# {name}: {timings[name]:.3f}s ({n} rows)", file=sys.stderr)

    # End-of-run re-measure pass: a multi-second host stall (VM noisy
    # neighbor, full GC) can span several consecutive queries and
    # survive even min-of-2 — observed as contiguous 3-11x spikes on
    # queries that time at baseline in isolation. Any query whose
    # timing exceeds 1.8x its recorded steady-state (bench_clean.json,
    # committed) gets ONE re-measurement at the end, min taken: a real
    # regression stays slow on the re-run; a transient stall doesn't
    # recur minutes later.
    clean_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                              "bench_clean.json")
    try:
        with open(clean_path) as f:
            clean = json.load(f).get("queries", {})
    except Exception:
        clean = {}
    for name, t in list(timings.items()):
        ref = clean.get(name)
        if ref and t > max(1.0, 1.8 * ref):
            t0 = time.perf_counter()
            registry.QUERIES[name](spark, sf_dir).count()
            t2 = round(time.perf_counter() - t0, 3)
            if t2 < t:
                print(f"# remeasure {name}: {t:.3f}s -> {t2:.3f}s",
                      file=sys.stderr)
                timings[name] = t2

    # Operator-only timings (r4 verdict #3): contract-wrapped
    # flagships spend most of their wall on the exact truth/witness
    # replay, not the shipped operator. Time the registered operator
    # sub-plans separately so the 2x gate can be read against the
    # operator cost without hand-adjudicating contract overhead.
    # Recorded alongside, NOT added to the headline total (the
    # contract runs already include the operator work).
    operator_only: dict[str, float] = {}
    for name, fn in sorted(registry.OPERATOR_ONLY.items()):
        if name not in BENCH_QUERIES:
            continue
        t0 = time.perf_counter()
        fn(spark, sf_dir).count()
        t1 = round(time.perf_counter() - t0, 3)
        if t1 > RETIME_S:
            t0 = time.perf_counter()
            fn(spark, sf_dir).count()
            t1 = min(t1, round(time.perf_counter() - t0, 3))
        operator_only[name] = t1
        print(f"# operator-only {name}: {t1:.3f}s "
              f"(contract: {timings.get(name, float('nan')):.3f}s)",
              file=sys.stderr)

    probe_post = drift_probe(spark)
    print(f"# drift_probe post: {probe_post:.3f}s", file=sys.stderr)
    probe = {"pre": probe_pre, "post": probe_post}

    total = round(sum(timings.values()), 3)
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")

    # The driver captures only the TAIL (~4 KB) of stdout; round 2's
    # full per-query dict grew to 6.4 KB and the head of the JSON line
    # was clipped — BENCH_r02.json parsed to null and the round lost
    # its official perf record.  The headline line now carries the
    # total plus the 20 slowest queries (< 3 KB guaranteed below);
    # the complete per-query dict goes to bench_detail.json.
    detail_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "bench_detail.json")
    with open(detail_path, "w") as f:
        # first_run = the raw initial measurement per query, BEFORE
        # min-of-2 retiming and the end-of-run stall re-measure — kept
        # alongside so host drift and real regressions are
        # distinguishable across rounds (r3 verdict #7): a genuine
        # regression moves both numbers; a noisy-VM stall moves only
        # first_run.
        json.dump({"metric": "headline_queries_total_wall", "value": total,
                   "unit": "sec", "queries": timings,
                   "first_run": first_run,
                   "first_run_total": round(sum(first_run.values()), 3),
                   # operator sub-plan timings for contract-wrapped
                   # queries (registry.OPERATOR_ONLY) — the shipped
                   # operator's cost with the verification truth leg
                   # stripped; not part of the headline total
                   "operator_only": operator_only,
                   "drift_probe_sec": probe,
                   "sf": float(sf) if sf else None}, f, indent=1)
    worst = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:20])
    line = json.dumps({
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": worst,
        "n_queries": len(timings),
        "detail": "bench_detail.json",
        "drift_probe_sec": probe,
        "sf": float(sf) if sf else None,
    })
    if len(line) > 3000:  # belt-and-braces: never overflow the capture
        line = json.dumps({"metric": "headline_queries_total_wall",
                           "value": total, "unit": "sec",
                           "queries": {}, "n_queries": len(timings),
                           "detail": "bench_detail.json",
                           "drift_probe_sec": probe,
                           "sf": float(sf) if sf else None})
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
