#!/usr/bin/env python
"""Benchmark harness.

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default: the sf0.1
test data) on local[$SPARK_GRAFT_CPUS] (default: the CPUs this process
may run on) plus the flagship synthetic as-of + window
feature build (``feature_table_fused``), and prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ..., "sequences_per_sec": ...}

Execution is forced with a noop-sink write (count() alone can prune
projections and undercount the work).  The reports under ``BENCH/``
other than ``LAST_BENCH.json`` are frozen records of modes this script
no longer has (see README).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
sys.path.insert(0, str(REPO))

# Headline order doubles as the driver's correctness-sampling priority:
# round 3 LEADS with the queries no driver round has ever sampled (the
# first two are the r1 hash-FAILs whose oracle fix has no driver
# confirmation yet), then the encode/grid/dataset/ANN families that were
# only ever oracle-local, and closes with the cross-round perf-continuity
# set (the expensive queries tracked since r1).
HEADLINE = [
    # -- r1 driver-FAILs, fixed in r2, never re-sampled --
    "grid_adjacency_counts",
    "grid_connectivity",
    # -- encode family (never driver-sampled) --
    "zscore_by_user",
    "winsorize_by_type",
    "target_encode_expanding",
    "cyclical_time_features",
    "robust_z_by_type",
    "quantile_bins_10",
    # -- headline r2 capabilities, never driver-sampled --
    "pit_multi_window_1d_7d_30d",
    "ann_ivf_trained_topk",
    "token_loss_mask",
    "rollup_source_lang",
    "pivot_event_counts",
    "kmeans_train_centroids",
    "kmeans_cluster_sizes",
    "ann_ivf_topk",
    "ann_ivf_multiprobe",
    "ann_lsh_multiprobe_r1",
    "ann_lsh_topk_batch",
    "cv_grid_pick",
    "psi_value_drift",
    "profile_events",
    "stratified_sample_50",
    "mixture_sample",
    "shuffle_order",
    "dataset_split_counts",
    "split_leakage_pairs",
    "largest_component_grid",
    # -- grid family (never driver-sampled) --
    "grid_transect_runs",
    "grid_contagion_clumpiness",
    "grid_patch_metrics",
    "grid_patch_rejection",
    "grid_patch_connectivity",
    "flag_predicate_counts",
    # -- dataset / curation (never driver-sampled) --
    "funnel_signup_view_purchase",
    "semantic_dedup_survivors",
    "negative_samples_2",
    "token_budget_mix",
    "salted_join_custorders",
    "encoding_garbage",
    "token_pack_manifest",
    "token_vocab_topk",
    "token_bigrams_topk",
    "length_bucket_padding",
    "token_dup_ngram_spans",
    "most_ambiguous_pick",
    "diversity_pick_farthest",
    "bpe_sampled_apply_256",
    "bpe_encode_sampled_512",
    "scd2_feature_intervals",
    "interval_lookup_tiers",
    "ewma_by_user",
    "cusum_by_user",
    "mg_heavy_hitters_top20",
    "tumbling_rate_5m",
    "pii_scrub",
    "c4_line_clean",
    "asof_backward_multikey_3d",
    "token_chunk_windows",
    "token_pack_capacity",
    "token_repetition_stats",
    "token_tfidf_topk",
    "token_decontaminate",
    # -- r4 additions: fixed-size-broadcast Bloom decontamination;
    #    incremental state+delta feature build (oracle = FULL recompute) --
    "decontaminate_bloom_8g",
    "incremental_asof_features",
    # -- r4 operator wave: decayed PIT, purged CV folds, DSIR, BM25,
    #    entropy gate, Gopher document-shape gates --
    "pit_decay_features_1d",
    "purged_time_folds_5",
    "dsir_topk_sample_100",
    "bm25_topk_20",
    "token_entropy_stats",
    "gopher_quality_rules",
    "asof_lag3_features",
    "minhash_dedup_best_survivors",
    "temperature_mixture_half",
    "curriculum_order_4",
    "ccnet_ppl_buckets",
    "ngram_containment_pairs",
    "asof_staleness_profile",
    "curation_v2_survivors",
    "cluster_safe_split",
    "pit_decay_multi_1d_7d",
    "vocab_coverage_curve",
    "span_corruption_masks",
    "hard_negatives_top2",
    "bigram_pmi_top30",
    "epoch_allocation_50k",
    "bigram_logprob_quality",
    # -- r4 late wave: prefix-sum decayed PIT, sub-document block dedup,
    #    DDSketch quantiles, A-ES weighted sampling --
    "pit_decay_prefix_1d",
    "block_dedup_16w",
    "ddsketch_p50_p90_p99",
    "weighted_sample_50",
    "pq_adc_topk_10",
    "ivfpq_adc_topk_10",
    "pq_trained_adc_topk_10",
    "tokenizer_fertility",
    "winnow_fingerprints",
    "winnow_dup_pairs",
    "token_rank_drift",
    "trend_by_user",
    "gap_stats_by_user",
    "ks_value_drift",
    "rfm_scores_5",
    "acf_by_user_lag12",
    "novelty_curve_10",
    "behavior_profile_by_user",
    "seasonality_hour_by_user",
    "embedding_drift_by_label",
    "bitemporal_asof_3d",
    "hashed_cross_64",
    "cohort_retention_w",
    "expectations_events",
    "entity_feature_snapshot",
    "logreg_train_gd6",
    "logreg_calibration_10",
    "hll_distinct_users",
    "pagerank_docs_top20",
    "cms_word_counts_top30",
    "zorder_pruning_64f",
    "bloom_prune_join",
    "editdist_rerank_pairs",
    "table_diff_cdc",
    "woe_event_type",
    "bpe_roundtrip_256",
    "curation_v3_export",
    "quantile_normalize_by_type",
    "mutual_information_rank",
    "cramers_v_rank",
    # -- perf continuity (driver-green since r1/r2, tracked every round) --
    "asof_backward_7d",
    "asof_nearest_12h",
    "pit_two_table_features",
    "pit_window_agg_7d",
    "window_ffill",
    "sessionize_30m",
    "run_length_type",
    "stx_stats_by_type",
    "interval_pairs_1h_24h",
    "rolling_time_range_1h",
    "tpch_q1_pricing",
    "tpch_q3_top10",
    "tpch_q5_nation_revenue",
    "ngram_jaccard_pairs",
    "minhash_band_candidates",
    "minhash_dedup_survivors",
    "simhash16",
    "embedding_cosine_topk",
    "multimodal_decode_meta",
    "ann_lsh_topk",
    "salted_agg_by_user",
    "unigram_logprob_quality",
    # -- r5 additions --
    "embedding_gram_16",
    "pca_project_k8",
    "corr_matrix_lineitem",
    "changepoint_user_w8",
    "prefix_cache_share_8",
    "interval_overlap_pairs",
    "pack_attention_stats_128",
    "kneser_ney_quality",
    "doremi_domain_weights",
    "rho_select_top100",
    "sa_longest_dup",
    "sa_dup_coverage_16",
]

# flagship synthetic scale (distributed generation, written once to parquet)
FLAGSHIP_ENTITIES = int(os.environ.get("BENCH_ENTITIES", "60000"))
FLAGSHIP_MEAN_OBS = 40
FLAGSHIP_MEAN_TOK = 64
TOKENS_PATH = os.environ.get("BENCH_TOKENS_PATH", "/tmp/esa_pfa_bench_tokens.parquet")
PROBES_PATH = os.environ.get("BENCH_PROBES_PATH", "/tmp/esa_pfa_bench_probes.parquet")


def _force(df) -> int:
    df.write.format("noop").mode("overwrite").save()
    return 0


def ensure_flagship_input(spark) -> None:
    """Materialize the synthetic tokens/probes tables once (generation is
    excluded from timing)."""
    from esa_pfa_spark import synth

    marker = Path(TOKENS_PATH) / "_SUCCESS"
    if not marker.exists():
        obs = synth.observations_df(
            spark, seed=42, n_entities=FLAGSHIP_ENTITIES,
            mean_obs=FLAGSHIP_MEAN_OBS, mean_tok=FLAGSHIP_MEAN_TOK, distributed=True,
        )
        obs.write.mode("overwrite").parquet(TOKENS_PATH)
    pmarker = Path(PROBES_PATH) / "_SUCCESS"
    if not pmarker.exists():
        probes = synth.queries_df(
            spark, seed=42, n_entities=FLAGSHIP_ENTITIES, mean_obs=FLAGSHIP_MEAN_OBS,
            probes_per_entity=4,
        )
        probes.write.mode("overwrite").parquet(PROBES_PATH)


def run_flagship(spark, repeats: int = 1) -> tuple[float, int]:
    """Time the as-of + window feature build (``feature_table_fused``, the
    plan ``cli run`` executes); returns (best sec, n_sequences).  min-of-N
    defends against scheduler noise on a shared host."""
    from esa_pfa_spark.plans.pipeline import feature_table_fused

    obs = spark.read.parquet(TOKENS_PATH)
    probes = spark.read.parquet(PROBES_PATH)
    n_seq = obs.count()
    best = float("inf")
    for _ in range(repeats):
        t0 = time.time()
        _force(feature_table_fused(obs, probes).drop("tokens"))
        best = min(best, time.time() - t0)
    return best, n_seq


def main() -> None:
    # no options: a removed mode's flag fails loudly instead of silently
    # running the default mode
    argparse.ArgumentParser(description=__doc__.splitlines()[0]).parse_args()
    from esa_pfa_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    # bench inputs are far smaller than production splits: shrink split
    # sizing so scan-side stages reach full parallelism (at 100 TB the
    # default 128MB splits already give ~800k tasks; here they'd give ~1)
    spark = get_spark(
        master=f"local[{cpus}]",
        app_name="esa_pfa_bench",
        extra_confs={
            "spark.sql.files.maxPartitionBytes": str(8 * 1024 * 1024),
            "spark.sql.files.openCostInBytes": str(512 * 1024),
            # keep AQE's post-shuffle coalescing from collapsing the small
            # bench shuffle below the core count (production advisory 64MB
            # is right for 100TB inputs, not for a 300MB bench table)
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": str(4 * 1024 * 1024),
            "spark.sql.adaptive.coalescePartitions.minPartitionSize": str(1 * 1024 * 1024),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    ensure_flagship_input(spark)

    timings: dict[str, float] = {}
    # flagship FIRST: it is the north-rule metric and must not inherit the
    # heap state of 50+ prior queries (accumulated broadcasts + the CC
    # query's localCheckpoint blocks degrade it 2x when it runs last —
    # measured 4.8s fresh vs 11.1s after the full headline loop)
    run_flagship(spark)
    run_flagship(spark)
    fsec, n_seq = run_flagship(spark, repeats=3)
    timings["flagship_asof_features"] = round(fsec, 3)

    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    # one untimed pass of the first query warms JVM JIT + parquet footer
    # caches so per-query numbers measure steady-state execution, not
    # first-query compilation (the first query otherwise pays ~5s JIT)
    _force(qs[HEADLINE[0]](spark, sf_dir))
    # spawn the Python/Arrow worker pool before timing: mapInArrow /
    # pandas_udf queries otherwise charge one-time worker startup
    # (~8s measured for token_pack_capacity cold vs 2.5s warm) to
    # whichever Arrow query runs first — production reuses workers
    spark.range(1024).repartition(64).mapInArrow(
        lambda it: it, schema="id: long"
    ).count()
    # min-of-2 per query (two full passes, min per query): single-shot
    # numbers on a shared host swing 2-3x with transient load
    # (measured flagship 5.2s vs 9.7s across two "idle" runs); the min
    # of two spaced samples is a far better steady-state estimator and
    # the first pass doubles as the second's warm-up
    all_draws: dict[str, list[float]] = {}
    for _pass in range(2):
        for name in HEADLINE:
            t0 = time.time()
            _force(qs[name](spark, sf_dir))
            dt_q = round(time.time() - t0, 3)
            timings[name] = min(timings.get(name, dt_q), dt_q)
            all_draws.setdefault(name, []).append(dt_q)
        # several queries pin internal caches (pack_offsets' numbering
        # relation, curation intermediates) and rightly never unpersist
        # mid-query; across 2 x 156 queries those leak into the 8g
        # driver heap.  Clearing between passes keeps each query's
        # timing isolated (no cross-query cache wins) and the JVM
        # healthy through the tail of the run.
        spark.catalog.clearCache()

    total = round(sum(timings.values()), 3)
    # both raw draws for the 10 slowest queries: round-over-round
    # regression calls on a noisy shared host should rest on the spread,
    # not a single min (headline numbers stay min-of-2)
    slowest = sorted(timings, key=lambda k: -timings[k])[:10]
    line = json.dumps({
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf_dir,
        "cpus": cpus,
        "flagship_sequences": n_seq,
        "sequences_per_sec": round(n_seq / fsec, 1),
        "draws": 2,
        "slowest_query_draws": {k: all_draws[k] for k in slowest if k in all_draws},
    })
    print(line)
    # truncation-proof copy: the driver captures stdout tails, which have
    # been observed cut mid-line (BENCH_r03 lost the flagship numbers) —
    # the file is the authoritative record of the same line.
    last = REPO / "BENCH" / "LAST_BENCH.json"
    last.parent.mkdir(exist_ok=True)
    last.write_text(line + "\n")
    spark.stop()


if __name__ == "__main__":
    main()
