"""Benchmark: run the registry's nine bench groups over the tables in
$SPARK_GRAFT_SF_DIR (default `SF_DIR`, the sf0.1 test data) on
local[$SPARK_GRAFT_CPUS] and print ONE JSON line, last on stdout.

`time_query` times every query in two parts, each under its own Spark job
group:
* construct_s -- building the DataFrame: Python, py4j, Catalyst, and every
  Spark job the builder starts itself (parquet schema inference, model
  fits, store writes, checkpoint loops).  construct_jobs counts those jobs;
* execute_s -- a `noop`-format write of the built plan, which materializes
  every column of every row (unlike count(), which lets Catalyst prune
  unreferenced projections down to an empty-schema scan).  Nothing is
  collected to the driver.

A query's time is construct_s + execute_s.  Each query runs
$SPARK_GRAFT_BENCH_REPEATS times (default 3), interleaved round-robin over
its group so a slow phase of the host hits at most one repeat of each
query.  Every repeat builds a fresh plan after clearCache(): re-executing
one DataFrame would skip finished shuffle map stages, and a persist() left
by repeat 1 would serve the later ones.  One untimed query runs first so
JVM start-up, codegen and footer reads land on no query.

The record: `queries` (HEADLINE) and `queries_v2`..`queries_v9` map each
query to its median construct_s, median execute_s, construct_jobs (of the
median repeat) and min_s (the fastest construct + execute);
`value`..`value_v9` are the per-group sums of median construct_s +
median execute_s.

Usage:  PYTHONPATH=. python bench.py
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# headline set: one per operator family; keep stable across rounds
HEADLINE = [
    "q1_pricing_summary",
    "q5_region_revenue",
    "j1_interval_overlap",
    "j4_dedup_upsert_ids",
    "zygosity_snv",
    "a5_alleles_per_position",
    "w6_first_match_wins",
    "dedup_exact",
    "near_dup_pairs",
    "ann_cosine_topk",
    "c13_translate",
    "events_hourly_rollup",
    "events_sessionize",
    "j6_j8_transcript_features",
    "emb_near_dup_cosine",
    "ann_ivf_topk",
    "doc_fingerprint_rolling",
    "q3_shipping_priority_topk",
    "q6_forecast_revenue",
    "a8_feature_counts_cube",
    "s3_s4_vcf_field_parse",
    "bpe_token_counts",
    "lang_id_scores",
    "p29_annotate_chunked",
]

# second, versioned headline group: the LLM-data-pipeline operator
# families added in rounds 4-5.  Kept SEPARATE from the stable-24 set so
# round-over-round comparability of `value` is preserved; this group gets
# its own total (`value_v2`).  Same protocol: untimed warm-up, median of
# REPEATS, fresh plan per repeat, noop sink.
HEADLINE_V2 = [
    "simhash_near_dup",
    "simhash64_near_dup",
    "near_dup_components",
    "near_dup_components_star",
    "corpus_dedup_keeplist",
    "dup_ngram_ratio",
    "decontaminate",
    "tfidf_top_terms",
    "doc_chunking",
    "sequence_packing",
    "emb_hashing_topk",
    "gopher_quality_filter",
    "paragraph_dedup",
    "dup_span_detect",
    "rrf_hybrid_topk",
    "kmeans_embeddings",
    "semdedup_pairs",
    "mm_tar_shard_samples",
    "bm25_topk",
    "source_mixing_sample",
    "unigram_surprisal",
    "ann_pq_adc_topk",
    "events_asof_join",
    "events_funnel",
    "events_retention_cohorts",
    "quality_percentile_filter",
    "heavy_hitter_terms",
    "distinct_ngram_estimate",
    "bigram_backoff_surprisal",
    "jsonl_docs_scan",
    "mmr_diverse_topk",
    "j_salted_skew_join",
    "histogram_quantile_estimate",
    "bloom_prejoin_filter",
    "zorder_layout_stats",
    "pagerank_cosupply",
    "events_type_pivot",
    "edit_distance_dup_pairs",
    "containment_pairs",
    "schema_evolution_scan",
    "bpe_learn_merges",
    "events_interval_join",
    "events_props_parse",
    "sql_interface_rollup",
    "events_resample_ffill",
    "dq_validation_report",
    "rollup_incremental_refresh",
    "bucketed_join_revenue",
    "per_group_linreg",
    "source_kl_divergence",
    "allpairs_jaccard_join",
    "weighted_sample_es",
    "corpus_curation_verdict",
    "nb_lang_classifier",
    "knn_label_predict",
    "scd2_history",
    "item_pair_lift",
    "chi2_lang_source",
    "mad_outlier_flags",
    "langid_confusion_matrix",
    "triangle_count_cosupply",
    "hll_distinct_merge",
    "event_pattern_mining",
    "jl_projection_recall",
]

# third, versioned group: round-6 additions (index-persistence
# lifecycle, full MERGE, incremental dedup, tokenizer apply).  Separate
# total (`value_v3`) keeps `value`/`value_v2` comparable across rounds.
HEADLINE_V3 = [
    "merge_full_upsert",
    "ann_pq_persisted_topk",
    "ann_ivf_persisted_topk",
    "lsh_incremental_match",
    "bpe_apply_fixed",
    "leakage_safe_split",
    # wave-6 curation operators
    "dsir_importance_weights",
    "unimax_allocation",
    "cdc_chunk_dedup",
    "colloc_pmi_topk",
    "ann_hard_negatives",
    "temperature_mixing_weights",
    "token_fertility_by_lang",
    "dedup_cluster_stats",
    "cross_source_dup_matrix",
    "training_shard_assignment",
    "keeplist_delta",
    "dataset_card_report",
    "quality_lr_train",
    "quality_lr_score",
    "a_grouping_sets_counts",
    "user_event_sequences",
    "negative_sampling_topk",
    "mixing_schedule_anneal",
    "span_corruption_preview",
    "lm_persisted_surprisal",
    "packing_efficiency_report",
    "events_psi_drift",
    "order_aging_buckets",
    "seasonal_naive_forecast_error",
    "docs_contract_report",
    "backfill_report",
    "length_matched_sample_plan",
    "dedup_threshold_sweep",
    "source_vocab_overlap",
]

# fourth, versioned group: round-7 additions.  Separate total
# (`value_v4`) keeps `value`/`value_v2`/`value_v3` comparable across
# rounds.
HEADLINE_V4 = [
    "keeplist_delta_incremental",
    "rerank_quality_topk",
    "ivf_nprobe_recall_sweep",
    "contrastive_triplets",
    "curriculum_schedule",
    "ccnet_perplexity_buckets",
    "lsh_band_sweep",
    "doremi_domain_weights",
    "ann_ndcg_eval",
    "ivf_ingest_append",
    "quality_calibration_ece",
    "orc_roundtrip_scan",
    "events_rolling_median",
    "dup_span_removal",
    "quality_lr_apply_persisted",
    "countmin_heavy_hitters",
    "ivf_list_skew_report",
]

# fifth, versioned group: round-8 additions.  Separate total
# (`value_v5`) keeps earlier group totals comparable across rounds.
HEADLINE_V5 = [
    "keeplist_delta_refresh_only",
    "contrastive_triplets_ivf",
    "epoch_shard_manifest",
    "ann_hard_negatives_ivf",
    "rerank_batch_topk",
    "ivf_centroid_drift_report",
    "lsh_match_probe_only",
    "ivf_assign_ingest",
    "cluster_balanced_sample",
]

# sixth, versioned group: round-9 additions (IVF maintenance loop +
# token-priced packing).  Separate total (`value_v6`) keeps earlier
# group totals comparable across rounds.
HEADLINE_V6 = [
    "ivf_compact_probe_parity",
    "ivf_retrain_centroids",
    "sequence_packing_tokens",
    "ann_hard_negatives_probe_only",
    "quality_pr_sweep",
]

# seventh, versioned group: round-10 additions (steady-state probe-only
# twins for the miner + maintenance lifecycles).  Separate total
# (`value_v7`) keeps earlier group totals comparable across rounds.
HEADLINE_V7 = [
    "contrastive_triplets_probe_only",
    "ivf_compact_probe_only",
]

# eighth, versioned group: round-11 additions (data selection, filtered
# vector search, sketch set ops, late-interaction scoring).  Separate
# total (`value_v8`) keeps earlier group totals comparable across rounds.
HEADLINE_V8 = [
    "rho_loss_selection",
    "ann_filtered_topk",
    "kmv_sketch_intersection",
    "maxsim_late_interaction",
    "maxsim_rerank_ivf",
    "unpivot_quality_metrics",
    "bm25_persisted_topk",
    "rho_persisted_selection",
]

# ninth, versioned group: round-12 additions (BM25 maintenance fold +
# monitors, persisted KMV sketch probe, self-acting filtered ANN).
# Separate total (`value_v9`) keeps earlier group totals comparable.
HEADLINE_V9 = [
    "bm25_compact_probe_only",
    "bm25_idf_drift_report",
    "bm25_bucket_skew_report",
    "kmv_overlap_probe_only",
    "ann_filtered_auto_topk",
    "bm25_filtered_topk",
    "maxsim_rerank_persisted",
    "rrf_hybrid_filtered_topk",
]


GROUPS = {
    "value": HEADLINE,
    "value_v2": HEADLINE_V2,
    "value_v3": HEADLINE_V3,
    "value_v4": HEADLINE_V4,
    "value_v5": HEADLINE_V5,
    "value_v6": HEADLINE_V6,
    "value_v7": HEADLINE_V7,
    "value_v8": HEADLINE_V8,
    "value_v9": HEADLINE_V9,
}

def _timed_in_group(sc, description: str, fn):
    """Run ``fn()`` under a fresh job group; return (result, seconds,
    group id)."""
    group = f"bench-{uuid.uuid4().hex}"
    sc.setJobGroup(group, description)
    t0 = time.perf_counter()
    try:
        out = fn()
    finally:
        elapsed = time.perf_counter() - t0
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, elapsed, group


def time_query(spark, query, sf_dir: str) -> dict:
    """Build ``query``'s plan and write it to the noop sink, timing the
    two parts separately.  construct_jobs is read after both timers stop,
    once the listener bus has drained."""
    sc = spark.sparkContext
    df, construct_s, group = _timed_in_group(
        sc, f"{query.name} construct", lambda: query.spark_fn(spark, sf_dir)
    )
    _, execute_s, _ = _timed_in_group(
        sc,
        f"{query.name} execute",
        lambda: df.write.format("noop").mode("overwrite").save(),
    )
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return {
        "construct_s": construct_s,
        "execute_s": execute_s,
        "construct_jobs": len(sc.statusTracker().getJobIdsForGroup(group)),
    }


def run_group(spark, queries: list, sf_dir: str, repeats: int) -> dict:
    """Time every query ``repeats`` times, interleaved round-robin, and
    aggregate each query's runs into one record entry."""
    runs: dict[str, list[dict]] = {q.name: [] for q in queries}
    for _ in range(repeats):
        for q in queries:
            spark.catalog.clearCache()
            runs[q.name].append(time_query(spark, q, sf_dir))
    out = {}
    for name, rs in runs.items():
        totals = [r["construct_s"] + r["execute_s"] for r in rs]
        median_run = rs[totals.index(statistics.median_low(totals))]
        out[name] = {
            part: round(statistics.median(r[part] for r in rs), 3)
            for part in ("construct_s", "execute_s")
        }
        out[name]["construct_jobs"] = median_run["construct_jobs"]
        out[name]["min_s"] = round(min(totals), 3)
    return out


def group_total(entries: dict) -> float:
    return round(
        sum(e["construct_s"] + e["execute_s"] for e in entries.values()), 3
    )


def main() -> None:
    from variant_load_pipeline_spark import queries as Q
    from variant_load_pipeline_spark.session import get_spark

    spark = get_spark(app_name="vlp-bench")
    reg = Q.registry()
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    repeats = int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "3"))

    time_query(spark, reg["q6_forecast_revenue"], SF_DIR)  # untimed warm-up

    # an unregistered name is skipped here; tests/test_plans.py fails on it
    maps = {
        key: run_group(
            spark, [reg[n] for n in names if n in reg], SF_DIR, repeats
        )
        for key, names in GROUPS.items()
    }
    record = {
        "metric": "headline_queries_total_runtime",
        "unit": "sec",
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "repeats": repeats,
        "aggregation": "median",
        **{key: group_total(m) for key, m in maps.items()},
        **{key.replace("value", "queries"): m for key, m in maps.items()},
    }
    print(json.dumps(record))


if __name__ == "__main__":
    main()
