"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line with per-query wall seconds.

Execution is forced with the noop sink (full computation, no driver
transfer, no output I/O) so the number measures the query, not collect().
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "filter_sort_limit",
    "join_agg",
    "triple_join_region",
    "global_agg",
    "dt_extract_truncate",
    "window_partition_agg",
    "sessionize",
    "asof_align",
    "rollup_daily",
    "dedup_exact_ids",
    "dedup_minhash_ids",
    "dedup_minhash_k13_ids",
    "simhash_sketch",
    "ngram_jaccard_dups",
    "text_quality",
    "token_counts",
    "token_fertility_by_lang",
    "language_pred",
    "ann_bruteforce",
    "ann_lsh",
    "image_features_stub",
    "gopher_rules",
    "top_token_profile",
    "chunk_windows",
    "pii_redaction",
    "cluster_assignments",
    "stratified_sample_docs",
    "tfidf_top_terms",
    "funnel_summary",
    "pivot_status_revenue",
    "cumulative_acctbal",
    "interval_click_counts",
    "multikey_join_partsupp",
    "dedup_components",
    "pack_bins",
    "rolling_window_revenue",
    "math_regex_funcs",
    "edit_distance_dups",
    "sketch_rollup_users",
    "kmeans_clusters",
    "prototype_pruned_ids",
    "price_rank_dist",
    "list_ops_ext",
    "dt_arith_funcs",
    "describe_orders",
    "mixture_sample_docs",
    "semantic_decontaminated_ids",
    "unigram_quality",
    "map_flag_stats",
    "emb_near_dup_pairs",
    "emb_near_dup_multiprobe",
    "emb_near_dup_fractional",
    "emb_near_dup_arrow",
    "emb_near_dup_injoin",
    "ann_lsh_multiprobe",
    "ann_lsh_multiprobe2",
    "corpus_card_binned_docs",
    "corpus_card_autofit_docs",
    "source_overlap_near_docs",
    "duplicate_span_stats",
    "span_removal_clean",
    "line_dedup_clean",
    "quality_classifier_scores",
    "upsample_epoch_counts",
    "bloom_decontaminated_ids",
    "bigram_pmi_top",
    "cms_token_estimates",
    "semdedup_survivors",
    "dsir_doc_weights",
    "dsir_sample_ids",
    "ann_pq",
    "ann_ivfpq",
    "ann_recall_audit",
    "pq_screen_survivors",
    "leakage_safe_split_stats",
    "temperature_mixture_docs",
    "quality_pruned_ids",
    "contamination_report_bench",
    "training_order_docs",
    "token_budget_pruned_ids",
    "semantic_contamination_scores",
    "bigram_nll_docs",
    "dup_cluster_sizes",
    "winnow_overlap_docs",
    "curation_decisions_docs",
    "curation_summary_docs",
    "curation_funnel_docs",
    "media_format_mismatch_docs",
    "media_byte_stats_docs",
    "balanced_shards_docs",
    "pq_contamination_bench",
    "corpus_diff_docs",
    "source_overlap_docs",
    "length_drift_psi_docs",
    "blend_drift_psi_docs",
    "psi_frozen_baseline_docs",
    "blend_drift_frozen_docs",
    "blend_frozen_audit_docs",
    "corpus_card_docs",
    "corpus_card_approx_docs",
    "minhash_estimate_pairs",
    "dedup_rates_by_lang",
    "soft_dedup_weights_docs",
    "commonness_frozen_docs",
    "stratified_split_docs",
    "code_quality_docs",
    "blended_quality_docs",
    "span_decontaminated_docs",
    "dup_weight_docs",
    "minhash_prt_summary",
    "incremental_minhash_ids",
    "novelty_scores_docs",
    "approx_prune_stats",
    "ppl_bucketed_docs",
    "pii_count_stats",
    "changed_docs_gate",
    "pq_residual_screen_survivors",
    "pq_residual_contamination_bench",
    "ann_ivfpq_residual",
    "canonical_docs_map",
    "blocked_url_ids",
    "hard_negative_pairs",
]


def main() -> None:
    from __spark_entry__ import queries

    from colnade_spark.session import get_spark

    spark = get_spark("colnade-spark-bench")
    qs = queries()
    m = re.search(r"sf([0-9.]+)", SF_DIR)
    sf = float(m.group(1)) if m else None

    # warm the JVM / parquet footers / Python UDF workers with cheap actions
    # (otherwise the first UDF query in the loop pays ~3s of worker startup)
    spark.read.parquet(f"{SF_DIR}/region.parquet").count()
    from pyspark.sql import functions as F

    _noop = F.pandas_udf(lambda s: s, "long")
    # 64 partitions so EVERY executor thread forks its Python worker now,
    # not inside the first UDF-bearing measured query
    spark.range(0, 100_000, 1, 64).select(_noop("id")).write.format("noop").mode(
        "overwrite"
    ).save()
    # Steady-state methodology (matches BASELINE.md, which reports per-op
    # abstraction overhead at steady state): run each headline query ONCE at
    # the tiny sf0.001 scale first, so whole-stage-codegen classes (janino),
    # broadcast/shuffle machinery, and Python UDF worker pools are warm
    # before measurement — otherwise each measured number is dominated by
    # one-time JIT compilation of the plan shape, not the query. Codegen
    # caches key on generated source, so the identical pipeline at the
    # measured SF is a cache hit. The measured SF_DIR tables are NOT read
    # (hence not OS-page- or Spark-cached) during warmup, unless SF_DIR
    # itself is sf0.001.
    warm_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warm_dir):
        for name in HEADLINE:
            try:
                qs[name](spark, warm_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
            except Exception:
                pass  # a failed warmup only means that query measures cold

    # Min-of-2 per query: back-to-back identical-binary boards showed
    # median 15% / p90 71% single-shot per-query variance on this host
    # (transient contention + GC phases sweeping through contiguous
    # blocks of the board — measured round 4, see NOTES.md). The min of
    # two runs is the standard noise-floor estimator and makes
    # round-over-round per-query comparison meaningful; plans/caches are
    # warm for both passes, so the second run measures the same thing.
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2"))
    per_query: dict[str, float] = {}
    for name in HEADLINE:
        fn = qs[name]
        best = None
        for _ in range(max(1, reps)):
            t0 = time.time()
            fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            dt = time.time() - t0
            best = dt if best is None or dt < best else best
        per_query[name] = round(best, 3)

    total = round(sum(per_query.values()), 3)
    # Output contract (additions only, round 11): the full per-query map
    # stays on line 1 (head-first parsers see the complete map there) and
    # the SHORT summary line stays LAST and unchanged. In between, the map
    # is re-emitted as SMALL self-contained JSON lines (12 queries each,
    # compact separators): the driver's bounded tail capture (2000 bytes in
    # rounds 4-10, which truncated line 1 and lost every per-query number —
    # PERF_r10 per_query/scaling came back empty) retains whole chunk lines
    # it can parse, so per-query and scaling comparisons work again. The
    # chunks run from the fastest queries to the slowest, so a tail cut
    # keeps the hottest ones.
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "queries": per_query,
                "sf": sf,
            }
        )
    )
    names = sorted(per_query, key=per_query.__getitem__)
    chunk = 12
    parts = (len(names) + chunk - 1) // chunk
    for i in range(parts):
        part = {k: per_query[k] for k in names[i * chunk : (i + 1) * chunk]}
        print(
            json.dumps(
                {
                    "metric": "headline_queries_part",
                    "part": i + 1,
                    "parts": parts,
                    "queries": part,
                    "sf": sf,
                },
                separators=(",", ":"),
            )
        )
    print(
        json.dumps(
            {
                "metric": "headline_queries_total",
                "value": total,
                "unit": "sec",
                "n_queries": len(per_query),
                "sf": sf,
            }
        )
    )


if __name__ == "__main__":
    main()
