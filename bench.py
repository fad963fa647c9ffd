"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on local[N].

Prints the full JSON object:
  {"metric": "headline_total", "value": <sec>, "unit": "sec",
   "queries": {"q": sec, ...}, "sf": <sf>}
then a compact summary line (no per-query detail) as the LAST line, so
a bounded tail capture always holds a complete parseable object even
when the per-query dict outgrows the capture window (round 5 lost the
headline total to exactly that). The full object is also written to
the ``bench_result.json`` sidecar next to this script.

Each query is forced end-to-end with a noop sink (full materialization,
no driver collect). Times include plan + execution, not session startup.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from eventsourcing_spark.registry import SPARK_QUERIES
from eventsourcing_spark.session import get_spark

HEADLINE = [
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q13_customer_distribution",
    "tpch_q18_large_volume",
    "tpch_q21_waiting_supplier",
    "tpch_q2_min_cost_supplier",
    "tpch_q9_product_profit",
    "a1_fold_balance",
    "s5_latest_snapshot",
    "w2_running_balance",
    "sessionize_events",
    "j2_snapshot_rehydrate",
    "c2_checkpoint_antijoin",
    "skew_salted_fold",
    "dedup_exact",
    "dedup_minhash_signatures",
    "dedup_lsh_pairs",
    "dedup_lsh_clusters",
    "dedup_simhash",
    "text_winnow_fingerprints",
    "knn_topk_dot",
    "ann_lsh_topk",
    "ann_lsh_multiprobe",
    "ann_ivf_topk",
    "emb_neardup_pairs",
    "gopher_quality_flags",
    "boilerplate_ngrams",
    "contamination_overlap",
    "curation_pipeline",
    "mixture_weighted_sample",
    "shuffle_shard_assign",
    "emb_int8_quantize",
    "chunk_documents",
    "kmeans_clusters",
    "funnel_conversion",
    "rolling_7d_value",
    "pagerank_neardup",
    "term_match_retrieval",
    "emb_random_projection",
    "sketch_hll_distinct",
    "sketch_cms_heavy_hitters",
    "sketch_bloom_membership",
    "weighted_priority_sample",
    "asof_next_error",
    "cusum_changepoint",
    "cooccur_pmi_topk",
    "pq_encode",
    "ann_rerank_pipeline",
    "mmr_diversify_topk",
    "kmv_intersection_pairs",
    "bloom_semijoin_prune",
    "incremental_agg_merge",
    "zonemap_prune_stats",
    "perplexity_bucket_partition",
    "cluster_rep_selection",
    "item_item_cosine",
    "link_prediction_ra",
    # round 4: the distributed-rank rewrites + exact rank-probe percentiles
    "quality_vs_dup_deciles",
    "sorted_neighborhood_pairs",
    "rfm_segmentation",
    "global_value_percentiles_rank",
    # round 5: modality-complete near-dup (real codecs) + the PII pass
    "media_phash_neardup_pairs",
    "media_audio_fingerprint_neardup",
    "media_video_framehash_neardup",
    "pii_detection_stats",
    "pii_redaction_endstate",
    # round 5b: curation audits, fuzzy join, graph communities, IR pruning
    "dedup_span_rewrite",
    "dsir_importance_resample",
    "ngram_novelty_by_source",
    "fastss_editdist1_pairs",
    "label_propagation_communities",
    "community_modularity",
    "maxscore_pruning_audit",
    "dedup_calibration_pr",
    "apriori_triple_itemsets",
    "dq_expectation_suite",
    # round 6: extraction-first pipeline stages + the winnowed ExactSubstr
    "html_extract_stats",
    "html_link_graph",
    "c4_line_filters",
    "gopher_repetition_flags",
    "text_normalize_endstate",
    "exact_substring_dedup",
    # round 7: trained classifiers (exact NB) + URL canonical dedup
    "nb_quality_train",
    "nb_quality_score",
    "langid_ngram_classify",
    "url_canonical_dedup",
    # round 8: exact ridge training, KLL quantile sketch, real pixel
    # resize through the PNG codec, split leakage, packing, KS drift,
    # exact Zipf slope
    "ridge_quality_train",
    "ridge_quality_score",
    "kll_quantile_sketch",
    "media_resize_pixels",
    "split_neardup_leakage",
    "sequence_packing_audit",
    "ks_quality_by_source",
    "zipf_slope_tokens",
    # round 8 wave 3: record linkage, boundary dedup, melt, conformance
    "fs_linkage_weights",
    "stitch_truncation_pairs",
    "unpivot_event_matrix",
    "process_conformance_audit",
    # round 8 wave 4: exact calibration, mutual-NN mining, rank agreement
    "isotonic_calibration_pav",
    "mutual_nn_margin_pairs",
    "model_rank_spearman",
    # round 8 wave 6: KN bigram LM, density clustering
    "kneser_ney_bits",
    "dbscan_embeddings",
    # round 8 wave 7: absorbing-chain funnel, stylometry
    "markov_absorption_funnel",
    "burrows_delta_sources",
    # round 8 wave 8: distributed bootstrap, Welch test
    "poisson_bootstrap_ci",
    "welch_t_value",
    # round 8 wave 9: ANOVA, Mann-Whitney
    "anova_f_value",
    "mann_whitney_u",
    # round 8 wave 10: Dirichlet QL retrieval, Fleiss kappa
    "dirichlet_ql_topk",
    "fleiss_kappa_raters",
    # round 9: k-group nonparametric + paired-binary decision tests
    "kruskal_wallis_values",
    "mcnemar_raters",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    spark = get_spark("es-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warm-up (untimed): run every headline query once at the smallest
    # scale factor. This compiles the whole-stage-codegen classes — the
    # cache is keyed by generated source, so the timed sf run reuses
    # them. Standard practice: measure steady-state engine throughput,
    # not one-off JVM JIT cost.
    warm_dir = "/root/testdata/sf0.001"
    warm = warm_dir if os.path.isdir(warm_dir) else sf_dir
    for name in HEADLINE:
        try:
            SPARK_QUERIES[name](spark, warm).write.format("noop").mode(
                "overwrite"
            ).save()
        except Exception:  # noqa: BLE001 — warm-up must never fail the bench
            pass

    # Best-of-two: the host VM throttles unpredictably (observed 170× on a
    # single run); min-of-runs measures the engine, not the hypervisor.
    # Fault-isolated per query: one broken query must cost only its own
    # entry, never the whole bench line (round 1 lost the entire bench to
    # a single AnalysisException).
    times: dict[str, float] = {}
    errors: dict[str, str] = {}
    for name in HEADLINE:
        fn = SPARK_QUERIES.get(name)
        if fn is None:
            errors[name] = "not registered"
            continue
        best = float("inf")
        for _ in range(2):
            t0 = time.time()
            try:
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            except Exception as e:  # noqa: BLE001 — isolate per query
                errors[name] = f"{type(e).__name__}: {e}"[:200]
                break
            best = min(best, time.time() - t0)
        else:
            times[name] = round(best, 3)

    total = round(sum(times.values()), 3)
    out = {
        "metric": "headline_total",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": sf,
    }
    if errors:
        out["errors"] = errors
    sidecar = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "bench_result.json"
    )
    with open(sidecar, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(json.dumps(out))
    summary = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": out["unit"],
        "sf": out["sf"],
        "n_queries": len(times),
        "n_errors": len(errors),
        "sidecar": "bench_result.json",
    }
    print(json.dumps(summary))
    # Round 13 (VERDICT r12 #3): the driver captures a bounded TAIL of
    # stdout, so the full-object first line (with the per-query dict) is
    # truncated away once `queries` outgrows the window — PERF_r12 lost
    # its whole per-query and scaling analysis to that. Additions-only
    # fix: re-emit the per-query dict AFTER the summary as ≤1 KB chunk
    # lines; each chunk repeats the contract fields (metric/value/unit/
    # sf) so any individual line still parses as a complete record.
    items = sorted(times.items())
    chunks: list[dict] = []
    cur: dict[str, float] = {}
    for k, v in items:
        cur[k] = v
        if len(json.dumps(cur)) > 700:
            chunks.append(cur)
            cur = {}
    if cur:
        chunks.append(cur)
    for i, chunk in enumerate(chunks):
        print(
            json.dumps(
                {
                    "metric": out["metric"],
                    "value": out["value"],
                    "unit": out["unit"],
                    "sf": out["sf"],
                    "queries_part": i,
                    "n_parts": len(chunks),
                    "queries": chunk,
                }
            )
        )
    spark.stop()


if __name__ == "__main__":
    main()
