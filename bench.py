"""Benchmark harness: runs the registry's headline queries end-to-end
(noop sink — forces full column computation, no collect) and prints ONE
JSON line with per-query wall seconds.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS   (default all cores).
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from sarfile_analyzer_ng_spark.queries import REGISTRY, memo_builders
from sarfile_analyzer_ng_spark.session import get_spark
from sarfile_analyzer_ng_spark.util import release

# The 2x-gate comparison subset: PINNED to the exact keys BENCH_r01
# measured — the previous exclusion-based form silently absorbed
# every query added after round 1 (q59+), inflating the "comparable"
# number each round.
R1_KEYS = (
    "q01_pricing_summary", "q02_describe_stats", "q03_percentiles",
    "q04_time_filter", "q05_dedup_first", "q06_pivot_wide",
    "q07_melt_long", "q08_header_inventory", "q09_device_filter",
    "q10_resample", "q11_minmax_argmax", "q12_restart_insert",
    "q13_intersect_headers", "q14_multifile_describe",
    "q15_global_range", "q16_alias_join", "q17_join_rollup",
    "q18_topk", "q19_correlation", "q20_outliers", "q21_gap_detect",
    "q22_hourly_profile", "q23_rolling_avg", "q24_running_sum",
    "q25_asof_join", "q26_sessionize", "q27_salted_agg",
    "q30_dedup_exact", "q31_dedup_minhash", "q32_dedup_simhash",
    "q33_ngram_jaccard", "q34_cosine_dup", "q35_ann_topk",
    "q36_ann_lsh", "q37_lang_id", "q38_quality_score",
    "q39_token_count", "q40_fingerprint", "q41_ann_ivf",
    "q42_text_clean", "q43_hash_split", "q44_json_extract",
    "q45_rollup", "q46_delta_rate", "q47_resample_filled",
    "q48_topn_per_group", "q49_anti_join_dedup", "q50_sketch_stats",
)

# Second pinned comparison subset (r11 VERDICT directive #7): the
# exact 200 keys BENCH_r10 measured, so mid-life queries keep a
# committed same-code reference as the registry grows past them.
# Literal pin for the same reason as R1_KEYS — an exclusion-based
# form would silently absorb later additions.
R10_KEYS = (
    "q01_pricing_summary", "q02_describe_stats", "q03_percentiles",
    "q04_time_filter", "q05_dedup_first", "q06_pivot_wide",
    "q07_melt_long", "q08_header_inventory", "q09_device_filter",
    "q10_resample", "q11_minmax_argmax", "q12_restart_insert",
    "q13_intersect_headers", "q14_multifile_describe",
    "q15_global_range", "q16_alias_join", "q17_join_rollup",
    "q18_topk", "q19_correlation", "q20_outliers", "q21_gap_detect",
    "q22_hourly_profile", "q23_rolling_avg", "q24_running_sum",
    "q25_asof_join", "q26_sessionize", "q27_salted_agg",
    "q30_dedup_exact", "q31_dedup_minhash", "q32_dedup_simhash",
    "q33_ngram_jaccard", "q34_cosine_dup", "q35_ann_topk",
    "q36_ann_lsh", "q37_lang_id", "q38_quality_score",
    "q39_token_count", "q40_fingerprint", "q41_ann_ivf",
    "q42_text_clean", "q43_hash_split", "q44_json_extract",
    "q45_rollup", "q46_delta_rate", "q47_resample_filled",
    "q48_topn_per_group", "q49_anti_join_dedup", "q50_sketch_stats",
    "q51_minhash_twin_recall", "q52_simhash_twin_recall",
    "q53_lsh_exact_parity", "q54_sketch_bounds",
    "q55_header_alias_roundtrip", "q56_lsh_jaccard",
    "q57_stratified_sample", "q58_knn_classify", "q59_overlay_align",
    "q60_pii_scan", "q61_repetition_signals", "q62_decontaminate",
    "q63_tfidf_topterms", "q64_mix_weights", "q65_top_ngrams",
    "q66_mix_apply", "q67_jaccard_maxdf", "q68_dup_clusters",
    "q69_dedup_apply", "q70_quality_filter", "q71_chunk_documents",
    "q72_kmeans_twin", "q73_pack_sequences", "q74_shard_manifest",
    "q75_quantize_embeddings", "q76_quantized_recall",
    "q77_ann_lsh_parity", "q78_dup_rate_by_source",
    "q79_winnow_fingerprints", "q80_winnow_twin_overlap",
    "q81_decontaminate_winnow", "q82_semdedup", "q83_dsir_weights",
    "q84_unigram_logprob", "q85_curation_funnel",
    "q86_cluster_profile", "q87_perplexity_buckets",
    "q88_bloom_membership", "q89_source_diversity", "q90_bpe_merges",
    "q91_bpe_first_merge", "q92_eval_containment",
    "q93_temperature_mix", "q94_passage_dedup", "q95_bigram_logprob",
    "q96_dedup_keep_best", "q97_pq_codes", "q98_pq_adc_topk",
    "q99_pq_rerank", "q100_ann_ivfpq", "q101_corpus_card",
    "q102_repeat_schedule", "q103_tokenizer_fertility",
    "q104_quality_classifier", "q105_budget_trim",
    "q106_repeated_spans", "q107_span_dedup_apply",
    "q108_decon_semantic", "q109_pca_projection",
    "q110_vocab_coverage", "q111_edit_dup_pairs",
    "q112_remove_top_direction", "q113_epoch_shuffle",
    "q114_source_divergence", "q115_seasonal_outliers",
    "q116_weighted_sample", "q117_image_dup_pairs", "q118_pca_topd",
    "q119_training_assembly", "q120_classifier_calibration",
    "q121_incremental_near_dups", "q122_decontaminate_spans",
    "q123_doremi_weights", "q124_bm25_topk", "q125_zipf_stats",
    "q126_kn_bigram_logprob", "q127_ewma_forecast",
    "q128_ngram_novelty", "q129_quality_quantile_norm",
    "q130_hashed_gram_classifier", "q131_bm25_champions",
    "q132_source_risk_report", "q133_source_perplexity",
    "q134_hybrid_rrf", "q135_snapshot_diff", "q136_count_min",
    "q137_boilerplate_cut", "q138_trend_fit", "q139_chunk_ppl_cut",
    "q140_mad_outliers", "q141_moments_merge", "q142_ivf_recall",
    "q143_mmr_rerank", "q144_threshold_runs", "q145_cusum_alarms",
    "q146_proto_prune", "q147_capacity_forecast",
    "q148_lag_correlation", "q149_soft_dedup",
    "q150_bm25_ndcg_audit", "q151_cluster_silhouette",
    "q152_budget_allocation", "q153_word_entropy",
    "q154_rm3_expansion", "q155_jl_distortion",
    "q156_media_inventory", "q157_anomaly_ensemble",
    "q158_dup_pagerank", "q159_packing_report", "q160_ks_drift",
    "q161_classifier_auc", "q162_hourly_bands", "q163_heaps_law",
    "q164_embedding_card", "q165_bigram_entropy",
    "q166_coverage_curve", "q167_curriculum_order",
    "q168_filter_agreement", "q169_length_histogram",
    "q170_moore_lewis", "q171_bootstrap_ci", "q172_kcenter_coreset",
    "q173_embedding_outliers", "q174_threshold_sweep",
    "q175_split_leakage", "q176_unimax_allocation", "q177_ql_topk",
    "q178_fisher_separation", "q179_winsorized_stats",
    "q180_ranker_agreement", "q181_k_anonymity",
    "q182_benford_audit", "q183_incident_overlap",
    "q184_hapax_density", "q185_vocab_overlap", "q186_length_emd",
    "q187_norm_dedup_lift", "q188_ql_champions",
    "q189_cluster_size_histogram", "q190_url_canonicalize",
    "q191_domain_rollup", "q192_passage_near_dups",
    "q193_heavy_hitters", "q194_ann_ndcg_audit",
    "q195_allpairs_cosine", "q196_readability", "q197_url_dup_rate",
    "q198_quantile_summary", "q199_pii_redact",
    "q200_doc_containment", "q201_curation_funnel_v2",
    "q202_url_frontier",
)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    # the full per-query map this run rewrites at the end; its prior
    # contents are the reference for top_deltas_vs_prev
    full_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "docs",
        f"bench_full_sf{sf}.json",
    )
    try:
        with open(full_path) as fh:
            prior = json.load(fh).get("queries", {})
    except (OSError, ValueError):
        prior = {}
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warm the JVM + parquet footers once so per-query numbers measure
    # the queries, not session startup.
    REGISTRY["q01_pricing_summary"][0](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()

    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "2"))
    timings: dict[str, float] = {}
    # exec-only view (r12 VERDICT #2): the legacy per-query number is
    # build (Python DataFrame construction + any eager model jobs) +
    # the noop write. At small SFs the build part is a driver-side
    # CONSTANT, so the low-core/high-core wall ratio reads ≈1 for
    # every query and the scaling probe carries no signal. exec_* is
    # the SAME timed region split at the write boundary — the write
    # call's own wall (write-side planning + codegen + job run), no
    # extra work added, so the legacy numbers stay methodology-
    # identical. Recorded addition-only next to them.
    exec_timings: dict[str, float] = {}
    for rep in range(reps):
        # Force the session-lived cross-query memos FIRST, each timed
        # as its own _memo_* line: previously the first registry
        # consumer absorbed the whole family's build cost (q56 read
        # 9 s while its family siblings read 0.07 s), making per-query
        # regressions unattributable. The registry loop below then
        # measures each query's OWN plan cost against warm memos.
        for mkey, builder in memo_builders().items():
            start = time.perf_counter()
            mdf = builder(spark, sf_dir)
            t_write = time.perf_counter()
            mdf.write.format("noop").mode("overwrite").save()
            end = time.perf_counter()
            elapsed = round(end - start, 3)
            ex = round(end - t_write, 3)
            print(f"[bench] rep{rep} {mkey} {elapsed}s", file=sys.stderr)
            timings[mkey] = min(timings.get(mkey, elapsed), elapsed)
            exec_timings[mkey] = min(exec_timings.get(mkey, ex), ex)
        for key, (fn, _) in REGISTRY.items():
            start = time.perf_counter()
            df = fn(spark, sf_dir)
            t_write = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            end = time.perf_counter()
            elapsed = round(end - start, 3)
            ex = round(end - t_write, 3)
            print(f"[bench] rep{rep} {key} {elapsed}s", file=sys.stderr)
            # min over reps: single-shot numbers on a 32-thread local
            # JVM swing ±50% from JIT/python-worker warm-up and GC; the
            # min is the reproducible cost of the plan itself
            timings[key] = min(timings.get(key, elapsed), elapsed)
            exec_timings[key] = min(exec_timings.get(key, ex), ex)
            # operators that cache reused sub-frames (minhash/simhash/
            # jaccard/percentiles/ivf) register them with util.own_cache;
            # release keeps per-query memory independent while leaving
            # the deliberately session-lived cross-query memos (the
            # q31/q51 shared pair frame) warm — a long-lived session
            # would hold them too
            release(spark)
        # reps stay independent of the memoized frames' build cost
        # only within a rep; drop everything between reps (but leave
        # the final rep's memos warm for the subset reps below)
        if rep < reps - 1:
            spark.catalog.clearCache()

    # Extra min-reps for the PINNED r1 subset (the 2x-gate number):
    # one slow host band during the single pass over the 200-query
    # registry swung the subset ±60% run-to-run (BENCH_r10 read 42.5s
    # where the same code measured 26.4s). The subset is cheap, so it
    # gets its own additional reps against warm memos and the min is
    # reported — a band has to cover EVERY rep to move the headline.
    r1_extra = int(os.environ.get("SPARK_GRAFT_R1_REPS", "2"))
    # The extra reps run against warm memos/caches (the final main
    # rep's clearCache is skipped), so their mins are NOT comparable
    # to the main-rep cold min-of-2 methodology every prior artifact
    # used. They go to a SEPARATE warm record; the headline total and
    # r1_subset_seconds stay on the main-rep mins so the cross-round
    # 2x-gate comparison is like-for-like (r11 ADVICE).
    warm = dict(timings)
    for rep in range(r1_extra):
        for key in R1_KEYS:
            if key not in REGISTRY:
                continue
            fn = REGISTRY[key][0]
            start = time.perf_counter()
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            elapsed = round(time.perf_counter() - start, 3)
            print(f"[bench] r1rep{rep} {key} {elapsed}s", file=sys.stderr)
            warm[key] = min(warm.get(key, elapsed), elapsed)
            release(spark)

    total = round(sum(timings.values()), 3)
    memo_seconds = round(
        sum(v for k, v in timings.items() if k.startswith("_memo_")), 3
    )
    # the registry grows every round; r1_subset_seconds keeps the
    # total comparable to BENCH_r01's 48-query registry. The list is
    # PINNED to the exact keys BENCH_r01 measured — the previous
    # exclusion-based form silently absorbed every query added after
    # round 1 (q59+), inflating the "comparable" number each round.
    r1_keys = [k for k in R1_KEYS if k in timings]
    # Top wall-time movers vs the committed full artifact at the same
    # sf as it was before this run, so a regression is visible in the
    # headline even if the per-query map gets clipped.
    moved = sorted(
        ((k, round(v - prior[k], 3)) for k, v in timings.items()
         if k in prior),
        key=lambda kv: -abs(kv[1]),
    )
    deltas = dict(moved[:5])
    r10_keys = [k for k in R10_KEYS if k in timings]
    headline = {
        "metric": "total_query_wall_seconds",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "n_queries": len(REGISTRY),
        # main-rep min-of-N (cache cleared between reps) — the
        # methodology of every pre-r11 artifact and of BASELINE
        "r1_subset_seconds": round(sum(timings[k] for k in r1_keys), 3),
        "r1_subset_min2_seconds": round(
            sum(timings[k] for k in r1_keys), 3),
        # min folding the extra warm subset reps — strictly ≤ the
        # cold figure; kept as its own field, never the headline
        "r1_subset_warm_seconds": round(sum(warm[k] for k in r1_keys), 3),
        "r10_subset_seconds": round(
            sum(timings[k] for k in r10_keys), 3),
        "r1_subset_reps": reps + r1_extra,
        "memo_seconds": memo_seconds,
        "top_deltas_vs_prev": deltas,
        # total of the exec-only mins (write-call wall; see the
        # exec_timings note above) — the scaling-sensitive share of
        # the headline. Per-query map: full copy in the docs file,
        # slowest 12 on stdout (the stdout line must stay inside the
        # driver's ~2000-char tail window).
        "exec_seconds": round(sum(exec_timings.values()), 3),
    }
    exec_slowest = dict(sorted(
        exec_timings.items(), key=lambda kv: -kv[1])[:12])
    # The driver's artifact keeps only the LAST ~2000 characters of
    # the run's output (BENCH_r05..r09 all arrived clipped mid-map,
    # parsed: null). So: the FULL per-query map goes to a committed
    # docs file, and the ONE stdout JSON line (the driver contract)
    # stays small enough to survive the tail window intact —
    # headline totals + the slowest 25 queries, explicitly labeled.
    with open(full_path, "w") as fh:
        json.dump({**headline, "queries": timings,
                   "exec_queries": exec_timings}, fh, indent=1,
                  sort_keys=True)
        fh.write("\n")
    slowest = dict(sorted(
        ((k, v) for k, v in timings.items() if not k.startswith("_memo_")),
        key=lambda kv: -kv[1])[:25])
    print(json.dumps({
        **headline,
        "queries_shown": "slowest_25_of_full_map",
        "full_map": os.path.relpath(full_path,
                                    os.path.dirname(full_path) + "/.."),
        "queries": slowest,
        "exec_queries": exec_slowest,
    }))


if __name__ == "__main__":
    main()
