"""Measure the runtime scale curve of selected registry queries across
test-scale directories (sf0.1 plus the key-shifted 5x/10x replicas from
tools/make_scaled_sf.py).

    python tools/scale_probe.py /root/testdata/sf0.1 /tmp/sfx0.5 /tmp/sfx1

Per (query, scale): `profile_query.profile_one` with 1 untimed warm
rep and 2 timed reps; its `wall_med` is recorded. One warm JVM for
everything; noop sink. Output: JSON to stdout + tools/scale_probe.json.

Default query set = the top-10 measured shuffle producers (SHUFFLE.md)
plus the fuzzy-join and connected-components families — the shapes where
super-linear behavior would first show.
"""

from __future__ import annotations

import json
import os
import sys

from profile_query import profile_one, profiling_session

from myserver_datawarehouse_spark import registry

PROBE_QUERIES = [
    # the measured top-10 shuffle producers when the set was chosen
    "sole_returner_suppliers",
    "dpp_partitioned_revenue",
    "part_supplier_variety",
    "dup_ngram_coverage",
    "streaming_upsert_merge",
    "text_repetition_stats",
    "leakage_safe_split",
    "scd2_user_history",
    "minute_anomaly_zscore",
    "user_sessionization",
    # fuzzy family (output-bound claim to re-verify at 5x/10x)
    "customer_fuzzy_match",
    "customer_fuzzy_match_edit2",
    # connected-components / LSH family
    "near_dup_minhash_lsh",
    "dedup_clusters",
    # incremental ingest, zone maps and blooms, ANN, sketches, BPE,
    # multimodal near-dup, CDC and streaming merges, data curation
    "near_dup_incremental_lsh",
    "file_skipping_scan_audit",
    "embedding_pca_audit",
    "deletion_vector_audit",
    "theta_sketch_overlap",
    "bm25_search",
    "embedding_pq_adc_audit",
    "token_pagerank",
    "incremental_join_maintenance",
    "streaming_cdc_apply",
    "embedding_ivfpq_search",
    "streaming_cdc_replication",
    "near_dup_prefix_filter",
    "equi_depth_histogram",
    "supplier_pareto_skyline",
    "naive_bayes_langid",
    "partition_evolution_audit",
    "bpe_encode_corpus",
    "streaming_evolved_upsert",
    "near_dup_image_phash",
    "dup_span_removal",
    "embedding_ivfpq_refined",
    "streaming_compaction_race",
    "near_dup_video_frames",
    "cross_modal_curation",
    "bpe_sampled_training",
    "ann_nprobe_clustered",
    "bloom_file_skip_audit",
    "lsh_recall_audit",
    "bpe_fertility_by_lang",
    "ivf_incremental_ingest_audit",
    "streaming_bloom_maintained",
    "near_dup_audio_fingerprint",
    "bloom_evolved_carry_audit",
    "streaming_ivf_ingest",
    "embedding_matryoshka_audit",
    "embedding_binary_hamming_rerank",
    "temperature_resampled_mix",
    "streaming_near_dup_ingest",
    "bpe_holdout_coverage",
    "training_shard_plan",
    "dedup_quality_canonical",
    "lsh_band_tuning",
    "streaming_mix_drift",
    "dsir_importance_weights",
    "ngram_lm_quality_gate",
    "streaming_curation_ledger",
    "dedup_threshold_sweep",
    "training_epoch_plan",
    "quality_filter_agreement",
    "minhash_estimator_audit",
]


def main() -> None:
    sf_dirs = sys.argv[1:] or ["/root/testdata/sf0.1"]
    # Subset re-measurement (comma-separated names): results MERGE into
    # the committed artifact instead of clobbering the full table.
    subset = [
        q
        for q in os.environ.get("SPARK_GRAFT_PROBE_QUERIES", "").split(",")
        if q.strip()
    ]
    spark = profiling_session("scale-probe")

    specs = {s.name: s for s in registry.specs()}
    out: dict[str, dict[str, float]] = {}
    for name in (subset or PROBE_QUERIES):
        out[name] = {}
        for sf_dir in sf_dirs:
            tag = os.path.basename(sf_dir.rstrip("/"))
            r = profile_one(spark, specs[name], sf_dir, reps=2, warm=1)
            out[name][tag] = r["wall_med"]
            print(f"{name} @ {tag}: {r['wall_med']} {r['reps']}", flush=True)

    path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "scale_probe.json")
    if subset and os.path.exists(path):
        with open(path) as fh:
            prior = json.load(fh)
        prior.get("queries", {}).update(out)
        result = {"queries": prior["queries"], "sf_dirs": sf_dirs}
    else:
        result = {"queries": out, "sf_dirs": sf_dirs}
    with open(path, "w") as fh:
        json.dump(result, fh, indent=1)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
