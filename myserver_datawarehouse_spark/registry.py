"""Query registry: the single source of truth wiring every implemented
operator to (a) its Spark implementation and (b) its DuckDB oracle SQL.

`__spark_entry__.py` (the driver contract) and `tools/verify_local.py`
(the pre-flight differential harness) both read from here.

Column-name discipline: the driver sorts columns by name before hashing, so
every computed column is aliased identically in the Spark plan and the
oracle SQL (see SURVEY.md §5).
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from myserver_datawarehouse_spark.plans import relational as R
from myserver_datawarehouse_spark.plans import dims as DM
from myserver_datawarehouse_spark.plans import flagship as FL
from myserver_datawarehouse_spark.plans import embeddings as EM
from myserver_datawarehouse_spark.plans import llm_text as LT
from myserver_datawarehouse_spark.plans import multimodal as MMQ
from myserver_datawarehouse_spark.plans import report as RP
from myserver_datawarehouse_spark.plans import streaming_plans as ST
from myserver_datawarehouse_spark.plans import timeseries as T


@dataclass(frozen=True)
class QuerySpec:
    name: str
    spark: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # None => non-SQL-expressible, rows-only check
    section: str  # SURVEY.md §2 coverage tag


_SPECS: list[QuerySpec] = [
    QuerySpec("pricing_summary", R.pricing_summary, R.PRICING_SUMMARY_SQL, "A1/A3"),
    QuerySpec("star_join_revenue", R.star_join_revenue, R.STAR_JOIN_REVENUE_SQL, "J3"),
    QuerySpec(
        "top_supplier_per_nation",
        R.top_supplier_per_nation,
        R.TOP_SUPPLIER_PER_NATION_SQL,
        "W1/W3",
    ),
    QuerySpec("share_of_total", R.share_of_total, R.SHARE_OF_TOTAL_SQL, "W2"),
    QuerySpec(
        "share_of_total_broadcast",
        R.share_of_total_broadcast,
        R.SHARE_OF_TOTAL_BROADCAST_SQL,
        "W2, 100 TB form: broadcast 1-row total, no global window",
    ),
    QuerySpec(
        "customers_without_orders",
        R.customers_without_orders,
        R.CUSTOMERS_WITHOUT_ORDERS_SQL,
        "J5",
    ),
    QuerySpec(
        "big_spender_customers",
        R.big_spender_customers,
        R.BIG_SPENDER_CUSTOMERS_SQL,
        "J7",
    ),
    QuerySpec(
        "latest_event_per_user_type",
        R.latest_event_per_user_type,
        R.LATEST_EVENT_PER_USER_TYPE_SQL,
        "S4",
    ),
    QuerySpec(
        "first_appearance_order",
        R.first_appearance_order,
        R.FIRST_APPEARANCE_ORDER_SQL,
        "A5",
    ),
    QuerySpec("distinct_scan", R.distinct_scan, R.DISTINCT_SCAN_SQL, "A9"),
    QuerySpec("set_except", R.set_except, R.SET_EXCEPT_SQL, "§2.7"),
    QuerySpec(
        "set_intersect",
        R.set_intersect,
        R.SET_INTERSECT_SQL,
        "§2.7 INTERSECT (semi-join rewrite)",
    ),
    QuerySpec("stats_profile", R.stats_profile, R.STATS_PROFILE_SQL, "A3/V1"),
    QuerySpec(
        "events_asof_enrichment",
        R.events_asof_enrichment,
        R.EVENTS_ASOF_ENRICHMENT_SQL,
        "as-of join (backward): union + carry window, no pair join",
    ),
    QuerySpec(
        "events_asof_forward",
        R.events_asof_forward,
        R.EVENTS_ASOF_FORWARD_SQL,
        "as-of join (forward): label attachment, carry-back window",
    ),
    QuerySpec(
        "value_percentiles",
        R.value_percentiles,
        R.VALUE_PERCENTILES_SQL,
        "percentile block (exact; approx_percentile is the 100 TB swap)",
    ),
    QuerySpec(
        "revenue_rollup",
        R.revenue_rollup,
        R.REVENUE_ROLLUP_SQL,
        "ROLLUP grouping sets: subtotals + grand total in one pass",
    ),
    QuerySpec(
        "user_sessionization",
        R.user_sessionization,
        R.USER_SESSIONIZATION_SQL,
        "sessionization: gap flag + running sum, one sort for both windows",
    ),
    QuerySpec(
        "user_snapshot_diff",
        R.user_snapshot_diff,
        R.USER_SNAPSHOT_DIFF_SQL,
        "CDC/audit: full-outer snapshot diff at user grain",
    ),
    QuerySpec(
        "salted_user_counts",
        R.salted_user_counts,
        R.SALTED_USER_COUNTS_SQL,
        "skew: salted exact distinct-count over hot keys",
    ),
    QuerySpec(
        "events_json_props",
        R.events_json_props,
        R.EVENTS_JSON_PROPS_SQL,
        "semi-structured: schema-on-read JSON parse + exact rollup",
    ),
    QuerySpec(
        "events_daily_pivot",
        R.events_daily_pivot,
        R.EVENTS_DAILY_PIVOT_SQL,
        "pivot: wide per-day event-type counts in one conditional agg",
    ),
    QuerySpec(
        "events_value_band_join",
        R.events_value_band_join,
        R.EVENTS_VALUE_BAND_JOIN_SQL,
        "range join: broadcast-nested-loop banding + rollup",
    ),
    QuerySpec(
        "events_multires_rollup",
        R.events_multires_rollup,
        R.EVENTS_MULTIRES_ROLLUP_SQL,
        "continuous aggregate: minute/hour/day/total in one ROLLUP pass",
    ),
    QuerySpec(
        "gapfill_missing_minutes_windowed",
        T.gapfill_missing_minutes_windowed,
        T.GAPFILL_MISSING_MINUTES_WINDOWED_SQL,
        "T1/J6 (6-day window; full-range default is the library API)",
    ),
    QuerySpec(
        "interpolate_minutes_bracketing_windowed",
        T.interpolate_minutes_bracketing_windowed,
        T.INTERPOLATE_MINUTES_BRACKETING_WINDOWED_SQL,
        "T2/T3 (bracketing mode, 6-day window)",
    ),
    QuerySpec(
        "user_spend_quartiles",
        R.user_spend_quartiles,
        R.USER_SPEND_QUARTILES_SQL,
        "NTILE cohort bucketing over exact per-user spend",
    ),
    QuerySpec(
        "user_spend_quartiles_broadcast",
        R.user_spend_quartiles_broadcast,
        R.USER_SPEND_QUARTILES_BROADCAST_SQL,
        "NTILE cohort bucketing, 100 TB form: broadcast cutoffs, band-join",
    ),
    QuerySpec(
        "rolling_minute_avg",
        T.rolling_minute_avg,
        T.ROLLING_MINUTE_AVG_SQL,
        "ROWS-frame trailing moving average on the minute series",
    ),
    QuerySpec(
        "gapfill_locf_windowed",
        T.gapfill_locf_windowed,
        T.GAPFILL_LOCF_WINDOWED_SQL,
        "T2 carry-forward mode (LOCF), 6-day window",
    ),
    QuerySpec(
        "interpolate_minutes_nearest2_windowed",
        T.interpolate_minutes_nearest2_windowed,
        T.INTERPOLATE_MINUTES_NEAREST2_WINDOWED_SQL,
        "T2/T3/T4 (nearest-2 parity mode, applyInPandas, 6-day window)",
    ),
    QuerySpec(
        "interpolate_cross_midnight",
        T.interpolate_cross_midnight,
        T.INTERPOLATE_CROSS_MIDNIGHT_SQL,
        "T4 (date-boundary gap runs on real timestamps)",
    ),
    QuerySpec(
        "full_history_rebuild",
        T.full_history_rebuild,
        T.FULL_HISTORY_REBUILD_SQL,
        "T5/S7/A6 (all-dates rebuild log, one job)",
    ),
    QuerySpec(
        "first_last_event_probe",
        R.first_last_event_probe,
        R.FIRST_LAST_EVENT_PROBE_SQL,
        "O3 (global sort-limit-1 anchors)",
    ),
    QuerySpec(
        "sources_lifecycle",
        DM.sources_lifecycle,
        DM.SOURCES_LIFECYCLE_SQL,
        "J5/P9/P13/P14/V5 (sources SCD-lite cycle)",
    ),
    QuerySpec(
        "near_dup_embedding_cosine",
        EM.near_dup_embedding_cosine_gemm,
        EM.NEAR_DUP_EMBEDDING_COSINE_GEMM_SQL,
        "dedup: embedding-cosine near-dup (sign-bucket pruned, BLAS "
        "default tier — the one you'd run at scale)",
    ),
    QuerySpec(
        "near_dup_embedding_cosine_baseline",
        EM.near_dup_embedding_cosine,
        EM.NEAR_DUP_EMBEDDING_COSINE_SQL,
        "dedup: embedding-cosine near-dup, interpreted-fold baseline twin",
    ),
    QuerySpec(
        "embedding_ann_ivf",
        EM.embedding_ann_ivf,
        EM.EMBEDDING_ANN_IVF_SQL,
        "ANN: IVF cells, broadcast quantizer, nprobe search",
    ),
    QuerySpec(
        "semantic_dedup_clusters",
        EM.semantic_dedup_clusters,
        EM.SEMANTIC_DEDUP_CLUSTERS_SQL,
        "dedup: SemDeDup-style connected components over the "
        "embedding-cosine pair graph (min-label survivor per cluster)",
    ),
    QuerySpec(
        "embedding_ann_multiprobe",
        EM.embedding_ann_multiprobe,
        EM.EMBEDDING_ANN_MULTIPROBE_SQL,
        "ANN: multiprobe sign-bucket (Hamming-1 probe fan-out), the "
        "recall lever the audit quantifies",
    ),
    QuerySpec(
        "ann_recall_audit",
        EM.ann_recall_audit,
        EM.ANN_RECALL_AUDIT_SQL,
        "ANN: recall@k of ivf+bucket+multiprobe vs exact top-k, "
        "oracle-recomputed",
    ),
    QuerySpec(
        "ann_nprobe_clustered",
        EM.ann_nprobe_clustered,
        EM.ANN_NPROBE_CLUSTERED_SQL,
        "IVF nprobe recall/cost tradeoff on an in-plan clustered "
        "fixture (vectors shrunk toward label centroids): one distance "
        "frame feeds the exact yardstick and every sweep point; "
        "measured mean recall 0.21/0.42/0.67 at nprobe 1/2/4",
    ),
    QuerySpec(
        "ivf_incremental_ingest_audit",
        EM.ivf_incremental_ingest_audit,
        EM.IVF_INCREMENTAL_INGEST_AUDIT_SQL,
        "incremental IVF index ingest: batch assigned to the standing "
        "base-trained quantizer (broadcast, map-only, no retrain) + "
        "the per-cell would-move drift a retrained quantizer implies "
        "— the re-index monitoring signal",
    ),
    QuerySpec(
        "embedding_matryoshka_audit",
        EM.embedding_matryoshka_audit,
        EM.EMBEDDING_MATRYOSHKA_AUDIT_SQL,
        "Matryoshka prefix-dimension retrieval audit on the "
        "MRL-structured fixture (deterministic per-dimension geometric "
        "energy decay, no rand()): recall@k and served full-width "
        "cosine per prefix width (8/16/32/64) from ONE corpus pass "
        "(all prefix dots sliced out of the same in-flight array; "
        "per-width top-k materialized once for its four consumers) — "
        "the serving-width tuning table now shows the real monotone "
        "width/recall tradeoff",
    ),
    QuerySpec(
        "embedding_binary_hamming_rerank",
        EM.embedding_binary_hamming_rerank,
        EM.EMBEDDING_BINARY_HAMMING_RERANK_SQL,
        "1-bit binary quantization search: sign bits packed into two "
        "BIGINT words, popcount(XOR) Hamming shortlist, exact-cosine "
        "rerank, per-row ground-truth flag — the 32x-compression end "
        "of the quantization tier (int8 4x, PQ ~16x), integer-exact "
        "candidate selection",
    ),
    QuerySpec(
        "stratified_sample",
        LT.stratified_sample,
        LT.STRATIFIED_SAMPLE_SQL,
        "text: deterministic hash-gated stratified sampling",
    ),
    QuerySpec(
        "train_val_test_split",
        LT.train_val_test_split,
        LT.TRAIN_VAL_TEST_SPLIT_SQL,
        "text: deterministic hash-bucketed train/val/test split",
    ),
    QuerySpec(
        "context_pack_bins",
        LT.context_pack_bins,
        LT.CONTEXT_PACK_BINS_SQL,
        "text: concat-and-chunk context-window packing accounting",
    ),
    QuerySpec(
        "document_chunks",
        LT.document_chunks,
        LT.DOCUMENT_CHUNKS_SQL,
        "text: sliding-window chunking (context-window prep)",
    ),
    QuerySpec(
        "token_counts",
        LT.token_counts,
        LT.TOKEN_COUNTS_SQL,
        "text: whitespace + BPE-ish token counting",
    ),
    QuerySpec(
        "multimodal_frame_sample",
        MMQ.multimodal_frame_sample,
        MMQ.MULTIMODAL_FRAME_SAMPLE_SQL,
        "multimodal: frame sampling via mapInPandas",
    ),
    QuerySpec(
        "streaming_gap_state",
        ST.streaming_gap_state,
        ST.STREAMING_GAP_STATE_SQL,
        "§2.12 applyInPandasWithState custom stateful operator",
    ),
    QuerySpec(
        "normalized_quotes",
        RP.normalized_quotes,
        RP.NORMALIZED_QUOTES_SQL,
        "P1/P2/P3/V3 (currency normalize + business tz)",
    ),
    QuerySpec(
        "sheets_export_frame",
        RP.sheets_export_frame,
        RP.SHEETS_EXPORT_FRAME_SQL,
        "S10/P19/J1/J2/O4 (sheets extract, serialized)",
    ),
    QuerySpec("dim_date_flags", DM.dim_date_flags, DM.DIM_DATE_FLAGS_SQL, "S9/P10-P12/P18"),
    QuerySpec("dim_time_table", DM.dim_time_table, DM.DIM_TIME_TABLE_SQL, "§1.1 dim_time"),
    QuerySpec(
        "sources_dim_colors", DM.sources_dim_colors, DM.SOURCES_DIM_COLORS_SQL, "P14/A5"
    ),
    QuerySpec(
        "dim_date_flag_stats", DM.dim_date_flag_stats, DM.DIM_DATE_FLAG_STATS_SQL, "A4"
    ),
    QuerySpec(
        "flagship_hourly_pipeline",
        FL.flagship_hourly_pipeline,
        FL.FLAGSHIP_HOURLY_PIPELINE_SQL,
        "§3.1 S2/S4/P3-P7/T1-T3/V (composed)",
    ),
    QuerySpec(
        "pipeline_validation",
        FL.pipeline_validation,
        FL.PIPELINE_VALIDATION_SQL,
        "V1/V2/V3",
    ),
    QuerySpec(
        "pipeline_status_alerts",
        FL.pipeline_status_alerts,
        FL.PIPELINE_STATUS_ALERTS_SQL,
        "S12's data side as a query: per-check task ledger + the "
        "assembled DAG status message (telegram_alert.py format) with "
        "the Telegram caption/chunk caps computed in-plan; both "
        "message branches exercised across the shipped fixtures",
    ),
    QuerySpec("dedup_exact", LT.dedup_exact, LT.DEDUP_EXACT_SQL, "LLM exact dedup"),
    QuerySpec(
        "source_dup_matrix",
        LT.source_dup_matrix,
        LT.SOURCE_DUP_MATRIX_SQL,
        "provenance: source-level near-duplication matrix over the "
        "adjudicated LSH pair frame — per unordered source cell the "
        "link count, each side's distinct docs, and max verified "
        "Jaccard; integer counts + MAX only, nothing to round",
    ),
    QuerySpec(
        "near_dup_minhash_lsh",
        LT.near_dup_minhash_lsh,
        LT.NEAR_DUP_MINHASH_LSH_SQL,
        "LLM MinHash+LSH near-dup",
    ),
    QuerySpec(
        "near_dup_incremental_lsh",
        LT.near_dup_incremental_lsh,
        LT.NEAR_DUP_INCREMENTAL_LSH_SQL,
        "incremental near-dup ingest: new batch probed against the "
        "standing corpus LSH index (batch-bands x index-bands join, "
        "exact-Jaccard verify) — the nightly-ingest shape",
    ),
    QuerySpec(
        "dedup_clusters",
        LT.dedup_clusters,
        LT.DEDUP_CLUSTERS_SQL,
        "LLM dedup: connected components over LSH pairs (iterative)",
    ),
    QuerySpec(
        "lsh_band_tuning",
        LT.lsh_band_tuning,
        LT.LSH_BAND_TUNING_SQL,
        "LSH banding-config sweep: measured P(candidate|J) per "
        "Jaccard decile for every (bands x rows) factorization of the "
        "16 minhashes (16x1 / 8x2 / 4x4) vs the exact prefix-filter "
        "yardstick, with the theoretical 1-(1-J^r)^b at each decile "
        "midpoint joined in as engine-shared literals — the dial an "
        "operator reads before re-banding a production dedup index",
    ),
    QuerySpec(
        "dedup_quality_canonical",
        LT.dedup_quality_canonical,
        LT.DEDUP_QUALITY_CANONICAL_SQL,
        "LLM dedup arbitration: survivor of each near-dup cluster is "
        "the HIGHEST-QUALITY member (distinct-token count, token "
        "count, min doc_id — integer-exact argmax), not the smallest "
        "id; per-doc survivor flags + the suppression-list mapping",
    ),
    QuerySpec(
        "text_repetition_stats",
        LT.text_repetition_stats,
        LT.TEXT_REPETITION_STATS_SQL,
        "LLM quality: Gopher-style repetition gates, integer decisions",
    ),
    QuerySpec(
        "tfidf_top_terms",
        LT.tfidf_top_terms,
        LT.TFIDF_TOP_TERMS_SQL,
        "LLM analysis: per-lang TF-IDF top terms",
    ),
    QuerySpec(
        "near_dup_simhash",
        LT.near_dup_simhash,
        LT.NEAR_DUP_SIMHASH_SQL,
        "LLM SimHash near-dup",
    ),
    QuerySpec(
        "ngram_jaccard_pairs",
        LT.ngram_jaccard_pairs,
        LT.NGRAM_JACCARD_PAIRS_SQL,
        "LLM n-gram Jaccard baseline",
    ),
    QuerySpec(
        "text_quality_scores",
        LT.text_quality_scores,
        LT.TEXT_QUALITY_SCORES_SQL,
        "LLM quality scoring",
    ),
    QuerySpec(
        "unigram_xent_quality",
        LT.unigram_xent_quality,
        LT.UNIGRAM_XENT_QUALITY_SQL,
        "LLM quality: unigram cross-entropy (perplexity proxy), exact",
    ),
    QuerySpec(
        "text_stats_by_lang",
        LT.text_stats_by_lang,
        LT.TEXT_STATS_BY_LANG_SQL,
        "LLM corpus stats",
    ),
    QuerySpec(
        "lang_id_confusion",
        LT.lang_id_confusion,
        LT.LANG_ID_CONFUSION_SQL,
        "LLM language ID",
    ),
    QuerySpec(
        "benchmark_contamination",
        LT.benchmark_contamination,
        LT.BENCHMARK_CONTAMINATION_SQL,
        "LLM decontamination: broadcast probe-shingle containment",
    ),
    QuerySpec(
        "doc_fingerprint_winnow",
        LT.doc_fingerprint_winnow,
        LT.DOC_FINGERPRINT_WINNOW_SQL,
        "LLM winnowing fingerprint",
    ),
    QuerySpec(
        "corpus_curation_pipeline",
        LT.corpus_curation_pipeline,
        LT.CORPUS_CURATION_PIPELINE_SQL,
        "LLM curation funnel: quality -> lang-ID -> dedup, one plan",
    ),
    QuerySpec(
        "corpus_build_pipeline",
        LT.corpus_build_pipeline,
        LT.CORPUS_BUILD_PIPELINE_SQL,
        "LLM flagship: curation -> exact dedup -> cluster collapse funnel",
    ),
    QuerySpec(
        "embedding_topk_bruteforce",
        EM.embedding_topk_gemm,
        EM.EMBEDDING_TOPK_GEMM_SQL,
        "LLM ANN brute-force exact top-k (BLAS default tier, "
        "mapInPandas gemm)",
    ),
    QuerySpec(
        "embedding_topk_bruteforce_baseline",
        EM.embedding_topk_bruteforce,
        EM.EMBEDDING_TOPK_BRUTEFORCE_SQL,
        "LLM ANN brute-force, interpreted-fold baseline twin",
    ),
    QuerySpec(
        "embedding_ann_bucketed",
        EM.embedding_ann_bucketed_gemm,
        EM.EMBEDDING_ANN_BUCKETED_GEMM_SQL,
        "LLM ANN sign-bucketed (BLAS default tier, per-bucket gemm)",
    ),
    QuerySpec(
        "embedding_ann_bucketed_baseline",
        EM.embedding_ann_bucketed,
        EM.EMBEDDING_ANN_BUCKETED_SQL,
        "LLM ANN sign-bucketed, interpreted-fold baseline twin",
    ),
    QuerySpec(
        "lang_centroid_similarity",
        EM.lang_centroid_similarity,
        EM.LANG_CENTROID_SIMILARITY_SQL,
        "LLM embedding analytics: per-lang centroids + pairwise cosine",
    ),
    QuerySpec(
        "bitext_mining_pairs",
        EM.bitext_mining_pairs,
        EM.BITEXT_MINING_PAIRS_SQL,
        "cross-lingual curation: margin-based bitext mining (Artetxe "
        "& Schwenk / CCMatrix criterion) — sign-bucketed cross-lang "
        "candidates, bidirectional top-k neighborhood means, margin "
        ">= 1.2 keeps the mined pairs; one materialized candidate "
        "frame feeds both k-NN arms and the margin join",
    ),
    QuerySpec(
        "embedding_norm_stats_by_label",
        EM.embedding_norm_stats_by_label,
        EM.EMBEDDING_NORM_STATS_BY_LABEL_SQL,
        "LLM embedding stats",
    ),
    QuerySpec(
        "multimodal_features",
        MMQ.multimodal_features,
        MMQ.MULTIMODAL_FEATURES_SQL,
        "LLM multimodal mapInPandas",
    ),
    QuerySpec(
        "multimodal_type_rollup",
        MMQ.multimodal_type_rollup,
        MMQ.MULTIMODAL_TYPE_ROLLUP_SQL,
        "LLM multimodal rollup",
    ),
    QuerySpec(
        "near_dup_image_phash",
        MMQ.near_dup_image_phash,
        MMQ.NEAR_DUP_IMAGE_PHASH_SQL,
        "LLM multimodal near-dup: kernel pHash + chunk-banded Hamming join",
    ),
    QuerySpec(
        "near_dup_video_frames",
        MMQ.near_dup_video_frames,
        MMQ.NEAR_DUP_VIDEO_FRAMES_SQL,
        "LLM multimodal near-dup, video arm: fixed-stride per-frame "
        "pHash kernel, chunk-banded candidate join, array-local "
        "frame-set Hamming overlap verify + survivor pick",
    ),
    QuerySpec(
        "near_dup_audio_fingerprint",
        MMQ.near_dup_audio_fingerprint,
        MMQ.NEAR_DUP_AUDIO_FINGERPRINT_SQL,
        "LLM multimodal near-dup, audio arm: 50%-overlap hop-window "
        "fingerprint kernel, chunk-banded candidate join, array-local "
        "window-set Hamming CONTAINMENT verify (min-side coverage — "
        "clip detection) + survivor pick",
    ),
    QuerySpec(
        "cross_modal_curation",
        MMQ.cross_modal_curation,
        MMQ.CROSS_MODAL_CURATION_SQL,
        "cross-modal joint keep/drop over the FULL corpus: text "
        "MinHash + image pHash + audio containment + video frame-set "
        "edges unioned, min-label CC closure, survivor = min doc_id "
        "of the union cluster, per-drop '+'-joined modality "
        "provenance",
    ),
    QuerySpec(
        "streaming_minute_agg",
        ST.streaming_minute_agg,
        ST.STREAMING_MINUTE_AGG_SQL,
        "§2.12 streaming window agg",
    ),
    QuerySpec(
        "streaming_dedup_counts",
        ST.streaming_dedup_counts,
        ST.STREAMING_DEDUP_COUNTS_SQL,
        "§2.12 streaming dedup",
    ),
    QuerySpec(
        "streaming_click_attribution",
        ST.streaming_click_attribution,
        ST.STREAMING_CLICK_ATTRIBUTION_SQL,
        "§2.12 stream-stream time-range join (append drain)",
    ),
    QuerySpec(
        "streaming_band_rollup",
        ST.streaming_band_rollup,
        ST.STREAMING_BAND_ROLLUP_SQL,
        "§2.12 stream-static broadcast join + hourly rollup",
    ),
    QuerySpec(
        "ranking_report",
        RP.ranking_report,
        RP.RANKING_REPORT_SQL,
        "W1-W3/P14/P15 composed report",
    ),
    QuerySpec(
        "chart_clock_payload",
        RP.chart_clock_payload,
        RP.CHART_CLOCK_PAYLOAD_SQL,
        "S11's data side as a query: the pie-on-clock renderer's exact "
        "per-slice payload (legend label, fraction, matplotlib "
        "startangle-90 wedge angles) composed over ranking_report — "
        "bounded slice-count windows only",
    ),
    QuerySpec(
        "freshness_probe", RP.freshness_probe, RP.FRESHNESS_PROBE_SQL, "A6/A7"
    ),
    QuerySpec(
        "timestamp_roundtrip",
        RP.timestamp_roundtrip,
        RP.TIMESTAMP_ROUNDTRIP_SQL,
        "P8/P18",
    ),
    QuerySpec(
        "source_numeric_ids",
        RP.source_numeric_ids,
        RP.SOURCE_NUMERIC_IDS_SQL,
        "P16",
    ),
    QuerySpec(
        "dim_date_integrity",
        DM.dim_date_integrity,
        DM.DIM_DATE_INTEGRITY_SQL,
        "V4",
    ),
    QuerySpec(
        "sources_summary", DM.sources_summary, DM.SOURCES_SUMMARY_SQL, "V5"
    ),
    QuerySpec(
        "data_mixture_rebalance",
        LT.data_mixture_rebalance,
        LT.DATA_MIXTURE_REBALANCE_SQL,
        "corpus assembly: target-mixture downsampling, integer-exact gate",
    ),
    QuerySpec(
        "temperature_resampled_mix",
        LT.temperature_resampled_mix,
        LT.TEMPERATURE_RESAMPLED_MIX_SQL,
        "corpus assembly: alpha-temperature language resampling "
        "(p_temp ∝ tokens^0.5 via engine-exact sqrt) — upsample "
        "factors + expected token budget per language; the tunable "
        "middle of the dial whose alpha=0 endpoint is "
        "data_mixture_rebalance",
    ),
    QuerySpec(
        "minhash_estimator_audit",
        LT.minhash_estimator_audit,
        LT.MINHASH_ESTIMATOR_AUDIT_SQL,
        "sketch-tier accuracy audit for the MinHash estimator itself: "
        "per true-Jaccard decile, mean signature-agreement estimate vs "
        "mean exact Jaccard, mean absolute error, and the binomial "
        "theory stderr sqrt(J(1-J)/16) as Python literals in both "
        "engines (covering the exact-dup band, se=0)",
    ),
    QuerySpec(
        "simhash_estimator_audit",
        LT.simhash_estimator_audit,
        LT.SIMHASH_ESTIMATOR_AUDIT_SQL,
        "sketch-tier accuracy audit for the SimHash estimator: per "
        "true-cosine decile (token-count vector space), measured mean "
        "bit-agreement vs the SRP theory rate 1 - theta/pi and its "
        "binomial stderr as Python literals in both engines — the "
        "calibration proof minhash_estimator_audit gave the MinHash "
        "tier, for the other sketch family (exact-dup band covered)",
    ),
    QuerySpec(
        "dsir_importance_weights",
        LT.dsir_importance_weights,
        LT.DSIR_IMPORTANCE_WEIGHTS_SQL,
        "corpus assembly: DSIR hashed n-gram importance resampling "
        "(unigram+bigram 256-bucket features, Laplace-smoothed "
        "log-likelihood ratio toward the 'en' target) — per-source "
        "resampling budget; the data-driven middle of the mixture "
        "dial between data_mixture_rebalance and "
        "temperature_resampled_mix",
    ),
    QuerySpec(
        "dsir_importance_weights_threshold",
        LT.dsir_importance_weights_threshold,
        LT.DSIR_IMPORTANCE_WEIGHTS_THRESHOLD_SQL,
        "dsir_importance_weights' 100 TB form: 6-dp logw histogram "
        "cut + boundary-bucket tie-scan instead of the global "
        "unpartitioned ranking window — identical output, oracle is "
        "the exact-spec rank SQL so the green verdict proves "
        "algorithm equivalence (share_of_total twin convention)",
    ),
    QuerySpec(
        "ngram_lm_quality_gate",
        LT.ngram_lm_quality_gate,
        LT.NGRAM_LM_QUALITY_GATE_SQL,
        "corpus curation: CCNet-style interpolated bigram-LM "
        "perplexity gate — train-split Jelinek-Mercer LM, per-doc "
        "cross-entropy, per-lang head/middle/tail terciles with "
        "train-doc placement sanity; the higher-order extension of "
        "unigram_xent_quality",
    ),
    QuerySpec(
        "dedup_threshold_sweep",
        LT.dedup_threshold_sweep,
        LT.DEDUP_THRESHOLD_SWEEP_SQL,
        "dedup ROI curve: per Jaccard threshold (0.5-0.9), verified "
        "pairs, keep-first docs retired, corpus drop share — the "
        "aggressiveness dial from ONE pair pass (sweep explodes "
        "literals over the pair set, never re-scans the corpus)",
    ),
    QuerySpec(
        "training_epoch_plan",
        LT.training_epoch_plan,
        LT.TRAINING_EPOCH_PLAN_SQL,
        "corpus assembly: per-source epoch/repetition plan under a 2x "
        "token budget — temperature-weighted targets, epoch cap 4, "
        "allocation + capped surplus; the repetition table every "
        "pretrain data card documents",
    ),
    QuerySpec(
        "unimax_mixture_plan",
        LT.unimax_mixture_plan,
        LT.UNIMAX_MIXTURE_PLAN_SQL,
        "corpus assembly: UniMax language allocation — uniform token "
        "budget with a 2.5-epoch per-language cap, surplus waterfilled "
        "via the closed-form water level over the |langs|-row totals "
        "frame (both capped and uncapped branches live at every "
        "shipped scale); completes the mixture dial alongside alpha=0, "
        "alpha-temp, and DSIR",
    ),
    QuerySpec(
        "seedset_quality_classifier",
        LT.seedset_quality_classifier,
        LT.SEEDSET_QUALITY_CLASSIFIER_SQL,
        "corpus curation: GPT-3-style seed-set quality classifier — "
        "two-class multinomial NB fit on the Gopher-gate-labeled even "
        "half, held-out odd half scored by sparse log-odds, reported "
        "as the fixed-width score-band calibration curve (band grid "
        "instead of NTILE: no global sort; gate expression pinned to "
        "gopher_quality_flags by test)",
    ),
    QuerySpec(
        "quality_filter_agreement",
        LT.quality_filter_agreement,
        LT.QUALITY_FILTER_AGREEMENT_SQL,
        "corpus curation: pairwise agreement + Cohen's kappa between "
        "the three per-doc quality gates (Gopher heuristics, unigram "
        "xent flag, repetition flag) — the filter-stack calibration "
        "table; per-doc rules expression-identical to the source "
        "queries (pinned by test)",
    ),
    QuerySpec(
        "quality_percentile_filter",
        LT.quality_percentile_filter,
        LT.QUALITY_PERCENTILE_FILTER_SQL,
        "corpus curation: per-lang top-quartile quality cut",
    ),
    QuerySpec(
        "quality_percentile_filter_threshold",
        LT.quality_percentile_filter_threshold,
        LT.QUALITY_PERCENTILE_FILTER_THRESHOLD_SQL,
        "quality_percentile_filter's 100 TB form: per-lang score-"
        "histogram cut + boundary doc_id tie-scan instead of a full "
        "per-lang sort — identical output, oracle is the exact-spec "
        "rank SQL (share_of_total twin convention)",
    ),
    QuerySpec(
        "dedup_incremental_new_docs",
        LT.dedup_incremental_new_docs,
        LT.DEDUP_INCREMENTAL_NEW_DOCS_SQL,
        "incremental dedup: new batch vs corpus content-hash anti-join",
    ),
    QuerySpec(
        "embedding_int8_quantization",
        EM.embedding_int8_quantization,
        EM.EMBEDDING_INT8_QUANTIZATION_SQL,
        "vector storage: symmetric int8 quantization error audit",
    ),
    QuerySpec(
        "kmeans_ivf_clusters",
        EM.kmeans_ivf_clusters,
        EM.KMEANS_IVF_CLUSTERS_SQL,
        "iterative ML: trained k-means coarse quantizer (Lloyd, exact)",
    ),
    QuerySpec(
        "ivf_recluster_audit",
        EM.ivf_recluster_audit,
        EM.IVF_RECLUSTER_AUDIT_SQL,
        "IVF index maintenance: batch re-cluster audit — seed-trained "
        "vs full-retrained Lloyd quantizer over the whole corpus; "
        "reassignment count, cell balance, quantization error and "
        "recall@k vs the exact yardstick before/after (closes the "
        "streaming_ivf_ingest n_would_move monitoring loop)",
    ),
    QuerySpec(
        "events_funnel_conversion",
        R.events_funnel_conversion,
        R.EVENTS_FUNNEL_CONVERSION_SQL,
        "funnel: ordered view->click->purchase reach, one-shuffle form",
    ),
    QuerySpec(
        "user_retention_cohorts",
        R.user_retention_cohorts,
        R.USER_RETENTION_COHORTS_SQL,
        "retention: weekly cohort x offset activity matrix",
    ),
    QuerySpec(
        "value_outliers_mad",
        R.value_outliers_mad,
        R.VALUE_OUTLIERS_MAD_SQL,
        "DQ: robust median/MAD outlier gate, two-pass broadcast-back",
    ),
    QuerySpec(
        "layout_zorder_stats",
        R.layout_zorder_stats,
        R.LAYOUT_ZORDER_STATS_SQL,
        "layout: Morton/z-order clustering-key locality audit",
    ),
    QuerySpec(
        "value_histogram",
        R.value_histogram,
        R.VALUE_HISTOGRAM_SQL,
        "profiling: equi-width histogram per event_type",
    ),
    QuerySpec(
        "streaming_session_windows",
        ST.streaming_session_windows,
        ST.STREAMING_SESSION_WINDOWS_SQL,
        "§2.12 native session_window (dynamic-gap) streaming sessions",
    ),
    QuerySpec(
        "scd2_user_history",
        R.scd2_user_history,
        R.SCD2_USER_HISTORY_SQL,
        "SCD2: collapse state runs into validity intervals, one shuffle",
    ),
    QuerySpec(
        "shipping_priority_topk",
        R.shipping_priority_topk,
        R.SHIPPING_PRIORITY_TOPK_SQL,
        "TPC-H Q3 shape: selective star join + bounded TopK",
    ),
    QuerySpec(
        "events_cube_rollup",
        R.events_cube_rollup,
        R.EVENTS_CUBE_ROLLUP_SQL,
        "CUBE grouping sets: all cross-dimensional marginals in one pass",
    ),
    QuerySpec(
        "day_over_day_change",
        R.day_over_day_change,
        R.DAY_OVER_DAY_CHANGE_SQL,
        "LAG trend panel: day-over-day delta + pct change per type",
    ),
    QuerySpec(
        "grouped_topk_dense",
        R.grouped_topk_dense,
        R.GROUPED_TOPK_DENSE_SQL,
        "DENSE_RANK ties-kept top-k per group (W1/W3 completion)",
    ),
    QuerySpec(
        "referential_orphan_audit",
        R.referential_orphan_audit,
        R.REFERENTIAL_ORPHAN_AUDIT_SQL,
        "DQ: FK orphan sweep over every star-schema edge, broadcast anti",
    ),
    QuerySpec(
        "approx_distinct_audit",
        R.approx_distinct_audit,
        R.APPROX_DISTINCT_AUDIT_SQL,
        "sketch tier: HLL++ error-bound audit vs exact distinct (the "
        "within-tolerance flag is the adjudicated claim)",
    ),
    QuerySpec(
        "streaming_upsert_merge",
        ST.streaming_upsert_merge,
        ST.STREAMING_UPSERT_MERGE_SQL,
        "§2.12 foreachBatch continuous-ingest upsert == batch merge",
    ),
    QuerySpec(
        "source_vocab_overlap",
        LT.source_vocab_overlap,
        LT.SOURCE_VOCAB_OVERLAP_SQL,
        "corpus analytics: pairwise source vocabulary Jaccard, pair-gen "
        "array-local (no token self-join)",
    ),
    QuerySpec(
        "embedding_pq_adc_audit",
        EM.embedding_pq_adc_audit,
        EM.EMBEDDING_PQ_ADC_AUDIT_SQL,
        "product quantization (IVFPQ's compression half): per-subspace "
        "Lloyd codebooks trained jointly, 64x-compressed codes, "
        "broadcast-LUT asymmetric-distance top-k; recall@10 vs exact "
        "L2 and mean ADC error, oracle retrains the identical "
        "codebooks",
    ),
    QuerySpec(
        "keyword_search_conjunctive",
        LT.keyword_search_conjunctive,
        LT.KEYWORD_SEARCH_CONJUNCTIVE_SQL,
        "retrieval tier: conjunctive keyword search via inverted-index "
        "posting-list intersection (count-distinct-terms HAVING), "
        "doc-set checksum vs a list_has_all scan oracle",
    ),
    QuerySpec(
        "phrase_search_positional",
        LT.phrase_search_positional,
        LT.PHRASE_SEARCH_POSITIONAL_SQL,
        "retrieval tier: exact phrase search via positional postings "
        "adjacency joins; oracle finds phrases by padded substring "
        "position — different algorithm, same answer",
    ),
    QuerySpec(
        "bm25_search",
        LT.bm25_search,
        LT.BM25_SEARCH_SQL,
        "retrieval tier: BM25 ranked top-k per query (k1=1.2 b=0.75), "
        "decimal-exact score fold, deterministic tie-break, oracle "
        "recomputes the identical formula",
    ),
    QuerySpec(
        "token_pagerank",
        LT.token_pagerank,
        LT.TOKEN_PAGERANK_SQL,
        "link analysis: weighted PageRank on the word co-occurrence "
        "graph, 5 decimal-exact power iterations as edge-list "
        "dataflow, oracle unrolls identical iterations",
    ),
    QuerySpec(
        "theta_sketch_overlap",
        LT.theta_sketch_overlap,
        LT.THETA_SKETCH_OVERLAP_SQL,
        "sketch tier: theta/KMV distinct set operations — pairwise "
        "union+intersection estimates from k-minimum-values sketches "
        "(salted two-stage top-k, bounded state), exact intersection "
        "yardstick + 3-sigma within_tol flag, oracle rebuilds the "
        "identical sketch bit-for-bit",
    ),
    QuerySpec(
        "source_mix_entropy",
        LT.source_mix_entropy,
        LT.SOURCE_MIX_ENTROPY_SQL,
        "corpus analytics: per-lang source-mix Shannon entropy + "
        "effective source count (mixture-drift monitor)",
    ),
    QuerySpec(
        "token_zipf_fit",
        LT.token_zipf_fit,
        LT.TOKEN_ZIPF_FIT_SQL,
        "corpus analytics: Zipf rank-frequency log-log slope per lang "
        "(boilerplate / distribution-collapse probe)",
    ),
    QuerySpec(
        "word_cooccurrence_pmi",
        LT.word_cooccurrence_pmi,
        LT.WORD_COOCCURRENCE_PMI_SQL,
        "corpus analytics: top-k document-grain PMI collocations per "
        "lang, pair-gen array-local",
    ),
    QuerySpec(
        "streaming_dedup_within_watermark",
        ST.streaming_dedup_within_watermark,
        ST.STREAMING_DEDUP_WITHIN_WATERMARK_SQL,
        "§2.12 bounded-state dedup (dropDuplicatesWithinWatermark: "
        "state evicted at the watermark — the infinite-stream form)",
    ),
    QuerySpec(
        "quality_weighted_sample",
        LT.quality_weighted_sample,
        LT.QUALITY_WEIGHTED_SAMPLE_SQL,
        "corpus assembly: deterministic weighted sampling "
        "(Efraimidis-Spirakis keys from the shared hash, per-lang top-k)",
    ),
    QuerySpec(
        "dup_ngram_coverage",
        LT.dup_ngram_coverage,
        LT.DUP_NGRAM_COVERAGE_SQL,
        "dedup: corpus-wide duplicated 8-gram fraction per doc "
        "(ExactSubstr diagnostic, Lee et al. 2022)",
    ),
    QuerySpec(
        "dup_span_removal",
        LT.dup_span_removal,
        LT.DUP_SPAN_REMOVAL_SQL,
        "dedup: duplicated-span EXCISION with residual-coverage audit "
        "(ExactSubstr transform, Lee et al. 2022)",
    ),
    QuerySpec(
        "gopher_quality_flags",
        LT.gopher_quality_flags,
        LT.GOPHER_QUALITY_FLAGS_SQL,
        "quality: Gopher heuristic gate (token bounds, mean word len, "
        "stopword hits) rolled up per (lang, source)",
    ),
    QuerySpec(
        "minute_anomaly_zscore",
        T.minute_anomaly_zscore,
        T.MINUTE_ANOMALY_ZSCORE_SQL,
        "monitoring: rolling z-score anomaly detection over the minute "
        "series (trailing 60-min baseline, decimal-exact moments)",
    ),
    QuerySpec(
        "decayed_user_value",
        R.decayed_user_value,
        R.DECAYED_USER_VALUE_SQL,
        "feature eng: exponential time-decay weighted per-user value "
        "(broadcast literal weight dim, exact-decimal ranking)",
    ),
    QuerySpec(
        "incremental_agg_maintenance",
        R.incremental_agg_maintenance,
        R.INCREMENTAL_AGG_MAINTENANCE_SQL,
        "incremental materialized-view maintenance: base ⊕ delta merge "
        "adjudicated against a full-recompute oracle",
    ),
    QuerySpec(
        "embedding_covariance_probe",
        EM.embedding_covariance_probe,
        EM.EMBEDDING_COVARIANCE_PROBE_SQL,
        "embedding analytics: covariance/gram probe entries (PCA prep), "
        "decimal-exact one-pass moments",
    ),
    QuerySpec(
        "embedding_pca_audit",
        EM.embedding_pca_audit,
        EM.EMBEDDING_PCA_AUDIT_SQL,
        "PCA over the corpus: distributed X'X partials + driver eigh "
        "(the fit), distributed projection-variance verification; "
        "decimal-exact trace adjudicated, eigh/orthonormality/"
        "projection claims checked as flags",
    ),
    QuerySpec(
        "events_daily_unpivot",
        R.events_daily_unpivot,
        R.EVENTS_DAILY_UNPIVOT_SQL,
        "reshape: native unpivot/melt of the wide pivot back to tidy "
        "long (lossless reshape pair, oracle never goes wide)",
    ),
    QuerySpec(
        "event_dow_chisquare",
        R.event_dow_chisquare,
        R.EVENT_DOW_CHISQUARE_SQL,
        "validation: chi-square independence screen (event_type x "
        "day-of-week contingency, broadcast totals, decimal-exact)",
    ),
    QuerySpec(
        "value_drift_psi",
        R.value_drift_psi,
        R.VALUE_DRIFT_PSI_SQL,
        "monitoring: population-stability-index drift per event type "
        "(equal-width ref bins, Laplace smoothing, decimal terms)",
    ),
    QuerySpec(
        "customer_fuzzy_match",
        R.customer_fuzzy_match,
        R.CUSTOMER_FUZZY_MATCH_SQL,
        "entity resolution: nation-blocked fuzzy name match "
        "(levenshtein <= 1 within blocks, per-block pair rollup)",
    ),
    QuerySpec(
        "local_supplier_volume",
        R.local_supplier_volume,
        R.LOCAL_SUPPLIER_VOLUME_SQL,
        "J3+ 6-way cyclic join (TPC-H Q5 shape): co-nation customer/"
        "supplier revenue, fixed dims broadcast, growing dims AQE-decided",
    ),
    QuerySpec(
        "leakage_safe_split",
        LT.leakage_safe_split,
        LT.LEAKAGE_SAFE_SPLIT_SQL,
        "corpus assembly: cluster-rooted train/val/test split — near-"
        "dups cannot cross sides; leaked_clusters is a checked output",
    ),
    QuerySpec(
        "part_brand_margin_topk",
        R.part_brand_margin_topk,
        R.PART_BRAND_MARGIN_TOPK_SQL,
        "A+/W (TPC-H Q9 shape): product margin per (type, brand), top-3 "
        "brands per type ranked by exact decimal revenue",
    ),
    QuerySpec(
        "trailing_range_window_sum",
        R.trailing_range_window_sum,
        R.TRAILING_RANGE_WINDOW_SUM_SQL,
        "W+ time-RANGE frame over the irregular stream (trailing 10-min "
        "velocity features; ROWS frames cover the grid form)",
    ),
    QuerySpec(
        "events_grouping_sets",
        R.events_grouping_sets,
        R.EVENTS_GROUPING_SETS_SQL,
        "A+ explicit GROUPING SETS with GROUPING() flags via the "
        "spark.sql entry path (one Expand pass)",
    ),
    QuerySpec(
        "below_avg_quantity_revenue",
        R.below_avg_quantity_revenue,
        R.BELOW_AVG_QUANTITY_REVENUE_SQL,
        "J7+/A (TPC-H Q17 shape): correlated scalar subquery "
        "decorrelated to a per-key aggregate join, division-free "
        "decimal threshold",
    ),
    QuerySpec(
        "top_volume_orders",
        R.top_volume_orders,
        R.TOP_VOLUME_ORDERS_SQL,
        "J7+/O (TPC-H Q18 shape): HAVING semi-join, agg-before-join, "
        "bounded top-100 on the exact decimal volume",
    ),
    QuerySpec(
        "idle_balance_audit",
        R.idle_balance_audit,
        R.IDLE_BALANCE_AUDIT_SQL,
        "J5+/A (TPC-H Q22 shape): broadcast scalar-subquery threshold "
        "+ NOT EXISTS anti-join + segment rollup",
    ),
    QuerySpec(
        "customer_fuzzy_match_edit2",
        R.customer_fuzzy_match_edit2,
        R.CUSTOMER_FUZZY_MATCH_EDIT2_SQL,
        "entity resolution at edit distance 2: delete-<=2 neighborhood "
        "blocking (exact recall), quadratic oracle proves no lost pair",
    ),
    QuerySpec(
        "orc_roundtrip_pricing",
        R.orc_roundtrip_pricing,
        R.ORC_ROUNDTRIP_PRICING_SQL,
        "S1/ORC: write->read ORC round-trip feeding the Q1 aggregate, "
        "same oracle as the parquet twin (format must be invisible)",
    ),
    QuerySpec(
        "pii_scrub_audit",
        LT.pii_scrub_audit,
        LT.PII_SCRUB_AUDIT_SQL,
        "LLM pipeline: JVM-regex PII scrub audit over a deterministic "
        "dirty corpus (planted spans found, zero false positives, "
        "idempotent residual=0) — analytically oracled",
    ),
    QuerySpec(
        "order_priority_audit",
        R.order_priority_audit,
        R.ORDER_PRIORITY_AUDIT_SQL,
        "J7+ (TPC-H Q4 shape): EXISTS planned as LEFT SEMI join, both "
        "sides scan-pruned before the orderkey shuffle",
    ),
    QuerySpec(
        "nation_trade_flows",
        R.nation_trade_flows,
        R.NATION_TRADE_FLOWS_SQL,
        "J3+ (TPC-H Q7 shape): nation reached along two join paths, "
        "double-aliased broadcast dim, cross-border row-local filter",
    ),
    QuerySpec(
        "nation_market_share",
        R.nation_market_share,
        R.NATION_MARKET_SHARE_SQL,
        "J3+/A (TPC-H Q8 shape): 7-table join, conditional-aggregate "
        "market-share ratio, single edge-of-plan double division",
    ),
    QuerySpec(
        "late_shipment_priority",
        R.late_shipment_priority,
        R.LATE_SHIPMENT_PRIORITY_SQL,
        "J1+/A4 (TPC-H Q12 shape): cross-side INTERVAL lag predicate "
        "post-join, per-side date windows pushed to scans",
    ),
    QuerySpec(
        "customer_order_distribution",
        R.customer_order_distribution,
        R.CUSTOMER_ORDER_DISTRIBUTION_SQL,
        "J5+/A (TPC-H Q13 shape): filtered-ON left outer join keeping "
        "the zero bucket, stacked double aggregation",
    ),
    QuerySpec(
        "promo_revenue_share",
        R.promo_revenue_share,
        R.PROMO_REVENUE_SHARE_SQL,
        "A+ (TPC-H Q14 shape): conditional-aggregate revenue ratio "
        "collapsing to one row, exact decimal sums",
    ),
    QuerySpec(
        "brand_size_disjunctive_revenue",
        R.brand_size_disjunctive_revenue,
        R.BRAND_SIZE_DISJUNCTIVE_REVENUE_SQL,
        "J1+ (TPC-H Q19 shape): OR-of-ANDs predicate spanning both "
        "join sides, per-side residual pushdown, equi-join preserved",
    ),
    QuerySpec(
        "brand_revenue_concentration",
        R.brand_revenue_concentration,
        R.BRAND_REVENUE_CONCENTRATION_SQL,
        "A+/J7 (TPC-H Q11 shape): HAVING vs broadcast 1-row global "
        "total, no driver collect, no global window",
    ),
    QuerySpec(
        "sole_returner_suppliers",
        R.sole_returner_suppliers,
        R.SOLE_RETURNER_SUPPLIERS_SQL,
        "J7+/A (TPC-H Q21 shape): correlated EXISTS + NOT EXISTS "
        "decorrelated into one conditional COUNT(DISTINCT) pair per "
        "order — no lineitem self-join",
    ),
    QuerySpec(
        "merge_writer_lifecycle",
        R.merge_writer_lifecycle,
        R.MERGE_WRITER_LIFECYCLE_SQL,
        "S5/S6/S8: create-if-not-exists (idempotent) -> append -> "
        "guarded schema evolution -> append evolved batch, adjudicated "
        "against the source-derived rollup",
    ),
    QuerySpec(
        "null_key_rollup",
        R.null_key_rollup,
        R.NULL_KEY_ROLLUP_SQL,
        "A8: NULL-keeping groupBy keys — the NULL group survives with "
        "its full population (SQL semantics, vs pandas-style drop)",
    ),
    QuerySpec(
        "approx_quantile_audit",
        R.approx_quantile_audit,
        R.APPROX_QUANTILE_AUDIT_SQL,
        "sketch tier: approx_percentile RANK-guarantee audit (exact "
        "recount of the estimate's rank) + exact percentiles vs "
        "quantile_cont — the quantile twin of approx_distinct_audit",
    ),
    QuerySpec(
        "min_cost_supplier",
        R.min_cost_supplier,
        R.MIN_COST_SUPPLIER_SQL,
        "TPC-H Q2 shape: correlated-MIN subquery decorrelated to a "
        "per-part min aggregate re-joined by exact decimal equality",
    ),
    QuerySpec(
        "returned_item_losses",
        R.returned_item_losses,
        R.RETURNED_ITEM_LOSSES_SQL,
        "TPC-H Q10 shape: returned-revenue top-20 per customer with "
        "broad projection, scan-pruned both sides of the fact join",
    ),
    QuerySpec(
        "top_supplier_revenue",
        R.top_supplier_revenue,
        R.TOP_SUPPLIER_REVENUE_SQL,
        "TPC-H Q15 shape: max over the per-supplier revenue view via "
        "1-row broadcast + exact decimal equality re-join",
    ),
    QuerySpec(
        "part_supplier_variety",
        R.part_supplier_variety,
        R.PART_SUPPLIER_VARIETY_SQL,
        "TPC-H Q16 shape: NOT IN deny-list as broadcast anti-join + "
        "COUNT(DISTINCT) over the derived part-supplier pair set",
    ),
    QuerySpec(
        "promotable_part_suppliers",
        R.promotable_part_suppliers,
        R.PROMOTABLE_PART_SUPPLIERS_SQL,
        "TPC-H Q20 shape: stacked semi-joins collapsed to one filtered "
        "per-(supplier,part) aggregate + LEFT SEMI into the supplier dim",
    ),
    QuerySpec(
        "streaming_restart_exactly_once",
        ST.streaming_restart_exactly_once,
        ST.STREAMING_RESTART_EXACTLY_ONCE_SQL,
        "§2.12 checkpoint-restart exactly-once as a driver verdict: "
        "drain half, stop, restart from the same checkpoint on the "
        "other half; sink rollup must equal the batch rollup exactly",
    ),
    QuerySpec(
        "streaming_watermark_audit",
        ST.streaming_watermark_audit,
        ST.STREAMING_WATERMARK_AUDIT_SQL,
        "§2.12 watermark late-drop accounting as a driver verdict: "
        "3-batch interleaved replay; emitted windows/rows + observed "
        "numRowsDroppedByWatermark vs the calibrated two-watermark "
        "model in SQL",
    ),
    QuerySpec(
        "csv_roundtrip_pricing",
        R.csv_roundtrip_pricing,
        R.CSV_ROUNDTRIP_PRICING_SQL,
        "S1/CSV: text-format round-trip (shortest-round-trip doubles, "
        "microsecond timestampFormat, quarantine-empty) feeding the Q1 "
        "aggregate, same oracle as the parquet twin",
    ),
    QuerySpec(
        "dpp_partitioned_revenue",
        R.dpp_partitioned_revenue,
        R.DPP_PARTITIONED_REVENUE_SQL,
        "dynamic partition pruning: hive-partitioned fact + dim-side "
        "year filter -> dynamicpruningexpression in PartitionFilters, "
        "rollup adjudicated vs the unpartitioned source",
    ),
    QuerySpec(
        "jsonl_roundtrip_pricing",
        R.jsonl_roundtrip_pricing,
        R.JSONL_ROUNDTRIP_PRICING_SQL,
        "S1/JSONL: json-lines round-trip (Jackson shortest-round-trip "
        "doubles, microsecond timestampFormat, quarantine-empty) "
        "feeding the Q1 aggregate, same oracle as the parquet twin",
    ),
    QuerySpec(
        "bucketed_colocated_join",
        R.bucketed_colocated_join,
        R.BUCKETED_COLOCATED_JOIN_SQL,
        "co-located bucketed join: orderkey exchange paid once at "
        "write, zero-Exchange join under disabled broadcast, rollup "
        "adjudicated vs the plain parquet join",
    ),
    QuerySpec(
        "heavy_hitters_cm_audit",
        R.heavy_hitters_cm_audit,
        R.HEAVY_HITTERS_CM_AUDIT_SQL,
        "sketch tier: count-min heavy hitters from DataFrame "
        "primitives (integer-exact polynomial hashes, depth x width "
        "bounded state) — fully differential, oracle rebuilds the "
        "identical sketch",
    ),
    QuerySpec(
        "user_erasure_audit",
        R.user_erasure_audit,
        R.USER_ERASURE_AUDIT_SQL,
        "right-to-be-forgotten via broadcast anti-join + WAP publish "
        "(snapshot v1 -> erased v2, atomic manifest swap); rollup of "
        "the PUBLISHED table + zero-residual claim vs the oracle",
    ),
    QuerySpec(
        "bloom_pruned_join",
        R.bloom_pruned_join,
        R.BLOOM_PRUNED_JOIN_SQL,
        "runtime bloom-filter semi-join reduction: might_contain "
        "injected into the fact scan, asserted + oracle-adjudicated",
    ),
    QuerySpec(
        "table_compaction_audit",
        R.table_compaction_audit,
        R.TABLE_COMPACTION_AUDIT_SQL,
        "small-file compaction via WAP rewrite: rollup + actual "
        "file-count-reduced flag vs literal-TRUE oracle",
    ),
    QuerySpec(
        "table_changes_feed",
        R.table_changes_feed,
        R.TABLE_CHANGES_FEED_SQL,
        "change data feed between two WAP snapshots (Delta CDF shape): "
        "full-outer key diff classifying insert/delete/update/unchanged, "
        "per-class rollup oracle-recomputed from the raw source",
    ),
    QuerySpec(
        "bloom_file_skip_audit",
        R.bloom_file_skip_audit,
        R.BLOOM_FILE_SKIP_AUDIT_SQL,
        "point-lookup file skipping via COMMITTED per-file bloom "
        "sidecars (registered at publish, carried incrementally across "
        "merges): typed manifest-side probe, executor-side bit tests, "
        "pruned scan; rollup oracle-recomputed + files-skipped flag",
    ),
    QuerySpec(
        "bloom_evolved_carry_audit",
        R.bloom_evolved_carry_audit,
        R.BLOOM_EVOLVED_CARRY_AUDIT_SQL,
        "bloom pruning SURVIVES partition-spec evolution: evolved merge "
        "maintains the sidecar incrementally (carry + fresh pass over "
        "only the files it wrote), probe via read_pruned pairing file "
        "pruning with per-layout merge-on-read deletes; coverage + "
        "files-skipped flags computed from the filesystem",
    ),
    QuerySpec(
        "file_skipping_scan_audit",
        R.file_skipping_scan_audit,
        R.FILE_SKIPPING_SCAN_AUDIT_SQL,
        "zone-map data skipping on plain parquet: cluster-by-value "
        "layout, file-level min/max stats pass, stats-pruned scan; "
        "rollup oracle-recomputed from the raw source + actual "
        "files-skipped flag",
    ),
    QuerySpec(
        "table_time_travel_audit",
        R.table_time_travel_audit,
        R.TABLE_TIME_TRAVEL_AUDIT_SQL,
        "WAP time travel: read_version(v1) pre-erasure vs v2 vs "
        "published, all three rollups oracle-adjudicated",
    ),
    QuerySpec(
        "nation_top_customers_listagg",
        R.nation_top_customers_listagg,
        R.NATION_TOP_CUSTOMERS_LISTAGG_SQL,
        "ordered group-concat (LISTAGG shape) without collect_list "
        "order-dependence: rank-keyed array_sort -> array_join, "
        "bit-identical to string_agg(... ORDER BY)",
    ),
    QuerySpec(
        "streaming_cdc_apply",
        ST.streaming_cdc_apply,
        ST.STREAMING_CDC_APPLY_SQL,
        "§2.12 CDC log applied as a stream: insert/update/delete with "
        "tombstone precedence (order-independent log-compaction fold), "
        "net effect oracle-recomputed from the raw source",
    ),
    QuerySpec(
        "scd2_point_in_time_join",
        R.scd2_point_in_time_join,
        R.SCD2_POINT_IN_TIME_JOIN_SQL,
        "point-in-time join against the SCD2 dimension: purchases "
        "matched to the user-state version valid at their timestamp, "
        "[from,to) boundary semantics, explicit pre_history bucket",
    ),
    QuerySpec(
        "column_correlation_profile",
        R.column_correlation_profile,
        R.COLUMN_CORRELATION_PROFILE_SQL,
        "profiling: pairwise Pearson corr + OLS line from one pass of "
        "decimal-exact mergeable moments (zero-shuffle single-row agg)",
    ),
    QuerySpec(
        "incremental_join_maintenance",
        R.incremental_join_maintenance,
        R.INCREMENTAL_JOIN_MAINTENANCE_SQL,
        "two-sided incremental JOIN-view maintenance: dA*B0 + A0*dB + "
        "dA*dB delta algebra, maintained rollup null-safe-compared to "
        "the full recompute in-job, oracle recomputes from scratch",
    ),
    QuerySpec(
        "deletion_vector_audit",
        R.deletion_vector_audit,
        R.DELETION_VECTOR_AUDIT_SQL,
        "merge-on-read deletion (equality-delete sidecar + hardlink "
        "carry, zero data files rewritten — inode-checked), survivor "
        "rollup through the MOR reader, compaction-consistency "
        "null-safe-compared, all oracle-adjudicated",
    ),
    QuerySpec(
        "embedding_ivfpq_search",
        EM.embedding_ivfpq_search,
        EM.EMBEDDING_IVFPQ_SEARCH_SQL,
        "IVFPQ: coarse quantizer + residual product quantization + "
        "probe-limited asymmetric-distance search (the FAISS shape); "
        "oracle retrains BOTH quantizers and replays the full search",
    ),
    QuerySpec(
        "embedding_ivfpq_refined",
        EM.embedding_ivfpq_refined,
        EM.EMBEDDING_IVFPQ_REFINED_SQL,
        "IVFPQ + exact re-rank of the ADC shortlist (the FAISS "
        "IndexRefineFlat third stage); broadcast id-fetch, top-k cut "
        "on true L2",
    ),
    QuerySpec(
        "streaming_compaction_race",
        ST.streaming_compaction_race,
        ST.STREAMING_COMPACTION_RACE_SQL,
        "§2.12 streaming x maintenance: crash-injected + real "
        "compaction between micro-batches, state-routed writer, "
        "exactly-once adjudicated",
    ),
    QuerySpec(
        "streaming_bloom_maintained",
        ST.streaming_bloom_maintained,
        ST.STREAMING_BLOOM_MAINTAINED_SQL,
        "§2.12 16th variant: bloom-indexed table under continuous "
        "ingest — sidecar carried across every micro-batch commit "
        "with interleaved vacuum; final-table fold + zero-false-"
        "negative probe flags adjudicated",
    ),
    QuerySpec(
        "streaming_ivf_ingest",
        ST.streaming_ivf_ingest,
        ST.STREAMING_IVF_INGEST_SQL,
        "§2.12 17th variant: IVF vector-index ingest as a micro-batch "
        "stream — broadcast-centroid map-only assignment per batch, "
        "O(batch) ledger appends, per-batch n_would_move drift "
        "trajectory adjudicated against the batch oracle",
    ),
    QuerySpec(
        "streaming_near_dup_ingest",
        ST.streaming_near_dup_ingest,
        ST.STREAMING_NEAR_DUP_INGEST_SQL,
        "§2.12 18th variant: crawl-ingest MinHash-LSH dedup as a "
        "micro-batch stream — the banded index seeds from the "
        "standing corpus, each batch appends O(batch) signatures, "
        "probes the buckets, exact-Jaccard verifies, and ledgers its "
        "dup edges; partner precedence (base < earlier batch < "
        "smaller same-batch id) makes the ledger trigger-independent "
        "and batch-oracle adjudicable",
    ),
    QuerySpec(
        "streaming_mix_drift",
        ST.streaming_mix_drift,
        ST.STREAMING_MIX_DRIFT_SQL,
        "§2.12 19th variant: language-mix drift monitor as a "
        "micro-batch stream — seed shares from the standing corpus, "
        "per-batch Laplace-smoothed shares + PSI contribution per "
        "language (12-dp-rounded terms, the entropy-tier float "
        "policy); batches depend only on the seed, so the ledger is "
        "trigger-order-free and batch-oracle adjudicable",
    ),
    QuerySpec(
        "streaming_curation_ledger",
        ST.streaming_curation_ledger,
        ST.STREAMING_CURATION_LEDGER_SQL,
        "§2.12 20th variant: cross-modal curation as a LIVE ingest "
        "service — all four modality indexes (text LSH, image pHash, "
        "audio window sets, video frame sets) seed from the standing "
        "corpus, arrivals stream per batch, each gets a keep/drop "
        "verdict with '+'-joined modality provenance; the partner-"
        "precedence rule generalized to modality edges makes the "
        "ledger trigger-independent and batch-oracle adjudicable",
    ),
    QuerySpec(
        "streaming_cdc_replication",
        ST.streaming_cdc_replication,
        ST.STREAMING_CDC_REPLICATION_SQL,
        "CDC producer→consumer contract end-to-end: WAP v1→v2, "
        "table_changes extracts the feed, the streaming apply "
        "replays it into a replica; rollup + zero-mismatch diff "
        "against v2 adjudicated (the Delta-CDF replication pattern)",
    ),
    QuerySpec(
        "bpe_merge_training",
        LT.bpe_merge_training,
        LT.BPE_MERGE_TRAINING_SQL,
        "BPE tokenizer induction: greedy pair-merge rounds on the "
        "vocabulary-sized word-frequency table (corpus touched once), "
        "leftmost-greedy rewrite fold identical in both engines; the "
        "adjudicated merge table catches drift anywhere in the chain",
    ),
    QuerySpec(
        "token_triangle_count",
        LT.token_triangle_count,
        LT.TOKEN_TRIANGLE_COUNT_SQL,
        "graph tier: triangle count + global clustering coefficient "
        "on the bigram-adjacency graph via the degree-ordered forward "
        "algorithm (oriented wedges bound the join intermediate)",
    ),
    QuerySpec(
        "hybrid_search_rrf",
        LT.hybrid_search_rrf,
        LT.HYBRID_SEARCH_RRF_SQL,
        "hybrid retrieval: reciprocal-rank fusion of the BM25 and "
        "TF-IDF rankings per query (rank-only fusion, the calibration-"
        "free way to blend rankers); fused top-k adjudicated",
    ),
    QuerySpec(
        "event_transition_matrix",
        R.event_transition_matrix,
        R.EVENT_TRANSITION_MATRIX_SQL,
        "first-order Markov transition matrix over per-user event "
        "sequences: one user-keyed sort, map-side pair counts, "
        "broadcast row-normalization",
    ),
    QuerySpec(
        "near_dup_prefix_filter",
        LT.near_dup_prefix_filter,
        LT.NEAR_DUP_PREFIX_FILTER_SQL,
        "EXACT tau-Jaccard self-join over the FULL corpus via prefix "
        "filtering (SSJoin/PPJoin): rarest-token prefixes are the only "
        "join keys, candidates verified by array intersect; the "
        "guaranteed-recall alternative to LSH, oracle is the exact "
        "all-pairs join",
    ),
    QuerySpec(
        "lsh_recall_audit",
        LT.lsh_recall_audit,
        LT.LSH_RECALL_AUDIT_SQL,
        "MinHash-LSH recall vs the exact prefix-filter ground truth, "
        "banded by true Jaccard decile — the banding's candidate "
        "S-curve adjudicated as data",
    ),
    QuerySpec(
        "brand_affinity_rules",
        R.brand_affinity_rules,
        R.BRAND_AFFINITY_RULES_SQL,
        "association rules (frequent 2-itemsets): support / confidence "
        "/ lift over order baskets; pair generation array-local per "
        "basket (one fact-key groupBy, no self-join), rule join on the "
        "broadcast brand vocabulary",
    ),
    QuerySpec(
        "cusum_changepoint",
        R.cusum_changepoint,
        R.CUSUM_CHANGEPOINT_SQL,
        "CUSUM changepoint per event type: exact integer deviation "
        "numerator (n*prefix - k*total) so the argmax is float-free; "
        "sequential pass over minute aggregates (calendar-bounded), "
        "raw-event reduction map-side",
    ),
    QuerySpec(
        "equi_depth_histogram",
        R.equi_depth_histogram,
        R.EQUI_DEPTH_HISTOGRAM_SQL,
        "equi-depth histogram over a fact column via DISTRIBUTED exact "
        "global rank (range exchange + broadcast partition offsets — "
        "no single-partition window); NTILE reproduced bit-for-bit by "
        "integer arithmetic on the rank",
    ),
    QuerySpec(
        "supplier_pareto_skyline",
        R.supplier_pareto_skyline,
        R.SUPPLIER_PARETO_SKYLINE_SQL,
        "2-D Pareto skyline via the distributive local->global window "
        "sweep (domination transitive, no pairwise self-join); oracle "
        "is the naive NOT EXISTS dominance spec",
    ),
    QuerySpec(
        "naive_bayes_langid",
        LT.naive_bayes_langid,
        LT.NAIVE_BAYES_LANGID_SQL,
        "trained multinomial Naive Bayes language ID (Laplace-smoothed, "
        "even/odd train-test split) as pure dataflow: sparse "
        "(token,lang) model only, factored dense term, exact decimal "
        "log-sum accumulation; confusion matrix adjudicated",
    ),
    QuerySpec(
        "partition_evolution_audit",
        R.partition_evolution_audit,
        R.PARTITION_EVOLUTION_AUDIT_SQL,
        "partition-spec evolution (Iceberg shape): evolve day -> "
        "(day,event_type) with hardlink-carried layouts, cross-layout "
        "merge (legacy rows die by equality-delete, new writes follow "
        "the active spec), spec-union reader, compaction; four "
        "filesystem-checked flags + rollup adjudicated",
    ),
    QuerySpec(
        "bpe_encode_corpus",
        LT.bpe_encode_corpus,
        LT.BPE_ENCODE_CORPUS_SQL,
        "BPE train->APPLY contract: the corpus vocabulary after all "
        "greedy merge rewrites, rolled up per final token (weighted "
        "frequency, distinct words, length) — the tokenizer's output "
        "side, vocabulary-sized dataflow",
    ),
    QuerySpec(
        "bpe_sampled_training",
        LT.bpe_sampled_training,
        LT.BPE_SAMPLED_TRAINING_SQL,
        "BPE sampled-training contract (SCALE.md §8g executed): "
        "full-corpus vs A-ES weighted-sample merge tables trained side "
        "by side, per-iteration winning pairs + agree flags — the "
        "measured convergence curve of the production mitigation",
    ),
    QuerySpec(
        "bpe_fertility_by_lang",
        LT.bpe_fertility_by_lang,
        LT.BPE_FERTILITY_BY_LANG_SQL,
        "tokenizer fertility (tokens/word) per language under the "
        "trained BPE merges — the train->apply contract adjudicated "
        "from the per-language cost angle",
    ),
    QuerySpec(
        "bpe_holdout_coverage",
        LT.bpe_holdout_coverage,
        LT.BPE_HOLDOUT_COVERAGE_SQL,
        "BPE train/holdout generalization audit: merges trained on "
        "an 80% split, applied verbatim (frozen-merge-table encode "
        "path) to the held-out vocabulary; occurrence-weighted "
        "fertility + merged-token share per split — the overfit "
        "check before freezing a vocab",
    ),
    QuerySpec(
        "training_shard_plan",
        LT.training_shard_plan,
        LT.TRAINING_SHARD_PLAN_SQL,
        "corpus assembly last mile: deterministic hash assignment of "
        "docs to training shards + per-shard token balance audit "
        "(token share, balance ratio vs uniform) — one corpus pass, "
        "8-row rollup, broadcast total",
    ),
    QuerySpec(
        "streaming_evolved_upsert",
        ST.streaming_evolved_upsert,
        ST.STREAMING_EVOLVED_UPSERT_SQL,
        "streaming x partition-spec evolution: foreachBatch "
        "evolved_merge into a mid-lifecycle-evolved table; final "
        "logical table == batch latest-per-key fold (batch-split "
        "invariant), seed-layout inode map proves zero rewrites",
    ),
    QuerySpec(
        "streaming_outer_attribution",
        ST.streaming_outer_attribution,
        ST.STREAMING_OUTER_ATTRIBUTION_SQL,
        "LEFT OUTER stream-stream join: null rows emitted only when "
        "the watermark closes a click's match window; emitted set "
        "adjudicated against the calibrated watermark model incl. the "
        "REQUIRED absence of still-buffered tail clicks",
    ),
    QuerySpec(
        "seasonal_naive_backtest",
        R.seasonal_naive_backtest,
        R.SEASONAL_NAIVE_BACKTEST_SQL,
        "forecast backtest as dataflow: seasonal-naive fit on the "
        "training window, held-out MAE per (type, hour) with the "
        "count-scaled decimal deviation trick (no float averaging "
        "until the output edge)",
    ),
]


# ---------------------------------------------------------------------
# Correctness rotation: the oracle gate checks the registry head-first
# under a ~50-query/round budget, so queries sort (stably) oldest first
# by the round of their latest green verdict in the committed
# CORRECTNESS_r*.json records; a query without one heads the order.

CORRECTNESS_DIR = Path(__file__).resolve().parent.parent


def latest_green_round(records_dir: Path = CORRECTNESS_DIR) -> dict[str, int]:
    """Query name -> round of its latest green verdict. Records apply in
    parsed round order (r2 before r10); a green verdict overwrites, a later
    FAIL invalidates. Rows-only entries (no oracle) need only rows_match."""
    latest: dict[str, int] = {}
    for rnd, path in sorted(
        (int(re.search(r"_r(\d+)\.json$", p.name).group(1)), p)
        for p in records_dir.glob("CORRECTNESS_r*.json")
    ):
        for name, res in json.loads(path.read_text()).items():
            schema, hashm = res.get("schema_match"), res.get("hash_match")
            if res.get("rows_match") and (
                (schema is None and hashm is None) or (schema and hashm)
            ):
                latest[name] = rnd
            elif latest.get(name, rnd) < rnd:
                del latest[name]
    return latest


# Query name -> the round in which its plan last changed. A verdict
# from an earlier round no longer stands, so the query heads the order.
_CHANGED_SINCE_VERDICT: dict[str, int] = {
    "customer_fuzzy_match_edit2": 14,
    "lsh_recall_audit": 14,
    "minhash_estimator_audit": 14,
    "near_dup_prefix_filter": 14,
    "lsh_band_tuning": 16,
    "ann_recall_audit": 15,
    "embedding_ivfpq_refined": 15,
    "cross_modal_curation": 15,
    "pipeline_validation": 16,
    "sheets_export_frame": 16,
    "streaming_compaction_race": 16,
}

_VERDICTS = latest_green_round()


def _staleness(name: str) -> int:
    """The round of the query's standing verdict; 0 (head) if none."""
    rnd = _VERDICTS.get(name, 0)
    return 0 if rnd < _CHANGED_SINCE_VERDICT.get(name, 0) else rnd


_SPECS.sort(key=lambda s: _staleness(s.name))


def specs() -> list[QuerySpec]:
    return list(_SPECS)


def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The driver's ``entry()`` smoke query: the full hourly pipeline
    (extract → merge → gap-fill → interpolate) on sf0.001."""
    return FL.flagship_hourly_pipeline(spark, sf_dir)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {s.name: s.spark for s in _SPECS}


def oracle_sql() -> dict[str, str]:
    return {s.name: s.oracle for s in _SPECS if s.oracle is not None}
