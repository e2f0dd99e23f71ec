"""Plan-hygiene lint over the ENTIRE registry: generalize the spot
checks in tests/test_plan_shapes.py to every query, so plan rot in
ANY registry entry is caught mechanically, not only where a hand-written
assertion happens to look.

For each registry query (built at sf0.001), the FORMATTED physical plan
is scanned for the anti-patterns that break at 100 TB:

  CARTESIAN   CartesianProduct — an unconditioned pair join on data
              volume (broadcast-nested-loop of a 1-row/tiny frame is
              fine and classified separately).
  ROW_UDF     BatchEvalPython — a row-at-a-time Python UDF in the plan
              (ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas are
              the sanctioned vectorized kernels and pass).
  RAND        rand()/randn() in any expression — nondeterministic
              sampling that retries/oracles can't reproduce (the repo's
              deterministic-hash-gate policy).
  RDD_SCAN    Scan ExistingRDD — driver-materialized data re-entering
              the plan (a collect()+parallelize smell). LocalTableScan
              (literal dims like the band table) passes.

Known-and-intended exceptions are listed in ALLOW with the reason; the
lint fails loudly on any NEW violation. Run:
    python tools/plan_lint.py          # writes PLANLINT.md, exits 1 on new violations
"""

from __future__ import annotations

import contextlib
import io
import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

SF = "/root/testdata/sf0.001"

# query -> {code: reason} for intended exceptions.
_LC = (
    "eager materialization via session.materialize() (EXECUTOR-side "
    "lineage truncation / shared-intermediate reuse, documented in the "
    "query docstring) — plans as Scan ExistingRDD but no data crosses "
    "the driver; localCheckpoint under the local default, a reliable "
    "checkpoint() under spark.msdw.reliableCheckpoint=true (the "
    "cluster profile, where executor loss must not strand loop state)"
)
# Queries built on pipeline.hourly_pipeline, which materializes the
# tick's bounded hour output (at most 60 rows per group).
_HOURLY = ("flagship_hourly_pipeline", "pipeline_validation",
           "pipeline_status_alerts", "sheets_export_frame")
ALLOW: dict[str, dict[str, str]] = {
    **{name: {"RDD_SCAN": _LC + "; hourly_pipeline's hour output (at "
              "most 60 rows per group), stored once because an hourly "
              "tick acts on it twice: the sink write and validate()"}
       for name in _HOURLY},
    "ann_recall_audit": {
        "RDD_SCAN": _LC + "; the exact top-k yardstick frame "
        "(N_PROBES x RECALL_K rows) shared by the hit semi-join and "
        "the method grid, plus the nprobe-max IVFPQ candidate frame "
        "every sweep point and the refined leg cut from (one "
        "training run for the whole curve)"
    },
    "source_dup_matrix": {
        "RDD_SCAN": _LC + "; the shared shingle-hash frame "
        "(_shingle_hash_frame, via _minhash_pair_frame) feeding the "
        "signature aggregate and both sides of the verify join"
    },
    "bitext_mining_pairs": {
        "RDD_SCAN": _LC + "; the bucketed cross-lang candidate frame "
        "shared by both k-NN neighborhood arms and the final margin "
        "join (3 consumers; without the cut the bucket join + dot "
        "fold re-executes 3x — the curation-ledger lesson)"
    },
    "bloom_pruned_join": {
        "RDD_SCAN": _LC + "; tiny rollup pinned under the runtime-"
        "bloom-filter conf (same convention as the bucketed join)"
    },
    "bucketed_colocated_join": {"RDD_SCAN": _LC + "; tiny rollup frame"},
    "corpus_build_pipeline": {"RDD_SCAN": _LC},
    "dedup_clusters": {"RDD_SCAN": _LC + "; CC iteration edge frames"},
    "leakage_safe_split": {"RDD_SCAN": _LC + "; CC iteration edge frames"},
    "near_dup_minhash_lsh": {"RDD_SCAN": _LC + "; shingle frame"},
    "dedup_threshold_sweep": {
        "RDD_SCAN": _LC + "; the shared shingle-hash frame "
        "(_shingle_hash_frame, as near_dup_minhash_lsh) feeding the "
        "signature aggregate and both sides of the verify join"
    },
    "minhash_estimator_audit": {
        "RDD_SCAN": _LC + "; the shared shingle-hash frame feeding "
        "the exact prefix-filter tier (df ranking + prefix join + "
        "verify) AND the 16-slot signature aggregate (the "
        "lsh_recall_audit sharing pattern)"
    },
    "near_dup_incremental_lsh": {
        "RDD_SCAN": _LC + "; batch + index shingle frames (the two "
        "tables a production incremental-ingest job persists)"
    },
    "semantic_dedup_clusters": {
        "RDD_SCAN": _LC + "; CC iteration edge frames"
    },
    "source_vocab_overlap": {"RDD_SCAN": _LC},
    "theta_sketch_overlap": {
        "RDD_SCAN": _LC + "; distinct shingle frame shared by the "
        "sketch, the exact yardstick and the sizes rollup"
    },
    "embedding_pq_adc_audit": {
        "RDD_SCAN": _LC + "; trained codebook (M*K rows) shared by "
        "encoding, dense renumber and the per-probe LUT; per-probe "
        "LUT array (N_PROBES rows) broadcast into the ADC scan"
    },
    "dsir_importance_weights": {
        "RDD_SCAN": _LC + "; the per-(doc, bucket) hashed n-gram "
        "count frame (ONE corpus explode) shared by the raw bucket "
        "rollup, the target bucket rollup, the global totals and the "
        "per-doc weighted sum — without it each distribution estimate "
        "re-explodes the corpus"
    },
    "dsir_importance_weights_threshold": {
        "RDD_SCAN": _LC + "; the shared _dsir_docw count frame (as "
        "dsir_importance_weights) PLUS the per-doc logw frame itself "
        "— histogram, n_sel, per-source base rollup and both "
        "selection branches would each re-run the n-gram explode "
        "otherwise"
    },
    "quality_percentile_filter_threshold": {
        "RDD_SCAN": _LC + "; the scored frame (one tokenize pass) "
        "shared by the per-lang score histogram and both keep "
        "branches (above-cut filter + boundary tie-scan)"
    },
    "simhash_estimator_audit": {
        "RDD_SCAN": _LC + "; the sampled (doc_id, token-hash, count) "
        "frame shared by the norm rollup, BOTH sides of the dot "
        "equi-join and the 60-bit vote aggregate — the pair "
        "yardstick and the signatures must project the SAME count "
        "vectors"
    },
    "ivf_recluster_audit": {
        "RDD_SCAN": _LC + "; the (vec_id, x, xx) corpus frame feeding "
        "both Lloyd chains + both full assigns + the yardstick; both "
        "trained centroid sets (k rows); both assignment frames "
        "(stats + reassignment join + recall candidates); the exact "
        "top-k yardstick shared by the two phase recall arms"
    },
    "ngram_lm_quality_gate": {
        "RDD_SCAN": _LC + "; the trained LM's two vocabulary-bounded "
        "frames: the bigram count table (consumed by the context-"
        "total rollup and the corpus scoring join) and the unigram "
        "table (consumed by the N1/V totals and the scoring join)"
    },
    "embedding_matryoshka_audit": {
        "RDD_SCAN": _LC + "; the per-width top-k frame (N_PROBES x "
        "|widths| x TOP_K rows) shared by the 64-width ground-truth "
        "extract, the recall hit semi-join, the hits-per-width "
        "rollup and the served-quality rollup — without it each "
        "consumer re-derives the N_PROBES x corpus scored frame"
    },
    "embedding_binary_hamming_rerank": {
        "RDD_SCAN": _LC + "; the scored N_PROBES x corpus frame "
        "(hamming + exact cosine from ONE scan) shared by the "
        "Hamming-shortlist/rerank windows and the exact ground-truth "
        "top-k window"
    },
    "token_pagerank": {
        "RDD_SCAN": _LC + "; materialized transition table shared by "
        "every rank iteration (without it each iteration re-derives "
        "the edge list from the corpus)"
    },
    "embedding_ivfpq_search": {
        "RDD_SCAN": _LC + "; trained residual codebook shared by "
        "encoding, dense renumber and every probe LUT; per-(probe,"
        "cell) LUT arrays broadcast into the code scan (same shape "
        "as embedding_pq_adc_audit)"
    },
    "token_triangle_count": {
        "RDD_SCAN": _LC + "; canonical edge list + oriented edge "
        "list, each consumed by multiple joins/aggregates of the "
        "forward algorithm"
    },
    "near_dup_prefix_filter": {
        "RDD_SCAN": _LC + "; distinct shingle-hash frame shared by "
        "the df ranking, the prefix join (twice) and the "
        "verification arrays"
    },
    "bpe_encode_corpus": {
        "RDD_SCAN": _LC + "; the per-round rewritten vocabulary frame "
        "(same _bpe_train loop as bpe_merge_training — each merge "
        "round re-reads the prior round's rewrite)"
    },
    "equi_depth_histogram": {
        "RDD_SCAN": _LC + "; ranking.global_rank's range-partitioned "
        "frame shared by the partition-count pass and the rank pass "
        "(the alternative recomputes the range exchange)"
    },
    "embedding_ivfpq_refined": {
        "RDD_SCAN": _LC + "; the shared _ivfpq_candidates pipeline "
        "(trained codebook + per-(probe,cell) LUTs, same shape as "
        "embedding_ivfpq_search) feeding the ADC shortlist that the "
        "exact re-ranker re-scores"
    },
    "cross_modal_curation": {
        "RDD_SCAN": _LC + "; the MinHash shingle frame, the audio "
        "fingerprint frame + CC iteration edge frames (same machinery "
        "as dedup_clusters, over the unioned text+image+audio+video "
        "edge set)"
    },
    "ann_nprobe_clustered": {
        "RDD_SCAN": _LC + "; the clustered-vector frame (consumed by "
        "the query set, the cell ranking and the distance frame) and "
        "the one distance frame every sweep point cuts by probe_rank"
    },
    "near_dup_video_frames": {
        "RDD_SCAN": _LC + "; the per-frame fingerprint frame feeds "
        "the chunk explode AND the per-video set aggregate — the cut "
        "keeps the payload scan + pHash kernel to one pass"
    },
    "lsh_recall_audit": {
        "RDD_SCAN": _LC + "; both ingredient plans' shared frames "
        "(prefix-filter shingle/prefix/set frames + the MinHash "
        "shingle frame) — the audit composes the two tiers as-is"
    },
    "near_dup_audio_fingerprint": {
        "RDD_SCAN": _LC + "; the per-window fingerprint frame feeds "
        "the chunk explode AND the per-track set aggregate — the cut "
        "keeps the payload scan + fingerprint kernel to one pass"
    },
    "bpe_fertility_by_lang": {
        "RDD_SCAN": _LC + "; the per-round rewritten vocabulary frame "
        "(same _bpe_train loop as bpe_merge_training), joined onto "
        "the per-(lang, word) counts"
    },
    "dedup_quality_canonical": {
        "RDD_SCAN": _LC + "; the shared _cc_min_labels machinery "
        "(edge frame + per-round label frames, as in dedup_clusters), "
        "whose final labels feed both the quality-feature join and "
        "the cluster-size rollup"
    },
    "lsh_band_tuning": {
        "RDD_SCAN": _LC + "; the shared shingle-hash frame (as in "
        "lsh_recall_audit), the exact prefix-filter yardstick frame "
        "consumed by the sweep's candidate join + the decile "
        "rollup, and the signature frame both sides of the ONE "
        "tagged band-key bucket self-join re-read (one tagged "
        "explode + one self-join, not three per-config legs)"
    },
}

# ---------------------------------------------------------------------
# The allowlist's honesty mechanism: every ALLOW entry must either
# NAME >= 2 downstream consumers of the materialized frame here, or sit
# in the FROZEN legacy-cut set below. tests/test_verify_lint.py asserts
# the partition, so a new ALLOW entry cannot land without naming its
# consumers — the allowlist can only grow with a machine-checked
# sharing justification.
CONSUMERS: dict[str, tuple[str, ...]] = {
    **{name: ("hour output: the tick's sink write",
              "hour output: the tick's validate() aggregate")
       for name in _HOURLY},
    "ann_recall_audit": (
        "exact top-k yardstick: recall hit semi-join",
        "exact top-k yardstick: method comparison grid",
        "nprobe-max IVFPQ candidate frame: every sweep point's cut",
        "nprobe-max IVFPQ candidate frame: the refined re-rank leg",
    ),
    "source_dup_matrix": (
        "shingle-hash frame: the 16-slot signature aggregate",
        "shingle-hash frame: both sides of the candidate verify join",
    ),
    "bitext_mining_pairs": (
        "candidate frame: forward k-NN arm (doc_a -> lang_b)",
        "candidate frame: reverse k-NN arm (doc_b -> lang_a)",
        "candidate frame: the final margin join",
    ),
    "dedup_clusters": (
        "CC edge frame: every min-label propagation round",
        "CC labels: final cluster-size rollup",
    ),
    "leakage_safe_split": (
        "CC edge frame: every min-label propagation round",
        "CC labels: split assignment + leakage check",
    ),
    "semantic_dedup_clusters": (
        "CC edge frame: every min-label propagation round",
        "CC labels: final cluster rollup",
    ),
    "near_dup_minhash_lsh": (
        "shingle-hash frame: the 16-slot signature aggregate",
        "shingle-hash frame: both sides of the candidate verify join",
    ),
    "dedup_threshold_sweep": (
        "shingle-hash frame: the 16-slot signature aggregate",
        "shingle-hash frame: both sides of the candidate verify join",
    ),
    "minhash_estimator_audit": (
        "shingle-hash frame: the exact prefix-filter tier",
        "shingle-hash frame: the 16-slot signature aggregate",
    ),
    "near_dup_incremental_lsh": (
        "batch shingle frame: batch signatures + verify side",
        "index shingle frame: index signatures + verify side",
    ),
    "theta_sketch_overlap": (
        "distinct shingle frame: the theta sketch",
        "distinct shingle frame: the exact yardstick",
        "distinct shingle frame: the per-source sizes rollup",
    ),
    "embedding_pq_adc_audit": (
        "trained codebook: vector encoding",
        "trained codebook: dense renumber",
        "trained codebook: per-probe LUT build",
        "per-probe LUT array: the ADC scan broadcast",
    ),
    "dsir_importance_weights": (
        "per-(doc,bucket) count frame: the raw bucket rollup",
        "per-(doc,bucket) count frame: the target bucket rollup",
        "per-(doc,bucket) count frame: the global totals",
        "per-(doc,bucket) count frame: the per-doc weighted sum",
    ),
    "dsir_importance_weights_threshold": (
        "per-(doc,bucket) count frame: the four _dsir_docw rollups "
        "(as dsir_importance_weights)",
        "per-doc logw frame: the 6-dp histogram",
        "per-doc logw frame: the n_sel count",
        "per-doc logw frame: the per-source base rollup",
        "per-doc logw frame: the above-cut selection branch",
        "per-doc logw frame: the boundary-bucket tie-scan",
    ),
    "quality_percentile_filter_threshold": (
        "scored frame: the per-(lang, score) histogram",
        "scored frame: the above-cut keep branch",
        "scored frame: the boundary-score tie-scan",
    ),
    "simhash_estimator_audit": (
        "token-count frame: the per-doc norm rollup",
        "token-count frame: both sides of the dot equi-join",
        "token-count frame: the 60-bit vote aggregate",
    ),
    "ivf_recluster_audit": (
        "corpus (vec_id, x, xx) frame: the seed Lloyd chain",
        "corpus (vec_id, x, xx) frame: the full-retrain Lloyd chain",
        "corpus (vec_id, x, xx) frame: both final assignments + the "
        "exact yardstick pairs",
        "trained centroid sets: final assign + probe-cell ranking "
        "(x2 phases)",
        "assignment frames: cell stats + reassignment join + recall "
        "candidates (x2 phases)",
        "exact top-k yardstick: the before/after hit semi-joins",
    ),
    "ngram_lm_quality_gate": (
        "bigram count table: the context-total rollup",
        "bigram count table: the corpus scoring join",
        "unigram table: the N1/V totals",
        "unigram table: the corpus scoring join",
    ),
    "embedding_matryoshka_audit": (
        "per-width top-k frame: the 64-width ground-truth extract",
        "per-width top-k frame: the recall hit semi-join",
        "per-width top-k frame: the hits-per-width rollup",
        "per-width top-k frame: the served-quality rollup",
    ),
    "embedding_binary_hamming_rerank": (
        "scored pair frame: the Hamming shortlist + rerank windows",
        "scored pair frame: the exact ground-truth top-k window",
    ),
    "token_pagerank": (
        "transition table: every rank iteration's join",
        "transition table: the dangling-mass correction",
    ),
    "embedding_ivfpq_search": (
        "residual codebook: encoding",
        "residual codebook: dense renumber",
        "residual codebook: per-(probe,cell) LUT build",
        "LUT arrays: the code-scan broadcast",
    ),
    "token_triangle_count": (
        "canonical edge list: degree ranking + orientation",
        "oriented edge list: both sides of the wedge join",
        "oriented edge list: the closing-edge semi-join",
    ),
    "near_dup_prefix_filter": (
        "distinct shingle-hash frame: the df ranking window",
        "prefix frame: both sides of the prefix self-join",
        "per-doc sorted hash arrays: the candidate verification",
    ),
    "bpe_encode_corpus": (
        "per-round vocabulary frame: next merge round's pair count",
        "per-round vocabulary frame: next round's greedy rewrite",
    ),
    "equi_depth_histogram": (
        "range-partitioned frame: the partition-count pass",
        "range-partitioned frame: the global-rank pass",
    ),
    "embedding_ivfpq_refined": (
        "_ivfpq_candidates pipeline: the ADC shortlist",
        "_ivfpq_candidates pipeline: the exact re-ranker's re-score",
    ),
    "cross_modal_curation": (
        "MinHash shingle frame: signatures + verify join",
        "audio fingerprint frame: chunk explode + per-track aggregate",
        "union edge frame: every CC propagation round",
        "CC labels: size rollup + provenance joins",
    ),
    "ann_nprobe_clustered": (
        "clustered-vector frame: the query set",
        "clustered-vector frame: the cell ranking",
        "clustered-vector frame: the distance frame",
        "distance frame: every sweep point's probe_rank cut",
    ),
    "near_dup_video_frames": (
        "per-frame fingerprint frame: the chunk-band explode",
        "per-frame fingerprint frame: the per-video set aggregate",
    ),
    "lsh_recall_audit": (
        "shared shingle-hash frame: the prefix-filter tier",
        "shared shingle-hash frame: the MinHash-LSH tier",
        "prefix/set frames: both sides of their joins (as in "
        "near_dup_prefix_filter)",
    ),
    "near_dup_audio_fingerprint": (
        "per-window fingerprint frame: the chunk-band explode",
        "per-window fingerprint frame: the per-track set aggregate",
    ),
    "bpe_fertility_by_lang": (
        "per-round vocabulary frame: every merge round (as in "
        "bpe_encode_corpus)",
        "final segmentations: the per-(lang, word) fertility join",
    ),
    "dedup_quality_canonical": (
        "CC edge frame: every label-propagation round (as in "
        "dedup_clusters)",
        "final CC labels: the quality-feature join",
        "final CC labels: the cluster-size rollup",
    ),
    "lsh_band_tuning": (
        "shingle-hash frame: the prefix-filter yardstick + the "
        "signature aggregate (as in lsh_recall_audit)",
        "exact yardstick frame: the tagged-candidate join + "
        "the decile rollup",
        "signature frame: both sides of the one tagged band-key "
        "bucket self-join",
    ),
}

# FROZEN: the older lineage cuts whose justification is the cut
# itself (conf pinning under eager execution / composed-machinery
# checkpoints), not a >= 2-consumer shared frame. This set must never
# grow — new single-consumer cuts are a lint violation by policy.
LEGACY_CUTS = frozenset(
    {
        "bloom_pruned_join",  # runtime-bloom-filter conf pin
        "bucketed_colocated_join",  # bucket-join conf pin
        "corpus_build_pipeline",  # composed curation->LSH machinery
        "source_vocab_overlap",  # composed vocab machinery
    }
)


def classify(plan: str) -> dict[str, str]:
    """Return {code: evidence} for every anti-pattern found in a
    formatted-plan string."""
    found: dict[str, str] = {}
    if "CartesianProduct" in plan:
        found["CARTESIAN"] = "CartesianProduct operator"
    if "BatchEvalPython" in plan:
        found["ROW_UDF"] = "BatchEvalPython (row-wise Python UDF)"
    m = re.search(r"\brandn?\(", plan)
    if m:
        found["RAND"] = f"nondeterministic {m.group(0)}...)"
    if "Scan ExistingRDD" in plan:
        found["RDD_SCAN"] = "Scan ExistingRDD (driver-materialized input)"
    return found


def main() -> int:
    from myserver_datawarehouse_spark import registry
    from myserver_datawarehouse_spark.session import get_spark

    spark = get_spark("plan-lint")
    spark.sparkContext.setLogLevel("ERROR")

    rows: list[tuple[str, dict[str, str]]] = []
    new_violations = 0
    for spec in sorted(registry.specs(), key=lambda s: s.name):
        df = spec.spark(spark, SF)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        found = classify(buf.getvalue())
        rows.append((spec.name, found))
        allowed = ALLOW.get(spec.name, {})
        for code in found:
            if code not in allowed:
                new_violations += 1
                print(f"VIOLATION {spec.name}: {code} — {found[code]}")

    clean = sum(1 for _, f in rows if not f)
    out = [
        "# PLANLINT — registry-wide plan-hygiene sweep",
        "(generated by tools/plan_lint.py; sf0.001 plans)",
        "",
        "Anti-patterns checked on every registry query's physical plan:",
        "CartesianProduct, row-wise Python UDFs (BatchEvalPython),",
        "rand()/randn() nondeterminism, Scan ExistingRDD",
        "(driver-materialized input). Vectorized kernels",
        "(ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas /",
        "FlatMapGroupsInPandasWithState) and literal LocalTableScan",
        "dims are sanctioned and pass.",
        "",
        f"**{clean}/{len(rows)} queries clean; "
        f"{len(rows) - clean} allowlisted/violating (detail below).**",
        "",
    ]
    dirty = [(n, f) for n, f in rows if f]
    if dirty:
        out += ["| query | finding | allowlisted reason |", "|---|---|---|"]
        for name, found in dirty:
            for code, ev in found.items():
                reason = ALLOW.get(name, {}).get(code, "**NOT ALLOWED**")
                out.append(f"| {name} | {code}: {ev} | {reason} |")
        out.append("")
    with open(ROOT / "PLANLINT.md", "w") as fh:
        fh.write("\n".join(out))
    print(f"wrote PLANLINT.md: {clean}/{len(rows)} clean, "
          f"{new_violations} un-allowlisted violations")
    return 1 if new_violations else 0


if __name__ == "__main__":
    raise SystemExit(main())
