"""Round-12 second wave: Matryoshka prefix-dim retrieval audit, 1-bit
binary-quantization Hamming rerank, and alpha-temperature language
resampling — semantics asserted against pure-Python recomputations on
the sf0.001 fixture, not just oracle hashes."""

import math

import duckdb
import pytest
from pyspark.sql import functions as F

from myserver_datawarehouse_spark.plans import embeddings as EM
from myserver_datawarehouse_spark.plans import llm_text as LT

SF = "/root/testdata/sf0.001"


def _vecs():
    con = duckdb.connect()
    q = f"SELECT vec_id, CAST(embedding AS DOUBLE[]) FROM read_parquet('{SF}/embeddings.parquet') ORDER BY vec_id"
    rows = con.execute(q).fetchall()
    return {vid: list(v) for vid, v in rows}


def _cos(a, b):
    na = math.sqrt(sum(x * x for x in a))
    nb = math.sqrt(sum(x * x for x in b))
    if na <= 0 or nb <= 0:
        return None
    return sum(x * y for x, y in zip(a, b)) / (na * nb)


# ------------------------------------------------- matryoshka audit


def test_matryoshka_full_width_recall_is_one(spark):
    df = EM.embedding_matryoshka_audit(spark, SF).toPandas()
    assert list(df.prefix_dim) == EM.MRL_PREFIX_DIMS
    full = df[df.prefix_dim == 64].iloc[0]
    assert full.recall_at_k == 1.0  # ground truth recalls itself
    assert (df.n_retrieved == EM.TOP_K * EM.N_PROBES).all()
    # served quality can only degrade (weakly) as the prefix shrinks:
    # the full-width row must serve the best mean cosine of the table.
    assert full.avg_served_cosine == df.avg_served_cosine.max()


def test_matryoshka_curve_is_monotone_and_non_floor(spark):
    """Round-12 verdict #3: on the MRL-structured fixture the
    width/recall curve must be weakly monotone in width, reach 1.0 at
    full width, and sit clearly ABOVE the chance floor at every
    sub-full width (the raw isotropic vectors floored at ~0.1-0.2)."""
    df = EM.embedding_matryoshka_audit(spark, SF).toPandas()
    rec = dict(zip(df.prefix_dim, df.recall_at_k))
    assert rec[64] == 1.0
    assert rec[8] <= rec[16] <= rec[32] <= rec[64]
    assert rec[8] >= 0.3, "prefix-8 should beat the chance floor"
    assert rec[16] >= 0.6
    # the tradeoff is visible: the narrowest width really loses recall
    assert rec[8] < 1.0


def test_matryoshka_prefix_ranking_matches_python(spark):
    vecs = {
        vid: [x * s for x, s in zip(v, EM.MRL_SCALES)]
        for vid, v in _vecs().items()
    }
    df = EM.embedding_matryoshka_audit(spark, SF).toPandas()
    d = 16
    hits = 0
    for qid in range(EM.N_PROBES):
        q = vecs[qid]

        def topk(width):
            scored = []
            for vid, v in vecs.items():
                if vid == qid:
                    continue
                c = _cos(q[:width], v[:width])
                if c is None:
                    continue
                scored.append((-round(c, 6), vid))
            scored.sort()
            return {vid for _, vid in scored[: EM.TOP_K]}

        hits += len(topk(d) & topk(64))
    want = round(hits / float(EM.TOP_K * EM.N_PROBES), 6)
    got = df[df.prefix_dim == d].iloc[0].recall_at_k
    assert got == pytest.approx(want, abs=1e-9)


# -------------------------------------------- binary hamming rerank


def test_binary_hamming_matches_python_bits(spark):
    vecs = _vecs()

    def ham(a, b):
        return sum((x > 0) != (y > 0) for x, y in zip(a, b))

    got = {
        (r.query_id, r.vec_id): r.hamming
        for r in EM.embedding_binary_hamming_rerank(spark, SF).collect()
    }
    assert got  # non-empty
    for (qid, vid), h in got.items():
        assert h == ham(vecs[qid], vecs[vid])


def test_binary_hamming_shortlist_respects_cand_width(spark):
    vecs = _vecs()
    rows = EM.embedding_binary_hamming_rerank(spark, SF).collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r)
    assert set(per_q) == set(range(EM.N_PROBES))
    for qid, rs in per_q.items():
        assert len(rs) == EM.TOP_K
        # every served row must be inside the integer-exact Hamming
        # shortlist of width BQ_CAND for that query
        q = vecs[qid]
        hams = sorted(
            (
                sum((x > 0) != (y > 0) for x, y in zip(q, v)),
                vid,
            )
            for vid, v in vecs.items()
            if vid != qid
        )
        shortlist = {vid for _, vid in hams[: EM.BQ_CAND]}
        assert all(r.vec_id in shortlist for r in rs)


def test_binary_hamming_gt_flags_match_bruteforce(spark):
    gt = {
        (r.query_id, r.vec_id)
        for r in EM.embedding_topk_bruteforce(spark, SF).collect()
    }
    for r in EM.embedding_binary_hamming_rerank(spark, SF).collect():
        assert r.in_exact_topk == ((r.query_id, r.vec_id) in gt)


# --------------------------------------- temperature-resampled mix


def test_temperature_mix_invariants(spark):
    df = LT.temperature_resampled_mix(spark, SF).toPandas()
    assert len(df) >= 2
    # shares each sum to ~1
    assert df.p_raw.sum() == pytest.approx(1.0, abs=1e-4)
    assert df.p_temp.sum() == pytest.approx(1.0, abs=1e-4)
    # temperature compresses the mixture: the largest language is
    # downsampled, the smallest upsampled, and ordering by tokens is
    # preserved in p_temp (sqrt is monotone)
    big = df.loc[df.lang_tokens.idxmax()]
    small = df.loc[df.lang_tokens.idxmin()]
    assert big.upsample_factor < 1.0 < small.upsample_factor
    by_tok = df.sort_values("lang_tokens").p_temp.tolist()
    assert by_tok == sorted(by_tok)
    # expected budget redistributes, not grows: totals match within
    # per-lang rounding (±0.5 token each)
    assert abs(df.expected_tokens.sum() - df.lang_tokens.sum()) <= len(df)


def test_temperature_mix_alpha_formula(spark):
    df = LT.temperature_resampled_mix(spark, SF).toPandas()
    sw = sum(round(math.sqrt(t), 9) for t in df.lang_tokens)
    for _, r in df.iterrows():
        want = round(round(math.sqrt(r.lang_tokens), 9) / sw, 6)
        assert r.p_temp == pytest.approx(want, abs=2e-6)


# ------------------------------------- streaming near-dup ingest


def test_streaming_near_dup_cross_edges_match_batch_operator(spark):
    """Ledger edges whose partner is a BASE doc must be exactly the
    batch near_dup_incremental_lsh output — same signature scheme,
    same tau, so the stream adds intra-arrival edges and changes
    nothing else."""
    from myserver_datawarehouse_spark.plans import streaming_plans as ST
    from myserver_datawarehouse_spark.plans.llm_text import (
        INCR_MOD,
        near_dup_incremental_lsh,
    )

    led = ST.streaming_near_dup_ingest(spark, SF).collect()
    assert led  # fixture carries near-dups
    cross = {
        (r.doc_new, r.doc_partner, r.jaccard)
        for r in led
        if r.doc_partner % INCR_MOD != 0
    }
    want = {
        (r.doc_new, r.doc_indexed, r.jaccard)
        for r in near_dup_incremental_lsh(spark, SF).collect()
    }
    assert cross == want


def test_streaming_near_dup_precedence_invariant(spark):
    from myserver_datawarehouse_spark.plans import streaming_plans as ST
    from myserver_datawarehouse_spark.plans.llm_text import INCR_MOD
    from myserver_datawarehouse_spark.streaming.jobs import (
        NEAR_DUP_INGEST_BATCHES,
    )

    def bno(doc_id):
        if doc_id % INCR_MOD != 0:
            return -1
        return (doc_id // INCR_MOD) % NEAR_DUP_INGEST_BATCHES

    for r in ST.streaming_near_dup_ingest(spark, SF).collect():
        assert 0 <= r.batch_no < NEAR_DUP_INGEST_BATCHES
        assert bno(r.doc_new) == r.batch_no
        pb = bno(r.doc_partner)
        assert pb < r.batch_no or (
            pb == r.batch_no and r.doc_partner < r.doc_new
        )
        assert r.jaccard >= 0.5


# ------------------------------ BPE holdout + training shard plan


def test_bpe_holdout_metrics_shape_and_bounds(spark):
    df = LT.bpe_holdout_coverage(spark, SF).toPandas()
    assert list(df.split) == ["holdout", "train"]
    # fertility is tokens-per-word after 4 merges: strictly between 1
    # (everything fused) and the raw char count upper bound; merges
    # fire on both splits
    assert (df.fertility > 1.0).all()
    assert (df.merged_share > 0.0).all() and (df.merged_share < 1.0).all()
    # disjoint 80/20 split covers the corpus
    n_docs = spark.read.parquet(f"{SF}/documents.parquet").count()
    assert df.occurrences.sum() > 0 and n_docs > 0


def test_bpe_holdout_train_leg_matches_full_train_pipeline(spark):
    """bpe_holdout_coverage's frozen-merge replay (every merge in one
    lineage, no materialize between them) must produce the EXACT
    per-word segmentations _bpe_train's round-by-round training does
    on the same split; a difference names the word."""
    from pyspark.sql import functions as F

    d = spark.read.parquet(f"{SF}/documents.parquet")
    is_train = F.pmod(F.col("doc_id"), F.lit(LT.BPE_HOLDOUT_MOD)) < (
        LT.BPE_HOLDOUT_CUT
    )
    train = d.filter(is_train)
    words, merges = LT._bpe_train(spark, SF, docs=train)
    trained = {r.w: list(r.s) for r in words.collect()}

    # replay the frozen merge table through the apply path the holdout
    # query runs, over the same split
    applied = {
        r.w: list(r.s)
        for r in LT._bpe_apply_merges(
            LT._bpe_char_words(train), merges
        ).collect()
    }
    assert applied == trained

    # and the reported train-leg fertility is that segmentation's
    row = (
        words.select("cnt", F.size("s").alias("n_tok"))
        .agg(
            F.round(
                F.sum(F.col("cnt") * F.col("n_tok"))
                / F.sum("cnt").cast("double"),
                6,
            ).alias("fertility")
        )
        .collect()[0]
    )
    df = LT.bpe_holdout_coverage(spark, SF).toPandas()
    assert df[df.split == "train"].iloc[0].fertility == row.fertility


def test_training_shard_plan_partitions_corpus(spark):
    df = LT.training_shard_plan(spark, SF).toPandas()
    assert sorted(df.shard) == list(range(LT.N_TRAINING_SHARDS))
    n_docs = spark.read.parquet(f"{SF}/documents.parquet").count()
    assert df.n_docs.sum() == n_docs  # every doc lands exactly once
    assert df.token_share.sum() == pytest.approx(1.0, abs=1e-4)
    # balance_ratio is share * N by construction
    for _, r in df.iterrows():
        # both columns round to 6 dp independently, so the product
        # check carries up to N_SHARDS * 0.5e-6 rounding slack
        assert r.balance_ratio == pytest.approx(
            r.token_share * LT.N_TRAINING_SHARDS, abs=5e-6
        )


def test_training_shard_plan_is_stable_under_corpus_growth(spark):
    """Hash sharding must not move existing docs when new ones arrive:
    the shard of every doc in the half-corpus equals its shard in the
    full corpus."""
    from pyspark.sql import functions as F

    from myserver_datawarehouse_spark.operators import text as TX

    d = spark.read.parquet(f"{SF}/documents.parquet")
    shard = F.pmod(
        TX.hash60(F.col("doc_id").cast("string"), seed=7),
        F.lit(LT.N_TRAINING_SHARDS),
    ).cast("int")
    full = {
        r.doc_id: r.s for r in d.select("doc_id", shard.alias("s")).collect()
    }
    half = {
        r.doc_id: r.s
        for r in d.filter(F.col("doc_id") % 2 == 0)
        .select("doc_id", shard.alias("s"))
        .collect()
    }
    assert all(full[k] == v for k, v in half.items())


def test_streaming_near_dup_replay_is_idempotent(spark):
    """A replayed micro-batch (checkpoint restart after a partial
    commit) must leave the index and ledger byte-identical: per-batch
    writes are keyed overwrites, not appends, so re-processing batch k
    cannot double its signature rows or corrupt later batches'
    jaccard denominators."""
    import os

    from pyspark.sql import functions as F

    from myserver_datawarehouse_spark.plans.llm_text import INCR_MOD
    from myserver_datawarehouse_spark.plans.relational import _pid_tmpdir
    from myserver_datawarehouse_spark.streaming import jobs as SJ
    import shutil

    work = _pid_tmpdir("msdw_test_neardup_replay", SF)
    shutil.rmtree(work, ignore_errors=True)
    ledger_dir = SJ.near_dup_ingest_stream(spark, SF, work)

    def snapshot():
        led = {
            tuple(r)
            for r in SJ._read_tree(spark, ledger_dir).collect()
        }
        idx = {
            tuple(r)
            for r in SJ._read_tree(
                spark, os.path.join(work, "index_hashes")
            ).collect()
        }
        return led, idx

    before = snapshot()
    # replay batch 1 directly through the per-batch seam — exactly what
    # a foreachBatch retry does after a crash between commit and ack
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    replay = docs.filter(
        (F.pmod(F.col("doc_id"), F.lit(INCR_MOD)) == 0)
        & (
            F.expr(f"CAST((doc_id DIV {INCR_MOD}) % 3 AS INT)") == 1
        )
    )
    SJ._near_dup_ingest_one(
        spark,
        os.path.join(work, "index_bands"),
        os.path.join(work, "index_hashes"),
        os.path.join(work, "index_sizes"),
        ledger_dir,
        replay,
        1,
    )
    assert snapshot() == before
    shutil.rmtree(work, ignore_errors=True)


# ------------------------------ quality-aware dedup canonicalization


def test_quality_canonical_cluster_structure_matches_dedup_clusters(spark):
    """Same CC closure as dedup_clusters: identical (doc -> cluster)
    mapping and sizes; only the survivor rule differs."""
    base = {
        (r.doc_id, r.cluster_id, r.n_members)
        for r in LT.dedup_clusters(spark, SF).collect()
    }
    qual = {
        (r.doc_id, r.cluster_id, r.n_members)
        for r in LT.dedup_quality_canonical(spark, SF).collect()
    }
    assert qual == base


def test_quality_canonical_survivor_is_argmax(spark):
    rows = LT.dedup_quality_canonical(spark, SF).collect()
    assert rows
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r.cluster_id, []).append(r)
    for cid, members in by_cluster.items():
        best = sorted(
            members,
            key=lambda r: (-r.n_uniq_tokens, -r.n_tokens, r.doc_id),
        )[0]
        for r in members:
            assert r.survivor_id == best.doc_id
            assert r.is_survivor == (r.doc_id == best.doc_id)
        # exactly one survivor per cluster
        assert sum(r.is_survivor for r in members) == 1


# ----------------------------------------------- LSH band tuning


def test_band_tuning_shipped_config_matches_recall_audit(spark):
    """The 8x2 leg's measured counts must equal lsh_recall_audit's
    candidate-level recall... but the audit measures VERIFIED pairs
    (a subset filtered at tau after the same banding), so assert the
    weaker, always-true direction: per decile, the 8x2 candidate hit
    count is >= the audit's verified hit count, and n_exact matches
    exactly (same yardstick frame)."""
    from myserver_datawarehouse_spark.plans.llm_text import (
        lsh_band_tuning,
        lsh_recall_audit,
    )

    tune = {
        r.j_band: r
        for r in lsh_band_tuning(spark, SF).collect()
        if r.config == "8x2"
    }
    audit = {r.j_band: r for r in lsh_recall_audit(spark, SF).collect()}
    assert set(tune) == set(audit)
    for jb, a in audit.items():
        t = tune[jb]
        assert t.n_exact == a.n_exact
        assert t.n_cand >= a.n_lsh


def test_band_tuning_monotone_in_bands(spark):
    """More, shorter bands can only recall more: per decile,
    candidate hits are monotone 4x4 <= 8x2 <= 16x1 (superset band
    keys at equal signature), and theory agrees."""
    from myserver_datawarehouse_spark.plans.llm_text import lsh_band_tuning

    rows = lsh_band_tuning(spark, SF).collect()
    by = {}
    for r in rows:
        by.setdefault(r.j_band, {})[r.config] = r
    assert by
    for jb, cfgs in by.items():
        assert set(cfgs) == {"16x1", "8x2", "4x4"}
        assert (
            cfgs["4x4"].n_cand <= cfgs["8x2"].n_cand <= cfgs["16x1"].n_cand
        )
        assert (
            cfgs["4x4"].theory <= cfgs["8x2"].theory <= cfgs["16x1"].theory
        )
        # theory literals really are 1-(1-j^r)^b at the midpoint
        # (clamped at 1.0 for the exact-dup band, j_band = 10)
        j = min((jb + 0.5) / 10.0, 1.0)
        assert cfgs["8x2"].theory == pytest.approx(
            round(1 - (1 - j**2) ** 8, 4), abs=1e-9
        )


def test_band_tuning_theory_covers_exact_dup_band():
    """Round-12 advice: exact-duplicate pairs (J == 1.0) land in
    j_band FLOOR(1.0*10) = 10; the measured side INNER-joins to the
    theory rows, so theory must cover that band (at exactly 1.0 for
    every config) or exact dups silently vanish from the tuning table
    while lsh_recall_audit keeps them."""
    from myserver_datawarehouse_spark.plans.llm_text import (
        LSH_TUNE_CONFIGS,
        _lsh_theory_rows,
    )

    rows = _lsh_theory_rows()
    band10 = {(c, t) for c, jb, t in rows if jb == 10}
    assert band10 == {
        (f"{b}x{r}", 1.0) for b, r in LSH_TUNE_CONFIGS
    }
    # every config covers bands 0..10 exactly once
    per_cfg = {}
    for c, jb, _ in rows:
        per_cfg.setdefault(c, []).append(jb)
    for c, bands in per_cfg.items():
        assert sorted(bands) == list(range(11)), c


# ------------------------------------------ streaming mix drift


def test_streaming_mix_drift_psi_semantics(spark):
    """PSI terms are zero iff the batch share equals the seed share;
    the smoothed shares sum to ~1 per batch over the seed universe,
    and every (batch, lang) cell exists even when the batch carries
    zero tokens of a language."""
    import math

    from myserver_datawarehouse_spark.plans import streaming_plans as ST
    from myserver_datawarehouse_spark.streaming.jobs import (
        MIX_DRIFT_BATCHES,
    )

    rows = ST.streaming_mix_drift(spark, SF).collect()
    langs = {r.lang for r in rows}
    assert len(rows) == MIX_DRIFT_BATCHES * len(langs)  # full grid
    by_batch = {}
    for r in rows:
        by_batch.setdefault(r.batch_no, []).append(r)
    assert set(by_batch) == set(range(MIX_DRIFT_BATCHES))
    for bno, rs in by_batch.items():
        assert sum(r.p_batch for r in rs) == pytest.approx(1.0, abs=1e-4)
        for r in rs:
            # recompute the PSI term from the reported shares
            want = (r.p_batch - r.p_seed) * math.log(r.p_batch / r.p_seed)
            assert r.psi_term == pytest.approx(want, abs=5e-5)
            # a PSI contribution is >= 0 in exact arithmetic; allow
            # only the 6-dp presentation rounding below zero
            assert r.psi_term >= -1e-6


def test_streaming_mix_drift_replay_safe_batches_independent(spark):
    """Each batch's rows are a pure function of (batch docs, seed):
    recomputing batch 0's expected shares from the raw parquet matches
    the ledger."""
    from pyspark.sql import functions as F

    from myserver_datawarehouse_spark.operators import text as TX
    from myserver_datawarehouse_spark.plans import streaming_plans as ST
    from myserver_datawarehouse_spark.plans.llm_text import INCR_MOD
    from myserver_datawarehouse_spark.streaming.jobs import (
        MIX_DRIFT_BATCHES,
    )

    d = spark.read.parquet(f"{SF}/documents.parquet")
    tok = d.select(
        "doc_id", "lang", F.size(TX.tokenize("text")).alias("n")
    )
    b0 = (
        tok.filter(
            (F.col("doc_id") % INCR_MOD == 0)
            & (
                F.expr(
                    f"CAST((doc_id DIV {INCR_MOD}) % {MIX_DRIFT_BATCHES}"
                    " AS INT)"
                )
                == 0
            )
        )
        .groupBy("lang")
        .agg(F.sum("n").alias("t"))
        .collect()
    )
    want = {r.lang: r.t for r in b0}
    got = {
        r.lang: r.batch_tokens
        for r in ST.streaming_mix_drift(spark, SF).collect()
        if r.batch_no == 0 and r.batch_tokens > 0
    }
    assert got == {k: v for k, v in want.items() if v > 0}
