"""Round-13 additions: DSIR hashed n-gram importance resampling,
interpolated n-gram LM perplexity gate, streaming curation ledger —
semantics asserted against pure-Python recomputations on the sf0.001
fixture, not just oracle hashes."""

import math

import duckdb
import pytest

from myserver_datawarehouse_spark.plans import llm_text as LT

SF = "/root/testdata/sf0.001"


def _fixture_docs():
    con = duckdb.connect()
    rows = con.execute(
        "SELECT doc_id, regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'),"
        " lang, source"
        f" FROM read_parquet('{SF}/documents.parquet') ORDER BY doc_id"
    ).fetchall()
    return [
        (did, txt.split(" ") if txt else [], lang, src)
        for did, txt, lang, src in rows
    ]


def _hash60(s: str) -> int:
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


# ------------------------------------------------ DSIR importance


def _py_dsir_logw():
    """Pure-Python recompute of the per-doc DSIR log weights with the
    plan's exact rounding discipline (12-dp lambda, 12-dp terms)."""
    docs = _fixture_docs()
    per_doc = {}  # doc_id -> {bucket: n}
    meta = {}
    raw = {}
    tgt = {}
    tot_raw = 0
    tot_tgt = 0
    for did, tks, lang, src in docs:
        grams = [t for t in tks if t != ""]
        grams += [
            f"{tks[i]} {tks[i + 1]}" for i in range(len(tks) - 1)
        ]
        grams = [g for g in grams if g != ""]
        bc = {}
        for g in grams:
            b = _hash60(g) % LT.DSIR_BUCKETS
            bc[b] = bc.get(b, 0) + 1
        per_doc[did] = bc
        meta[did] = (lang, src)
        for b, n in bc.items():
            raw[b] = raw.get(b, 0) + n
            tot_raw += n
            if lang == LT.DSIR_TARGET_LANG:
                tgt[b] = tgt.get(b, 0) + n
                tot_tgt += n
    a = LT.DSIR_ALPHA
    denom = LT.DSIR_ALPHA * LT.DSIR_BUCKETS
    lam = {
        b: round(
            math.log((tgt.get(b, 0) + a) / (tot_tgt + denom))
            - math.log((raw[b] + a) / (tot_raw + denom)),
            12,
        )
        for b in raw
    }
    logw = {
        did: sum(round(n * lam[b], 12) for b, n in bc.items())
        for did, bc in per_doc.items()
    }
    return logw, meta


def test_dsir_budget_matches_python_recompute(spark):
    logw, meta = _py_dsir_logw()
    n_sel = len(logw) // LT.DSIR_SELECT_DENOM
    order = sorted(logw, key=lambda d: (-logw[d], d))
    selected = set(order[:n_sel])
    want = {}
    for did, (lang, src) in meta.items():
        n, s, tot = want.get(src, (0, 0, 0.0))
        want[src] = (
            n + 1,
            s + (1 if did in selected else 0),
            tot + logw[did],
        )
    got = {
        r.source: r
        for r in LT.dsir_importance_weights(spark, SF).collect()
    }
    assert set(got) == set(want)
    for src, (n, sel, tot) in want.items():
        assert got[src].n_docs == n
        assert got[src].n_selected == sel
        assert got[src].mean_logw == pytest.approx(
            round(tot / n, 6), abs=2e-6
        )
        assert got[src].budget_share == pytest.approx(
            round(sel / n_sel, 6), abs=1e-9
        )


def test_dsir_weights_prefer_target_language(spark):
    """The whole point of the importance weight: docs drawn from the
    target ('en') distribution must carry higher average weight than
    docs from other languages, and dominate the selected set."""
    logw, meta = _py_dsir_logw()
    en = [logw[d] for d in logw if meta[d][0] == LT.DSIR_TARGET_LANG]
    other = [logw[d] for d in logw if meta[d][0] != LT.DSIR_TARGET_LANG]
    assert en and other
    assert sum(en) / len(en) > sum(other) / len(other)
    n_sel = len(logw) // LT.DSIR_SELECT_DENOM
    order = sorted(logw, key=lambda d: (-logw[d], d))
    sel_langs = [meta[d][0] for d in order[:n_sel]]
    en_share_sel = sel_langs.count(LT.DSIR_TARGET_LANG) / len(sel_langs)
    en_share_all = len(en) / len(logw)
    assert en_share_sel > en_share_all


def test_dsir_budget_sums_to_selection(spark):
    df = LT.dsir_importance_weights(spark, SF).toPandas()
    n_docs = int(df.n_docs.sum())
    assert int(df.n_selected.sum()) == n_docs // LT.DSIR_SELECT_DENOM
    assert df.budget_share.sum() == pytest.approx(1.0, abs=1e-4)


# ------------------------------------------ n-gram LM quality gate


def _py_lm_xent():
    """Pure-Python Jelinek-Mercer bigram LM with the plan's exact
    smoothing and rounding discipline; returns doc_id -> xent."""
    docs = _fixture_docs()
    uni = {}
    c2 = {}
    for did, tks, _lang, _src in docs:
        is_train = did % LT.NGRAM_LM_MOD < LT.NGRAM_LM_CUT
        if not is_train:
            continue
        for w in tks:
            if w != "":
                uni[w] = uni.get(w, 0) + 1
        for i in range(len(tks) - 1):
            c2[(tks[i], tks[i + 1])] = c2.get((tks[i], tks[i + 1]), 0) + 1
    ctx = {}
    for (v, _w), n in c2.items():
        ctx[v] = ctx.get(v, 0) + n
    n1 = sum(uni.values())
    vsz = len(uni)
    out = {}
    for did, tks, _lang, _src in docs:
        if len(tks) < 2:
            continue
        terms = []
        for i in range(len(tks) - 1):
            v, w = tks[i], tks[i + 1]
            p2 = c2.get((v, w), 0) / ctx[v] if ctx.get(v, 0) > 0 else 0.0
            p1 = (uni.get(w, 0) + LT.NGRAM_LM_ALPHA) / (
                n1 + LT.NGRAM_LM_ALPHA * (vsz + 1)
            )
            terms.append(
                round(
                    math.log(LT.NGRAM_LM_L2 * p2 + LT.NGRAM_LM_L1 * p1),
                    12,
                )
            )
        out[did] = round(-sum(terms) / len(terms), 6)
    return out


def test_lm_gate_band_rollup_matches_python(spark):
    xent = _py_lm_xent()
    meta = {d: (lang, d % LT.NGRAM_LM_MOD < LT.NGRAM_LM_CUT)
            for d, _t, lang, _s in _fixture_docs()}
    # per-lang NTILE(3) on (xent, doc_id)
    by_lang = {}
    for did, x in xent.items():
        by_lang.setdefault(meta[did][0], []).append((x, did))
    want = {}
    for lang, rows in by_lang.items():
        rows.sort()
        n = len(rows)
        base, extra = divmod(n, LT.NGRAM_LM_BANDS)
        pos = 0
        for b in range(1, LT.NGRAM_LM_BANDS + 1):
            size = base + (1 if b <= extra else 0)
            chunk = rows[pos:pos + size]
            pos += size
            want[(lang, b)] = (
                len(chunk),
                round(sum(x for x, _ in chunk) / len(chunk), 6),
                sum(1 for _, d in chunk if meta[d][1]),
            )
    got = {
        (r.lang, r.band): r
        for r in LT.ngram_lm_quality_gate(spark, SF).collect()
    }
    assert set(got) == set(want)
    for k, (n, mx, ntr) in want.items():
        assert got[k].n_docs == n
        assert got[k].mean_xent == pytest.approx(mx, abs=2e-6)
        assert got[k].n_train_docs == ntr


def test_lm_gate_train_docs_fit_better(spark):
    """Self-fit sanity: the train split must score lower (more fluent)
    cross-entropy on average than the held-out split — the LM has seen
    its own bigrams."""
    xent = _py_lm_xent()
    tr = [x for d, x in xent.items()
          if d % LT.NGRAM_LM_MOD < LT.NGRAM_LM_CUT]
    ho = [x for d, x in xent.items()
          if d % LT.NGRAM_LM_MOD >= LT.NGRAM_LM_CUT]
    assert tr and ho
    assert sum(tr) / len(tr) < sum(ho) / len(ho)


# --------------------------------------- streaming curation ledger


def _batch_curation_ledger(spark):
    """Batch reference: the four modality pair builders (the
    cross_modal_curation edge sets) re-oriented at each edge's later
    endpoint under the ingest precedence rule — computed WITHOUT any
    streaming machinery."""
    from myserver_datawarehouse_spark.operators import multimodal as MM
    from myserver_datawarehouse_spark.plans import llm_text as LTX
    from myserver_datawarehouse_spark.plans.multimodal import (
        _audio_fingerprint_pairs,
        _image_phash_pairs,
        _video_frame_pairs,
    )
    from myserver_datawarehouse_spark.streaming.jobs import (
        CURATION_BATCHES,
    )

    docs = LTX._docs(spark, SF)
    arms = {
        "text": LTX._minhash_pairs_for(docs).select("doc_a", "doc_b"),
        "image": _image_phash_pairs(spark, SF).select("doc_a", "doc_b"),
        "audio": _audio_fingerprint_pairs(
            MM.with_fake_payload(docs.select("doc_id", "text"))
        ).select("doc_a", "doc_b"),
        "video": _video_frame_pairs(spark, SF).select("doc_a", "doc_b"),
    }

    def bno(doc):
        return (
            int((doc // LTX.INCR_MOD) % CURATION_BATCHES)
            if doc % LTX.INCR_MOD == 0
            else -1
        )

    evid = {}  # arrival doc -> (set of partners, set of modalities)
    for m, df in arms.items():
        for r in df.collect():
            a, b = r.doc_a, r.doc_b
            later, earlier = (
                (a, b)
                if (bno(a), a) > (bno(b), b)
                else (b, a)
            )
            if bno(later) < 0:
                continue
            ps, ms = evid.setdefault(later, (set(), set()))
            ps.add(earlier)
            ms.add(m)
    order = ["text", "image", "audio", "video"]
    ledger = {}
    arrivals = [
        r.doc_id
        for r in docs.select("doc_id").collect()
        if r.doc_id % LTX.INCR_MOD == 0
    ]
    for doc in arrivals:
        if doc in evid:
            ps, ms = evid[doc]
            ledger[doc] = (
                bno(doc),
                "drop",
                "+".join(m for m in order if m in ms),
                len(ps),
            )
        else:
            ledger[doc] = (bno(doc), "keep", "none", 0)
    return ledger


def test_streaming_curation_ledger_equals_batch(spark):
    """Round-12 verdict #6's gate: the live stream's keep/drop ledger
    must SET-EQUAL the batch recompute from the four modality pair
    builders — the stream is the same contract, just incremental."""
    from myserver_datawarehouse_spark.plans import streaming_plans as ST

    got = {
        r.doc_id: (r.batch_no, r.verdict, r.retired_by, r.n_partners)
        for r in ST.streaming_curation_ledger(spark, SF).collect()
    }
    want = _batch_curation_ledger(spark)
    assert got == want
    # the fixture must actually exercise drops with provenance
    assert any(v[1] == "drop" for v in got.values())


def test_streaming_curation_replay_is_idempotent(spark):
    """A replayed curation micro-batch must leave every modality index
    and the ledger byte-identical (batch-keyed overwrites)."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from myserver_datawarehouse_spark.plans.llm_text import INCR_MOD
    from myserver_datawarehouse_spark.plans.relational import _pid_tmpdir
    from myserver_datawarehouse_spark.streaming import jobs as SJ

    work = _pid_tmpdir("msdw_test_curation_replay", SF)
    shutil.rmtree(work, ignore_errors=True)
    ledger_dir = SJ.curation_ledger_stream(spark, SF, work)
    trees = [
        ledger_dir,
        os.path.join(work, "thashes"),
        os.path.join(work, "media_rows"),
        os.path.join(work, "media_chunks"),
    ]

    def snapshot():
        return [
            {tuple(r) for r in SJ._read_tree(spark, t).collect()}
            for t in trees
        ]

    before = snapshot()
    docs = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )
    replay = docs.filter(
        (F.pmod(F.col("doc_id"), F.lit(INCR_MOD)) == 0)
        & (
            F.expr(
                f"CAST((doc_id DIV {INCR_MOD})"
                f" % {SJ.CURATION_BATCHES} AS INT)"
            )
            == 1
        )
    )
    d = {
        k: os.path.join(work, k)
        for k in (
            "tbands", "thashes", "tsizes",
            "media_rows", "media_chunks",
            "ledger",
        )
    }
    SJ._curation_one(spark, d, replay, 1)
    assert snapshot() == before


# ---------------------------------- round-13 second wave additions


def test_dedup_sweep_monotone_and_floor_matches_pair_query(spark):
    """More aggressive thresholds can only retire fewer docs/pairs;
    the 0.5 floor row must equal the standing near_dup_minhash_lsh
    pair query's totals (same pair frame, same tau floor)."""
    rows = {r.tau: r for r in LT.dedup_threshold_sweep(spark, SF).collect()}
    assert sorted(rows) == LT.DEDUP_SWEEP_TAUS
    taus = sorted(rows)
    for lo, hi in zip(taus, taus[1:]):
        assert rows[hi].n_pairs <= rows[lo].n_pairs
        assert rows[hi].n_docs_dropped <= rows[lo].n_docs_dropped
    pairs = LT.near_dup_minhash_lsh(spark, SF).collect()
    assert rows[0.5].n_pairs == len(pairs)
    assert rows[0.5].n_docs_dropped == len({p.doc_b for p in pairs})
    assert rows[0.5].n_pairs > 0  # fixture exercises the curve


def test_epoch_plan_budget_and_cap_invariants(spark):
    import pandas as pd  # noqa: F401

    df = LT.training_epoch_plan(spark, SF).toPandas()
    total = int(df.src_tokens.sum())
    # targets re-distribute the full budget (rounding slack <= 1/src)
    assert abs(int(df.target_tokens.sum()) - LT.EPOCH_BUDGET_MULT * total) \
        <= len(df)
    assert (df.alloc_tokens <= df.src_tokens * LT.EPOCH_CAP).all()
    assert (df.surplus_tokens == df.target_tokens - df.alloc_tokens).all()
    assert (df.surplus_tokens >= 0).all()
    assert (df.epochs_capped <= LT.EPOCH_CAP).all()
    # sqrt weighting upsamples small sources: smallest source's epochs
    # must be >= largest source's
    small = df.loc[df.src_tokens.idxmin()]
    large = df.loc[df.src_tokens.idxmax()]
    assert small.epochs_raw >= large.epochs_raw


def test_filter_agreement_marginals_match_source_queries(spark):
    """The agreement table's implied per-filter pass counts must equal
    the source queries' own rollups (gopher_quality_flags /
    unigram_xent_quality / text_repetition_stats): the per-doc flags
    it joins decide pass/fail as those queries do."""
    rows = LT.quality_filter_agreement(spark, SF).collect()
    assert len(rows) == 3
    n = rows[0].n_docs
    # recover marginals: for the (a, b) row, n_both_pass and n_agree
    # pin the joint; source rollups give the marginals directly
    gop = LT.gopher_quality_flags(spark, SF).toPandas()
    n_gopher_pass = int(gop.n_pass_all.sum())
    xq = LT.unigram_xent_quality(spark, SF).toPandas()
    n_xent_pass = n - int(xq.n_low_prob.sum())
    rep = LT.text_repetition_stats(spark, SF).toPandas()
    n_rep_pass = n - int(rep.n_flagged.sum())
    by = {(r.filter_a, r.filter_b): r for r in rows}
    gx = by[("gopher", "unigram_xent")]
    gr = by[("gopher", "repetition")]
    xr = by[("repetition", "unigram_xent")]
    # inclusion-exclusion over the 2x2 table recovers each marginal:
    # n_agree = n_both + n_neither; pa + pb = 2*both + (n - agree)
    assert gx.n_docs == gr.n_docs == xr.n_docs
    assert n_gopher_pass + n_xent_pass == 2 * gx.n_both_pass + (
        n - gx.n_agree
    )
    assert n_gopher_pass + n_rep_pass == 2 * gr.n_both_pass + (
        n - gr.n_agree
    )
    assert n_rep_pass + n_xent_pass == 2 * xr.n_both_pass + (
        n - xr.n_agree
    )
    for r in rows:
        assert 0.0 <= r.agree_rate <= 1.0
        if r.kappa is not None:
            assert -1.0 <= r.kappa <= 1.0


# ------------------------------------- MinHash estimator audit


def test_minhash_se_theory_covers_all_bands_including_exact_dup():
    rows = dict(LT._minhash_se_theory_rows())
    assert sorted(rows) == list(range(11))
    assert rows[10] == 0.0  # J=1: estimator deterministic
    import math

    j = 0.55
    assert rows[5] == round(math.sqrt(j * (1 - j) / LT.MINHASH_N), 6)


def test_minhash_estimator_tracks_exact_within_theory(spark):
    """The estimator audit's core claim: per decile, the mean
    signature-agreement estimate tracks mean exact Jaccard within a
    few theory standard errors (binomial noise shrinks with n_pairs,
    so the band tolerance is se * 4 / sqrt(n) + rounding slack)."""
    import math

    rows = LT.minhash_estimator_audit(spark, SF).collect()
    assert rows, "audit corpus must produce exact pairs"
    for r in rows:
        tol = 4.0 * r.theory_se / math.sqrt(r.n_pairs) + 0.02
        assert abs(r.mean_est - r.mean_exact) <= tol, (
            r.j_band, r.mean_est, r.mean_exact, tol
        )
        assert 0.0 <= r.mean_abs_err <= 0.25
